"""Seeded inputs of the workloads.  Everything here is a pure function of
(size, seed); the Spark-generated tables are cached under the source key
(harness.cached_dir) so later runs of the same code reuse them."""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# batch_dedup draws every input from one planted pool (datagen at the
# seed the CLI pins use), generated once per program source: the run
# seed picks BATCH_SHARE of the pool for the fresh pipeline and the 1%
# delete batch, and the drops out of the pool's reserved part
POOL_CLIPS = 2500
POOL_SEED = 42
BATCH_SHARE = 0.8
REMOVE_FRACTION = 0.01
# the stream corpus is the pool minus its reserved share, pre-ingested
# once; a run's drops are DROP_CLIPS reserved clips each, chosen by seed
RESERVED_SHARE = 0.25
DROP_SLOTS = 2
DROP_CLIPS = 250

# corpus_queries: the shapes of the sf0.1 documents/embeddings tables
N_DOCS = 5000
N_VECS = 2000
EMB_DIM = 64
DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_COPY_P = 0.03  # share of documents that re-use an earlier text, one word edited


def write_clips(spark, path: Path, n: int, seed: int, partitions: int) -> None:
    from file_dedup_rust_spark import datagen

    datagen.generate_clips(spark, n, seed=seed, partitions=partitions).write.parquet(
        str(path)
    )


def read_clips_pandas(path: Path) -> pd.DataFrame:
    return pq.read_table(str(path)).to_pandas()


def _unit(key: str) -> float:
    h = hashlib.blake2b(key.encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") / 2**64


def batch_ids(pool_ids, seed: int) -> list[str]:
    """The clips of the fresh pipeline run: a seeded BATCH_SHARE of the pool."""
    return sorted(c for c in pool_ids if _unit(f"b{seed}:{c}") < BATCH_SHARE)


def removal_ids(clip_ids, seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 0xDE1])
    k = max(1, int(round(REMOVE_FRACTION * len(clip_ids))))
    return sorted(rng.choice(sorted(clip_ids), size=k, replace=False).tolist())


def is_reserved(clip_id: str) -> bool:
    """Reserved clips are held out of the pre-ingested stream corpus
    (seed-independent, so the pre-ingested store is shared by seeds)."""
    return _unit(f"r:{clip_id}") < RESERVED_SHARE


def drop_slots(pool_ids, seed: int) -> dict[str, int]:
    """clip_id -> the drop it arrives in, for DROP_SLOTS seeded drops of
    DROP_CLIPS reserved clips each."""
    reserved = sorted(c for c in pool_ids if is_reserved(c))
    rng = np.random.default_rng([seed, 0xD20])
    order = rng.permutation(len(reserved))[: DROP_SLOTS * DROP_CLIPS]
    return {reserved[j]: i // DROP_CLIPS for i, j in enumerate(order)}


def write_documents(path: Path, seed: int) -> None:
    rng = np.random.default_rng([seed, 0xD0C])
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < NEAR_COPY_P:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = DOC_VOCAB[
                int(rng.integers(0, len(DOC_VOCAB)))
            ]
        else:
            n = int(rng.integers(10, 101))
            words = [DOC_VOCAB[j] for j in rng.integers(0, len(DOC_VOCAB), n)]
        texts.append(" ".join(words))
    ids = np.arange(N_DOCS, dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(table, str(path / "documents.parquet"))


def embedding_matrix(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 0xE4B])
    v = rng.standard_normal((N_VECS, EMB_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def write_embeddings(path: Path, seed: int) -> None:
    v = embedding_matrix(seed)
    rng = np.random.default_rng([seed, 0x1AB])
    table = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })
    pq.write_table(table, str(path / "embeddings.parquet"))
