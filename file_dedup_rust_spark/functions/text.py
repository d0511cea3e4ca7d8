"""Transcript featurization: char k-gram shingles -> MinHash -> bands,
plus winnowing fingerprints for substring containment.

These are the numpy kernels; file_dedup_rust_spark.functions.udfs wraps
them in Arrow-vectorized pandas UDFs, and file_dedup_rust_spark.oracle
calls them directly — both paths share bit-identical results.
"""

from __future__ import annotations

import numpy as np

from file_dedup_rust_spark.config import DedupConfig
from file_dedup_rust_spark.functions import hashing


def normalize_transcript(text: str | None) -> bytes:
    """Canonical byte form used for shingling: lowercase, collapsed
    whitespace, utf-8.  Kept deliberately minimal — the reference does
    no text normalization at all, but raw-byte shingles would treat
    trailing spaces as content."""
    if text is None:
        return b""
    return " ".join(text.lower().split()).encode("utf-8")


def transcript_shingles(text: str | None, cfg: DedupConfig) -> np.ndarray:
    """uint64 hashes of the char k-gram shingle set (with duplicates;
    minhash uniquifies)."""
    return hashing.kgram_hashes(normalize_transcript(text), cfg.shingle_k)


def transcript_minhash(text: str | None, cfg: DedupConfig) -> np.ndarray:
    """int64 (num_perm,) MinHash signature of the transcript."""
    a, b = hashing.minhash_params(cfg.minhash_seed, cfg.num_perm)
    return hashing.minhash_signature(transcript_shingles(text, cfg), a, b)


def minhash_bands(sig: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """int64 (lsh_bands,) band hashes of a signature."""
    return hashing.band_hashes(sig, cfg.lsh_bands, cfg.lsh_rows)


def jaccard(text_a: str | None, text_b: str | None, cfg: DedupConfig) -> float:
    """Exact shingle-set Jaccard (verification oracle for candidates)."""
    sa = set(np.unique(transcript_shingles(text_a, cfg)).tolist())
    sb = set(np.unique(transcript_shingles(text_b, cfg)).tolist())
    if not sa and not sb:
        return 0.0
    inter = len(sa & sb)
    union = len(sa | sb)
    return inter / union if union else 0.0


def transcript_fingerprints(text: str | None, cfg: DedupConfig) -> np.ndarray:
    """Winnowing fingerprints (uint64) for containment candidates."""
    return hashing.winnow_fingerprints(
        normalize_transcript(text), cfg.winnow_k, cfg.winnow_w
    )


# ---------------------------------------------------------------------------
# batch (cross-row vectorized) transcript featurization
#
# The per-row functions above are the semantic definition (and what the
# numpy oracle uses); the batch path below computes bit-identical
# results with ONE concatenated buffer per Arrow batch — one global
# k-gram hash pass per k, per-doc minima via ufunc.reduceat — instead
# of per-row numpy calls.  At the single-box memory-bandwidth ceiling
# the signature stage measured per-row dispatch + per-doc temporaries
# as real cost; this removes both.  Parity is pinned by
# tests/test_hashing.py::test_batch_transcript_parity.
# ---------------------------------------------------------------------------


def _concat_kgrams(norms: list[bytes], k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One k-gram hash pass over the concatenation of all docs.

    Returns (G, bnd, n_sh): G = compacted uint64 hashes of every doc's
    valid k-gram windows (doc-contiguous, windows never cross doc
    boundaries), bnd = each doc's start offset in G, n_sh = each doc's
    window count.  Window hashes are content-local (fixed per-position
    multipliers), so G's slices equal per-doc kgram_hashes exactly;
    the <= k-1 cross-boundary windows per doc are computed and dropped.
    """
    lens = np.array([len(b) for b in norms], dtype=np.int64)
    n_sh = np.maximum(lens - k + 1, 0)
    total = int(n_sh.sum())
    bnd = np.cumsum(n_sh) - n_sh
    if total == 0:
        return np.empty(0, dtype=np.uint64), bnd, n_sh
    starts = np.cumsum(lens) - lens
    H = hashing.kgram_hashes(b"".join(norms), k)
    doc_of = np.repeat(np.arange(len(norms)), n_sh)
    within = np.arange(total) - np.repeat(bnd, n_sh)
    return H[starts[doc_of] + within], bnd, n_sh


def _minhash_gather(
    G: np.ndarray, bnd: np.ndarray, n_sh: np.ndarray,
    a: np.ndarray, b: np.ndarray, perm_chunk: int = 8,
) -> np.ndarray:
    """Per-doc MinHash over compacted shingle hashes via padded gather:
    docs are stacked into a (docs, n_max) rectangle where each row
    repeats its LAST shingle as padding (min-invariant), so the lane
    minimum is one SIMD min(axis=-1) — NOT ufunc.reduceat, whose
    scalar inner loop measured 6x slower than the per-row path.
    Duplicate shingles within a doc don't affect a minimum, so
    skipping the per-doc np.unique of the scalar path changes nothing.
    Empty docs get the all -1 sentinel."""
    n = len(n_sh)
    num_perm = a.shape[0]
    out = np.full((n, num_perm), -1, dtype=np.int32)
    nonempty = n_sh > 0
    if not nonempty.any():
        return out
    ne_idx = np.flatnonzero(nonempty)
    counts = n_sh[ne_idx]
    n_max = int(counts.max())
    # idx[i, j] = bnd[i] + min(j, count_i - 1): valid positions then
    # the row's last shingle repeated
    j = np.arange(n_max)
    idx = bnd[ne_idx][:, None] + np.minimum(j[None, :], (counts - 1)[:, None])
    P = G[idx]  # (docs, n_max) uint64
    with np.errstate(over="ignore"):
        for lo in range(0, num_perm, perm_chunk):
            hi = min(lo + perm_chunk, num_perm)
            lanes = (
                a[lo:hi, None, None] * P[None, :, :] + b[lo:hi, None, None]
            ) >> np.uint64(1)
            mins = lanes.min(axis=2)  # (chunk, docs)
            out[ne_idx, lo:hi] = (mins >> np.uint64(33)).astype(np.int32).T
    return out


def _band_hashes_batch(sigs: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Vectorized band_hashes across all rows: (n, num_perm) int32 ->
    (n, bands) int64, identical per row to hashing.band_hashes."""
    n = sigs.shape[0]
    lanes = sigs.astype(np.uint64).reshape(n, bands, rows)
    mult = hashing.rng_u64(0xBA4D, rows)
    with np.errstate(over="ignore"):
        mixed = (lanes * mult[None, None, :]).sum(axis=2, dtype=np.uint64)
        mixed += hashing.splitmix64(
            np.arange(bands, dtype=np.uint64) + np.uint64(0xB00)
        )[None, :]
    return hashing.splitmix64(mixed).astype(np.int64)


def _winnow_batch(
    G: np.ndarray, bnd: np.ndarray, n_sh: np.ndarray, w: int
) -> list[np.ndarray]:
    """Per-doc winnowing over compacted k-gram hashes: the sliding
    window + rightmost-argmin runs ONCE globally; each doc then selects
    its valid window range (windows crossing into the next doc are
    skipped by the range bound, mirroring the per-doc guarantee)."""
    n = len(n_sh)
    fps: list[np.ndarray] = [np.empty(0, dtype=np.uint64)] * n
    long_docs = n_sh > w
    picked = None
    if long_docs.any() and G.size >= w:
        wins = np.lib.stride_tricks.sliding_window_view(G, w)
        rev = wins[:, ::-1]
        idx = (w - 1) - np.argmin(rev, axis=1)
        picked = wins[np.arange(wins.shape[0]), idx]
    for i in range(n):
        c = int(n_sh[i])
        if c == 0:
            continue
        p = int(bnd[i])
        if c <= w:
            fps[i] = np.unique(G[p : p + c].min(keepdims=True))
        else:
            fps[i] = np.unique(picked[p : p + c - w + 1])
    return fps


# Tuned under 32-way process parallelism (the deployment shape: one
# Python worker per core, shared memory bus): 16 KB doc groups with
# 8-permutation lane chunks measured 0.68 s/worker vs 1.51 s per-row
# and 2.17 s for 32 KB groups x 32-lane chunks — the intermediates
# must fit PER-CORE cache, not just L2 in isolation.
_GROUP_BYTES = 16_384


def batch_transcript_features(
    norms: list[bytes], cfg: DedupConfig
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """All transcript signatures for one Arrow batch, vectorized across
    rows.  norms = normalize_transcript per row.  Returns
    (minhash (n, num_perm) int32, mh_bands (n, lsh_bands) int64,
    fingerprints list of uint64 arrays) — bit-identical per row to
    transcript_minhash / minhash_bands / transcript_fingerprints.

    Docs are processed in ~32 KB byte groups: within a group the
    k-gram hash runs once over the concatenation and the MinHash is a
    padded-gather rectangle — big enough to amortize per-call overhead
    across dozens of docs, small enough that the intermediates stay
    cache-resident (a single whole-batch concatenation measured
    SLOWER than the per-row path: 50 MB window matrices blow the
    cache)."""
    a, b = hashing.minhash_params(cfg.minhash_seed, cfg.num_perm)
    n = len(norms)
    sigs = np.full((n, cfg.num_perm), -1, dtype=np.int32)
    fps: list[np.ndarray] = [np.empty(0, dtype=np.uint64)] * n
    lo = 0
    while lo < n:
        hi, acc = lo, 0
        while hi < n and (acc == 0 or acc + len(norms[hi]) <= _GROUP_BYTES):
            acc += len(norms[hi])
            hi += 1
        group = norms[lo:hi]
        G5, bnd5, n5 = _concat_kgrams(group, cfg.shingle_k)
        sigs[lo:hi] = _minhash_gather(G5, bnd5, n5, a, b)
        G16, bnd16, n16 = _concat_kgrams(group, cfg.winnow_k)
        fps[lo:hi] = _winnow_batch(G16, bnd16, n16, cfg.winnow_w)
        lo = hi
    bands = _band_hashes_batch(sigs, cfg.lsh_bands, cfg.lsh_rows)
    return sigs, bands, fps
