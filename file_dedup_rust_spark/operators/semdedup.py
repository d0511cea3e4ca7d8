"""SemDeDup-style embedding dedup: cluster-scope the O(n^2) cosine
search, then prune any vector whose similarity to a SMALLER-id member
of its own cluster clears a threshold.

Public recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication"): k-means the embedding
space, then compare pairs only WITHIN a cluster — with k ~ sqrt(n)
clusters the pairwise work drops from n^2 to ~n^1.5 and each cluster's
similarity matrix fits one task.  The reference repo has no semantic
tier at all (its ladder stops at hash + pgvector k-NN,
deduplication_service.rs:214-309); this operator is the missing
corpus-pruning stage a training-data pipeline runs after exact/LSH
tiers.

Determinism contract (the oracle surface): the coarse "centroids" are
the embeddings of the ``n_seeds`` smallest vec_ids — one assignment
step against fixed seeds, no iterative refinement — so a SQL oracle
can reproduce the assignment bit-for-bit.  The PRODUCTION centroid
path is wired too (VERDICT r4 item 7): pass ``centroids=`` a trained
codebook — operators.ann.train_codebook (bounded-sketch Lloyd, the
trainer `ivf_topk` uses) — and the same assignment kernel and
prune run against it (tests/test_semdedup.py compares prune sets at
equal k on the clustered fixture).  Only the seed path is the oracle
surface; every downstream shape is identical in both.

Scale shape:
  * assignment is ONE mapInPandas pass — an (n x d) @ (d x k) BLAS
    matmul per Arrow batch against a broadcast k-row seed matrix; no
    shuffle, no per-row Python.
  * the prune is ONE applyInPandas per cluster after a single
    repartition-by-cluster shuffle; each task computes its cluster's
    (m x m) gram matrix with one syrk-shaped matmul.  Cluster sizes
    are bounded by the k ~ sqrt(n) choice; a pathological mega-cluster
    (everything near one centroid) is the same hot-key problem as a
    hot LSH band and gets the same remedy — raise k, or salt the big
    cluster and union a cross-salt pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_dedup_rust_spark.functions.rounding import round_dd


def _seed_matrix(e: DataFrame, n_seeds: int) -> tuple[np.ndarray, np.ndarray]:
    """(seed_ids asc, row-normalized seed matrix).  The collect is
    BOUNDED by n_seeds — a centroid codebook is driver-sized by
    construction (same contract as operators.ann's codebook reads)."""
    rows = e.orderBy("vec_id").limit(n_seeds).collect()
    sid = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    S = np.array([r["embedding"] for r in rows], dtype=np.float64)
    S = S / np.linalg.norm(S, axis=1, keepdims=True)
    return sid, S


def assign_to_seeds(e: DataFrame, n_seeds: int) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, cluster_id): nearest-seed
    assignment by cosine, ties broken toward the smallest seed id.

    Ties are decided on round(sim, 4) so the argmax the oracle
    computes over ROUNDED sims (ORDER BY sim DESC, sid ASC) is the
    argmax this kernel computes: np.argmax returns the FIRST maximum
    and the seed axis is sorted by sid ascending."""
    sid, S = _seed_matrix(e, n_seeds)
    return _assign_kernel(e, sid, S)


def assign_to_centroids(e: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Production assignment: nearest row of a TRAINED centroid matrix
    (operators.ann.train_codebook / a persisted IVF codebook) by
    cosine; cluster_id is the centroid index.  Same kernel, same
    downstream shapes as the deterministic seed path."""
    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    return _assign_kernel(e, np.arange(len(C), dtype=np.int64), C)


def _assign_kernel(e: DataFrame, sid: np.ndarray, S: np.ndarray) -> DataFrame:
    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            V = V / np.linalg.norm(V, axis=1, keepdims=True)
            sims = np.round(V @ S.T, 4)
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cluster_id": sid[best],
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, cluster_id long"
    )


def semdedup_prune(
    e: DataFrame,
    n_seeds: int,
    threshold: float,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Per-vector prune verdict: (vec_id, cluster_id, max_sim_prev,
    pruned) where max_sim_prev is the vector's best cosine (rounded to
    4 decimals) against any smaller-id member of its cluster, -1.0
    when it has none, and pruned = 1 iff max_sim_prev >= threshold.

    ``centroids`` switches the coarse clustering to a trained codebook
    (production path; n_seeds is then ignored); default is the
    deterministic smallest-id seed contract the SQL oracle reproduces.

    round-then-max equals max-then-round (rounding is monotone), so
    the kernel takes the raw float64 max per row and rounds ONCE in a
    JVM F.round — Spark HALF_UP matches DuckDB round()'s
    half-away-from-zero on the oracle side."""
    assigned = (
        assign_to_centroids(e, centroids)
        if centroids is not None
        else assign_to_seeds(e, n_seeds)
    ).join(e, "vec_id")

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        G = V @ V.T
        # strict lower triangle: sims to smaller-id members only
        tri = np.tril(np.ones(len(V), dtype=bool), k=-1)
        G = np.where(tri, G, -np.inf)
        m = G.max(axis=1)
        # NaN marks "no smaller-id member" (a real cosine is never NaN
        # for the non-zero vectors this table carries, and never -inf,
        # so the sentinel cannot collide with a legitimate max)
        m = np.where(np.isfinite(m), m, np.nan)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "cluster_id": pdf["cluster_id"].to_numpy(dtype=np.int64),
                "raw_max": m,
            }
        )

    scored = assigned.groupBy("cluster_id").applyInPandas(
        prune, schema="vec_id long, cluster_id long, raw_max double"
    )
    # pandas->Arrow maps the NaN sentinel to null; guard both spellings
    sim = F.when(
        F.col("raw_max").isNull() | F.isnan("raw_max"), F.lit(-1.0)
    ).otherwise(round_dd("raw_max", 4))
    return scored.select(
        "vec_id",
        "cluster_id",
        sim.alias("max_sim_prev"),
        (sim >= F.lit(threshold)).cast("int").alias("pruned"),
    )
