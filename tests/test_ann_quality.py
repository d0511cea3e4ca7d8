"""ANN quality gate: the IVF scale path must reproduce (almost all of)
the exact brute-force top-k (reference J2 semantics, OpenSearch
ef_search=100 HNSW — an approximate index with bounded per-probe work,
/root/reference/iac/opensearch_indexes.tf:8-14).

The synthetic testdata embeddings are near-isotropic (median pairwise
cosine ~0.0, true top-10 neighbours only ~0.3 — measured), which is the
WORST case for any cell-probing ANN; the fixed-k sampled-Lloyd codebook
with multi-assignment (operators/ann.py) still measures recall@10 =
0.997 (sf0.01) / 0.971 (sf0.1).  The gate asserts >= 0.9 at both scale
factors so regressions in codebook training, assignment, or per-cell
ranking fail loudly.
"""

from __future__ import annotations

import pytest


def _recall(spark, sf_dir: str) -> tuple[float, int, int]:
    from file_dedup_rust_spark.entry import testdata_queries as Q

    brute = {
        (r["vec_id"], r["neighbor_id"])
        for r in Q.q_knn_topk(spark, sf_dir).collect()
    }
    # the _iso twin IS the isotropic workload this gate is about; the
    # registry's q_ann_ivf_topk runs the planted clustered corpus where
    # output is exactly the brute-force top-k (oracle-checked by the
    # driver and by test_ivf_planted_clustered_is_exact below)
    ivf_rows = Q.q_ann_ivf_topk_iso(spark, sf_dir).collect()
    ivf = {(r["vec_id"], r["neighbor_id"]) for r in ivf_rows}
    assert brute, "brute-force top-k is empty"
    probes = {v for v, _ in ivf}
    return len(brute & ivf) / len(brute), len(ivf_rows), len(probes)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_ivf_recall_vs_brute(spark, sf_dir):
    recall, n_rows, n_probes = _recall(spark, sf_dir)
    assert recall >= 0.9, f"IVF recall@10 vs brute = {recall:.3f} at {sf_dir}"
    # every IVF probe still returns a full (or capped) neighbour list
    assert n_rows >= 5 * n_probes


def test_ivf_clustered_embeddings_hold_recall_at_low_nprobe(spark):
    """The tuning-note claim (operators/ann.py module docstring),
    measured: on clusterable embeddings (datagen.clustered_embeddings,
    the regime real model embeddings live in) IVF holds recall with an
    8x smaller probe budget than the isotropic worst case needs.
    Measured at n=8000/d=64/64 clusters: recall@10 = 1.000 at
    assign_m=4/nprobe=4 and 0.946 at 2/2, vs 0.453 and 0.229 on
    isotropic vectors at the same settings (full table in BENCH.md).
    Gate below the measured values with margin."""
    from file_dedup_rust_spark import datagen
    from file_dedup_rust_spark.operators.ann import (
        default_k,
        ivf_topk,
        knn_topk_blocked,
        train_codebook,
    )

    n = 8000
    e = datagen.clustered_embeddings(spark, n).select(
        "vec_id", "embedding"
    ).persist()
    try:
        brute = {
            (r.vec_id, r.neighbor_id)
            for r in knn_topk_blocked(e, top_k=10).collect()
        }
        assert brute
        cb = train_codebook(e, default_k(n))
        for (m, p, floor) in [(4, 4, 0.97), (2, 2, 0.9)]:
            ivf = {
                (r.vec_id, r.neighbor_id)
                for r in ivf_topk(
                    e, top_k=10, assign_m=m, nprobe=p, codebook=cb
                ).collect()
            }
            recall = len(brute & ivf) / len(brute)
            assert recall >= floor, (m, p, recall)
    finally:
        e.unpersist()


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_ivf_planted_clustered_is_exact(spark, sf_dir):
    """The driver-oracle regime (VERDICT r4 item 1): on the planted
    clustered corpus (entry.testdata_queries.ivf_corpus_planted —
    clusters of 11, in-cluster cosine ~0.9 vs cross <= ~0.55) both IVF
    variants must equal the exact brute-force top-k ROW FOR ROW (ids,
    4-decimal sims, ranks) — the in-engine twin of the DuckDB hash
    check the driver runs on SQL_ANN_IVF_TOPK."""
    from file_dedup_rust_spark.entry import testdata_queries as Q
    from file_dedup_rust_spark.operators.ann import knn_topk_blocked

    corpus = Q.ivf_corpus_planted(spark, sf_dir).persist()
    try:
        exact = sorted(
            tuple(r) for r in knn_topk_blocked(
                corpus, top_k=Q.TOP_K
            ).collect()
        )
        assert exact
        for fn in (Q.q_ann_ivf_topk, Q.q_ann_ivf_pq_topk):
            got = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
            assert got == exact, fn.__name__
    finally:
        corpus.unpersist()
