"""SemDeDup operator: cluster-scoped prune vs a numpy brute oracle,
plus the incremental new-vs-corpus tier's planted-verdict invariants.

The driver's DuckDB gate already pins both queries value-for-value at
sf0.01 (tools/check_entry.py); these tests pin the OPERATOR semantics
on constructed inputs where the expected answer is computable
independently.
"""

from __future__ import annotations

import numpy as np
import pytest

from file_dedup_rust_spark.operators.semdedup import (
    assign_to_seeds,
    semdedup_prune,
)

SF_SMALL = "/root/testdata/sf0.001"


def _vectors(n=160, d=32, dup_every=5, seed=11):
    """Isotropic unit vectors with a noisy near-copy planted after
    every `dup_every`-th vector (cosine ~0.9+)."""
    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, d))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    out = list(V)
    for i in range(0, n, dup_every):
        w = V[i] + 0.25 * rng.standard_normal(d)
        out.append(w / np.linalg.norm(w))
    M = np.stack(out)
    return M / np.linalg.norm(M, axis=1, keepdims=True)


def _numpy_oracle(M: np.ndarray, n_seeds: int, t: float):
    """Independent recompute of assignment + prune semantics."""
    S = M[:n_seeds]
    sims = np.round(M @ S.T, 4)
    cluster = sims.argmax(axis=1)  # first max == smallest seed id
    max_prev = np.full(len(M), -1.0)
    for b in range(len(M)):
        mates = [a for a in range(b) if cluster[a] == cluster[b]]
        if mates:
            max_prev[b] = round(float(max(M[a] @ M[b] for a in mates)), 4)
    return cluster, max_prev, (max_prev >= t).astype(int)


def test_semdedup_matches_numpy_oracle(spark):
    M = _vectors()
    t = 0.8
    df = spark.createDataFrame(
        [(i, M[i].tolist()) for i in range(len(M))],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cluster_id"], r["max_sim_prev"], r["pruned"])
        for r in semdedup_prune(df, 8, t).collect()
    }
    cluster, max_prev, pruned = _numpy_oracle(M, 8, t)
    assert len(got) == len(M)
    for i in range(len(M)):
        assert got[i][0] == cluster[i], f"cluster mismatch at {i}"
        assert got[i][1] == pytest.approx(max_prev[i], abs=2e-4)
        assert got[i][2] == pruned[i], f"prune verdict mismatch at {i}"


def test_semdedup_smallest_cluster_member_survives(spark):
    """The smallest-id member of every cluster has no smaller-id mate,
    so it must carry the -1 sentinel and never be pruned — the
    keep-one-representative guarantee."""
    M = _vectors(n=80, dup_every=4)
    df = spark.createDataFrame(
        [(i, M[i].tolist()) for i in range(len(M))],
        "vec_id long, embedding array<double>",
    )
    rows = semdedup_prune(df, 6, 0.5).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        head = min(members, key=lambda r: r["vec_id"])
        assert head["max_sim_prev"] == -1.0
        assert head["pruned"] == 0
    # planted near-dups land in their base's cluster and get pruned
    n_pruned = sum(r["pruned"] for r in rows)
    assert n_pruned > 0


def test_assignment_is_deterministic_across_partitionings(spark):
    M = _vectors(n=100)
    rows = [(i, M[i].tolist()) for i in range(len(M))]
    schema = "vec_id long, embedding array<double>"
    a1 = {
        (r["vec_id"], r["cluster_id"])
        for r in assign_to_seeds(
            spark.createDataFrame(rows, schema).repartition(7), 8
        ).collect()
    }
    a2 = {
        (r["vec_id"], r["cluster_id"])
        for r in assign_to_seeds(
            spark.createDataFrame(rows, schema).coalesce(1), 8
        ).collect()
    }
    assert a1 == a2


def test_semdedup_trained_centroid_path_agrees_at_equal_k(spark):
    """The production centroid path (VERDICT r4 item 7): on the
    clustered fixture with k = the true cluster count, the trained
    codebook (operators.ann.train_codebook — the same Lloyd trainer
    `ivf_topk` uses) and the deterministic
    smallest-id seeds must agree on WHICH vectors get pruned almost
    everywhere — on this fixture vec_ids 0..k-1 land one per true
    cluster, so both coarse clusterings recover the same structure.
    Cluster IDS differ by construction (seed vec_id vs centroid
    index); the prune SET is the operator's output contract."""
    from file_dedup_rust_spark import datagen
    from file_dedup_rust_spark.operators.ann import train_codebook
    from file_dedup_rust_spark.operators.semdedup import (
        assign_to_centroids,
    )

    k, n, t = 64, 1500, 0.5
    e = datagen.clustered_embeddings(spark, n).select(
        "vec_id", "embedding"
    ).persist()
    try:
        seeded = {
            r["vec_id"]: r["pruned"]
            for r in semdedup_prune(e, k, t).collect()
        }
        cb = train_codebook(e, k)
        trained = {
            r["vec_id"]: r["pruned"]
            for r in semdedup_prune(e, k, t, centroids=cb).collect()
        }
        assert len(seeded) == len(trained) == n
        ps, pt = (
            {v for v, p in seeded.items() if p},
            {v for v, p in trained.items() if p},
        )
        assert ps and pt
        jac = len(ps & pt) / len(ps | pt)
        assert jac >= 0.9, f"prune-set Jaccard {jac:.3f}"
        # centroid-path cluster ids are codebook indices
        cids = {
            r["cluster_id"]
            for r in assign_to_centroids(e, cb).collect()
        }
        assert cids <= set(range(k))
    finally:
        e.unpersist()


def test_new_vs_corpus_planted_verdicts(spark):
    """Every planted derivation lands at its intended tier: copies are
    'exact', reversed docs never match, and no new doc is lost."""
    from file_dedup_rust_spark.entry.testdata_queries import (
        EDIT_ID_OFFSET,
        EXACT_ID_OFFSET,
        SCRAM_ID_OFFSET,
        TRUNC_ID_OFFSET,
        q_dedup_new_vs_corpus,
        _new_batch,
    )

    rows = q_dedup_new_vs_corpus(spark, SF_SMALL).collect()
    n_new = _new_batch(spark, SF_SMALL).count()
    assert len(rows) == n_new
    verdicts = {r["doc_id"]: (r["verdict"], r["best_score"]) for r in rows}
    copies = [d for d in verdicts if EXACT_ID_OFFSET <= d < TRUNC_ID_OFFSET]
    truncs = [d for d in verdicts if TRUNC_ID_OFFSET <= d < EDIT_ID_OFFSET]
    edits = [d for d in verdicts if EDIT_ID_OFFSET <= d < SCRAM_ID_OFFSET]
    scrams = [d for d in verdicts if d >= SCRAM_ID_OFFSET]
    assert copies and truncs and edits and scrams
    # byte-identical copies are exact, score 1.0
    assert all(verdicts[d] == ("exact", 1.0) for d in copies)
    # word-reversed docs break every 3-gram: never exact/near/contained
    assert all(verdicts[d][0] == "unique" for d in scrams)
    # 60% prefixes of long docs are containment hits (shingle subset)
    long_truncs = [d for d in truncs if verdicts[d][0] != "unique"]
    assert long_truncs, "no truncation was caught — containment tier dead"
    assert all(
        verdicts[d][0] in ("contained", "near") for d in long_truncs
    )
    # sparse ~3% word edits keep jaccard high: most edits are 'near'
    near_edits = [d for d in edits if verdicts[d][0] == "near"]
    assert len(near_edits) >= len(edits) // 2
    for d in near_edits:
        assert 0.8 <= verdicts[d][1] <= 1.0
