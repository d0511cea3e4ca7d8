"""The benchmark's own checks: each passes on a correct output and fails
on a corrupted one.  Pure pandas/numpy; no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import checks  # noqa: E402

CFG = SimpleNamespace(jaccard_threshold=0.8, hamming_max=8, simhash_bits=64,
                      min_containment_len=32)
IDS = [f"c{i}" for i in range(8)]
LONG = "alpha beta gamma delta epsilon zeta eta theta"


@pytest.fixture()
def batch():
    """8 clips: c0=c1 byte-exact, c2~c3 MinHash near, c4~c5 SimHash near,
    c6 contained in c7."""
    data = [b"x" * 10, b"x" * 10, b"a", b"b", b"c", b"d", b"e", b"f"]
    texts = ["one", "one", "p q r", "p q s", "u", "v", LONG, f"intro {LONG} outro"]
    clips = pd.DataFrame({"clip_id": IDS, "bytes": data, "transcript": texts})
    mh_near = np.arange(128)
    mh_near2 = mh_near.copy()
    mh_near2[:10] = -5  # 118 of 128 lanes agree
    sigs = pd.DataFrame({
        "clip_id": IDS,
        "minhash": [np.full(128, i) for i in range(2)] + [mh_near, mh_near2]
                   + [np.full(128, 100 + i) for i in range(4, 8)],
        "simhash": [0, 0, 1, 2, 0b1011, 0b1000, 7, 9],
        "pcm_sha": [f"p{i}" for i in range(8)],
    })
    edges = pd.DataFrame([
        ("c0", "c1", "exact", 1.0),
        ("c2", "c3", "transcript", 118 / 128),
        ("c4", "c5", "audio", 1 - 2 / 64),
        ("c6", "c7", "containment", 0.8),
    ], columns=["a", "b", "kind", "sim"])
    labels = checks.min_member_labels(IDS, zip(edges["a"], edges["b"]))
    asg = pd.DataFrame({"clip_id": list(labels), "cluster_id": list(labels.values())})
    return clips, sigs, edges, asg


def test_batch_checks_pass_on_correct_output(batch):
    clips, sigs, edges, asg = batch
    feats = checks.clip_features(clips)
    assert checks.check_assignments(IDS, asg) == []
    assert checks.check_assignments_match_edges(IDS, asg, edges) == []
    assert checks.check_edges(edges, feats, sigs, CFG) == []
    clusters = pd.DataFrame({"cluster_id": ["c0", "c2", "c4", "c6"], "size": [2] * 4})
    assert checks.check_cluster_sizes(clusters, asg) == []


def test_dropped_edge_fails(batch):
    _, _, edges, asg = batch
    assert checks.check_assignments_match_edges(IDS, asg, edges.iloc[1:])


def test_merged_clusters_fail(batch):
    _, _, edges, asg = batch
    merged = asg.assign(cluster_id=asg["cluster_id"].replace({"c2": "c0"}))
    assert checks.check_assignments_match_edges(IDS, merged, edges)
    # the repair check sees the merge as co-membership that did not exist
    assert checks.check_repair(asg, merged, removed=[])


def test_unassigned_or_relabelled_clip_fails(batch):
    _, _, _, asg = batch
    assert checks.check_assignments(IDS, asg.iloc[1:])
    assert checks.check_assignments(IDS, asg.assign(cluster_id=asg["clip_id"].replace({"c0": "c1"})))


@pytest.mark.parametrize("row, bad", [
    (0, {"b": "c2"}),                  # exact edge between different bytes
    (1, {"sim": 0.95}),                # sim is not the lane agreement
    (2, {"sim": 1.0}),                 # sim is not 1 - d/64
    (3, {"b": "c5"}),                  # not a substring
])
def test_broken_tier_rule_fails(batch, row, bad):
    clips, sigs, edges, _ = batch
    e = edges.copy()
    for k, v in bad.items():
        e.loc[row, k] = v
    assert checks.check_edges(e, checks.clip_features(clips), sigs, CFG)


def test_repair_checks():
    before = pd.DataFrame({"clip_id": ["a", "b", "c", "d", "e"],
                           "cluster_id": ["a", "a", "a", "d", "d"]})
    good = pd.DataFrame({"clip_id": ["b", "c", "d", "e"],
                         "cluster_id": ["b", "c", "d", "d"]})
    assert checks.check_repair(before, good, ["a"]) == []
    left = pd.concat([good, pd.DataFrame({"clip_id": ["a"], "cluster_id": ["a"]})])
    assert checks.check_repair(before, left, ["a"])
    relabelled = good.assign(cluster_id=["b", "c", "e", "e"])
    assert checks.check_repair(before, relabelled, ["a"])


def test_planted_scores():
    truth = pd.DataFrame({"a": ["a", "c"], "b": ["b", "d"]})
    groups = {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e"}
    asg = pd.DataFrame({"clip_id": list("abcde"), "cluster_id": list("aacce")})
    assert checks.planted_scores(asg, truth, groups) == (1.0, 1.0)
    split = asg.assign(cluster_id=list("abcce"))
    assert checks.planted_scores(split, truth, groups) == (0.5, 1.0)
    joined = asg.assign(cluster_id=list("aaaae"))
    assert checks.planted_scores(joined, truth, groups)[1] == pytest.approx(2 / 6)


def test_stream_match_with_wrong_sha_fails():
    sha = {"n1": "h1", "s1": "h1", "s2": "h2"}
    simhash = {"n1": 0, "s1": 0, "s2": 0b111}
    ok = pd.DataFrame({"clip_id": ["n1", "n1"], "matched_clip_id": ["s1", "s2"],
                       "match_kind": ["exact", "audio"], "sim": [1.0, 1 - 3 / 64],
                       "match_scope": ["corpus", "corpus"]})
    assert checks.check_stream_matches(ok, ["n1"], sha, simhash, 8, 64) == []
    wrong = ok.assign(matched_clip_id=["s2", "s2"])
    assert checks.check_stream_matches(wrong, ["n1"], sha, simhash, 8, 64)
    stray = ok.assign(clip_id=["s1", "n1"])
    assert checks.check_stream_matches(stray, ["n1"], sha, simhash, 8, 64)


def test_stream_recall():
    truth = pd.DataFrame({"a": ["n1", "s1"], "b": ["s1", "s2"]})
    m = pd.DataFrame({"clip_id": ["n1"], "matched_clip_id": ["s1"]})
    # s1-s2 touches no arrived clip; n1-s1 is found
    assert checks.stream_recall(truth, m, ["n1", "s1", "s2"], ["n1"]) == 1.0
    assert checks.stream_recall(truth, m.iloc[:0], ["n1", "s1", "s2"], ["n1"]) == 0.0


def _vectors(seed: int = 3, n: int = 40, d: int = 8) -> np.ndarray:
    v = np.random.default_rng(seed).standard_normal((n, d)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def test_swapped_knn_neighbour_fails():
    v = _vectors()
    want = checks.knn_table(v, 5)
    assert checks.same_rows(want.copy(), want) == []
    swapped = want.copy()
    i = swapped.index[(swapped["vec_id"] == 0) & (swapped["rank"] == 1)][0]
    outside = next(j for j in range(len(v)) if j not in set(want.loc[want.vec_id == 0, "neighbor_id"]) and j != 0)
    swapped.loc[i, "neighbor_id"] = outside
    assert checks.same_rows(swapped, want)


def test_knn_table_matches_brute_force_order():
    v = _vectors()
    t = checks.knn_table(v, 5)
    assert (t.groupby("vec_id")["sim"].apply(lambda s: s.is_monotonic_decreasing)).all()
    s = v.astype(np.float64) @ v.astype(np.float64).T
    np.fill_diagonal(s, -np.inf)
    brute = np.argsort(-s, axis=1, kind="stable")[:, :5]
    recall, precision = checks.topk_scores(t, brute)
    assert recall > 0.95 and precision > 0.95


def test_grouping_ignores_labels_but_not_partitions():
    want = {1: 1, 2: 1, 3: 3}
    assert checks.same_grouping({1: 9, 2: 9, 3: 7}, want) == []
    assert checks.same_grouping({1: 9, 2: 8, 3: 7}, want)
    assert checks.same_grouping({1: 9, 2: 9, 3: 9}, want)


def test_distractor_joins():
    plan = pd.DataFrame({"idx": [0, 1, 2], "clip_id": ["b0", "d1", "x2"],
                         "role": ["base", "distractor", "base"], "source": [-1, 0, -1]})
    apart = pd.DataFrame({"clip_id": ["b0", "d1", "x2"], "cluster_id": ["b0", "d1", "x2"]})
    joined = apart.assign(cluster_id=["b0", "b0", "x2"])
    assert checks.distractor_joins(plan, apart) == 0
    assert checks.distractor_joins(plan, joined) == 1


def test_clip_features_hash_the_input_bytes():
    f = checks.clip_features(pd.DataFrame({"clip_id": ["a"], "bytes": [b"xy"],
                                           "transcript": ["  Hello   World "]}))
    assert f.at["a", "sha"] == hashlib.sha256(b"xy").hexdigest()
    assert f.at["a", "t"] == "hello world"
