"""Correctness checks computed apart from the program.

Every check takes plain pandas/numpy data (inputs, the program's outputs
read back from disk or collected) and returns a list of error strings;
an empty list means the check passed.  Nothing here calls into the
program's operators, and nothing compares against a stored copy of an
earlier output."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import numpy as np
import pandas as pd


def _first(errors: list[str], limit: int = 3) -> list[str]:
    return errors[:limit] + ([f"... {len(errors) - limit} more"] if len(errors) > limit else [])


def normalize(text) -> str:
    """The transcript normal form the tiers compare: lowercase, runs of
    whitespace collapsed."""
    return " ".join((text or "").lower().split())


class UnionFind:
    def __init__(self, ids) -> None:
        self.parent = {i: i for i in ids}

    def find(self, x):
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # the smaller id becomes the root, so the root is the min member
            if rb < ra:
                ra, rb = rb, ra
            self.parent[rb] = ra

    def labels(self) -> dict:
        return {i: self.find(i) for i in self.parent}


def min_member_labels(ids, pairs) -> dict:
    uf = UnionFind(ids)
    for a, b in pairs:
        uf.union(a, b)
    return uf.labels()


def label_map(assignments: pd.DataFrame, id_col: str = "clip_id") -> dict:
    return dict(zip(assignments[id_col], assignments["cluster_id"]))


# ------------------------------------------------------------ batch pipeline


def check_assignments(clip_ids, assignments: pd.DataFrame) -> list[str]:
    """Every input clip assigned exactly once; each cluster_id is the
    minimum member of its cluster."""
    errors = []
    counts = Counter(assignments["clip_id"])
    expected = set(clip_ids)
    missing = expected - set(counts)
    extra = set(counts) - expected
    dup = [c for c, n in counts.items() if n > 1]
    if missing:
        errors.append(f"{len(missing)} input clips unassigned, e.g. {sorted(missing)[:2]}")
    if extra:
        errors.append(f"{len(extra)} assigned ids not in the input")
    if dup:
        errors.append(f"{len(dup)} clips assigned more than once")
    mins = assignments.groupby("cluster_id")["clip_id"].min()
    bad = [c for c, m in mins.items() if c != m]
    if bad:
        errors.append(f"{len(bad)} cluster_ids are not their cluster's min member")
    return _first(errors)


def check_assignments_match_edges(clip_ids, assignments: pd.DataFrame,
                                  edges: pd.DataFrame) -> list[str]:
    """Assignments equal a union-find over the emitted edges."""
    want = min_member_labels(clip_ids, zip(edges["a"], edges["b"]))
    got = label_map(assignments)
    diff = [c for c in want if got.get(c) != want[c]]
    return [f"{len(diff)} clips labelled unlike the union-find over the edges, "
            f"e.g. {diff[0]}: {got.get(diff[0])} vs {want[diff[0]]}"] if diff else []


def clip_features(clips: pd.DataFrame) -> pd.DataFrame:
    """Per clip, from the input alone: sha256 of the bytes and the
    normalized transcript."""
    return pd.DataFrame({
        "clip_id": clips["clip_id"],
        "sha": [hashlib.sha256(b).hexdigest() for b in clips["bytes"]],
        "t": [normalize(t) for t in clips["transcript"]],
    }).set_index("clip_id")


def check_edges(edges: pd.DataFrame, feats: pd.DataFrame, sigs: pd.DataFrame,
                cfg) -> list[str]:
    """Every edge satisfies its tier's rule, recomputed here.  `feats`
    comes from clip_features (input side); `sigs` holds the program's
    per-clip minhash / simhash / pcm_sha, which the rules are about."""
    errors = []
    s = sigs.set_index("clip_id")
    for row in edges.itertuples(index=False):
        a, b, kind, sim = row.a, row.b, row.kind, float(row.sim)
        if kind == "exact":
            ok = feats.at[a, "sha"] == feats.at[b, "sha"]
        elif kind == "pcm_exact":
            ok = s.at[a, "pcm_sha"] == s.at[b, "pcm_sha"] and s.at[a, "pcm_sha"] is not None
        elif kind == "transcript":
            if feats.at[a, "t"] == feats.at[b, "t"]:
                ok = bool(feats.at[a, "t"]) and sim == 1.0
            else:
                agree = float(np.mean(np.asarray(s.at[a, "minhash"]) == np.asarray(s.at[b, "minhash"])))
                ok = abs(agree - sim) < 1e-9 and agree >= cfg.jaccard_threshold
        elif kind == "audio":
            d = bin((int(s.at[a, "simhash"]) ^ int(s.at[b, "simhash"])) & (2**64 - 1)).count("1")
            ok = d <= cfg.hamming_max and abs(sim - (1.0 - d / cfg.simhash_bits)) < 1e-9
        elif kind == "containment":
            ta, tb = feats.at[a, "t"], feats.at[b, "t"]
            short, long_ = (ta, tb) if len(ta) < len(tb) else (tb, ta)
            ok = (len(short.encode()) >= cfg.min_containment_len
                  and len(short) < len(long_) and short in long_)
        else:
            ok = False
        if not ok:
            errors.append(f"{kind} edge {a}-{b} (sim {sim}) breaks its rule")
    return _first(errors)


def check_cluster_sizes(clusters: pd.DataFrame, assignments: pd.DataFrame) -> list[str]:
    sizes = assignments.groupby("cluster_id").size()
    sizes = sizes[sizes > 1]
    got = dict(zip(clusters["cluster_id"], clusters["size"]))
    if set(got) != set(sizes.index):
        return [f"clusters table lists {len(got)} multi-member clusters, "
                f"assignments have {len(sizes)}"]
    bad = [c for c, n in sizes.items() if got[c] != n]
    return [f"{len(bad)} cluster sizes differ from member counts"] if bad else []


def planted_groups(plan: pd.DataFrame, truth: pd.DataFrame) -> dict:
    """clip_id -> planted group (min member of the closure of the
    planted duplicate pairs)."""
    return min_member_labels(plan["clip_id"], zip(truth["a"], truth["b"]))


def _pairs_within(labels: pd.Series) -> int:
    n = labels.value_counts().to_numpy()
    return int((n * (n - 1) // 2).sum())


def planted_scores(assignments: pd.DataFrame, truth: pd.DataFrame,
                   groups: dict) -> tuple[float, float]:
    """(recall, precision) of co-membership against the planted truth.

    recall: share of planted pairs whose ends share a cluster.
    precision: share of co-member pairs (every pair inside a cluster)
    whose ends belong to one planted group."""
    lbl = label_map(assignments)
    hit = sum(lbl[a] == lbl[b] for a, b in zip(truth["a"], truth["b"]))
    recall = hit / max(len(truth), 1)
    df = pd.DataFrame({"c": assignments["cluster_id"],
                       "g": assignments["clip_id"].map(groups)})
    predicted = _pairs_within(df["c"])
    true_pos = _pairs_within(df["c"] + "|" + df["g"])
    precision = true_pos / predicted if predicted else 1.0
    return recall, precision


def distractor_joins(plan: pd.DataFrame, assignments: pd.DataFrame) -> int:
    """Distractors (planted true negatives) clustered with their source,
    over the distractor/source pairs both present in `assignments`."""
    lbl = label_map(assignments)
    base = dict(zip(plan["idx"], plan["clip_id"]))
    d = plan[plan["role"] == "distractor"]
    return int(sum(
        lbl[c] == lbl[base[int(s)]]
        for c, s in zip(d["clip_id"], d["source"])
        if c in lbl and base[int(s)] in lbl
    ))


# ------------------------------------------------------------ repair


def check_repair(before: pd.DataFrame, after: pd.DataFrame, removed) -> list[str]:
    """No removed clip left; components that lost no member keep their
    labels; co-membership after the repair is a subset of before."""
    errors = []
    removed = set(removed)
    old = label_map(before)
    new = label_map(after)
    if len(after) != len(new):
        errors.append("a clip is assigned more than once after the repair")
    left = removed & set(new)
    if left:
        errors.append(f"{len(left)} removed clips still assigned")
    lost = set(old) - removed - set(new)
    if lost:
        errors.append(f"{len(lost)} surviving clips missing after the repair")
    hit = {old[c] for c in removed if c in old}
    moved = [c for c in new if c in old and old[c] not in hit and new[c] != old[c]]
    if moved:
        errors.append(f"{len(moved)} clips of untouched components changed label")
    origin: dict = defaultdict(set)
    for c, lab in new.items():
        if c in old:
            origin[lab].add(old[c])
    merged = [lab for lab, src in origin.items() if len(src) > 1]
    if merged:
        errors.append(f"{len(merged)} repaired clusters join clips that were apart")
    return _first(errors)


# ------------------------------------------------------------ stream


def check_stream_matches(matches: pd.DataFrame, arrived, sha: dict, simhash: dict,
                         hamming_max: int, bits: int) -> list[str]:
    """Cross-corpus matches name an arrived clip; exact matches agree on
    sha256 of the input bytes; audio matches meet the Hamming threshold
    on the stored simhashes."""
    errors = []
    arrived = set(arrived)
    cross = matches[matches["match_scope"] == "corpus"]
    stray = cross[~cross["clip_id"].isin(arrived)]
    if len(stray):
        errors.append(f"{len(stray)} cross-corpus matches name a clip that did not arrive")
    for r in matches[matches["match_kind"] == "exact"].itertuples(index=False):
        if sha.get(r.clip_id) is None or sha.get(r.clip_id) != sha.get(r.matched_clip_id):
            errors.append(f"exact match {r.clip_id}-{r.matched_clip_id} differs in sha256")
    for r in matches[matches["match_kind"] == "audio"].itertuples(index=False):
        d = bin((int(simhash[r.clip_id]) ^ int(simhash[r.matched_clip_id])) & (2**64 - 1)).count("1")
        if d > hamming_max or abs(float(r.sim) - (1.0 - d / bits)) > 1e-9:
            errors.append(f"audio match {r.clip_id}-{r.matched_clip_id} at Hamming {d}")
    return _first(errors)


def stream_recall(truth: pd.DataFrame, matches: pd.DataFrame, ingested, arrived) -> float:
    """Share of planted pairs with both ends ingested and at least one
    end arrived in a drop whose ends the matches connect."""
    ingested, arrived = set(ingested), set(arrived)
    t = truth[truth["a"].isin(ingested) & truth["b"].isin(ingested)
              & (truth["a"].isin(arrived) | truth["b"].isin(arrived))]
    lbl = min_member_labels(ingested, zip(matches["clip_id"], matches["matched_clip_id"]))
    hit = sum(lbl[a] == lbl[b] for a, b in zip(t["a"], t["b"]))
    return hit / max(len(t), 1)


# ------------------------------------------------------------ corpus queries


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return f"{float(v):.9g}"
    if isinstance(v, (np.integer,)):
        return str(int(v))
    return str(v)


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Equal column names and equal multisets of rows (floats to 9
    significant digits)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
    cols = sorted(want.columns)

    def rows(df):
        return Counter(tuple(_norm_cell(v) for v in r) for r in df[cols].itertuples(index=False))

    g, w = rows(got), rows(want)
    if g == w:
        return []
    return [f"{sum((g - w).values())} rows not in the oracle, "
            f"{sum((w - g).values())} oracle rows missing"]


def same_grouping(got: dict, want: dict) -> list[str]:
    """Both maps (id -> label) partition the same ids the same way."""
    if set(got) != set(want):
        return [f"{len(set(got) ^ set(want))} ids differ between the groupings"]
    pairs = {(got[i], want[i]) for i in got}
    g_labels = Counter(g for g, _ in pairs)
    w_labels = Counter(w for _, w in pairs)
    split = sum(1 for (g, w) in pairs if g_labels[g] > 1 or w_labels[w] > 1)
    return [f"{split} groups split or merged vs the oracle"] if split else []


def round_half_away(x: np.ndarray, digits: int) -> np.ndarray:
    """SQL ROUND on doubles: half away from zero."""
    m = 10.0 ** digits
    return np.sign(x) * np.floor(np.abs(x) * m + 0.5) / m


def knn_table(v: np.ndarray, k: int) -> pd.DataFrame:
    """Exact cosine top-k as the knn oracle SQL defines it: float32
    elements cast to double, sim rounded to 4 places (half away from
    zero), ranked by sim desc then neighbor id asc, self excluded."""
    x = v.astype(np.float64)
    n = np.sqrt((x * x).sum(axis=1))
    sim = round_half_away((x @ x.T) / np.outer(n, n), 4)
    np.fill_diagonal(sim, -np.inf)
    ids = np.arange(len(x))
    rows = []
    for i in range(len(x)):
        order = np.lexsort((ids, -sim[i]))[:k]
        rows.append(pd.DataFrame({"vec_id": i, "neighbor_id": order, "sim": sim[i, order],
                                  "rank": np.arange(1, len(order) + 1)}))
    return pd.concat(rows, ignore_index=True)


def topk_scores(pred: pd.DataFrame, truth: np.ndarray) -> tuple[float, float]:
    """(recall@k, precision@k) of (vec_id, neighbor_id) rows vs the exact
    top-k table (row i = vec_id i)."""
    want = {(i, int(j)) for i in range(truth.shape[0]) for j in truth[i]}
    got = set(zip(pred["vec_id"].astype(int), pred["neighbor_id"].astype(int)))
    hit = len(want & got)
    return hit / len(want), (hit / len(got) if got else 0.0)
