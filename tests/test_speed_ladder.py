"""Speed-ladder tier (operators/speed_ladder.py): planted
speed-perturbed re-uploads must match; unrelated clips must not.

The corpus here is >= 2 s burst-content clips (the tier's documented
regime — see the operator docstring for why sub-second clips are out
of scope): 12 tone bursts at random times/frequencies + white noise,
the same ingredient family as datagen's audio but long enough that the
16-segment time pooling is stable under a resample."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from file_dedup_rust_spark.config import DedupConfig
from file_dedup_rust_spark.functions import audio as A
from file_dedup_rust_spark.operators.speed_ladder import (
    speed_edges,
    speed_hypothesis_rows,
    speed_ladder_dropped_buckets,
)

CLIP_COLS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]


def _burst_clip(seed: int, sr: int, secs: float = 3.0) -> np.ndarray:
    r = np.random.default_rng(seed)
    n = int(sr * secs)
    t = np.arange(n) / sr
    x = np.zeros(n)
    for _ in range(12):
        f = r.uniform(120, 0.42 * sr)
        t0 = r.uniform(0, secs - 0.35)
        d = r.uniform(0.08, 0.3)
        seg = (t >= t0) & (t < t0 + d)
        x[seg] += np.sin(2 * np.pi * f * t[seg] + r.uniform(0, 6.3)) * (
            r.uniform(0.3, 1.0)
        )
    noise = r.standard_normal(n)
    x += noise * 0.15 * np.std(x) / np.std(noise)
    return (x / np.max(np.abs(x)) * 0.8).astype(np.float32)


def _row(clip_id: str, pcm: np.ndarray, sr: int) -> dict:
    return {
        "clip_id": clip_id,
        "bytes": A.encode_wav(pcm, sr),
        "sr_hz": sr,
        "dur_ms": int(1000 * pcm.size / sr),
        "codec": "wav",
        # unique per clip: the transcript tiers must stay out of the
        # way when these corpora drive pipeline-level tests
        "transcript": f"transcript of {clip_id} only",
    }


def _corpus(n_base: int = 24):
    """n_base unrelated clips + one sped re-upload each (resampled,
    metadata unchanged).  Returns (pandas corpus, wanted pair set,
    planted speed per pair)."""
    rows, want = [], set()
    speeds = [0.955, 1.045, 0.935, 1.065]
    for i in range(n_base):
        sr = 8000 if i % 2 else 16000
        pcm = _burst_clip(i, sr)
        cid = f"clip{i:03d}"
        rows.append(_row(cid, pcm, sr))
        r = speeds[i % 4]
        sped = A.resample_linear(pcm, sr, int(round(sr / r)))
        rows.append(_row(f"sp_{cid}", sped, sr))
        want.add((cid, f"sp_{cid}"))
    return pd.DataFrame(rows), want


def test_speed_ladder_recall_and_precision(spark):
    cfg = DedupConfig()
    corpus, want = _corpus(24)
    df = spark.createDataFrame(corpus[CLIP_COLS])
    rows = speed_hypothesis_rows(df, cfg)
    edges = speed_edges(rows, cfg).collect()
    got = {(r["a"], r["b"]) for r in edges}

    extra = got - want
    assert not extra, f"false speed edges: {extra}"
    found = len(got & want)
    # approximate tier: >= 90% of planted sped re-uploads at
    # r in [0.935, 1.065] must match (measured 22/24; the misses are
    # unlucky bit spreads at the grid edge, documented in the operator)
    assert found >= 21, f"recall {found}/24"
    for r in edges:
        assert r["sim"] >= 1.0 - cfg.sp_hamming_max / 64.0
        assert 0.93 <= r["speed_ratio"] <= 1.08


def test_speed_ladder_identity_simhash_matches_signature_pass(spark):
    """hyp=0 simhashes reproduce the signature pass bit-for-bit (same
    canonical chain, same planes) — the ladder's identity side is the
    same feature space the default audio tier verified against."""
    from file_dedup_rust_spark.functions.udfs import compute_signatures

    cfg = DedupConfig()
    corpus, _ = _corpus(6)
    df = spark.createDataFrame(corpus[CLIP_COLS])
    ladder = {
        r["clip_id"]: r["simhash"]
        for r in speed_hypothesis_rows(df, cfg)
        .filter(F.col("hyp") == 0)
        .collect()
    }
    sigs = {
        r["clip_id"]: r["simhash"]
        for r in compute_signatures(df, cfg).filter("decode_ok").collect()
    }
    assert ladder == sigs and len(sigs) == 12


def test_speed_ladder_quarantine_and_caps(spark):
    cfg = DedupConfig(sp_bucket_cap=5)
    corpus, _ = _corpus(4)
    bad = dict(corpus.iloc[0])
    bad["clip_id"] = "broken"
    bad["bytes"] = b"\x00\x01junk"
    hots = []
    for i in range(12):
        h = dict(corpus.iloc[1])
        h["clip_id"] = f"hot{i:02d}"
        hots.append(h)
    full = pd.concat(
        [corpus, pd.DataFrame([bad] + hots)], ignore_index=True
    )
    df = spark.createDataFrame(full[CLIP_COLS])
    rows = speed_hypothesis_rows(df, cfg)
    q = rows.filter(~F.col("decode_ok")).collect()
    assert [r["clip_id"] for r in q] == ["broken"]
    assert speed_ladder_dropped_buckets(rows, cfg).count() > 0


def test_pipeline_speed_ladder_tier_coclusters(spark, tmp_path):
    """speed_ladder=True in the checkpointed pipeline: sped re-uploads
    gain audio_speed edges and CO-CLUSTER with their originals; bases
    never merge with other bases; a rerun resumes the sp stages."""
    from file_dedup_rust_spark.datagen import CLIP_SCHEMA
    from file_dedup_rust_spark.plans.pipeline import run_pipeline

    cfg = DedupConfig()
    corpus, want = _corpus(8)
    clips = spark.createDataFrame(
        corpus[CLIP_COLS].to_dict("records"), CLIP_SCHEMA
    )
    res = run_pipeline(
        spark, clips, cfg, str(tmp_path / "ck"), speed_ladder=True
    )
    lbl = {
        r["clip_id"]: r["cluster_id"] for r in res.assignments.collect()
    }
    co = sum(1 for a, b in want if lbl[a] == lbl[b])
    assert co >= len(want) - 1, f"only {co}/{len(want)} pairs co-cluster"
    base_ids = [f"clip{i:03d}" for i in range(8)]
    base_labels = [lbl[c] for c in base_ids]
    assert len(set(base_labels)) == 8, "unrelated bases merged"
    kinds = {r["kind"] for r in res.edges.select("kind").distinct().collect()}
    assert "audio_speed" in kinds

    res2 = run_pipeline(
        spark, clips, cfg, str(tmp_path / "ck"), speed_ladder=True
    )
    assert all(s.skipped for s in res2.stages if s.name == "sp_edges")
