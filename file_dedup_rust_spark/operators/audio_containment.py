"""Audio containment: detect a clip embedded inside a longer
recording (sub-clip / segment duplicates — re-posts with intro/outro,
excerpts of long recordings), the audio analog of the transcript
suffix-array containment tier.

Method: per-frame Haitsma-Kalker subfingerprints
(functions.audio.frame_fingerprints — 32-bit hash per STFT frame,
invariant to gain, local to the frame's samples) -> posting self-join
on the frame hash -> offset-consistency vote: a contained-in-b needs
MANY frame matches at ONE consistent offset, which random collisions
cannot produce.  The reference has no sub-clip detection at all (its
audio path is one embedding per whole file,
/root/reference/backend/src/worker/deduplicator.rs:25-56).

Scale shape:
  * the frame table is ~n_frames rows/clip (8 s at hop 256 / 16 kHz
    ~ 500) — linear in corpus seconds, exploded by mapInPandas with
    bytes pruned immediately;
  * the self-join shuffles ON THE FRAME HASH; stop-hashes (silence,
    codec artifacts — the skew killers) are dropped by a counted
    document-frequency cap BEFORE the join, so per-hash join work is
    bounded by max_df^2;
  * the offset vote is a hash aggregate (a, b, offset) with map-side
    combine; output is bounded by true near-pairs, never all-pairs.
Not SQL-expressible (FFT) -> pytest-gated with planted sub-clips,
like the SimHash audio tier (SURVEY.md §2.10).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_dedup_rust_spark.config import DedupConfig
from file_dedup_rust_spark.functions.audio import (
    FP_BANDS,
    decode_audio,
    frame_fingerprints,
)

# fallback when callers pass neither cfg nor explicit params (module
# import stays cheap — DedupConfig is a frozen dataclass of constants)
from file_dedup_rust_spark.config import DEFAULT_CONFIG as _DEFAULTS

FRAME_SCHEMA = "clip_id string, idx int, fhash long, decode_ok boolean"


def clip_frames(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(clip_id, bytes, sr_hz, codec, ...) -> exploded frame table
    (clip_id, idx, fhash, decode_ok).  One Arrow pass; bytes never
    leave it.  A clip whose decode fails is QUARANTINED, not vanished
    (VERDICT r4 item 5 — same convention as the signature path's
    decode_ok): it emits one marker row (idx=-1, decode_ok=false) that
    the join filters out but undecoded_clips() surfaces."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"clip_id": [], "idx": [], "fhash": [], "decode_ok": []}
            for row in pdf.itertuples(index=False):
                data = bytes(row.bytes) if row.bytes is not None else b""
                try:
                    pcm = decode_audio(data, row.codec)
                except Exception:
                    out["clip_id"].append(row.clip_id)
                    out["idx"].append(-1)
                    out["fhash"].append(0)
                    out["decode_ok"].append(False)
                    continue
                fps = frame_fingerprints(pcm, int(row.sr_hz), cfg, FP_BANDS)
                out["clip_id"].extend([row.clip_id] * len(fps))
                out["idx"].extend(range(len(fps)))
                out["fhash"].extend(int(h) for h in fps)
                out["decode_ok"].extend([True] * len(fps))
            yield pd.DataFrame(out)

    required = ("clip_id", "bytes", "sr_hz", "codec")
    missing = [c for c in required if c not in clips.columns]
    if missing:
        raise ValueError(
            f"clip_frames: clips table lacks required columns {missing}"
        )
    return clips.select(*required).mapInPandas(run, FRAME_SCHEMA)


def frames_from_signatures(sigs: DataFrame) -> DataFrame:
    """Fused-path frame table: explode the frame_fps column that
    compute_signatures(with_frames=True) emitted from the pipeline's
    single decode pass — the sub-clip tier then costs NO second bytes
    scan (VERDICT r4 item 4).  Values are identical to clip_frames
    (same frame_fingerprints call on the same decoded PCM); decode
    failures carry over as the same quarantine marker rows."""
    ok = (
        sigs.filter(F.col("decode_ok"))
        .select("clip_id", F.posexplode("frame_fps").alias("idx", "fhash"))
        .withColumn("decode_ok", F.lit(True))
    )
    bad = sigs.filter(~F.col("decode_ok")).select(
        "clip_id",
        F.lit(-1).alias("idx"),
        F.lit(0).cast("long").alias("fhash"),
        F.lit(False).alias("decode_ok"),
    )
    return ok.unionByName(bad)


def undecoded_clips(frames: DataFrame) -> DataFrame:
    """The quarantined clips (decode failed — marker rows).  Bounded
    by the failure count."""
    return frames.filter(~F.col("decode_ok")).select("clip_id")


def audio_containment_edges(
    frames: DataFrame,
    min_coverage: float | None = None,
    max_df: int | None = None,
    min_matches: int | None = None,
    post_cap: int | None = None,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """frames(clip_id, idx, fhash) -> edges(a, b, kind, sim) where
    clip `a`'s frames appear inside clip `b` at one consistent offset
    covering >= min_coverage of a's LIVE frames (and >= min_matches
    absolute, so a clip reduced to a couple of live frames cannot
    match on noise).

    max_df drops frame hashes present in more than that many clips
    before the join (stop-hash removal — silence and codec-constant
    frames would otherwise quadratically dominate), and post_cap
    drops hashes whose TOTAL posting rows exceed it (a hash repeated
    hundreds of times within few clips — looped tones — passes the
    df cap but still yields n_post^2 join work; together the caps
    bound per-hash work at min(max_df * frames_per_clip, post_cap)^2).
    The coverage denominator counts frames AFTER the caps — capped
    frames can never vote, so including them would make clips with
    >= 1 - min_coverage silence undetectable.  Drops are counted via
    dropped_stop_hashes (callers can surface them in manifests the
    way candidates.dropped_buckets is).

    Parameter defaults come from DedupConfig (ac_* fields — ADVICE r4:
    they participate in cfg.fingerprint(), so changing them invalidates
    checkpoints); explicit keyword arguments override for tests/tuning.
    """
    c = cfg if cfg is not None else _DEFAULTS
    min_coverage = c.ac_min_coverage if min_coverage is None else min_coverage
    max_df = c.ac_max_df if max_df is None else max_df
    min_matches = c.ac_min_matches if min_matches is None else min_matches
    post_cap = c.ac_post_cap if post_cap is None else post_cap
    if "decode_ok" in frames.columns:
        # quarantined marker rows (idx=-1) never reach the join
        frames = frames.filter(F.col("decode_ok")).drop("decode_ok")
    hash_df = frames.groupBy("fhash").agg(
        F.count_distinct("clip_id").alias("dfc"),
        F.count("*").alias("n_post"),
    )
    live = frames.join(
        hash_df.filter(
            (F.col("dfc") <= max_df) & (F.col("n_post") <= post_cap)
        ).select("fhash"),
        "fhash",
    )
    sizes = live.groupBy("clip_id").agg(F.count("*").alias("nf"))

    t1 = live.select(
        F.col("clip_id").alias("a"), F.col("idx").alias("ia"), "fhash"
    )
    t2 = live.select(
        F.col("clip_id").alias("b"), F.col("idx").alias("ib"), "fhash"
    )
    votes = (
        t1.join(t2, "fhash")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b", (F.col("ib") - F.col("ia")).alias("off"))
        .agg(F.count("*").alias("m"))
        .groupBy("a", "b")
        # struct max = lexicographic (m, off): highest vote count,
        # ties broken by highest offset — DETERMINISTIC, unlike
        # max_by which picks an arbitrary tied row per partition
        # order (a jingle repeated twice in one container ties)
        .agg(F.max(F.struct(F.col("m"), F.col("off"))).alias("s"))
        .select(
            "a", "b",
            F.col("s.m").alias("best"),
            # where the sub-clip sits in the container, in frames
            # (hop samples per frame) — "clip A starts at offset K"
            F.col("s.off").alias("best_off"),
        )
    )
    sa = sizes.select(F.col("clip_id").alias("a"), F.col("nf").alias("na"))
    sb = sizes.select(F.col("clip_id").alias("b"), F.col("nf").alias("nb"))
    return (
        votes.join(sa, "a")
        .join(sb, "b")
        .filter(F.col("best") >= min_coverage * F.col("na"))
        .filter(F.col("best") >= min_matches)
        # contained must be the shorter side; equal-length (mutual,
        # i.e. exact-duplicate audio) keeps the id-ordered direction
        .filter(
            (F.col("na") < F.col("nb"))
            | ((F.col("na") == F.col("nb")) & (F.col("a") < F.col("b")))
        )
        .select(
            "a",
            "b",
            F.lit("audio_containment").alias("kind"),
            F.round(F.col("best") / F.col("na"), 4).alias("sim"),
            F.col("best_off").alias("frame_offset"),
        )
    )


def audio_decontam_hits(
    corpus_frames: DataFrame,
    corpus_pcm: DataFrame,
    eval_frames: DataFrame,
    eval_pcm: DataFrame,
    min_coverage: float | None = None,
    max_df: int | None = None,
    min_matches: int | None = None,
    post_cap: int | None = None,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """AUDIO benchmark decontamination: flag corpus clips whose audio
    matches or overlaps an evaluation clip — training on a benchmark's
    recordings (verbatim, container-flipped, or excerpted into/out of
    a longer file) corrupts the eval exactly like text contamination,
    and the transcript-side decontaminate operator cannot see it when
    the transcripts differ.

    Inputs are the engine's standard per-clip artifacts so a pipeline
    reuses its one decode pass (compute_signatures with_frames=True
    yields both): `*_frames` = (clip_id, idx, fhash[, decode_ok])
    frame subfingerprints, `*_pcm` = (clip_id, pcm_sha).

    Tiers, mirroring the text operator's exact/fuzzy split:
      * `exact_audio` — codec-invariant decoded-PCM hash equality
        (catches verbatim and container-flipped copies);
      * `eval_in_clip` / `clip_in_eval` — Haitsma-Kalker frame
        posting join with offset-consistency vote (catches excerpts
        in either direction); a pair already exact-matched is not
        re-reported here.

    Scale shape: the eval side is tiny by assumption and BROADCAST —
    the corpus frame table streams through one BroadcastHashJoin on
    fhash and is never shuffled on it (same plan as the text
    decontam).  Stop hashes are removed by the corpus-side df/posting
    caps BEFORE the join (counted via dropped_stop_hashes); eval
    frames carrying a corpus-dropped hash leave the coverage
    denominator (capped frames can never vote — the batch tier's
    rule), while eval hashes simply ABSENT from the corpus still
    count as real misses.

    Returns (clip_id, eval_id, kind, sim, frame_offset); clean clips
    emit nothing."""
    c = cfg if cfg is not None else _DEFAULTS
    min_coverage = c.ac_min_coverage if min_coverage is None else min_coverage
    max_df = c.ac_max_df if max_df is None else max_df
    min_matches = c.ac_min_matches if min_matches is None else min_matches
    post_cap = c.ac_post_cap if post_cap is None else post_cap

    exact = (
        corpus_pcm.filter(F.col("pcm_sha") != "")
        .join(
            F.broadcast(
                eval_pcm.filter(F.col("pcm_sha") != "").select(
                    "pcm_sha", F.col("clip_id").alias("eval_id")
                )
            ),
            "pcm_sha",
        )
        .select(
            "clip_id",
            "eval_id",
            F.lit("exact_audio").alias("kind"),
            F.lit(1.0).alias("sim"),
            F.lit(0).cast("long").alias("frame_offset"),
        )
    )

    if "decode_ok" in corpus_frames.columns:
        corpus_frames = corpus_frames.filter(F.col("decode_ok")).drop(
            "decode_ok"
        )
    if "decode_ok" in eval_frames.columns:
        eval_frames = eval_frames.filter(F.col("decode_ok")).drop(
            "decode_ok"
        )
    census = corpus_frames.groupBy("fhash").agg(
        F.count_distinct("clip_id").alias("dfc"),
        F.count("*").alias("n_post"),
    )
    hot = census.filter(
        (F.col("dfc") > max_df) | (F.col("n_post") > post_cap)
    ).select("fhash")
    live = corpus_frames.join(F.broadcast(hot), "fhash", "left_anti")
    # eval side: corpus stop hashes leave the denominator; an
    # eval-internal loop (one hash repeated past the posting cap)
    # is capped the same way
    ev_census = eval_frames.groupBy("fhash").agg(F.count("*").alias("n"))
    ev_hot = ev_census.filter(F.col("n") > post_cap).select("fhash")
    ev_live = (
        eval_frames.join(F.broadcast(hot), "fhash", "left_anti")
        .join(F.broadcast(ev_hot), "fhash", "left_anti")
        .select(
            F.col("clip_id").alias("eval_id"),
            F.col("idx").alias("ei"),
            "fhash",
        )
    )

    nc = live.groupBy("clip_id").agg(F.count("*").alias("nc"))
    ne = ev_live.groupBy("eval_id").agg(F.count("*").alias("ne"))
    votes = (
        live.join(F.broadcast(ev_live), "fhash")
        .groupBy(
            "clip_id", "eval_id", (F.col("idx") - F.col("ei")).alias("off")
        )
        .agg(F.count("*").alias("m"))
        .groupBy("clip_id", "eval_id")
        .agg(F.max(F.struct(F.col("m"), F.col("off"))).alias("s"))
        .select(
            "clip_id", "eval_id",
            F.col("s.m").alias("best"), F.col("s.off").alias("off"),
        )
    )
    overlap = (
        votes.join(nc, "clip_id")
        .join(F.broadcast(ne), "eval_id")
        .withColumn("short", F.least("nc", "ne"))
        .filter(F.col("best") >= min_matches)
        .filter(F.col("best") >= min_coverage * F.col("short"))
        .select(
            "clip_id",
            "eval_id",
            F.when(F.col("ne") <= F.col("nc"), F.lit("eval_in_clip"))
            .otherwise(F.lit("clip_in_eval"))
            .alias("kind"),
            F.round(F.col("best") / F.col("short"), 4).alias("sim"),
            F.col("off").cast("long").alias("frame_offset"),
        )
        # exact pairs are reported once, by the stronger tier
        .join(exact.select("clip_id", "eval_id"), ["clip_id", "eval_id"],
              "left_anti")
    )
    return exact.unionByName(overlap)


def dropped_stop_hashes(
    frames: DataFrame,
    max_df: int | None = None,
    post_cap: int | None = None,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """Manifest accounting for the caps: the hashes the join never
    sees, with their clip and posting-row counts (mirrors
    candidates.dropped_buckets)."""
    c = cfg if cfg is not None else _DEFAULTS
    max_df = c.ac_max_df if max_df is None else max_df
    post_cap = c.ac_post_cap if post_cap is None else post_cap
    if "decode_ok" in frames.columns:
        frames = frames.filter(F.col("decode_ok")).drop("decode_ok")
    return (
        frames.groupBy("fhash")
        .agg(
            F.count_distinct("clip_id").alias("dfc"),
            F.count("*").alias("n_post"),
        )
        .filter((F.col("dfc") > max_df) | (F.col("n_post") > post_cap))
    )
