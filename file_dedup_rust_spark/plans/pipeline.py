"""The end-to-end dedup plan: one batch DAG replacing the reference's
per-file 7-step worker loop (/root/reference/backend/src/worker/
deduplication_service.rs:143-182).

    scan(clips)
      -> signatures (one mapInPandas pass; bytes dropped here)
      -> content dedup to representatives (exact star edges)
      -> LSH candidates (explode + capped self-equi-join)  x {minhash, simhash}
      -> exact verification (JVM expressions, threshold 0.8)
      -> containment (winnow buckets + per-bucket suffix array)
      -> union of edges -> connected components -> assignments/clusters

Scale decisions (each mirrors a SURVEY.md section 4 item):
  * near-dup search runs over UNIQUE content only — one representative
    per sha256 (audio) / per normalized transcript (text).  An m-copy
    exact group contributes m-1 star edges, never m^2 LSH pairs, and a
    boilerplate transcript shared by 1% of rows collapses to one rep
    before it can form a hot band.
  * posting-list buckets are capped (cfg.band_cap) and the dropped
    bucket stats land in the manifest — no silent truncation.
  * every stage checkpoints through TableIO with the config
    fingerprint; a killed run resumes at the first uncommitted stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_dedup_rust_spark.config import DedupConfig
from file_dedup_rust_spark.functions.udfs import (
    FRAMES_SIGNATURE_SCHEMA,
    SIGNATURE_SCHEMA,
    compute_signatures,
)
from file_dedup_rust_spark.operators import candidates as C
from file_dedup_rust_spark.operators import verify as V
from file_dedup_rust_spark.operators.connected_components import (
    cluster_summary,
    connected_components,
)
from file_dedup_rust_spark.operators.containment import containment_edges
from file_dedup_rust_spark.operators.exact import (
    exact_dup_edges,
    pcm_exact_edges,
    trim_exact_edges,
)
from file_dedup_rust_spark.sources.table_io import StageResult, TableIO

EDGE_COLS = ["a", "b", "kind", "sim"]


@dataclass
class PipelineResult:
    assignments: DataFrame
    clusters: DataFrame
    edges: DataFrame
    stages: list[StageResult] = field(default_factory=list)
    # checkpointed signatures table (quality gates, tier reports, and
    # other post-hoc consumers read it without re-decoding bytes)
    signatures: DataFrame | None = None


def exact_transcript_edges(signatures: DataFrame) -> DataFrame:
    """Star edges over identical normalized transcripts (Jaccard = 1
    by definition; linear, no LSH needed).  This is what keeps the
    'hot transcript' skew fixture clustered even though its LSH
    buckets would blow past any cap."""
    from pyspark.sql import Window

    w = Window.partitionBy("t_norm")
    return (
        signatures.filter(F.col("t_len") > 0)
        .select("clip_id", "t_norm")
        .withColumn("a", F.min("clip_id").over(w))
        .filter(F.col("clip_id") != F.col("a"))
        .select(
            "a",
            F.col("clip_id").alias("b"),
            F.lit("transcript").alias("kind"),
            F.lit(1.0).alias("sim"),
        )
    )


AUDIO_REP_COLS = [
    "clip_id", "pcm_sha", "trim_sha", "simhash", "sim_keys", "decode_ok",
]
TEXT_REP_COLS = ["clip_id", "minhash", "mh_bands", "fps", "t_norm", "t_len"]


def audio_reps(signatures: DataFrame) -> DataFrame:
    """One representative row per distinct sha256 (decodable only).

    min_by aggregation instead of a row_number window: hash aggregate
    with map-side partial combine, so an m-copy exact group sends ONE
    row per map partition through the shuffle instead of m sorted rows
    — the difference between linear and pathological on a 100 TB table
    where exact dup rates run 20-50%.  Columns pruned to what the
    audio LSH path consumes.

    Round 6 note: a slim-winner + clip_id-semi-join variant (payload
    never crossing the contraction exchange — the guide §8 shape) was
    implemented, verified row-identical, and REVERTED on measurement:
    alternating A/B at 50k clips showed it ~1.5 s slower steady-state
    and pathologically slow on first execution (102 s vs 22 s cold —
    the two-step plan defeats AQE's one-shot sizing of the contraction
    exchange).  The min_by payload shuffle is the measured winner."""
    s = signatures.filter(F.col("decode_ok")).select("sha256", *AUDIO_REP_COLS)
    return (
        s.groupBy("sha256")
        .agg(F.min_by(F.struct(*AUDIO_REP_COLS), "clip_id").alias("r"))
        .select("r.*")
    )


def text_reps(signatures: DataFrame) -> DataFrame:
    """One representative row per distinct normalized transcript
    (same min_by/pruning rationale as audio_reps)."""
    s = signatures.filter(F.col("t_len") > 0).select("t_norm", *TEXT_REP_COLS[:-2], "t_len")
    return (
        s.groupBy("t_norm")
        .agg(
            F.min_by(
                F.struct(*[c for c in TEXT_REP_COLS if c != "t_norm"]), "clip_id"
            ).alias("r")
        )
        .select("t_norm", "r.*")
    )


def build_edges(
    signatures: DataFrame,
    cfg: DedupConfig,
    treps: DataFrame | None = None,
    areps: DataFrame | None = None,
) -> DataFrame:
    """All verified dup edges from a signatures table (no checkpoints —
    the checkpointing variant is run_pipeline).

    The rep tables feed three branches each (posting explode, verify
    attach, containment/dropped-bucket accounting), so they are
    persisted — without it every union branch would recompute the
    dedup-to-representatives shuffle.  Callers that also need the reps
    AFTER the edge derivation (run_pipeline's dropped_buckets
    accounting re-counts the same posting lists) pass their own
    persisted `treps`/`areps` and own the cache lifecycle — measured
    at 2.56 M clips the rep recompute was most of a 59.6 s manifest
    stage."""
    sigs = signatures
    e_exact = exact_dup_edges(sigs)
    e_ttext = exact_transcript_edges(sigs)

    if treps is None:
        treps = text_reps(sigs).persist()
    if areps is None:
        areps = audio_reps(sigs).persist()

    mh_posting = C.explode_keys(treps, "mh_bands")
    mh_pairs = C.candidate_pairs(mh_posting, cfg.band_cap)
    e_trans = V.verify_minhash(mh_pairs, treps, cfg)

    # simhash rides the posting rows (8 bytes) and verifies in-bucket:
    # failed candidates never reach a shuffle (verify.py docstring)
    e_audio = V.simhash_edges_in_bucket(areps, cfg, cfg.band_cap)

    # codec-invariant exact audio over the reps (container-flip dups
    # the byte hash cannot see; no edges when every container is
    # unique, so this tier is free on flip-free corpora)
    e_pcm = pcm_exact_edges(areps)

    e_cont = containment_edges(treps, cfg)

    edges = (
        e_exact.unionByName(e_ttext)
        .unionByName(e_trans)
        .unionByName(e_audio)
        .unionByName(e_pcm)
        .unionByName(e_cont)
    )
    # silence-padding-invariant exact audio (opt-in: trim_sha is only
    # computed when cfg.trim_eps > 0, so the union would be empty —
    # and the extra groupBy pointless — with the tier off)
    if cfg.trim_eps:
        edges = edges.unionByName(trim_exact_edges(areps))
    return edges


# Tier ladder in increasing verify cost.  The two exact tiers are
# byte/PCM hash aggregations (linear); "transcript" covers the free
# identical-normalized-transcript star AND the MinHash-verified
# near-dups (the oracle labels both "transcript",
# file_dedup_rust_spark/oracle.py:84,107, so the edge schema keeps one
# label); "audio" is SimHash in-bucket verify; "containment" pays the
# suffix-array pass; "audio_containment" (opt-in tier — frame
# fingerprints ride the single decode pass since round 5) pays its
# own FFT framing inside that pass plus the frame-fingerprint join.
# "audio_speed" (opt-in — operators/speed_ladder.py) pays its own
# decode + (1+|grid|) feature passes and is approximate, so it sits
# last: a pair is attributed to it only when NO cheaper tier found it.
TIER_LADDER = [
    "exact", "pcm_exact", "trim_exact", "transcript", "audio",
    "containment", "audio_containment", "audio_speed",
]


def tier_report(edges: DataFrame) -> dict:
    """Per-tier yield over a (checkpointed) edges table.

    Returns {"edges_by_kind": {kind: n}, "marginal_pairs_by_tier":
    {kind: n}} — the second attributes each distinct undirected pair
    to the CHEAPEST tier that found it, i.e. the pairs a given tier
    contributes beyond every cheaper tier.  This is the pipeline-CLI
    analog of the oracle-checked `tier_dedup_summary` documents query
    (entry/testdata_queries.py) and answers the operational question
    "what would I lose by turning tier k off?".

    Cost: two hash aggregates over the edges table (bounded output —
    one row per tier), safe at any scale.
    """
    by_kind = {
        r["kind"]: r["n"]
        for r in edges.groupBy("kind").agg(F.count("*").alias("n")).collect()
    }
    unknown = set(by_kind) - set(TIER_LADDER)
    if unknown:
        raise ValueError(
            f"edge kinds not in TIER_LADDER: {sorted(unknown)} — extend "
            "the ladder before attributing marginal yield"
        )
    ladder = F.array(*[F.lit(k) for k in TIER_LADDER])
    # canonicalize direction before grouping: containment-style tiers
    # emit (contained, container) which may be id-DESCENDING, while the
    # star tiers emit id-ascending — the same undirected pair must land
    # on one key or it gets credited to two tiers
    marginal = (
        edges.withColumn("rk", F.array_position(ladder, F.col("kind")))
        .groupBy(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .agg(F.min("rk").alias("rk"))
        .groupBy("rk")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    marginal_by_tier = {
        TIER_LADDER[int(r["rk"]) - 1]: r["n"] for r in marginal
    }
    return {
        "edges_by_kind": by_kind,
        "marginal_pairs_by_tier": marginal_by_tier,
    }


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    cfg: DedupConfig,
    checkpoint_dir: str,
    resume: bool = True,
    stop_after: str | None = None,
    audio_containment: bool = False,
    speed_ladder: bool = False,
    input_token: str | None = None,
) -> PipelineResult | None:
    """Checkpointed end-to-end run.  `stop_after` kills the run after a
    named stage commits (resume tests); returns None in that case.

    `input_token` is an identity string for the INPUT (the CLI derives
    it from the source + row count); it folds into every stage
    fingerprint so re-running against the same checkpoint dir with a
    DIFFERENT input invalidates loudly instead of silently resuming
    the old corpus's results.  None (library callers that manage their
    own checkpoint dirs) keeps the config-only fingerprints.

    `audio_containment=True` adds the sub-clip tier
    (operators.audio_containment), FUSED into the single decode pass
    (round 5, VERDICT r4 item 4): compute_signatures emits the
    per-frame fingerprints as a frame_fps column alongside the
    signatures, so bytes are still read exactly ONCE — the tier's
    marginal cost is its own FFT framing inside that pass plus the
    posting join, not a second scan+decode.  Its edges are
    checkpointed as their own stage and union into CC.

    `speed_ladder=True` adds the speed-perturbation tier
    (operators.speed_ladder): sped re-uploads (0.95-1.05x resample,
    metadata unchanged) gain `audio_speed` edges and CO-CLUSTER with
    their originals.  Unlike the containment tier it cannot ride the
    signature pass (it needs 1+|grid| feature extractions per clip),
    so it costs its own opt-in bytes pass; sub-sp_min_s clips emit
    nothing (the gate)."""
    import hashlib

    io = TableIO(spark, checkpoint_dir)
    fp = cfg.fingerprint()
    if input_token is not None:
        fp += ":i" + hashlib.sha256(input_token.encode()).hexdigest()[:8]
    # stages downstream of the tier choice carry the flag in their
    # fingerprint: toggling --audio-containment against an existing
    # checkpoint dir must INVALIDATE assignments/clusters (their edge
    # set changed).  The signatures stage folds its OUTPUT SCHEMA into
    # the fingerprint (ADVICE r4: a pre-upgrade checkpoint written
    # under an older schema must invalidate loudly at the signatures
    # stage, not crash build_edges mid-pipeline on a missing column) —
    # this also means the fused frame_fps variant checkpoints
    # separately from the plain one.
    fp_down = fp + ("+ac" if audio_containment else "") + (
        "+sp" if speed_ladder else ""
    )
    fp_ac = fp + "+ac"
    fp_sp = fp + "+sp"
    sig_schema = FRAMES_SIGNATURE_SCHEMA if audio_containment else SIGNATURE_SCHEMA
    fp_sig = fp + "+s" + hashlib.sha256(sig_schema.encode()).hexdigest()[:8]
    stages: list[StageResult] = []

    def done(name: str) -> bool:
        return stop_after == name

    if cfg.seg_win_s:
        # segmentation pre-stage (opt-in): dedup runs at training-
        # window granularity.  Not checkpointed separately — it feeds
        # the signatures stage directly (checkpointing segments would
        # re-materialize every byte), and because seg_win_s/seg_stride_s
        # live in cfg, fp_sig invalidates the signatures checkpoint
        # whenever segmentation is toggled or retuned.  Quarantined
        # parents flow through as bytes-null rows and become the
        # signature pass's decode_ok=false quarantine rows.
        from file_dedup_rust_spark.operators.segment import segment_clips

        clips = segment_clips(
            clips, win_s=cfg.seg_win_s, stride_s=cfg.seg_stride_s
        ).select(
            "clip_id", "bytes", "sr_hz", "dur_ms", "codec",
            F.lit(None).cast("string").alias("transcript"),
        )

    sigs, r = io.stage(
        "signatures", fp_sig,
        lambda: compute_signatures(clips, cfg, with_frames=audio_containment),
        resume=resume,
    )
    stages.append(r)
    if done("signatures"):
        return None

    # rep tables are shared between the edges derivation and the
    # dropped-bucket accounting below — one contraction shuffle, two
    # consumers (lazy persist: a fully-resumed run never materializes
    # them)
    treps = text_reps(sigs).persist()
    areps = audio_reps(sigs).persist()

    edges, r = io.stage(
        "edges", fp,
        lambda: build_edges(sigs, cfg, treps=treps, areps=areps),
        parents=["signatures"],
        resume=resume,
    )
    stages.append(r)
    if done("edges"):
        return None

    if audio_containment:
        from file_dedup_rust_spark.operators.audio_containment import (
            audio_containment_edges,
            frames_from_signatures,
        )

        # fused path: the frame table explodes the frame_fps column of
        # the (checkpointed) signatures — no second bytes scan/decode.
        # persist it: audio_containment_edges reads it from four
        # subtrees (sizes, hash df, both join sides)
        frames = frames_from_signatures(sigs).persist()

        def build_ac() -> DataFrame:
            return audio_containment_edges(frames, cfg=cfg).select(*EDGE_COLS)

        ac_edges, r = io.stage("ac_edges", fp_ac, build_ac, resume=resume)
        stages.append(r)
        if done("ac_edges"):
            # stop_after contract: kill IMMEDIATELY after the named
            # stage commits — the drop accounting below runs on the
            # resumed continuation, not before the simulated kill
            frames.unpersist()
            return None
        # stop-hash drop accounting (manifest parity with the LSH
        # dropped_buckets stage — no silent truncation)
        from file_dedup_rust_spark.operators.audio_containment import (
            dropped_stop_hashes,
        )

        _, r = io.stage(
            "ac_dropped_hashes", fp_ac,
            lambda: dropped_stop_hashes(frames, cfg=cfg), resume=resume,
        )
        stages.append(r)
        frames.unpersist()
        edges = edges.unionByName(ac_edges)

    if speed_ladder:
        from file_dedup_rust_spark.operators.speed_ladder import (
            speed_edges,
            speed_hypothesis_rows,
            speed_ladder_dropped_buckets,
        )

        # own bytes pass (cannot fuse into the signature decode — the
        # tier is 1+|grid| feature extractions per clip); persisted
        # across the edge build and the drop accounting
        sp_rows = speed_hypothesis_rows(clips, cfg).persist()

        def build_sp() -> DataFrame:
            # full output incl. speed_ratio checkpoints; the union
            # below projects to EDGE_COLS
            return speed_edges(sp_rows, cfg)

        sp_edges_df, r = io.stage("sp_edges", fp_sp, build_sp, resume=resume)
        stages.append(r)
        if done("sp_edges"):
            sp_rows.unpersist()
            return None
        _, r = io.stage(
            "sp_dropped_buckets", fp_sp,
            lambda: speed_ladder_dropped_buckets(sp_rows, cfg),
            resume=resume,
        )
        stages.append(r)
        sp_rows.unpersist()
        edges = edges.unionByName(
            sp_edges_df.select(
                "a", "b", F.lit("audio_speed").alias("kind"), "sim"
            )
        )

    # dropped-bucket accounting (manifest metrics; SURVEY.md 7.3.2) —
    # reuses the persisted rep tables from the edges stage above
    def build_dropped() -> DataFrame:
        return (
            C.dropped_buckets(C.explode_keys(treps, "mh_bands"), cfg.band_cap)
            .withColumn("path", F.lit("minhash"))
            .unionByName(
                C.dropped_buckets(
                    C.explode_keys(areps, "sim_keys"), cfg.band_cap
                ).withColumn("path", F.lit("simhash"))
            )
            .unionByName(
                C.dropped_buckets(
                    C.explode_keys(treps, "fps"), cfg.band_cap
                ).withColumn("path", F.lit("winnow"))
            )
        )

    _, r = io.stage(
        "dropped_buckets", fp, build_dropped, parents=["signatures"],
        resume=resume,
    )
    stages.append(r)
    treps.unpersist()
    areps.unpersist()

    def build_assignments() -> DataFrame:
        verts = sigs.select("clip_id")
        return connected_components(edges.select("a", "b"), verts)

    assignments, r = io.stage(
        "assignments", fp_down, build_assignments, parents=["edges"],
        resume=resume,
    )
    stages.append(r)
    if done("assignments"):
        return None

    clusters, r = io.stage(
        "clusters",
        fp_down,
        lambda: cluster_summary(assignments, edges),
        parents=["assignments", "edges"],
        resume=resume,
    )
    stages.append(r)

    return PipelineResult(assignments, clusters, edges, stages, signatures=sigs)
