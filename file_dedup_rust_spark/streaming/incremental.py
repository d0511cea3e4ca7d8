"""Structured Streaming surface: incremental dedup of newly-arriving
clips.

The reference processes files one-at-a-time off a Redis queue
(/root/reference/backend/src/worker/job_queue.rs:59-78, worker loop
worker_process.rs:50-89) and probes each new file against the
already-indexed corpus (deduplication_service.rs:209-222, 300-372).
The streaming analog: `readStream` over the landing directory, the
same one-pass signature UDF, then per-micro-batch probes against the
accumulated signature store.  `trigger(availableNow=True)` gives the
drain-the-queue batch semantics; a continuous trigger gives the
always-on worker semantics — same code.

Two stateful surfaces are provided:

* `incremental_near_dedup` — foreachBatch: probe each micro-batch
  against the accumulated signature stores for every batch edge
  family, the exact sha256 probe (J1) included, emit match rows,
  append the batch to the stores.  The stores are plain parquet here;
  on a cluster they would be the Iceberg signatures table (MERGE
  INTO), same flow.
* `streaming_cluster_assign` — applyInPandasWithState: running
  cluster assignment keyed by sha256; state = first clip_id seen for
  the hash (the reference's create-or-join cluster step,
  deduplication_service.rs:374-433, made deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from file_dedup_rust_spark.config import DedupConfig
from file_dedup_rust_spark.datagen import CLIP_SCHEMA
from file_dedup_rust_spark.functions.udfs import compute_signatures
from file_dedup_rust_spark.operators.containment import (
    containment_edges,
    verify_oriented_pairs,
)

# ---------------------------------------------------------------------------
# accumulating store: idempotent batch-partition appends + compaction
#
# foreachBatch runs with at-least-once semantics — a crashed micro-batch
# is RE-RUN with the same batch_id.  Plain mode("append") writes would
# therefore duplicate both the emitted matches and the store rows (which
# then double every future probe).  Instead every write lands in a
# batch_id=N partition with dynamic partition overwrite: a retry
# overwrites its own partition and nothing else.  Unbounded growth of
# small per-batch partitions is handled by `compact_store`, which folds
# committed partitions into a `base` snapshot (read = base + partitions
# newer than the fold watermark) — the parquet-directory approximation
# of an Iceberg MERGE/snapshot commit, which is what replaces the
# directory-rename commit below on object stores.
# ---------------------------------------------------------------------------


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """FileSystem-API existence check — works for hdfs:///s3a://, not
    just the driver-local filesystem (unlike os.path.exists)."""
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def store_write(df: DataFrame, store_path: str, batch_id: int) -> None:
    """Idempotently append one micro-batch to a store: the rows land in
    `{store_path}/inc/batch_id={batch_id}/`, and a foreachBatch retry
    overwrites exactly that partition (dynamic partition overwrite).

    A micro-batch with zero rows writes nothing: an empty dynamic
    overwrite would create the inc directory with no parquet files
    (unreadable — schema inference fails), and a retry of the same
    batch recomputes the same deterministic empty result, so skipping
    preserves idempotence."""
    if df.isEmpty():
        return
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{store_path}/inc")
    )


# -- base-snapshot pointer protocol -----------------------------------------
#
# Compaction commits by POINTER CREATION, not directory swap.  Every
# compaction writes a fresh immutable snapshot dir `base_v{N}/` and then
# creates `ptr/v{N}.json` (write hidden temp file, rename to its final
# fresh name — atomic on local/HDFS because the destination never
# exists).  Readers resolve the HIGHEST pointer version; a crash at any
# instant leaves either the old pointer set (old snapshot fully intact)
# or the new pointer fully created (new snapshot fully intact) — there
# is no state in which no base is visible, unlike a rename(base->old);
# rename(tmp->base) swap, whose mid-point loses the base and silently
# re-bases the store on surviving inc partitions (ADVICE r2).  Stale
# snapshots/pointers are deleted lazily AFTER the new pointer exists;
# a crash mid-cleanup only leaves garbage, never wrong reads.  On
# object stores this whole protocol is what an Iceberg snapshot commit
# replaces (TableIO carries the catalog branch).


def _read_pointer(spark: SparkSession, store_path: str) -> dict | None:
    """Highest-version base pointer, or None if never compacted."""
    import json

    ptr_dir = f"{store_path}/ptr"
    if not _fs_exists(spark, ptr_dir):
        return None
    fs, jdir = _hadoop_fs(spark, ptr_dir)
    best, best_v = None, -1
    for st in fs.listStatus(jdir):
        name = str(st.getPath().getName())
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        try:
            v = int(name[1:-len(".json")])
        except ValueError:
            continue
        if v > best_v:
            best, best_v = st.getPath(), v
    if best is None:
        return None
    stream = fs.open(best)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    meta = json.loads(raw)
    meta["version"] = best_v
    return meta


def _write_pointer(
    spark: SparkSession, store_path: str, version: int, max_folded: int
) -> None:
    import json

    fs, _ = _hadoop_fs(spark, store_path)
    jP = spark._jvm.org.apache.hadoop.fs.Path
    ptr_dir = f"{store_path}/ptr"
    fs.mkdirs(jP(ptr_dir))
    tmp = jP(f"{ptr_dir}/.v{version}.json.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(
            {"max_folded": int(max_folded)}
        ).encode("utf-8")))
    finally:
        out.close()
    # fresh destination name -> plain atomic rename, never a swap
    fs.rename(tmp, jP(f"{ptr_dir}/v{version}.json"))


def _folded_watermark(spark: SparkSession, store_path: str) -> int:
    meta = _read_pointer(spark, store_path)
    return int(meta["max_folded"]) if meta else -1


def _inc_has_data(spark: SparkSession, inc: str) -> bool:
    """True iff the inc directory contains at least one data file (an
    all-empty-writes store has partition dirs but nothing readable)."""
    fs, jdir = _hadoop_fs(spark, inc)
    it = fs.listFiles(jdir, True)
    while it.hasNext():
        name = str(it.next().getPath().getName())
        if not name.startswith((".", "_")):
            return True
    return False


def read_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """Current store contents: the pointed-to base snapshot plus every
    inc partition newer than the fold watermark.  None if the store
    does not exist yet (or has only empty writes)."""
    inc = f"{store_path}/inc"
    meta = _read_pointer(spark, store_path)
    has_inc = _fs_exists(spark, inc) and _inc_has_data(spark, inc)
    if not has_inc and meta is None:
        return None
    parts = []
    watermark = int(meta["max_folded"]) if meta else -1
    if meta is not None:
        parts.append(
            spark.read.parquet(f"{store_path}/base_v{meta['version']}/data")
        )
    if has_inc:
        parts.append(
            spark.read.parquet(inc)
            .filter(F.col("batch_id") > watermark)
            .drop("batch_id")
        )
    df = parts[0]
    for p in parts[1:]:
        # allowMissingColumns: a store upgraded mid-stream (e.g. the
        # sigs store gaining trim_sha) holds a pre-upgrade base
        # snapshot beside post-upgrade inc partitions; old rows read
        # the new column as NULL, which every probe's non-empty /
        # equality filter already excludes — the alternative (strict
        # union) would fail the streaming query permanently on the
        # first post-upgrade batch
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def compact_store(spark: SparkSession, store_path: str, upto_batch: int) -> None:
    """Fold inc partitions with batch_id <= upto_batch into a NEW base
    snapshot, committed by pointer creation (protocol above).  Safe to
    call from inside process_batch(k) with upto_batch = k-1: those
    batches are committed (batch k only starts after k-1's foreachBatch
    completed) so they can never be retried."""
    inc = f"{store_path}/inc"
    if not _fs_exists(spark, inc):
        return
    meta = _read_pointer(spark, store_path)
    watermark = int(meta["max_folded"]) if meta else -1
    old_version = meta["version"] if meta else -1
    fs, _ = _hadoop_fs(spark, inc)
    jP = spark._jvm.org.apache.hadoop.fs.Path
    fold_ids = [
        int(str(st.getPath().getName()).split("=")[1])
        for st in fs.listStatus(jP(inc))
        if str(st.getPath().getName()).startswith("batch_id=")
    ]
    fold_ids = [i for i in fold_ids if watermark < i <= upto_batch]
    if not fold_ids or not _inc_has_data(spark, inc):
        return
    to_fold = (
        spark.read.parquet(inc)
        .filter(
            (F.col("batch_id") > watermark) & (F.col("batch_id") <= upto_batch)
        )
        .drop("batch_id")
    )
    new_rows = to_fold
    if meta is not None:
        new_rows = spark.read.parquet(
            f"{store_path}/base_v{old_version}/data"
        ).unionByName(to_fold)
    new_version = old_version + 1
    snap = f"{store_path}/base_v{new_version}"
    fs.delete(jP(snap), True)  # a crashed prior attempt; not yet pointed to
    new_rows.write.mode("overwrite").parquet(f"{snap}/data")
    _write_pointer(spark, store_path, new_version, upto_batch)  # COMMIT
    # lazy cleanup — reads already resolve the new pointer
    for i in fold_ids:
        fs.delete(jP(f"{inc}/batch_id={i}"), True)
    if old_version >= 0:
        fs.delete(jP(f"{store_path}/base_v{old_version}"), True)
        fs.delete(jP(f"{store_path}/ptr/v{old_version}.json"), False)


def read_clip_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Streaming scan of the landing directory (schema per
    BASELINE.json input_hint; maxFilesPerTrigger bounds micro-batch
    size so one giant drop can't OOM an executor)."""
    return (
        spark.readStream.schema(CLIP_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(landing_dir)
    )


def incremental_near_dedup(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
    available_now: bool = True,
    compact_every: int = 16,
    audio_containment: bool = False,
):
    """Incremental exact + NEAR dedup — the streaming analog of the
    reference's full per-file flow: hash probe (J1), store the
    signature in the index (S5), then similarity-search the index (J2)
    — batched per micro-batch instead of per file.

    Five accumulating stores (all batch_id-partitioned + compacted,
    see the store-layer docstring above):
      * ``{store_dir}/sigs``       — one row per clip (sha256, pcm_sha,
        trim_sha, simhash, minhash, t_norm, t_len) — the verification
        side-table
      * ``{store_dir}/posting``    — the audio LSH index: exploded
        (key, clip_id, simhash) band-posting rows (the OpenSearch-index
        analog, deduplication_service.rs:256-298)
      * ``{store_dir}/mh_posting`` — the transcript MinHash LSH index:
        slim (key, clip_id) band rows; the 1 KB MinHash signature does
        NOT ride the posting rows (x32 band amplification) — verify
        joins it from the sigs store, the batch path's shape
        (plans/pipeline.py verify_minhash)
      * ``{store_dir}/fp_posting`` — the winnowing-fingerprint index:
        (key, clip_id) rows, EVERY fingerprint per stored clip — the
        container side of the substring-containment probe
      * ``{store_dir}/quality_flags`` — ingest-time audio quality
        gates (operators/audio_quality.py, identical thresholds to the
        batch ``--quality-report``): (clip_id, flags) for every
        NON-passing arriving clip — silent / clipped / too-quiet /
        dc-bias / undecodable / meta-mismatch; the metrics ride the same signature
        decode pass, a clean batch writes nothing
      * ``{store_dir}/transcript_conflicts`` — ingest-time
        same-audio / different-transcript detections
        (audio_quality.transcript_conflicts semantics): (clip_id,
        matched_clip_id, pcm_sha) rows whenever an arriving clip's
        codec-invariant pcm hash matches a batch or stored clip whose
        NORMALIZED transcript differs; conflict-free traffic writes
        nothing
      * ``{store_dir}/fp_pat``     — ONE designated fingerprint per
        stored pattern-eligible clip (its rarest within-arrival-batch
        fp).  Winnowing self-consistency makes a single-fp probe a
        COMPLETE candidate generator in either direction: a true
        container shares ALL of the pattern's fingerprints, so it
        shares the designated one (operators/containment.py min-df
        note) — the store never needs re-keying as df drifts.

    Each micro-batch probes all SIX batch edge families against the
    stores plus itself — exact sha256 (J1), codec-invariant exact
    audio (pcm_exact: a container-flipped re-upload matches at ingest,
    probed over per-sha256 batch reps so it is free on flip-free
    batches — round 5, ADVICE r4), exact transcript (t_norm),
    MinHash-verified transcript near-dups, SimHash audio near-dups
    (J2), and substring containment (both arrival orders: the batch
    pattern's rarest surviving store-fp probes ``fp_posting``, and
    ``fp_pat``'s designated keys probe the batch's fingerprints) —
    full modality parity with the batch pipeline's default tiers
    (plans/pipeline.py build_edges).  When ``cfg.trim_eps`` is set the
    opt-in silence-pad-invariant tier probes at ingest too
    (trim_exact, mirroring operators.exact.trim_exact_edges): per-
    pcm_sha batch reps star within the batch and join the store on
    trim_sha where the decoded-PCM hash differs, so a padded re-upload
    matches at ingest; with the tier off trim_sha is empty and both
    probes are no-ops.  With ``audio_containment=True``
    the opt-in sub-clip tier probes at ingest too (seventh family,
    round 5): the frame subfingerprints ride the SAME signature decode
    pass (with_frames — no second bytes scan, exactly the fused batch
    tier), a sixth store ``{store_dir}/ac_posting`` accumulates
    (fhash, clip_id, idx) frame postings, the within-batch probe is
    the batch operator itself, and the cross probe joins batch frames
    to the store on the frame hash with the offset-consistency vote,
    coverage measured against the SHORTER side's surviving frames
    (audio_containment_edges semantics; store-hot hashes df/post-
    capped and counted in ``ac_posting_dropped``).  Match rows write
    idempotently to ``out_dir``; then the batch appends to all stores.
    Emits (clip_id, matched_clip_id, match_kind in {exact, pcm_exact,
    trim_exact, transcript, audio, containment, audio_containment}, sim,
    match_scope in {batch, corpus}); ``clip_id`` is always the
    arriving clip on cross-corpus rows.

    Hot-key defense (VERDICT r3): every probe against an ACCUMULATED
    posting store is capped the same way the batch path caps its
    posting join (operators.candidates.bucket_stats) — store keys with
    more than ``cfg.band_cap`` members are excluded from the join via
    the slim per-key counts (map-side combine; a hot key never
    materializes its members into one task) and recorded as
    (key, n) rows in ``{store_dir}/{index}_dropped`` so nothing is
    silently truncated.  Without this, a stop-band key with m store
    members does m * p pair work in a single task at EVERY batch, the
    skew straggler the batch engine defuses.  Matches on keys at or
    below the cap are unchanged (tests/test_streaming.py pins both).
    """
    cfg = cfg or DedupConfig()
    clips = read_clip_stream(spark, landing_dir)
    sigs = compute_signatures(
        clips, cfg, with_frames=audio_containment
    ).select(
        "clip_id", "sha256", "pcm_sha", "trim_sha", "simhash", "sim_keys",
        "decode_ok", "minhash", "mh_bands", "fps", "t_norm", "t_len",
        # quality-gate inputs ride the same decode pass (batch parity:
        # run_pipeline --quality-report); flagged clips are recorded
        # per batch in {store_dir}/quality_flags at ingest
        "pcm_rms", "clip_ratio", "silence_ratio", "dc_offset", "rolloff",
        "n_samples", "sr_hz", "dur_ms",
        *(("frame_fps",) if audio_containment else ()),
    )
    d_max = cfg.hamming_max
    bits = float(cfg.simhash_bits)
    n_perm = float(cfg.num_perm)
    jaccard_t = cfg.jaccard_threshold

    def hamming_matches(probe, index):
        d = F.bit_count(F.col("p.simhash").bitwiseXOR(F.col("i.simhash")))
        return (
            probe.alias("p")
            .join(index.alias("i"), "key")
            .filter(F.col("p.clip_id") != F.col("i.clip_id"))
            .filter(d <= d_max)
            .select(
                F.col("p.clip_id").alias("clip_id"),
                F.col("i.clip_id").alias("matched_clip_id"),
                F.lit("audio").alias("match_kind"),
                (F.lit(1.0) - d / F.lit(bits)).alias("sim"),
            )
            .distinct()
        )

    def verify_mh(cand: DataFrame, probe_sigs: DataFrame,
                  index_sigs: DataFrame) -> DataFrame:
        """(clip_id, matched_clip_id) candidates -> verified transcript
        matches: attach each side's MinHash from its signature table
        (batch side / sigs store), keep lane agreement >= threshold —
        the batch path's verify_minhash shape, never shipping the 1 KB
        signature through the posting explode."""
        pa = probe_sigs.select("clip_id", F.col("minhash").alias("mh_a"))
        pb = index_sigs.select(
            F.col("clip_id").alias("matched_clip_id"),
            F.col("minhash").alias("mh_b"),
        )
        agree = F.size(
            F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y),
                     lambda v: v)
        )
        return (
            cand.join(pa, "clip_id").join(pb, "matched_clip_id")
            # empty-transcript signatures are all -1 sentinels
            .filter(
                (F.element_at("mh_a", 1) >= 0) & (F.element_at("mh_b", 1) >= 0)
            )
            .withColumn("sim", agree / F.lit(n_perm))
            .filter(F.col("sim") >= F.lit(jaccard_t))
            .select(
                "clip_id", "matched_clip_id",
                F.lit("transcript").alias("match_kind"), "sim",
            )
        )

    def star_intra(rows: DataFrame, group_col: str, kind: str) -> DataFrame:
        """Within-batch exact dups: star to the batch-min clip_id per
        identical group value."""
        from pyspark.sql import Window

        w = Window.partitionBy(group_col)
        return (
            rows.withColumn("rep", F.min("clip_id").over(w))
            .filter(F.col("clip_id") != F.col("rep"))
            .select(
                "clip_id",
                F.col("rep").alias("matched_clip_id"),
                F.lit(kind).alias("match_kind"),
                F.lit(1.0).alias("sim"),
                F.lit("batch").alias("match_scope"),
            )
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()
        hots: list[DataFrame] = []
        try:
            spark_l = b.sparkSession
            posting_b = b.filter("decode_ok").select(
                F.explode("sim_keys").alias("key"), "clip_id", "simhash"
            )
            text_b = b.filter(F.col("t_len") > 0)
            posting_mh_b = text_b.select(
                F.explode("mh_bands").alias("key"), "clip_id"
            )
            posting_fp_b = text_b.select(
                F.explode("fps").alias("key"), "clip_id"
            )

            def capped(index: DataFrame, name: str) -> DataFrame:
                """Hot-key defense on an accumulated posting store:
                exclude over-cap keys, record them in the manifest."""
                counts = index.groupBy("key").agg(F.count("*").alias("n"))
                hot = counts.filter(F.col("n") > cfg.band_cap).persist()
                hots.append(hot)
                store_write(hot, f"{store_dir}/{name}_dropped", batch_id)
                return index.join(hot.select("key"), "key", "left_anti")

            # ---- within-batch probes ----
            exact_intra = star_intra(b, "sha256", "exact")
            ttext_intra = star_intra(text_b, "t_norm", "transcript")
            # codec-invariant exact audio (pcm_exact, round 5 — ADVICE
            # r4: a container-flipped re-upload must match at ingest,
            # not at the next batch run).  Mirrors the batch tier
            # (operators.exact.pcm_exact_edges): the probe runs over
            # per-sha256 batch REPS, so a flip-free batch contributes
            # one rep per pcm group and zero edges — the tier stays
            # free when nothing flipped.
            from pyspark.sql import Window as _W

            areps_b = (
                b.filter("decode_ok")
                .filter(F.col("pcm_sha") != "")
                .withColumn(
                    "r", F.min("clip_id").over(_W.partitionBy("sha256"))
                )
                .filter(F.col("clip_id") == F.col("r"))
                .select("clip_id", "sha256", "pcm_sha", "trim_sha")
            )
            pcm_intra = star_intra(areps_b, "pcm_sha", "pcm_exact")
            # silence-pad-invariant exact audio (trim_exact): mirrors
            # the batch tier (operators.exact.trim_exact_edges) —
            # probe over per-pcm_sha batch reps so a pad-free batch
            # emits nothing.  trim_sha is only non-empty when
            # cfg.trim_eps is set, so the probe (and its store join)
            # is free with the tier off.
            trim_reps_b = (
                areps_b.filter(F.col("trim_sha") != "")
                .withColumn(
                    "r2", F.min("clip_id").over(_W.partitionBy("pcm_sha"))
                )
                .filter(F.col("clip_id") == F.col("r2"))
                .drop("r2")
            )
            trim_intra = star_intra(trim_reps_b, "trim_sha", "trim_exact")
            # ingest-time transcript-conflict probe (the streaming
            # surface of audio_quality.transcript_conflicts): same
            # decoded audio (codec-invariant pcm_sha), DIFFERENT
            # normalized transcript.  Within the batch each clip is
            # checked against its pcm group's (min clip_id, t_norm)
            # rep — star-shaped like every other intra probe, a
            # conflict-free batch emits nothing.
            pcm_b = (
                b.filter("decode_ok")
                .filter(F.col("pcm_sha") != "")
                .select("clip_id", "pcm_sha", "t_norm")
            )
            tconf_rep = pcm_b.withColumn(
                "rep",
                F.min(F.struct("clip_id", "t_norm")).over(
                    _W.partitionBy("pcm_sha")
                ),
            )
            tconf = tconf_rep.filter(
                F.col("t_norm") != F.col("rep.t_norm")
            ).select(
                "clip_id",
                F.col("rep.clip_id").alias("matched_clip_id"),
                "pcm_sha",
            )
            near_intra = (
                hamming_matches(
                    posting_b, posting_b.select("key", "clip_id", "simhash")
                )
                .filter(F.col("clip_id") > F.col("matched_clip_id"))
                .withColumn("match_scope", F.lit("batch"))
            )
            mh_cand_intra = (
                posting_mh_b.alias("p")
                .join(posting_mh_b.alias("i"), "key")
                .filter(F.col("p.clip_id") > F.col("i.clip_id"))
                .select(
                    F.col("p.clip_id").alias("clip_id"),
                    F.col("i.clip_id").alias("matched_clip_id"),
                )
                .distinct()
            )
            mh_intra = verify_mh(mh_cand_intra, text_b, b).withColumn(
                "match_scope", F.lit("batch")
            )
            # within-batch containment IS the batch operator on the
            # micro-batch (same caps, min-df pruning, verify split)
            cont_intra = containment_edges(b, cfg).select(
                F.col("a").alias("clip_id"),
                F.col("b").alias("matched_clip_id"),
                F.lit("containment").alias("match_kind"),
                "sim",
                F.lit("batch").alias("match_scope"),
            )
            matches = (
                exact_intra.unionByName(ttext_intra)
                .unionByName(pcm_intra)
                .unionByName(trim_intra)
                .unionByName(near_intra)
                .unionByName(mh_intra)
                .unionByName(cont_intra)
            )
            frames_b = None
            if audio_containment:
                from file_dedup_rust_spark.operators.audio_containment import (
                    audio_containment_edges,
                    frames_from_signatures,
                )

                # frame postings from the SAME decode pass (frame_fps
                # column) — the within-batch probe IS the batch
                # operator on the micro-batch, caps and vote included
                frames_b = frames_from_signatures(
                    b.select("clip_id", "decode_ok", "frame_fps")
                ).persist()
                hots.append(frames_b)  # unpersisted with the hot sets
                ac_intra = audio_containment_edges(frames_b, cfg=cfg).select(
                    F.col("a").alias("clip_id"),
                    F.col("b").alias("matched_clip_id"),
                    F.lit("audio_containment").alias("match_kind"),
                    "sim",
                    F.lit("batch").alias("match_scope"),
                )
                matches = matches.unionByName(ac_intra)

            # ---- probes against the accumulated stores ----
            corpus = read_store(spark_l, f"{store_dir}/sigs")
            if corpus is not None:
                exact_cross = (
                    b.join(
                        corpus.select(
                            F.col("clip_id").alias("matched_clip_id"), "sha256"
                        ),
                        "sha256",
                    )
                    .select(
                        "clip_id", "matched_clip_id",
                        F.lit("exact").alias("match_kind"),
                        F.lit(1.0).alias("sim"),
                        F.lit("corpus").alias("match_scope"),
                    )
                )
                ttext_cross = (
                    text_b.join(
                        corpus.filter(F.col("t_len") > 0).select(
                            F.col("clip_id").alias("matched_clip_id"), "t_norm"
                        ),
                        "t_norm",
                    )
                    .select(
                        "clip_id", "matched_clip_id",
                        F.lit("transcript").alias("match_kind"),
                        F.lit(1.0).alias("sim"),
                        F.lit("corpus").alias("match_scope"),
                    )
                )
                matches = matches.unionByName(exact_cross).unionByName(
                    ttext_cross
                )
                # pcm_exact cross-corpus probe: batch reps against the
                # stored pcm hashes where the byte hash DIFFERS (the
                # same-sha case is the exact probe's).  Guarded for
                # stores written before the column existed.
                if "pcm_sha" in corpus.columns:
                    pcm_cross = (
                        areps_b.alias("p")
                        .join(
                            corpus.filter(F.col("pcm_sha") != "")
                            .select(
                                F.col("clip_id").alias("matched_clip_id"),
                                F.col("sha256").alias("i_sha"),
                                "pcm_sha",
                            ),
                            "pcm_sha",
                        )
                        .filter(F.col("sha256") != F.col("i_sha"))
                        .select(
                            "clip_id", "matched_clip_id",
                            F.lit("pcm_exact").alias("match_kind"),
                            F.lit(1.0).alias("sim"),
                            F.lit("corpus").alias("match_scope"),
                        )
                    )
                    matches = matches.unionByName(pcm_cross)
                    # cross-corpus transcript conflict: the arriving
                    # clip's decoded audio already exists in the store
                    # under a DIFFERENT normalized transcript — the
                    # multi-vendor defect, caught at ingest
                    tconf_cross = (
                        pcm_b.join(
                            corpus.filter(F.col("pcm_sha") != "").select(
                                F.col("clip_id").alias("matched_clip_id"),
                                "pcm_sha",
                                F.col("t_norm").alias("t_i"),
                            ),
                            "pcm_sha",
                        )
                        .filter(F.col("t_norm") != F.col("t_i"))
                        .select("clip_id", "matched_clip_id", "pcm_sha")
                    )
                    tconf = tconf.unionByName(tconf_cross)
                # pad-invariant cross-corpus probe: the arriving clip's
                # trimmed audio exists in the store under a DIFFERENT
                # decoded-PCM hash (the same-pcm case is the pcm_exact
                # probe's).  Guarded for stores written before the
                # column existed; empty trim_sha (tier off) joins
                # nothing.
                if "trim_sha" in corpus.columns:
                    trim_cross = (
                        trim_reps_b.join(
                            corpus.filter(F.col("trim_sha") != "").select(
                                F.col("clip_id").alias("matched_clip_id"),
                                F.col("pcm_sha").alias("i_pcm"),
                                "trim_sha",
                            ),
                            "trim_sha",
                        )
                        .filter(F.col("pcm_sha") != F.col("i_pcm"))
                        .select(
                            "clip_id", "matched_clip_id",
                            F.lit("trim_exact").alias("match_kind"),
                            F.lit(1.0).alias("sim"),
                            F.lit("corpus").alias("match_scope"),
                        )
                    )
                    matches = matches.unionByName(trim_cross)
                index = read_store(spark_l, f"{store_dir}/posting")
                if index is not None:
                    near_cross = hamming_matches(
                        posting_b, capped(index, "posting")
                    ).withColumn("match_scope", F.lit("corpus"))
                    matches = matches.unionByName(near_cross)
                mh_index = read_store(spark_l, f"{store_dir}/mh_posting")
                if mh_index is not None:
                    mh_cand_cross = (
                        posting_mh_b.alias("p")
                        .join(capped(mh_index, "mh_posting").alias("i"), "key")
                        .filter(F.col("p.clip_id") != F.col("i.clip_id"))
                        .select(
                            F.col("p.clip_id").alias("clip_id"),
                            F.col("i.clip_id").alias("matched_clip_id"),
                        )
                        .distinct()
                    )
                    mh_cross = verify_mh(
                        mh_cand_cross, text_b, corpus
                    ).withColumn("match_scope", F.lit("corpus"))
                    matches = matches.unionByName(mh_cross)
                # ---- containment, both arrival orders ----
                pat_b = text_b.select(
                    F.col("clip_id").alias("pat_id"),
                    F.col("t_norm").alias("pat"),
                    F.col("t_len").alias("lp"),
                ).filter(F.col("lp") >= cfg.min_containment_len)
                cont_b = text_b.select(
                    F.col("clip_id").alias("cont_id"),
                    F.col("t_norm").alias("cont"),
                    F.col("t_len").alias("lc"),
                )
                pat_store = corpus.filter(F.col("t_len") > 0).select(
                    F.col("clip_id").alias("pat_id"),
                    F.col("t_norm").alias("pat"),
                    F.col("t_len").alias("lp"),
                )
                cont_store = corpus.filter(F.col("t_len") > 0).select(
                    F.col("clip_id").alias("cont_id"),
                    F.col("t_norm").alias("cont"),
                    F.col("t_len").alias("lc"),
                )
                fp_index = read_store(spark_l, f"{store_dir}/fp_posting")
                if fp_index is not None:
                    # batch pattern -> store container: probe the
                    # pattern's rarest SURVIVING store fingerprint
                    # (min-df against the accumulated index, the batch
                    # operator's pruning; hot keys excluded + counted)
                    fp_counts = fp_index.groupBy("key").agg(
                        F.count("*").alias("n")
                    )
                    fp_hot = fp_counts.filter(
                        F.col("n") > cfg.band_cap
                    ).persist()
                    hots.append(fp_hot)
                    store_write(
                        fp_hot, f"{store_dir}/fp_posting_dropped", batch_id
                    )
                    patmin = (
                        posting_fp_b.join(
                            fp_counts.join(
                                fp_hot.select("key"), "key", "left_anti"
                            ),
                            "key",
                        )
                        .groupBy("clip_id")
                        .agg(F.min(F.struct("n", "key")).alias("mk"))
                        .select(
                            F.col("clip_id").alias("pat_id"),
                            F.col("mk.key").alias("key"),
                        )
                    )
                    oriented_a = (
                        patmin.join(pat_b, "pat_id")
                        .join(
                            fp_index.join(
                                fp_hot.select("key"), "key", "left_anti"
                            ).select(
                                "key", F.col("clip_id").alias("cont_id")
                            ),
                            "key",
                        )
                        .join(cont_store, "cont_id")
                        .filter(F.col("lp") < F.col("lc"))
                        .select("pat_id", "pat", "cont_id", "cont")
                    )
                    cont_cross_a = verify_oriented_pairs(
                        oriented_a, cfg
                    ).select(
                        F.col("pat_id").alias("clip_id"),
                        F.col("cont_id").alias("matched_clip_id"),
                        F.lit("containment").alias("match_kind"),
                        "sim",
                        F.lit("corpus").alias("match_scope"),
                    )
                    matches = matches.unionByName(cont_cross_a)
                fp_pat = read_store(spark_l, f"{store_dir}/fp_pat")
                if fp_pat is not None:
                    # store pattern -> batch container: each stored
                    # clip's one designated fingerprint probes the
                    # batch's full fingerprint set (complete — a true
                    # container carries every pattern fp)
                    cand = (
                        capped(fp_pat, "fp_pat")
                        .select("key", F.col("clip_id").alias("pat_id"))
                        .join(
                            posting_fp_b.select(
                                "key", F.col("clip_id").alias("cont_id")
                            ),
                            "key",
                        )
                    )
                    oriented_b = (
                        cand.join(pat_store, "pat_id")
                        .join(cont_b, "cont_id")
                        .filter(F.col("lp") < F.col("lc"))
                        .select("pat_id", "pat", "cont_id", "cont")
                    )
                    cont_cross_b = verify_oriented_pairs(
                        oriented_b, cfg
                    ).select(
                        F.col("cont_id").alias("clip_id"),
                        F.col("pat_id").alias("matched_clip_id"),
                        F.lit("containment").alias("match_kind"),
                        "sim",
                        F.lit("corpus").alias("match_scope"),
                    )
                    matches = matches.unionByName(cont_cross_b)
            if audio_containment:
                ac_index = read_store(spark_l, f"{store_dir}/ac_posting")
                if ac_index is not None:
                    # store-side stop-hash caps (df + posting rows, the
                    # ac_* knobs), counted — the batch operator's caps
                    # applied to the accumulated index
                    stats = ac_index.groupBy("fhash").agg(
                        F.count_distinct("clip_id").alias("dfc"),
                        F.count("*").alias("n_post"),
                    )
                    ac_hot = stats.filter(
                        (F.col("dfc") > cfg.ac_max_df)
                        | (F.col("n_post") > cfg.ac_post_cap)
                    ).persist()
                    hots.append(ac_hot)
                    store_write(
                        ac_hot.select(
                            F.col("fhash").alias("key"),
                            F.col("n_post").alias("n"),
                        ),
                        f"{store_dir}/ac_posting_dropped", batch_id,
                    )
                    hot_keys = ac_hot.select("fhash")
                    live_store = ac_index.join(hot_keys, "fhash", "left_anti")
                    pb = (
                        frames_b.filter("decode_ok")
                        .select("clip_id", "idx", "fhash")
                        .join(hot_keys, "fhash", "left_anti")
                    )
                    nf_b = pb.groupBy("clip_id").agg(F.count("*").alias("nf"))
                    nf_s = live_store.groupBy("clip_id").agg(
                        F.count("*").alias("nf")
                    )
                    ac_votes = (
                        pb.select(
                            F.col("clip_id").alias("p"),
                            F.col("idx").alias("ip"), "fhash",
                        )
                        .join(
                            live_store.select(
                                F.col("clip_id").alias("i"),
                                F.col("idx").alias("ii"), "fhash",
                            ),
                            "fhash",
                        )
                        .groupBy(
                            "p", "i", (F.col("ii") - F.col("ip")).alias("off")
                        )
                        .agg(F.count("*").alias("m"))
                        .groupBy("p", "i")
                        .agg(F.max(F.struct("m", "off")).alias("s"))
                        .select("p", "i", F.col("s.m").alias("best"))
                    )
                    ac_cross = (
                        ac_votes.join(
                            nf_b.select(
                                F.col("clip_id").alias("p"),
                                F.col("nf").alias("n_p"),
                            ),
                            "p",
                        )
                        .join(
                            nf_s.select(
                                F.col("clip_id").alias("i"),
                                F.col("nf").alias("n_i"),
                            ),
                            "i",
                        )
                        # coverage vs the SHORTER side's surviving
                        # frames — audio_containment_edges semantics,
                        # direction-free (either side may be the
                        # sub-clip depending on arrival order)
                        .withColumn("n_s", F.least("n_p", "n_i"))
                        .filter(
                            (F.col("best")
                             >= cfg.ac_min_coverage * F.col("n_s"))
                            & (F.col("best") >= cfg.ac_min_matches)
                        )
                        .select(
                            F.col("p").alias("clip_id"),
                            F.col("i").alias("matched_clip_id"),
                            F.lit("audio_containment").alias("match_kind"),
                            F.round(F.col("best") / F.col("n_s"), 4)
                            .alias("sim"),
                            F.lit("corpus").alias("match_scope"),
                        )
                    )
                    matches = matches.unionByName(ac_cross)
            store_write(matches, out_dir, batch_id)
            # ingest-time audio quality gates (same thresholds + flag
            # semantics as the batch --quality-report path; only
            # non-passing clips are recorded — a clean batch writes
            # nothing)
            from file_dedup_rust_spark.operators.audio_quality import (
                quality_flags,
            )

            store_write(
                quality_flags(b, cfg)
                .filter(~F.col("q_pass"))
                .select("clip_id", "flags"),
                f"{store_dir}/quality_flags", batch_id,
            )
            # transcript conflicts seen this batch (intra + cross);
            # conflict-free traffic writes nothing
            store_write(
                tconf, f"{store_dir}/transcript_conflicts", batch_id
            )
            store_write(
                b.select(
                    "clip_id", "sha256", "pcm_sha", "trim_sha", "simhash",
                    "minhash", "t_norm", "t_len",
                ),
                f"{store_dir}/sigs", batch_id,
            )
            store_write(posting_b, f"{store_dir}/posting", batch_id)
            store_write(posting_mh_b, f"{store_dir}/mh_posting", batch_id)
            store_write(posting_fp_b, f"{store_dir}/fp_posting", batch_id)
            # one designated (rarest within-batch, ties on key) fp per
            # pattern-eligible clip — the slim probe side of the
            # store-pattern-in-future-container direction
            bc = posting_fp_b.groupBy("key").agg(F.count("*").alias("n"))
            patmin_b = (
                posting_fp_b.join(
                    text_b.filter(
                        F.col("t_len") >= cfg.min_containment_len
                    ).select("clip_id"),
                    "clip_id",
                )
                .join(bc, "key")
                .groupBy("clip_id")
                .agg(F.min(F.struct("n", "key")).alias("mk"))
                .select(F.col("mk.key").alias("key"), "clip_id")
            )
            store_write(patmin_b, f"{store_dir}/fp_pat", batch_id)
            if audio_containment:
                store_write(
                    frames_b.filter("decode_ok").select(
                        "fhash", "clip_id", "idx"
                    ),
                    f"{store_dir}/ac_posting", batch_id,
                )
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                subs = ["sigs", "posting", "mh_posting", "fp_posting",
                        "fp_pat", "quality_flags", "transcript_conflicts"]
                if audio_containment:
                    subs.append("ac_posting")
                for sub in subs:
                    compact_store(spark_l, f"{store_dir}/{sub}", int(batch_id) - 1)
        finally:
            for h in hots:
                h.unpersist()
            b.unpersist()

    writer = (
        sigs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_ASSIGN_STATE_SCHEMA = "rep string"
_ASSIGN_OUT_SCHEMA = "clip_id string, sha256 string, cluster_rep string"


def _assign_fn(key, pdf_iter, state: GroupState):
    """Stateful per-sha256 assignment: first clip_id seen becomes the
    group representative; all later arrivals join it (deterministic
    version of the reference's first-match-wins cluster join)."""
    import pandas as pd

    (sha256,) = key
    if state.exists:
        (rep,) = state.get
    else:
        rep = None
    rows = []
    for pdf in pdf_iter:
        for cid in sorted(pdf["clip_id"].tolist()):
            if rep is None:
                rep = cid
            rows.append((cid, sha256, rep))
    state.update((rep,))
    yield pd.DataFrame(rows, columns=["clip_id", "sha256", "cluster_rep"])


def streaming_cluster_assign(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
    available_now: bool = True,
):
    """applyInPandasWithState running cluster assignment keyed by
    sha256 — the custom stateful streaming operator surface."""
    cfg = cfg or DedupConfig()
    clips = read_clip_stream(spark, landing_dir)
    sigs = compute_signatures(clips, cfg).select("clip_id", "sha256")
    assigned = sigs.groupBy("sha256").applyInPandasWithState(
        _assign_fn,
        outputStructType=_ASSIGN_OUT_SCHEMA,
        stateStructType=_ASSIGN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        assigned.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
