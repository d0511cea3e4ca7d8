"""Structured Streaming surface: incremental dedup across micro-batches
and stateful cluster assignment.

Streams run with trigger(availableNow=True) so each test drains the
landing directory and terminates (the reference's drain-the-queue
semantics, job_queue.rs:59-78).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_dedup_rust_spark import datagen
from file_dedup_rust_spark.streaming.incremental import streaming_cluster_assign


@pytest.fixture(scope="module")
def two_batches(spark, tmp_path_factory):
    """Two parquet drops where batch 2 contains byte-identical copies
    of batch 1 rows (cross-batch exact dups by construction: datagen's
    'exact' role copies its base's bytes)."""
    root = tmp_path_factory.mktemp("stream")
    landing = str(root / "landing")
    pdf = datagen.generate_clips_pandas(120, seed=42)
    plan = datagen.build_plan(120, seed=42)
    base_id = {int(r.idx): r.clip_id for r in plan.itertuples() if r.role == "base"}
    exact_children = [
        (r.clip_id, base_id[int(r.source)])
        for r in plan.itertuples() if r.role == "exact"
    ]
    assert len(exact_children) > 0
    base_ids = {b for _, b in exact_children}
    b1 = pdf[pdf.clip_id.isin(base_ids)]
    b2 = pdf[~pdf.clip_id.isin(base_ids)]
    os.makedirs(landing, exist_ok=True)
    spark.createDataFrame(b1, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{landing}/batch=1")
    spark.createDataFrame(b2, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(f"{landing}/batch=2")
    return landing, root, exact_children


def test_incremental_near_dedup_finds_cross_batch_exact_dups(
    spark, two_batches, cfg, tmp_path
):
    """Drop 1 (bases) drains, drop 2 (children) arrives, the SAME
    checkpoint resumes — real restart semantics, so batch numbering
    continues and the idempotent batch_id partitions stay distinct."""
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    landing, root, exact_children = two_batches
    flat = str(tmp_path / "flat-landing")
    out = str(tmp_path / "matches")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck1")
    # drop 1: bases only
    spark.read.parquet(f"{landing}/batch=1").coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q = incremental_near_dedup(spark, flat, store, out, ck, cfg)
    q.awaitTermination(180)
    # drop 2: children land; same checkpoint picks up only the new file
    spark.read.parquet(f"{landing}/batch=2").coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q2 = incremental_near_dedup(spark, flat, store, out, ck, cfg)
    q2.awaitTermination(180)

    matches = read_store(spark, out).filter("match_kind = 'exact'")
    got = {(r.clip_id, r.matched_clip_id) for r in matches.collect()}
    # every planted exact child (batch 2) must match its base (batch 1)
    missing = set(exact_children) - got
    assert not missing, f"missed cross-batch exact dups: {missing}"
    # signature store accumulated both batches
    assert read_store(spark, f"{store}/sigs").count() == 120


def test_streaming_cluster_assign_stateful(spark, two_batches):
    landing, root, exact_children = two_batches
    out = str(root / "assigned")
    ck = str(root / "ck-state")
    q = streaming_cluster_assign(spark, landing, out, ck)
    q.awaitTermination(180)
    assigned = spark.read.parquet(out)
    rows = {r.clip_id: r.cluster_rep for r in assigned.collect()}
    assert len(rows) == 120
    # exact dup pairs share a representative
    for child, base in exact_children:
        assert rows[child] == rows[base]


@pytest.fixture(scope="module")
def near_batches(spark, tmp_path_factory):
    """Batch 1 = audio bases, batch 2 = their SNR-perturbed near-dup
    children (role 'audio_near') plus everything else."""
    root = tmp_path_factory.mktemp("stream-near")
    landing = str(root / "landing")
    pdf = datagen.generate_clips_pandas(150, seed=43)
    plan = datagen.build_plan(150, seed=43)
    base_id = {int(r.idx): r.clip_id for r in plan.itertuples() if r.role == "base"}
    near_children = [
        (r.clip_id, base_id[int(r.source)])
        for r in plan.itertuples() if r.role == "audio_near"
    ]
    assert len(near_children) > 0
    base_ids = {b for _, b in near_children}
    b1 = pdf[pdf.clip_id.isin(base_ids)]
    b2 = pdf[~pdf.clip_id.isin(base_ids)]
    os.makedirs(landing, exist_ok=True)
    spark.createDataFrame(b1, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{landing}/batch=1")
    spark.createDataFrame(b2, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(f"{landing}/batch=2")
    return landing, root, near_children


def test_incremental_near_dedup_cross_batch(spark, near_batches, cfg, tmp_path):
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    landing, root, near_children = near_batches
    flat = str(tmp_path / "flat-landing")
    out = str(tmp_path / "matches")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck1")
    spark.read.parquet(f"{landing}/batch=1").coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q = incremental_near_dedup(spark, flat, store, out, ck, cfg)
    q.awaitTermination(180)
    spark.read.parquet(f"{landing}/batch=2").coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q2 = incremental_near_dedup(spark, flat, store, out, ck, cfg)
    q2.awaitTermination(180)
    m = read_store(spark, out)
    audio = {(r.clip_id, r.matched_clip_id) for r in m.filter("match_kind='audio'").collect()}
    missing = set(near_children) - audio
    assert not missing, f"missed cross-batch near dups: {missing}"
    # every match passed the Hamming threshold
    sims = [r.sim for r in m.filter("match_kind='audio'").collect()]
    assert all(s >= 1.0 - cfg.hamming_max / cfg.simhash_bits - 1e-9 for s in sims)
    # stores accumulated both batches
    assert read_store(spark, f"{store}/sigs").count() == 150


def test_store_write_is_idempotent_on_retry(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch_id must
    overwrite its own partition, not append a duplicate (ADVICE round 1
    — a retried micro-batch previously doubled the stores and every
    future probe)."""
    from file_dedup_rust_spark.streaming.incremental import read_store, store_write

    store = str(tmp_path / "store")
    df = spark.range(10).select(F.col("id").alias("clip_id"))
    store_write(df, store, 0)
    store_write(df, store, 0)  # simulated retry of the same micro-batch
    assert read_store(spark, store).count() == 10
    store_write(spark.range(5).select(F.col("id").alias("clip_id")), store, 1)
    assert read_store(spark, store).count() == 15


def test_compact_store_preserves_contents(spark, tmp_path):
    """Folding committed batch partitions into the base snapshot must
    not change what read_store returns, must be idempotent, and newer
    partitions must keep accumulating on top of the base."""
    import os

    from file_dedup_rust_spark.streaming.incremental import (
        compact_store,
        read_store,
        store_write,
    )

    store = str(tmp_path / "store")
    for i in range(4):
        store_write(
            spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("clip_id")),
            store, i,
        )
    before = {r.clip_id for r in read_store(spark, store).collect()}
    compact_store(spark, store, 2)  # fold batches 0..2, keep 3 live
    after = {r.clip_id for r in read_store(spark, store).collect()}
    assert before == after == set(range(40))
    # folded partitions are physically gone, batch 3 survives as inc
    inc_parts = os.listdir(os.path.join(store, "inc"))
    assert "batch_id=3" in inc_parts
    assert not any(p == f"batch_id={i}" for i in range(3) for p in inc_parts)
    # idempotent + a retried old write cannot resurrect folded rows
    compact_store(spark, store, 2)
    assert {r.clip_id for r in read_store(spark, store).collect()} == before
    store_write(
        spark.range(100, 105).select(F.col("id").alias("clip_id")), store, 4
    )
    assert read_store(spark, store).count() == 45


def test_streaming_matches_batch_pipeline_parity(spark, cfg, tmp_path):
    """Draining the incremental near-dedup over a corpus must produce
    the same duplicate GROUPS as the batch pipeline's edge kinds on
    the same input (co-membership, the recall-gate quantity — pair
    lists differ by construction: streaming probes every prior copy,
    batch stars through representatives; batch MinHash/containment
    pairs join text reps, streaming pairs join copies of the same
    t_norm, which the exact-transcript stars fold into identical
    components).  Round 4: containment probes stream too (both
    arrival orders).  Round 5: pcm_exact streams too — planted
    container FLIPS (same audio re-uploaded raw — and, round-5, as
    lossless FLAC — after arriving as wav, in a LATER drop, with a
    different transcript) must match at ingest, completing modality
    parity with build_edges."""
    import pandas as pd

    from file_dedup_rust_spark import datagen
    from file_dedup_rust_spark.functions.audio import decode_wav
    from file_dedup_rust_spark.functions.udfs import compute_signatures
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )
    from file_dedup_rust_spark.plans.pipeline import build_edges
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    n = 150
    pdf = datagen.generate_clips_pandas(n, seed=44)
    # plant container flips: two wav clips re-shipped as raw pcm_s16le
    # (identical decoded samples, different bytes) in the LAST drop,
    # with fresh transcripts so only the audio tiers can connect them
    import numpy as np

    first_third = pdf.iloc[: n // 3]
    wavs = first_third[first_third["codec"] == "wav"].iloc[:3]
    flips = []
    for j, r in enumerate(wavs.itertuples(index=False)):
        pcm = decode_wav(bytes(r.bytes))
        i16 = np.clip(np.round(pcm * 32768.0), -32768, 32767)
        if j == 2:
            # round 5: a COMPRESSED lossless flip — wav re-shipped as
            # FLAC.  encode_flac quantizes at *32767, decode_flac
            # normalizes at /32768 (the decode_wav convention), so
            # feed i16/32767 to store exactly the wav's samples.
            from file_dedup_rust_spark.functions.flac import encode_flac

            payload = encode_flac(i16 / 32767.0, int(r.sr_hz))
            codec = "flac"
        else:
            payload = i16.astype("<i2").tobytes()
            codec = "pcm_s16le"
        flips.append(
            {
                "clip_id": f"flip_{j}_{r.clip_id}",
                "bytes": payload,
                "sr_hz": r.sr_hz,
                "dur_ms": r.dur_ms,
                "codec": codec,
                "transcript": f"container flip resend number {j} "
                              "with its own unrelated transcript text",
            }
        )
    flips_pdf = pd.DataFrame(flips)[list(pdf.columns)]
    pdf = pd.concat([pdf, flips_pdf], ignore_index=True)
    clips = spark.createDataFrame(pdf, schema=datagen.CLIP_SCHEMA)
    landing = str(tmp_path / "landing")
    # three drops -> at least three micro-batches through the store
    third = n // 3
    for i in range(3):
        spark.createDataFrame(
            pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)],
            schema=datagen.CLIP_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(landing)
        q = incremental_near_dedup(
            spark, landing, str(tmp_path / "store"), str(tmp_path / "out"),
            str(tmp_path / "ck"), cfg,
        )
        q.awaitTermination(180)
    n = len(pdf)

    out = read_store(spark, str(tmp_path / "out"))
    sigs = compute_signatures(clips, cfg)
    batch = build_edges(sigs, cfg)
    verts = clips.select("clip_id")
    # parity per modality subset AND over the full streaming surface
    for kinds in (
        ["exact", "audio"],
        ["exact", "pcm_exact"],
        ["exact", "transcript", "audio"],
        ["exact", "pcm_exact", "transcript", "audio", "containment"],
    ):
        stream_edges = out.filter(F.col("match_kind").isin(*kinds)).select(
            F.col("clip_id").alias("a"), F.col("matched_clip_id").alias("b")
        )
        batch_edges = batch.filter(F.col("kind").isin(*kinds)).select("a", "b")
        s_lbl = {
            r.clip_id: r.cluster_id
            for r in connected_components(stream_edges, verts).collect()
        }
        b_lbl = {
            r.clip_id: r.cluster_id
            for r in connected_components(batch_edges, verts).collect()
        }
        assert len(s_lbl) == len(b_lbl) == n
        # identical partitions (labels are min-id per component both sides)
        assert s_lbl == b_lbl, kinds
    # the MinHash near path actually fired (datagen plants
    # transcript_near children): some verified sim < 1 match exists,
    # i.e. the transcript parity above is not carried by exact t_norm
    # stars alone
    assert (
        out.filter("match_kind = 'transcript' AND sim < 1.0").count() > 0
    )
    # the containment path fired in BOTH scopes: within a micro-batch
    # and across the accumulated fingerprint stores (arrival-order
    # coverage comes from datagen interleaving patterns and containers
    # over the three drops)
    cont = out.filter("match_kind = 'containment'")
    assert cont.filter("match_scope = 'corpus'").count() > 0
    assert cont.filter("sim < 1.0").count() == cont.count()
    # the container flips matched AT INGEST (cross-corpus pcm_exact):
    # each flip arrived two drops after its wav original, transcripts
    # differ, bytes differ — only the decoded-PCM hash can see it
    pcm = out.filter("match_kind = 'pcm_exact' AND match_scope = 'corpus'")
    flipped_ids = {f["clip_id"] for f in flips}
    assert flipped_ids <= {r["clip_id"] for r in pcm.collect()}


def test_compact_commit_survives_torn_attempt(spark, tmp_path):
    """The ADVICE-r2 crash window: a compaction that dies after writing
    its new snapshot dir but BEFORE creating the pointer must leave the
    store fully readable from the previous pointer (old base + inc) —
    and the next compact_store must clear the stale attempt and commit
    cleanly.  (The round-2 rename-swap protocol had a mid-point with NO
    base dir: a restart silently rebuilt the base from surviving inc
    partitions only, losing every previously-folded row.)"""
    from file_dedup_rust_spark.streaming.incremental import (
        compact_store,
        read_store,
        store_write,
    )

    store = str(tmp_path / "store")
    for i in range(3):
        store_write(
            spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("clip_id")),
            store, i,
        )
    compact_store(spark, store, 1)  # commits base_v0 (batches 0..1)
    want = set(range(30))
    assert {r.clip_id for r in read_store(spark, store).collect()} == want

    # simulate the torn second compaction: snapshot written, no pointer
    spark.range(999).select(F.col("id").alias("clip_id")).write.mode(
        "overwrite"
    ).parquet(f"{store}/base_v1/data")
    assert {r.clip_id for r in read_store(spark, store).collect()} == want
    assert os.path.isdir(os.path.join(store, "base_v0"))

    # recovery: the real compaction overwrites the stale attempt
    store_write(
        spark.range(30, 35).select(F.col("id").alias("clip_id")), store, 3
    )
    compact_store(spark, store, 3)
    got = {r.clip_id for r in read_store(spark, store).collect()}
    assert got == want | set(range(30, 35))
    assert not os.path.isdir(os.path.join(store, "base_v0"))  # lazy cleanup ran
    assert 999 not in got


def test_store_write_empty_batch_is_noop(spark, tmp_path):
    """A micro-batch with no rows (e.g. zero dups found) must neither
    break read_store ('Unable to infer schema' on a file-less inc dir,
    ADVICE r2) nor corrupt the batch accounting."""
    from file_dedup_rust_spark.streaming.incremental import (
        compact_store,
        read_store,
        store_write,
    )

    store = str(tmp_path / "store")
    empty = spark.range(0).select(F.col("id").alias("clip_id"))
    store_write(empty, store, 0)
    assert read_store(spark, store) is None
    compact_store(spark, store, 0)  # no-op, no crash
    store_write(
        spark.range(5).select(F.col("id").alias("clip_id")), store, 1
    )
    assert read_store(spark, store).count() == 5
    store_write(empty, store, 2)
    assert read_store(spark, store).count() == 5


def test_streaming_posting_probe_caps_hot_keys(spark, cfg, tmp_path):
    """VERDICT r3: the probe against the accumulated posting store must
    apply the batch engine's band-cap defense — a hot key (a 31-member
    exact-copy cluster shares every band key) is excluded from the
    corpus join and recorded in the posting_dropped manifest, while
    matches on keys at or below the cap are unchanged."""
    import dataclasses

    import pandas as pd

    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    small = dataclasses.replace(cfg, band_cap=10)
    pdf = datagen.generate_clips_pandas(80, seed=45)
    plan = datagen.build_plan(80, seed=45)
    base_id = {int(r.idx): r.clip_id for r in plan.itertuples() if r.role == "base"}
    pairs = [
        (r.clip_id, base_id[int(r.source)])
        for r in plan.itertuples() if r.role == "audio_near"
    ]
    assert len(pairs) >= 2
    hot_child, hot_base = pairs[0]
    normal_pairs = [p for p in pairs if p[1] != hot_base and p[0] != hot_child]
    assert normal_pairs
    # batch 1: corpus (no near children) + 30 byte-identical copies of
    # hot_base -> every one of hot_base's band keys has 31 members
    hot_rows = pdf[pdf.clip_id == hot_base]
    copies = pd.concat(
        [hot_rows.assign(clip_id=f"hotcopy-{i:03d}") for i in range(30)]
    )
    children_ids = {c for c, _ in pairs}
    b1 = pd.concat([pdf[~pdf.clip_id.isin(children_ids)], copies])
    b2 = pdf[pdf.clip_id.isin(children_ids)]

    flat = str(tmp_path / "landing")
    out = str(tmp_path / "matches")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(b1, schema=datagen.CLIP_SCHEMA).coalesce(2).write.mode(
        "append"
    ).parquet(flat)
    q = incremental_near_dedup(spark, flat, store, out, ck, small)
    assert q.awaitTermination(180)
    spark.createDataFrame(b2, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q2 = incremental_near_dedup(spark, flat, store, out, ck, small)
    assert q2.awaitTermination(180)

    # the manifest names the hot keys with their true store-side counts
    dropped = read_store(spark, f"{store}/posting_dropped")
    assert dropped is not None and dropped.count() > 0
    assert dropped.agg(F.min("n")).first()[0] > small.band_cap

    m = read_store(spark, out)
    corpus_audio = {
        (r.clip_id, r.matched_clip_id)
        for r in m.filter("match_kind='audio' AND match_scope='corpus'").collect()
    }
    # below-cap keys: every near child of a non-hot base still matches
    for child, base in normal_pairs:
        assert (child, base) in corpus_audio, (child, base)
    # the hot cluster's keys were all over cap: its probe work (31
    # store members x every probing child) never ran, and the drop is
    # visible in the manifest instead of silent
    assert not any(c == hot_child for c, _ in corpus_audio)


def test_streaming_audio_containment_probe(spark, cfg, tmp_path):
    """Opt-in seventh streaming family (round 5): planted sub-clips
    must match at ingest in BOTH arrival orders — container stored /
    sub-clip arriving, and sub-clip stored / container arriving —
    plus within one micro-batch, with the streamed pair SET equal to
    the batch operator's over the same corpus; noise clips stay
    edge-free."""
    import numpy as np
    import pandas as pd

    from file_dedup_rust_spark.functions.audio import encode_wav
    from file_dedup_rust_spark.functions.udfs import compute_signatures
    from file_dedup_rust_spark.operators.audio_containment import (
        audio_containment_edges,
        frames_from_signatures,
    )
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    sr = 16000
    rng = np.random.default_rng(11)

    def noise(n):
        return (rng.standard_normal(n) * 0.1).astype(np.float32)

    def embed(inner, pre_hops, post_hops):
        return np.concatenate(
            [noise(cfg.hop * pre_hops), inner, noise(cfg.hop * post_hops)]
        )

    sub1, sub2, sub3 = noise(sr * 2), noise(sr * 2), noise(sr * 2)
    clips = {
        # order A: container arrives first, sub-clip later
        "cont_1": embed(sub1, 40, 24),
        "sub_1": sub1,
        # order B: sub-clip arrives first, container later
        "sub_2": sub2,
        "cont_2": embed(sub2, 16, 56),
        # same-batch pair
        "sub_3": sub3,
        "cont_3": embed(sub3, 8, 8),
        # unrelated noise
        "noise_1": noise(sr * 2),
        "noise_2": noise(sr * 3),
    }
    drops = [
        ["cont_1", "sub_2", "noise_1"],
        ["sub_3", "cont_3", "noise_2"],
        ["sub_1", "cont_2"],
    ]

    def pdf_for(ids):
        return pd.DataFrame(
            {
                "clip_id": ids,
                "bytes": [encode_wav(clips[i], sr) for i in ids],
                "sr_hz": [sr] * len(ids),
                "dur_ms": [int(len(clips[i]) / sr * 1000) for i in ids],
                "codec": ["wav"] * len(ids),
                "transcript": [f"transcript of {i} only" for i in ids],
            }
        )

    landing = str(tmp_path / "landing")
    for ids in drops:
        spark.createDataFrame(
            pdf_for(ids), schema=datagen.CLIP_SCHEMA
        ).coalesce(1).write.mode("append").parquet(landing)
        q = incremental_near_dedup(
            spark, landing, str(tmp_path / "store"), str(tmp_path / "out"),
            str(tmp_path / "ck"), cfg, audio_containment=True,
        )
        q.awaitTermination(180)

    out = read_store(spark, str(tmp_path / "out"))
    ac = out.filter("match_kind = 'audio_containment'").collect()
    pairs = {frozenset((r.clip_id, r.matched_clip_id)) for r in ac}
    scopes = {
        frozenset((r.clip_id, r.matched_clip_id)): r.match_scope for r in ac
    }
    assert frozenset(("sub_1", "cont_1")) in pairs
    assert scopes[frozenset(("sub_1", "cont_1"))] == "corpus"
    assert frozenset(("sub_2", "cont_2")) in pairs
    assert scopes[frozenset(("sub_2", "cont_2"))] == "corpus"
    assert frozenset(("sub_3", "cont_3")) in pairs
    assert scopes[frozenset(("sub_3", "cont_3"))] == "batch"
    # the arriving clip is always clip_id on corpus rows
    by_pair = {frozenset((r.clip_id, r.matched_clip_id)): r for r in ac}
    assert by_pair[frozenset(("sub_1", "cont_1"))].clip_id == "sub_1"
    assert by_pair[frozenset(("sub_2", "cont_2"))].clip_id == "cont_2"
    # noise clips never matched
    flat = {c for p in pairs for c in p}
    assert "noise_1" not in flat and "noise_2" not in flat
    # parity: streamed pair set == batch operator over the full corpus
    all_ids = [i for ids in drops for i in ids]
    full = spark.createDataFrame(pdf_for(all_ids), schema=datagen.CLIP_SCHEMA)
    sigs = compute_signatures(full, cfg, with_frames=True)
    batch_pairs = {
        frozenset((r.a, r.b))
        for r in audio_containment_edges(
            frames_from_signatures(sigs), cfg=cfg
        ).collect()
    }
    assert pairs == batch_pairs


def test_streaming_canonical_rate_catches_cross_rate_reupload(
    spark, tmp_path
):
    """Round-5 canonical-rate tier at ingest: with cfg.cr_hz set, the
    SAME recording re-uploaded at a DIFFERENT sample rate (canonical
    resampler chain, fresh transcript, later drop) matches via the
    streaming pcm_sha probe — parity with the batch pcm_exact tier
    holds because the stream shares compute_signatures(cfg).  With
    cr_hz=0 the probe must NOT connect them (the documented
    native-rate gap)."""
    import numpy as np
    import pandas as pd

    from file_dedup_rust_spark import datagen
    from file_dedup_rust_spark.config import DedupConfig
    from file_dedup_rust_spark.functions import audio as A
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    def master_pcm(sr, seed=5, f1=380.0, f2=1150.0):
        rng = np.random.default_rng(seed)
        t = np.arange(int(sr * 1.0)) / sr
        x = (
            0.4 * np.sin(2 * np.pi * f1 * t)
            + 0.2 * np.sin(2 * np.pi * f2 * t)
            + 0.05 * rng.standard_normal(t.size)
        )
        return np.clip(x, -0.999, 0.999).astype(np.float32)

    sr_hi, sr_lo = 16000, 8000
    hi_bytes = A.encode_wav(master_pcm(sr_hi), sr_hi)
    lo_pcm = A.resample_linear(A.decode_audio(hi_bytes, "wav"), sr_hi, sr_lo)
    lo_bytes = (
        np.clip(np.round(lo_pcm.astype(np.float64) * 32768.0), -32768, 32767)
        .astype("<i2")
        .tobytes()
    )
    filler = datagen.generate_clips_pandas(40, seed=47)
    drop1 = pd.concat(
        [
            filler.iloc[:20],
            pd.DataFrame(
                [{
                    "clip_id": "master_hi", "bytes": hi_bytes,
                    "sr_hz": sr_hi, "dur_ms": 1000, "codec": "wav",
                    "transcript": "original upload words",
                }]
            )[list(filler.columns)],
        ],
        ignore_index=True,
    )
    drop2 = pd.concat(
        [
            filler.iloc[20:],
            pd.DataFrame(
                [{
                    "clip_id": "resend_lo", "bytes": lo_bytes,
                    "sr_hz": sr_lo, "dur_ms": 1000, "codec": "pcm_s16le",
                    "transcript": "totally different words this time",
                }]
            )[list(filler.columns)],
        ],
        ignore_index=True,
    )

    for tag, cr, want in (("on", sr_lo, True), ("off", 0, False)):
        cfg = DedupConfig(cr_hz=cr)
        root = tmp_path / tag
        landing = str(root / "landing")
        for d in (drop1, drop2):
            spark.createDataFrame(
                d, schema=datagen.CLIP_SCHEMA
            ).coalesce(1).write.mode("append").parquet(landing)
            q = incremental_near_dedup(
                spark, landing, str(root / "store"), str(root / "out"),
                str(root / "ck"), cfg,
            )
            q.awaitTermination(180)
        pcm = read_store(spark, str(root / "out")).filter(
            "match_kind = 'pcm_exact' AND match_scope = 'corpus'"
        )
        hit = (
            pcm.filter(
                "clip_id = 'resend_lo' AND matched_clip_id = 'master_hi'"
            ).count()
            > 0
        )
        assert hit == want, (tag, hit)


def test_streaming_trim_tier_catches_padded_reupload(spark, tmp_path):
    """Round-5 silence-pad-invariant tier at ingest: with cfg.trim_eps
    set, a re-upload of the SAME recording padded with leading/trailing
    silence (different bytes, different decoded PCM, fresh transcript,
    later drop) matches via the streaming trim_sha probe — parity with
    the batch trim_exact tier holds because the stream shares
    compute_signatures(cfg).  A padded twin arriving IN THE SAME batch
    matches at batch scope.  With trim_eps=0 (the default) the tier
    must not connect them."""
    import numpy as np
    import pandas as pd

    from file_dedup_rust_spark import datagen
    from file_dedup_rust_spark.config import DedupConfig
    from file_dedup_rust_spark.functions import audio as A
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    sr = 8000
    rng = np.random.default_rng(13)
    n = sr
    x = 0.5 * np.sin(2 * np.pi * 440 * np.arange(n) / sr + 0.7)
    x += 0.05 * rng.standard_normal(n)
    x = np.clip(x, -0.9, 0.9)

    def pad(lead_s, tail_s):
        return np.concatenate(
            [np.zeros(int(sr * lead_s)), x, np.zeros(int(sr * tail_s))]
        )

    def row(clip_id, pcm, transcript):
        return {
            "clip_id": clip_id, "bytes": A.encode_wav(pcm, sr),
            "sr_hz": sr, "dur_ms": None, "codec": "wav",
            "transcript": transcript,
        }

    filler = datagen.generate_clips_pandas(40, seed=48)
    drop1 = pd.concat(
        [
            filler.iloc[:20],
            pd.DataFrame(
                [
                    row("orig", x, "first vendor words"),
                    # same-batch padded twin -> batch-scope match
                    row("pad_intra", pad(0.25, 0.0), "second vendor words"),
                ]
            )[list(filler.columns)],
        ],
        ignore_index=True,
    )
    drop2 = pd.concat(
        [
            filler.iloc[20:],
            pd.DataFrame(
                [row("pad_cross", pad(0.5, 0.75), "third vendor words")]
            )[list(filler.columns)],
        ],
        ignore_index=True,
    )

    for tag, eps, want in (("on", 1e-3, True), ("off", 0.0, False)):
        cfg = DedupConfig(trim_eps=eps)
        root = tmp_path / tag
        landing = str(root / "landing")
        for d in (drop1, drop2):
            spark.createDataFrame(
                d, schema=datagen.CLIP_SCHEMA
            ).coalesce(1).write.mode("append").parquet(landing)
            q = incremental_near_dedup(
                spark, landing, str(root / "store"), str(root / "out"),
                str(root / "ck"), cfg,
            )
            q.awaitTermination(180)
        out = read_store(spark, str(root / "out")).filter(
            "match_kind = 'trim_exact'"
        )
        rows = {
            (r["clip_id"], r["matched_clip_id"], r["match_scope"])
            for r in out.collect()
        }
        if want:
            assert ("pad_intra", "orig", "batch") in rows, rows
            cross = {
                (a, b) for a, b, s in rows if s == "corpus"
            }
            assert ("pad_cross", "orig") in cross or (
                "pad_cross", "pad_intra"
            ) in cross, rows
        else:
            assert rows == set(), rows


def test_store_survives_schema_upgrade_after_compaction(spark, tmp_path):
    """A store whose compacted base snapshot predates a column (the
    sigs store gaining trim_sha mid-stream) must keep reading: old
    rows surface the new column as NULL (which every probe's
    non-empty/equality filter excludes), never an AnalysisException."""
    from pyspark.sql import functions as F

    from file_dedup_rust_spark.streaming.incremental import (
        compact_store,
        read_store,
        store_write,
    )

    store = str(tmp_path / "sigs")
    old = spark.range(3).select(
        F.concat(F.lit("c"), F.col("id")).alias("clip_id"),
        F.lit("sha").alias("sha256"),
    )
    store_write(old, store, 0)
    compact_store(spark, store, 0)  # base snapshot at the OLD schema
    new = spark.createDataFrame(
        [("c9", "sha", "trimhash")], "clip_id string, sha256 string, trim_sha string"
    )
    store_write(new, store, 1)

    df = read_store(spark, store)
    assert df.count() == 4
    assert "trim_sha" in df.columns
    with_trim = df.filter(F.col("trim_sha").isNotNull()).collect()
    assert [r["clip_id"] for r in with_trim] == ["c9"]
    # the probe-side filter pattern excludes pre-upgrade rows cleanly
    assert df.filter(F.col("trim_sha") != "").count() == 1
