"""Per-layer figures of a traced run.

After the traced round, each layer's public function is called on its
own, on the round's committed checkpoint, inside a span; Spark jobs are
counted as the change of the highest job id across the call.  A layer a
workload does not exercise reads 0."""

from __future__ import annotations

from perfbench.batch import STAGES, STORES
from perfbench.harness import last_job_id
from perfbench.queries import LEAVES

TIERS = ["exact", "transcript_star", "minhash", "simhash", "pcm_exact", "containment"]
FUNNEL = ["minhash", "simhash", "containment"]
MATCH_KINDS = ["exact", "pcm_exact", "transcript", "audio", "containment"]

UNITS: dict[str, str] = {
    "session.start_s": "s", "session.inputs_s": "s", "trace.round_s": "s",
    "trace.round_cpu_s": "s",
    "signatures.wall_s": "s", "signatures.jobs": "count",
    "reps.text_wall_s": "s", "reps.audio_wall_s": "s",
    **{f"edges.{t}.wall_s": "s" for t in TIERS},
    "edges.fused_wall_s": "s", "edges.fused_gap_s": "s",
    **{f"edges.{t}.{m}": u for t in FUNNEL
       for m, u in (("candidates", "count"), ("edges", "count"), ("verify_yield", "ratio"))},
    **{f"edges.{t}.planted_share": "ratio" for t in ("transcript", "audio", "containment")},
    "candidates.dropped_buckets_wall_s": "s",
    **{f"candidates.dropped_buckets.{f}": "count" for f in ("minhash", "simhash", "winnow")},
    "cc.solve_wall_s": "s", "cc.summary_wall_s": "s", "cc.jobs": "count",
    "table_io.resume_wall_s": "s",
    **{f"table_io.bytes.{s}": "B" for s in STAGES},
    "maintenance.repair_wall_s": "s", "maintenance.affected_clips": "count",
    "maintenance.jobs": "count",
    "streaming.drop_jobs": "count", "streaming.drop_signatures_wall_s": "s",
    "streaming.store_read_wall_s": "s",
    **{f"streaming.matches.{k}": "count" for k in MATCH_KINDS},
    **{f"streaming.store_bytes.{s}": "B" for s in STORES},
    "docs.edges_wall_s": "s", "cc.distributed_jobs": "count",
    "ann.train_codebook_wall_s": "s", "ann.train_pq_wall_s": "s",
    **{f"{leaf}.jobs": "count" for leaf in LEAVES},
    # the workloads' own figures, per operation
    "batch.clips_per_s": "clips/s", "batch.remove_repair_s": "s",
    "batch.ckpt_bytes_per_clip": "B/clip", "batch.planted_pair_recall": "ratio",
    "batch.planted_pair_precision": "ratio", "stream.ingest_drop_s": "s",
    "stream.store_bytes_per_clip": "B/clip", "stream.planted_pair_recall": "ratio",
    **{f"{leaf}_s": "s" for leaf in LEAVES},
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Layer:
    """Span + job count around one call."""

    def __init__(self, tracer, spark) -> None:
        self.tr = tracer
        self.spark = spark

    def __call__(self, name: str, fn) -> tuple[float, int]:
        """(self time of the call's span, Spark jobs it ran)."""
        j0 = last_job_id(self.spark)
        with self.tr.span(name):
            fn()
        return self.tr.self_time(self.tr.spans_named(name)[-1]), last_job_id(self.spark) - j0


def trace_layers(wl, tracer, spark) -> dict[str, float]:
    m = {k: 0.0 for k in UNITS}
    if hasattr(wl, "batch_ids"):
        m.update(_batch(wl, tracer, spark))
    else:
        m.update(_queries(wl, tracer, spark))
    return m


def _share(edges, groups, kind: str) -> float:
    e = edges[edges["kind"] == kind]
    if not len(e):
        return 0.0
    return float(sum(groups.get(a) == groups.get(b) for a, b in zip(e["a"], e["b"])) / len(e))


def _batch(wl, tracer, spark) -> dict[str, float]:
    from file_dedup_rust_spark.functions.udfs import compute_signatures
    from file_dedup_rust_spark.operators import candidates as C
    from file_dedup_rust_spark.operators import verify as V
    from file_dedup_rust_spark.operators.connected_components import (
        cluster_summary,
        connected_components,
    )
    from file_dedup_rust_spark.operators.containment import containment_edges
    from file_dedup_rust_spark.operators.exact import exact_dup_edges, pcm_exact_edges
    from file_dedup_rust_spark.plans.pipeline import (
        audio_reps,
        build_edges,
        exact_transcript_edges,
        text_reps,
    )
    from file_dedup_rust_spark.streaming.incremental import read_store

    m: dict[str, float] = {}
    cfg, cap = wl.cfg, wl.cfg.band_cap
    layer = _Layer(tracer, spark)
    r = wl.rounds[0]
    ck = r["ck"]
    sigs = spark.read.parquet(str(ck / "signatures"))

    m["signatures.wall_s"], m["signatures.jobs"] = layer(
        "signatures", lambda: _noop(compute_signatures(wl.clips, cfg)))
    treps = text_reps(sigs).persist()
    areps = audio_reps(sigs).persist()
    m["reps.text_wall_s"] = layer("reps.text", treps.count)[0]
    m["reps.audio_wall_s"] = layer("reps.audio", areps.count)[0]
    tiers = {
        "exact": lambda: exact_dup_edges(sigs),
        "transcript_star": lambda: exact_transcript_edges(sigs),
        "minhash": lambda: V.verify_minhash(
            C.candidate_pairs(C.explode_keys(treps, "mh_bands"), cap), treps, cfg),
        "simhash": lambda: V.simhash_edges_in_bucket(areps, cfg, cap),
        "pcm_exact": lambda: pcm_exact_edges(areps),
        "containment": lambda: containment_edges(treps, cfg),
    }
    for t, build in tiers.items():
        m[f"edges.{t}.wall_s"] = layer(f"edges.{t}", lambda b=build: _noop(b()))[0]
    m["edges.fused_wall_s"] = layer(
        "edges.fused",
        lambda: _noop(build_edges(sigs, cfg, treps=treps, areps=areps)))[0]
    m["edges.fused_gap_s"] = m["edges.fused_wall_s"] - sum(
        m[f"edges.{t}.wall_s"] for t in TIERS)

    keys = {"minhash": (treps, "mh_bands"), "simhash": (areps, "sim_keys"),
            "containment": (treps, "fps")}
    for t, (reps, col) in keys.items():
        cand = C.candidate_pairs(C.explode_keys(reps, col), cap).count()
        n = tiers[t]().count()
        m[f"edges.{t}.candidates"], m[f"edges.{t}.edges"] = cand, n
        m[f"edges.{t}.verify_yield"] = n / cand if cand else 0.0

    drops = {}

    def dropped() -> None:
        for fam, (reps, col) in (("minhash", (treps, "mh_bands")),
                                 ("simhash", (areps, "sim_keys")),
                                 ("winnow", (treps, "fps"))):
            drops[fam] = C.dropped_buckets(C.explode_keys(reps, col), cap).count()

    m["candidates.dropped_buckets_wall_s"] = layer("candidates.dropped_buckets", dropped)[0]
    for fam, n in drops.items():
        m[f"candidates.dropped_buckets.{fam}"] = n
    treps.unpersist()
    areps.unpersist()

    edges = spark.read.parquet(str(ck / "edges"))
    m["cc.solve_wall_s"], m["cc.jobs"] = layer(
        "cc.solve",
        lambda: connected_components(edges.select("a", "b"), sigs.select("clip_id")).count())
    m["cc.summary_wall_s"] = layer(
        "cc.summary",
        lambda: _noop(cluster_summary(spark.read.parquet(str(ck / "assignments")), edges)))[0]

    m["table_io.resume_wall_s"] = tracer.mean("table_io.resume")
    for s, b in r["ckpt_bytes"].items():
        m[f"table_io.bytes.{s}"] = b
    groups = wl._truth()[2]
    for kind in ("transcript", "audio", "containment"):
        m[f"edges.{kind}.planted_share"] = _share(r["edges"], groups, kind)

    m["maintenance.repair_wall_s"] = tracer.mean("maintenance.repair")
    m["maintenance.jobs"] = r["repair_jobs"]
    asg = r["assignments"]
    hit = set(asg.loc[asg["clip_id"].isin(r["removed"]), "cluster_id"])
    m["maintenance.affected_clips"] = int(asg["cluster_id"].isin(hit).sum())

    drops_done = [x for x in wl.rounds if "drop_s" in x]
    if drops_done:
        m["streaming.drop_jobs"] = drops_done[0]["drop_jobs"]
        drop0 = spark.read.parquet(str(wl.inputs / "drops" / "drop0.parquet"))
        m["streaming.drop_signatures_wall_s"] = layer(
            "streaming.drop_signatures", lambda: _noop(compute_signatures(drop0, cfg)))[0]
        store = wl.stream_dir / "store"
        m["streaming.store_read_wall_s"] = layer(
            "streaming.store_read",
            lambda: [read_store(spark, str(store / s)).count() for s in STORES])[0]
        last = drops_done[-1]
        new = last["matches"][last["matches"]["batch_id"].astype(int) > 0]
        for kind in MATCH_KINDS:
            m[f"streaming.matches.{kind}"] = int((new["match_kind"] == kind).sum()) / len(drops_done)
        for s, b in last["store_bytes"].items():
            m[f"streaming.store_bytes.{s}"] = b
    return m


def _queries(wl, tracer, spark) -> dict[str, float]:
    from file_dedup_rust_spark.entry import testdata_queries as Q
    from file_dedup_rust_spark.operators.ann import default_k, train_codebook, train_pq

    m: dict[str, float] = {}
    layer = _Layer(tracer, spark)
    r = wl.rounds[0]
    for leaf in LEAVES:
        m[f"{leaf}.jobs"] = r[leaf]["jobs"]
    m["cc.distributed_jobs"] = r["cc_distributed"]["jobs"]
    m["docs.edges_wall_s"] = layer("docs.edges", lambda: Q._doc_edges(spark, wl.sf_dir))[0]
    e = Q._embeddings(spark, wl.sf_dir).select("vec_id", "embedding")
    k = default_k(e.count())
    m["ann.train_codebook_wall_s"] = layer("ann.train_codebook", lambda: train_codebook(e, k))[0]
    m["ann.train_pq_wall_s"] = layer("ann.train_pq", lambda: train_pq(e))[0]
    return m
