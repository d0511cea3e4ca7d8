"""batch_dedup: a fresh checkpointed pipeline run over planted clips.

The traced run adds two operations to each round: the CLI `--remove`
repair of a seeded 1% delete batch on that checkpoint, and one drop of
new clips into the stores of a running `incremental_near_dedup` stream
that already holds a planted corpus (see README.md for why they ride the
traced run only)."""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench import inputs as I
from perfbench.harness import (
    WORK, cached_dir, cpu_count, dir_bytes, last_job_id, source_key,
)

STAGES = ["signatures", "edges", "dropped_buckets", "assignments", "clusters"]
STORES = ["sigs", "posting", "mh_posting", "fp_posting", "fp_pat"]
DROP_TIMEOUT_S = 150.0
# the stream's landing directory: the file source's checkpoint keeps the
# paths it has seen, so the pre-ingest and every run use this one path
LANDING = WORK / "landing"


def _read(path: Path, columns=None) -> pd.DataFrame:
    return pq.read_table(str(path), columns=columns).to_pandas()


class BatchDedup:
    def __init__(self, spark, seed: int, run_dir: Path, tracer) -> None:
        from file_dedup_rust_spark.config import DedupConfig

        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tr = tracer
        self.cfg = DedupConfig()
        self.rounds: list[dict] = []
        self.query = None

    # ------------------------------------------------------------ set-up

    @staticmethod
    def ensure_pool() -> None:
        # the stream store too: only traced runs read it, but a traced run
        # must not pay for building it
        cached_dir("pool", build_pool)
        cached_dir("stream", build_stream)

    def prepare_inputs(self) -> None:
        """Reuse the planted pool (built once per program source, in its
        own process) and write this seed's inputs: the clips of the fresh
        run, the drop files, and a copy of the pre-ingested stores."""
        import pyarrow.compute as pc

        pool = WORK / "cache" / source_key() / "pool"
        table = pq.read_table(str(pool / "clips"))
        self.pool = table.to_pandas()
        ids = self.pool["clip_id"].tolist()
        self.batch_ids = I.batch_ids(ids, self.seed)
        self.slots = I.drop_slots(ids, self.seed)
        inp = self.run_dir / "inputs"
        shutil.rmtree(inp, ignore_errors=True)
        (inp / "drops").mkdir(parents=True)
        pq.write_table(table.filter(pc.is_in(table["clip_id"], pa.array(self.batch_ids))),
                       str(inp / "clips.parquet"))
        self.inputs = inp
        self.clips = self.spark.read.parquet(str(inp / "clips.parquet"))
        if not self.tr.enabled:
            return
        stream = pool.parent / "stream"
        for k in range(I.DROP_SLOTS):
            ks = [c for c, s in self.slots.items() if s == k]
            pq.write_table(table.filter(pc.is_in(table["clip_id"], pa.array(ks))),
                           str(inp / "drops" / f"drop{k}.parquet"))
        self.stream_dir = self.run_dir / "stream"
        shutil.rmtree(self.stream_dir, ignore_errors=True)
        for sub in ("store", "out", "ck"):
            shutil.copytree(stream / sub, self.stream_dir / sub)
        shutil.rmtree(LANDING, ignore_errors=True)
        LANDING.mkdir(parents=True)

    def start_stream(self) -> None:
        from file_dedup_rust_spark.streaming.incremental import incremental_near_dedup

        d = self.stream_dir
        self.query = incremental_near_dedup(
            self.spark, str(LANDING), str(d / "store"), str(d / "out"),
            str(d / "ck"), self.cfg, available_now=False,
        )
        t_end = time.monotonic() + 60
        while not self.query.status["message"].startswith("Waiting for"):
            if time.monotonic() > t_end or self.query.exception() is not None:
                raise RuntimeError(f"stream did not start: {self.query.status}")
            time.sleep(0.05)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    # ------------------------------------------------------------ round

    def max_rounds(self) -> int:
        # every traced round ingests a drop of its own
        return I.DROP_SLOTS if self.tr.enabled else 1_000_000

    def op_names(self) -> list[str]:
        return ["pipeline"] + (["repair", "ingest_drop"] if self.tr.enabled else [])

    def run_op(self, name: str, k: int) -> float:
        return getattr(self, f"_op_{name}")(k)

    def _op_pipeline(self, k: int) -> float:
        from file_dedup_rust_spark.plans.pipeline import run_pipeline

        ck = self.run_dir / f"ck{k}"
        t0 = time.perf_counter()
        with self.tr.span("batch.pipeline"):
            run_pipeline(self.spark, self.clips, self.cfg, str(ck))
        wall = time.perf_counter() - t0
        self.rounds.append({"ck": ck, "pipeline_s": wall})
        return wall

    def _op_repair(self, k: int) -> float:
        """The CLI `--remove` path: resume the intact checkpoint, repair,
        summarize, count."""
        from pyspark.sql import functions as F

        from file_dedup_rust_spark.operators.connected_components import cluster_summary
        from file_dedup_rust_spark.operators.maintenance import (
            repair_after_removal,
            surviving_edges,
        )
        from file_dedup_rust_spark.plans.pipeline import run_pipeline

        r = self.rounds[k]
        r["removed"] = I.removal_ids(self.batch_ids, self.seed + k)
        rm_pdf = pd.DataFrame({"clip_id": r["removed"]})
        sp = self.spark
        t0 = time.perf_counter()
        with self.tr.span("batch.repair"):
            with self.tr.span("table_io.resume"):
                res = run_pipeline(sp, self.clips, self.cfg, str(r["ck"]))
            j0 = last_job_id(sp)
            with self.tr.span("maintenance.repair"):
                rm = sp.createDataFrame(rm_pdf).select(F.col("clip_id").cast("string")).distinct().persist()
                repaired = repair_after_removal(
                    res.assignments, res.edges, rm, signatures=res.signatures, cfg=self.cfg,
                ).persist()
                clusters_after = cluster_summary(repaired, surviving_edges(res.edges, rm)).persist()
                rm.count()
                repaired.count()
                clusters_after.count()
            r["repair_jobs"] = last_job_id(sp) - j0
        wall = time.perf_counter() - t0
        r["repair_s"] = wall
        r["repaired"] = repaired.toPandas()
        for df in (clusters_after, repaired, rm):
            df.unpersist()
        return wall

    def _op_ingest_drop(self, k: int) -> float:
        if self.query is None:
            self.start_stream()
        q = self.query
        src = self.inputs / "drops" / f"drop{k}.parquet"
        staged = self.stream_dir / f".drop{k}.parquet"
        shutil.copyfile(src, staged)
        seen = {p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0}
        j0 = last_job_id(self.spark)
        t0 = time.perf_counter()
        with self.tr.span("streaming.drop"):
            staged.rename(LANDING / f"drop{k}.parquet")
            t_end = time.monotonic() + DROP_TIMEOUT_S
            while not any(p["numInputRows"] > 0 and p["batchId"] not in seen
                          for p in q.recentProgress):
                if q.exception() is not None or time.monotonic() > t_end:
                    raise RuntimeError(f"drop {k} not committed: {q.exception() or q.status}")
                time.sleep(0.02)
        wall = time.perf_counter() - t0
        self.rounds[k]["drop_s"] = wall
        self.rounds[k]["drop_jobs"] = last_job_id(self.spark) - j0
        return wall

    # ------------------------------------------------------------ checks

    def check_op(self, name: str, k: int) -> list[str]:
        return getattr(self, f"_check_{name}")(k)

    def _truth(self):
        """Planted plan, pairs, groups and input features of the pool."""
        if not hasattr(self, "_t"):
            from file_dedup_rust_spark import datagen

            plan = datagen.build_plan(I.POOL_CLIPS, I.POOL_SEED)
            truth = datagen.planted_truth(I.POOL_CLIPS, I.POOL_SEED)
            self._t = (plan, truth, checks.planted_groups(plan, truth),
                       checks.clip_features(self.pool))
        return self._t

    def _check_pipeline(self, k: int) -> list[str]:
        plan, truth, groups, feats = self._truth()
        ids = set(self.batch_ids)
        truth = truth[truth["a"].isin(ids) & truth["b"].isin(ids)]
        r = self.rounds[k]
        ck = r["ck"]
        asg = _read(ck / "assignments")
        edges = _read(ck / "edges")
        sigs = _read(ck / "signatures", ["clip_id", "minhash", "simhash", "pcm_sha"])
        errors = (
            checks.check_assignments(self.batch_ids, asg)
            + checks.check_assignments_match_edges(self.batch_ids, asg, edges)
            + checks.check_edges(edges, feats, sigs, self.cfg)
            + checks.check_cluster_sizes(_read(ck / "clusters"), asg)
        )
        r["recall"], r["precision"] = checks.planted_scores(asg, truth, groups)
        if r["recall"] < 0.99:
            errors.append(f"planted pair recall {r['recall']:.4f} < 0.99")
        joins = checks.distractor_joins(plan, asg)
        if joins:
            errors.append(f"{joins} distractors clustered with their source")
        r["ckpt_bytes"] = {s: dir_bytes(ck / s) for s in STAGES}
        r["edges"] = edges
        r["assignments"] = asg
        return errors

    def _check_repair(self, k: int) -> list[str]:
        r = self.rounds[k]
        return checks.check_repair(r["assignments"], r["repaired"], r["removed"])

    def _check_ingest_drop(self, k: int) -> list[str]:
        plan, truth, groups, feats = self._truth()
        d = self.stream_dir
        matches = _read(d / "out" / "inc")
        sigs = _read(d / "store" / "sigs" / "inc", ["clip_id", "simhash"])
        arrived = [c for c, s in self.slots.items() if s <= k]
        corpus = [c for c in self.pool["clip_id"] if not I.is_reserved(c)]
        ingested = corpus + arrived
        errors = []
        if sorted(sigs["clip_id"]) != sorted(ingested):
            errors.append(f"signature store holds {len(sigs)} rows, "
                          f"{len(ingested)} clips were ingested")
        errors += checks.check_stream_matches(
            matches, arrived, feats["sha"].to_dict(),
            dict(zip(sigs["clip_id"], sigs["simhash"])),
            self.cfg.hamming_max, self.cfg.simhash_bits,
        )
        r = self.rounds[k]
        r["stream_recall"] = checks.stream_recall(truth, matches, ingested, arrived)
        if r["stream_recall"] < 0.99:
            errors.append(f"stream planted pair recall {r['stream_recall']:.4f} < 0.99")
        r["matches"] = matches
        r["store_bytes"] = {s: dir_bytes(d / "store" / s) for s in STORES}
        r["n_ingested"] = len(ingested)
        return errors

    # ------------------------------------------------------------ metrics

    def end_to_end(self) -> dict[str, float]:
        """recall / precision of the fresh pipeline's clusters against the
        planted truth (first round: the same input every round)."""
        r = self.rounds[0]
        return {"recall": r.get("recall", 0.0), "precision": r.get("precision", 0.0)}

    def details(self) -> dict[str, float]:
        from perfbench.harness import median

        done = [r for r in self.rounds if "drop_s" in r]
        repaired = [r for r in self.rounds if "repair_s" in r]
        r = self.rounds[0]
        return {
            "batch.clips_per_s": len(self.batch_ids) / median(x["pipeline_s"] for x in self.rounds),
            "batch.remove_repair_s": (
                median(x["repair_s"] for x in repaired) if repaired else 0.0),
            "batch.ckpt_bytes_per_clip": sum(r.get("ckpt_bytes", {}).values()) / len(self.batch_ids),
            "batch.planted_pair_recall": r.get("recall", 0.0),
            "batch.planted_pair_precision": r.get("precision", 0.0),
            "stream.ingest_drop_s": median(x["drop_s"] for x in done) if done else 0.0,
            "stream.store_bytes_per_clip": (
                sum(done[-1].get("store_bytes", {}).values()) / done[-1]["n_ingested"]
                if done and "n_ingested" in done[-1] else 0.0
            ),
            "stream.planted_pair_recall": done[-1].get("stream_recall", 0.0) if done else 0.0,
        }


def _in_own_process(*args: str) -> None:
    """Build a cache entry in a separate process, so the measuring JVM of
    the first run starts as cold as every later one."""
    import subprocess
    import sys

    subprocess.run([sys.executable, str(Path(__file__).resolve()), *args],
                   check=True, timeout=900, stdout=subprocess.DEVNULL)


def build_pool(tmp: Path) -> None:
    _in_own_process("pool", str(tmp))


def build_stream(tmp: Path) -> None:
    _in_own_process("stream", str(tmp))


def _main(what: str, out: Path) -> None:
    """`pool`: generate the planted pool.  `stream`: pre-ingest the pool's
    unreserved clips into the stores of incremental_near_dedup as one
    micro-batch."""
    from file_dedup_rust_spark.config import DedupConfig
    from file_dedup_rust_spark.streaming.incremental import incremental_near_dedup
    from perfbench.harness import prepare_env, start_session, stop_session

    session_dir = out / "tmp-session"
    prepare_env(session_dir)
    spark = start_session(session_dir)
    try:
        if what == "pool":
            I.write_clips(spark, out / "clips", I.POOL_CLIPS, I.POOL_SEED, cpu_count())
        else:
            pool = I.read_clips_pandas(out.parent / "pool" / "clips")
            shutil.rmtree(LANDING, ignore_errors=True)
            LANDING.mkdir(parents=True)
            pool[~pool["clip_id"].map(I.is_reserved)].to_parquet(
                LANDING / "corpus.parquet", index=False)
            q = incremental_near_dedup(
                spark, str(LANDING), str(out / "store"), str(out / "out"),
                str(out / "ck"), DedupConfig(), available_now=True,
            )
            q.awaitTermination()
            shutil.rmtree(LANDING)
    finally:
        stop_session(spark)
    shutil.rmtree(session_dir, ignore_errors=True)


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from perfbench.harness import become_subreaper, end_descendants

    become_subreaper()
    try:
        _main(sys.argv[1], Path(sys.argv[2]))
    finally:
        end_descendants()
