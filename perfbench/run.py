#!/usr/bin/env python3
"""sparkdedup benchmark.

    python3 perfbench/run.py --workload batch_dedup --seed 42 --seconds 1 --trace 0

Runs one workload on local[<cores>] from the root of a checkout and
prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}.  --trace 0 reports the
end-to-end metrics; --trace 1 records spans around the calls into each
layer and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
import traceback
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.harness import (  # noqa: E402
    PACKAGE, WORK, RssSampler, Tracer, become_subreaper, cpu_seconds, end_descendants, median,
    prepare_env, start_session, stop_session,
)

WORKLOADS = ("batch_dedup", "corpus_queries")
SETUP_REPEATS = 3


def _workload(name: str):
    if name == "batch_dedup":
        from perfbench.batch import BatchDedup

        return BatchDedup
    from perfbench.queries import CorpusQueries

    return CorpusQueries


def run(args) -> dict:
    run_id = uuid.uuid4().hex[:12]
    run_dir = WORK / "runs" / run_id
    tracer = Tracer(run_id, enabled=bool(args.trace))
    prepare_env(run_dir)
    cls = _workload(args.workload)
    # inputs shared by every seed are built once per program source, in a
    # process of their own, before anything of this run is measured
    cls.ensure_pool()
    spark = None
    wl = None
    with RssSampler() as rss:
        try:
            # set-up is measured in CPU seconds, like the round (README.md)
            c0, t0 = cpu_seconds(), time.perf_counter()
            spark = start_session(run_dir)
            t_start = time.perf_counter() - t0
            c_start = cpu_seconds() - c0
            wl = cls(spark, args.seed, run_dir, tracer)
            reuse, reuse_cpu = [], []
            for _ in range(SETUP_REPEATS):
                c0, t0 = cpu_seconds(), time.perf_counter()
                wl.prepare_inputs()
                reuse.append(time.perf_counter() - t0)
                reuse_cpu.append(cpu_seconds() - c0)
            setup_s = c_start + median(reuse_cpu)

            attempted = failed = 0
            round_walls, round_cpu = [], []
            t_begin = time.monotonic()
            k = 0
            while k < wl.max_rounds():
                walls, cpu = [], []
                for name in wl.op_names():
                    attempted += 1
                    try:
                        c0 = cpu_seconds()
                        walls.append(wl.run_op(name, k))
                        cpu.append(cpu_seconds() - c0)
                        errors = wl.check_op(name, k)
                    except Exception:  # an operation failure is counted, not fatal
                        errors = [traceback.format_exc()]
                    if errors:
                        failed += 1
                        print(f"FAILED {args.workload}/{name} round {k}: {errors}",
                              file=sys.stderr)
                round_walls.append(sum(walls))
                round_cpu.append(sum(cpu))
                k += 1
                if time.monotonic() - t_begin >= args.seconds:
                    break
            wl.stop()

            details = wl.details()
            print(json.dumps({"workload": args.workload, "seed": args.seed,
                              "rounds": k, "round_s": median(round_walls),
                              "setup_wall_s": {
                                  "session": t_start, "inputs": median(reuse)},
                              "details": details}))
            if args.trace:
                from perfbench.layers import trace_layers

                metrics = trace_layers(wl, tracer, spark)
                metrics.update({
                    "session.start_s": t_start,
                    "session.inputs_s": median(reuse),
                    "trace.round_s": median(round_walls),
                    "trace.round_cpu_s": median(round_cpu),
                })
                metrics.update(details)
                tracer.write(WORK / "traces" / f"{args.workload}-s{args.seed}-{run_id}.jsonl")
                units = None
            else:
                metrics = {
                    "setup_s": setup_s,
                    "round_cpu_s": median(round_cpu),
                    **wl.end_to_end(),
                }
                units = {"setup_s": "s", "round_cpu_s": "s", "recall": "ratio",
                         "precision": "ratio"}
        finally:
            if wl is not None:
                wl.stop()
            if spark is not None:
                stop_session(spark)
            shutil.rmtree(run_dir, ignore_errors=True)
    if units is not None:
        metrics["peak_rss_mb"] = rss.peak_mb
        units["peak_rss_mb"] = "MB"
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        from perfbench.layers import UNITS

        out = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not PACKAGE.is_dir():
        print(f"perfbench: the program is missing ({PACKAGE} not found)", file=sys.stderr)
        return 2
    become_subreaper()
    try:
        result = run(args)
    finally:
        end_descendants()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
