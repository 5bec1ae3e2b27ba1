#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload canary_live --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` under ``perfbench/.work/`` (removed when the run ends), drives the
program through its public functions, checks every output, and prints as the
last line of standard output one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it records
the environment. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
is a separate traced run that reports the per-layer metrics, including the
tracing overhead, and writes its spans to ``perfbench/.traces/``.

Honors ``SPARK_GRAFT_CPUS`` (``local[N]``; defaults to the cores this process
may use) and ``SPARK_LOCAL_DIRS`` (defaults to a directory under the work
directory), like the repository's ``bench.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "amazon_kinesis_data_streams_health_check_spark"

#: End-to-end metrics: every workload reports every one of them.
E2E_UNITS = {
    "setup_s": "s",
    "latency_s": "s",
    "batch_wall_s": "s",
}

#: Per-layer metrics; a layer a workload does not load reads 0.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "bytes",
    "sources.kinesis_sim.rows_per_s": "1/s",
    "operators.consumer.self_s": "s",
    "operators.consumer.drop_frac": "ratio",
    "operators.lag.self_s": "s",
    "operators.alarm.tumbling_max.self_s": "s",
    "operators.alarm.grid.self_s": "s",
    "operators.alarm.evaluate.self_s": "s",
    "operators.alarm.grid_rows": "count",
    "operators.kpl_agg.self_s": "s",
    "operators.dedup.shingle.self_s": "s",
    "operators.dedup.minhash.self_s": "s",
    "operators.dedup.lsh.self_s": "s",
    "operators.dedup.verify.self_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.precision": "ratio",
    "operators.similarity.self_s": "s",
    "operators.similarity.pairs_scored": "count",
    "operators.textstats.self_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.backlog_files": "files/s",
    "streaming.latency_p90_s": "s",
    "streaming.drain_eps": "1/s",
    "streaming.drain_trigger_s": "s",
    "streaming.state.rows_total": "count",
    "streaming.state.memory_bytes": "bytes",
    "streaming.state.commit_s": "s",
    "streaming.alarm.timeouts_fired": "count",
    "streaming.alarm.detect_p50_s": "s",
    "loadgen.late_max_s": "s",
    "loadgen.events_offered": "count",
    "runtime.gc_s": "s",
    "runtime.peak_rss_mb": "MB",
    "runtime.shuffle_write_bytes": "bytes",
    "runtime.tasks": "count",
    "trace.overhead_s": "s",
}

WORKLOADS = ("canary_live", "registry_batch")


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # still running after the grace period
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import runtime
    from harness import Ctx
    from tracer import Tracer

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    load1 = runtime.load1()
    runtime.prepare_env(work, event_log)
    ctx = Ctx(
        work=work,
        cache_dir=os.path.join(HERE, ".cache"),
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
        tracer=Tracer(bool(args.trace)),
    )
    module = __import__(args.workload)
    try:
        res = module.run(ctx)
        peak = runtime.peak_rss_mb(ctx.spark)
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": runtime.nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
            "load1_at_start": load1,
            "peak_rss_mb": peak,
            "git_commit": runtime.git_commit(ROOT),
            **runtime.versions(ctx.spark),
            **res["env"],
        }
        if "check" in res:
            res["check"]()
        if args.trace:
            layers = dict.fromkeys(LAYER_UNITS, 0.0)
            layers.update(res["setup"].layers())
            layers.update(res["layers"])
            layers["runtime.peak_rss_mb"] = peak
            tot = runtime.task_totals(event_log, *res["window"])
            layers.update(
                {
                    "sources.rows_read": tot["rows_read"],
                    "sources.bytes_read": tot["bytes_read"],
                    "runtime.shuffle_write_bytes": tot["shuffle_write_bytes"],
                    "runtime.tasks": tot["tasks"],
                }
            )
            unknown = set(layers) - set(LAYER_UNITS)
            if unknown:
                raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
            metrics = {k: {"value": float(v), "unit": LAYER_UNITS[k]} for k, v in layers.items()}
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            ctx.tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}-{int(time.time())}.json"))
        else:
            values = {"setup_s": res["setup"].total_s}
            values.update(res["e2e"])
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in E2E_UNITS.items()}
        env["failures"] = ctx.ledger.notes
    finally:
        if ctx.spark is not None:
            _shutdown(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    ledger = ctx.ledger
    print(json.dumps({"env": env}))
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0 and ledger.attempted > 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
