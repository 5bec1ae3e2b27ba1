"""What every workload shares: the run context, set-up, timed
materialization and the pass/fail ledger."""

from __future__ import annotations

import os
import time
from collections import Counter
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from tracer import Tracer, prefix_self_times


@dataclass
class Ledger:
    """Operations attempted and failed, with a note per failure kind."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def record(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append(f"{what}: {failed} of {attempted} failed")


@dataclass
class Ctx:
    work: str
    cache_dir: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    tracer: Tracer
    ledger: Ledger = field(default_factory=Ledger)
    spark: object = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def new_session(self):
        from amazon_kinesis_data_streams_health_check_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark


@dataclass
class Setup:
    get_spark_s: float
    warmup_s: float

    @property
    def total_s(self) -> float:
        return self.get_spark_s + self.warmup_s

    def layers(self) -> dict[str, float]:
        return {"session.get_spark_s": self.get_spark_s, "session.warmup_s": self.warmup_s}


def run_setup(ctx: Ctx, warm: Callable[[], None]) -> Setup:
    """Set up once, cold: launch the JVM and a session through the
    package's own factory, then ``warm()`` (the workload's registry import,
    stream start-up and untimed warm-up pass, which pays the JIT)."""
    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark", "setup"):
        ctx.new_session()
    t1 = time.perf_counter()
    with ctx.tracer.span("session.warmup", "setup"):
        warm()
    return Setup(t1 - t0, time.perf_counter() - t1)


def noop(df) -> None:
    """Materialize every column of ``df`` without collecting it (a count
    would let Catalyst prune the projection)."""
    df.write.format("noop").mode("overwrite").save()


def timed_noop(df) -> float:
    t0 = time.perf_counter()
    noop(df)
    return time.perf_counter() - t0


def query_pass(ctx: Ctx, queries: Sequence, sf_dir: str, pass_id: str) -> dict:
    """Build and materialize each registry query once, in order.

    Traced, every query gets its own job group, spans around the builder
    call and the noop write, and a job count from the status tracker.
    """
    spark = ctx.spark
    sc = spark.sparkContext
    build = execute = 0.0
    jobs = 0
    walls: dict[str, float] = {}
    t0 = time.perf_counter()
    for q in queries:
        if not ctx.trace:
            b0 = time.perf_counter()
            noop(q.builder(spark, sf_dir))
            walls[q.name] = time.perf_counter() - b0
            continue
        group = f"{pass_id}:{q.name}"
        sc.setJobGroup(group, q.name)
        with ctx.tracer.span("plans.query", group) as parent:
            b0 = time.perf_counter()
            with ctx.tracer.span("plans.build", group, parent):
                df = q.builder(spark, sf_dir)
            b1 = time.perf_counter()
            with ctx.tracer.span("plans.exec", group, parent):
                noop(df)
            b2 = time.perf_counter()
        walls[q.name] = b2 - b0
        build += b1 - b0
        execute += b2 - b1
        jobs += len(sc.statusTracker().getJobIdsForGroup(group))
    if ctx.trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {
        "wall_s": time.perf_counter() - t0,
        "query_walls": walls,
        "build_s": build,
        "exec_s": execute,
        "jobs": jobs,
    }


def prefix_chain(ctx: Ctx, trace_id: str, stages: Sequence[tuple[str, object]]) -> dict[str, float]:
    """Self time of each stage of a composed pipeline: materialize every
    prefix once and difference consecutive prefixes. (One materialization
    per prefix keeps a traced run inside its time limit; the workload's
    own passes have already warmed these code paths.)"""
    times = []
    for name, df in stages:
        with ctx.tracer.span(f"prefix:{name}", trace_id):
            times.append((name, timed_noop(df)))
    return prefix_self_times(times)


def counter_diff(expected: Counter, observed: Counter) -> int:
    """Events lost plus events duplicated between two multisets."""
    keys = set(expected) | set(observed)
    return sum(abs(expected[k] - observed[k]) for k in keys)
