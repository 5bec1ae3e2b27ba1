"""canary_live: the reference's own job, run live against an open-loop
load, and the same consumer graph draining a backlog.

A run sets up (session, one untimed drain, then ``SETUP_LIVE_S`` of live
load through both queries), times ``TIMED_DRAINS`` drains, then times one
live window on fresh queries. The JVM is still getting faster for most of a
minute after it starts; set-up pays the bulk of that, and each timed drain
and the live window come after it.

Live: two concurrent streaming queries read the generator's kinesis-event
files, ``consumer_stream -> write_metrics_sink`` (the lag metric) and
``consumer_stream -> alarm_state_stream -> alerts_foreach_batch_sink`` (the
heartbeat-timeout alarm). Per event, latency runs from the event's due
instant to the commit of the metrics batch that wrote its row; per seeded
heartbeat gap, detection runs from the instant the key's silence passes the
timeout to the commit of the alarm batch carrying its ALARM transition.

Backfill: an ``availableNow`` drain of a seeded backlog through the same
``consumer_stream -> write_metrics_sink`` graph; every drained event is due
when the drain starts. This is the throughput side of the latency trade.
"""

from __future__ import annotations

import os
import time

import numpy as np

from datagen import backlog
from harness import Ctx, run_setup
from loadgen import MALFORMED_FRAC, TICK_S, CanarySchedule, Generator
from runtime import gc_seconds
from sinks import (
    check_sink,
    consumer_probe,
    drain,
    epoch,
    expected_rows,
    progress_phases,
    start_metrics_query,
    streaming_layers,
)
from stats import median, percentile, slope, supports
from streamlog import (
    CheckpointWatcher,
    event_latencies,
    file_commit_times,
    wait_committed,
)

#: Seconds of live load through both queries in set-up, after the warm-up
#: drain. The live micro-batches keep getting faster for about this long
#: (JIT warm-up); its events are checked but not timed.
SETUP_LIVE_S = 8.0
#: Seconds of load before the measured window; its events are checked but
#: not timed, so stream start-up stays out of the latency figures.
WARM_S = 2.0
#: Heartbeat timeout of the alarm: five heartbeats, well inside the seeded
#: gaps (see ``loadgen.GAP_S``).
TIMEOUT_MS = 1000
#: Lag (seconds) above which a datapoint breaches. Set far above the lag
#: this load produces, so every ALARM in the run comes from silence.
ALARM_THRESHOLD = 60.0
#: Files one trigger may take: all that are waiting, so a stall is caught
#: up in one batch instead of growing a backlog.
MAX_FILES_PER_TRIGGER = 1000
#: A gap's ALARM comes from a batch that started before the key's data
#: resumed (a batch that reads the resumed data cannot time the key out);
#: this much later still matches, for the file listing's own delay.
MATCH_SLACK_S = 0.5
#: How long the queries may take to commit the last file once it is written.
COMMIT_TIMEOUT_S = 60.0
#: The backlog: 32 files of 1000 events over 8 uneven stream keys, drained
#: eight files per trigger.
BACKLOG_FILES = 32
BACKLOG_PER_FILE = 1000
BACKLOG_STREAMS = [f"backfill-{i:02d}" for i in range(8)]
DRAIN_MAX_FILES = 8
#: Timed drains, after set-up and before the live window; the fastest is
#: reported. Each drain is a little faster than the one before it.
TIMED_DRAINS = 3
#: The tail percentile of live latency (``streaming.latency_p90_s``). Events
#: of one tick share a file and so a commit instant: the tail rule counts
#: files, not events.
TAIL_P = 90.0


class Backlog:
    """A seeded kinesis-event backlog and its checked drains."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "backlog")
        events = backlog(
            np.random.default_rng(ctx.seed),
            self.dir,
            os.path.join(ctx.work, "backlog-staging"),
            BACKLOG_FILES,
            BACKLOG_PER_FILE,
            BACKLOG_STREAMS,
            MALFORMED_FRAC,
        )
        self.n_events = len(events)
        self.expected, self.malformed = expected_rows(events)
        self.drains = 0

    def drain(self) -> dict:
        tag = f"drain-{self.drains}"
        self.drains += 1
        wall, sink, q = drain(self.ctx, self.dir, tag, DRAIN_MAX_FILES)
        check_sink(self.ctx, sink, self.expected, self.malformed, tag)
        return {"wall_s": wall, "phases": progress_phases(q)}


def _start(ctx: Ctx, in_dir: str, tag: str):
    from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
        alerts_foreach_batch_sink,
        consumer_stream,
    )
    from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
        alarm_state_stream,
    )

    qm, sink, ckm = start_metrics_query(
        ctx, in_dir, f"{tag}/metrics", MAX_FILES_PER_TRIGGER, available_now=False
    )
    alerts_path, cka = ctx.path(tag, "alerts"), ctx.path(tag, "alerts-ckpt")
    alerts = alarm_state_stream(
        consumer_stream(ctx.spark, in_dir, max_files_per_trigger=MAX_FILES_PER_TRIGGER),
        threshold=ALARM_THRESHOLD,
        timeout_ms=TIMEOUT_MS,
    )
    qa = alerts_foreach_batch_sink(alerts, alerts_path, cka)
    return qm, qa, sink, ckm, alerts_path, cka


def _dirs(ctx: Ctx, tag: str) -> tuple[str, str]:
    in_dir, staging = ctx.path(tag, "in"), ctx.path(tag, "staging")
    os.makedirs(in_dir, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    return in_dir, staging


def _events(schedule: CanarySchedule) -> list[tuple[str, int, str]]:
    return [
        (s, t.created_us // 1_000_000, kind)
        for t in schedule.ticks
        if t.written
        for s, kind, _ in t.events
    ]


def _alarm_check(
    ctx: Ctx, sched: CanarySchedule, t0: float, alerts_path: str, watcher: CheckpointWatcher
) -> list[float]:
    """Match ALARM transitions to the seeded gaps; returns detection delays.

    A gap must yield exactly one ALARM; an ALARM that matches no gap and
    comes before the key's final event is a false alarm. ALARMs after a
    key's final event are the silence at the end of the run and are not
    counted."""
    due: dict[str, list[float]] = {s: [] for s in sched.streams}
    for t in sched.ticks:
        for s, kind, _ in t.events:
            if kind == "ok":
                due[s].append(t0 + t.due_offset)
    alarms: dict[str, list[int]] = {s: [] for s in sched.streams}
    if os.path.isdir(alerts_path):
        for r in (
            ctx.spark.read.parquet(alerts_path)
            .filter("state = 'ALARM'")
            .select("stream_name", "batch_id")
            .collect()
        ):
            alarms.setdefault(r["stream_name"], []).append(int(r["batch_id"]))
    bts, commits = watcher.timestamps, watcher.commits
    seen = {s: [round(bts.get(b, 0.0) - t0, 2) for b in bs] for s, bs in alarms.items()}
    # The silence after a key's final event also fires; it is not a gap.
    for s, bs in alarms.items():
        last = due[s][-1] if due.get(s) else 0.0
        alarms[s] = [b for b in bs if bts.get(b, 0.0) <= last]
    delays: list[float] = []
    failed = false_alarms = 0
    timeout_s = TIMEOUT_MS / 1000.0
    for g in sched.gaps:
        times = due[g.stream]
        before = [d for d in times if d < t0 + g.start_offset]
        after = [d for d in times if d >= t0 + g.end_offset]
        lo = before[-1] if before else t0
        hi = (after[0] if after else times[-1]) + MATCH_SLACK_S
        hits = [b for b in alarms[g.stream] if lo < bts.get(b, 0.0) <= hi]
        for b in hits:
            alarms[g.stream].remove(b)
        if len(hits) == 1 and hits[0] in commits and before and after:
            delays.append(commits[hits[0]] - (lo + timeout_s))
            continue
        failed += 1
        ctx.ledger.notes.append(
            f"gap {g.stream} [{g.start_offset:.1f}, {g.end_offset:.1f}) s: "
            f"{len(hits)} ALARMs, last event {lo - t0:.2f} s, resumed "
            f"{(after[0] - t0) if after else float('nan'):.2f} s; "
            f"ALARM batches of the key at {seen[g.stream]} s"
        )
    for s, false in alarms.items():
        false_alarms += len(false)
        if false:
            ctx.ledger.notes.append(
                f"false ALARM {s} at {[round(bts.get(b, 0.0) - t0, 2) for b in false]} s"
            )
    ctx.ledger.record(len(sched.gaps) + false_alarms, failed + false_alarms, "canary alarms")
    return delays


def _start_live(ctx: Ctx, tag: str, seed: int, warm_s: float, run_s: float) -> dict:
    """Start both live queries on a fresh input directory, and the
    generator on one schedule: ``warm_s`` of untimed load, then ``run_s``
    of measured load."""
    in_dir, staging = _dirs(ctx, tag)
    qm, qa, sink, ckm, alerts_path, cka = _start(ctx, in_dir, tag)
    sched = CanarySchedule(seed=seed, warm_s=warm_s, run_s=run_s)
    t0 = time.time() + 0.5
    gen = Generator(sched, in_dir, staging, t0)
    watcher = CheckpointWatcher(cka)
    watcher.start()
    gen.start()
    return {
        "tag": tag,
        "in_dir": in_dir,
        "queries": (qm, qa),
        "sink": sink,
        "checkpoint": ckm,
        "alerts_path": alerts_path,
        "sched": sched,
        "t0": t0,
        "gen": gen,
        "watcher": watcher,
    }


def _run_out(ctx: Ctx, live: dict) -> float:
    """Let the generator write its last tick, wait until the metrics sink
    holds every file, stop both queries and check the sink; returns the
    instant the last file was committed.

    Only the metrics sink must hold every file. The alarm query is not
    waited for: every seeded gap ends half a second before the load does,
    and its ALARM is committed long before that."""
    qm, qa = live["queries"]
    sched, gen = live["sched"], live["gen"]
    gen.join(sched.warm_s + sched.run_s + 60.0)
    if gen.is_alive() or gen.error is not None:
        gen.stop()
        gen.join(10.0)
        raise RuntimeError(f"load generator failed: {gen.error!r}")
    wait_committed(live["checkpoint"], [t.file for t in sched.ticks], COMMIT_TIMEOUT_S)
    t_end = time.time()
    start = live["t0"] + sched.warm_s
    live["phases"] = [
        [b for b in progress_phases(q) if epoch(b["timestamp"]) >= start] for q in (qm, qa)
    ]
    qm.stop()
    qa.stop()
    live["watcher"].finish()
    expected, malformed = expected_rows(_events(sched))
    check_sink(ctx, live["sink"], expected, malformed, f"canary {live['tag']} sink")
    return t_end


def _measure_live(ctx: Ctx) -> dict:
    """The measured live window: fresh queries, ``WARM_S`` of untimed load,
    then ``--seconds`` of timed load; checks and times what they wrote."""
    live = _start_live(ctx, "live", ctx.seed, WARM_S, ctx.seconds)
    sched, t0 = live["sched"], live["t0"]
    gc0 = gc_seconds(ctx.spark)
    t_end = _run_out(ctx, live)
    gc_s = gc_seconds(ctx.spark) - gc0
    phases_m, phases_a = live["phases"]
    committed = file_commit_times(live["checkpoint"])
    timed = [
        (t.file, t0 + t.due_offset)
        for t in sched.ticks
        if sched.measured(t)
        for _, kind, _ in t.events
        if kind == "ok"
    ]
    # Events of a file no committed batch read are already failed by the
    # sink check.
    lat = event_latencies(timed, committed)
    lat_files = len({f for f, _ in timed if f in committed})
    delays = _alarm_check(ctx, sched, t0, live["alerts_path"], live["watcher"])

    late = [t.written - t.due for t in sched.ticks]
    commit_of = sorted(committed.get(t.file, float("inf")) for t in sched.ticks)
    written = sorted(t.written for t in sched.ticks)
    grid = [t0 + WARM_S + k * 0.5 for k in range(int(ctx.seconds / 0.5) + 1)]
    queued = [
        (t, sum(1 for w in written if w <= t) - sum(1 for c in commit_of if c <= t))
        for t in grid
    ]
    return {
        "in_dir": live["in_dir"],
        "sched": sched,
        "latencies": lat,
        "latency_files": lat_files,
        "delays": delays,
        "late": late,
        "phases_m": phases_m,
        "phases_a": phases_a,
        "backlog_slope": slope(queued),
        "gc_s": gc_s,
        "window": (t0 + WARM_S, t_end),
    }


def _trigger_p50(phases: list[dict]) -> float:
    return median([b["ms"]["triggerExecution"] / 1000.0 for b in phases])


def run(ctx: Ctx) -> dict:
    t0 = time.perf_counter()
    bl = Backlog(ctx)
    t_gen = time.perf_counter()

    def warm() -> None:
        """One untimed backlog drain, then stream start-up and
        ``SETUP_LIVE_S`` of live load through both queries."""
        bl.drain()
        _run_out(ctx, _start_live(ctx, "setup", ctx.seed + 1000, SETUP_LIVE_S, 0.0))

    setup = run_setup(ctx, warm)
    t_setup = time.perf_counter()
    drains = [bl.drain() for _ in range(TIMED_DRAINS)]
    t_drain = time.perf_counter()
    ph = _measure_live(ctx)
    t_live = time.perf_counter()
    dr = min(drains, key=lambda d: d["wall_s"])
    lat = ph["latencies"]
    if not supports(ph["latency_files"], TAIL_P):
        raise RuntimeError(f"{ph['latency_files']} latency files cannot support a p{TAIL_P:g}")
    out = {
        "setup": setup,
        "e2e": {
            "latency_s": median(lat),
            "batch_wall_s": dr["wall_s"],
        },
        "env": {
            "timeline_s": {
                "inputs": t_gen - t0,
                "setup": t_setup - t_gen,
                "drain": t_drain - t_setup,
                "live": t_live - t_drain,
            },
            "latency_samples": len(lat),
            "latency_files": ph["latency_files"],
            "live_trigger_p50_s": _trigger_p50(ph["phases_m"]),
            "alarm_trigger_p50_s": _trigger_p50(ph["phases_a"]),
            "backlog_events": bl.n_events,
            "drain_walls_s": [d["wall_s"] for d in drains],
            "alarm_samples": len(ph["delays"]),
            "events_offered": ph["sched"].n_events,
            "loadgen_late_max_s": max(ph["late"]),
            "loadgen_fell_behind": max(ph["late"]) > TICK_S,
        },
    }
    if not ctx.trace:
        return out

    # Tracing reads the untraced window after the fact: spans are rebuilt
    # from batch progress, and the consumer probe re-reads the live input.
    # Its overhead is the time that post-hoc work takes.
    t_trace = time.perf_counter()
    layers = {}
    streaming_layers(ctx, dr["phases"], "drain")
    streaming_layers(ctx, ph["phases_a"], "canary-alarm")
    layers.update(streaming_layers(ctx, ph["phases_m"], "canary-metrics"))
    layers.update(consumer_probe(ctx, ph["in_dir"], ph["sched"].n_events, "canary-consumer"))
    state = [b["state"][0] for b in ph["phases_a"] if b["state"]]
    layers.update(
        {
            "streaming.backlog_files": ph["backlog_slope"],
            "streaming.latency_p90_s": percentile(lat, TAIL_P),
            "streaming.drain_eps": bl.n_events / dr["wall_s"],
            "streaming.drain_trigger_s": _trigger_p50(dr["phases"]),
            "streaming.alarm.detect_p50_s": median(ph["delays"]) if ph["delays"] else 0.0,
            "streaming.alarm.timeouts_fired": float(len(ph["delays"])),
            "streaming.state.rows_total": float(state[-1]["rows_total"]) if state else 0.0,
            "streaming.state.memory_bytes": float(state[-1]["memory_bytes"]) if state else 0.0,
            "streaming.state.commit_s": (
                median([s["commit_ms"] / 1000.0 for s in state]) if state else 0.0
            ),
            "loadgen.late_max_s": max(ph["late"]),
            "loadgen.events_offered": float(ph["sched"].n_events),
            "runtime.gc_s": ph["gc_s"],
            "trace.overhead_s": time.perf_counter() - t_trace,
        }
    )
    out["layers"] = layers
    # Task totals from the event log: the live window.
    out["window"] = ph["window"]
    return out
