"""The consumer graph canary_live runs (live, and as a backlog drain), the
exactly-once check on its metrics sink, and the per-layer readings of its
micro-batches."""

from __future__ import annotations

import time
from collections import Counter
from collections.abc import Iterable

from harness import Ctx, counter_diff, prefix_chain


def expected_rows(events: Iterable[tuple[str, int, str]]) -> tuple[Counter, int]:
    """``(stream, second, kind)`` events -> the multiset of metric rows the
    sink must hold (one per well-formed event), and the malformed count."""
    rows: Counter = Counter()
    malformed = 0
    for stream, sec, kind in events:
        if kind == "ok":
            rows[(stream, sec)] += 1
        else:
            malformed += 1
    return rows, malformed


def sink_rows(spark, sink: str) -> Counter:
    from pyspark.sql import functions as F

    grouped = (
        spark.read.parquet(sink)
        .groupBy("stream_name", F.unix_timestamp("ts").alias("sec"))
        .count()
        .collect()
    )
    return Counter({(r["stream_name"], r["sec"]): r["count"] for r in grouped})


def check_sink(ctx: Ctx, sink: str, expected: Counter, malformed: int, what: str) -> None:
    """Every well-formed event appears exactly once, every malformed one is
    dropped. Each event is one operation; a lost, duplicated or stray row
    fails one."""
    bad = counter_diff(expected, sink_rows(ctx.spark, sink))
    total = sum(expected.values()) + malformed
    ctx.ledger.record(total, min(bad, total), what)


def start_metrics_query(ctx: Ctx, in_dir: str, tag: str, max_files: int, available_now: bool):
    """``consumer_stream -> write_metrics_sink`` on fresh sink and
    checkpoint directories; returns (query, sink, checkpoint)."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
        consumer_stream,
        write_metrics_sink,
    )

    sink, ckpt = ctx.path(tag, "sink"), ctx.path(tag, "ckpt")
    metrics = consumer_stream(ctx.spark, in_dir, max_files_per_trigger=max_files)
    q = write_metrics_sink(metrics, sink, ckpt, trigger_available_now=available_now)
    return q, sink, ckpt


#: How long a backlog drain may take.
DRAIN_TIMEOUT_S = 150.0


def drain(ctx: Ctx, in_dir: str, tag: str, max_files: int):
    """availableNow drain of everything in ``in_dir``; returns
    (wall seconds, sink, query)."""
    t0 = time.perf_counter()
    q, sink, _ = start_metrics_query(ctx, in_dir, tag, max_files, available_now=True)
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"drain {tag} did not finish in {DRAIN_TIMEOUT_S}s")
    return time.perf_counter() - t0, sink, q


def consumer_probe(ctx: Ctx, in_dir: str, n_events: int, trace_id: str) -> dict[str, float]:
    """Batch-read the same kinesis-event files and time the consumer
    operators as the marginal cost over the record scan."""
    from pyspark.sql import functions as F

    from amazon_kinesis_data_streams_health_check_spark.operators.consumer import (
        decoded_records,
        metric_rows,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_events import (
        explode_records,
        read_kinesis_events_json,
    )

    records = explode_records(read_kinesis_events_json(ctx.spark, in_dir))
    rows = metric_rows(decoded_records(records), F.current_timestamp())
    selfs = prefix_chain(ctx, trace_id, [("scan", records), ("consumer", rows)])
    kept = rows.count()
    return {
        "sources.scan_s": selfs["scan"],
        "operators.consumer.self_s": selfs["consumer"],
        "operators.consumer.drop_frac": 1.0 - kept / n_events if n_events else 0.0,
    }


def progress_phases(query) -> list[dict]:
    """``durationMs`` and input counts of each batch that read data."""
    out = []
    for p in query.recentProgress:
        if p.numInputRows > 0:
            out.append(
                {
                    "batch": p.batchId,
                    "timestamp": p.timestamp,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state": [
                        {
                            "rows_total": s.numRowsTotal,
                            "memory_bytes": s.memoryUsedBytes,
                            "commit_ms": s.commitTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                }
            )
    return out


#: ``durationMs`` phases in the order a micro-batch runs them.
PHASES = ("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets")


def epoch(iso: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def streaming_layers(ctx: Ctx, phases: list[dict], name: str) -> dict[str, float]:
    """Per-layer streaming numbers from batch progress, and one span per
    phase (laid end to end under the batch's trigger span)."""
    from stats import median

    for b in phases:
        start = epoch(b["timestamp"])
        trigger = b["ms"].get("triggerExecution", 0) / 1000.0
        parent = ctx.tracer.add("streaming.trigger", f"{name}:{b['batch']}", start, start + trigger)
        t = start
        for ph in PHASES:
            d = b["ms"].get(ph, 0) / 1000.0
            ctx.tracer.add(f"streaming.{ph}", f"{name}:{b['batch']}", t, t + d, parent)
            t += d

    def p50(key: str) -> float:
        vals = [b["ms"].get(key, 0) / 1000.0 for b in phases]
        return median(vals) if vals else 0.0

    return {
        "streaming.trigger_s": p50("triggerExecution"),
        "streaming.add_batch_s": p50("addBatch"),
        "streaming.latest_offset_s": p50("latestOffset"),
        "streaming.query_planning_s": p50("queryPlanning"),
        "streaming.wal_commit_s": p50("walCommit"),
        "streaming.batches": float(len(phases)),
        "streaming.rows_per_batch": (
            sum(b["rows"] for b in phases) / len(phases) if phases else 0.0
        ),
    }
