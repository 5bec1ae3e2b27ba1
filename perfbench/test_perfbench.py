"""Unit tests for the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from harness import counter_diff  # noqa: E402
from loadgen import KEYS, CanarySchedule  # noqa: E402
from oracle import value_hash  # noqa: E402
from stats import percentile, slope, supports, tail_percentile  # noqa: E402
from streamlog import (  # noqa: E402
    CheckpointWatcher,
    event_latencies,
    file_batches,
    file_commit_times,
)
from tracer import prefix_self_times  # noqa: E402


# -- the tail rule: highest percentile with at least ten samples beyond it --
def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(99) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(999) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_supports_is_monotone_in_sample_count():
    assert not supports(999, 99.0)
    assert supports(1000, 99.0)
    assert supports(1000, 50.0)


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    for p in (0, 10, 50, 90, 99, 100):
        assert percentile(xs, p) == np.percentile(xs, p)


def test_slope_of_a_line():
    assert slope([(0, 1), (1, 3), (2, 5)]) == 2.0
    assert slope([(1, 1)]) == 0.0


# -- checkpoint source log + commit log -> per-event latency --
def _write_log(path: str, entries: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "\n".join(json.dumps(e) for e in entries))


def _checkpoint(tmp_path) -> str:
    ck = str(tmp_path / "ckpt")
    entry = lambda name, b: {"path": f"file:///in/{name}", "timestamp": 0, "batchId": b}  # noqa: E731
    # Batch 1's log is a compaction that repeats batch 0's entries.
    _write_log(f"{ck}/sources/0/0", [entry("a.json", 0)])
    _write_log(f"{ck}/sources/0/1.compact", [entry("a.json", 0), entry("b.json", 1)])
    _write_log(f"{ck}/sources/0/2", [entry("c%20d.json", 2)])
    for b, ts in ((0, 100.0), (1, 101.0), (2, 102.0)):
        with open(_mk(f"{ck}/offsets/{b}"), "w") as f:
            f.write("v1\n" + json.dumps({"batchTimestampMs": int(ts * 1000)}) + "\n{}")
    for b, t in ((0, 100.5), (1, 102.0)):  # batch 2 never committed
        p = _mk(f"{ck}/commits/{b}")
        open(p, "w").close()
        os.utime(p, (t, t))
    return ck


def _mk(path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def test_source_log_maps_files_to_batches(tmp_path):
    ck = _checkpoint(tmp_path)
    assert file_batches(ck) == {"a.json": 0, "b.json": 1, "c d.json": 2}
    w = CheckpointWatcher(ck)
    w.scan()
    assert w.timestamps == {0: 100.0, 1: 101.0, 2: 102.0}
    assert w.commits == {0: 100.5, 1: 102.0}


def test_event_latency_joins_due_time_to_batch_commit(tmp_path):
    committed = file_commit_times(_checkpoint(tmp_path))
    assert committed == {"a.json": 100.5, "b.json": 102.0}
    lat = event_latencies(
        [("a.json", 100.0), ("a.json", 100.25), ("b.json", 101.0), ("c d.json", 101.5)],
        committed,
    )
    assert lat == [0.5, 0.25, 1.0]


# -- prefix-difference self time --
def test_prefix_self_times_are_marginal_costs_floored_at_zero():
    got = prefix_self_times([("scan", 1.0), ("shingle", 3.5), ("minhash", 3.0), ("lsh", 4.0)])
    assert got == {"scan": 1.0, "shingle": 2.5, "minhash": 0.0, "lsh": 1.0}


# -- oracle value hash --
def test_value_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["p", "q", None]})
    b = pd.DataFrame({"y": [None, "p", "q"], "x": [3, 1, 2]})
    assert value_hash(a) == value_hash(b)


def test_value_hash_normalizes_like_the_parity_tests():
    floats = pd.DataFrame({"v": [1.0, np.nan, 0.5]})
    objects = pd.DataFrame({"v": [1.0, None, 0.5]}, dtype=object)
    assert value_hash(floats) == value_hash(objects)
    assert value_hash(pd.DataFrame({"v": [1, 2]})) != value_hash(pd.DataFrame({"v": [1.0, 2.0]}))
    lists = pd.DataFrame({"v": [np.array([1.0, 2.5]), [1.0, 2.5]]})
    assert value_hash(lists)["rows"] == 2


def test_counter_diff_counts_lost_and_duplicated():
    want = Counter({("s", 1): 2, ("s", 2): 1})
    got = Counter({("s", 1): 3, ("t", 9): 1})
    assert counter_diff(want, got) == 1 + 1 + 1


# -- load generator schedule --
def test_schedule_is_seeded_and_silences_each_gap():
    a = CanarySchedule(seed=7, warm_s=1.5, run_s=12.0)
    b = CanarySchedule(seed=7, warm_s=1.5, run_s=12.0)
    assert [t.events for t in a.ticks] == [t.events for t in b.ticks]
    assert [g.stream for g in a.gaps] == a.streams[KEYS // 2 :]
    for g in a.gaps:
        sent = [t.due_offset for t in a.ticks for s, kind, _ in t.events if s == g.stream and kind == "ok"]
        assert not [d for d in sent if g.start_offset <= d < g.end_offset]
        assert min(sent) < g.start_offset and max(sent) >= g.end_offset
        assert g.start_offset > a.warm_s


# -- BENCHMARK.json names exactly what run.py reports --
def test_benchmark_json_matches_the_reported_metrics():
    import re

    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in doc["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.LAYER_UNITS
    name_re = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    unit_re = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert name_re.fullmatch(m["name"]) and unit_re.fullmatch(m["unit"])
    assert max(m["bound"] for m in doc["end_to_end"]) == next(
        m["bound"] for m in doc["end_to_end"] if m["name"] == "setup_s"
    )
