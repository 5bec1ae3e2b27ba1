"""Open-loop canary load: one generator thread writes kinesis-event files on
a fixed schedule whatever the system under test is doing.

Events are due at tick instants. Each tick's events go into one file,
written under a staging name and renamed into the watched directory, and
each event's payload carries the instant the generator created it. Latency
is timed from the due instant, so a stall also charges the events queued
behind it; how late the generator itself ran is reported separately.

Every stream key sends a heartbeat every ``HEARTBEAT_S`` plus a Zipf share
of extra traffic. Each key in the lighter half also goes silent once, for
``GAP_S``, at a seeded instant inside the measured window: the alarm must
flag each such gap exactly once. (Silencing only light keys keeps the
offered load nearly the same whatever the seed.)
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from datagen import event_line, malformed_kinds, write_lines, zipf_shares

KEYS = 16
#: Zipf-skewed traffic on top of the heartbeats, events per second.
EXTRA_EPS = 600.0
TICK_S = 0.1
HEARTBEAT_S = 0.2
#: A processing-time timeout is only checked when a batch starts, and the
#: alarm query's batches take 2-5 s on a busy 4-core box, so a gap must
#: outlast about two of them to be seen at all.
GAP_S = 10.0
#: Share of malformed payloads, in the live load and in the backlog.
MALFORMED_FRAC = 0.01


@dataclass
class Tick:
    index: int
    due_offset: float
    events: list[tuple[str, str, int]]  # (stream, kind, seq)
    file: str = ""
    due: float = 0.0
    created_us: int = 0
    written: float = 0.0


@dataclass
class Gap:
    stream: str
    start_offset: float
    end_offset: float


@dataclass
class CanarySchedule:
    seed: int
    warm_s: float
    run_s: float
    ticks: list[Tick] = field(init=False)
    gaps: list[Gap] = field(init=False)

    def __post_init__(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.streams = [f"canary-{i:02d}" for i in range(KEYS)]
        n_ticks = int(math.ceil((self.warm_s + self.run_s) / TICK_S))
        hb_every = max(1, round(HEARTBEAT_S / TICK_S))
        phase = rng.integers(0, hb_every, KEYS)
        self.gaps = []
        lo, hi = self.warm_s + 0.5, self.warm_s + self.run_s - GAP_S - 0.5
        if hi > lo:
            for s in self.streams[KEYS // 2 :]:
                g0 = float(rng.uniform(lo, hi))
                self.gaps.append(Gap(s, g0, g0 + GAP_S))
        silent = {g.stream: (g.start_offset, g.end_offset) for g in self.gaps}
        shares = zipf_shares(KEYS)
        seq = 0
        self.ticks = []
        for k in range(n_ticks):
            off = (k + 1) * TICK_S
            keys = [i for i in range(KEYS) if (k + phase[i]) % hb_every == 0]
            n_extra = int(rng.poisson(EXTRA_EPS * TICK_S))
            keys += list(rng.choice(KEYS, size=n_extra, p=shares))
            kinds = malformed_kinds(rng, len(keys), MALFORMED_FRAC)
            evs = []
            for i, kind in zip(keys, kinds):
                s = self.streams[i]
                g = silent.get(s)
                if g is not None and g[0] <= off < g[1]:
                    continue
                evs.append((s, kind, seq))
                seq += 1
            self.ticks.append(Tick(k, off, evs))

    @property
    def n_events(self) -> int:
        return sum(len(t.events) for t in self.ticks)

    def measured(self, tick: Tick) -> bool:
        return tick.due_offset > self.warm_s


class Generator(threading.Thread):
    """Writes the schedule's ticks into ``out_dir`` from instant ``t0``."""

    def __init__(self, schedule: CanarySchedule, out_dir: str, staging_dir: str, t0: float):
        super().__init__(name="canary-loadgen", daemon=True)
        self.schedule = schedule
        self.out_dir = out_dir
        self.staging_dir = staging_dir
        self.t0 = t0
        self.error: Exception | None = None
        self._stop_evt = threading.Event()

    def stop(self) -> None:
        self._stop_evt.set()

    def run(self) -> None:
        try:
            for tick in self.schedule.ticks:
                tick.due = self.t0 + tick.due_offset
                if self._stop_evt.wait(max(0.0, tick.due - time.time())):
                    return
                tick.created_us = int(time.time() * 1e6)
                lines = [
                    event_line(s, tick.created_us, seq, kind)
                    for s, kind, seq in tick.events
                ]
                tick.file = f"tick-{tick.index:06d}.json"
                write_lines(os.path.join(self.out_dir, tick.file), lines, self.staging_dir)
                tick.written = time.time()
        except Exception as e:  # surfaced by the caller after join()
            self.error = e
