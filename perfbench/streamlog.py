"""Read a streaming query's checkpoint to time individual events.

A file-source query records, per micro-batch, which input files it took
(``sources/0/<batch>`` and its periodic ``<batch>.compact`` roll-ups), the
batch's trigger time (``offsets/<batch>``) and, once the sink holds the
batch, a commit marker (``commits/<batch>``) whose modification time is the
commit instant. Joining the three gives each input file the instant its rows
became visible in the sink.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Iterable
from urllib.parse import unquote, urlparse


def _json_lines(path: str) -> list[dict]:
    with open(path) as f:
        lines = f.read().splitlines()
    # The first line is the log format version ("v1").
    return [json.loads(line) for line in lines[1:] if line.strip()]


def _batch_files(dir_: str) -> Iterable[tuple[int, str]]:
    if not os.path.isdir(dir_):
        return
    for name in os.listdir(dir_):
        stem = name.removesuffix(".compact")
        if stem.isdigit():
            yield int(stem), os.path.join(dir_, name)


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file base name -> the batch that read it."""
    out: dict[str, int] = {}
    for _, path in _batch_files(os.path.join(checkpoint, "sources", "0")):
        for entry in _json_lines(path):
            name = os.path.basename(unquote(urlparse(entry["path"]).path))
            out[name] = int(entry["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> commit instant (epoch seconds)."""
    out: dict[int, float] = {}
    for b, p in _batch_files(os.path.join(checkpoint, "commits")):
        try:
            out[b] = os.stat(p).st_mtime
        except FileNotFoundError:  # purged since the listing
            pass
    return out


def _timestamps_of(batch: int, path: str) -> dict[int, float]:
    with open(path) as f:
        f.readline()
        meta = json.loads(f.readline())
    return {batch: meta["batchTimestampMs"] / 1000.0}


def file_commit_times(checkpoint: str) -> dict[str, float]:
    """Input file base name -> commit instant of the batch that read it.
    Files read by a batch that never committed are absent."""
    commits = commit_times(checkpoint)
    return {
        name: commits[b]
        for name, b in file_batches(checkpoint).items()
        if b in commits
    }


def event_latencies(
    events: Iterable[tuple[str, float]], committed: dict[str, float]
) -> list[float]:
    """Per-event latency from ``(file, due_s)`` pairs, for the events whose
    file was committed."""
    return [committed[name] - due for name, due in events if name in committed]


def wait_committed(checkpoint: str, names: Iterable[str], timeout_s: float) -> None:
    """Block until a committed batch has read every named input file.

    Polls the checkpoint instead of ``processAllAvailable``, which never
    returns for a query that runs a batch at every trigger (a
    processing-time state timeout does).
    """
    want = set(names)
    deadline = time.monotonic() + timeout_s
    while True:
        # Batches commit in order, and old commit entries get purged: a
        # file is committed once any batch at or after its own has.
        read_by = file_batches(checkpoint)
        last = max(commit_times(checkpoint), default=-1)
        if all(n in read_by and read_by[n] <= last for n in want):
            return
        if time.monotonic() > deadline:
            raise TimeoutError(f"{checkpoint}: input not committed within {timeout_s}s")
        time.sleep(0.05)


class CheckpointWatcher(threading.Thread):
    """Copies a query's commit instants and batch timestamps out of its
    checkpoint while it runs.

    Spark deletes offset and commit entries older than the last
    ``spark.sql.streaming.minBatchesToRetain`` batches, and a query that
    runs a batch at every trigger passes that many within seconds.
    """

    #: Seconds between scans.
    EVERY_S = 0.25

    def __init__(self, checkpoint: str) -> None:
        super().__init__(name="checkpoint-watcher", daemon=True)
        self.checkpoint = checkpoint
        self.commits: dict[int, float] = {}
        self.timestamps: dict[int, float] = {}
        self._done = threading.Event()

    def scan(self) -> None:
        """Copy entries not seen yet."""
        for b, t in commit_times(self.checkpoint).items():
            self.commits.setdefault(b, t)
        for b, p in _batch_files(os.path.join(self.checkpoint, "offsets")):
            if b not in self.timestamps:
                try:
                    self.timestamps.update(_timestamps_of(b, p))
                except (OSError, ValueError):  # purged or half-written
                    pass

    def run(self) -> None:
        while not self._done.wait(self.EVERY_S):
            try:
                self.scan()
            except OSError:  # an entry vanished between listing and stat
                pass

    def finish(self) -> None:
        self._done.set()
        self.join()
        self.scan()
