"""Seeded inputs: the parquet tables the registry queries read, and
kinesis-event JSON lines for the streaming consumer.

The tables have the shapes of the repository's testdata (``events``,
``documents``, ``embeddings``, see TESTDATA.md); row counts default to its
sf0.1 tier. Every generator takes a ``numpy.random.Generator``, so one seed
fixes the input.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ARN_PREFIX = "arn:aws:kinesis:us-east-1:123456789012:stream/"
#: An ARN without a resource part: the consumer cannot name its stream and
#: drops the record.
SHORT_ARN = "arn:aws:kinesis:short"

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
#: Uneven key shares, so one stream dominates the tumbling aggregate.
EVENT_TYPE_SHARES = (0.40, 0.25, 0.15, 0.12, 0.08)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_SHARES = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def zipf_shares(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def events_table(rng: np.random.Generator, n: int = 100_000) -> pa.Table:
    """Heartbeat-style events over 30 days with uneven stream keys and, per
    stream, a few seeded outages (whole periods with no datapoint)."""
    gaps = rng.exponential(25.92, n)
    ts_us = (EPOCH_2024 * 1_000_000 + np.cumsum(gaps) * 1e6).astype(np.int64)
    etype = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_SHARES)
    keep = np.ones(n, dtype=bool)
    span_us = ts_us[-1] - ts_us[0]
    for k in range(len(EVENT_TYPES)):
        for _ in range(3):
            lo = ts_us[0] + int(rng.uniform(0, 0.95) * span_us)
            hi = lo + int(rng.uniform(20, 90) * 60e6)
            keep &= ~((etype == k) & (ts_us >= lo) & (ts_us < hi))
    ts_us, etype = ts_us[keep], etype[keep]
    m = len(ts_us)
    return pa.table(
        {
            "event_id": pa.array(np.arange(m, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, m, dtype=np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype], type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, m), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]),
        }
    )


def documents_table(
    rng: np.random.Generator, n: int = 5000, dup_frac: float = 0.05
) -> pa.Table:
    """Word-soup documents; ``dup_frac`` of them are near-duplicates (an
    earlier document with one word appended), which the dedup queries must
    find."""
    texts: list[str] = []
    dup_of = rng.random(n) < dup_frac
    dup_of[0] = False
    for i in range(n):
        if dup_of[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_SHARES)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int = 2000, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def write_table(table: pa.Table, data_dir: str, name: str) -> str:
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# Kinesis-event JSON lines
# ---------------------------------------------------------------------------
_UNIX = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def iso_instant(epoch_us: int) -> str:
    """ISO-8601 UTC instant; integer microseconds, so the whole second the
    consumer truncates to is exactly ``epoch_us // 1_000_000``."""
    t = _UNIX + dt.timedelta(microseconds=epoch_us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def event_line(stream: str, created_us: int, seq: int, kind: str = "ok") -> str:
    """One Lambda-style kinesis event holding one record (ESM batch size 1).

    ``kind`` is ``ok``, ``corrupt`` (the JSON document is cut short) or
    ``bad_arn`` (no stream name in the ARN); the consumer drops the last two.
    """
    instant = iso_instant(created_us)
    payload = json.dumps({"currentInstant": instant}, separators=(",", ":"))
    seq_s = str(seq).zfill(56)
    record = {
        "kinesis": {
            "kinesisSchemaVersion": "1.0",
            "partitionKey": instant,
            "sequenceNumber": seq_s,
            "data": base64.b64encode(payload.encode()).decode(),
            "approximateArrivalTimestamp": created_us / 1e6,
        },
        "eventSource": "aws:kinesis",
        "eventVersion": "1.0",
        "eventID": f"shardId-000000000000:{seq_s}",
        "eventName": "aws:kinesis:record",
        "invokeIdentityArn": "arn:aws:iam::123456789012:role/lambda-role",
        "awsRegion": "us-east-1",
        "eventSourceARN": SHORT_ARN if kind == "bad_arn" else ARN_PREFIX + stream,
    }
    line = json.dumps({"records": [record]}, separators=(",", ":"))
    return line[: len(line) // 2] if kind == "corrupt" else line


def malformed_kinds(rng: np.random.Generator, n: int, frac: float) -> list[str]:
    """Per-event kind: ``frac`` malformed, split evenly between the two
    malformed kinds."""
    u = rng.random(n)
    return [
        "corrupt" if x < frac / 2 else "bad_arn" if x < frac else "ok" for x in u
    ]


def write_lines(path: str, lines: list[str], staging_dir: str) -> None:
    """Write a file where a file-stream source only ever sees it whole:
    write under a staging name, then rename into place."""
    tmp = os.path.join(staging_dir, os.path.basename(path))
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, path)


def backlog(
    rng: np.random.Generator,
    out_dir: str,
    staging_dir: str,
    n_files: int,
    per_file: int,
    streams: list[str],
    malformed_frac: float,
) -> list[tuple[str, int, str]]:
    """Write a kinesis-event backlog; returns ``(stream, second, kind)`` per
    event, where ``second`` is the whole epoch second the consumer's metric
    row will carry."""
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(staging_dir, exist_ok=True)
    shares = zipf_shares(len(streams))
    out: list[tuple[str, int, str]] = []
    seq = 0
    t_us = EPOCH_2024 * 1_000_000
    for i in range(n_files):
        keys = rng.choice(len(streams), size=per_file, p=shares)
        kinds = malformed_kinds(rng, per_file, malformed_frac)
        steps = rng.integers(1, 100_000, per_file)
        lines = []
        for k, kind, step in zip(keys, kinds, steps):
            t_us += int(step)
            lines.append(event_line(streams[k], t_us, seq, kind))
            out.append((streams[k], t_us // 1_000_000, kind))
            seq += 1
        write_lines(os.path.join(out_dir, f"backlog-{i:05d}.json"), lines, staging_dir)
    return out
