"""Value-hash comparison of registry query results against their DuckDB
oracle SQL over the same parquet files.

Cells are normalized by the repository's parity tests' own cell
normalization (``tests.parity``), rows are compared order-insensitively with
columns sorted by name, and the sorted rows are hashed. Normalization runs
once per distinct value of a column, so a 200k-row result compares in about
a second.

Oracle results depend only on the SQL text and the tables it reads, so
their hashes are cached on disk under that key.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import duckdb
import pandas as pd

from tests.parity import _norm_cell as norm_cell


def norm_column(s: pd.Series) -> list[str]:
    try:
        codes, uniques = pd.factorize(s, use_na_sentinel=True)
    except TypeError:  # unhashable cells (arrays)
        return [norm_cell(v) for v in s]
    table = [norm_cell(u) for u in uniques]
    return [table[c] if c >= 0 else "<NULL>" for c in codes]


def value_hash(df: pd.DataFrame) -> dict:
    cols = sorted(df.columns)
    normed = [norm_column(df[c]) for c in cols]
    rows = sorted("\x1f".join(r) for r in zip(*normed)) if cols else []
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return {"columns": cols, "rows": len(df), "hash": h.hexdigest()}


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class Oracle:
    """DuckDB over the parquet tables in ``data_dir``, with a result-hash
    cache in ``cache_dir``."""

    def __init__(self, data_dir: str, cache_dir: str, threads: int) -> None:
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.threads = threads
        self.tables = sorted(
            f.removesuffix(".parquet") for f in os.listdir(data_dir) if f.endswith(".parquet")
        )
        self.digests = {
            t: file_digest([os.path.join(data_dir, f"{t}.parquet")]) for t in self.tables
        }

    def expected(self, sql: str) -> dict:
        read = [t for t in self.tables if re.search(rf"\b{t}\b", sql)]
        key_src = "\0".join([sql] + [self.digests[t] for t in read])
        key = hashlib.sha256(key_src.encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"oracle-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {self.threads}")
            for t in self.tables:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            out = value_hash(con.execute(sql).fetchdf())
        finally:
            con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def mismatch(self, spark_pdf: pd.DataFrame, sql: str) -> str | None:
        """None when the Spark result equals the oracle's, else why not."""
        got, want = value_hash(spark_pdf), self.expected(sql)
        if got["columns"] != want["columns"]:
            return f"columns {got['columns']} != {want['columns']}"
        if got["rows"] != want["rows"]:
            return f"rows {got['rows']} != {want['rows']}"
        if got["hash"] != want["hash"]:
            return "value hash differs"
        return None
