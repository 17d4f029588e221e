"""Order-insensitive result digests and the DuckDB oracle they are
compared with.

A digest is (row count, sorted column names, value hash).  The value
hash canonicalizes cells the way the package's parity tests do -- floats
and decimals rounded to 6 digits, timestamps as naive UTC microseconds,
ints kept distinct from floats -- hashes each row over its columns in
name order, and sums the row hashes, so row order never matters.  Both
engines hand back Arrow tables, so one function digests both sides.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_NULL = np.uint64(0x9E3779B97F4A7C15)
_MUL = np.uint64(0x100000001B3)


def _canon(v):
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def _column_hash(col: pa.ChunkedArray) -> np.ndarray:
    t = col.type
    nulls = col.is_null().to_numpy(zero_copy_only=False)
    if pa.types.is_decimal(t):
        col, t = col.cast(pa.float64()), pa.float64()
    if pa.types.is_floating(t):
        vals = pc.round(col.cast(pa.float64()), 6).fill_null(0.0).to_numpy()
        vals = np.where(np.isnan(vals), np.nan, vals) + 0.0
        h = pd.util.hash_array(vals.view(np.uint64) ^ np.uint64(1))
    elif pa.types.is_integer(t) or pa.types.is_boolean(t):
        h = pd.util.hash_array(col.cast(pa.int64()).fill_null(0).to_numpy())
    elif pa.types.is_timestamp(t):
        us = col.cast(pa.timestamp("us", t.tz)).cast(pa.int64()).fill_null(0)
        h = pd.util.hash_array(us.to_numpy() ^ np.int64(7))
    elif pa.types.is_date(t):
        days = col.cast(pa.date32()).cast(pa.int32()).cast(pa.int64()).fill_null(0)
        h = pd.util.hash_array(days.to_numpy() ^ np.int64(11))
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        h = pd.util.hash_array(col.fill_null("").to_numpy(zero_copy_only=False))
    else:
        cells = np.array([_canon(v) for v in col.to_pylist()], dtype=object)
        h = pd.util.hash_array(cells)
    return np.where(nulls, _NULL, h).astype(np.uint64)


def digest(tbl: pa.Table) -> dict:
    """Order-insensitive digest of a result table."""
    cols = sorted(tbl.column_names)
    acc = np.zeros(tbl.num_rows, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in cols:
            acc = (acc ^ _column_hash(tbl.column(c))) * _MUL
        mixed = pd.util.hash_array(acc)
        value_hash = int(mixed.sum(dtype=np.uint64))
    return {"rows": tbl.num_rows, "columns": cols, "hash": f"{value_hash:016x}"}


def mismatch(got: dict, want: dict) -> str | None:
    """None when the digests agree, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"schema {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["hash"] != want["hash"]:
        return f"value hash {got['hash']} != {want['hash']}"
    return None


class Oracle:
    """DuckDB over the generated parquet, with digests cached on disk
    next to the data (keyed by the SQL text), so a run pays for an oracle
    query only the first time a checkout sees it."""

    def __init__(self, data: Path):
        self.data = data
        self.path = data / "oracle_digests.json"
        self.cache = json.loads(self.path.read_text()) if self.path.exists() else {}
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute("SET threads TO 4")
            self._con.execute("SET enable_progress_bar = false")
            for p in sorted(self.data.glob("*.parquet")):
                self._con.execute(
                    f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')"
                )
        return self._con

    def expected(self, sql: str) -> dict:
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        if key not in self.cache:
            self.cache[key] = digest(self._connect().sql(sql).arrow())
            tmp = self.path.with_suffix(".tmp")
            tmp.write_text(json.dumps(self.cache, indent=1, sort_keys=True))
            tmp.replace(self.path)
        return self.cache[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None

