"""Answer checks: DuckDB runs the identical SQL on the same parquet.

Small results compare row by row after the project's canonicalization
(``tools/dialect_coverage.py``: floats rounded to 6 places, lists as
tuples, rows sorted). Large results compare an order-insensitive digest
(row count plus the sum of per-row hashes), computed by DuckDB on both the
received Arrow table and its own answer.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import importlib.util
import os

import pyarrow as pa

from datagen import TABLES

# Results with more rows than this compare by digest.
BIG_ROWS = 10_000

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_canon():
    path = os.path.join(_ROOT, "tools", "dialect_coverage.py")
    spec = importlib.util.spec_from_file_location("_dialect_coverage", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


_canon = _load_canon()


def connect(warehouse: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(warehouse, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _plain(v):
    """Cell normalization before canonicalization: Spark ships timestamps
    as UTC-zoned, DuckDB as naive; decimals and doubles compare as floats;
    structs compare as value tuples."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dict):
        return tuple(_plain(x) for x in v.values())
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def canon_rows(table: pa.Table) -> list:
    return _canon([[_plain(c) for c in row.values()] for row in table.to_pylist()])


def _naive(table: pa.Table) -> pa.Table:
    cols = []
    for col in table.columns:
        t = col.type
        if pa.types.is_timestamp(t) and t.tz is not None:
            col = col.cast(pa.timestamp(t.unit))
        cols.append(col)
    return pa.Table.from_arrays(cols, names=[f"c{i}" for i in range(len(cols))])


def digest(con, table: pa.Table) -> tuple[int, int]:
    """(rows, sum of row hashes) of an Arrow table, order-insensitive."""
    tbl = _naive(table)  # noqa: F841 - read by DuckDB's replacement scan
    cols = ", ".join(tbl.column_names)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM tbl"
    ).fetchone()
    return int(n), int(h)


def same_answer(con, sql: str, got: pa.Table) -> bool:
    """True when ``got`` equals DuckDB's answer to ``sql``."""
    want = con.execute(sql).arrow()
    if got.num_rows != want.num_rows or got.num_columns != want.num_columns:
        return False
    if want.num_rows > BIG_ROWS:
        return digest(con, got) == digest(con, want)
    return canon_rows(got) == canon_rows(want)
