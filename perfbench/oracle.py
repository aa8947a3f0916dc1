"""Output checks for the headline driver queries.

Queries with an ``oracle_sql()`` twin are compared with DuckDB over the same
parquet files, as order-insensitive multisets of canonicalized rows (the
comparison the repository's oracle-parity tests make). Queries without one
are checked by a content hash of the same canonical form.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pyarrow as pa


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v + 0.0, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return str(v)


def canonical(table: pa.Table) -> tuple[list[str], list[tuple]]:
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(tuple(_canon(v) for v in r) for r in zip(*data)) if cols else []
    return cols, rows


def result_hash(table: pa.Table) -> str:
    cols, rows = canonical(table)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def matches_oracle(table: pa.Table, sql: str, tables_dir: str, tables: list[str]) -> bool:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        expected = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    return canonical(table) == canonical(expected)
