"""DuckDB oracle results, cached, and the exact result comparison.

Results are compared with exact cell semantics: columns in name order,
every float reduced to its IEEE-754 bit pattern, rows sorted with NULLs
ordered first per cell, plus a check that the first row's cells fall in
the same numeric category and that every oracle column type is one the
Spark side can hash identically.

Oracle results are cached on disk keyed by the oracle SQL text and the
input manifest, so they are computed once per checkout and never inside
a timed window.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import pickle
import struct

CACHE_VERSION = 1

#: DuckDB result type -> Spark dtypes whose values hash the same way
PORTABLE = {
    "BIGINT": ("bigint", "int"),
    "INTEGER": ("int", "bigint"),
    "DOUBLE": ("double",),
    "VARCHAR": ("string",),
    "DATE": ("date",),
    "BOOLEAN": ("boolean",),
    "TIMESTAMP": ("timestamp", "timestamp_ntz"),
}


def cell(v):
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def category(v) -> str:
    if isinstance(v, float):
        return "f"
    if isinstance(v, (bool, int)):
        return "i"
    return type(v).__name__


def _row_key(row):
    return tuple((v is None, v) for v in row)


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Name-ordered columns and sorted rows of exact cells."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(cell(r[i]) for i in idx) for r in rows), key=_row_key)
    return [columns[i] for i in idx], out


def _path(cache_dir: str, sql: str, manifest_digest: str) -> str:
    key = hashlib.sha256(f"{CACHE_VERSION}\0{manifest_digest}\0{sql}".encode()).hexdigest()
    return os.path.join(cache_dir, f"{key}.pkl")


def cached(cache_dir: str, sql: str, manifest_digest: str) -> bool:
    return os.path.exists(_path(cache_dir, sql, manifest_digest))


def ensure_oracle(con, cache_dir: str, sql: str, manifest_digest: str) -> str:
    """Compute and cache one oracle result unless it is cached already."""
    path = _path(cache_dir, sql, manifest_digest)
    if not os.path.exists(path):
        rel = con.sql(sql)
        types = {c: str(t).upper() for c, t in zip(rel.columns, rel.types)}
        columns, rows = canonical(list(rel.columns), rel.fetchall())
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump({"columns": columns, "rows": rows, "types": types}, f,
                        protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, path)
    return path


def load_oracle(cache_dir: str, sql: str, manifest_digest: str) -> dict:
    with open(_path(cache_dir, sql, manifest_digest), "rb") as f:
        return pickle.load(f)


def spark_rows(df) -> tuple[list[str], list]:
    """Collect a Spark result through Arrow (fast for large results)."""
    table = df.toArrow()
    cols = table.column_names
    return cols, list(zip(*(table.column(c).to_pylist() for c in cols)))


def compare(columns: list[str], rows: list, dtypes: dict, oracle: dict) -> str | None:
    """None when a Spark result (columns, rows and ``df.dtypes``) equals
    the oracle exactly, else a short reason."""
    columns, rows = canonical(columns, rows)
    if columns != oracle["columns"]:
        return f"columns {columns} != oracle {oracle['columns']}"
    for c, t in sorted(oracle["types"].items()):
        if t not in PORTABLE or (c in dtypes and dtypes[c] not in PORTABLE[t]):
            return f"type {c}: oracle {t} vs spark {dtypes.get(c)}"
    if rows != oracle["rows"]:
        return f"rows differ ({len(rows)} vs oracle {len(oracle['rows'])})"
    if rows and [category(v) for v in rows[0]] != [category(v) for v in oracle["rows"][0]]:
        return "cell categories differ"
    return None
