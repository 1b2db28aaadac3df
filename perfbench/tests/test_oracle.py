"""Exact result comparison and the on-disk oracle cache."""

import datetime as dt
import decimal

import duckdb

from perfbench import oracle


def _expected(columns, rows, types):
    cols, canon = oracle.canonical(columns, rows)
    return {"columns": cols, "rows": canon, "types": types}


def test_order_of_rows_and_columns_does_not_matter():
    exp = _expected(["b", "a"], [(1, "x"), (2, None)], {"a": "VARCHAR", "b": "BIGINT"})
    assert oracle.compare(["a", "b"], [(None, 2), ("x", 1)],
                          {"a": "string", "b": "bigint"}, exp) is None


def test_floats_compare_by_bit_pattern():
    exp = _expected(["v"], [(0.1 + 0.2,)], {"v": "DOUBLE"})
    assert oracle.compare(["v"], [(0.30000000000000004,)], {"v": "double"}, exp) is None
    assert oracle.compare(["v"], [(0.3,)], {"v": "double"}, exp) is not None


def test_numeric_category_and_type_portability():
    exp = _expected(["n"], [(decimal.Decimal(3),)], {"n": "DECIMAL(18,0)"})
    assert "type" in oracle.compare(["n"], [(3,)], {"n": "bigint"}, exp)
    exp = _expected(["n"], [(3,)], {"n": "INTEGER"})
    assert oracle.compare(["n"], [(3,)], {"n": "bigint"}, exp) is None
    assert oracle.compare(["n"], [(3.0,)], {"n": "double"}, exp) is not None


def test_aware_timestamps_compare_as_naive_utc():
    naive = dt.datetime(2024, 1, 1, 12, 0)
    aware = dt.datetime(2024, 1, 1, 13, 0, tzinfo=dt.timezone(dt.timedelta(hours=1)))
    exp = _expected(["t"], [(naive,)], {"t": "TIMESTAMP"})
    assert oracle.compare(["t"], [(aware,)], {"t": "timestamp"}, exp) is None


def test_cache_is_keyed_by_sql_and_manifest(tmp_path):
    con = duckdb.connect()
    sql = "SELECT 1 AS x, CAST(2.5 AS DOUBLE) AS y"
    assert not oracle.cached(str(tmp_path), sql, "m1")
    oracle.ensure_oracle(con, str(tmp_path), sql, "m1")
    assert oracle.cached(str(tmp_path), sql, "m1")
    assert not oracle.cached(str(tmp_path), sql, "m2")
    assert not oracle.cached(str(tmp_path), sql + " ", "m1")
    got = oracle.load_oracle(str(tmp_path), sql, "m1")
    assert got["columns"] == ["x", "y"]
    assert got["types"] == {"x": "INTEGER", "y": "DOUBLE"}
    assert oracle.compare(["y", "x"], [(2.5, 1)], {"x": "int", "y": "double"}, got) is None
