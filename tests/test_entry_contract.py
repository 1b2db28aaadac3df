"""Guards on the driver contract surface (__spark_entry__ / bench.py).

Cheap, Spark-free checks that catch wiring drift: a query registered
without its oracle, a bench name that doesn't resolve, duplicate names
across plan modules silently shadowing each other.
"""

import os
import sys

import pytest

import __spark_entry__ as entry
import bench


def test_every_oracle_has_a_query():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(osql) <= set(qs), set(osql) - set(qs)


def test_every_query_has_an_oracle():
    # all current queries are oracle-checked; if a deliberately
    # rows-only query is ever added, list it here explicitly
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(osql), set(qs) ^ set(osql)


def test_bench_names_resolve():
    qs = entry.queries()
    missing = [n for n in bench.BENCH_QUERIES if n not in qs]
    assert not missing, missing


def test_no_duplicate_names_across_modules():
    """QUERIES dicts merged in __spark_entry__ must not shadow each
    other: the union's size equals the sum of the parts."""
    mods = entry._modules()
    assert {m.__name__.split(".")[1] for m in mods} == {"plans", "llm_ops"}
    assert sum(len(m.QUERIES) for m in mods) == len(entry.queries())


def test_driver_window_is_the_50_longest_unchecked():
    """The driver checks the FIRST 50 registry entries.  Re-derived
    independently here from every committed CORRECTNESS_r*.json: a
    name's age is the round of its latest row if that row is green,
    else 0 (never checked or failed), and the registry iterates by
    (age, name), so the window holds the names that need a row most."""
    import glob
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = {}
    files = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    assert files, "no CORRECTNESS files — rotation has no evidence base"
    for f in files:
        rnd = int(os.path.basename(f)[len("CORRECTNESS_r"):-len(".json")])
        for name, row in json.load(open(f)).items():
            if rnd > latest.get(name, (0, None))[0]:
                latest[name] = (rnd, row)

    def age(name):
        rnd, row = latest.get(name, (0, {}))
        green = (row.get("rows_match") and row.get("schema_match")
                 and row.get("hash_match") and row.get("err") is None)
        return rnd if green else 0

    names = list(entry.queries())
    assert len(names) >= 301, f"registry must not shrink below 301, got {len(names)}"
    assert names[:50] == sorted(names, key=lambda n: (age(n), n))[:50]
    assert list(entry.oracle_sql()) == names


@pytest.mark.parametrize("body, error", [
    ("raise ImportError('broken plan module')", ImportError),
    ("QUERIES = {}", AttributeError),
    ("from kmr_spark.plans.tpch import QUERIES, ORACLE_SQL", ValueError),
], ids=["import_error", "no_oracle_sql", "duplicate_names"])
def test_broken_plan_module_makes_queries_raise(tmp_path, monkeypatch,
                                                body, error):
    """A plan module that fails to import, lacks a registry dict or
    re-registers a name fails loudly instead of dropping queries."""
    import kmr_spark.plans as plans

    (tmp_path / "zz_broken.py").write_text(body + "\n")
    monkeypatch.setattr(plans, "__path__", [*plans.__path__, str(tmp_path)])
    try:
        with pytest.raises(error):
            entry.queries()
    finally:
        sys.modules.pop("kmr_spark.plans.zz_broken", None)


def test_bench_summary_queries_fit_driver_tail():
    """The final bench line must stay parseable from the driver's
    2000-byte stdout tail (BENCH_r03.json shows what overflow does):
    SUMMARY_QUERIES must resolve, stay unique, and — encoded with
    worst-case realistic values — fit the byte budget."""
    import json

    qs = entry.queries()
    assert len(bench.SUMMARY_QUERIES) == len(set(bench.SUMMARY_QUERIES))
    missing = [n for n in bench.SUMMARY_QUERIES if n not in qs]
    assert not missing, missing
    line = {
        "metric": "kmr_spark headline queries, warm-JVM cold-cache "
                  "noop-sink wall clock",
        "value": 99999.999, "value_best": 99999.999, "unit": "sec",
        "sf": 0.1, "n_queries": 304,
        # 99.99 is a realistic worst-case per-query width;
        # bench._summary_line() drops entries past this anyway
        "queries": {n: 99.99 for n in bench.SUMMARY_QUERIES},
    }
    assert len(json.dumps(line, separators=(",", ":"))) \
        <= bench._SUMMARY_LINE_BUDGET


def test_bench_covers_full_registry():
    """bench.py is the perf surface the driver records per round; a
    registered query absent from BENCH_QUERIES would silently escape
    perf tracking (r4 ask #4 made the list full-coverage; keep it so).
    The list is append-only for round-comparability, so order is not
    asserted — only exact set equality and uniqueness."""
    qs = entry.queries()
    assert len(bench.BENCH_QUERIES) == len(set(bench.BENCH_QUERIES))
    assert set(bench.BENCH_QUERIES) == set(qs), (
        set(bench.BENCH_QUERIES) ^ set(qs))


def test_bench_summary_budget_drops_the_list_tail():
    """Over budget, the summary line loses SUMMARY_QUERIES members from
    the END of the list, whatever this run's values are, so the 32-core
    and 8-core runs keep the same membership."""
    import json
    import random

    names = bench.SUMMARY_QUERIES
    rng = random.Random(7)
    for _ in range(3):
        result = {"metric": "m", "value": 1.0,
                  "queries": {n: round(rng.uniform(0, 99), 2) for n in names}}
        line = bench._summary_line(result, budget=400)
        assert len(line) <= 400
        kept = list(json.loads(line)["queries"])
        assert 0 < len(kept) < len(names)
        assert kept == names[:len(kept)]
