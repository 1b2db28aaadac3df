"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``kmr_spark`` package; this module only
gathers the ``QUERIES`` / ``ORACLE_SQL`` dicts of every module in
``kmr_spark.plans`` and ``kmr_spark.llm_ops`` and orders them for the
driver.
"""

from __future__ import annotations

import importlib
import json
import os
import pkgutil
import re
import sys
from collections.abc import Callable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

# make `import kmr_spark` work regardless of the driver's cwd
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

_PACKAGES = ("kmr_spark.plans", "kmr_spark.llm_ops")
_GREEN = ("rows_match", "schema_match", "hash_match")


def _modules() -> list[ModuleType]:
    """Every submodule of the query packages, imported.  An import
    error propagates: a broken module must not drop its queries."""
    mods = []
    for pkg_name in _PACKAGES:
        pkg = importlib.import_module(pkg_name)
        for info in pkgutil.iter_modules(pkg.__path__):
            mods.append(importlib.import_module(f"{pkg_name}.{info.name}"))
    return mods


def _ages() -> dict[str, int]:
    """Round of each query's latest driver CORRECTNESS row, for names
    whose latest row is green; never-checked and failed names are
    absent (age 0)."""
    latest: dict[str, tuple[int, bool]] = {}
    for fname in os.listdir(_REPO_ROOT):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(os.path.join(_REPO_ROOT, fname)) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if rnd > latest.get(name, (0, False))[0]:
                green = (all(row.get(k) is True for k in _GREEN)
                         and row.get("err") is None)
                latest[name] = (rnd, green)
    return {n: rnd for n, (rnd, green) in latest.items() if green}


def _registries():
    """Collect (QUERIES, ORACLE_SQL) from every query module, ordered
    by (age, name): the driver checks only the first 50 entries, so
    never-checked and failed queries lead, then the longest-unchecked
    greens."""
    # A leaked KMR_RMAT_* override silently changes the generated graph
    # for every graph plan (the oracle mismatch would surface it, but
    # as a confusing downstream diff).  The scale-law harness is the
    # only sanctioned setter and declares itself via KMR_RMAT_SWEEP;
    # anything else fails loudly at the source.
    leaked = [v for v in ("KMR_RMAT_EDGES", "KMR_RMAT_LEVELS",
                          "KMR_RMAT_MIX") if os.environ.get(v)]
    if leaked and not os.environ.get("KMR_RMAT_SWEEP"):
        raise RuntimeError(
            f"KMR_RMAT override vars set outside the scale sweep: "
            f"{leaked} — unset them (or set KMR_RMAT_SWEEP=1 if this "
            f"is an intentional scale-harness run)")
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for m in _modules():
        for merged, part in ((queries, m.QUERIES), (oracles, m.ORACLE_SQL)):
            dup = merged.keys() & part.keys()
            if dup:
                raise ValueError(
                    f"{m.__name__} registers names already registered: "
                    f"{sorted(dup)}")
            merged.update(part)
    age = _ages()
    order = sorted(queries, key=lambda n: (age.get(n, 0), n))
    return ({n: queries[n] for n in order},
            {n: oracles[n] for n in order if n in oracles})


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q9 profit rollup) on /root/testdata/sf0.001.

    Q9 exercises the widest pipeline (5-table join with two broadcast
    sides, decimal-exact aggregation, multi-key sort) and is non-empty
    at every scale factor.
    """
    from kmr_spark.plans.tpch import q9

    return q9(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registries()[0]


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (same column names)."""
    return _registries()[1]
