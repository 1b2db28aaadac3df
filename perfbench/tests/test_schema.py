"""BENCHMARK.json, the metric schema and the workloads agree, and every
name, unit and bound is within the benchmark's format limits."""

import json
import os
import re

import pytest

from perfbench import metrics
from perfbench.workloads import BENCHMARKED, WORKLOADS, pass_order

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_top_level_keys(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60


def test_workloads_match(bench):
    names = [w["name"] for w in bench["workloads"]]
    assert names == list(BENCHMARKED)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"])
        assert w["why"] == WORKLOADS[w["name"]].why
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]


def test_end_to_end_match_schema(bench):
    got = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    assert got == metrics.END_TO_END
    assert got["setup_s"][:2] == ("s", "lower")
    assert got["setup_s"][2] == max(b for _u, _b, b in got.values())
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25


def test_per_layer_match_schema(bench):
    got = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert got == metrics.PER_LAYER
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert 1 <= len(bench["per_layer"]) <= 128


def test_names_and_units_are_well_formed(bench):
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"] + bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")


def test_report_has_exactly_the_schema():
    values = {n: 1.0 for n in list(metrics.END_TO_END) + list(metrics.PER_LAYER)}
    values["extra"] = 2.0
    assert set(metrics.report(values, traced=False)) == set(metrics.END_TO_END)
    rep = metrics.report(values, traced=True)
    assert set(rep) == set(metrics.PER_LAYER)
    assert rep["pass_s" if "pass_s" in rep else "plans.build_s"]["unit"] == "s"
    del values["pass_s"]
    with pytest.raises(KeyError):
        metrics.report(values, traced=False)


def test_pass_order_is_a_seeded_permutation():
    qs = WORKLOADS["tpch_x10"].queries
    a = pass_order(qs, 7, 3)
    assert sorted(a) == sorted(qs)
    assert a == pass_order(qs, 7, 3)
    assert any(pass_order(qs, 7, p) != a for p in range(4, 10))
