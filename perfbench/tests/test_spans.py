"""Span parent chains, self time, and the module-call wrappers."""

import importlib
import pickle
import sys

import pytest

from perfbench import spans


def _tree():
    rec = spans.Recorder("r1")
    root = rec.add("run", "run", 0.0, 10.0, None)
    q = rec.add("q", "query", 1.0, 9.0, root.id)
    a = rec.add("a", "module", 2.0, 5.0, q.id)
    rec.add("b", "module", 4.0, 6.0, q.id)  # overlaps a
    rec.add("c", "module", 3.0, 4.0, a.id)
    rec.add("late", "job", 8.5, 9.5, q.id)  # ends after its parent
    return rec


def test_parent_chains_end_at_the_run_span():
    rec = _tree()
    by_id = {s.id: s for s in rec.spans}
    by_name = {s.name: s for s in rec.spans}
    chain = spans.ancestors(by_id, by_name["c"])
    assert [s.name for s in chain] == ["a", "q", "run"]
    assert spans.check_tree(rec.spans) is None


def test_broken_trees_are_reported():
    rec = _tree()
    rec.spans[1].parent = rec.spans[2].id  # q <-> a cycle
    assert "broken parent chain" in spans.check_tree(rec.spans)
    rec = _tree()
    rec.spans[3].parent = 99  # dangling parent id
    assert "broken parent chain" in spans.check_tree(rec.spans)
    rec = _tree()
    rec.add("stray", "query", 0, 1, None)  # a second root
    assert "root" in spans.check_tree(rec.spans)
    rec = _tree()
    rec.spans[2].run = "other"
    assert spans.check_tree(rec.spans) == "spans of another run"
    by_id = {s.id: s for s in rec.spans}
    rec.spans[0].parent = rec.spans[0].id  # its own parent
    with pytest.raises(ValueError):
        spans.ancestors(by_id, rec.spans[0])


def test_self_time_subtracts_the_union_of_children():
    rec = _tree()
    own = spans.self_times(rec.spans)
    by_name = {s.name: s.id for s in rec.spans}
    assert own[by_name["run"]] == pytest.approx(2.0)  # 10 - [1, 9]
    # q: 8 s minus the union [2, 6] and the clipped job [8.5, 9]
    assert own[by_name["q"]] == pytest.approx(8.0 - 4.0 - 0.5)
    assert own[by_name["a"]] == pytest.approx(2.0)
    assert own[by_name["c"]] == pytest.approx(1.0)


def test_self_time_is_never_negative():
    rec = spans.Recorder("r")
    p = rec.add("p", "module", 0.0, 1.0, None)
    for i in range(5):  # children that together exceed their parent
        rec.add(f"c{i}", "module", -1.0 + i * 0.1, 2.0, p.id)
    assert all(v >= 0 for v in spans.self_times(rec.spans).values())
    assert spans.self_times(rec.spans)[p.id] == 0.0


def test_self_time_can_count_only_some_child_kinds():
    rec = _tree()
    own = spans.self_times(rec.spans, kinds=("module",))
    q = next(s for s in rec.spans if s.name == "q")
    assert own[q.id] == pytest.approx(8.0 - 4.0)


def test_recorder_nesting_and_close_order():
    rec = spans.Recorder("r")
    with rec.span("outer", "x") as outer:
        with rec.span("inner", "x") as inner:
            pass
        after = rec.open("sibling", "x")
        rec.close(after)
    assert inner.parent == outer.id and after.parent == outer.id
    assert outer.start <= inner.start <= inner.end <= outer.end
    s1 = rec.open("a", "x")
    rec.open("b", "x")
    with pytest.raises(RuntimeError):
        rec.close(s1)


@pytest.fixture
def installed():
    session = importlib.import_module("kmr_spark.session")
    graphs = importlib.import_module("kmr_spark.plans.graphs")
    original = session.materialize_release
    rec = spans.Recorder("t")
    spans.activate(rec)
    spans.install()
    try:
        yield rec, session, graphs, original
    finally:
        spans.uninstall()
        spans.activate(None)


def test_every_binding_is_wrapped_and_restored(installed):
    rec, session, graphs, original = installed
    assert graphs.materialize_release is not original
    assert graphs.materialize_release is session.materialize_release
    assert graphs.materialize_release.__wrapped__ is original
    # a module that binds the name while wrappers are active
    fake = type(sys)("kmr_spark._perfbench_probe")
    fake.materialize_release = session.materialize_release
    sys.modules[fake.__name__] = fake
    try:
        spans.uninstall()
        assert session.materialize_release is original
        assert graphs.materialize_release is original
        assert fake.materialize_release is original
    finally:
        del sys.modules[fake.__name__]


def test_wrapper_records_a_module_span(installed):
    rec, session, _graphs, _original = installed
    with rec.span("q", "query"):
        assert session.parquet_num_rows("/nonexistent", "lineitem") is None
    names = [s.name for s in rec.spans]
    assert names == ["q", "session.parquet_num_rows"]
    assert rec.spans[1].parent == rec.spans[0].id
    rec.modules_on = False
    session.parquet_num_rows("/nonexistent", "lineitem")
    assert len(rec.spans) == 2


def test_wrapped_functions_pickle_and_run_untraced(installed):
    rec, session, _graphs, _original = installed
    from pyspark import cloudpickle  # what PySpark ships functions with

    fn = pickle.loads(cloudpickle.dumps(session.parquet_num_rows))
    spans.activate(None)
    assert fn("/nonexistent", "lineitem") is None
    assert rec.spans == []
