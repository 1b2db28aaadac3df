"""The generated datasets are deterministic, keep referential integrity
across replicas, and are rebuilt only when their manifest stops matching."""

import os

import duckdb
import pyarrow.parquet as pq
import pytest

from perfbench import datagen

TINY = dict(customer=30, supplier=5, part=40, orders=60, lineitem=240,
            events=100, users=10, documents=40, embeddings=12)


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(datagen, "SIZES", {"sf0.1": TINY, "sf0.01": TINY})


def test_same_seed_same_tables():
    a = datagen.make_tables(7, TINY)
    b = datagen.make_tables(7, TINY)
    c = datagen.make_tables(8, TINY)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_schema_domains():
    t = datagen.make_tables(1, TINY)
    assert t["lineitem"].num_rows == TINY["lineitem"]
    assert str(t["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    emb = t["embeddings"].column("embedding").to_pylist()
    assert {len(v) for v in emb} == {datagen.EMB_DIM}
    assert all(abs(x) <= 1.0 for v in emb for x in v)
    texts = t["documents"].column("text").to_pylist()
    assert t["documents"].column("n_chars").to_pylist() == [len(x) for x in texts]


def test_x10_replicas_join_only_within_themselves(tiny, tmp_path):
    root = str(tmp_path / "x10")
    datagen.ensure_dataset(root, "x10")
    con = duckdb.connect()
    datagen.duckdb_views(con, root)
    n_li, n_orders, orphans = con.execute(
        "SELECT (SELECT count(*) FROM lineitem), (SELECT count(*) FROM orders), "
        "(SELECT count(*) FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey "
        " WHERE o_orderkey IS NULL)").fetchone()
    assert (n_li, n_orders, orphans) == (10 * TINY["lineitem"], 10 * TINY["orders"], 0)
    # replica k's lineitems reference replica k's orders only
    bad = con.execute(
        f"SELECT count(*) FROM lineitem WHERE l_orderkey // {TINY['orders']} "
        f"<> l_partkey // {TINY['part']}").fetchone()[0]
    assert bad == 0
    assert con.execute("SELECT count(*) FROM nation").fetchone()[0] == 25


def test_manifest_reuse_and_rebuild(tiny, tmp_path):
    root = str(tmp_path / "base")
    m1 = datagen.ensure_dataset(root, "base")
    path = os.path.join(root, "orders.parquet")
    mtime = os.path.getmtime(path)
    assert datagen.ensure_dataset(root, "base") == m1
    assert os.path.getmtime(path) == mtime  # reused, not rewritten
    pq.write_table(pq.read_table(path).slice(0, 5), path)  # tamper
    m2 = datagen.ensure_dataset(root, "base")
    assert m2 == m1  # rebuilt to the same bytes
    assert pq.ParquetFile(path).metadata.num_rows == TINY["orders"]
    assert datagen.manifest_digest(m1) == datagen.manifest_digest(m2)
