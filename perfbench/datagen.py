"""Deterministic synthetic tables for the benchmark.

The generator reproduces the schema and value domains of the engine's
ten input tables (TPC-H-style star schema plus events, documents and
embeddings), so every registered query and its DuckDB oracle run on the
output unchanged.  A dataset is written once per checkout together with
a manifest of row counts and file digests; it is reused only while the
manifest still matches the files on disk.

Two layouts are produced:

- ``base``: one parquet file per table, sized like scale factor 0.1
  (600k lineitem rows).
- ``x10``: ten disjoint replicas of a scale-factor-0.01 base, one part
  file per replica in a ``<table>.parquet/`` directory.  Replica ``k``
  offsets every key column by ``k * stride`` of its key domain, so joins
  keep their per-key fan-out and only the volume grows.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated bytes change, so stale caches are rebuilt.
VERSION = 1
DATA_SEED = 42

SIZES = {
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, users=1500,
                  documents=5000, embeddings=2000),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, users=150,
                   documents=500, embeddings=500),
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: key column -> key domain; replicas shift each domain by its stride
KEY_DOMAINS = {
    "c_custkey": "customer", "o_custkey": "customer",
    "o_orderkey": "orders", "l_orderkey": "orders",
    "p_partkey": "part", "l_partkey": "part",
    "s_suppkey": "supplier", "l_suppkey": "supplier",
    "event_id": "events", "user_id": "users",
    "doc_id": "documents", "vec_id": "embeddings",
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.15, 0.40, 0.15, 0.15, 0.15)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first_day, n_days, n):
    days = rng.integers(first_day, first_day + n_days, n)
    return pa.array(_EPOCH_1995 + days * _US_PER_DAY, pa.timestamp("us"))


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5% near-duplicates (another document plus a marker token) and a
    # handful of exact copies, so the dedup operators find clusters
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    vecs = rng.standard_normal((n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(seed: int, sizes: dict) -> dict[str, pa.Table]:
    """All ten tables for one replica, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    s = sizes
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    n = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _choice(rng, SEGMENTS, n),
    })
    n = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = s["part"]
    keys = np.arange(n)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n), rng.integers(0, 8, n))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": _choice(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    n = s["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, 0, 2404, n),
        "o_orderpriority": _choice(rng, PRIORITIES, n),
    })
    n = s["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), n),
        "l_linestatus": _choice(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, 1, 2499, n),
    })
    n = s["events"]
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n)) + _EPOCH_2024
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })
    out["documents"] = _documents(rng, s["documents"])
    out["embeddings"] = _embeddings(rng, s["embeddings"])
    return out


def _offset(table: pa.Table, k: int, sizes: dict) -> pa.Table:
    """Shift every key column of replica ``k`` into its own key range."""
    for i, name in enumerate(table.column_names):
        domain = KEY_DOMAINS.get(name)
        if domain is not None and k:
            shifted = pa.array(table.column(i).to_numpy() + k * sizes[domain], pa.int64())
            table = table.set_column(i, name, shifted)
    return table


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _scan(root: str) -> dict:
    """Row counts and digests of every parquet file under ``root``."""
    files = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.join(dirpath, name)
                files[os.path.relpath(path, root)] = {
                    "rows": pq.ParquetFile(path).metadata.num_rows,
                    "sha256": _digest(path)}
    return dict(sorted(files.items()))


def _spec(layout: str) -> dict:
    return {"version": VERSION, "seed": DATA_SEED, "layout": layout}


def write_dataset(root: str, layout: str) -> None:
    os.makedirs(root, exist_ok=True)
    if layout == "base":
        for name, table in make_tables(DATA_SEED, SIZES["sf0.1"]).items():
            pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    elif layout == "x10":
        sizes = SIZES["sf0.01"]
        for k in range(10):
            for name, table in make_tables(DATA_SEED + k, sizes).items():
                if name in ("region", "nation") and k:
                    continue  # fixed dimensions are copied once
                tdir = os.path.join(root, f"{name}.parquet")
                os.makedirs(tdir, exist_ok=True)
                pq.write_table(_offset(table, k, sizes),
                               os.path.join(tdir, f"part-{k:05d}.parquet"))
    else:
        raise ValueError(f"unknown layout {layout!r}")


def ensure_dataset(root: str, layout: str) -> dict:
    """Return the manifest of ``root``, (re)building it unless the
    manifest on disk matches both the generator spec and the files."""
    manifest_path = os.path.join(root, "MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("spec") == _spec(layout) and manifest.get("files") == _scan(root):
            return manifest
    if os.path.isdir(root):
        shutil.rmtree(root)
    write_dataset(root, layout)
    manifest = {"spec": _spec(layout), "files": _scan(root)}
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def manifest_digest(manifest: dict) -> str:
    return hashlib.sha256(json.dumps(manifest, sort_keys=True).encode()).hexdigest()


def duckdb_views(con, root: str) -> None:
    """Register each table of ``root`` as a DuckDB view."""
    for name in TABLES:
        path = os.path.join(root, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
