"""Deterministic input tables for the benchmark.

Writes the ten tables the engine reads (`Tables.names`) with the schemas
and value distributions of the repository's testdata (TESTDATA.md), at a
chosen scale factor, in two layouts:

- ``shipped``: one parquet file per table with one row group, like the
  testdata directories;
- ``lake``: every table as a directory ``<name>.parquet/`` of several files,
  each with several row groups, rows in their original order. ``lineitem``,
  ``orders`` and ``events`` get at least ``2 * nproc`` files, so every scan
  of them has at least that many splits.

The lake copy is checked against the shipped one by row count and content
hash before it is marked complete.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SPLIT_WIDE = ("lineitem", "orders", "events")
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DAY_US = 86_400_000_000


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US,
                    type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array("LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split())
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)),
                                         n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB),
                                         rng.integers(10, 100))])
             for _ in range(n_doc)]
    # one document in twenty is an earlier one with " dup" appended
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    langs = np.array(["en", "zh", "de", "fr", "es"])[
        rng.choice(5, n_doc, p=[0.41, 0.15, 0.14, 0.15, 0.15])]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.08 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def content_hash(table):
    h = hashlib.sha256()
    h.update(str(table.num_rows).encode())
    for name in table.column_names:
        h.update(name.encode())
        h.update(repr(table.column(name).to_pylist()).encode())
    return h.hexdigest()


def write_lake(table, path, n_files):
    """Contiguous row ranges, one file each, ~3 row groups per file."""
    os.makedirs(path)
    n = table.num_rows
    n_files = max(1, min(n_files, n // 2))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        rg = max(1, -(-part.num_rows // 3))
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=rg)


def generate(out_dir, sf, seed, nproc):
    """Writes <out>/shipped and <out>/lake; returns their directories."""
    shipped = os.path.join(out_dir, "shipped")
    lake = os.path.join(out_dir, "lake")
    done = os.path.join(out_dir, "COMPLETE")
    if os.path.exists(done):
        return shipped, lake
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(shipped)
    tables = make_tables(sf, seed)
    for name in TABLES:
        t = tables[name]
        pq.write_table(t, os.path.join(shipped, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
        n_files = 2 * nproc if name in SPLIT_WIDE else 3
        write_lake(t, os.path.join(lake, f"{name}.parquet"), n_files)
        copy = pq.read_table(os.path.join(lake, f"{name}.parquet"))
        if (copy.num_rows != t.num_rows
                or content_hash(copy) != content_hash(t)):
            raise SystemExit(f"lake copy of {name} differs from its source")
    with open(done, "w") as f:
        f.write(f"sf={sf} seed={seed} nproc={nproc}\n")
    return shipped, lake
