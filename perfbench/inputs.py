"""Seeded input generation for the benchmark.

A small base star schema is drawn from the seed with numpy and written
with pyarrow, in the column types of the driver testdata. The repo's own
``scripts/gen_sf.py`` then expands it FACTOR-fold: ``expand_shifted``
for the relational tables and ``expand_corpus`` for documents and
embeddings. DuckDB runs single-threaded and every writer is pinned, so
the same seed gives byte-identical parquet files.

The corpus tables take their own, smaller factor: the corpus workloads
are bound by per-job fixed cost, not by rows. Inputs are cached under
``<cache>/seed<N>-x<FACTOR>-c<CORPUS_FACTOR>``; a directory is only used
once its ``_DONE`` marker exists.
"""
from __future__ import annotations

import hashlib
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# base row counts; the expansion multiplies all but region/nation
BASE_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
             "lineitem": 6000, "events": 1000, "documents": 500,
             "embeddings": 500}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["large", "hot", "blue", "old", "cold", "green", "small", "red"]
NOUN = ["ring", "bolt", "plate", "widget", "gear", "nut", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int) -> dict[str, pa.Table]:
    """The un-expanded star schema plus corpus, drawn from ``seed``."""
    import sys
    rng = np.random.default_rng(seed)
    n = BASE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist()})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    names = [f"{a} {b}" for a, b in zip(rng.choice(ADJ, npart),
                                        rng.choice(NOUN, npart))]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)})
    no = n["orders"]
    odate = _EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist()})
    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["O", "F"], nl).tolist(),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, nl) * _DAY_US)})
    ne = n["events"]
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne),
                            pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    sys.path.insert(0, _repo_scripts())
    from gen_sf import gen_documents
    docs = gen_documents(random.Random(seed), n["documents"], 0)
    t["documents"] = pa.table({
        "doc_id": pa.array([r[0] for r in docs], pa.int64()),
        "text": [r[1] for r in docs],
        "lang": [r[2] for r in docs],
        "source": [r[3] for r in docs],
        "n_chars": pa.array([r[4] for r in docs], pa.int64())})
    nv = n["embeddings"]
    mat = rng.standard_normal((nv, 64)).astype(np.float32)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(mat.reshape(-1), pa.float32()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def _repo_scripts() -> str:
    return os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts")


def write_parquet(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def generate(out: str, seed: int, factor: int, corpus_factor: int) -> None:
    """Write the ten tables into ``out``: the relational ones expanded
    ``factor``-fold, documents and embeddings ``corpus_factor``-fold
    (at least 2, so the expansion adds fresh rows)."""
    import sys

    import duckdb
    sys.path.insert(0, _repo_scripts())
    from gen_sf import expand_corpus, expand_shifted

    base = os.path.join(out, "_base")
    os.makedirs(base, exist_ok=True)
    for name, tbl in base_tables(seed).items():
        write_parquet(tbl, os.path.join(base, f"{name}.parquet"))
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SET preserve_insertion_order=true")
    expand_shifted(con, base, out, factor)
    expand_corpus(con, base, out, corpus_factor, seed=seed)
    con.close()
    shutil.rmtree(base)


def ensure(cache: str, seed: int, factor: int, corpus_factor: int) -> str:
    """The input dir for these parameters, generating it on first use."""
    out = os.path.join(cache, f"seed{seed}-x{factor}-c{corpus_factor}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(tmp, seed, factor, corpus_factor)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write(digest(tmp) + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def digest(path: str) -> str:
    """sha256 over the generated parquet files, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(path, f"{name}.parquet"), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()
