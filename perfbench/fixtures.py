#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes a TPC-H-like star schema plus the `events` and `documents` tables, with
the column names and types of the repository's test data, as one parquet file
per table. Then builds a SQLite `.db` of the lineitem, orders and customer
tables from those parquet files with the stdlib `sqlite3` module and checks its
row counts against the parquet.

Everything derives from a fixed data seed and the scale factor, so the same
arguments always give byte-identical tables. The workload seed never reaches
this file: it only drives the call scripts inside the harness.

The output directory is keyed by a digest of this file and the scale factor,
so a changed generator never reuses stale tables.

    python3 perfbench/fixtures.py OUT_ROOT SF
"""
import datetime
import hashlib
import os
import shutil
import sqlite3
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("a the spark batch part line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream merge "
         "data join vector customer has").split()
SQLITE_TABLES = ("lineitem", "orders", "customer")


def _ts(days_from, start, n, rng, with_time=False):
    base = np.datetime64(start, "us")
    days = rng.integers(0, days_from, n).astype("timedelta64[D]").astype("timedelta64[us]")
    t = base + days
    if with_time:
        t = t + rng.integers(0, 86_400_000_000, n).astype("timedelta64[us]")
    return pa.array(t, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_ev, n_doc = int(200_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(["large ring", "small box", "medium case", "tiny pack"])[
            rng.integers(0, 4, n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 50, n_part)],
        "p_type": np.array(["LARGE", "SMALL", "MEDIUM", "TINY"])[rng.integers(0, 4, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900, 2100, n_part)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(2405, "1995-01-01", n_ord, rng),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    okey = np.sort(rng.integers(0, n_ord, n_li))
    line = np.ones(n_li, dtype=np.int32)
    for i in range(1, n_li):  # 1-based line number within each order
        if okey[i] == okey[i - 1]:
            line[i] = line[i - 1] + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(n_part, 1), n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(2499, "1995-01-02", n_li, rng)})
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = []
    for d in range(n_doc):
        if d > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, d))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = vocab[rng.integers(0, len(vocab))]
        else:
            toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 96)))])
        texts.append(" ".join(toks))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 6, n_doc)],
        "source": [f"src{d % 20}" for d in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return out


def _sqlite_type(t):
    if pa.types.is_integer(t):
        return "INTEGER"
    if pa.types.is_floating(t):
        return "REAL"
    return "TEXT"


def _sqlite_value(v):
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return v


def build_sqlite(parquet_dir, path):
    """One SQLite table per parquet file in SQLITE_TABLES, rows in file order."""
    tmp = path + ".tmp"
    if os.path.exists(tmp):
        os.remove(tmp)
    con = sqlite3.connect(tmp)
    for name in SQLITE_TABLES:
        t = pq.read_table(os.path.join(parquet_dir, f"{name}.parquet"))
        cols = ", ".join(f"{f.name} {_sqlite_type(f.type)}" for f in t.schema)
        con.execute(f"CREATE TABLE {name} ({cols})")
        marks = ", ".join("?" * t.num_columns)
        for batch in t.to_batches(50_000):
            rows = zip(*(batch.column(i).to_pylist() for i in range(batch.num_columns)))
            con.executemany(f"INSERT INTO {name} VALUES ({marks})",
                            ([_sqlite_value(v) for v in r] for r in rows))
        con.commit()
        (n,) = con.execute(f"SELECT count(*) FROM {name}").fetchone()
        if n != t.num_rows:
            raise SystemExit(f"sqlite {name}: {n} rows, parquet has {t.num_rows}")
    con.close()
    os.replace(tmp, path)


def ensure(out_root, sf):
    """Directory holding the tables at `sf`, generating it on first use."""
    with open(__file__, "rb") as f:
        key = hashlib.sha256(f.read() + repr(sf).encode()).hexdigest()[:12]
    out = os.path.join(out_root, f"sf{sf}-{key}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    build_sqlite(out, os.path.join(out, "session.db"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out


if __name__ == "__main__":
    print(ensure(sys.argv[1], float(sys.argv[2])))
