"""Seeded tables for the operator suite, and its expected results.

The tables are those the suite's queries read (``part``, ``supplier``,
``customer``, ``nation``, ``documents``, ``embeddings``), with the
schemas of the engine's TPC-H-ish test tables, at about a two-hundredth
of sf1. Every value comes from a numpy generator seeded with the run's
seed. The row counts do not depend on the seed, so the work per pass does
not either.

Expected results come from each query's DuckDB twin in
``__spark_entry__.oracle_sql()`` over the same tables. A result is
compared as a row count and an order-independent digest of its rows,
normalized as the engine's oracle gate does: columns sorted by name,
floats rounded to 9 digits, bytes hashed.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np

ROWS = {"part": 1000, "supplier": 50, "customer": 750, "nation": 25,
        "documents": 500, "embeddings": 500}

_WORDS = ("the a data table row column key value join merge sort scan hash "
          "filter group order part line customer query spark batch stream "
          "window agg vector big small fast slow dup index tile zoom map "
          "image pixel shard cell box point ring").split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def make_tables(seed: int) -> dict:
    """name -> pyarrow.Table, all drawn from ``seed``."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0x7AB1E5])
    n = ROWS
    out = {}

    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(n["nation"]), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(n["nation"])],
        "n_regionkey": pa.array(rng.integers(0, 5, n["nation"]), pa.int32()),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, n["supplier"] + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n["supplier"] + 1)],
        "s_nationkey": pa.array(rng.integers(0, n["nation"], n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, n["part"] + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, n["part"] + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n["part"])],
        "p_type": [f"TYPE{t}" for t in rng.integers(0, 150, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n["part"]), 2),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n["customer"] + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n["customer"] + 1)],
        "c_nationkey": pa.array(rng.integers(0, n["nation"], n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
    })

    nd = n["documents"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if texts and r < 0.08:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.2:  # near copy: a few words changed
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(tables: dict, out_dir: str) -> str:
    """Write each table to ``out_dir/<name>.parquet``; returns ``out_dir``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --- results -----------------------------------------------------------------

def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        return hashlib.md5(bytes(v)).hexdigest()
    return repr(v)


def result_digest(columns, rows) -> dict:
    """Row count and order-independent digest of a query result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.blake2b(digest_size=16)
    h.update(repr([columns[i] for i in order]).encode())
    for row in normed:
        h.update(repr(row).encode())
    return {"rows": len(normed), "digest": h.hexdigest()}


def expected_results(tables: dict, names) -> dict:
    """name -> result digest of each query's DuckDB twin over ``tables``."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for tname, table in tables.items():
            con.register(tname, table)
        out = {}
        for name in names:
            res = con.sql(sql[name])
            out[name] = result_digest(list(res.columns), res.fetchall())
        return out
    finally:
        con.close()
