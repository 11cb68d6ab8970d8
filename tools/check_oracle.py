"""Local replica of the round driver's correctness gate: run every
queries() entry at sf0.01 and compare with oracle_sql() via DuckDB —
row count, schema (column names), and order-insensitive value equality.

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# driver gate runs at sf0.01; override to stress-test oracles at other
# scales (e.g. SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 for the float-
# sensitive cross-engine queries)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import datetime
    import math as m

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if m.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        import hashlib

        return hashlib.md5(bytes(v)).hexdigest()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return repr(v)


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


# The driver's hasher is TYPE-sensitive where this gate's repr()
# normalization is not: r5's tms_flip went driver-red on a DuckDB
# HUGEINT (SUM over BIGINT) promoting the unioned column while every
# value matched.  Calibration from CORRECTNESS_r05: signed-int WIDTH
# mixes (spark int vs duckdb BIGINT and vice versa — knn.rank,
# doc_stats counts, vector_tiles fid...) all hashed GREEN, so plain
# widths are equivalent; only out-of-int64 types (HUGEINT, DECIMAL,
# unsigned) flip the driver hash.  Fail those even when values agree.
_SIGNED_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
_DUCK_OK = {
    "bigint": _SIGNED_INTS,
    "int": _SIGNED_INTS,
    "smallint": _SIGNED_INTS,
    "tinyint": _SIGNED_INTS,
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "binary": {"BLOB"},
    "date": {"DATE"},
}


def type_mismatches(spark_dtypes, dcols, dtypes):
    duck = {c: str(t) for c, t in zip(dcols, dtypes)}
    bad = []
    for col, sdt in spark_dtypes:
        ddt = duck.get(col)
        if ddt is None:
            continue  # schema check reports missing columns
        ok = _DUCK_OK.get(sdt)
        if ok is None:
            # timestamps/arrays/structs: values check covers; only flag
            # the known-poisonous integer widenings
            if ddt in ("HUGEINT", "UHUGEINT") or ddt.startswith("DECIMAL"):
                bad.append((col, sdt, ddt))
            continue
        if ddt not in ok:
            bad.append((col, sdt, ddt))
    return bad


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from rastertiler_rs_spark.session import get_spark

    spark = get_spark("check_oracle", cpus=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    selected = sys.argv[1:] or list(qs)
    failures = []
    for name in selected:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name:22s} spark error: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok*   {name:22s} rows-only: {len(srows)} rows, {len(scols)} cols  ({dt:.1f}s)")
            if len(srows) == 0:
                print(f"      WARNING: {name} returned 0 rows")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = list(res.columns)
            dtypes = list(res.types)
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name:22s} duckdb error: {e}")
            failures.append(name)
            continue
        bad_types = type_mismatches(sdf.dtypes, dcols, dtypes)
        if bad_types:
            print(f"FAIL  {name:22s} types: "
                  + ", ".join(f"{c}: spark={s} duckdb={d}"
                              for c, s, d in bad_types))
            failures.append(name)
            continue
        sc, sm = df_to_multiset(scols, srows)
        dc, dm = df_to_multiset(dcols, drows)
        if sc != dc:
            print(f"FAIL  {name:22s} schema: spark={sc} duckdb={dc}")
            failures.append(name)
            continue
        if len(sm) != len(dm):
            print(f"FAIL  {name:22s} rowcount: spark={len(sm)} duckdb={len(dm)}")
            failures.append(name)
            continue
        if sm != dm:
            diffs = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
            print(f"FAIL  {name:22s} values differ; first diffs: {diffs}")
            failures.append(name)
            continue
        print(f"ok    {name:22s} {len(sm)} rows match  ({dt:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print(f"all {len(selected)} queries consistent")


if __name__ == "__main__":
    main()
