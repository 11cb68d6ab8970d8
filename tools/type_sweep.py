"""One-shot sweep: compare DuckDB oracle result types vs Spark dtypes for
every oracle, without executing the Spark plans (lazy schemas only).
Flags the HUGEINT/DECIMAL drift class the driver's hasher is sensitive to.
"""
import os
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

import duckdb

import __spark_entry__ as entrymod
from check_oracle import type_mismatches
from rastertiler_rs_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

spark = get_spark("type_sweep", cpus=4, shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

qs = entrymod.queries()
oracles = entrymod.oracle_sql()
n_bad = 0
for name in qs:
    if name not in oracles:
        continue
    try:
        rel = con.sql(oracles[name])
        dcols, dtypes = list(rel.columns), list(rel.types)
    except Exception as e:
        print(f"ERR duckdb {name}: {e}")
        n_bad += 1
        continue
    try:
        sdtypes = qs[name](spark, SF_DIR).dtypes
    except Exception as e:
        print(f"ERR spark {name}: {e}")
        n_bad += 1
        continue
    bad = type_mismatches(sdtypes, dcols, dtypes)
    if bad:
        n_bad += 1
        print(f"TYPE-DRIFT {name}: " + ", ".join(
            f"{c}: spark={s} duckdb={d}" for c, s, d in bad))
    else:
        print(f"ok {name}")
print(f"\n{n_bad} drifted" if n_bad else "\nall clean")
sys.exit(1 if n_bad else 0)
