"""Driver simulation: runs the __spark_entry__ contract the way the
round driver does — a BARE SparkSession (only UTC tz, none of
session.py's tuning), entry() smoke check, then every queries() entry
against its oracle_sql() on sf0.001 via DuckDB. Catches hidden
dependencies on our tuned session confs that the driver's own plain
session would not set.

Usage: python tools/driver_sim.py
"""

import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

SF = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.001")

spark = (
    SparkSession.builder.master("local[8]")
    .appName("driver_sim")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

import __spark_entry__ as ent

rows = ent.entry(spark).collect()
print(f"entry: {len(rows)} rows", flush=True)
assert len(rows) == 6, rows

qmap = ent.queries()
omap = ent.oracle_sql()

con = duckdb.connect()
for t in (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v)
    return str(v)


fails = 0
from energydatalake_spark import release_caches

for name, build in qmap.items():
    try:
        sdf = build(spark, SF)
        s_cols = sdf.columns
        s_rows = sdf.collect()
    except Exception as exc:
        print(f"FAIL {name}: spark {type(exc).__name__}: {str(exc)[:200]}", flush=True)
        fails += 1
        continue
    finally:
        release_caches()  # released on success AND failure paths
    if name not in omap:
        print(f"ok*  {name}: rows-only ({len(s_rows)})", flush=True)
        continue
    rel = con.sql(omap[name])
    d_cols = list(rel.columns)
    d_rows = rel.fetchall()
    so = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    do = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
    ns = sorted(",".join(norm(r[i]) for i in so) for r in s_rows)
    nd = sorted(",".join(norm(r[i]) for i in do) for r in d_rows)
    if sorted(s_cols) != sorted(d_cols) or ns != nd:
        print(f"FAIL {name}: cols/values differ "
              f"({len(s_rows)} vs {len(d_rows)} rows)", flush=True)
        fails += 1
    else:
        print(f"OK   {name} ({len(s_rows)})", flush=True)

print("ALL OK" if fails == 0 else f"{fails} FAILURES", flush=True)
sys.exit(1 if fails else 0)
