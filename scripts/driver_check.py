"""Mimic the driver: import __spark_entry__, smoke entry(), then run every
queries() entry side-by-side with its oracle_sql() on DuckDB at the given
sf dir, comparing row count + order-insensitive value hash.

Usage: python scripts/driver_check.py [sf_dir] [only_query ...]

The session is bench.py's bench_session (local[$SPARK_GRAFT_CPUS]).
SPARK_GRAFT_GATE_CONF can carry extra session confs as "k=v,k=v"; they apply
last, so they override the bench defaults — used for configuration-axis
campaigns (e.g. the full gate with AQE disabled:
SPARK_GRAFT_GATE_CONF=spark.sql.adaptive.enabled=false).
"""
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = set(sys.argv[2:])

import duckdb

import __spark_entry__ as e
import bench

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def nv(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.17g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    return sorted(tuple(nv(r[i]) for i in idx) for r in rows)


gate_conf = {}
for kv in filter(None, os.environ.get("SPARK_GRAFT_GATE_CONF", "").split(",")):
    k, _, v = kv.partition("=")
    gate_conf[k.strip()] = v.strip()
spark = bench.bench_session("driver_check", gate_conf)

t0 = time.time()
res = e.entry(spark)
n = res.count()
print(f"entry() smoke: {n} rows, schema={[f.name for f in res.schema]}  ({time.time()-t0:.1f}s)")

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracles = e.oracle_sql()
py_oracles = e.py_oracle() if hasattr(e, "py_oracle") else {}
from scalding_spark.session import release_materialized

fails, rows_only = [], []
for name, fn in e.queries().items():
    if only and name not in only:
        continue
    t0 = time.time()
    try:
        df = fn(spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        cols = [f.name for f in df.schema]
        # free library-internal persists (keyless ranged frames, MinHash
        # signatures, ...) between queries — the ledgered release path
        release_materialized(spark)
    except Exception as ex:
        fails.append(name)
        print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
        continue
    if name not in oracles:
        if name in py_oracles:
            # Python-reference golden (non-SQL-expressible query); a
            # crashing checker is a FAIL for that query, not a dead gate
            try:
                err = py_oracles[name](sf_dir, rows, cols)
            except Exception as ex:
                err = f"checker crashed: {type(ex).__name__}: {ex}"
            if err:
                fails.append(name)
                print(f"FAIL {name} (py_oracle): {err}")
            else:
                print(f"OKpy {name}: {len(rows)} rows match "
                      f"({time.time()-t0:.1f}s)")
            continue
        rows_only.append(name)
        print(f"rows-only {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
        continue
    try:
        o = con.execute(oracles[name])
        orows = o.fetchall()
        ocols = [d[0] for d in o.description]
    except Exception as ex:
        # a crashing oracle is a FAIL for that query, not a dead gate
        fails.append(name)
        print(f"FAIL {name}: oracle error {type(ex).__name__}: {ex}")
        continue
    a, b = norm(rows, cols), norm(orows, ocols)
    if sorted(cols) != sorted(ocols):
        fails.append(name)
        print(f"FAIL {name}: schema {sorted(cols)} vs oracle {sorted(ocols)}")
    elif a != b:
        fails.append(name)
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        print(f"FAIL {name}: {len(rows)} vs {len(orows)} rows; first diffs: {diff}")
    else:
        print(f"OK   {name}: {len(rows)} rows match ({time.time()-t0:.1f}s)")

print(f"\n{len(fails)} failures; {len(rows_only)} rows-only: {rows_only}")
sys.exit(1 if fails else 0)
