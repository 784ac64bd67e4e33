"""Replay the `__spark_entry__` contract: run queries() vs oracle_sql()
and compare.

    python scripts/check_entry.py                 # entry smoke + all queries
    python scripts/check_entry.py ams_f2_tokens   # entry smoke + named ones

The sf dir is $CHECK_SF (default sf0.01, the full gate's)."""
import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

# repo on the path for the driver AND the executor python workers
# (workers inherit env, not driver sys.path)
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")).rstrip(os.pathsep)
import __spark_entry__ as E  # noqa: E402

SF = os.environ.get("CHECK_SF", "/root/testdata/sf0.01")
qs = E.queries()
oracles = E.oracle_sql()
names = sys.argv[1:] or list(qs)
unknown = [n for n in names if n not in qs]
if unknown:
    print(f"unknown queries: {unknown}")
    sys.exit(2)

spark = (SparkSession.builder.master("local[8]").appName("check-entry")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

# smoke entry
t0 = time.time()
rows = E.entry(spark).collect()
print(f"ENTRY ok: {len(rows)} rows in {time.time()-t0:.1f}s -> {rows[0].asDict()}")

fails = []
for name in names:
    t0 = time.time()
    try:
        sdf = qs[name](spark, SF).toPandas()
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
        fails.append(name)
        continue
    dt = time.time() - t0
    if name not in oracles:
        print(f"ok(rows-only) {name}: {len(sdf)} rows  [{dt:.1f}s]")
        continue
    try:
        odf = con.sql(oracles[name]).df()
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: oracle error {type(e).__name__}: "
              f"{str(e)[:300]}")
        fails.append(name)
        continue
    ok = True
    msgs = []
    if len(sdf) != len(odf):
        ok = False
        msgs.append(f"rowcount {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        ok = False
        msgs.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    if ok and len(sdf):
        a = sdf[sorted(sdf.columns)].copy()
        b = odf[sorted(sdf.columns)].copy()
        a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
        b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
        for c in a.columns:
            try:
                if a[c].astype(str).tolist() != b[c].astype(str).tolist():
                    ok = False
                    msgs.append(
                        f"values differ in {c}: {a[c].head(3).tolist()} "
                        f"vs {b[c].head(3).tolist()}")
            except Exception as e:  # noqa: BLE001
                ok = False
                msgs.append(f"cmp error {c}: {e}")
    status = "MATCH" if ok else "MISMATCH " + "; ".join(msgs)
    print(f"{'ok' if ok else 'FAIL'} {name}: {len(sdf)} rows {status}  "
          f"[{dt:.1f}s]")
    if not ok:
        fails.append(name)

print(f"\n{len(fails)} failures: {fails}")
spark.stop()
sys.exit(1 if fails else 0)
