"""Driver-harness simulation: run every queries() entry against its
oracle_sql() twin the way the round driver does — a BARE SparkSession
(Spark 4 ANSI defaults, none of get_spark's permissive confs) at sf0.01,
order-insensitive value comparison. Catches session-drift regressions
(e.g. ANSI-unsafe casts) that the repo-session pytest can mask.

Usage: python scripts/driver_parity_check.py  (prints OK/FAIL per query;
exit status is nonzero when any query fails). Runs at local[$SPARK_GRAFT_CPUS]
(default: the usable core count) with the engine's host-fitted heap
(session.local_driver_memory)."""
import math, os, sys, traceback
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession

from takco_spark.session import local_driver_memory

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

CPUS = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
spark = (SparkSession.builder.master(f"local[{CPUS}]")
         .config("spark.sql.shuffle.partitions","32")
         .config("spark.driver.memory", local_driver_memory())
         .getOrCreate())
print("ansi:", spark.conf.get("spark.sql.ansi.enabled"))

import __spark_entry__ as e
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    def nv(v):
        if v is None: return None
        if isinstance(v, bool): return v
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 6)
        return v
    return sorted(tuple(nv(r[i]) for i in order) for r in rows)

q, o = e.queries(), e.oracle_sql()
# golden-pinned oracles exist only for the SFs with committed expected-output
# parquet (orders = 1500 / 15000); at any other SF their SQL returns an empty
# set by construction — skip them rather than report a false mismatch
n_orders = con.execute("SELECT count(*) FROM orders").fetchone()[0]
have_goldens = n_orders in (1500, 15000)
fails = []
for name in sorted(q):
    try:
        if not have_goldens and name in o and ".sf0.01.parquet" in o[name]:
            print(f"{name}: GOLDEN_SKIPPED (no committed golden for this SF)")
            continue
        qdf = q[name](spark, SF)
        scols = qdf.columns; srows = [tuple(r) for r in qdf.collect()]
        if name not in o:
            print(f"{name}: ROWS_ONLY {len(srows)}"); continue
        cur = con.execute(o[name])
        dcols = [d[0] for d in cur.description]; drows = cur.fetchall()
        ok_schema = sorted(scols) == sorted(dcols)
        ok_rows = len(srows) == len(drows)
        mism = []
        if ok_schema and ok_rows:
            ns, nd = norm(srows, scols), norm(drows, dcols)
            mism = [(a,b) for a,b in zip(ns,nd) if a != b]
        status = "OK" if (ok_schema and ok_rows and not mism) else "FAIL"
        print(f"{name}: {status} spark={len(srows)} duck={len(drows)} schema={ok_schema} mism={len(mism)}")
        if status == "FAIL":
            fails.append(name)
            if mism: print("  first mismatch:", mism[0])
            if not ok_schema: print("  cols:", scols, "vs", dcols)
    except Exception:
        fails.append(name)
        print(f"{name}: ERROR"); traceback.print_exc(limit=3)
print("FAILS:", fails)
sys.exit(1 if fails else 0)
