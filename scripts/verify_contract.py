"""Local mirror of the driver's correctness gate: run every registered
query at $SPARK_GRAFT_SF_DIR (default sf0.01) against its DuckDB oracle and
print per-query OK/MISMATCH lines plus a final FAILS list.

Two legs (r4 VERDICT action #2 — session-config fragility must be caught
locally):
  * ansi=off: the engine's own declared config (session.get_spark), FULL
    registry;
  * ansi=on:  the DRIVER's harness config (a default Spark 4 session has
    spark.sql.ansi.enabled=true), over the driver WINDOW (first 50
    registry entries — what the driver actually executes).  The conf is
    re-asserted before every query because the dialect queries pin it off
    at runtime (their declared semantics).

Named queries (any other arguments) are checked alone, on both legs,
whatever the window.

Usage:
    python scripts/verify_contract.py [--ansi off|on|both]   # default both
    python scripts/verify_contract.py q1 q2 ...              # only these
"""
import json, math, os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as E
from dsq_spark.session import get_spark
import duckdb

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
MODE, args = "both", sys.argv[1:]
if "--ansi" in args:
    k = args.index("--ansi")
    MODE, args = args[k + 1], args[:k] + args[k + 2:]
spark = get_spark("verify-contract")
spark.sparkContext.setLogLevel("ERROR")
print("entry rows:", E.entry(spark).count(), flush=True)

con = duckdb.connect()
for t in ("region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"):
    p = os.path.join(SF, f"{t}.parquet")
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

def norm(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if v is None: vals.append("∅")
            elif isinstance(v, float): vals.append("nan" if math.isnan(v) else f"{v:.12g}")
            else: vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)

qs, orc = E.queries(), E.oracle_sql()
fails = []

def run_leg(ansi: str, names):
    for i, name in enumerate(names):
        fn = qs[name]
        try:
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            sdf = fn(spark, SF)
            srows = [r.asDict() for r in sdf.collect()]
            cols = sorted(sdf.columns)
            if name not in orc:
                print(f"[ansi={ansi}] {i:2d} {name}: rows-only {len(srows)}", flush=True)
                continue
            o = con.sql(orc[name])
            ocols = [d[0] for d in o.description]
            orows = [dict(zip(ocols, r)) for r in o.fetchall()]
            ok_schema = sorted(ocols) == cols
            ok_rows = len(orows) == len(srows)
            ok_hash = ok_schema and norm(srows, cols) == norm(orows, cols)
            status = "OK" if (ok_schema and ok_rows and ok_hash) else f"MISMATCH schema={ok_schema} rows={len(srows)}/{len(orows)} hash={ok_hash}"
            if not (ok_schema and ok_rows and ok_hash): fails.append(f"{name}@ansi={ansi}")
            print(f"[ansi={ansi}] {i:2d} {name}: {status}", flush=True)
        except Exception as ex:
            fails.append(f"{name}@ansi={ansi}")
            print(f"[ansi={ansi}] {i:2d} {name}: ERR {str(ex).splitlines()[0][:160]}", flush=True)

names = args or list(qs)
if MODE in ("off", "both"):
    run_leg("false", names)
if MODE in ("on", "both"):
    run_leg("true", args or names[:50])
print("FAILS:", fails)
