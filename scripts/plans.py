"""Capture .explain("formatted") for every registered query into a directory.

Usage:
    python scripts/plans.py <out_dir> [tag] [name ...]

``tag`` defaults to ``before``; with no names every registered query is
captured.  Example: ``python scripts/plans.py /tmp/plans after q1 q3``.

Driver-only work (plan compilation, no job execution), so it can run while
other Spark work is idle.  Reads the tables bench.py reads
($SPARK_GRAFT_SF_DIR) and writes <out_dir>/<query>_<tag>.txt.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR  # noqa: E402  (the data bench.py runs on)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    os.makedirs(out, exist_ok=True)
    from dsq_spark.session import get_spark
    import dsq_spark.queries as Q

    spark = get_spark("dsq-plans")
    spark.sparkContext.setLogLevel("ERROR")
    todo = names or list(Q.REGISTRY)
    for name in todo:
        q = Q.REGISTRY[name]
        try:
            df = q.fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as ex:  # noqa: BLE001
            plan = f"PLAN ERROR: {ex}\n"
        with open(os.path.join(out, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan)} bytes", flush=True)


if __name__ == "__main__":
    main()
