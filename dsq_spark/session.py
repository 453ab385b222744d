"""SparkSession construction.

Defaults are tuned so the SAME code runs on local[N] for tests and on a
large cluster: AQE on (runtime coalescing + skew-join handling), Arrow on
(vectorized pandas-UDF exchange), modest shuffle partitions locally (AQE
coalesces further), broadcast threshold left at default so Catalyst
broadcasts small dimension tables (region/nation/...) automatically.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "dsq-spark",
              master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster, pass ``master=None`` with an external master URL in
    the environment; locally this defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — essential at 100 TB where
        # static planning misestimates.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r11: advisory coalescing target, env-tunable for cluster runs
        # (guide §2.2/§9 recommends 64-256 MB post-shuffle partitions at
        # scale; 64m is Spark's default, restated here so deployments have
        # one knob).  parallelismFirst was ALSO tried as "false" this round
        # and measured NEUTRAL-TO-NEGATIVE under the paired same-JVM A/B
        # protocol (agg_approx_quantile 1.27->2.04 s, sessionize
        # 0.27->0.35 s; the apparent first-look wins were fresh-JVM
        # cold/warm ordering artifacts), so it keeps Spark's default:
        # sub-minPartitionSize shuffles coalesce to 1 partition either way,
        # and mid-size shuffles keep their parallelism.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"))
        # Arrow for any pandas-UDF exchange (the only sanctioned Python path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local default: one shuffle partition per core; on a cluster this
        # should be ~2-3x total cores — AQE coalesces the excess either way.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        # ANSI off: dsq/SQLite semantics are permissive (overflow wraps,
        # bad casts -> NULL), and our oracle SQL mirrors that.
        .config("spark.sql.ansi.enabled", "false")
        # Timestamps: avoid session-TZ surprises in oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos type, so read as long and rebuild micros in the loader
        # (dsq_spark.queries.base.t) — DuckDB truncates nanos→micros the
        # same way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] runs executors inside the driver JVM: size the heap for
        # N concurrent tasks + persisted caches, or late-suite full GCs
        # show up as multi-second noise spikes on otherwise-fast queries.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    # Python workers import dsq_spark (pandas-UDF closures pickle its
    # functions by reference), so put the directory that holds the
    # package on their path, or they only find it when the cwd is the
    # repo root.  Spark merges this with the process's own PYTHONPATH.
    builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    return builder.getOrCreate()

