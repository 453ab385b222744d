"""What a warm session must not pay again on every pass: Janino compiles
of the statements it has already run, and per-round jobs of an operator
that loops on the driver (a job budget per operator)."""

from __future__ import annotations

import pytest

import dsq_spark.queries as Q


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_a_statement_run_again_compiles_nothing(spark):
    """get_spark's codegen cache holds more than one round of 60
    statements (two classes each, more than Spark's default of 100
    entries), so the second round finds every class it needs compiled."""
    statements = [f"SELECT id * {k} + 1 AS x FROM range(3)" for k in range(2, 62)]
    before = _compiled(spark)
    for sql in statements:
        spark.sql(sql).collect()
    first = _compiled(spark) - before
    assert first > 100
    for sql in statements:
        spark.sql(sql).collect()
    assert _compiled(spark) - before == first


@pytest.mark.parametrize("name, budget", [("sim_neardup_components", 8)])
def test_driver_loop_operator_stays_in_its_job_budget(spark, sf_dir, count_jobs,
                                                       name, budget):
    """sim_neardup_components collects its near-dup pairs once and labels
    them on the driver (4 jobs here); the label-propagation loop it
    replaced launched 43 on this table.  Jobs are counted for one
    evaluation, built and written to the noop sink the way bench.py runs
    it."""
    spark.catalog.clearCache()
    _, jobs = count_jobs(f"job-budget-{name}", lambda: (
        Q.REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()))
    assert jobs <= budget
