"""What a warm session must not pay again on every pass: Janino compiles
of the statements it has already run, per-round jobs of an operator that
loops on the driver (a job budget per operator), and the schema-inference
job of a JSON file it has read before."""

from __future__ import annotations

import io
import json
from contextlib import redirect_stdout

import pytest

import dsq_spark.queries as Q
from dsq_spark import cli
from dsq_spark.sources import readers


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


def _run(argv, spark) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.run(argv, spark) == 0
    return buf.getvalue()


def test_a_repeat_read_of_an_unchanged_json_reuses_its_schema(spark, count_jobs,
                                                              tmp_path, capsys):
    """A second call over the same nested JSON runs one job fewer than the
    first: the schema-inference job.  Rewritten at the same path with one
    more field, the file is inferred again and the call returns the field."""
    users = tmp_path / "users.json"
    users.write_text(json.dumps(
        [{"id": i, "address": {"city": f"c{i % 3}"}} for i in range(50)]))
    session = spark.newSession()  # a memo of its own
    argv = ["--verbose", str(users), "SELECT * FROM {} ORDER BY id LIMIT 2"]
    first, first_jobs = count_jobs("memo-first", lambda: _run(argv, session))
    assert f"schema of {users}: inferred" in capsys.readouterr().err
    again, again_jobs = count_jobs("memo-again", lambda: _run(argv, session))
    assert f"schema of {users}: reused" in capsys.readouterr().err
    assert again == first and again_jobs == first_jobs - 1
    users.write_text(json.dumps(
        [{"id": i, "address": {"city": f"c{i % 3}", "zip": str(i)}} for i in range(50)]))
    assert json.loads(_run(argv, session))[1] == {"id": 1, "address.city": "c1",
                                                  "address.zip": "1"}


def test_the_schema_memo_stays_at_its_bound(spark, monkeypatch):
    """Each `-s json` call spools stdin to a new file, so each one misses;
    the memo keeps only the last _SCHEMA_MEMO_ENTRIES of them."""
    session = spark.newSession()
    for i in range(readers._SCHEMA_MEMO_ENTRIES + 3):
        monkeypatch.setattr("sys.stdin", io.TextIOWrapper(
            io.BytesIO(json.dumps([{"n": i}]).encode())))
        assert _run(["-s", "json", "SELECT n FROM {}"], session) == f'[{{"n": {i}}}]\n'
    assert len(readers._schema_memos[session]) == readers._SCHEMA_MEMO_ENTRIES
