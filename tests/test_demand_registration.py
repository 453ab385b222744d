"""Demand registration: the CLI registers the function library only when
its rewritten statement calls some of it
(functions.register_all(spark, sql=...)).

Temporary functions are session-scoped, so every CLI run here gets a
fresh ``spark.newSession()``: on the shared test session, functions an
earlier test registered would mask a statement that fails to trigger
registration."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.udf import UDFRegistration

from dsq_spark.cli import run
from dsq_spark.functions import (_sql_udfs, calls_library, library_names,
                                 register_all)

TAXI_SQL = ("SELECT passenger_count, COUNT(*), AVG(total_amount) FROM {} "
            "GROUP BY passenger_count")

# One call per pandas/Python UDF; SQL UDF calls are generated from the
# DDL signature below.
UDF_CALLS = {
    "dsq_json_set": """dsq_json_set('{"a":1}', array('$.b', '2'))""",
    "dsq_json_insert": """dsq_json_insert('{"a":1}', array('$.b', '2'))""",
    "dsq_json_replace": """dsq_json_replace('{"a":1}', array('$.a', '2'))""",
    "dsq_json_remove": """dsq_json_remove('{"a":1,"b":2}', array('$.a'))""",
    "json_patch": """json_patch('{"a":1}', '{"b":2}')""",
    "dsq_json_tree": """dsq_json_tree('{"a":[1,2]}', '$.a')""",
    "dsq_json_each": """dsq_json_each('{"a":[1,2]}', '$.a')""",
    "dsq_quote_real": "dsq_quote_real('1.5')",
    "dsq_real_text_agg": "dsq_real_text_agg(n * 1.5)",
    "dsq_glob_regex_agg": "dsq_glob_regex_agg('x[a-c]*')",
    "dsq_like_regex_agg": "dsq_like_regex_agg('x!%%', '!')",
    "dsq_printf_float": "dsq_printf_float(n * 1.5, '%.3f')",
}

_ARG = {"STRING": "s", "INT": "2", "BIGINT": "2", "DOUBLE": "(n * 1.5)"}
_DDL = {re.match(r"CREATE OR REPLACE TEMPORARY FUNCTION (\w+)", d).group(1): d
        for d in _sql_udfs()}


def _call(name: str) -> str:
    if name not in _DDL:
        return UDF_CALLS[name]
    params = re.match(rf"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
                      r"\((.*?)\) RETURNS", _DDL[name]).group(1)
    return f"{name}({', '.join(_ARG[p.split()[1]] for p in params.split(', '))})"


def _run(argv, spark) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert run(argv, spark) == 0
    return buf.getvalue()


@pytest.fixture(scope="module")
def one_row(tmp_path_factory):
    p = tmp_path_factory.mktemp("demand") / "one.csv"
    p.write_text("s,n\n2021-03-04 05:06:07,2\n")
    return str(p)


@pytest.fixture(scope="module")
def taxi(tmp_path_factory):
    p = tmp_path_factory.mktemp("demand") / "taxi.csv"
    p.write_text("passenger_count,total_amount\n1,10.5\n2,3.25\n1,4.0\n")
    return str(p)


@pytest.fixture(scope="module")
def eager(spark):
    s = spark.newSession()
    register_all(s)
    return s


@pytest.fixture
def counted(monkeypatch):
    """Every CREATE ... FUNCTION statement and spark.udf.register call."""
    calls = {"ddl": [], "udf": []}
    orig_sql, orig_register = SparkSession.sql, UDFRegistration.register

    def sql(self, query, *a, **k):
        m = re.match(r"\s*CREATE\b.*?\bFUNCTION\s+(\w+)", query, re.I | re.S)
        if m:
            calls["ddl"].append(m.group(1))
        return orig_sql(self, query, *a, **k)

    def register(self, name, *a, **k):
        calls["udf"].append(name)
        return orig_register(self, name, *a, **k)

    monkeypatch.setattr(SparkSession, "sql", sql)
    monkeypatch.setattr(UDFRegistration, "register", register)
    return calls


def test_library_names_are_what_register_all_creates(spark, counted):
    """library_names() drives the CLI's trigger and the cases below, so
    it must list exactly what eager registration creates, in order."""
    assert register_all(spark.newSession()) == list(library_names())
    assert counted["ddl"] + counted["udf"] == list(library_names())


def test_calls_library():
    assert calls_library("SELECT GLOB ('x*', s) FROM t")
    assert calls_library("SELECT `date_year`(s) FROM t")
    assert calls_library("SELECT x FROM t WHERE s RLIKE glob_regex('a*')")
    assert not calls_library(TAXI_SQL)
    assert not calls_library("SELECT glob, globx(s), my_glob(s) FROM t")


@pytest.mark.parametrize("name", sorted(set(library_names())))
def test_every_function_registers_on_demand(spark, eager, one_row, name):
    """One statement per library function, run through the CLI on a fresh
    session, must print what the eagerly registered session prints —
    names come from library_names(), so a new function is covered (a new
    pandas UDF fails here until UDF_CALLS gains a call for it)."""
    argv = [one_row, f"SELECT {_call(name)} AS v FROM {{}}"]
    assert _run(argv, spark.newSession()) == _run(argv, eager)


def test_plain_statements_register_nothing(spark, taxi, counted):
    """The taxi group-by, --schema and the query-less dump call no library
    function, so none of them creates one; the glob control proves the
    counters see registrations."""
    _run([taxi, TAXI_SQL], spark.newSession())
    _run(["--schema", taxi], spark.newSession())
    _run([taxi], spark.newSession())
    assert counted == {"ddl": [], "udf": []}
    _run([taxi, "SELECT glob('1*', passenger_count) AS g FROM {}"],
         spark.newSession())
    assert counted["ddl"] + counted["udf"] == list(library_names())


def test_repeat_statement_registers_nothing_more(spark, one_row, counted):
    fresh = spark.newSession()
    argv = [one_row, "SELECT glob('2*', s) AS g FROM {}"]
    _run(argv, fresh)
    _run(argv, fresh)
    assert counted["ddl"] + counted["udf"] == list(library_names())


def test_strict_json_on_fresh_session_raises(spark, one_row, monkeypatch):
    """--strict-json sets the mode before the statement is rewritten, so
    the aggregate inliner keeps the raising json() registration instead
    of inlining the soft body."""
    monkeypatch.setenv("DSQ_STRICT_JSON", "")  # restored after the flag
    with pytest.raises(Exception, match="malformed JSON"):
        _run(["--strict-json", one_row,
              "SELECT json('{bad') AS v, COUNT(*) AS c FROM {}"],
             spark.newSession())
