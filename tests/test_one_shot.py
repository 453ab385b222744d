"""What a one-shot CLI call skips: the JIT tiers it never pays back
(dsq_spark.session._jit_plan), the job that infers a plain CSV header
(dsq_spark.sources.readers._plain_header) and the projection that would
flatten an already flat frame.  None of them may change a result."""

from __future__ import annotations

import io
import os
import re
import subprocess
import sys
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from dsq_spark import session
from dsq_spark.cli import _input_bytes, parse_args, run
from dsq_spark.sources import read_file
from dsq_spark.sources.flatten import flatten
from dsq_spark.sources.readers import _plain_header

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> (bytes, whether the header is read without Spark's inference job)
CORPUS = {
    "plain.csv": (b"a,b,c\n1,2,3\n4,5,6\n", True),
    "spaces.csv": (b" Name,Age , x y\nAl,3,z\n", True),
    "space_only_name.csv": (b" ,a\n1,2\n", True),
    "non_ascii.csv": ("名前,Äge,naïve,ς\nx,y,z,w\n".encode(), True),
    "dotted.csv": (b"a.b,c\n1,2\n", True),
    "hash.csv": (b"#a,b\n1,2\n", True),
    "header_only.csv": (b"x,y\n", True),
    "plain.tsv": (b"a\tb c\td,e\n1\t2\t3\n", True),
    "quoted.csv": (b'"a","b c"," d ",e\n1,2,3,4\n', True),
    "quoted_backslash.csv": (b'"a\\b",c\\\n1,2\n', True),
    "empty_name.csv": (b"a,,b\n1,2,3\n", False),
    "dup_case.csv": (b"A,a\n1,2\n", False),
    "dup.tsv": (b"x\tX\n1\t2\n", False),
    "trailing_sep.csv": (b"a,b,\n1,2,3\n", False),
    "doubled_quote.csv": (b'"a""x",b\n1,2\n', False),
    "quoted_sep.csv": (b'"a,b",c\n1,2\n', False),
    "quoted_empty.csv": (b'"",a\n1,2\n', False),
    "half_quoted.csv": (b'"a"b,c\n1,2\n', False),
    "inner_quote.csv": (b'a"b,c\n1,2\n', False),
    "space_quote.csv": (b' "a",b\n1,2\n', False),
    "bom.csv": (b"\xef\xbb\xbfa,b\n1,2\n", False),
    "crlf.csv": (b"a,b\r\n1,2\r\n", False),
    "blank_first.csv": (b"\na,b\n1,2\n", False),
    "spaces_first.csv": (b"   \na,b\n1,2\n", False),
    "control.csv": (b"a\x01,b\n1,2\n", False),
    "latin1.csv": (b"caf\xe9,b\n1,2\n", False),
    "no_newline.csv": (b"a,b", False),
    "empty.csv": (b"", False),
    "long_line.csv": ((",".join(f"c{i}" for i in range(12000)) + "\n").encode(), False),
}


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("headers")
    for name, (data, _) in CORPUS.items():
        (d / name).write_bytes(data)
    return d


@pytest.mark.parametrize("name", sorted(CORPUS))
def test_csv_header_matches_spark_inference(spark, corpus, count_jobs, name):
    """read_file's schema and rows are what Spark's own header inference
    gives with the same options; only a plain header skips its job."""
    path = str(corpus / name)
    sep = "\t" if name.endswith(".tsv") else ","
    plain = CORPUS[name][1]
    assert (_plain_header(path, sep) is not None) == plain
    df, jobs = count_jobs(f"dsq-read-{name}", lambda: read_file(spark, path))
    inferred, inferred_jobs = count_jobs(f"dsq-infer-{name}", lambda: (
        spark.read.option("header", True).option("sep", sep).option("inferSchema", False)
        .option("ignoreLeadingWhiteSpace", False).option("ignoreTrailingWhiteSpace", False)
        .option("escape", '"').csv(path)))
    assert df.schema == inferred.schema
    assert df.collect() == inferred.collect()
    if plain:
        assert jobs == 0
        assert df.columns == CORPUS[name][0].decode().split("\n")[0].replace('"', "").split(sep)
    else:  # a declined header goes through Spark's inference job, as before
        assert jobs == inferred_jobs and (jobs > 0 or not CORPUS[name][0])


def test_convert_numbers_still_infers(spark, corpus):
    df = read_file(spark, str(corpus / "plain.csv"), convert_numbers=True)
    assert [t for _, t in df.dtypes] == ["int", "int", "int"]


def test_flatten_returns_a_flat_frame_as_is(spark):
    flat = spark.range(1).select(F.lit("x").alias("a"), F.col("id").alias("b"))
    assert flatten(flat) is flat
    dotted = spark.range(1).select(F.col("id").alias("a.b"))
    assert flatten(dotted).columns == ["a\\.b"]
    nested = spark.range(1).select(F.struct(F.col("id").alias("c")).alias("s"))
    assert flatten(nested).columns == ["s.c"]


def test_jit_gate_follows_the_input_size(tmp_path, monkeypatch):
    """C1 only below the byte budget, for a short statement that cuts its
    output down, over CSV and JSON files; tiered at and over the budget,
    for a dump with no statement, for a statement without GROUP BY or
    LIMIT or longer than C1_STATEMENT_CHARS, for a directory, a Parquet
    file, the REPL and a conf dir that holds more than templates."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    limit, chars = session.C1_MAX_INPUT_BYTES, session.C1_STATEMENT_CHARS
    c1 = ["-XX:TieredStopAtLevel=1"]
    grouped = "SELECT a, COUNT(*) FROM {} GROUP BY a"
    assert session._jit_plan(limit - 1, grouped) == (c1, f"{(limit - 1) / 1e6:.1f} MB of input")
    long_limit = "SELECT id FROM {} LIMIT 300 " + "-" * (chars - 28)
    assert len(long_limit) == chars and session._jit_plan(limit - 1, long_limit)[0] == c1
    assert session._jit_plan(1, "select a from {} group\nby a")[0] == c1
    for size in (limit, limit + 1):
        opts, why = session._jit_plan(size, grouped)
        assert opts == [] and why.endswith(f", at or over {limit >> 20} MiB")
    assert session._jit_plan(1, long_limit + "-") == (
        [], f"a statement of {chars + 1} characters, over {chars}")
    assert session._jit_plan(1, None) == ([], "no statement: every row is printed")
    for rows_out in ("SELECT * FROM {}", "SELECT a FROM {} WHERE b = 'GROUP BY'",
                     "SELECT a AS `limit` FROM {}", "SELECT a FROM {} -- LIMIT 1",
                     "SELECT * FROM {} WHERE a IN (SELECT a FROM {} GROUP BY a)"):
        assert session._jit_plan(1, rows_out) == ([], "a statement with no GROUP BY or LIMIT")
    assert session._jit_plan(None, grouped) == ([], "no input size given")

    (tmp_path / "a.csv").write_bytes(b"a\n1\n")
    (tmp_path / "b.JSON").write_bytes(b'[{"b":22}]')
    (tmp_path / "c.parquet").write_bytes(b"PAR1")
    files = [str(tmp_path / "a.csv"), str(tmp_path / "b.JSON")]
    assert _input_bytes(parse_args([*files, "SELECT 1 FROM {0}, {1}"])) == 14
    assert _input_bytes(parse_args([str(tmp_path / "c.parquet"), grouped])) is None
    assert _input_bytes(parse_args([str(tmp_path), "SELECT 1 FROM {}"])) is None
    assert _input_bytes(parse_args([str(tmp_path / "missing.csv")])) is None
    assert _input_bytes(parse_args(["-i", *files])) is None

    (conf / "spark-defaults.conf").write_text("spark.driver.defaultJavaOptions -Da=b\n")
    assert session._jit_plan(9, grouped) == ([], f"the conf dir {conf} holds spark-defaults.conf")


def _cli(tmp_path, *argv, stdin=None, **env):
    full = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    full.update(TMPDIR=str(tmp_path / "tmp"), DSQ_SPARK_CACHE_DIR=str(tmp_path / "dsq"),
                SPARK_LOCAL_DIRS=str(tmp_path / "local"), **env)
    os.makedirs(full["TMPDIR"], exist_ok=True)
    return subprocess.run([sys.executable, "-m", "dsq_spark.cli", "--verbose", *argv],
                          input=stdin, cwd=REPO, env=full, capture_output=True, timeout=600)


@pytest.fixture
def taxi(tmp_path):
    if session._user_conf() is not None:
        pytest.skip("this host's Spark conf dir holds more than templates")
    data = "passengers,fare\n" + "".join(f"{i % 5},{i * 37 % 101}.25\n" for i in range(300))
    (tmp_path / "taxi.csv").write_text(data)
    return data.encode()


QUERY = "SELECT passengers, COUNT(*) AS n FROM {} GROUP BY passengers ORDER BY passengers"


def test_stdin_call_runs_c1_only_and_leaves_no_spooled_file(spark, tmp_path, taxi):
    """A `-s csv` call prints what the file gives, its spooled copy of
    stdin counts toward the JIT gate and is gone when the call returns,
    and the driver JVM, asked after launch, runs C1 only."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert run([str(tmp_path / "taxi.csv"), QUERY], spark) == 0
    p = _cli(tmp_path, "-s", "csv", QUERY, stdin=taxi)
    assert p.returncode == 0, p.stderr[-3000:]
    assert p.stdout.decode() == buf.getvalue()
    assert os.listdir(tmp_path / "tmp") == []
    assert f"dsq-spark: driver JIT: C1 only ({len(taxi) / 1e6:.1f} MB of input)\n" \
        in p.stderr.decode()


def test_verbose_reports_a_jit_set_elsewhere(tmp_path, taxi):
    """--driver-java-options comes after spark.driver.defaultJavaOptions
    on the JVM's command line, so its tiered JIT wins, and --verbose says so."""
    p = _cli(tmp_path, str(tmp_path / "taxi.csv"), QUERY,
             PYSPARK_SUBMIT_ARGS="--driver-java-options -XX:TieredStopAtLevel=4 pyspark-shell")
    assert p.returncode == 0, p.stderr[-3000:]
    assert re.search(r"^dsq-spark: driver JIT: tiered \(other JVM options replaced .*\)$",
                     p.stderr.decode(), re.M)
