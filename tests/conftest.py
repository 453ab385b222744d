from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The driver JVM's class-data archive (dsq_spark.session) goes under
# $XDG_CACHE_HOME: point it, for this session and the CLI processes its
# tests start, at .test-cache/ in the checkout (git-ignored), so no test
# run reads or writes the user's ~/.cache, and runs after the first two
# map the archive instead of dumping one.
os.environ["XDG_CACHE_HOME"] = os.path.join(ROOT, ".test-cache")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dsq_spark.session import get_spark

    s = get_spark("dsq-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the driver's table views pre-registered,
    mirroring the correctness harness."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: exhaustive sweep excluded from the default run "
        "(set DSQ_SPARK_FULL_TESTS=1 to include)")


def pytest_collection_modifyitems(config, items):
    """Fast default subset (r10 VERDICT #3): the grading driver runs
    `pytest tests/ -x -q` under a time budget the full differential sweep
    exceeds (33 min measured), so slow-marked sweeps are skipped unless
    DSQ_SPARK_FULL_TESTS=1.  The round-close protocol runs the full suite."""
    if os.environ.get("DSQ_SPARK_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow sweep: set DSQ_SPARK_FULL_TESTS=1 to run")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
