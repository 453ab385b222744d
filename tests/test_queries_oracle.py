"""Mirror of the driver's correctness gate: run every registered query on
Spark AND its DuckDB oracle at sf0.001, compare row count, column names, and
order-insensitively compare values (exact match — the queries are built to be
deterministic across engines)."""

from __future__ import annotations

import math

import pytest

import dsq_spark.queries as Q


def _normalize(rows, cols):
    """Rows → sorted list of tuples of canonical strings (order-insensitive)."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if v is None:
                vals.append("∅")
            elif isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    # 12 significant digits: our explicit rounding (2-6 dp)
                    # already removed engine noise; this just canonicalizes
                    # float repr (e.g. 0.1+0.2 artifacts can't appear).
                    vals.append(f"{v:.12g}")
            elif isinstance(v, bool):
                vals.append(str(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def _check_one(name, spark, duck, sf_dir):
    q = Q.REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    spark_rows = [r.asDict() for r in sdf.collect()]
    cols = sorted(sdf.columns)

    if q.oracle is None:
        assert len(spark_rows) >= 0  # rows-only smoke for non-SQL ops
        return

    ora = duck.sql(q.oracle)
    ora_cols = [d[0] for d in ora.description]
    assert sorted(ora_cols) == cols, f"{name}: column names differ: {sorted(ora_cols)} vs {cols}"
    ora_rows = [dict(zip(ora_cols, row)) for row in ora.fetchall()]

    assert len(ora_rows) == len(spark_rows), f"{name}: row count {len(spark_rows)} vs oracle {len(ora_rows)}"
    left, right = _normalize(spark_rows, cols), _normalize(ora_rows, cols)
    if left != right:
        diffs = [(a, b) for a, b in zip(left, right) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")


@pytest.mark.parametrize("name", sorted(Q.REGISTRY))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    _check_one(name, spark, duck, sf_dir)


# The driver's harness session never goes through session.get_spark, so it
# runs Spark 4's DEFAULT spark.sql.ansi.enabled=true — round 4's only red
# row (dialect_int_division) was emitted SQL that was green on the engine's
# ANSI-off sessions and threw DIVIDE_BY_ZERO on the driver's.  This leg
# re-runs the driver WINDOW (the first 50 registry entries — what the
# driver actually executes) with ANSI on, so session-config fragility is
# caught locally before the driver sees it (r4 VERDICT action #2).
_DRIVER_WINDOW = list(Q.REGISTRY)[:50]
# dedup_canonical_keep sits past the window, but it summarizes the labels
# sim_neardup_components (in the window) computes, so it runs this leg too.
_ANSI_ON = sorted(set(_DRIVER_WINDOW) | {"dedup_canonical_keep"})


@pytest.mark.parametrize("name", _ANSI_ON)
def test_query_matches_oracle_ansi_on(name, spark, duck, sf_dir):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        _check_one(name, spark, duck, sf_dir)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_chunking_drops_null_text_rows(spark, tmp_path):
    """text_chunk_documents on a corpus containing NULL text: Spark's
    size(NULL) is -1 and sequence(1, -1, 24) would throw — both engines
    must instead DROP the row (regression test for the NULL-text crash)."""
    import duckdb

    import dsq_spark.queries as Q

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", "web", 22),
         (2, None, "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    q = Q.REGISTRY["text_chunk_documents"]
    rows = q.fn(spark, str(tmp_path)).collect()
    assert {r["doc_id"] for r in rows} == {1}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'")
    orows = con.sql(q.oracle).fetchall()
    assert len(orows) == len(rows)


def test_remove_dup_spans_semantics(spark, tmp_path):
    """text_remove_dup_spans on a handcrafted corpus: the one 10-gram shared
    between docs 1 and 2 is removed from BOTH (keeping their private
    tokens, order preserved), a unique doc is untouched, and a doc under 10
    tokens produces no grams at all (regression: Spark's sequence(1, 0) is
    the DESCENDING [1, 0] — short docs must be filtered before the gram
    sequence, not clamped with greatest())."""
    import duckdb

    import dsq_spark.queries as Q

    shared = " ".join(f"c{i}" for i in range(10))
    docs = [
        (1, f"a1 a2 {shared} a3", "en", "web", 0),
        (2, f"b1 {shared} b2 b3", "en", "web", 0),
        (3, " ".join(f"u{i}" for i in range(12)), "en", "web", 0),
        (4, "short doc with five tokens", "en", "web", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    q = Q.REGISTRY["text_remove_dup_spans"]
    rows = {r["doc_id"]: r for r in q.fn(spark, str(tmp_path)).collect()}
    assert rows[1]["n_removed"] == 10 and rows[2]["n_removed"] == 10
    assert rows[3]["n_removed"] == 0 and rows[4]["n_removed"] == 0
    import hashlib
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert rows[1]["cleaned_md5"] == md5("a1 a2 a3")
    assert rows[2]["cleaned_md5"] == md5("b1 b2 b3")
    assert rows[4]["cleaned_md5"] == md5("short doc with five tokens")

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'")
    orows = {r[0]: r for r in con.sql(q.oracle).fetchall()}
    for d in (1, 2, 3, 4):
        assert (orows[d][1], orows[d][2], orows[d][3]) == (
            rows[d]["n_tokens"], rows[d]["n_removed"], rows[d]["cleaned_md5"])
