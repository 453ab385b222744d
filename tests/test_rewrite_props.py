"""Property-based rewriter tests (hypothesis): the rewrite must be
idempotent and must never alter string-literal content, for arbitrary
query shapes — the classes of bugs a fixed golden corpus misses."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from dsq_spark.rewrite import extract_table_refs, rewrite_query

ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,8}", fullmatch=True)
literal_text = st.text(
    alphabet=st.characters(blacklist_characters="'\\", max_codepoint=0x7E),
    max_size=12,
)
# r6: literals MAY carry backslashes (regex/glob patterns written in the
# escape-free SQLite dialect) — the rewrite must still be a fixpoint on
# them (the escape pass doubles '\' once; a remembered output re-enters
# unchanged).  Quotes stay excluded: '' handling is its own test.
literal_text_bs = st.text(
    alphabet=st.characters(blacklist_characters="'", max_codepoint=0x7E),
    max_size=12,
)
table_ref = st.integers(min_value=0, max_value=3).map(lambda i: f"{{{i}}}")
# SQLite tokens that hide quotes, commas and parens: comments carrying a
# quote, and "…" identifiers carrying ', "," and ")"
comment_text = st.text(
    alphabet=st.characters(blacklist_characters="\n*{}", max_codepoint=0x7E),
    max_size=10,
)
comment = st.one_of(
    comment_text.map(lambda t: f" -- {t}'s\n"),
    comment_text.map(lambda t: f" /* {t}'s */ "),
)
quoted_ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_ ',)]{0,8}",
                             fullmatch=True).map(lambda s: f'"{s}"')


@st.composite
def sql_query(draw):
    parts = ["SELECT "]
    parts.append(draw(ident))
    if draw(st.booleans()):
        parts.append(f", \"{draw(ident)}.{draw(ident)}\"")
    if draw(st.booleans()):
        parts.append(f", percentile_75({draw(ident)})")
    if draw(st.booleans()):
        parts.append(f", group_concat({draw(quoted_ident)}, ', ')")
    parts.append(" FROM ")
    parts.append(draw(table_ref))
    if draw(st.booleans()):
        parts.append(draw(comment))
    if draw(st.booleans()):
        parts.append(f" WHERE {draw(ident)} REGEXP '{draw(literal_text)}'")
    if draw(st.booleans()):
        parts.append(f" AND {draw(ident)} = '{draw(literal_text)}'")
    return "".join(parts)


@given(sql_query())
@settings(max_examples=200, deadline=None)
def test_rewrite_idempotent(q):
    once = rewrite_query(q)
    assert rewrite_query(once) == once


@given(literal_text_bs, literal_text_bs)
@settings(max_examples=200, deadline=None)
def test_rewrite_idempotent_backslash_literals(a, b):
    """r5 VERDICT #5: idempotence must hold on the FULL literal surface,
    including backslash-carrying regex/LIKE-escape patterns — previously
    the escape pass re-doubled '\\' on every application."""
    q = (f"SELECT x FROM {{0}} WHERE x REGEXP '{a}' "
         f"AND y = '{b}' AND z LIKE '{b}' ESCAPE '\\'")
    once = rewrite_query(q)
    assert rewrite_query(once) == once
    # the single application still escapes for Spark's parser
    assert f"'{b}'".replace("\\", "\\\\") in once


@given(literal_text, literal_text, comment, quoted_ident)
@settings(max_examples=100, deadline=None)
def test_literals_survive(a, b, note, qi):
    q = f"SELECT * FROM {{0}}{note} WHERE {qi} = '{a}' OR y = '{b}'"
    out = rewrite_query(q)
    assert f"'{a}'" in out and f"'{b}'" in out


@given(st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=5),
       comment, quoted_ident)
@settings(max_examples=100, deadline=None)
def test_extract_refs_complete(indexes, note, qi):
    q = f"SELECT {qi} FROM " + f"{note}JOIN ".join(
        f"{{{i}}}" for i in indexes)
    found = {r.index for r in extract_table_refs(q)}
    assert found == set(indexes)
    rewritten = rewrite_query(q)
    for i in indexes:
        assert f"t_{i}" in rewritten
    assert not re.search(r"\{\d+\}", rewritten)


def test_unaliased_naming_matches_sqlite(spark):
    """Randomized select lists: our result-column names must equal real
    SQLite's cursor names (verbatim-text rule for unaliased expressions,
    bare-column and implicit/explicit alias handling)."""
    import random
    import sqlite3

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE tn(a INT, b INT)")
    con.executemany("INSERT INTO tn VALUES (?, ?)", [(1, 2), (3, 4), (5, 6)])
    spark.sql("CREATE OR REPLACE TEMP VIEW tn AS "
              "SELECT * FROM VALUES (1, 2), (3, 4), (5, 6) AS v(a, b)")
    # SQLite allows mixing aggregates with bare columns sans GROUP BY;
    # Spark does not — keep the two families separate per query.
    scalar_pool = [
        "a", "b", "a + b", "a+b", "a * 2 - b", "abs(a - b)", "max(a, b)",
        "CAST(a AS INT)", "CASE WHEN a > 1 THEN a ELSE b END",
        "a + b total", "b AS bee", "(a)", "(a + b)", "a % 2", "-a",
        "typeof(a)", "iif(a > b, a, b)",
    ]
    agg_pool = ["count(*)", "COUNT(*)", "sum(a)", "Sum(B)", "max(a)",
                "total(b)", "sum(a + b)"]
    rnd = random.Random(7)
    for _ in range(25):
        pool = scalar_pool if rnd.random() < 0.7 else agg_pool
        items = rnd.sample(pool, k=rnd.randint(1, 3))
        q = "SELECT " + ", ".join(items) + " FROM tn"
        want = [d[0] for d in con.execute(q).description]
        got = spark.sql(rewrite_query(q)).columns
        assert got == want, q
