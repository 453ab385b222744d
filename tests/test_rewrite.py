"""Unit tests for the dsq-dialect → Spark SQL rewriter (no Spark needed)."""

from __future__ import annotations

import pytest

from dsq_spark.rewrite import TableRef, extract_table_refs, rewrite_query


def test_shorthand_and_indexed():
    assert rewrite_query("SELECT * FROM {}") == "SELECT * FROM t_0"
    assert rewrite_query("SELECT * FROM {0} JOIN {1}") == "SELECT * FROM t_0 JOIN t_1"


def test_doc_path_refs():
    sql = 'SELECT * FROM {0, "data.data"}'
    refs = extract_table_refs(sql)
    assert refs == [TableRef(0, "data.data")]
    assert rewrite_query(sql) == "SELECT * FROM t_0__data_data"
    # bare-path shorthand targets panel 0
    assert extract_table_refs('SELECT * FROM {"a.b"}') == [TableRef(0, "a.b")]


def test_string_literals_untouched():
    sql = "SELECT '{0} REGEXP \"x\"' AS lit FROM {0}"
    assert rewrite_query(sql) == "SELECT '{0} REGEXP \"x\"' AS lit FROM t_0"
    assert extract_table_refs(sql) == [TableRef(0, None)]


def test_regexp_to_rlike():
    assert rewrite_query("SELECT * FROM {} WHERE a REGEXP 'x.*'") == \
        "SELECT * FROM t_0 WHERE a RLIKE 'x.*'"
    # case-insensitive keyword
    assert "RLIKE" in rewrite_query("select * from {} where a regexp 'y'")


def test_double_quoted_identifiers():
    assert rewrite_query('SELECT "location.city" FROM {}') == \
        "SELECT `location.city` FROM t_0"
    assert rewrite_query('SELECT " Name " FROM {}') == "SELECT ` Name ` FROM t_0"


def test_arrow_operators():
    # unaliased output columns get SQLite's verbatim-text name (the arrow
    # inside the backticked alias is left untouched)
    assert rewrite_query("SELECT c->1 FROM {}") == \
        "SELECT get_json_object(c, '$[1]')  AS `c->1` FROM t_0"
    assert rewrite_query("SELECT c->>'k' AS v FROM {}") == \
        "SELECT get_json_object(c, '$.k') AS v FROM t_0"
    assert rewrite_query('SELECT "a.b"->0 AS v FROM {}') == \
        "SELECT get_json_object(`a.b`, '$[0]') AS v FROM t_0"
    # a key starting with `$` is the JSON path itself (sqlite3 3.40:
    # '{"theme":"dark"}' ->> '$.theme' is 'dark'), and a '' escape in the
    # key stays inside the path literal
    assert rewrite_query("SELECT j->>'$.theme' AS v FROM {}") == \
        "SELECT get_json_object(j, '$.theme') AS v FROM t_0"
    assert rewrite_query("SELECT j -> '$[0]' AS v FROM {}") == \
        "SELECT get_json_object(j, '$[0]') AS v FROM t_0"
    assert rewrite_query("SELECT j ->> 'it''s' AS v FROM {}") == \
        "SELECT get_json_object(j, '$.it''s') AS v FROM t_0"
    # the left operand is the whole dotted name, or the parenthesized
    # group with the function it calls, or an arrow before it
    for sql, left in [("t.\"j\"", "t.`j`"), ("`t`.j", "`t`.j"),
                      ("(j)", "(j)"), ("json(j)", "json(j)"),
                      ("NOT (j)", "(j)"),
                      ("j->'a'", "get_json_object(j, '$.a')")]:
        out = rewrite_query(f"SELECT {sql}->>'b' AS v FROM {{}}")
        assert f"get_json_object({left}, '$.b')" in out, sql


@pytest.mark.parametrize("sql, want", [
    ('"a ""b"" c"', [("dq", '"a ""b"" c"')]),
    ('"open', [("dq", '"open')]),
    ("0x1F+0XaB", [("hex", "0x1F"), ("op", "+"), ("hex", "0XaB")]),
    ("0xg", [("num", "0"), ("word", "xg")]),
    ("x0x1", [("word", "x0x1")]),
    ("t.\"j\"->>'a'", [("word", "t"), ("op", "."), ("dq", '"j"'),
                       ("op", "->>"), ("str", "'a'")]),
])
def test_tokenize_dq_and_hex(sql, want):
    from dsq_spark.sqllex import tokenize

    assert [(t.kind, t.text) for t in tokenize(sql)] == want


def test_token_rules_apply_to_tokens_only():
    """Each token-level rule rewrites a token of its own; the same text
    inside a comment, a quoted name, a literal or a longer token stays."""
    from dsq_spark.rewrite import _rewrite_tokens

    sql = ("SELECT 0x1F + 1.5 AS v, \"0x1f like\" /* 0x1f 1.5 like */, "
           "1.5e, x1.5, 'a\\b', naïve FROM t WHERE b LIKE 'x' AND "
           "c REGEXP 'y' COLLATE nocase AND like(b, 'x')")
    assert _rewrite_tokens(sql) == (
        "SELECT 31 + 1.5D AS v, `0x1f like` /* 0x1f 1.5 like */, "
        "1.5e, x1.5, 'a\\\\b', `naïve` FROM t WHERE b ILIKE 'x' AND "
        "c RLIKE 'y' COLLATE UTF8_LCASE AND like(b, 'x')",
        frozenset({"0x1f like"}))
    assert _rewrite_tokens("SELECT 0xFFFFFFFFFFFFFFFF")[0] == "SELECT (-1)"
    with pytest.raises(ValueError, match="hex literal too big"):
        _rewrite_tokens("SELECT 0x10000000000000000")


@pytest.mark.parametrize("gap", [" ", "     ", " /* x */ ", "\n-- x\n"])
def test_scan_words_depth0_outside_opaque_tokens(gap):
    """A clause word inside a literal, a quoted name, a comment or a
    parenthesis is not found, and neither is the FROM of
    `IS DISTINCT FROM`, whatever lies between DISTINCT and FROM."""
    from dsq_spark.sqllex import scan_words, tokenize

    sql = ("SELECT 'from', \"from\", `from` /* from */, -- from\n"
           f"a IS DISTINCT{gap}FROM b, (SELECT 1 FROM u) FROM t")
    toks = tokenize(sql)
    hits = scan_words(toks, 0, len(toks), ("from", "select"))
    assert [toks[ix].start for ix in hits] == [0, sql.rindex("FROM")]


def test_match_paren_and_split_items():
    from dsq_spark.sqllex import match_paren, split_items, tokenize

    sql = "group_concat(\"last, first\", ', ') || f((1, 2))"
    toks = tokenize(sql)
    close = match_paren(toks, 1, len(toks))
    assert toks[close].end == sql.index("||") - 1
    assert [sql[toks[a].start:toks[b - 1].end]
            for a, b in split_items(toks, 2, close)] == \
        ['"last, first"', "', '"]
    assert split_items(toks, 2, 2) == [(2, 2)]
    assert match_paren(toks, 1, close) is None


def _calls_of(sql: str) -> list[tuple[str, str]]:
    """(name, call text) of each call sqllex finds in ``sql``."""
    from dsq_spark.sqllex import calls, tokenize

    toks = tokenize(sql)
    return [(name, sql[toks[ix].start:toks[close].end])
            for name, ix, close in calls(toks, 0, len(toks))]


@pytest.mark.parametrize("sql, want", [
    # a comment between the name and its `(` is whitespace
    ("total /* c */ (a)", [("total", "total /* c */ (a)")]),
    ("total -- c\n(a)", [("total", "total -- c\n(a)")]),
    # a name after `.` is a column or a method, no call
    ("t.f(x) + g (y)", [("g", "g (y)")]),
    ("t . f(x)", []),
    # a closed backticked name calls the function it names
    ("`F`(x), `g`", [("f", "`F`(x)")]),
    ("`g(x)` + 'h(y)' + \"k\"(z)", []),
    # a `(` inside a literal or a comment is no paren
    ("f(')', /* ( */ x)", [("f", "f(')', /* ( */ x)")]),
    ("f /* ) */ (x)", [("f", "f /* ) */ (x)")]),
    # nested calls, outer first
    ("f(g(x), h(1, k()))",
     [("f", "f(g(x), h(1, k()))"), ("g", "g(x)"), ("h", "h(1, k())"),
      ("k", "k()")]),
    # an unbalanced call is skipped; a balanced one inside it is found
    ("f(g(x)", [("g", "g(x)")]),
])
def test_call_finder(sql, want):
    assert _calls_of(sql) == want


def test_call_finder_names_and_range():
    from dsq_spark.sqllex import calls, tokenize

    sql = "f(a) + g(b) + f(c)"
    toks = tokenize(sql)
    assert [toks[ix].start for _, ix, _ in calls(toks, 0, len(toks), {"f"})] \
        == [0, sql.rindex("f")]
    # a call whose `)` lies past the range is not closed in it
    assert list(calls(toks, 0, 3)) == []


@pytest.mark.parametrize("sql, want", [
    # a bare column is named by itself: a comment after it is no part of
    # its name (sqlite3 3.40.1 names each of these `a`)
    ("SELECT a /* note */ FROM t", "SELECT a /* note */ FROM t"),
    ("SELECT a -- c\nFROM t", "SELECT a -- c\nFROM t"),
    ("SELECT (a) /* c */, count(*) FROM t",
     "SELECT any_value((a)) AS `a` , count(*)  AS `count(*)` FROM t"),
    # a computed item keeps a trailing comment in its name, not a
    # leading one
    ("SELECT a+1 /* note */ FROM t",
     "SELECT a+1 /* note */  AS `a+1 /* note */` FROM t"),
    ("SELECT /* c */ a+1 FROM t", "SELECT /* c */ a+1  AS `a+1` FROM t"),
    # the name after a comment is an implicit alias
    ("SELECT a+1 /* c */ total FROM t", "SELECT a+1 /* c */ total FROM t"),
])
def test_select_item_names_around_comments(sql, want):
    assert rewrite_query(sql) == want


def test_stray_columns_skip_type_names_and_blob_literals():
    """In an aggregate item a schema column is wrapped where it is a
    reference, not as a CAST type name or a blob literal's x."""
    from dsq_spark.rewrite import _select_lists

    schema = {"a": "int", "x": "text", "text": "text"}
    sql = "SELECT max(a) + length(x'41') FROM t"
    assert _select_lists(sql, schema) == sql
    assert _select_lists("SELECT sum(a) || CAST(a AS text) FROM t",
                         schema) == ("SELECT sum(a) || CAST(any_value(a) AS "
                                     "text) AS `sum(a) || CAST(a AS text)` "
                                     "FROM t")


# SQLite's opaque spans — '…', "…", `…`, -- and /* */ — hide quotes,
# commas and parentheses from every pass (each case failed when the passes
# knew only '…'); sqlite3 3.40.1 accepts every statement.
@pytest.mark.parametrize("sql, want", [
    ('SELECT "driver\'s license" FROM {}',
     "SELECT `driver's license` FROM t_0"),
    ("SELECT id -- owner's note\nFROM {}",
     "SELECT id -- owner's note\nFROM t_0"),
    ("SELECT id /* don't */ FROM {}", "SELECT id /* don't */ FROM t_0"),
    ('SELECT group_concat("last, first", \'; \') AS g FROM {}',
     "array_join(collect_list(CAST(`last, first` AS STRING)), '; ')"),
    ("SELECT percentile_75(`x)y`) AS p FROM {}", "percentile(`x)y`, 0.75D)"),
    ('SELECT count(*) FILTER (WHERE "a)b" > 0) OVER () AS n FROM {}',
     "count(CASE WHEN `a)b` > 0 THEN 1 END)  OVER ()"),
    ("SELECT j ->> 'it''s' AS v FROM {}", "get_json_object(j, '$.it''s')"),
    ("WITH RECURSIVE c(x) AS (SELECT min(id) FROM {} /* it's */ UNION ALL "
     "SELECT x + 1 FROM c WHERE x < 3) SELECT x FROM c",
     "FROM t_0 /* it's */ UNION ALL"),
])
def test_opaque_spans_hide_quotes_commas_parens(sql, want):
    from dsq_spark.recursive import parse_recursive

    assert extract_table_refs(sql) == [TableRef(0, None)]
    out = rewrite_query(sql)
    assert want in out
    parse_recursive(out)  # the WITH RECURSIVE body must scan to its ')'


def test_agg_aliases():
    out = rewrite_query("SELECT percentile_75(x), stdev(y) FROM {}")
    assert "percentile(x, 0.75D)" in out
    assert "stddev_samp(y)" in out
    # nested parens in args survive
    out = rewrite_query("SELECT percentile_25(abs(x - 1)) FROM {}")
    assert "percentile(abs(x - 1), 0.25D)" in out
    # alias name inside a string literal is untouched
    out = rewrite_query("SELECT 'stdev(x)' AS lit, total(y) FROM {}")
    assert "'stdev(x)'" in out
    # per-row double accumulation (r9: SQLite total adds value_double
    # each step — the end-cast form was off past 2^53)
    assert "coalesce(CAST(sum(0.0D + (y)) AS DOUBLE), 0.0d)" in out
    # SQLite format() == printf (variadic); Spark's own format_* untouched
    out = rewrite_query("SELECT format('%s-%02d', a, b), date_format(ts, 'yyyy') FROM {}")
    # NULL coercion per conversion spec (SQLite: NULL -> ''/0 under %s/%d)
    # kind-aware per-spec coercion (r8): %s renders through the SQLite
    # text rendering, %d through the sqlite3_value_int64 conversion
    assert "printf('%s-%02d', coalesce((a), '')" in out
    assert "CAST(0 AS BIGINT))" in out
    assert "date_format(ts, 'yyyy')" in out


def test_group_concat_forms():
    # 1-arg: default ',' separator
    out = rewrite_query("SELECT group_concat(x) FROM {}")
    assert "array_join(collect_list(CAST(x AS STRING)), ',')" in out
    # 2-arg: custom separator passes through verbatim — including one that
    # contains a comma (top-level comma split must be literal-aware)
    out = rewrite_query("SELECT group_concat(x, ', ') FROM {}")
    assert "array_join(collect_list(CAST(x AS STRING)), ', ')" in out
    # separator may be any expression
    out = rewrite_query("SELECT group_concat(x, sep_col) FROM {}")
    assert "array_join(collect_list(CAST(x AS STRING)), sep_col)" in out
    # DISTINCT form → collect_set
    out = rewrite_query("SELECT group_concat(DISTINCT x) FROM {}")
    assert "array_join(collect_set(CAST(x AS STRING)), ',')" in out


@pytest.fixture(scope="module")
def split_calls(spark):
    """t(a, c) in Spark and in sqlite3, for the comment-split calls below;
    one partition, so group_concat's order is the rows' order."""
    import sqlite3

    from dsq_spark.functions import register_all

    rows = [(1, "x b"), (2, "ab"), (3, "c")]
    register_all(spark)
    spark.createDataFrame(rows, "a long, c string").coalesce(1) \
        .createOrReplaceTempView("t_split")
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t_split(a INTEGER, c TEXT)")
    con.executemany("INSERT INTO t_split VALUES (?, ?)", rows)
    yield spark, con
    con.close()


_SPLIT_SCHEMA = {"a": "int", "c": "text"}


@pytest.mark.parametrize("q", [
    "SELECT count(*) /* c */ FILTER (WHERE a > 1) OVER () AS v FROM t_split",
    "SELECT count(*) FILTER /* c */ (WHERE a > 1) OVER () AS v FROM t_split",
    "SELECT sum(a) -- c\nFILTER (WHERE a > 1) OVER () AS v FROM t_split",
    "SELECT group_concat /* c */ (a, ',') AS v FROM t_split",
    "SELECT total -- x\n(a) AS v FROM t_split",
    "SELECT total(a) /* c */ OVER (ORDER BY a) AS v FROM t_split",
])
def test_comment_split_calls_match_sqlite(split_calls, q):
    """SQLite reads a comment as whitespace between any two tokens, so a
    comment between a call's name, its `(`, FILTER and OVER changes
    nothing: the FILTER fold, the aliases and the OVER threading see
    these calls as sqlite3 does."""
    spark, con = split_calls
    got = sorted(r["v"] for r in
                 spark.sql(rewrite_query(q, _SPLIT_SCHEMA)).collect())
    assert got == sorted(v for v, in con.execute(q).fetchall()), q


@pytest.mark.parametrize("split, plain", [
    ("SELECT a FROM t_split ORDER /* c */ BY proper(c)",
     "SELECT a FROM t_split ORDER BY proper(c)"),
    ("SELECT a FROM t_split GROUP BY a, c ORDER BY strpos /* c */ (c, 'b')",
     "SELECT a FROM t_split GROUP BY a, c ORDER BY strpos(c, 'b')"),
])
def test_comment_split_sort_keys_inline(split_calls, split, plain):
    """A SQL function in ORDER BY is inlined (Spark rejects it in Sort)
    however a comment splits the clause or the call."""
    spark, _ = split_calls
    assert spark.sql(rewrite_query(split, _SPLIT_SCHEMA)).collect() == \
        spark.sql(rewrite_query(plain, _SPLIT_SCHEMA)).collect()


def test_view_name_dedup():
    refs = extract_table_refs("SELECT * FROM {0} a JOIN {0} b ON a.x = b.x")
    assert refs == [TableRef(0, None)]


def test_collate_mapping(spark):
    """SQLite collation names map to Spark 4 collations and behave like
    SQLite on comparisons and ORDER BY (stdlib sqlite3 as oracle)."""
    import sqlite3

    out = rewrite_query("SELECT x FROM {0} WHERE x = 'abc' COLLATE NOCASE "
                        "ORDER BY x COLLATE RTRIM")
    assert "COLLATE UTF8_LCASE" in out and "COLLATE UTF8_BINARY_RTRIM" in out
    assert "NOCASE" not in out
    # literal untouched
    lit = rewrite_query("SELECT 'COLLATE NOCASE' AS v")
    assert "'COLLATE NOCASE'" in lit
    # behavior parity on a comparison
    con = sqlite3.connect(":memory:")
    want = con.execute("SELECT 'ABC' = 'abc' COLLATE NOCASE").fetchone()[0]
    got = spark.sql(
        rewrite_query("SELECT CAST('ABC' = 'abc' COLLATE NOCASE AS INT) AS v")
    ).collect()[0]["v"]
    assert got == want == 1


def test_json_each_rewrite_and_parity(spark):
    """json_each table-valued function → LATERAL VIEW explode, checked
    against real SQLite (reference embeds SQLite's JSON1: the key/value
    columns are what dsq users consume; our documented delta is TEXT keys
    for arrays and no type/atom/fullkey/path columns).  The 2-arg path
    form lowers through the dsq_json_each walker since r5 (a
    get_json_object drill-in can't distinguish null-at-path from
    missing-path), so the function library must be registered."""
    import sqlite3

    from dsq_spark.functions import register_all

    register_all(spark)
    con = sqlite3.connect(":memory:")

    def sqlite_rows(q):
        return sorted((str(k), str(v)) for k, v in con.execute(q))

    def spark_rows(q):
        return sorted((r["key"], r["value"])
                      for r in spark.sql(rewrite_query(q)).collect())

    # object form
    q = "SELECT key, value FROM json_each('{\"a\":\"1\",\"b\":\"2\"}')"
    assert spark_rows(q) == sqlite_rows(q)
    # array form (SQLite keys are ints — ours are the same digits as TEXT)
    q = "SELECT key, value FROM json_each('[7,8,9]')"
    assert spark_rows(q) == sqlite_rows(q)
    # 2-arg path form
    q = "SELECT key, value FROM json_each('{\"o\":{\"i\":\"5\"}}', '$.o')"
    assert spark_rows(q) == sqlite_rows(q)
    # joined against a base table, with alias
    spark.createDataFrame([("a", '["x","y"]')], ["id", "tags"]) \
        .createOrReplaceTempView("je_t")
    con.execute("CREATE TABLE je_t(id TEXT, tags TEXT)")
    con.execute("INSERT INTO je_t VALUES ('a', '[\"x\",\"y\"]')")
    q = ("SELECT je_t.id || '/' || j.key AS key, j.value AS value "
         "FROM je_t, json_each(je_t.tags) j")
    assert spark_rows(q) == sqlite_rows(q)
    # inside a string literal: untouched
    lit = rewrite_query("SELECT 'json_each(x)' AS v FROM je_t")
    assert "'json_each(x)'" in lit and "LATERAL" not in lit
    # empty array / empty object: ZERO rows like SQLite (regression: the
    # map-based lowering crashed on '[]' — Spark's sequence(0, -1) is the
    # DESCENDING [0, -1] — and explode_outer fabricated a null row for '{}')
    for js in ("[]", "{}"):
        q = f"SELECT key, value FROM json_each('{js}')"
        assert spark_rows(q) == sqlite_rows(q) == []
    # scalar timevalue: one row with a NULL key (struct entries allow the
    # NULL key a map never could)
    def rows_nullsafe(fn, q):
        return sorted((k if k is None else str(k), str(v)) for k, v in fn(q))
    for js in ("5", '"x"'):
        q = f"SELECT key, value FROM json_each('{js}')"
        want = rows_nullsafe(lambda s: con.execute(s), q)
        got = sorted((r["key"], r["value"])
                     for r in spark.sql(rewrite_query(q)).collect())
        assert got == want


def test_fromless_tail_clauses_not_aliased():
    """ADVICE r2 (high): a FROM-less query with a tail clause must not have
    the tail swallowed into the last select item's verbatim alias
    (SELECT 1 LIMIT 2 -> SELECT 1 LIMIT 2 AS `1 LIMIT 2` is a parse error)."""
    # literals still get their verbatim-text name, but the tail clause
    # stays OUTSIDE the alias
    assert rewrite_query("SELECT 1 LIMIT 2") == "SELECT 1  AS `1` LIMIT 2"
    assert rewrite_query("SELECT 1 UNION SELECT 2") == \
        "SELECT 1  AS `1` UNION SELECT 2"
    # the literal sum constant-folds (r6 overflow-promotion machinery)
    # but keeps its verbatim-text name, with the tail clause outside
    out = rewrite_query("SELECT 1 + 2 ORDER BY 1")
    assert out == "SELECT 3  AS `1 + 2` ORDER BY 1"
    # abs of a static value folds exactly since r7 (class preservation);
    # the verbatim-text name and the tail clause placement still hold
    out = rewrite_query("SELECT abs(-3) WHERE 1 = 1")
    assert out == "SELECT 3  AS `abs(-3)` WHERE 1 = 1"
    # keyword-prefixed identifiers are not clause boundaries
    out = rewrite_query("SELECT union_id FROM {}")
    assert out == "SELECT union_id FROM t_0"
    # GROUP BY after a FROM still terminates the list correctly
    out = rewrite_query("SELECT count(*) FROM {} GROUP BY a")
    assert "count(*)  AS `count(*)`" in out and "GROUP BY a" in out


def test_fromless_tail_executes(spark):
    assert spark.sql(rewrite_query("SELECT 1 LIMIT 2")).collect()[0][0] == 1
    rows = spark.sql(rewrite_query("SELECT 1 UNION SELECT 2")).collect()
    assert sorted(r[0] for r in rows) == [1, 2]


def test_explain_query_plan(spark):
    """SQLite's EXPLAIN QUERY PLAN prefix (the reference hands it to SQLite
    verbatim) maps to Spark's EXPLAIN; plain EXPLAIN passes through; the
    phrase inside a string literal is untouched."""
    assert rewrite_query("EXPLAIN QUERY PLAN SELECT a FROM t") == \
        "EXPLAIN SELECT a FROM t"
    assert rewrite_query("explain query plan SELECT 1").startswith("EXPLAIN ")
    lit = rewrite_query("SELECT 'EXPLAIN QUERY PLAN x' AS s FROM t")
    assert "'EXPLAIN QUERY PLAN x'" in lit
    rows = spark.sql(
        rewrite_query("EXPLAIN QUERY PLAN SELECT 1 AS one")).collect()
    assert rows and "Project" in rows[0][0] or "Scan" in rows[0][0]


def test_go_regex_translation_matrix(spark):
    """README.md:405-415 documents the reference's REGEXP as Go regexp
    (RE2) vs our Java regex.  The mechanical subset is translated when the
    pattern is a literal in regexp position — named groups (?P<n>…) →
    (?<n>…) and POSIX classes [[:alpha:]] → [\\p{Alpha}] — and the
    non-mechanical deltas are pinned here as the documented matrix:

    | construct            | RE2 (reference) | Java (ours)  | handling   |
    |----------------------|-----------------|--------------|------------|
    | (?P<name>…)          | yes             | (?<name>…)   | translated |
    | [[:alpha:]] etc.     | yes (ASCII)     | [a-zA-Z]     | translated |
    | \\p{L}, \\d, \\b     | yes             | yes          | identical  |
    | backrefs \\1         | REJECTED        | yes          | superset   |
    | lookaround (?=…)     | REJECTED        | yes          | superset   |
    | possessive a*+       | REJECTED        | yes          | superset   |
    | (?U) flag            | ungreedy        | UNICODE_CASE | documented |
    """
    from dsq_spark.functions import register_all

    register_all(spark)
    # translation fires for RLIKE / REGEXP literals and regexp_* pattern args
    out = rewrite_query("SELECT * FROM {} WHERE a REGEXP '(?P<y>[0-9]+)'")
    assert "(?<y>[0-9]+)" in out and "(?P<" not in out
    out = rewrite_query("SELECT regexp_extract(a, '[[:digit:]]+', 0) FROM {}")
    assert "[0-9]+" in out and "[:digit:]" not in out
    # mixed class members keep their position inside the class
    out = rewrite_query("SELECT * FROM {} WHERE a REGEXP '[[:alpha:]_]'")
    assert "[a-zA-Z_]" in out
    # NOT in regexp position -> untouched (a plain string stays verbatim)
    out = rewrite_query("SELECT '(?P<y>x)' AS lit FROM {}")
    assert "(?P<y>x)" in out
    # end-to-end: translated patterns actually match through Spark
    spark.createDataFrame([("ab12",), ("xy",)], ["s"]).createOrReplaceTempView("rx_t")
    rows = spark.sql(rewrite_query(
        "SELECT s FROM rx_t WHERE s REGEXP '[[:alpha:]]+[[:digit:]]+'")).collect()
    assert [r["s"] for r in rows] == ["ab12"]
    rows = spark.sql(rewrite_query(
        "SELECT regexp_extract(s, '(?P<num>[0-9]+)', 1) AS n FROM rx_t")).collect()
    assert sorted(r["n"] for r in rows) == ["", "12"]


def test_hoist_per_row_guards_and_mechanics():
    """r10 _hoist_per_row: repeated per-row chains project once into the
    FROM derived table; every guard fails open to the input SQL."""
    from dsq_spark.rewrite import _hoist_per_row

    chain = ("(CASE WHEN ((t) IS NULL) THEN CAST(NULL AS DOUBLE) ELSE "
             "coalesce(try_cast(regexp_extract((t), '^x', 1) AS DOUBLE), "
             "CAST(0 AS DOUBLE)) END)")
    assert len(chain) >= 80
    sql = (f"SELECT id, sum({chain}) OVER (ORDER BY id) AS a, "
           f"avg({chain}) OVER (ORDER BY id) AS b FROM tw ORDER BY id")
    out = _hoist_per_row(sql, [chain])
    assert out != sql
    assert out.count(chain) == 1  # projected once, in the derived table
    assert "FROM (SELECT *, " in out and "__dsq_h1" in out
    # window-result layer: the repeated window value computes once too
    # (no WHERE, so the row set is identical)
    sql2 = (f"SELECT id, CAST(sum({chain}) OVER (ORDER BY id) AS DOUBLE) "
            f"AS a, sum({chain}) OVER (ORDER BY id) AS b FROM tw")
    out2 = _hoist_per_row(sql2, [chain])
    assert "__dsq_w1" in out2
    # guards: star item, GROUP BY, compound, join, subquery outside FROM
    for bad in [
        f"SELECT *, sum({chain}) OVER (ORDER BY id) AS a, "
        f"avg({chain}) OVER (ORDER BY id) AS b FROM tw",
        f"SELECT sum({chain}) AS a, min({chain}) AS b FROM tw GROUP BY id",
        f"SELECT {chain} AS a, {chain} AS b FROM tw UNION SELECT 1, 2",
        f"SELECT {chain} AS a, {chain} AS b FROM tw JOIN t2 ON tw.id = t2.id",
        f"SELECT {chain} AS a, (SELECT max({chain}) FROM tw) AS b FROM tw",
    ]:
        assert _hoist_per_row(bad, [chain]) == bad
    # candidates carrying aggregates/windows/subqueries never hoist
    aggc = "sum(" + chain + ")" + " " * 0
    assert _hoist_per_row(
        f"SELECT {aggc} AS a, {aggc} AS b FROM tw", [aggc]) == \
        f"SELECT {aggc} AS a, {aggc} AS b FROM tw"
    # WHERE present: per-row chains still hoist, window results do not
    sql3 = (f"SELECT id, sum({chain}) OVER (ORDER BY id) AS a, "
            f"avg({chain}) OVER (ORDER BY id) AS b FROM tw WHERE id > 1")
    out3 = _hoist_per_row(sql3, [chain])
    assert "__dsq_h1" in out3 and "__dsq_w" not in out3


def test_hoist_bare_table_wrapper_keeps_alias(spark):
    """ADVICE r10 #1: wrapping a bare FROM table must re-alias the wrapper
    with the table's bare name so qualified refs (tw.id) keep resolving."""
    from dsq_spark.rewrite import _hoist_per_row

    chain = ("(CASE WHEN ((t) IS NULL) THEN CAST(NULL AS DOUBLE) ELSE "
             "coalesce(try_cast(regexp_extract((t), '^x([0-9]+)', 1) AS DOUBLE), "
             "CAST(0 AS DOUBLE)) END)")
    sql = (f"SELECT tw.id, sum({chain}) OVER (ORDER BY tw.id) AS a, "
           f"avg({chain}) OVER (ORDER BY tw.id) AS b FROM tw ORDER BY tw.id")
    out = _hoist_per_row(sql, [chain])
    assert out != sql and ") AS tw" in out
    # live differential: the hoisted form must analyze AND return the same
    # rows as the unhoisted form on this Spark build
    spark.createDataFrame(
        [(1, "x1"), (2, None), (3, "x3")], "id int, t string"
    ).createOrReplaceTempView("tw")
    try:
        got = [tuple(r) for r in spark.sql(out).collect()]
        want = [tuple(r) for r in spark.sql(sql).collect()]
        assert got == want
    finally:
        spark.catalog.dropTempView("tw")
    # window-layer wrap over a bare table keeps the alias too
    sql2 = (f"SELECT tw.id, CAST(sum({chain}) OVER (ORDER BY tw.id) AS DOUBLE)"
            f" AS a, sum({chain}) OVER (ORDER BY tw.id) AS b FROM tw")
    out2 = _hoist_per_row(sql2, [chain])
    assert "__dsq_w1" in out2 and out2.count(") AS tw") >= 1



def test_hoist_keeps_refs_qualified_by_dotted_table(spark, tmp_path):
    """A hoist wrapper over `FROM default.tw` is aliased `tw`, where
    `default.tw.id` no longer resolves: such a statement stays unhoisted
    and runs on a real table of the default database (stored under a
    temp dir), answering as sqlite3 does."""
    import sqlite3

    rows = [(1, "2"), (2, "x"), (3, None), (4, "1.5")]
    q = ("SELECT sum(s) OVER (ORDER BY id) AS a, default.tw.id AS k "
         "FROM default.tw ORDER BY k")
    spark.sql("CREATE TABLE default.tw (id INT, s STRING) USING parquet "
              f"LOCATION '{tmp_path / 'tw'}'")
    try:
        spark.createDataFrame(rows, "id int, s string") \
            .write.insertInto("default.tw")
        got = [tuple(r) for r in spark.sql(
            rewrite_query(q, {"id": "int", "s": "text"})).collect()]
    finally:
        spark.sql("DROP TABLE IF EXISTS default.tw")
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE tw (id INTEGER, s TEXT)")
    con.executemany("INSERT INTO tw VALUES (?, ?)", rows)
    assert got == con.execute(q.replace("default.", "")).fetchall()

def test_hoist_replace_skips_literal_spans():
    """r10 VERDICT #7: a candidate chain colliding with the inside of a
    string literal must not be rewritten there."""
    from dsq_spark.rewrite import _hoist_per_row

    chain = ("(CASE WHEN ((t) IS NULL) THEN CAST(NULL AS DOUBLE) ELSE "
             "coalesce(try_cast(regexp_extract((t), '^x', 1) AS DOUBLE), "
             "CAST(0 AS DOUBLE)) END)")
    # two real occurrences + one inside a string literal
    sql = (f"SELECT {chain} AS a, {chain} AS b, '{chain}' AS lit FROM tw")
    out = _hoist_per_row(sql, [chain])
    assert f"'{chain}'" in out          # the literal is untouched
    assert out.count(chain) == 2        # literal + the single projection


def test_emission_size_circuit_breaker(monkeypatch):
    """r10 VERDICT #4: a pathological emission trips a clear error instead
    of a multi-minute Catalyst analysis stall."""
    import dsq_spark.rewrite as rw

    monkeypatch.setattr(rw, "_MAX_EMISSION_CHARS", 200)
    with pytest.raises(ValueError, match="emission is .* chars"):
        rw.rewrite_query("SELECT " + ", ".join(
            f"length('pad-{i}-padpadpad')" for i in range(40)) + " FROM tw")
    monkeypatch.setattr(rw, "_MAX_EMISSION_CHARS", 65536)
    monkeypatch.setattr(rw, "_MAX_EMISSION_OVERS", 3)
    with pytest.raises(ValueError, match="window calls"):
        rw.rewrite_query(
            "SELECT " + ", ".join(
                f"sum(x) OVER (ORDER BY id ROWS BETWEEN {i} PRECEDING AND "
                "CURRENT ROW)" for i in range(1, 6)) + " FROM tw")
    # normal emissions pass untouched
    assert "length" in rw.rewrite_query("SELECT length(t) FROM tw")
    # the cap applies to the text actually sent: here aggregate-safe
    # inlining more than doubles the statement, and the cap sits between
    # the two sizes
    q = "SELECT count(*), unicode(t), unicode(u) FROM tw"
    sent = len(rw.rewrite_query(q))
    monkeypatch.setattr(rw, "_inline_agg_safe", lambda s, strict_json: s)
    before_inline = len(rw.rewrite_query(q))
    monkeypatch.undo()
    assert 2 * before_inline < sent
    monkeypatch.setattr(rw, "_MAX_EMISSION_CHARS", sent - 1)
    with pytest.raises(ValueError, match="emission is .* chars"):
        rw.rewrite_query(q)
