"""Extended function library tests (SURVEY §2.8 stdlib parity)."""

from __future__ import annotations

import pytest

from dsq_spark.functions import register_all
from dsq_spark.rewrite import rewrite_query


@pytest.fixture(scope="module", autouse=True)
def udfs(spark):
    register_all(spark)


def one(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").collect()[0]["v"]


def test_url_family(spark):
    u = "'https://user@example.com:8443/a/b?x=1&y=two#frag'"
    assert one(spark, f"url_scheme({u})") == "https"
    assert one(spark, f"url_host({u})") == "example.com"
    assert one(spark, f"url_port({u})") == 8443
    assert one(spark, f"url_path({u})") == "/a/b"
    assert one(spark, f"url_param({u}, 'y')") == "two"
    assert one(spark, f"url_fragment({u})") == "frag"
    assert one(spark, "url_port('https://x.com/')") is None


def test_date_family_multiformat(spark):
    """best-effort parsing accepts several formats (reference README.md:695-698)."""
    for lit in ("'2021-04-01T11:22:33Z'", "'2021-04-01 11:22:33'",
                "'2021/04/01 11:22:33'", "'04/01/2021 11:22:33'"):
        assert one(spark, f"date_year({lit})") == 2021, lit
        assert one(spark, f"date_month({lit})") == 4
        assert one(spark, f"date_hour({lit})") == 11
    assert one(spark, "date_day('2021-04-01')") == 1
    assert one(spark, "date_unix('1970-01-02')") == 86400
    assert one(spark, "date_year('not a date')") is None


def test_hash_and_strings(spark):
    assert one(spark, "sha256('abc')") == (
        "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert one(spark, "replicate('ab', 3)") == "ababab"
    assert one(spark, "charindex('ll', 'hello')") == 3
    assert one(spark, "proper('hello world')") == "Hello World"


def test_split_part_negative_index(spark):
    """split_part(x, '.', -1) returns the LAST part (reference
    scripts/test.py:338-340 pins negative-index semantics)."""
    assert one(spark, "split_part('a.b.c', '.', -1)") == "c"
    assert one(spark, "split_part('a.b.c', '.', 2)") == "b"


def test_rewritten_aggregates(spark):
    sql = rewrite_query(
        "SELECT percentile_90(v) AS p90, stdev(v) AS sd, mode(v) AS md "
        "FROM (SELECT 1 v UNION ALL SELECT 2 UNION ALL SELECT 2 UNION ALL SELECT 10)")
    row = spark.sql(sql).collect()[0]
    assert row["md"] == 2
    assert row["p90"] == pytest.approx(7.6)


def test_glob_against_real_sqlite(spark):
    """glob() and the GLOB operator rewrite, oracled against the stdlib
    sqlite3 module (the very engine the reference embeds)."""
    import sqlite3

    con = sqlite3.connect(":memory:")
    cases = [("a*", "abc"), ("a*", "bac"), ("a?c", "abc"), ("a?c", "abbc"),
             ("*.txt", "file.txt"), ("*.txt", "file_txt"), ("[ab]c", "bc"),
             ("[ab]c", "cc"), ("a(b)*", "a(b)x"), ("A*", "abc"), ("*", "")]
    for pat, s in cases:
        want = con.execute("SELECT glob(?, ?)", (pat, s)).fetchone()[0]
        got = one(spark, f"glob('{pat}', '{s}')")
        assert got == want, (pat, s)
    # operator form via the rewriter (both operands in SQLite's TEXT
    # rendering, a literal pattern left bare); literals untouched
    sql = rewrite_query("SELECT 1 AS v WHERE 'file.txt' GLOB '*.txt'")
    assert "((('file.txt')) RLIKE glob_regex('*.txt'))" in sql
    assert spark.sql(sql).count() == 1
    lit = rewrite_query("SELECT 'x GLOB y' AS v")
    assert "glob_regex" not in lit


def test_sqlite_datetime_family(spark):
    """datetime/julianday/unixepoch/strftime/unicode vs real SQLite."""
    import sqlite3

    con = sqlite3.connect(":memory:")
    for q in ("SELECT datetime('2022-03-05T10:20:30')",
              "SELECT julianday('2022-03-05 00:00:00')",
              "SELECT unixepoch('2022-03-05 00:00:00')",
              "SELECT strftime('%Y-%m-%d %H:%M:%S','2022-03-05 10:20:30')",
              "SELECT strftime('%d/%m/%Y','2001-12-25')",
              "SELECT strftime('%s','2022-03-05 10:20:30')",
              "SELECT unicode('€x')"):
        want = con.execute(q).fetchone()[0]
        got = spark.sql(q + " AS v").collect()[0]["v"]
        assert str(got) == str(want), q


def test_sqlite_datetime_modifiers(spark):
    """Modifier forms ('±N units', 'start of X', 'weekday N', 'unixepoch',
    fractional month/year arithmetic incl. SQLite's overflow normalization)
    through the CLI rewriter, validated against real SQLite."""
    import sqlite3

    from dsq_spark.rewrite import rewrite_query

    con = sqlite3.connect(":memory:")
    cases = [
        "SELECT date('2022-03-05 10:20:30')",
        "SELECT time('2022-03-05 10:20:30')",
        "SELECT datetime('2022-03-05 10:20:30', '+1 day')",
        "SELECT datetime('2022-03-05 10:20:30', '-3 hours')",
        "SELECT datetime('2022-03-05 10:20:30', '+90 minutes', '+30 seconds')",
        "SELECT datetime('2022-01-31', '+1 month')",   # overflow → 2022-03-03
        "SELECT datetime('2022-03-31', '-1 month')",   # overflow → 2022-03-03
        "SELECT datetime('2020-02-29', '+1 year')",    # overflow → 2021-03-01
        "SELECT datetime('2022-03-05 10:20:30', '+1.5 days')",
        "SELECT datetime('2022-03-05', '+1.5 months')",
        "SELECT date('2022-03-05', 'start of month')",
        "SELECT datetime('2022-03-05 10:20:30', 'start of year')",
        "SELECT datetime('2022-03-05 10:20:30', 'start of day')",
        "SELECT date('2022-03-05', 'weekday 1')",  # Sat → next Monday
        "SELECT date('2022-03-05', 'weekday 6')",  # Sat → same day
        "SELECT datetime(1646475630, 'unixepoch')",
        "SELECT unixepoch('2022-03-05 10:20:30', '+1 day')",
        "SELECT julianday('2022-03-05', '+12 hours')",
        "SELECT strftime('%Y-%m-%d', '2022-03-05', '+1 day')",
        "SELECT strftime('%w|%W|%j', '2022-03-05 10:20:30')",
        "SELECT strftime('%w %W', '2022-01-01')",   # week 00 boundary
        "SELECT strftime('%s', '2022-03-05', 'start of month')",
        "SELECT strftime('100%% %H:%M', '2022-03-05 10:20:30')",
        # container TZ and Spark session TZ are both UTC, so localtime/utc
        # agree with SQLite here (both identity)
        "SELECT datetime('2022-03-05 10:20:30', 'localtime')",
        "SELECT datetime('2022-03-05 10:20:30', 'utc')",
    ]
    for q in cases:
        want = con.execute(q).fetchone()[0]
        got = spark.sql(rewrite_query(q) + " AS v").collect()[0]["v"]
        assert str(got) == str(want), q
    # 'now' is wall-clock — assert shape and that it is within the minute
    got = spark.sql(rewrite_query("SELECT datetime('now')") + " AS v").collect()[0]["v"]
    want = con.execute("SELECT datetime('now')").fetchone()[0]
    assert got[:16] == want[:16], (got, want)  # same minute (UTC both sides)


def test_julianday_timevalues(spark):
    """Numeric timevalues are Julian day numbers (SQLite lang_datefunc):
    bare numbers, numeric strings, runtime numeric expressions, the range
    gates, ms-rounding, modifier stacking, and the 'julianday'/'auto'
    modifiers — all vs real SQLite.  (Pre-CE rendering is a documented
    delta, so cases stay within years 0001-9999.)"""
    import sqlite3

    from dsq_spark.rewrite import rewrite_query

    con = sqlite3.connect(":memory:")
    cases = [
        "SELECT datetime(2460000.5)",
        "SELECT date(2460000.5)",
        "SELECT time(2460000.75)",
        "SELECT datetime('2460000.5')",          # numeric STRING is JDN too
        "SELECT julianday(2460000.5)",           # exact round-trip
        "SELECT julianday(2456789.123456789)",   # ms rounding → …794
        "SELECT unixepoch(2440587.5)",           # JD epoch = unix 0
        "SELECT datetime(-1)",                   # below range → NULL
        "SELECT datetime(5373484.4)",            # top of range (year 9999)
        "SELECT datetime(5373484.6)",            # above range → NULL
        "SELECT datetime(2460000.5, '+1 day')",  # modifiers stack on JDN
        "SELECT date(2460000.5, 'start of month')",
        "SELECT strftime('%Y-%m-%d %H:%M:%S', 2460000.5)",
        "SELECT datetime(2460000.5, 'julianday')",
        "SELECT datetime('2460000.5', 'julianday')",
        # forced-JDN modifier on a TEXT timevalue → NULL, never a parse
        "SELECT datetime('2022-03-05', 'julianday')",
        "SELECT date(2460000.5, 'julianday', '+1 day')",
        "SELECT datetime('2460000.5', 'auto')",  # in-range numeric → JDN
        "SELECT datetime(10000000000, 'auto')",  # out-of-range → epoch secs
        "SELECT datetime('2022-03-05', 'auto')",  # text → parse
        # runtime numeric expression (not a literal at rewrite time)
        "SELECT date(2440587.5 + 365)",
        "SELECT julianday('2013-10-07 08:23:19')",  # text in, jd out
    ]
    for q in cases:
        want = con.execute(q).fetchone()[0]
        got = spark.sql(rewrite_query(q + " AS v")).collect()[0]["v"]
        assert str(got) == str(want), (q, got, want)
    # column-valued dispatch: numeric strings → JDN, date strings → parse
    spark.createDataFrame(
        [("2460000.5",), ("2022-03-05",), ("nope",)], ["tv"]
    ).createOrReplaceTempView("jd_vals")
    con.execute("CREATE TABLE jd_vals(tv TEXT)")
    con.executemany("INSERT INTO jd_vals VALUES (?)",
                    [("2460000.5",), ("2022-03-05",), ("nope",)])
    q = "SELECT date(tv) FROM jd_vals"
    want = sorted(str(r[0]) for r in con.execute(q).fetchall())
    got = sorted(str(r[0]) for r in
                 spark.sql(rewrite_query("SELECT date(tv) AS v FROM jd_vals"))
                 .collect())
    assert got == want


def test_julianday_compile_shortcuts(spark):
    """Round-3 compiler fast paths, pinned against real SQLite:
    (a) datetime(julianday(x), ...) composition compiles via the ms-clock
    truncation peephole (no runtime probe re-entry — the compiled SQL
    carries exactly ONE probe, the inner julianday's own); (b) a depth-0
    arithmetic timevalue is statically numeric so the probe and the
    7-format parse chain are elided entirely."""
    import sqlite3

    from dsq_spark.rewrite import rewrite_query
    from dsq_spark.functions import _is_arith_expr, _julianday_inner

    con = sqlite3.connect(":memory:")
    cases = [
        "SELECT datetime(julianday('2013-10-07 08:23:19'), '+12 hours')",
        "SELECT date(julianday('2022-03-05'))",
        "SELECT datetime(julianday('2021-01-31 23:59:59.874'))",  # ms round
        "SELECT date(2440587.5 + 10 * 36.5)",
        "SELECT datetime(2440587 + 0.5, 'start of year')",
    ]
    for q in cases:
        want = con.execute(q).fetchone()[0]
        got = spark.sql(rewrite_query(q + " AS v")).collect()[0]["v"]
        assert str(got) == str(want), (q, got, want)
    # plan-shape gates: peephole keeps ONE probe; arith path keeps ZERO
    peep = rewrite_query("SELECT datetime(julianday(x), '+1 day') AS v FROM t")
    assert peep.count("AS STRING) AS DOUBLE") == 4  # inner chain only
    assert "round(unix_micros(" in peep
    arith = rewrite_query("SELECT date(2440587.5 + (k % 7)) AS v FROM t")
    assert "try_to_timestamp" not in arith and "try_cast" not in arith
    # classifier unit cases
    assert _is_arith_expr("2440587.5 + (k % 20000)")
    assert _is_arith_expr("a - b")
    assert not _is_arith_expr("-5")            # unary sign
    assert not _is_arith_expr("f(a + b)")      # op hidden at depth 1
    assert not _is_arith_expr("x || '-y'")     # concat, not arithmetic
    assert not _is_arith_expr("'a + b'")       # inside a string literal
    assert _julianday_inner("(unix_micros(E) / 86400000000.0d + 2440587.5d)") == "E"
    assert _julianday_inner("(unix_micros(E)) / 86400000000.0d + 2440587.5d)") is None


def test_strftime_extended_codes(spark):
    """%-codes SQLite gained in 3.46 (%e %F %R %T %u) — direct expected
    values since the stdlib sqlite3 here is older."""
    from dsq_spark.rewrite import rewrite_query

    cases = [
        ("SELECT strftime('%F', '2022-03-05 10:20:30')", "2022-03-05"),
        ("SELECT strftime('%R', '2022-03-05 10:20:30')", "10:20"),
        ("SELECT strftime('%T', '2022-03-05 10:20:30')", "10:20:30"),
        ("SELECT strftime('%e', '2022-03-05')", "5"),
        ("SELECT strftime('%u', '2022-03-06')", "7"),  # Sunday → ISO 7
        ("SELECT strftime('%f', '2022-03-05 10:20:30.250')", "30.250"),
    ]
    for q, want in cases:
        got = spark.sql(rewrite_query(q) + " AS v").collect()[0]["v"]
        assert str(got) == want, q
    # a code neither we nor the pinned 3.39.2 amalgamation knows compiles
    # to NULL — exactly what the reference's SQLite returns (r4; the old
    # behavior raised, which no SQLite ever does)
    out = rewrite_query("SELECT strftime('%Q', '2022-03-05') AS v")
    assert spark.sql(out).collect()[0]["v"] is None


def test_scalar_minmax_and_json(spark):
    """SQLite arity dispatch: max/min aggregate with 1 arg, greatest/least
    with 2+; json() returns text for valid JSON, NULL for invalid."""
    import sqlite3

    from dsq_spark.rewrite import rewrite_query

    con = sqlite3.connect(":memory:")
    for q in ("SELECT max(1, 2)", "SELECT min(3, 1, 2)", "SELECT max('a', 'b')"):
        want = con.execute(q).fetchone()[0]
        got = spark.sql(rewrite_query(q + " AS v")).collect()[0]["v"]
        assert str(got) == str(want), q
    spark.sql("SELECT * FROM VALUES (1),(5),(3) AS g(x)").createOrReplaceTempView("t_mm")
    assert spark.sql(rewrite_query("SELECT max(x) AS m FROM t_mm")).collect()[0]["m"] == 5
    spark.catalog.dropTempView("t_mm")
    assert spark.sql(rewrite_query('SELECT json(\'{"a": 1}\') AS v')).collect()[0]["v"] == '{"a":1}'
    assert spark.sql(rewrite_query("SELECT json('nope{') AS v")).collect()[0]["v"] is None
    # json_array_length 2-arg path form, multi-arg char, planner hints
    for q in ('SELECT json_array_length(\'{"a": [1,2]}\', \'$.a\')',
              "SELECT char(72, 105)", "SELECT likely(5)", "SELECT likelihood(5, 0.5)"):
        want = con.execute(q).fetchone()[0]
        got = spark.sql(rewrite_query(q + " AS v")).collect()[0]["v"]
        assert str(got).rstrip("0").rstrip(".") == str(want).rstrip("0").rstrip(".") or got == want, q


def test_json_extract(spark):
    """json_extract single-path form == SQLite's on string-serialized
    arrays/objects (both return TEXT here)."""
    import sqlite3

    cases = [
        ("[1,2,3]", "$[1]"),
        ('{"a": {"b": 7}}', "$.a.b"),
        ('{"a": "x"}', "$.a"),
        ("[1,2,3]", "$[9]"),
    ]
    con = sqlite3.connect(":memory:")
    want = [
        str(con.execute("SELECT json_extract(?, ?)", c).fetchone()[0])
        for c in cases
    ]
    df = spark.createDataFrame(cases, ["j", "p"]).selectExpr(
        "json_extract(j, p) AS v"
    )
    got = [str(r.v) for r in df.collect()]
    assert got == want


def test_glob_property_randomized(spark):
    """200 seeded random (pattern, string) pairs over a hostile alphabet
    (wildcards, regex metachars, brackets) — Spark glob() must agree with
    real SQLite on every one. One Spark job for the whole batch."""
    import random
    import sqlite3

    rng = random.Random(1234)
    alphabet = list("ab.*?[]()^$+|{}\\x-\u00e9\u20ac")
    def rand_s(maxlen):
        return "".join(rng.choice(alphabet) for _ in range(rng.randrange(maxlen)))

    pairs = []
    for _ in range(200):
        pat, s = rand_s(8), rand_s(10)
        if "'" in pat or "'" in s:
            continue
        pairs.append((pat, s))
    con = sqlite3.connect(":memory:")
    want = [con.execute("SELECT glob(?, ?)", p).fetchone()[0] for p in pairs]
    df = spark.createDataFrame(pairs, ["p", "s"]).selectExpr("glob(p, s) AS g")
    got = [r.g for r in df.collect()]
    diffs = [(pairs[i], want[i], got[i]) for i in range(len(pairs)) if want[i] != got[i]]
    assert not diffs, diffs[:10]


def test_groups_frame_vs_sqlite(spark, sf_dir):
    """The dense_rank+RANGE emulation of GROUPS frames must agree with real
    SQLite's native `GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW` on the
    actual orders table (SQLite is the reference's engine)."""
    import sqlite3

    import dsq_spark.queries as Q

    rows = [
        (r.o_custkey, r.o_orderkey, str(r.o_orderdate))
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .collect()
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE orders (o_custkey INT, o_orderkey INT, o_orderdate TEXT)")
    con.executemany("INSERT INTO orders VALUES (?,?,?)", rows)
    want = sorted(
        con.execute(
            """SELECT o_custkey, o_orderkey,
                      count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                                     GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)
               FROM orders"""
        ).fetchall()
    )
    got = sorted(
        (r.o_custkey, r.o_orderkey, r.n_recent)
        for r in Q.REGISTRY["window_groups_frame"].fn(spark, sf_dir).collect()
    )
    assert got == want


def test_datetime_modifiers_property_vs_sqlite(spark):
    """Randomized date/time + modifier-chain property check against real
    SQLite — one batched Spark job for all cases."""
    import sqlite3

    from hypothesis import strategies as st

    from dsq_spark.rewrite import rewrite_query

    rng_dates = st.dates().map(str)
    mods = st.sampled_from([
        "+1 day", "-3 days", "+26 hours", "-90 minutes", "+45 seconds",
        "+1 month", "-2 months", "+13 months", "+1 year", "-1 year",
        "start of month", "start of year", "start of day",
        "weekday 0", "weekday 3", "weekday 6",
    ])
    cases = st.tuples(rng_dates, st.lists(mods, min_size=1, max_size=3))
    seen = [cases.example() for _ in range(30)]
    con = sqlite3.connect(":memory:")
    exprs, wants = [], []
    for i, (d, chain) in enumerate(seen):
        args = ", ".join(["'%s'" % d] + ["'%s'" % m for m in chain])
        q = f"datetime({args})"
        wants.append(con.execute("SELECT " + q).fetchone()[0])
        exprs.append(rewrite_query(q) + f" AS c{i}")
    row = spark.sql("SELECT " + ", ".join(exprs)).collect()[0]
    for i, (case, want) in enumerate(zip(seen, wants)):
        assert str(row[f"c{i}"]) == str(want), case


def test_json1_scalar_family_vs_sqlite(spark):
    """json_quote/array/object/type/valid + typeof/iif, oracled against the
    stdlib sqlite3 (the engine the reference embeds). One batched Spark job."""
    import sqlite3

    from dsq_spark.rewrite import rewrite_query

    exprs = [
        "json_quote(1.5)", "json_quote('a\"b')", "json_quote('plain')",
        "json_quote('[1,2]')",
        "json_array(1, 'x', NULL)", "json_array()", "json_array(1.5, 'a''b')",
        "json_object('a', 1, 'b', NULL, 'c', 'txt')", "json_object()",
        "json_valid('123')", "json_valid('{bad')", "json_valid('\"a\"')",
        "json_valid('abc')", "json_valid('  123  ')",
        "json_type('{\"a\":1}')", "json_type('123')", "json_type('1.5')",
        "json_type('\"s\"')", "json_type('true')", "json_type('false')",
        "json_type('null')", "json_type('[3]')",
        "json_type('{\"a\":[1,2]}', '$.a')", "json_type('{\"a\":{\"b\":1}}', '$.a')",
        "json_type('{\"a\":1}', '$.a')", "json_type('{\"a\":1.5}', '$.a')",
        "json_type('{\"a\":true}', '$.a')", "json_type('{\"a\":\"xy\"}', '$.a')",
        "typeof(1)", "typeof(1.5)", "typeof('x')", "typeof(NULL)",
        "typeof(x'00ff')", "typeof(1 = 1)",
        "iif(1 > 0, 'y', 'n')", "iif(0 > 1, 'y', 'n')",
        "zeroblob(3)",
    ]
    con = sqlite3.connect(":memory:")
    wants = [con.execute(f"SELECT {e}").fetchone()[0] for e in exprs]
    sel = ", ".join(f"{rewrite_query(e)} AS c{i}" for i, e in enumerate(exprs))
    row = spark.sql(f"SELECT {sel}").collect()[0]
    for i, (e, want) in enumerate(zip(exprs, wants)):
        got = row[f"c{i}"]
        if isinstance(got, (bytes, bytearray)):
            got = bytes(got)
        assert got == want, f"{e}: {got!r} != {want!r}"


def test_json_group_aggs_vs_sqlite(spark):
    """json_group_array/json_group_object vs real SQLite (order-insensitive:
    SQLite aggregates in scan order, collect_list in partition order)."""
    import json as _json
    import sqlite3

    from dsq_spark.rewrite import rewrite_query

    rows = [("a", 1.0), ("b", None), ("c", 2.5)]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE tj(k TEXT, v REAL)")
    con.executemany("INSERT INTO tj VALUES (?, ?)", rows)
    want_arr = _json.loads(con.execute("SELECT json_group_array(v) FROM tj").fetchone()[0])
    want_obj = _json.loads(con.execute("SELECT json_group_object(k, v) FROM tj").fetchone()[0])
    spark.sql("CREATE OR REPLACE TEMP VIEW tj AS SELECT * FROM VALUES "
              "('a', 1.0d), ('b', CAST(NULL AS DOUBLE)), ('c', 2.5d) AS t(k, v)")
    got_arr = _json.loads(spark.sql(rewrite_query(
        "SELECT json_group_array(v) AS v FROM tj")).collect()[0]["v"])
    got_obj = _json.loads(spark.sql(rewrite_query(
        "SELECT json_group_object(k, v) AS v FROM tj")).collect()[0]["v"])
    assert sorted(map(str, got_arr)) == sorted(map(str, want_arr))
    assert got_obj == want_obj


def test_random_alias(spark):
    """random() rewrites to a uniform int64 (SQLite core)."""
    from dsq_spark.rewrite import rewrite_query

    vals = spark.sql(
        "SELECT " + ", ".join(f"{rewrite_query('random()')} AS c{i}" for i in range(4))
    ).collect()[0]
    assert all(isinstance(vals[f"c{i}"], int) for i in range(4))
    assert len({vals[f"c{i}"] for i in range(4)}) > 1


def test_sqlite_core_scalars_vs_sqlite(spark):
    """trim/ltrim/rtrim 2-arg char-set form (Spark flips the arg order),
    substr start-0 quirk, typed quote(), function-form like() incl. ESCAPE,
    sign/round return types, bookkeeping constants — all against the real
    engine. Values go through io_out._cell_value (the CLI's JSON model):
    Go's encoding/json prints float64 3.0 as 3, so integral floats
    integerize on BOTH sides."""
    import sqlite3

    from dsq_spark.io_out import _cell_value
    from dsq_spark.rewrite import rewrite_query

    exprs = [
        "substr('hello', -3)", "substr('hello', 0, 3)", "substr('hello', 2, 3)",
        "round(2.567, 2)", "sign(-4)", "sign(0)", "sign(2.7)",
        "trim('  x  ')", "trim('xxyxx', 'x')", "ltrim('xxy', 'x')",
        "rtrim('yxx', 'x')", "ltrim('  a')", "rtrim('a  ')",
        "printf('%05.2f', 3.14159)", "printf('%d-%s', 42, 'x')",
        "format('%.3f', 2.5)",
        "quote(5)", "quote(NULL)", "quote('it''s')", "quote(x'00ff')",
        "quote(1.5)",
        "last_insert_rowid()", "changes()", "total_changes()",
        "sqlite_version()",
        "min(2, 3.5)",
        "like('a%', 'abc')", "like('a_', 'abc')",
        # SQLite literals are escape-free: backslash is a literal char
        "like('ab\\%', 'ab%', '\\')", "length('a\\b')",
        "replace('a\\b', '\\', '/')", "instr('a\\b', '\\')",
    ]
    con = sqlite3.connect(":memory:")
    wants = []
    for e in exprs:
        if e == "sqlite_version()":
            # pinned to the reference build's amalgamation (go.mod:78 →
            # go-sqlite3 v1.14.15 = SQLite 3.39.2), not the host sqlite3
            wants.append("3.39.2")
            continue
        w = con.execute(f"SELECT {e}").fetchone()[0]
        if isinstance(w, float) and w.is_integer():
            w = int(w)  # Go JSON model (reference output) integerizes
        wants.append(w)
    q = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    row = spark.sql(rewrite_query(q)).collect()[0]
    for i, (e, want) in enumerate(zip(exprs, wants)):
        got = _cell_value(row[f"c{i}"])
        if isinstance(got, (bytes, bytearray)):
            got = bytes(got)
        assert str(got) == str(want), f"{e}: {got!r} != {want!r}"


def test_strftime_julian_and_unknown_codes(spark):
    """%J (fractional Julian day — supported by the reference's pinned
    SQLite) renders with trimmed %.16g; codes the pinned 3.39.2
    amalgamation does NOT know (%I %k %l %p %P — added in 3.44) compile to
    NULL like it returns, instead of raising."""
    import sqlite3

    from dsq_spark.rewrite import rewrite_query

    con = sqlite3.connect(":memory:")
    for code in ("%J", "%I", "%k", "%l", "%p", "%P"):
        for ts in ("2013-10-07 08:23:19.120", "2001-01-01 00:00:00",
                   "1970-01-01 12:00:00"):
            q = f"SELECT strftime('x{code}y', '{ts}') AS v"
            want = con.execute(q).fetchone()[0]
            got = spark.sql(rewrite_query(q)).collect()[0]["v"]
            assert str(want) == str(got), (code, ts, want, got)


def test_printf_negative_zero(spark):
    """SQLite's printf renders EXACT -0.0 unsigned under float conversions
    (java.util.Formatter prints '-0.00'); values that merely round to zero
    keep their sign in both engines. Found by a random-seed fuzz sweep."""
    import sqlite3

    from dsq_spark.rewrite import rewrite_query

    con = sqlite3.connect(":memory:")
    for q in ["SELECT printf('[%.2f]', 0 / -1.75) AS v",
              "SELECT printf('%f', -0.0) AS v",
              "SELECT printf('[%.2f]', -0.004) AS v",
              "SELECT printf('[%.2f]', 0.0) AS v"]:
        want = con.execute(q).fetchone()[0]
        got = spark.sql(rewrite_query(q)).collect()[0]["v"]
        assert str(want) == str(got), q


def test_quote_real_matches_sqlite():
    """quote() of a REAL, byte-exact vs sqlite3 (r6 VERDICT missing-#4):
    SQLite renders %!.15g, re-parses it with its own long-double AtoF,
    and falls back to the long-double %!.20e when that does not
    round-trip — functions/sqlite_real.py reproduces both, including
    the double-rounding in AtoF's extreme-exponent branch and the
    et_getdigit artifacts (quote(9007199254740992.0) is
    '9.00719925474099199994e+15', not the exact decimal expansion).
    Pure-Python differential: no Spark session needed."""
    import math
    import random
    import sqlite3
    import struct

    from dsq_spark.functions.sqlite_real import sqlite_quote_real

    con = sqlite3.connect(":memory:")
    r = random.Random(0xBEEF)
    vals = [9007199254740992.0, float(2**63), math.pi, 0.1, 1e20, -0.0,
            0.0, 123.456, 5e-324, 2.2250738585072014e-308,
            1.7976931348623157e308, -1.5e-300, 1.0, 2.5]
    for _ in range(4000):
        b = r.getrandbits(64)
        v = struct.unpack("<d", struct.pack("<Q", b))[0]
        if not (math.isnan(v) or math.isinf(v)):
            vals.append(v)
    for _ in range(2000):
        vals.append(r.uniform(-1e6, 1e6))
        vals.append(r.uniform(-1e18, 1e18))
    bad = []
    for v in vals:
        want = con.execute("SELECT quote(?)", (v,)).fetchone()[0]
        got = sqlite_quote_real(repr(v))  # string arg, like the alias
        if got != want:
            bad.append((v, want, got))
    assert not bad, bad[:5]


def test_register_all_once_per_session(spark):
    """r7 VERDICT #8: register_all's session-conf marker must make a
    REPEAT call issue ZERO DDL — the ~0.9 s of per-query py4j
    round-trips was the real r5→r6 bench regression, and a future
    round's new UDF must not silently reintroduce it.  Counted by
    wrapping spark.sql itself."""
    register_all(spark)  # ensure the marker is set for this mode
    calls = []
    orig = spark.sql
    spark.sql = lambda *a, **k: (calls.append(a[0] if a else k), orig(*a, **k))[1]
    try:
        register_all(spark)
        assert calls == [], f"repeat register_all issued DDL: {calls[:3]}"
        register_all(spark, force=True)
        assert calls, "force=True must replay registration"
    finally:
        spark.sql = orig


def test_glob_regex_py_mirrors_sql_machine(spark):
    """glob_regex_py must be BYTE-equal to the glob_regex SQL machine —
    it substitutes for it (literal folds + the dsq_glob_regex_agg
    pandas twin) in aggregate-mixed statements, where Spark 4.1's
    SQL-function extraction breaks sibling foldability checks."""
    import random

    from dsq_spark.functions import glob_regex_py

    register_all(spark)
    r = random.Random(0x61B)
    alph = list("ab*?[]^-xyz!0'\\") + ["λ", "0", "9"]
    pats = ["".join(r.choice(alph) for _ in range(r.randint(0, 9)))
            for _ in range(250)]
    pats += ["", "[", "[]", "[^]", "[]]", "[^]]", "a[x-a]b", "[--0]",
             "[a-]", "*?[b-a]", "[a-z]*", "x[-]y", "[^a-c]"]
    for p in pats:
        want = spark.sql("SELECT glob_regex(?) AS r", args=[p]) \
            .collect()[0][0]
        assert glob_regex_py(p) == want, repr(p)


def test_inline_agg_safe_strips_sql_udfs():
    """Aggregate-mixed statements must reach the analyzer with no SQL
    temporary functions (the Spark 4.1 extraction bug —
    rewrite._inline_agg_safe): the datetime family inlines to its
    try_to_timestamp chain, dsq_real_text/glob_regex swap to pandas
    twins, literal glob patterns fold to their compiled regex, and
    nullif becomes its CASE definition.  Aggregate-free statements are
    byte-identical."""
    from dsq_spark.rewrite import rewrite_query

    out = rewrite_query(
        "SELECT julianday(c) AS j, sum(a) AS s FROM {0}", {})
    assert "julianday(" not in out and "best_effort_ts(" not in out
    assert "try_to_timestamp" in out
    out = rewrite_query("SELECT total(c) || 'x' AS r FROM {0}",
                        {"c": "real"})
    assert "dsq_real_text(" not in out and "dsq_real_text_agg(" in out
    out = rewrite_query(
        "SELECT (c GLOB 'a*') AS g, count(1) AS n FROM {0}", {})
    assert "glob_regex(" not in out
    out = rewrite_query("SELECT nullif(a, sum(b)) AS r FROM {0}", {})
    assert "nullif(" not in out
    # no aggregate: everything keeps its normal spelling (the literal
    # date() form is the one that still calls the best_effort_ts UDF)
    out = rewrite_query("SELECT date('2024-01-05') AS j FROM {0}", {})
    assert "best_effort_ts(" in out
    out = rewrite_query(
        "SELECT date('2024-01-05') AS j, sum(a) AS s FROM {0}", {})
    assert "best_effort_ts(" not in out


def test_simhash_packed_votes_match_unpacked(spark):
    """r11 dedup_simhash internals: the 12 packed 16-bit bit-counter sums
    must produce bit-identical signatures to the naive 48 ±1 vote sums,
    and the overflow guard must fail loudly past 65535 rows per doc."""
    import pytest
    from pyspark.sql import functions as F

    from dsq_spark.queries.dedup import SIMHASH_BITS, _simhash_sig

    rows = [(i % 7, ((i * 2654435761) ^ (i << 21)) & ((1 << 48) - 1))
            for i in range(2000)]
    hashed = spark.createDataFrame(rows, "doc_id long, h long")

    votes = hashed.groupBy("doc_id").agg(
        *[F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1)
                .otherwise(-1)).alias(f"v{b}") for b in range(SIMHASH_BITS)])
    sig_expr = None
    for b in range(SIMHASH_BITS):
        term = (F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long"))
                .otherwise(F.lit(0).cast("long")))
        sig_expr = term if sig_expr is None else sig_expr + term
    want = {r["doc_id"]: r["s"] for r in
            votes.select("doc_id", sig_expr.alias("s")).collect()}
    got = {r["doc_id"]: r["simhash"] for r in _simhash_sig(hashed).collect()}
    assert got == want

    big = spark.range(70000).select(
        F.lit(0).alias("doc_id"), (F.col("id") * 37 % 281474976710655).alias("h"))
    with pytest.raises(Exception, match="packed-vote overflow"):
        _simhash_sig(big).collect()
