"""JSON1 mutation family vs the real SQLite (stdlib sqlite3), same strategy
as the glob/datetime suites: drive the pure-Python engine across a broad
matrix and require byte-identical output.

Documented deltas (PARITY.md):
  * malformed JSON → NULL (SQLite raises);
  * untouched string escape sequences are re-serialized canonically;
  * multi-pair edits where a '[#]' append and another index edit target the
    SAME array follow the documented sequential semantics — SQLite ≤3.44's
    string-splice implementation produces a stale-edit artifact there
    (json_set('{"y":[1,2]}','$.y[#]',7,'$.y[0]',9) gives {"y":[1,2,9]} on
    3.40 instead of the sequential {"y":[9,2,7]}).
"""

from __future__ import annotations

import random
import sqlite3

import pytest

from dsq_spark.functions.json1 import (json_insert_text, json_patch_text,
                                       json_remove_text, json_replace_text,
                                       json_set_text, json_tree_rows)

DOCS = ['{}', '{"a":1}', '{"a":{"x":1,"y":[1,2]}}', '[0,1,2]', '{"b":[]}',
        '{"a":1.50,"b":"s"}', '[{"k":1},{"k":2}]', '{"a":null}',
        '{"a":true,"b":false}', '{"n":{"m":{"o":5}}}', '[[1],[2,3]]',
        '{"u":"héllo"}', '{"k ey":7}', '5', '"str"']
PATHS = ['$', '$.a', '$.b', '$.a.x', '$.a.y[0]', '$.a.y[#]', '$.a.y[#-1]',
         '$[0]', '$[1]', '$[2]', '$[#]', '$.a.b.c', '$.a[0]', '$.a[0].b',
         '$.b[0]', '$.b[2]', '$.n.m.o', '$.n.m.p', '$."k ey"', '$.zz.q[0]']
# (SQL literal, equivalent JSON text as the rewriter serializes it)
VALS = [('1', '1'), ('0.5', '0.5'), ('\'tx"t\'', '"tx\\"t"'),
        ('NULL', 'null'), ("json('[1,2]')", '[1,2]'), ('1.0e2', '100.0'),
        ("json('true')", 'true')]


@pytest.fixture(scope="module")
def con():
    return sqlite3.connect(":memory:")


def _want(con, sql, params=()):
    v = con.execute(sql, params).fetchone()[0]
    return str(v) if v is not None else None


@pytest.mark.parametrize("mode,fn", [("set", json_set_text),
                                     ("insert", json_insert_text),
                                     ("replace", json_replace_text)])
def test_mutators_matrix(con, mode, fn):
    checked = 0
    for d in DOCS:
        for p in PATHS:
            for sqlv, jv in VALS:
                try:
                    want = _want(con, f"SELECT json_{mode}(?, '{p}', {sqlv})",
                                 (d,))
                except sqlite3.OperationalError:
                    continue
                assert fn(d, [p, jv]) == want, (mode, d, p, sqlv)
                checked += 1
    assert checked > 2000


def test_set_multi_pair_sequential(con):
    random.seed(11)
    safe_paths = [p for p in PATHS if "#" not in p]  # see module docstring
    checked = 0
    for _ in range(300):
        d = random.choice(DOCS)
        ps = random.sample(safe_paths, 2)
        vs = [random.choice(VALS) for _ in ps]
        args_sql = ", ".join(f"'{p}', {v[0]}" for p, v in zip(ps, vs))
        try:
            want = _want(con, f"SELECT json_set(?, {args_sql})", (d,))
        except sqlite3.OperationalError:
            continue
        flat = []
        for p, v in zip(ps, vs):
            flat += [p, v[1]]
        assert json_set_text(d, flat) == want, (d, args_sql)
        checked += 1
    assert checked > 200
    # multi-append is well-defined and must chain
    assert json_set_text('[1,2]', ['$[#]', '5', '$[#]', '6']) == \
        _want(con, "SELECT json_set('[1,2]','$[#]',5,'$[#]',6)")


def test_remove_matrix(con):
    random.seed(13)
    for d in DOCS:
        for p1 in PATHS:
            for p2 in random.sample(PATHS, 4):
                try:
                    want = _want(con, f"SELECT json_remove(?, '{p1}', '{p2}')",
                                 (d,))
                except sqlite3.OperationalError:
                    continue
                assert json_remove_text(d, [p1, p2]) == want, (d, p1, p2)


def test_remove_index_shift(con):
    # paths apply sequentially: the second '$[1]' sees the shifted array
    assert json_remove_text('[0,1,2,3]', ['$[1]', '$[1]']) == '[0,3]'
    assert json_remove_text('{"a":1}', ['$']) is None  # root remove → NULL


def test_patch_matrix(con):
    patches = ['{}', '{"a":null}', '{"a":{"y":null,"z":9}}', '[7]',
               '{"c":{"d":null,"e":1}}', '5', '{"a":[9]}',
               '{"a":{"b":null,"c":1}}']
    for d in DOCS:
        for b in patches:
            want = _want(con, "SELECT json_patch(?, ?)", (d, b))
            assert json_patch_text(d, b) == want, (d, b)


def test_tree_matrix(con):
    cols = "key, value, type, atom, id, parent, fullkey, path"
    for d in DOCS:
        for p in [None, '$', '$.a', '$.a.y', '$[1]', '$.zz', '$.a.y[0]',
                  '$.n.m', '$."k ey"']:
            try:
                if p is None:
                    want = con.execute(
                        f"SELECT {cols} FROM json_tree(?)", (d,)).fetchall()
                else:
                    want = con.execute(
                        f"SELECT {cols} FROM json_tree(?, ?)",
                        (d, p)).fetchall()
            except sqlite3.OperationalError:
                continue
            want = [tuple(None if x is None else str(x) for x in r)
                    for r in want]
            got = [tuple(None if x is None else str(x) for x in r)
                   for r in (json_tree_rows(d, p) or [])]
            assert got == want, (d, p)


def test_malformed_returns_null():
    # SQLite raises on malformed JSON; we return NULL (documented delta —
    # a Spark job must not abort on one bad row)
    assert json_set_text('{bad', ['$.a', '1']) is None
    assert json_remove_text('nope', ['$.a']) is None
    assert json_patch_text('{"a":1}', '{oops') is None
    assert json_tree_rows('{', None) is None


def test_sql_surface(spark):
    """End-to-end through the rewriter + registered UDFs, vs sqlite3."""
    import sqlite3 as s3

    from dsq_spark.functions import register_all
    from dsq_spark.rewrite import rewrite_query

    register_all(spark)
    con = s3.connect(":memory:")
    qs = [
        "SELECT json_set('{\"a\":1}', '$.b.c', 2) AS v",
        "SELECT json_insert('{\"a\":1}', '$.a', 9, '$.b', 8) AS v",
        "SELECT json_replace('{\"a\":1}', '$.a', 'x') AS v",
        "SELECT json_remove('[0,1,2,3]', '$[1]', '$[1]') AS v",
        "SELECT json_patch('{\"a\":{\"x\":1}}', '{\"a\":{\"x\":null,\"y\":2}}') AS v",
        "SELECT json_set('{}', '$.a', json_array(1, 2)) AS v",
        "SELECT json_set('{}', '$.a', json_object('k', 5)) AS v",
        "SELECT json_set('[]', '$[#]', json('{\"n\":true}')) AS v",
    ]
    for q in qs:
        want = con.execute(q).fetchone()[0]
        got = spark.sql(rewrite_query(q)).collect()[0]["v"]
        assert got == want, q
    # json_tree as a table-valued function
    q = ("SELECT fullkey, value FROM json_tree('{\"a\":[1,{\"b\":2}]}') "
         "WHERE type NOT IN ('object','array') ORDER BY fullkey")
    want = [(r[0], str(r[1])) for r in con.execute(q).fetchall()]
    got = [(r["fullkey"], r["value"])
           for r in spark.sql(rewrite_query(q)).collect()]
    assert got == want
    # 2-arg form joined to a base table
    spark.createDataFrame([(1, '{"t":{"x":7,"y":8}}')], ["id", "js"]) \
        .createOrReplaceTempView("jt_t")
    con.execute("CREATE TABLE jt_t(id INT, js TEXT)")
    con.execute("INSERT INTO jt_t VALUES (1, '{\"t\":{\"x\":7,\"y\":8}}')")
    q = ("SELECT jt_t.id AS id, j.fullkey AS fk, j.atom AS atom "
         "FROM jt_t, json_tree(jt_t.js, '$.t') j WHERE j.atom IS NOT NULL "
         "ORDER BY fk")
    want = [tuple(str(x) for x in r) for r in con.execute(q).fetchall()]
    got = [(str(r["id"]), r["fk"], r["atom"])
           for r in spark.sql(rewrite_query(q)).collect()]
    assert got == want


def test_each_matrix(con):
    """json_each's full 8-column shape vs sqlite3 over the same doc×path
    matrix json_tree is pinned on: direct children only (a scalar yields
    itself with a NULL key even when reached via an object key), parent
    always NULL, ids in the shared document-rooted node numbering."""
    from dsq_spark.functions.json1 import json_each_rows

    cols = "key, value, type, atom, id, parent, fullkey, path"
    for d in DOCS:
        for p in [None, '$', '$.a', '$.a.y', '$[1]', '$.zz', '$.a.y[0]',
                  '$.n.m', '$."k ey"']:
            try:
                if p is None:
                    want = con.execute(
                        f"SELECT {cols} FROM json_each(?)", (d,)).fetchall()
                else:
                    want = con.execute(
                        f"SELECT {cols} FROM json_each(?, ?)",
                        (d, p)).fetchall()
            except sqlite3.OperationalError:
                continue
            want = [tuple(None if x is None else str(x) for x in r)
                    for r in want]
            got = [tuple(None if x is None else str(x) for x in r)
                   for r in (json_each_rows(d, p) or [])]
            assert got == want, (d, p)


def test_each_rich_columns_sql_surface(spark):
    """Through the rewriter: referencing type/fullkey/atom/id switches
    json_each to the full-column lowering; the plain key/value shape keeps
    the pure-Catalyst path (no Python in that plan)."""
    import io
    import sqlite3 as s3
    from contextlib import redirect_stdout

    from dsq_spark.functions import register_all
    from dsq_spark.rewrite import rewrite_query

    register_all(spark)
    con = s3.connect(":memory:")
    doc = '{"a":[1,{"b":2}],"n":7,"s":"x"}'
    q = (f"SELECT je.key AS k, je.type AS ty, je.atom AS at, je.id AS i, "
         f"je.fullkey AS fk FROM json_each('{doc}') je ORDER BY i")
    want = [tuple(None if x is None else str(x) for x in r)
            for r in con.execute(q).fetchall()]
    got = [tuple(None if x is None else str(x) for x in r)
           for r in spark.sql(rewrite_query(q)).collect()]
    assert got == want
    # fast path stays Catalyst-only: no Python eval nodes in the plan
    q2 = f"SELECT je.key, je.value FROM json_each('{doc}') je"
    df = spark.sql(rewrite_query(q2))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_strict_json_mode(spark):
    """--strict-json / DSQ_STRICT_JSON reproduces SQLite's LOUDNESS: the
    reference surfaces SQLite's 'malformed JSON' error to the user, while
    this engine's default is a documented softer NULL / zero rows.  In
    strict mode every JSON1 surface raises: the Python mutator engine
    (closure-baked flag — a module global would reset in the Python
    workers), the Catalyst json()/json_extract() guards (raise_error),
    and json_each (routed through the raising walker by the rewriter)."""
    import os

    import pytest

    from dsq_spark.functions import register_all
    from dsq_spark.functions.json1 import json_each_rows, json_set_text
    from dsq_spark.rewrite import rewrite_query

    # engine-level: strict raises, default NULLs
    assert json_set_text("{", ["$.a", "1"]) is None
    with pytest.raises(ValueError, match="malformed"):
        json_set_text("{", ["$.a", "1"], True)
    assert json_each_rows("{", None) is None
    with pytest.raises(ValueError, match="malformed"):
        json_each_rows("{", None, True)
    # bad path is a loud path error in strict mode too
    with pytest.raises(ValueError, match="path"):
        json_set_text("{}", ["$.", "1"], True)

    register_all(spark, strict_json=True)
    os.environ["DSQ_STRICT_JSON"] = "1"
    try:
        for q in ("SELECT json('{bad') AS v",
                  "SELECT json_extract('{bad', '$.a') AS v",
                  "SELECT json_set('{bad', '$.a', 1) AS v",
                  "SELECT key FROM json_each('{bad')"):
            with pytest.raises(Exception):
                spark.sql(rewrite_query(q)).collect()
        # valid documents still work identically in strict mode
        assert spark.sql(rewrite_query(
            "SELECT json_set('{}', '$.a', 1) AS v")).collect()[0]["v"] \
            == '{"a":1}'
        assert spark.sql(rewrite_query(
            "SELECT count(*) AS n FROM json_each('[1,2,3]')")) \
            .collect()[0]["n"] == 3
        # NULL input stays SQL NULL (SQLite: json_set(NULL, ...) is NULL)
        assert spark.sql(rewrite_query(
            "SELECT json_set(NULL, '$.a', 1) AS v")).collect()[0]["v"] is None
    finally:
        os.environ.pop("DSQ_STRICT_JSON", None)
        register_all(spark)  # restore the default (soft) registrations


def test_json_mutator_sqlite_matrix(spark):
    """json_set/json_insert/json_replace pinned byte-for-byte vs sqlite3
    through the full rewrite pipeline: minification, verbatim number
    spellings, replace in place, append at end ({} included),
    insert/replace asymmetry, non-object-root no-ops, hostile nested
    values, REAL values in SQLite's %!.15g shape (3.0 stays 3.0, -0.0
    is 0.0, an integer literal past int64 is REAL) and malformed → NULL
    (default mode).

    Two documents are named deltas (PARITY.md JSON1 row): the engine
    answers as sqlite3 does on the document it parses to.  A string
    escape is decoded ('\\u0041' comes back as 'A') and duplicate keys
    collapse to the last one, where sqlite3 keeps the text as written."""
    import sqlite3

    from dsq_spark.functions import register_all
    from dsq_spark.rewrite import rewrite_query

    register_all(spark)
    deltas = {'{"a":"\\u0041"}': '{"a":"A"}', '{"a":1,"a":2}': '{"a":2}'}
    docs = [
        '{ "a" : 1 }', '{"a":1e0}', '{"a":"\\u0041"}', '{"a":1}',
        '{"a":{"x":[1, 2]}}', '{"b":1,"a":2}', '[1, 2]', '{"a":0.10}',
        '{"a b":1}', '{}', '7', '{"b":{"c":1}}', 'null',
        '{"a":[{"b":1},[2,[3]]],"c":"s,:}"}', '{"a":"has \\" quote"}',
        '{"a":1,"a":2}', '  {"a":1}  ', 'not json', None,
    ]
    exprs = [
        "json_set(j, '$.a', 5)", "json_set(j, '$.b', 2.50)",
        "json_set(j, '$.b', 'it''s')", "json_set(j, '$.b', NULL)",
        "json_set(j, '$.b', true)", "json_insert(j, '$.a', 9)",
        "json_insert(j, '$.b', 9)", "json_replace(j, '$.a', 9)",
        "json_replace(j, '$.b', 9)", "json_set(j, '$.c', 'q\\path')",
        "json_set(j, '$.b', 3.0)", "json_set(j, '$.b', -0.0)",
        "json_set(j, '$.b', 9223372036854775808)",
    ]
    spark.createDataFrame([(d,) for d in docs], "j string") \
        .createOrReplaceTempView("jmut_m")
    con = sqlite3.connect(":memory:")

    def want(e, d):
        try:
            return con.execute("SELECT " + e.replace("j,", "?,"),
                               (d,)).fetchone()[0]
        except Exception:
            return None  # SQLite raises; default mode NULLs

    differs = set()
    for e in exprs:
        rw = rewrite_query(f"SELECT j, {e} AS r FROM jmut_m", {"j": "text"})
        got = {r["j"]: r["r"] for r in spark.sql(rw).collect()}
        for d in docs:
            assert got.get(d) == want(e, deltas.get(d, d)), (e, d)
            if got.get(d) != want(e, d):
                differs.add(d)
    assert differs == set(deltas)  # both deltas are real, and only they


def test_json_real_values_match_sqlite(spark):
    """REAL values inside JSON1 constructors and mutators render like
    SQLite's %!.15g (json_array(0.1 + 0.2) is [0.3], -0.0 is 0.0, 1e20
    is 1.0e+20), not like Java's Double.toString — both in a plain
    projection and in an aggregate statement, where the constructors
    are inlined.  Infinity is a documented residual (PARITY.md)."""
    import sqlite3

    from dsq_spark.functions import register_all
    from dsq_spark.rewrite import rewrite_query

    register_all(spark)
    con = sqlite3.connect(":memory:")
    vals = ["-0.0", "0.1 + 0.2", "1e20", "1.5e-7", "1e15",
            "123456789012345678.0", "2.5"]
    calls = ["json_array({})", "json_object('a', {})", "json_quote({})",
             "json_set('{{}}', '$.b', {})"]
    for c in calls:
        items = ", ".join(f"{c.format(v)} AS c{i}" for i, v in enumerate(vals))
        for q in (f"SELECT {items}", f"SELECT {items}, count(*) AS n"):
            want = con.execute(q).fetchone()
            got = spark.sql(rewrite_query(q)).collect()[0]
            for i, v in enumerate(vals):
                assert got[i] == want[i], (q, v, got[i], want[i])
