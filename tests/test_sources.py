"""Source-reader tests over small generated fixtures (SURVEY §2.1 matrix).

Mirrors the reference's format-matrix strategy (scripts/test.py:117-125:
same query over every format) plus per-format behavior pins."""

from __future__ import annotations

import json
import os
import zipfile

import pytest

from dsq_spark.sources import UnknownFileType, read_file
from dsq_spark.sources.flatten import flatten

FIX = os.path.join(os.path.dirname(__file__), "fixtures")

ROWS = [
    {"id": 1, "name": "Alice", "score": 90},
    {"id": 2, "name": "Bob", "score": 100},
    {"id": 3, "name": "Cara", "score": 85},
]


@pytest.fixture(scope="module", autouse=True)
def fixtures():
    os.makedirs(FIX, exist_ok=True)
    with open(f"{FIX}/u.csv", "w") as fh:
        fh.write("id,name,score\n")
        for r in ROWS:
            fh.write(f"{r['id']},{r['name']},{r['score']}\n")
    with open(f"{FIX}/u.tsv", "w") as fh:
        fh.write("id\tname\tscore\n")
        for r in ROWS:
            fh.write(f"{r['id']}\t{r['name']}\t{r['score']}\n")
    with open(f"{FIX}/u.json", "w") as fh:
        json.dump(ROWS, fh)
    with open(f"{FIX}/u.jsonl", "w") as fh:
        for r in ROWS:
            fh.write(json.dumps(r) + "\n")
    with open(f"{FIX}/u.cjson", "w") as fh:
        fh.write("".join(json.dumps(r) for r in ROWS))
    with open(f"{FIX}/nested.json", "w") as fh:
        json.dump({"meta": {"n": 2}, "data": {"data": [
            {"id": 1, "name": "Corah"}, {"id": 3, "name": "Minh"}]}}, fh)
    with open(f"{FIX}/u.yaml", "w") as fh:
        fh.write("\n".join(
            f"- {{id: {r['id']}, name: {r['name']}, score: {r['score']}}}"
            for r in ROWS))
    with open(f"{FIX}/u.logfmt", "w") as fh:
        for r in ROWS:
            fh.write(f'id={r["id"]} name="{r["name"]}" score={r["score"]}\n')
    # minimal xlsx (stdlib-zip writer mirrors the stdlib-zip reader)
    _write_xlsx(f"{FIX}/u.xlsx")
    yield


def _write_xlsx(path):
    sheet_rows = [["id", "name", "score"]] + [
        [str(r["id"]), r["name"], str(r["score"])] for r in ROWS]
    cells = "".join(
        "<row r=\"%d\">%s</row>" % (
            ri + 1,
            "".join(
                f'<c r="{chr(65 + ci)}{ri + 1}" t="inlineStr"><is><t>{v}</t></is></c>'
                for ci, v in enumerate(row)),
        )
        for ri, row in enumerate(sheet_rows)
    )
    # fixed entry timestamps → byte-identical zip on every regeneration
    # (no spurious git diff on the committed fixture)
    def _w(zf, name, data):
        zf.writestr(zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0)), data)

    with zipfile.ZipFile(path, "w") as zf:
        _w(zf, "xl/workbook.xml",
           '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
           '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')
        _w(zf, "xl/_rels/workbook.xml.rels",
           '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
           '<Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>')
        _w(zf, "xl/worksheets/sheet1.xml",
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
           f"<sheetData>{cells}</sheetData></worksheet>")


@pytest.mark.parametrize("ext", ["csv", "tsv", "json", "jsonl", "cjson", "yaml", "xlsx"])
def test_format_matrix_count(spark, ext):
    """Same data through every format → 3 rows, id/name/score columns."""
    df = read_file(spark, f"{FIX}/u.{ext}")
    assert df.count() == 3
    assert set(df.columns) == {"id", "name", "score"}


def test_csv_all_string_lexical(spark):
    """CSV default keeps strings: '100' > '90' is FALSE (reference P3,
    scripts/test.py:379-386)."""
    df = read_file(spark, f"{FIX}/u.csv")
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 3
    assert df.filter("score > '90'").count() == 0
    dfn = read_file(spark, f"{FIX}/u.csv", convert_numbers=True)
    assert dfn.filter("score > 90").count() == 1


def test_json_not_array_error(spark, tmp_path):
    p = tmp_path / "bad.json"
    p.write_text('{"foo": []}')
    with pytest.raises(ValueError, match="not an array of objects"):
        read_file(spark, str(p))


def test_json_doc_path(spark):
    """{N, "obj.path"} navigation (reference scripts/test.py:163-170)."""
    df = read_file(spark, f"{FIX}/nested.json", doc_path="data.data")
    rows = {r["id"]: r["name"] for r in df.collect()}
    assert rows == {1: "Corah", 3: "Minh"}


def test_unknown_extension(spark):
    with pytest.raises(UnknownFileType):
        read_file(spark, f"{FIX}/u.xyz")


# (records, schema DDL or None for inference, flattened first row)
_NESTED = [
    ([{"id": 1, "loc": {"city": "Oslo", "pos": {"lat": 1.5}}, "tags": [1, 2]}],
     None,
     {"id": 1, "loc.city": "Oslo", "loc.pos.lat": 1.5,
      "tags": "[1,2]"}),  # arrays serialize to JSON strings
    # awkward nested keys: a backtick, a space, a dot (escaped in the flat
    # name), non-ASCII text; array leaves under a struct; `v` mixes a
    # number and a string, so it is varied and keeps its dsq_varied tag
    ([{"id": 1, "s": {"a`b": 1, "c d": {"e.f": "x", "ключ": [{"k": 1}]}, "é": [1]},
       "v": 1},
      {"id": 2, "s": {"a`b": 2}, "v": "two"}],
     None,
     {"id": 1, "s.a`b": 1, "s.c d.e\\.f": "x", "s.c d.ключ": '[{"k":1}]',
      "s.é": "[1]", "v": "1"}),
    # a map leaf (JSON inference never makes one) serializes like an array
    ([{"id": 1, "s": {"m": {"k": 2}, "n": 3}}],
     "id BIGINT, s STRUCT<m: MAP<STRING, BIGINT>, n: BIGINT>",
     {"id": 1, "s.m": '{"k":2}', "s.n": 3}),
]


def test_flatten_nested(spark, tmp_path):
    for i, (records, schema, first_row) in enumerate(_NESTED):
        p = tmp_path / f"n{i}.json"
        p.write_text(json.dumps(records))
        raw = spark.read.schema(schema).json(str(p), multiLine=True) if schema \
            else read_file(spark, str(p))
        df = flatten(raw)
        assert sorted(df.columns) == sorted(first_row)
        assert df.orderBy("id").collect()[0].asDict() == first_row
        if "v" in first_row:
            assert "dsq_varied" in df.schema["v"].metadata
        # a top-level scalar keeps its metadata (the varied tag above)
        assert {f.name: f.metadata for f in df.schema.fields if f.metadata} == {
            f.name: f.metadata for f in raw.schema.fields if f.metadata}


def test_logfmt(spark):
    df = read_file(spark, f"{FIX}/u.logfmt")
    assert set(df.columns) == {"id", "name", "score"}
    assert df.filter("name = 'Bob'").count() == 1


def test_xlsx_sheet_missing(spark):
    with pytest.raises(ValueError, match="sheet"):
        read_file(spark, f"{FIX}/u.xlsx", doc_path="Nope")


def test_legacy_xls_truncated_clear_error(spark, tmp_path):
    # Real .xls now parses (tests/test_xls.py); a file with only the first
    # half of the OLE magic must still fail with a clear error, not a
    # confusing BadZipFile.
    p = tmp_path / "old.xls"
    p.write_bytes(b"\xd0\xcf\x11\xe0" + b"\x00" * 64)
    with pytest.raises(ValueError, match="not an OLE2 compound file"):
        read_file(spark, str(p))


def test_csv_rfc4180_doubled_quotes(spark, tmp_path):
    """RFC 4180: quotes inside quoted fields are escaped by doubling (the
    reference's Go encoding/csv dialect) — JSON-in-CSV payloads must
    survive. Spark's default backslash escape silently truncates them."""
    p = tmp_path / "q.csv"
    p.write_text('v,w\n"{""a"":[1,2,3]}",plain\n"say ""hi""",2\n')
    rows = [r.asDict() for r in read_file(spark, str(p)).collect()]
    assert rows == [{"v": '{"a":[1,2,3]}', "w": "plain"},
                    {"v": 'say "hi"', "w": "2"}]


def test_hostile_headers_survive(spark, tmp_path):
    """FIXTURES.md §1: header names with leading/trailing/embedded spaces
    and tabs must survive verbatim and stay queryable via quoted idents."""
    p = tmp_path / "hostile.csv"
    p.write_text(' Name ,Phone Number ,Company\t,  Description\n'
                 'Ann,555,Acme,hi there\n')
    df = read_file(spark, str(p))
    assert df.columns == [" Name ", "Phone Number ", "Company\t", "  Description"]
    from dsq_spark.rewrite import rewrite_query

    df.createOrReplaceTempView("t_0")
    out = df.sparkSession.sql(
        rewrite_query('SELECT " Name ", "Company\t" AS co FROM {0}')).collect()
    assert out[0][" Name "] == "Ann" and out[0]["co"] == "Acme"


def test_flatten_escapes_literal_dots(spark, tmp_path):
    """A literal '.' in a source key is backslash-escaped in the flat name
    (reference README.md:341-358), so it can't collide with path dots."""
    import json as _json
    p = tmp_path / "dots.json"
    p.write_text(_json.dumps([{"a.b": 1, "a": {"b": 2}}]))
    df = flatten(read_file(spark, str(p)))
    assert sorted(df.columns) == ["a.b", "a\\.b"]
    row = df.collect()[0]
    assert row["a.b"] == 2 and row["a\\.b"] == 1
