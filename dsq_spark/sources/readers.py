"""File-format readers (SURVEY.md §2.1, S1-S15).

Each reference format (reference main.go:29-46 dispatch, README.md:594-612
format list) maps to a function `(spark, path, opts) -> DataFrame`.

Scale stance: the hot formats (CSV/TSV/JSON/JSONL/Parquet/ORC, logfmt and
regexp logs) are read with Spark's distributed readers — splittable,
predicate-pushdown-capable, no driver materialization. The long-tail
"document" formats (Excel/ODS/YAML/Avro/concatenated JSON) are inherently
non-splittable single-document files; those parse driver-side with the
stdlib and land in Spark via a spilled JSONL temp file so schema inference
matches the JSON path exactly. At 100 TB nobody ships an .ods — the compat
path is correctness plumbing, not a throughput path.
"""

from __future__ import annotations

import io
import json
import logging
import os
import re
import stat
import tempfile
import weakref
import zipfile
from collections import OrderedDict
from xml.etree import ElementTree

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Says for each JSON and CSV input whether its schema was inferred or
# reused (the CLI's --verbose shows these records).
_log = logging.getLogger(__name__)


class UnknownFileType(ValueError):
    """Mirrors the reference's unknown-extension error (main.go:44-46)."""


# --------------------------------------------------------------------------
# S1/S2 — CSV / TSV: all-string columns by default so string-vs-number
# comparison semantics match the reference (SURVEY P3: '100' > '90' is
# false); convert_numbers turns on per-column inference (the Spark analogue
# of SQLite NUMERIC affinity, main.go:630-637).
# --------------------------------------------------------------------------

def read_csv(spark: SparkSession, path: str, convert_numbers: bool = False,
             sep: str = ",") -> DataFrame:
    reader = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("inferSchema", convert_numbers)
        # Keep hostile headers/values verbatim (generate_test_data.js makes
        # headers like " Name" with leading spaces — they must survive).
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        # RFC 4180 quoting: a quote inside a quoted field is escaped by
        # DOUBLING it (the reference's Go encoding/csv dialect). Spark's
        # default escape is backslash, which silently mis-parses such
        # fields — e.g. "{""a"":1}" JSON-in-CSV payloads.
        .option("escape", '"')
    )
    names = None if convert_numbers else _plain_header(path, sep)
    if names is not None:
        # The all-string schema Spark would infer, without the job that
        # reads the header line to infer it.
        reader = reader.schema(T.StructType([T.StructField(n, T.StringType()) for n in names]))
    _log.info("schema of %s: %s", path, "inferred" if names is None else "taken from its header")
    return reader.csv(path)


_HEADER_PEEK = 64 << 10


def _plain_header(path: str, sep: str) -> list[str] | None:
    """The column names of `path`'s header line when Spark would take them
    verbatim from a plain split on `sep`, else None.  The line must be the
    file's first, end in "\n" within _HEADER_PEEK bytes, be UTF-8 and not
    blank (Spark skips blank lines to find the header), and hold no BOM and
    no control character but `sep` (so no "\r").  Each name is bare or
    wholly quoted, with no quote inside; every name must be non-empty and
    unique case-insensitively (Spark renames empty and duplicate names).
    The path must be one regular file, not a glob."""
    if any(c in path for c in "{}[]*?\\") or not os.path.isfile(path):
        return None
    try:
        with open(path, "rb") as fh:
            head = fh.read(_HEADER_PEEK)
        line = head[:head.index(b"\n")].decode("utf-8")
    except (OSError, ValueError):
        return None
    if all(c <= " " for c in line) or any(
            c == "\ufeff" or c < " " and c != sep for c in line):
        return None
    names = [n[1:-1] if len(n) > 1 and n[0] == n[-1] == '"' else n for n in line.split(sep)]
    if any(not n or '"' in n for n in names) or \
            len({n.casefold() for n in names}) < len(names):
        return None
    return names


def read_tsv(spark: SparkSession, path: str, convert_numbers: bool = False) -> DataFrame:
    return read_csv(spark, path, convert_numbers, sep="\t")


# --------------------------------------------------------------------------
# S3/S4/S5 — JSON family.
# --------------------------------------------------------------------------

NOT_ARRAY_ERROR = "Input is not an array of objects"


_VARIED_SAMPLE = 1000


def _sample_json_records(path: str, array: bool, limit: int = _VARIED_SAMPLE):
    """Driver-side head sample of a JSON file's records (first ~1 MB /
    `limit` records) for mixed-type shape detection.  Sample-based on
    purpose: a field the sample shows with ≥2 scalar types IS varied in
    the full file (sample ⊆ file), while a miss just keeps the previous
    (lexical string) behavior — never a wrong positive."""
    try:
        with open(path, encoding="utf-8", errors="replace") as fh:
            if array:
                head = fh.read(1 << 20).lstrip()
                if not head.startswith("["):
                    return []
                recs, i, dec = [], 1, json.JSONDecoder()
                while len(recs) < limit:
                    while i < len(head) and head[i] in " \t\r\n,":
                        i += 1
                    if i >= len(head) or head[i] == "]":
                        break
                    try:
                        obj, i = dec.raw_decode(head, i)
                    except ValueError:
                        break  # truncated tail of the head sample
                    recs.append(obj)
                return recs
            recs = []
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    recs.append(json.loads(line))
                except ValueError:
                    continue
                if len(recs) >= limit:
                    break
            return recs
    except OSError:
        return []


def _varied_shapes(records) -> dict[str, list[dict]]:
    """The `dsq_varied` shapes of the top-level fields whose sampled JSON
    values mix scalar types (number + string + boolean in one field).
    SQLite — the engine the reference embeds — keeps per-VALUE storage
    classes for such a column (dsq creates untyped columns, so a JSON
    number stays numeric); Spark widens the column to string.  The
    metadata feeds (a) the schema dump's `Varied of …` shape (io_out,
    like the Avro-union path) and (b) the rewriter's cross-type ORDER BY
    key (sqlexpr), restoring SQLite's NULL < numeric < TEXT sort."""
    seen: dict[str, set] = {}
    for rec in records:
        if not isinstance(rec, dict):
            continue
        for k, v in rec.items():
            s = seen.setdefault(k, set())
            if v is None:
                s.add("null")
            elif isinstance(v, bool):
                s.add("boolean")
            elif isinstance(v, (int, float)):
                s.add("number")
            elif isinstance(v, str):
                s.add("string")
            else:
                s.add("complex")
    shapes = {}
    for name, s in seen.items():
        scalars = sorted(s & {"number", "string", "boolean"})
        if len(scalars) >= 2 and "complex" not in s:
            shapes[name] = [{"kind": "scalar", "scalar": t} for t in scalars]
            if "null" in s:
                shapes[name].append({"kind": "unknown"})
    return shapes


def _tag_varied_columns(df: DataFrame, shapes: dict[str, list[dict]]) -> DataFrame:
    """Attach each of `shapes` (_varied_shapes) to its column of `df` as
    `dsq_varied` metadata."""
    for name, varied in shapes.items():
        if name in df.columns:
            df = df.withMetadata(name, {"dsq_varied": varied})
    return df


# A warm session reads the same JSON files again and again, and inferring
# a schema is a job over the whole file: 64-81 ms for the 1k-row users JSON
# of perfbench's `warm` workload on 4 cores, against 14-17 ms for the same
# read given the schema, and its dsq_varied sample parses up to 1 MB more
# in Python.  So each SparkSession keeps, for its last _SCHEMA_MEMO_ENTRIES
# reads, the schema and the varied shapes it found, keyed by the file as it
# is now (its real path, device, inode, size, mtime and ctime), the reader
# mode and the session conf that JSON inference reads.  A file written
# since, or a conf set since, misses, and is inferred again.
_SCHEMA_MEMO_ENTRIES = 32
_INFERENCE_CONFS = ("spark.sql.columnNameOfCorruptRecord", "spark.sql.caseSensitive",
                    "spark.sql.session.timeZone", "spark.sql.timestampType",
                    "spark.sql.legacy.timeParserPolicy")
_schema_memos: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = \
    weakref.WeakKeyDictionary()


def _memo_key(spark: SparkSession, path: str, array: bool) -> tuple | None:
    """The memo key of `path` as it is now, or None for anything but one
    regular file (a directory, a glob, a missing path)."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except (OSError, ValueError):
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (real, st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns,
            array, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))


def _read_json(spark: SparkSession, path: str, array: bool,
               varied: bool) -> DataFrame:
    """`spark.read.json(path)` (multiLine for an array), with the schema
    from the session's memo when it holds one for the file as it is now.
    With `varied`, the top-level columns carry their dsq_varied shapes
    (_varied_shapes of a head sample, also memoized)."""
    reader = spark.read.option("multiLine", True) if array else spark.read
    key = _memo_key(spark, path, array)
    memo = _schema_memos.setdefault(spark, OrderedDict())
    entry = memo.get(key) if key is not None else None
    if entry is not None:
        memo.move_to_end(key)
        df = reader.schema(entry[0]).json(path)
        _log.info("schema of %s: reused", path)
    else:
        df = reader.json(path)
        _log.info("schema of %s: inferred", path)
        # an empty schema (no records) is cheap to infer and is not one a
        # read can be given
        if key is not None and df.schema.fields:
            entry = memo[key] = [df.schema, None]
            while len(memo) > _SCHEMA_MEMO_ENTRIES:
                memo.popitem(last=False)
    if not varied:
        return df
    if entry is None:
        return _tag_varied_columns(df, _varied_shapes(_sample_json_records(path, array)))
    if entry[1] is None:
        entry[1] = _varied_shapes(_sample_json_records(path, array))
    return _tag_varied_columns(df, entry[1])


def read_json_array(spark: SparkSession, path: str, doc_path: str | None = None) -> DataFrame:
    """JSON file whose top level is an array of objects; with `doc_path`,
    navigate to a nested array-of-objects first ({N, "obj.path"} tables —
    reference main.go:76-78, README.md:239-302)."""
    df = _read_json(spark, path, array=True, varied=not doc_path)
    if doc_path:
        cur = df
        for part in doc_path.split("."):
            field = dict((f.name, f.dataType) for f in cur.schema.fields).get(part)
            if field is None:
                raise ValueError(f"path {doc_path!r} not found in document")
            cur = cur.select(F.col("`" + part + "`").alias("__v"))
            cur = cur.select("__v.*") if not _is_array(cur, "__v") else cur.select(
                F.explode("__v").alias("__e")).select("__e.*")
        return cur
    # Top level must be an array of objects (reference main.go:252-259).
    with open(path, "rb") as fh:
        head = fh.read(4096).lstrip()
    if not head.startswith(b"["):
        raise ValueError(NOT_ARRAY_ERROR)
    if df.columns == ["_corrupt_record"]:
        raise ValueError(NOT_ARRAY_ERROR)
    return df


def _is_array(df: DataFrame, col: str) -> bool:
    from pyspark.sql import types as T

    return isinstance(df.schema[col].dataType, T.ArrayType)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    return _read_json(spark, path, array=False, varied=True)


def read_cjson(spark: SparkSession, path: str) -> DataFrame:
    """Concatenated JSON objects (`{..}{..}` with arbitrary whitespace).
    Spark's line-mode JSON handles one-value-per-line; re-chunk the general
    case driver-side with a raw_decode scanner, then spill to JSONL."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    dec = json.JSONDecoder()
    rows, i, n = [], 0, len(text)
    while i < n:
        while i < n and text[i].isspace():
            i += 1
        if i >= n:
            break
        obj, i = dec.raw_decode(text, i)
        rows.append(obj)
    return _tag_varied_columns(_rows_to_df(spark, rows),
                               _varied_shapes(rows[:_VARIED_SAMPLE]))


def _rows_to_df(spark: SparkSession, rows: list) -> DataFrame:
    """Spill python row-dicts to a JSONL temp file and let Spark's JSON
    schema inference type them — identical typing to the native JSON path."""
    if not rows:
        return spark.createDataFrame([], "string")  # empty, schemaless
    tmp = tempfile.NamedTemporaryFile(
        "w", suffix=".jsonl", delete=False, encoding="utf-8")
    with tmp as fh:
        for r in rows:
            fh.write(json.dumps(r, default=str) + "\n")
    return spark.read.json(tmp.name)


# --------------------------------------------------------------------------
# S6/S7 — columnar natives.
# --------------------------------------------------------------------------

def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


# --------------------------------------------------------------------------
# S8 — Avro. The spark-avro datasource jar is not bundled with the pip
# distribution; try it first, else fall back to a minimal pure-Python Avro
# object-container-file decoder (null/deflate codecs, records of
# primitives/unions — the shapes the reference's test corpus uses).
# --------------------------------------------------------------------------

def read_avro(spark: SparkSession, path: str) -> DataFrame:
    try:
        return spark.read.format("avro").load(path)
    except Exception:
        rows, schema = _decode_avro_ocf(path)
        df = _rows_to_df(spark, rows)
        # Union-typed fields surface as the `varied` shape kind in schema
        # dumps (reference README.md:453-490 shows `Varied of ... or
        # Unknown` for Avro unions). The shape rides along as column
        # metadata so io_out.table_shape can see past Spark's widened type.
        if isinstance(schema, dict) and schema.get("type") == "record":
            for f in schema["fields"]:
                if f["name"] in df.columns:
                    shape = _avro_shape(f["type"])
                    if shape.get("kind") == "varied":
                        df = df.withMetadata(f["name"], {"dsq_varied": shape["varied"]})
        return df


def _avro_shape(sch) -> dict:
    """Avro schema → reference Shape dict. A union of null + one type is
    `Varied of <type> or Unknown` (the null branch renders Unknown, like
    the reference's goavro-backed dump)."""
    if isinstance(sch, dict):
        t = sch["type"]
        if t == "record":
            return {"kind": "object",
                    "object": {f["name"]: _avro_shape(f["type"]) for f in sch["fields"]}}
        if t == "array":
            return {"kind": "array", "array": _avro_shape(sch["items"])}
        if t == "map":
            return {"kind": "object", "object": {}}
        if t in ("enum", "fixed"):
            return {"kind": "scalar", "scalar": "string"}
        return _avro_shape(t)
    if isinstance(sch, list):
        shapes = [_avro_shape(b) for b in sch if b != "null"]
        if "null" in sch:
            shapes.append({"kind": "unknown"})
        if len(shapes) == 1:
            return shapes[0]
        return {"kind": "varied", "varied": shapes}
    if sch in ("int", "long", "float", "double"):
        return {"kind": "scalar", "scalar": "number"}
    if sch == "boolean":
        return {"kind": "scalar", "scalar": "boolean"}
    if sch == "null":
        return {"kind": "scalar", "scalar": "null"}
    if sch in ("string", "bytes"):
        return {"kind": "scalar", "scalar": "string"}
    return {"kind": "unknown"}


def _decode_avro_ocf(path: str) -> list[dict]:
    import struct
    import zlib

    with open(path, "rb") as fh:
        data = fh.read()
    buf = io.BytesIO(data)
    if buf.read(4) != b"Obj\x01":
        raise ValueError("not an Avro object container file")

    def zigzag(buf) -> int:
        shift, acc = 0, 0
        while True:
            b = buf.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(buf) -> bytes:
        return buf.read(zigzag(buf))

    def read_map(buf) -> dict:
        out = {}
        while True:
            n = zigzag(buf)
            if n == 0:
                break
            if n < 0:
                zigzag(buf)  # block byte size — skip
                n = -n
            for _ in range(n):
                k = read_bytes(buf).decode()
                out[k] = read_bytes(buf)
        return out

    meta = read_map(buf)
    sync = buf.read(16)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()

    def decode_value(buf, sch):
        if isinstance(sch, list):  # union: index then value
            return decode_value(buf, sch[zigzag(buf)])
        if isinstance(sch, dict):
            typ = sch["type"]
            if typ == "record":
                return {f["name"]: decode_value(buf, f["type"]) for f in sch["fields"]}
            if typ == "array":
                out = []
                while True:
                    n = zigzag(buf)
                    if n == 0:
                        break
                    if n < 0:
                        zigzag(buf)
                        n = -n
                    out.extend(decode_value(buf, sch["items"]) for _ in range(n))
                return out
            if typ == "map":
                out = {}
                while True:
                    n = zigzag(buf)
                    if n == 0:
                        break
                    if n < 0:
                        zigzag(buf)
                        n = -n
                    for _ in range(n):
                        out[read_bytes(buf).decode()] = decode_value(buf, sch["values"])
                return out
            if typ == "enum":
                return sch["symbols"][zigzag(buf)]
            if typ == "fixed":
                return buf.read(sch["size"]).hex()
            return decode_value(buf, typ)
        if sch == "null":
            return None
        if sch == "boolean":
            return buf.read(1) == b"\x01"
        if sch in ("int", "long"):
            return zigzag(buf)
        if sch == "float":
            return struct.unpack("<f", buf.read(4))[0]
        if sch == "double":
            return struct.unpack("<d", buf.read(8))[0]
        if sch == "bytes":
            return read_bytes(buf).hex()
        if sch == "string":
            return read_bytes(buf).decode()
        raise ValueError(f"unsupported Avro type {sch!r}")

    rows = []
    while buf.tell() < len(data):
        n_items = zigzag(buf)
        block = read_bytes(buf)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec == "snappy":
            # Avro frames snappy blocks as raw-snappy + big-endian CRC32 of
            # the UNCOMPRESSED bytes (Avro spec, "snappy" codec).
            plain = _snappy_decompress(block[:-4])
            want_crc = int.from_bytes(block[-4:], "big")
            if zlib.crc32(plain) & 0xFFFFFFFF != want_crc:
                raise ValueError("Avro snappy block CRC mismatch")
            block = plain
        elif codec != "null":
            raise ValueError(f"unsupported Avro codec {codec!r}")
        bb = io.BytesIO(block)
        rows.extend(decode_value(bb, schema) for _ in range(n_items))
        buf.read(16)  # sync marker
        assert sync  # structure check only
    return rows, schema


def _snappy_decompress(data: bytes) -> bytes:
    """Pure-Python raw-snappy decompressor (google/snappy
    format_description.txt): varint uncompressed length, then literal /
    copy elements; copies may overlap so they append byte-ranges from the
    already-produced output."""
    # varint32 uncompressed length
    n = shift = i = 0
    while True:
        b = data[i]
        n |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            break
        shift += 7
    out = bytearray()
    m = len(data)
    while i < m:
        tag = data[i]
        i += 1
        typ = tag & 0x03
        if typ == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                nbytes = ln - 59
                ln = int.from_bytes(data[i:i + nbytes], "little")
                i += nbytes
            ln += 1
            out += data[i:i + ln]
            i += ln
            continue
        if typ == 1:  # copy, 1-byte offset
            ln = ((tag >> 2) & 0x07) + 4
            off = ((tag >> 5) << 8) | data[i]
            i += 1
        elif typ == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[i:i + 2], "little")
            i += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[i:i + 4], "little")
            i += 4
        if off == 0 or off > len(out):
            raise ValueError("corrupt snappy stream: bad copy offset")
        start = len(out) - off
        if off >= ln:
            out += out[start:start + ln]
        else:  # overlapping copy: repeat pattern byte-by-byte
            for k in range(ln):
                out.append(out[start + k])
    if len(out) != n:
        raise ValueError(
            f"corrupt snappy stream: expected {n} bytes, produced {len(out)}")
    return bytes(out)


# --------------------------------------------------------------------------
# S9/S10 — Excel xlsx / ODS, multi-sheet ({N, "Sheet2"} paths). openpyxl/odf
# are not in this container; both formats are zip+XML, so a minimal stdlib
# parser covers the reference's fixtures (first row = header, string cells).
# --------------------------------------------------------------------------

_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_XLSX_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def read_xlsx(spark: SparkSession, path: str, sheet: str | None = None) -> DataFrame:
    # Legacy .xls is an OLE compound file (magic D0CF11E0), not a zip; the
    # reference reads both via excelize. Route it to the stdlib BIFF8
    # parser (dsq_spark.sources.xls_biff) — same grid → DataFrame path as
    # xlsx (SURVEY.md §2.1 S9).
    with open(path, "rb") as f:
        if f.read(4) == b"\xd0\xcf\x11\xe0":
            from dsq_spark.sources import xls_biff

            with open(path, "rb") as fh:
                grid = xls_biff.parse_xls(fh.read(), sheet)
            return _grid_to_df(spark, grid)
    with zipfile.ZipFile(path) as zf:
        wb = ElementTree.fromstring(zf.read("xl/workbook.xml"))
        rels = ElementTree.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rel_map = {r.get("Id"): r.get("Target") for r in rels}
        sheets = {}
        for s in wb.iter(f"{_XLSX_NS}sheet"):
            target = rel_map.get(s.get(f"{_XLSX_REL_NS}id"), "")
            sheets[s.get("name")] = "xl/" + target.lstrip("/") if not target.startswith("xl/") else target
        name = sheet or next(iter(sheets))
        if name not in sheets:
            raise ValueError(f"sheet {name!r} not found; have {sorted(sheets)}")
        shared = []
        try:
            sst = ElementTree.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in sst.iter(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))
        except KeyError:
            pass
        ws = ElementTree.fromstring(zf.read(sheets[name]))
        grid = []
        for row in ws.iter(f"{_XLSX_NS}row"):
            cells = {}
            for c in row.iter(f"{_XLSX_NS}c"):
                ref = re.match(r"([A-Z]+)", c.get("r", "A"))
                ci = 0
                for ch in ref.group(1):
                    ci = ci * 26 + (ord(ch) - 64)
                v = c.find(f"{_XLSX_NS}v")
                is_el = c.find(f"{_XLSX_NS}is")
                if c.get("t") == "s" and v is not None:
                    val = shared[int(v.text)]
                elif c.get("t") == "inlineStr" and is_el is not None:
                    val = "".join(t.text or "" for t in is_el.iter(f"{_XLSX_NS}t"))
                else:
                    val = v.text if v is not None else None
                if val is not None:
                    # style-only cells (no value) are not data — storing
                    # them would keep pure-formatting rows alive (excelize
                    # trims them; reference Sheet2 count test)
                    cells[ci - 1] = val
            grid.append(cells)
    while grid and not grid[-1]:
        grid.pop()  # trailing formatting-only rows
    return _grid_to_df(spark, grid)


def _grid_to_df(spark: SparkSession, grid: list[dict]) -> DataFrame:
    if not grid:
        return spark.createDataFrame([], "string")
    width = max(max(r) + 1 for r in grid if r)
    header = [grid[0].get(i) or f"_col{i}" for i in range(width)]
    rows = [
        {header[i]: r.get(i) for i in range(width)}
        for r in grid[1:]
    ]
    return _rows_to_df(spark, rows)


_ODS_TABLE_NS = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_ODS_TEXT_NS = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"


def read_ods(spark: SparkSession, path: str, sheet: str | None = None) -> DataFrame:
    with zipfile.ZipFile(path) as zf:
        content = ElementTree.fromstring(zf.read("content.xml"))
    tables = {tb.get(f"{_ODS_TABLE_NS}name"): tb
              for tb in content.iter(f"{_ODS_TABLE_NS}table")}
    name = sheet or next(iter(tables))
    if name not in tables:
        raise ValueError(f"sheet {name!r} not found; have {sorted(tables)}")
    grid = []
    for row in tables[name].iter(f"{_ODS_TABLE_NS}table-row"):
        cells, ci = {}, 0
        for cell in row.iter(f"{_ODS_TABLE_NS}table-cell"):
            repeat = int(cell.get(f"{_ODS_TABLE_NS}number-columns-repeated", "1"))
            text = "".join(
                "".join(p.itertext()) for p in cell.iter(f"{_ODS_TEXT_NS}p"))
            for _ in range(min(repeat, 1024)):
                if text:
                    cells[ci] = text
                ci += 1
        if cells:
            grid.append(cells)
    return _grid_to_df(spark, grid)


# --------------------------------------------------------------------------
# S11 — YAML (array of maps).
# --------------------------------------------------------------------------

def read_yaml(spark: SparkSession, path: str) -> DataFrame:
    import yaml

    with open(path, encoding="utf-8") as fh:
        doc = yaml.safe_load(fh)
    if not isinstance(doc, list):
        raise ValueError(NOT_ARRAY_ERROR)
    return _rows_to_df(spark, doc)


# --------------------------------------------------------------------------
# S12 — logfmt: fully distributed. Lines parse JVM-side into a key→value map
# (regexp in codegen, no Python); the column set is discovered from a bounded
# sample (the reference samples 100 rows for shape inference, main.go:104).
# --------------------------------------------------------------------------

_LOGFMT_KEYS = r'(\w+)=(?:"(?:[^"\\]|\\.)*"|[^\s"]*)'
_LOGFMT_QUOTED = r'\w+=("(?:[^"\\]|\\.)*"|[^\s"]*)'


def read_logfmt(spark: SparkSession, path: str, sample_rows: int = 100) -> DataFrame:
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)

    def unquote(v):
        # strip surrounding quotes, unescape \" and \\ (JVM-side codegen)
        inner = v.substr(F.lit(2), F.length(v) - 2)
        return F.when(
            v.startswith('"'),
            F.replace(F.replace(inner, F.lit('\\"'), F.lit('"')),
                      F.lit("\\\\"), F.lit("\\")),
        ).otherwise(v)

    kv = lines.select(
        F.map_from_arrays(
            F.regexp_extract_all("value", F.lit(_LOGFMT_KEYS), 1),
            F.transform(
                F.regexp_extract_all("value", F.lit(_LOGFMT_QUOTED), 1), unquote),
        ).alias("m")
    )
    keys = sorted(
        {k for row in kv.select(F.map_keys("m").alias("ks")).limit(sample_rows).collect()
         for k in row["ks"]}
    )
    return kv.select(*[F.col("m").getItem(k).alias(k) for k in keys])


# --------------------------------------------------------------------------
# S13 — Apache / Nginx access+error logs: spark.read.text + one regexp per
# field (distributed, codegen'd). Field names follow the standard log-format
# directives (reference README.md:609-611 exposes these via the runner's
# regexp-lines parser).
# --------------------------------------------------------------------------

_COMBINED = (
    r'^(\S+) (\S+) (\S+) \[([^\]]*)\] "(\S+) (\S+) ([^"]*)" (\d+) (\S+)'
    r'(?: "([^"]*)" "([^"]*)")?'
)
_COMBINED_FIELDS = [
    "remote_host", "remote_logname", "remote_user", "time", "method",
    "path", "protocol", "status", "size", "referer", "agent",
]

_APACHE_ERROR = r"^\[([^\]]*)\] \[(?:(\w+):)?(\w+)\](?: \[pid (\d+)[^\]]*\])?(?: \[client ([^\]]+)\])? (.*)$"
_APACHE_ERROR_FIELDS = ["time", "module", "level", "pid", "client", "message"]


def _regexp_lines(spark: SparkSession, path: str, pattern: str,
                  fields: list[str]) -> DataFrame:
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    return lines.select(*[
        F.regexp_extract("value", pattern, i + 1).alias(name)
        for i, name in enumerate(fields)
    ])


def read_apache2_access(spark: SparkSession, path: str) -> DataFrame:
    return _regexp_lines(spark, path, _COMBINED, _COMBINED_FIELDS)


def read_nginx_access(spark: SparkSession, path: str) -> DataFrame:
    return _regexp_lines(spark, path, _COMBINED, _COMBINED_FIELDS)


def read_apache2_error(spark: SparkSession, path: str) -> DataFrame:
    return _regexp_lines(spark, path, _APACHE_ERROR, _APACHE_ERROR_FIELDS)


# --------------------------------------------------------------------------
# Dispatch (extension → reader), mirroring main.go:29-46 + README.md:594-612.
# --------------------------------------------------------------------------

EXT_READERS = {
    "csv": read_csv,
    "tsv": read_tsv,
    "tab": read_tsv,
    "json": read_json_array,
    "ndjson": read_jsonl,
    "jsonl": read_jsonl,
    "cjson": read_cjson,
    "parquet": read_parquet,
    "orc": read_orc,
    "avro": read_avro,
    "xlsx": read_xlsx,
    "xls": read_xlsx,
    "ods": read_ods,
    "yaml": read_yaml,
    "yml": read_yaml,
    "logfmt": read_logfmt,
    "apache2access": read_apache2_access,
    "apache2error": read_apache2_error,
    "nginxaccess": read_nginx_access,
}

_SHEET_FORMATS = {"xlsx", "xls", "ods"}
_PATH_FORMATS = {"json"}
_NUMBER_FORMATS = {"csv", "tsv", "tab"}


def read_file(spark: SparkSession, path: str, mimetype: str | None = None,
              convert_numbers: bool = False,
              doc_path: str | None = None) -> DataFrame:
    """Read one input file, dispatching on extension (or explicit `mimetype`,
    the `-s` stdin override). `doc_path` selects a nested object path (JSON)
    or a sheet name (Excel/ODS) — the {N, "path"} table syntax."""
    ext = (mimetype or os.path.splitext(path)[1].lstrip(".")).lower()
    ext = {"text/apache2access": "apache2access",
           "text/apache2error": "apache2error",
           "text/nginxaccess": "nginxaccess"}.get(ext, ext)
    reader = EXT_READERS.get(ext)
    if reader is None:
        raise UnknownFileType(f"unknown file type: '{path}'")
    if ext in _SHEET_FORMATS:
        return reader(spark, path, sheet=doc_path)
    if ext in _PATH_FORMATS:
        return reader(spark, path, doc_path=doc_path)
    if ext in _NUMBER_FORMATS:
        return reader(spark, path, convert_numbers=convert_numbers)
    return reader(spark, path)
