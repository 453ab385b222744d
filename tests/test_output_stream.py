"""The sinks' row stream (io_out._rows) against toLocalIterator, whose
server and protocol it reads: the same bytes out, the same error, and a
session that stays usable when the consumer stops early."""

from __future__ import annotations

import io
import socket
from contextlib import redirect_stdout

import pytest

from dsq_spark import cli, io_out


def _rendered(sink, df) -> str:
    buf = io.StringIO()
    sink(df, buf)
    return buf.getvalue()


def test_sinks_print_what_tolocaliterator_gives(spark, monkeypatch):
    df = spark.range(0, 2000, 1, 8).selectExpr(
        "id", "id / 7 AS f", "CAST(id AS STRING) AS s", "array(id, 1) AS a")
    got = {sink: _rendered(sink, df) for sink in (io_out.dump_json, io_out.pretty_table)}
    monkeypatch.setattr(io_out, "_rows",
                        lambda df: df.toLocalIterator(prefetchPartitions=True))
    for sink, out in got.items():
        assert out == _rendered(sink, df)
    monkeypatch.undo()
    monkeypatch.delattr(socket, "TCP_QUICKACK")  # the fallback: toLocalIterator
    for sink, out in got.items():
        assert out == _rendered(sink, df)


def test_a_failing_partition_raises_what_tolocaliterator_raises(spark):
    bad = spark.range(0, 10, 1, 4).selectExpr("assert_true(id < 5) AS x")
    with pytest.raises(Exception) as want:
        list(bad.toLocalIterator(prefetchPartitions=True))
    with pytest.raises(want.type):
        list(io_out._rows(bad))


def test_a_sink_that_fails_midway_leaves_the_session_usable(spark, tmp_path):
    """The output file fails after the first row: the call raises, and the
    next call in the session prints its rows."""
    class Full(io.StringIO):
        def write(self, s):
            if self.tell() > 2:
                raise OSError(28, "No space left on device")
            return super().write(s)

    ids = tmp_path / "ids.csv"
    ids.write_text("id\n" + "".join(f"{i}\n" for i in range(1000)))
    session = spark.newSession()
    with pytest.raises(OSError), redirect_stdout(Full()):
        cli.run([str(ids), "SELECT id FROM {} ORDER BY CAST(id AS INT)"], session)
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.run([str(ids), "SELECT COUNT(*) AS n FROM {}"], session) == 0
    assert buf.getvalue() == '[{"n": 1000}]\n'
