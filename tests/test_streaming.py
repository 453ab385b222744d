"""Streaming operator tests: batch/stream parity + end-to-end file-source run.

Strategy: every operator accepts batch OR streaming input with identical
semantics, so (1) assert batch-mode results against a plain groupBy oracle,
(2) run the same operator end-to-end through a real file-source stream into
a memory sink and assert the results match the batch run."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dsq_spark.queries.base import t
from dsq_spark.streaming import (
    read_events_stream,
    session_windows,
    sliding_window_counts,
    tumbling_window_agg,
)
from dsq_spark.streaming.ops import run_stream_to_memory


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return t(spark, sf_dir, "events")


def test_tumbling_batch_semantics(spark, events):
    out = tumbling_window_agg(events, "1 hour").collect()
    # oracle: hour-truncated groupBy
    oracle = (
        events.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got = {(r["window_start"], r["event_type"]): r["n_events"] for r in out}
    want = {(r["h"], r["event_type"]): r["n"] for r in oracle}
    assert got == want


def test_sliding_covers_events(spark, events):
    total = events.count()
    rows = sliding_window_counts(events, "1 hour", "30 minutes").collect()
    # each event appears in exactly 2 sliding windows (width/slide = 2)
    assert sum(r["n_events"] for r in rows) == 2 * total


def test_session_windows_batch_matches_sessionize(spark, events, sf_dir):
    """Session-window op must produce the same session COUNT per user as
    the batch gaps-and-islands query (same 30 min gap)."""
    from dsq_spark.queries.core import sessionize_events

    want = {r["user_id"]: r["n_sessions"]
            for r in sessionize_events(spark, sf_dir).collect()}
    got_rows = session_windows(events, "30 minutes").collect()
    got: dict = {}
    for r in got_rows:
        got[r["user_id"]] = got.get(r["user_id"], 0) + 1
    assert got == want


def test_stream_end_to_end(spark, events, tmp_path):
    """Real streaming run: spool events to JSONL files, stream them with a
    file source, aggregate with watermark, compare to the batch run."""
    stream_dir = str(tmp_path / "stream_in")
    os.makedirs(stream_dir)
    rows = events.limit(500).collect()
    # two files → two micro-batches under maxFilesPerTrigger=1
    for i, chunk in enumerate((rows[:250], rows[250:])):
        with open(f"{stream_dir}/part{i}.jsonl", "w") as fh:
            for r in chunk:
                d = r.asDict()
                d["ts"] = d["ts"].isoformat()
                fh.write(json.dumps(d, default=str) + "\n")

    batch = spark.createDataFrame(rows)
    want = sorted(
        (r["window_start"], r["event_type"], r["n_events"])
        for r in tumbling_window_agg(batch, "1 hour").collect()
    )

    sdf = tumbling_window_agg(
        read_events_stream(spark, stream_dir, max_files_per_trigger=1), "1 hour")
    q = run_stream_to_memory(sdf, "tumble_test", timeout_s=120)
    got = sorted(
        (r["window_start"], r["event_type"], r["n_events"])
        for r in spark.sql("SELECT * FROM tumble_test").collect()
    )
    q.stop()
    assert got == want


def test_stateful_running_totals(spark, events, tmp_path):
    """applyInPandasWithState: state persists across micro-batches — final
    per-user totals must equal the batch groupBy."""
    from pyspark.sql import functions as F

    from dsq_spark.streaming.stateful import running_user_totals

    stream_dir = str(tmp_path / "state_in")
    os.makedirs(stream_dir)
    rows = events.filter(events.user_id < 20).limit(300).collect()
    for i, chunk in enumerate((rows[:150], rows[150:])):
        with open(f"{stream_dir}/p{i}.jsonl", "w") as fh:
            for r in chunk:
                d = r.asDict()
                d["ts"] = d["ts"].isoformat()
                fh.write(json.dumps(d, default=str) + "\n")

    batch = spark.createDataFrame(rows)
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    }

    from dsq_spark.streaming import read_events_stream

    sdf = running_user_totals(
        read_events_stream(spark, stream_dir, max_files_per_trigger=1))
    q = (
        sdf.writeStream.format("memory").queryName("state_test")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # update mode emits one row per (user, batch); keep the LAST emission,
    # which in this harness is the row with the highest n_events per user
    emitted = spark.sql(
        "SELECT user_id, max_by(n_events, n_events) AS n, max_by(total_value, n_events) AS tv "
        "FROM state_test GROUP BY user_id").collect()
    q.stop()
    got = {r["user_id"]: (r["n"], r["tv"]) for r in emitted}
    assert got == want
