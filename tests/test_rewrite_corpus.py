"""Golden corpus for the rewrite layer (no Spark session needed).

tests/fixtures/rewrite_corpus.jsonl.gz holds every distinct (sql, schema)
pair that rewrite_query_tracked received during a full test run
(`DSQ_SPARK_FULL_TESTS=1`, which includes the sqlite3 differential
sweep), followed by the SQL that scripts/probe_constants.py (400
expressions, seed 0xC0FFEE) and scripts/probe_columns.py (300, seed
0xBEEF) send, and the statements perfbench's `warm` and `cli_cold`
workloads send for seeds 0-2 (the 1/4/48-wide dialect statements,
group_concat, WITH RECURSIVE, the double-quote fallback, the CLI calls,
the known-defect probes and the taxi group-by), then the statements of
test_cli.py's quoted-name, COLLATE-naming, literal-GLOB and `->>` operand
tests, each with the column kinds the CLI derives for its input file, then
the select items around comments of test_rewrite.py and the quoted
collation names and `||`-chained arrow operands of test_cli.py, and last
the calls split by a comment of test_rewrite.py (FILTER, OVER, aliases,
ORDER BY keys) and test_demand_registration.py (library calls).  Each
line records what the rewrite returned for it — `out` and the sorted
`dquoted` names — or the `error` it raised ("Type: message").  The rewrite keeps no state between
calls, so the corpus replays in file order in one process, and replays
the same from several threads at once.  A refactor of the rewrite passes
must reproduce it byte for byte; a line that changes on purpose is
regenerated and justified in CHANGES.md.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import sys
from concurrent.futures import ThreadPoolExecutor

from dsq_spark import rewrite
from dsq_spark.sqllex import tokenize

CORPUS = os.path.join(os.path.dirname(__file__), "fixtures",
                      "rewrite_corpus.jsonl.gz")


def _load() -> list[dict]:
    with gzip.open(CORPUS, "rt", encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def _replay(rec: dict) -> dict:
    try:
        out, dquoted = rewrite.rewrite_query_tracked(rec["sql"], rec["schema"])
    except Exception as e:  # the corpus pins error type and message too
        return {"error": f"{type(e).__name__}: {e}"}
    return {"out": out, "dquoted": sorted(dquoted)}


def _recorded(rec: dict) -> dict:
    return {k: rec[k] for k in ("out", "dquoted", "error") if k in rec}


def test_rewrite_matches_golden_corpus():
    corpus = _load()
    assert len(corpus) > 500
    diffs = [(rec["sql"], _recorded(rec), got)
             for rec, got in zip(corpus, map(_replay, corpus))
             if got != _recorded(rec)]
    assert not diffs, f"{len(diffs)} of {len(corpus)} differ; first: {diffs[0]}"


def test_tokens_and_gaps_rebuild_every_input():
    """sqllex.tokenize loses nothing: between two tokens lie only
    whitespace and comments, and the tokens with the text between them
    give back every corpus input byte for byte."""
    gap = re.compile(r"(?:\s+|--[^\n]*\n?|/\*(?s:.*?)(?:\*/|\Z))*")
    for rec in _load():
        sql = rec["sql"]
        toks = tokenize(sql)
        ends = [0] + [t.end for t in toks]
        gaps = [sql[a:t.start] for a, t in zip(ends, toks)] + [sql[ends[-1]:]]
        assert all(t.text == sql[t.start:t.end] for t in toks), sql
        assert all(gap.fullmatch(g) for g in gaps), sql
        assert "".join(g + t.text for g, t in zip(gaps, toks)) + gaps[-1] \
            == sql


def test_threaded_replay_matches_sequential():
    corpus = _load()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # switch threads often, mid-rewrite
    try:
        with ThreadPoolExecutor(4) as pool:
            got = list(pool.map(_replay, corpus, timeout=600))
    finally:
        sys.setswitchinterval(interval)
    diffs = [rec["sql"] for rec, g in zip(corpus, got) if g != _recorded(rec)]
    assert not diffs, f"{len(diffs)} of {len(corpus)} differ; first: {diffs[0]}"
