"""Golden corpus for the rewrite layer (no Spark session needed).

tests/fixtures/rewrite_corpus.jsonl.gz holds every distinct (sql, schema)
pair that rewrite_query_tracked received during a full test run
(`DSQ_SPARK_FULL_TESTS=1`, which includes the sqlite3 differential
sweep), minus the inputs that were remembered outputs of an earlier
rewrite.  Each line records what the rewrite returned for it — `out` and
the sorted `dquoted` names — or the `error` it raised ("Type: message"),
computed one input at a time with the remembered-output cache cleared.
A refactor of the rewrite passes must reproduce it byte for byte; a line
that changes on purpose is regenerated and justified in CHANGES.md.
"""

from __future__ import annotations

import gzip
import json
import os

from dsq_spark import rewrite
from dsq_spark.sqlexpr import take_pending_hoists

CORPUS = os.path.join(os.path.dirname(__file__), "fixtures",
                      "rewrite_corpus.jsonl.gz")


def _replay(rec: dict) -> dict:
    rewrite._RECENT_OUTPUTS.clear()
    take_pending_hoists()
    try:
        out, dquoted = rewrite.rewrite_query_tracked(rec["sql"], rec["schema"])
    except Exception as e:  # the corpus pins error type and message too
        return {"error": f"{type(e).__name__}: {e}"}
    return {"out": out, "dquoted": sorted(dquoted)}


def test_rewrite_matches_golden_corpus():
    with gzip.open(CORPUS, "rt", encoding="utf-8") as fh:
        corpus = [json.loads(line) for line in fh]
    assert len(corpus) > 500
    diffs = []
    for rec in corpus:
        want = {k: rec[k] for k in ("out", "dquoted", "error") if k in rec}
        got = _replay(rec)
        if got != want:
            diffs.append((rec["sql"], want, got))
    rewrite._RECENT_OUTPUTS.clear()
    assert not diffs, f"{len(diffs)} of {len(corpus)} differ; first: {diffs[0]}"
