"""WITH RECURSIVE evaluation — iterative driver loop over DataFrames.

The reference's bundled SQLite 3.39 supports recursive CTEs and dsq passes
queries through verbatim (reference main.go:236-265), so `WITH RECURSIVE`
works there. Spark SQL has no recursive CTE, so this module closes the gap
(SURVEY.md §2.7 O4) with the standard semi-naive fixpoint loop:

    working = base;  acc = base
    repeat: new = step(working)           # CTE name bound to *working* set
            UNION:      new = distinct(new) - acc
            acc += new; working = new
    until new is empty

Each iteration's increment is `localCheckpoint`-ed (eager): without this the
lineage/plan doubles every iteration and the job graph explodes at depth —
with it, every iteration reads a materialized increment, which is also what
keeps this viable on a cluster at scale (the increment, not the whole
accumulation, is the per-iteration working set; classic Datalog semi-naive).

Only the single-recursive-CTE form is parsed:

    WITH RECURSIVE name [(col, ...)] AS ( base UNION [ALL] step ) main
    [ , more_ctes ... main ]  -- trailing non-recursive CTEs are re-wrapped

which covers SQLite's documented usage (series generation, closures,
hierarchy walks). Anything else raises so the caller falls back to plain
`spark.sql` and Spark's own error surfaces.
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from dsq_spark.sqllex import close_paren, opaque_spans

_REC_SEQ = itertools.count()


def _rename_refs(sql: str, name: str, internal: str) -> str:
    """Rewrite word-boundary references to the CTE name outside string
    literals, comments and quoted aliases (a backticked `name` itself is a
    reference too), so the iteration binding can use a unique internal
    view name and never clobber a user view/table of the same name (e.g.
    a `t_0` input view or `orders`)."""
    pat = re.compile(r"\b" + re.escape(name) + r"\b", re.IGNORECASE)
    out, pos = [], 0
    for a, b in opaque_spans(sql):
        out.append(pat.sub(internal, sql[pos:a]))
        quoted = sql[a:b]
        out.append(f"`{internal}`" if quoted.lower() == f"`{name.lower()}`"
                   else quoted)
        pos = b
    out.append(pat.sub(internal, sql[pos:]))
    return "".join(out)


_HEAD = re.compile(
    r"^\s*WITH\s+RECURSIVE\s+([A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(?:\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*\)\s*)?"
    r"AS\s*\(",
    re.IGNORECASE | re.DOTALL,
)


@dataclass(frozen=True)
class RecursiveCTE:
    name: str
    cols: list[str] | None
    base: str
    step: str
    union_all: bool
    main: str


_UNION = re.compile(r"\bUNION(\s+ALL)?\b", re.IGNORECASE)


def _split_union(body: str) -> tuple[str, str, bool]:
    """Split on the LAST top-level UNION [ALL] (base may itself be a union)."""
    from dsq_spark.rewrite import _scan_kw

    spans, last, pos = opaque_spans(body), None, 0
    while (i := _scan_kw(body, spans, pos, "UNION")) is not None:
        last = _UNION.match(body, i)
        pos = last.end()
    if last is None:
        raise ValueError("WITH RECURSIVE body has no top-level UNION")
    return body[: last.start()], body[last.end():], bool(last.group(1))


def parse_recursive(sql: str) -> RecursiveCTE | None:
    """Parse the single-recursive-CTE form; None if sql is not recursive."""
    m = _HEAD.match(sql)
    if m is None:
        return None
    close = close_paren(sql, m.end() - 1)
    if close is None:
        raise ValueError("unbalanced parentheses in WITH RECURSIVE body")
    body_end = close + 1
    base, step, union_all = _split_union(sql[m.end() : body_end - 1])
    main = sql[body_end:].strip()
    if main.startswith(","):
        # trailing non-recursive CTEs: re-wrap them as an ordinary WITH
        main = "WITH " + main[1:]
    cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
    return RecursiveCTE(
        name=m.group(1), cols=cols, base=base.strip(), step=step.strip(),
        union_all=union_all, main=main,
    )


def run_recursive(
    spark: SparkSession, sql: str, max_iterations: int = 10_000
) -> DataFrame:
    """Evaluate a WITH RECURSIVE statement and return the main query's frame."""
    cte = parse_recursive(sql)
    if cte is None:
        raise ValueError("not a WITH RECURSIVE statement")
    # The iteration binding lives under a unique internal view name;
    # references in step/main are rewritten to it, so a pre-existing temp
    # view/table named like the CTE survives the evaluation untouched.
    internal = f"__dsq_rec_{cte.name}_{next(_REC_SEQ)}"
    step_sql = _rename_refs(cte.step, cte.name, internal)
    main_sql = _rename_refs(cte.main, cte.name, internal)
    base = spark.sql(cte.base)
    if cte.cols:
        base = base.toDF(*cte.cols)
    if not cte.union_all:
        base = base.distinct()
    working = base.localCheckpoint(eager=True)
    parts = [working]
    try:
        for _ in range(max_iterations):
            if working.isEmpty():
                break
            working.createOrReplaceTempView(internal)
            new = spark.sql(step_sql)
            if len(new.columns) != len(working.columns):
                raise ValueError(
                    f"recursive step of {cte.name} returns {len(new.columns)} "
                    f"columns, base returns {len(working.columns)}"
                )
            new = new.toDF(*working.columns)
            if not cte.union_all:
                acc = _union(parts)
                new = new.distinct().subtract(acc)
            working = new.localCheckpoint(eager=True)
            parts.append(working)
        else:
            raise RuntimeError(
                f"WITH RECURSIVE {cte.name} did not converge in {max_iterations} iterations"
            )
        _union(parts).createOrReplaceTempView(internal)
        return spark.sql(main_sql)  # analyzed eagerly: safe to drop the view after
    finally:
        try:
            spark.catalog.dropTempView(internal)
        except Exception:
            pass


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
