"""Query-dialect rewriting: dsq/SQLite SQL → Spark SQL.

The reference's only "planner" is a string rewrite of `{N}` table macros
(reference main.go:54-88); everything else is passed to SQLite verbatim.
Spark SQL is a near-superset of the SQLite dialect; rewrite_query_tracked
closes the gap in this order:

  1. statement-level passes over the SQLite text: `{}` / `{N}` /
     `{N, "obj.path"}` / `{"obj.path"}` → temp-view names (main.go:56-88,
     README.md:185-302), json_each/json_tree → LATERAL VIEW, then ONE
     pass over the sqllex tokens (_select_lists) that parses each select
     list once and from that parse gives unaliased items SQLite's
     result-column names and wraps SQLite's bare columns in aggregate
     queries;
  2. ONE pass over the sqllex tokens (_rewrite_tokens) for every
     token-level form: string-literal backslashes, `"…"` identifiers →
     backticks, non-ASCII names, REGEXP → RLIKE, COLLATE names, LIKE →
     ILIKE, hex and real literals, and `x->key` / `x->>key` →
     get_json_object;
  3. ONE pass over the sqllex tokens (_rewrite_calls) for every call
     site: the FILTER fold, the function aliases of
     dsq_spark.functions.AGG_ALIASES (`percentile_75(x)`, `group_concat`,
     the datetime family, …) and the OVER clause they take, innermost
     call first;
  4. dsq_spark.sqlexpr.rewrite_semantics: SQLite's arithmetic, affinity,
     CAST, truthiness and GLOB (Spark has no GLOB operator; both operands
     take SQLite's TEXT rendering);
  5. tree-size and analyzer guards: repeated per-row chains projected
     once, SQL functions inlined in aggregate statements by one pass over
     the sqllex tokens (_inline_agg_safe), emission caps.

All rewrites take SQLite's lexical rules from dsq_spark.sqllex: string
literals are never touched, and a quote, comma or parenthesis inside a
literal, a quoted identifier or a comment is never SQL structure.
sqllex.call_name decides what a function call is for steps 3 and 5 and
for functions.calls_library, so a comment between a call's tokens is
whitespace there, as in SQLite (json_each and the hoist's search for
window calls still scan text).  This is a string→string transform —
Catalyst does the actual parsing/optimization downstream.

Contract: rewrite_query is applied ONCE per statement (the CLI, the REPL
and the query registry each rewrite a statement once), and its output
depends only on ``(sql, schema, strict_json)`` — no state is kept from
one call to the next and no environment is read, so concurrent calls are
safe.  Its input is SQLite-dialect text and its output is Spark SQL:
applied to its own output it reads that as SQLite text like any other (a
literal's backslashes are doubled again), so the rewrite is not a
fixpoint and callers must not apply it twice.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterator
from dataclasses import dataclass
from typing import NamedTuple

from dsq_spark.sqllex import (Tok, call_name, calls, close_paren, inside,
                              match_paren, opaque_spans, scan_words,
                              split_items, split_top, tokenize)

# {N}, {}, {N, "path"}, {"path"}, {N, 'path'} — reference regex main.go:54.
TABLE_MACRO = re.compile(
    r"\{(?:\s*(\d+)\s*)?(?:,?\s*(?:\"((?:[^\"\\]|\\.)*)\"|'((?:[^'\\]|\\.)*)'))?\s*\}"
)


@dataclass(frozen=True)
class TableRef:
    index: int
    doc_path: str | None

    @property
    def view_name(self) -> str:
        if self.doc_path is None:
            return f"t_{self.index}"
        safe = re.sub(r"[^A-Za-z0-9_]", "_", self.doc_path)
        return f"t_{self.index}__{safe}"


def _table_macros(sql: str) -> Iterator[tuple[re.Match, TableRef]]:
    """Each `{...}` macro of ``sql`` with the table it names, in order.
    Matching runs whole-statement: a macro's path operand may itself be
    single-quoted (`{0, 'data.data2'}` — reference scripts/test.py:163);
    only the macro's starting `{` must sit outside a literal, a quoted
    name or a comment."""
    spans = opaque_spans(sql)
    for m in TABLE_MACRO.finditer(sql):
        if not inside(spans, m.start()):
            path = m.group(2) if m.group(2) is not None else m.group(3)
            yield m, TableRef(int(m.group(1) or 0), path)


def extract_table_refs(sql: str) -> list[TableRef]:
    """The tables the `{...}` macros of ``sql`` name, dedup'd, in order."""
    return list(dict.fromkeys(ref for _, ref in _table_macros(sql)))


def _sub_table_macros(sql: str) -> str:
    """Each `{...}` macro → its table's view name."""
    out, pos = [], 0
    for m, ref in _table_macros(sql):
        out += [sql[pos:m.start()], ref.view_name]
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


# SQLite collation names → Spark 4 collations.  NOCASE folds ASCII only in
# SQLite vs full Unicode in UTF8_LCASE (documented delta); RTRIM ignores
# trailing blanks in comparisons — same in *_RTRIM.
_COLLATIONS = {"nocase": "UTF8_LCASE", "rtrim": "UTF8_BINARY_RTRIM",
               "binary": "UTF8_BINARY"}


def _glued(sql: str, t: Tok) -> bool:
    """True when number token ``t`` touches a word, a number, a `.`, a `$`
    or a quote (`1.5e`, `x1.5`, `0x1Fg`): it is no literal of its own and
    is left as written."""
    before = sql[t.start - 1:t.start]
    after = sql[t.end:t.end + 1]
    return bool(before and (before.isalnum() or before in "_.`$\"")
                or after and (after.isalnum() or after in "_."))


def _hex_value(text: str) -> str:
    """A SQLite hex integer literal (``0x10``, sqlite ≥3.8.6) is a 64-bit
    TWO'S-COMPLEMENT integer: 0xFFFFFFFFFFFFFFFF is -1, 0x8000000000000000
    is int64 min, and more than 16 significant hex digits is the 'hex
    literal too big' error (probed vs sqlite3 3.40.1).  Spark has no hex
    literal, so it becomes its exact decimal int64 spelling, negative
    values parenthesized so a preceding unary minus can never fuse into a
    `--` comment."""
    from dsq_spark.sqlexpr import _int_lit

    v = int(text, 16)
    if v > 0xFFFFFFFFFFFFFFFF:
        raise ValueError(f"hex literal too big: {text}")
    if v >= 1 << 63:
        v -= 1 << 64
    out = _int_lit(v)
    return f"({out})" if v < 0 and not out.startswith("(") else out


def _collation(t: Tok) -> str | None:
    """Spark's collation for the name token after COLLATE: a word, or a
    '…', "…" or `…` quoted name, as SQLite takes all four."""
    if t.kind == "word":
        return _COLLATIONS.get(t.low)
    if t.kind in ("str", "dq", "bt") and len(t.text) > 1 and \
            t.text[-1] == t.text[0]:
        return _COLLATIONS.get(t.text[1:-1].lower())
    return None


def _arrow_operand(out: list[str],
                   units: list[tuple[int, str, int | None]]) -> int | None:
    """Index in ``units`` where the left operand of a `->`/`->>` starts.
    SQLite gives the arrows the precedence of `||`, left-associative, and
    a unary `-`, `+` or `~` binds tighter than all three, so the operand
    is the longest `||`-joined chain of operands before the arrow (`'p' ||
    j->>'x'` is `('p' || j)->>'x'`).  An operand is a literal, a dotted
    name (`t."j"`), a call (`json(j)`), a parenthesized group or an arrow
    already rewritten (`j->'a'->'b'`), with its unary prefix.  None when
    there is none."""
    from dsq_spark.sqlexpr import _CALLABLE_RESERVED, _RESERVED

    keywords = (_RESERVED | {"not", "case"}) - {"end"}

    def ends_operand(k: int) -> bool:
        role = units[k][1] if k >= 0 else None
        if role == "name":
            return out[units[k][0]].lower() not in keywords
        return role in ("lit", "expr", ")")

    def start_of(k: int) -> int | None:
        """First unit of the operand whose last unit is units[k]."""
        role = units[k][1] if k >= 0 else None
        if role == ")":
            k = units[k][2]
            if k is not None and k > 0 and units[k - 1][1] == "name":
                fn = out[units[k - 1][0]].lower()
                if fn in _CALLABLE_RESERVED or fn not in _RESERVED | {"not"}:
                    k -= 1
        elif role == "name":
            while k >= 2 and units[k - 1][1] == "." and \
                    units[k - 2][1] == "name":
                k -= 2
        elif role not in ("lit", "expr"):
            return None
        while k and units[k - 1][1] == "sign" and not ends_operand(k - 2):
            k -= 1
        return k

    k = start_of(len(units) - 1)
    while k is not None and k >= 2 and units[k - 1][1] == "||" and \
            (j := start_of(k - 2)) is not None:
        k = j
    return k


def _rewrite_tokens(sql: str) -> tuple[str, frozenset[str]]:
    """SQLite's token-level forms → Spark SQL, in one pass over
    sqllex.tokenize(sql).  The text between two tokens (whitespace and
    comments) is copied as it stands, so a literal, a quoted identifier
    or a comment is never edited by a rule meant for another token.

      * a string literal gets its backslashes doubled: SQLite literals are
        escape-free ('' is the ONLY escape), while Spark's parser reads
        C-style escapes, so regex/glob/LIKE-escape patterns written in the
        SQLite dialect survive;
      * `"name"` → `name`, and the name is returned with the text: the
        CLI retries a double-quoted token that does NOT resolve as a
        column as a string literal (SQLite's documented misfeature, which
        dsq queries in the wild rely on — e.g. split_part(x, ".", -1));
      * a word holding a character at or above U+0080 (`naïve`) is
        backticked: SQLite counts it as an identifier character, Spark
        takes only ASCII letters, digits and `_` in a bare name;
      * the word REGEXP → RLIKE (README.md:405-415 — documented syntax
        delta: Go regexp vs Java regexp), COLLATE NOCASE/RTRIM/BINARY →
        Spark's collations, and the word LIKE → ILIKE: SQLite's LIKE is
        ASCII-case-insensitive by default (PRAGMA case_sensitive_like is
        OFF and dsq never flips it), Spark's is not.  A LIKE followed by
        '(' is left alone: that is the function form like(pat, x) or the
        parenthesized-pattern operator, both expanded by _like_fn_alias.
        Delta: ILIKE folds full Unicode where SQLite folds ASCII only
        (PARITY.md);
      * a hex integer literal → its int64 value (_hex_value); Spark has
        none (a bare 0x10 dies with UNRESOLVED_COLUMN);
      * a real literal (a '.' or an exponent) gets a D suffix: SQLite has
        no DECIMAL type and every such literal is an IEEE-754 REAL, while
        Spark parses `3.0` as DECIMAL(2,1) and computes at a decimal scale
        (length(c)/(a/3.0) = -2.2500005625… vs SQLite's -2.25 — found by
        tests/test_sqlite_differential.py).  Integer literals stay;
      * `x->key` / `x->>key` → get_json_object(x, '$.key'), a numeric key
        → '$[i]', and a key that starts with `$` is the JSON path itself
        (README.md:389-403).  SQLite `->` returns JSON text and `->>` SQL
        text; on dsq's flattened data both surface as TEXT, which is what
        get_json_object returns (reference scripts/test.py:392-398:
        `c->1` = '2').  The left operand is chosen by _arrow_operand."""
    toks = tokenize(sql)
    out: list[str] = []
    dquoted: set[str] = set()
    # (index in out, role, index of the matching "(" for a ")") per
    # token written: what _arrow_operand looks back over
    units: list[tuple[int, str, int | None]] = []
    opens: list[int] = []
    pos, i, n = 0, 0, len(toks)
    while i < n:
        t = toks[i]
        out.append(sql[pos:t.start])
        pos = t.end
        nxt = toks[i + 1] if i + 1 < n else None
        text, role, partner = t.text, "other", None
        if t.kind == "str":
            text, role = text.replace("\\", "\\\\"), "lit"
        elif t.kind == "dq":
            if len(text) > 1 and text[-1] == '"':
                name = text[1:-1].replace('""', '"')
                dquoted.add(name)
                text = "`" + name.replace("`", "``") + "`"
            role = "name"
        elif t.kind == "bt":
            role = "name"
        elif t.kind == "word":
            role = "name"
            if not text.isascii():
                text = f"`{text}`"
            elif t.low == "regexp":
                text = "RLIKE"
            elif t.low == "like" and (nxt is None or nxt.text != "("):
                text = "ILIKE"
            elif t.low == "collate" and nxt is not None and \
                    (coll := _collation(nxt)) is not None:
                text, role = f"COLLATE {coll}", "other"
                pos, i = nxt.end, i + 1
        elif t.kind == "hex":
            role = "lit"
            if not _glued(sql, t):
                text = _hex_value(text)
        elif t.kind == "num":
            role = "lit"
            if (text[-1] in "0123456789." and any(c in text for c in ".eE")
                    and not _glued(sql, t)):
                text += "D"
        elif text in ("->", "->>") and nxt is not None:
            path = None
            if nxt.kind == "str" and len(nxt.text) > 1 and nxt.text[-1] == "'":
                key = nxt.text[1:-1].replace("\\", "\\\\")
                path = key if key.startswith("$") else f"$.{key}"
            elif nxt.kind == "num" and nxt.text.isdigit():
                path = f"$[{nxt.text}]"
            lo = None if path is None else _arrow_operand(out, units)
            if lo is not None:
                left = "".join(out[units[lo][0]:units[-1][0] + 1])
                if units[lo][1] == "sign":
                    # a negated operand is a number; the arrow reads its
                    # text, as SQLite renders it
                    left = f"CAST({left} AS TEXT)"
                del out[units[lo][0]:], units[lo:]
                units.append((len(out), "expr", None))
                out.append(f"get_json_object({left}, '{path}')")
                pos, i = nxt.end, i + 2
                continue
        elif text == "(":
            role = "("
            opens.append(len(units))
        elif text == ")":
            role, partner = ")", opens.pop() if opens else None
        elif text in (".", "||"):
            role = text
        elif text in ("-", "+", "~"):
            role = "sign"
        units.append((len(out), role, partner))
        out.append(text)
        i += 1
    out.append(sql[pos:])
    return "".join(out), frozenset(dquoted)


# Words that end an expression rather than naming it (so a trailing bare
# word is NOT an implicit alias), and words whose presence just before the
# trailing word mean the expression is still open.
_NOT_ALIAS_TAIL = {
    "END", "NULL", "TRUE", "FALSE", "NOT", "AND", "OR", "IN", "IS", "LIKE",
    "GLOB", "REGEXP", "RLIKE", "BETWEEN", "ESCAPE", "COLLATE", "ASC", "DESC",
    "CASE", "WHEN", "THEN", "ELSE", "OVER", "ROW", "ROWS", "CURRENT",
    "FOLLOWING", "PRECEDING", "UNBOUNDED", "INTERVAL", "DISTINCT", "ALL",
    "AS", "BY", "DAY", "MONTH", "YEAR", "HOUR", "MINUTE", "SECOND",
}
_OPEN_EXPR_WORDS = {
    "CASE", "WHEN", "THEN", "ELSE", "NOT", "AND", "OR", "IN", "IS", "LIKE",
    "GLOB", "REGEXP", "RLIKE", "BETWEEN", "ESCAPE", "COLLATE", "AS",
    "DISTINCT", "ALL", "OVER", "PARTITION", "BY", "ORDER", "INTERVAL",
}

# SQLite aggregate names (core + the engine's registered stats aggs, and
# percentile_N) for the bare-column rule; min/max count only in their
# 1-argument form.  any_value/min_by/max_by are the rule's own emissions
# and aggregates: an item already wrapped in one is never a "bare" column.
_AGG_NAMES = frozenset((
    "avg", "count", "group_concat", "string_agg", "min", "max", "sum",
    "total", "median", "mode", "stdev", "stddev", "stddev_samp",
    "stddev_pop", "variance", "var_samp", "var_pop", "percentile",
    "percentile_approx", "listagg", "collect_list", "collect_set",
    "bool_and", "bool_or", "json_group_array", "json_group_object",
    "approx_count_distinct", "any_value", "min_by", "max_by", "first",
    "last"))
_PERCENTILE_N = re.compile(r"percentile_\d+")


def _is_agg(name: str | None) -> bool:
    """Whether a call of ``name`` (sqllex.call_name) is an aggregate."""
    return name is not None and (
        name in _AGG_NAMES or _PERCENTILE_N.fullmatch(name) is not None)

# Words that are never a column reference to wrap, even where the schema
# has a column of that name.
_BARE_KEYWORDS = frozenset((
    "case", "when", "then", "else", "end", "and", "or", "not", "in", "is",
    "null", "like", "glob", "rlike", "regexp", "between", "escape", "cast",
    "as", "distinct", "all", "collate", "asc", "desc", "true", "false",
    "exists", "from", "select", "where", "by", "interval", "filter",
    "nulls", "first", "last", "limit", "offset", "group", "order",
    "having", "window", "union", "intersect", "except", "nocase",
    "binary", "rtrim",
))

_NAMES = ("word", "dq", "bt")
_SELECT_END = ("from", "where", "group", "having", "window", "order",
               "limit")


def _is_name(t: Tok) -> bool:
    """A bare name or a closed, non-empty quoted one without escapes."""
    return t.kind == "word" or (
        t.kind in ("dq", "bt") and len(t.text) > 2
        and t.text[-1] == t.text[0] and t.text[0] not in t.text[1:-1])


def _unwrap(toks: list[Tok], a: int, b: int) -> tuple[int, int]:
    """The token range [a, b) without the parentheses that wrap all of
    it: `((a + b))` → `a + b`, `(a) + (b)` as it is."""
    while b - a > 2 and toks[a].text == "(" and \
            match_paren(toks, a, b) == b - 1:
        a, b = a + 1, b - 1
    return a, b


def _column_label(toks: list[Tok], a: int, b: int) -> str | None:
    """SQLite's result name for an item that is a bare column reference
    (`a`, `t.a`, `t."a b"`, `((a))`): its last segment, unquoted.  None
    for any other expression."""
    a, b = _unwrap(toks, a, b)
    if (b - a) % 2 == 0 or not all(
            _is_name(toks[ix]) and (ix == a or toks[ix - 1].text == ".")
            for ix in range(a, b, 2)):
        return None
    last = toks[b - 1]
    return last.text if last.kind == "word" else last.text[1:-1]


class _Item(NamedTuple):
    """One select item: its text is sql[c0:c1] (commas excluded) and its
    expression toks[a:e], the alias left out."""
    c0: int
    c1: int
    a: int
    e: int
    alias: Tok | None
    label: str | None  # a bare column's result name (_column_label)
    name: str  # SQLite's name for it unaliased: first token to text end
    star: bool  # `*` or `t.*`


def _parse_item(sql: str, toks: list[Tok], a: int, b: int) -> _Item:
    """Parse the select item toks[a:b].  The one implicit-alias rule: a
    trailing name after whitespace or a comment is an alias, unless it is
    a word that ends an expression (`a IS NULL`) or follows an operator
    or a word that leaves the expression open (`a + b`, `CASE WHEN b`)."""
    c0, c1 = toks[a - 1].end, toks[b].start if b < len(toks) else len(sql)
    text = sql[c0:c1]
    name = sql[toks[a].start:c0 + len(text.rstrip())] if a < b else ""
    star = a < b and toks[b - 1].text == "*" and (
        b - a == 1 or toks[b - 2].text == ".")
    label = _column_label(toks, a, b)
    e, alias = b, None
    if label is None and b - a >= 2 and toks[b - 1].kind in _NAMES:
        last, prev = toks[b - 1], toks[b - 2]
        if prev.low == "as" and b - a > 2:
            e, alias = b - 2, last
        elif (sql[prev.end:last.start]
              and (last.kind != "word"
                   or last.text.upper() not in _NOT_ALIAS_TAIL)
              and prev.text[-1] not in "+-*/%<>=|&~^(,"
              and not (prev.kind == "word"
                       and prev.text.upper() in _OPEN_EXPR_WORDS)):
            e, alias = b - 1, last
    return _Item(c0, c1, a, e, alias, label, name, star)


def _skip_subquery(toks: list[Tok], ix: int, hi: int) -> int | None:
    """Index past the `( SELECT … )` group opening at ``ix``; None when
    toks[ix] opens no subquery."""
    if toks[ix].text != "(" or ix + 1 >= hi or toks[ix + 1].low != "select":
        return None
    close = match_paren(toks, ix, hi)
    return hi if close is None else close + 1


def _agg_calls(toks: list[Tok], lo: int, hi: int) -> list[tuple[int, int]]:
    """(name index, closing-paren index, else ``hi``) of every aggregate
    call in toks[lo:hi], nested ones included: a call (sqllex.call_name)
    that _is_agg.  An aggregate inside a `( SELECT … )` belongs to that
    subquery and is skipped; min/max count with one argument only (the
    2-argument form is the scalar one)."""
    out, ix = [], lo
    while ix < hi:
        past = _skip_subquery(toks, ix, hi)
        if past is not None:
            ix = past
            continue
        name = call_name(toks, ix)
        if ix + 1 < hi and _is_agg(name):
            close = match_paren(toks, ix + 1, hi)
            close = hi if close is None else close
            if name not in ("min", "max") or \
                    len(split_items(toks, ix + 2, close)) == 1:
                out.append((ix, close))
        ix += 1
    return out


def _stray_columns(sql: str, toks: list[Tok], lo: int, hi: int,
                   calls: list[tuple[int, int]], cols: frozenset,
                   wrap) -> list[tuple[int, int, str]]:
    """Edits wrapping each schema-column reference in toks[lo:hi] that
    sits outside aggregate calls and subqueries: `sum(b) OR c` is a legal
    SQLite aggregate expression whose `c` takes an input-row value (the
    bareagg rule), while Spark demands every non-aggregate input be
    grouped.  A call's FILTER (WHERE …) clause counts as part of it: its
    predicate columns are per-row references in both engines, and
    wrapping them breaks analysis (INVALID_AGGREGATE_FILTER).  A
    reference is a dotted chain of names, named by its last segment; one
    followed by `(` is a function call, a name after AS is a type or an
    alias, and a word with a string glued to it is a blob literal
    (`x'41'`).  ``calls`` are the range's _agg_calls."""
    skip = {}
    for ix, close in calls:
        end = close + 1
        if end + 1 < hi and toks[end].low == "filter" and \
                toks[end + 1].text == "(":
            fclose = match_paren(toks, end + 1, hi)
            end = hi if fclose is None else fclose + 1
        skip[ix] = end
    edits, ix = [], lo
    while ix < hi:
        past = skip.get(ix, _skip_subquery(toks, ix, hi))
        if past is not None:
            ix = past
            continue
        if toks[ix].kind not in _NAMES:
            ix += 1
            continue
        j = ix
        while j + 2 < hi and toks[j + 1].text == "." and \
                toks[j + 2].kind in _NAMES:
            j += 2
        last = toks[j]
        name = (last.text if last.kind == "word" else last.text[1:-1]).lower()
        nxt = toks[j + 1] if j + 1 < hi else None
        if (name in cols and name not in _BARE_KEYWORDS
                and not (ix and toks[ix - 1].text == ".")
                and not (ix and toks[ix - 1].low == "as")
                and not (nxt and (nxt.text == "(" or last.low == "x"
                                  and nxt.kind == "str"
                                  and nxt.start == last.end))):
            s0, s1 = toks[ix].start, last.end
            edits.append((s0, s1, wrap(sql[s0:s1])))
        ix = j + 1
    return edits


def _splice(sql: str, lo: int, hi: int,
            edits: list[tuple[int, int, str]]) -> str:
    """sql[lo:hi] with each (start, end, text) edit applied; the edits
    lie in [lo, hi) and do not overlap."""
    out, pos = [], lo
    for s0, s1, text in sorted(edits):
        out += [sql[pos:s0], text]
        pos = s1
    out.append(sql[pos:hi])
    return "".join(out)


def _bare_columns(sql: str, toks: list[Tok], items: list[_Item],
                  clauses: list[int], hi: int,
                  cols: frozenset) -> tuple[dict[int, str], list]:
    """SQLite's bare columns in one aggregate select list
    (sqlite.org/lang_select.html#bareagg): `SELECT id, avg(b) FROM t`
    RUNS in SQLite — the non-aggregate result columns take values from an
    input row (for a query whose ONLY aggregate is a one-argument
    min()/max(), from a row holding that extremum; otherwise from an
    arbitrary row).  Spark raises MISSING_GROUP_BY, so every non-grouped
    item is wrapped: `max_by(item, x)` / `min_by(item, x)` under the
    single-min/max rule (exact SQLite semantics; ties/all-NULL are "one
    of the rows" in both engines), `any_value(item)` otherwise (SQLite
    declares the row arbitrary), and the stray schema columns of
    aggregate items, HAVING and ORDER BY likewise (_stray_columns).
    GROUP BY terms — by text, ordinal or output alias — are left as
    written.  ``clauses`` are the depth-0 clause words after the select
    list, up to token ``hi``.  Returns the new text of each rewritten
    item, by its c0, and the edits to HAVING and ORDER BY."""
    calls = [_agg_calls(toks, it.a, it.e) for it in items]
    if not any(calls):
        # not an aggregate select list.  HAVING-only aggregates do NOT
        # make the query aggregate — SQLite itself raises "HAVING
        # clause on a non-aggregate query" there.
        return {}, []

    def clause(word, ends):
        """(first token, end) of the depth-0 clause opened by word."""
        at = next((ix for ix in clauses if toks[ix].low == word), None)
        if at is None:
            return None, None
        return at, next((ix for ix in clauses
                         if ix > at and toks[ix].low in ends), hi)

    # HAVING aggregates still count toward the exactly-one-min/max rule
    hav, hav_end = clause("having", ("order", "limit", "window"))
    hav_calls = [] if hav is None else _agg_calls(toks, hav + 1, hav_end)
    all_calls = [c for cs in calls for c in cs] + hav_calls
    single = None
    if len(all_calls) == 1 and toks[all_calls[0][0]].low in ("min", "max"):
        ix, close = all_calls[0]
        arg = ix + 2
        if arg < close and toks[arg].low == "distinct":
            arg += 1
        single = (toks[ix].low, sql[toks[arg].start:toks[close - 1].end]
                  if arg < close else "")

    def wrap(expr: str) -> str:
        if single is None:
            return f"any_value({expr})"
        # all-NULL extremum: SQLite still fills bare columns from one of
        # the rows, but Spark's max_by/min_by returns NULL when every
        # ordering key is NULL — dispatch on the extremum itself (count
        # guards the genuinely empty group, where both engines produce no
        # row anyway)
        agg, arg = single
        return (f"(CASE WHEN {agg}({arg}) IS NULL THEN any_value({expr}) "
                f"ELSE {agg}_by({expr}, {arg}) END)")

    def key(a: int, b: int) -> str:
        a, b = _unwrap(toks, a, b)
        return " ".join(t.text for t in toks[a:b]).lower()

    # GROUP BY terms: by text, by ordinal (SQLite resolves a position
    # through parentheses and unary plus: (2) and +2 are position 2, 1+1
    # is not) and by output alias
    keys, grouped = set(), set()
    group, group_end = clause("group", ("having", "order", "limit",
                                        "window"))
    if group is not None and group + 1 < hi and toks[group + 1].low == "by":
        for a, b in split_items(toks, group + 2, group_end):
            keys.add(key(a, b))
            while b - a > 1 and (toks[a].text == "+" or (
                    toks[a].text == "(" and match_paren(toks, a, b) == b - 1)):
                a, b = a + 1, b - (toks[a].text == "(")
            if b - a == 1 and toks[a].text.isdigit() and \
                    1 <= int(toks[a].text) <= len(items):
                grouped.add(int(toks[a].text) - 1)
    out = {}
    for k, it in enumerate(items):
        if (k in grouped or it.a == it.e or it.star
                or key(it.a, it.e) in keys
                or it.alias is not None
                and it.alias.text.strip('`"').lower() in keys):
            continue
        as_name = it.alias.text if it.alias is not None else "`{}`".format(
            (it.name if it.label is None else it.label).replace("`", "``"))
        text = sql[it.c0:it.c1]
        pre = text[:len(text) - len(text.lstrip())]
        x0, x1 = toks[it.a].start, toks[it.e - 1].end
        if not calls[k]:
            out[it.c0] = f"{pre}{wrap(sql[x0:x1])} AS {as_name} "
        elif cols:
            stray = _stray_columns(sql, toks, it.a, it.e, calls[k], cols,
                                   wrap)
            if stray:
                out[it.c0] = (f"{pre}{_splice(sql, x0, x1, stray)} "
                              f"AS {as_name} ")
    if not cols:
        return out, []
    # bare columns in HAVING and ORDER BY ride the same rule (SQLite:
    # `SELECT count(*) FROM t HAVING a > 0` and `SELECT max(a) FROM t
    # ORDER BY c` both run — arbitrary/extremum row).  A key that names a
    # select item's alias resolves to the output column in both engines
    # and stays as written.
    tcols = cols - {(it.alias.text.strip('`"') if it.alias is not None
                     else it.label or "").lower() for it in items}
    edits = []
    if hav is not None:
        edits += _stray_columns(sql, toks, hav + 1, hav_end, hav_calls,
                                tcols, wrap)
    order, order_end = clause("order", ("limit", "window"))
    if order is not None and order + 1 < hi and toks[order + 1].low == "by":
        edits += _stray_columns(sql, toks, order + 2, order_end,
                                _agg_calls(toks, order + 2, order_end),
                                tcols, wrap)
    return out, edits


def _select_lists(sql: str, schema: dict[str, str] | None = None) -> str:
    """SQLite's result-column names and its bare columns in aggregate
    queries, from one parse of each select list over sqllex tokens.

    Naming (sqlite.org/lang_select.html#the_select_list; the reference's
    own tests expect e.g. a "COUNT(*)" key): an output column without an
    alias is named by its expression text AS WRITTEN, from its first
    token to the end of the item, a trailing comment included.  Spark
    invents names like count(1), so every unaliased item of the
    statement's first SELECT is aliased with that text.  A bare column
    (`a`, `t.a`, `(a)`) keeps Spark's name, its last segment, which is
    SQLite's too; an item whose text holds a quote keeps Spark's name.

    Bare columns: see _bare_columns.  Compound arms are processed
    independently, and a statement with a window function anywhere passes
    through (a window does not make the query aggregate, and the mixed
    shape has its own analyzer rules)."""
    toks = tokenize(sql)
    n = len(toks)
    window = any(t.low == "over" for t in toks)
    cols = frozenset(schema or ())
    edits: list[tuple[int, int, str]] = []
    named = False
    arms = [0, *scan_words(toks, 0, n, ("union", "intersect", "except")), n]
    for lo, hi in zip(arms, arms[1:]):
        sels = scan_words(toks, lo, hi, ("select",))
        if not sels:
            continue
        s0 = sels[0] + 1
        if s0 < hi and toks[s0].low in ("distinct", "all"):
            s0 += 1
        clauses = scan_words(toks, s0, hi, _SELECT_END)
        items = [_parse_item(sql, toks, a, b) for a, b in
                 split_items(toks, s0, clauses[0] if clauses else hi)]
        out = {}
        if not named:
            named = True
            out = {it.c0: f"{sql[it.c0:it.c1]} AS `{it.name}` "
                   for it in items
                   if it.a < it.e and not it.star and it.alias is None
                   and it.label is None
                   and not any(q in it.name for q in "'`\"")}
        if not window:
            bare, more = _bare_columns(sql, toks, items, clauses, hi, cols)
            out.update(bare)
            edits += more
        edits += [(it.c0, it.c1, out[it.c0]) for it in items if it.c0 in out]
    return _splice(sql, 0, len(sql), edits) if edits else sql


def _sub_calls(sql: str, toks: list[Tok], lo: int, hi: int, names,
               edit) -> str:
    """The text between toks[lo - 1] and toks[hi] (the whole of ``sql``
    for the whole token list) with its calls edited innermost first.
    Each call of ``names`` (sqllex.calls) goes to ``edit(name, ix, close,
    sub)``, which returns the call's new text and the index of the last
    token that text replaces, or None to keep the call as written.
    ``sub(a, b)`` is this same edit of the text between toks[a - 1] and
    toks[b]: an argument's item range gives the argument's text."""
    def sub(a: int, b: int) -> str:
        return _sub_calls(sql, toks, a, b, names, edit)

    out, pos, nxt = [], toks[lo - 1].end if lo else 0, lo
    for name, ix, close in calls(toks, lo, hi, names):
        if ix < nxt:
            continue  # inside a call already rewritten
        got = edit(name, ix, close, sub)
        if got is not None:
            text, last = got
            out += [sql[pos:toks[ix].start], text]
            pos, nxt = toks[last].end, last + 1
    out.append(sql[pos:toks[hi].start if hi < len(toks) else len(sql)])
    return "".join(out)


# Aggregates whose FILTER clause is folded even without OVER: their
# expansions WRAP the aggregate (FILTER would land on coalesce/array_join
# — FUNCTION_WITH_UNSUPPORTED_SYNTAX), and sum()/avg() need SQLite's
# numeric-prefix coercion, which the dialect compiler builds over a plain
# argument only.  Every other aggregate keeps Spark's native FILTER
# clause (same plan, one less rewrite).
_FOLD_ALWAYS = frozenset(("sum", "avg", "total", "group_concat",
                          "json_group_array", "json_group_object"))


def _rewrite_calls(sql: str) -> str:
    """SQLite's call-site forms → Spark SQL, in one pass over
    sqllex.tokenize(sql); the text between tokens is copied as it stands,
    and arguments are rewritten before the call that holds them.

      * FILTER fold: `agg(args) FILTER (WHERE p)` → `agg(CASE WHEN p THEN
        arg END)`.  SQLite 3.30+ allows FILTER on windowed aggregates
        (window-functions.html §aggwinfunc); Spark rejects the pair
        ("Window aggregate function with filter predicate is not
        supported yet").  Every SQLite aggregate ignores NULL inputs, so
        NULLing the filtered-out rows' argument is exact: count(*)
        counts a constant 1 under the predicate, a leading DISTINCT stays
        in front of the CASE, and multi-argument aggregates
        (group_concat's separator) NULL only the value argument.  With a
        following OVER every call folds; without, only _FOLD_ALWAYS.
      * the function aliases of dsq_spark.functions.AGG_ALIASES
        (`percentile_75(x)` → `percentile(x, 0.75D)`, `group_concat`,
        the datetime family, …): a template gets the argument text, a
        callable the argument list.  An AGG_ALIASES_OVER name takes the
        `OVER (…)` / `OVER name` that follows it, since its expansion
        wraps the aggregate in scalar scaffolding that the window cannot
        follow (a hard MISSING_GROUP_BY otherwise).

    Comments may sit between any two of these tokens, as in SQLite."""
    from dsq_spark.functions import AGG_ALIASES, AGG_ALIASES_OVER

    toks = tokenize(sql)
    n = len(toks)

    def edit(name, ix, close, sub):
        items = split_items(toks, ix + 2, close)
        f, fold = close + 1, None
        if f + 2 < n and toks[f].low == "filter" and \
                toks[f + 1].text == "(" and toks[f + 2].low == "where":
            fold = match_paren(toks, f + 1, n)
            if fold is not None and name not in _FOLD_ALWAYS and not (
                    fold + 1 < n and toks[fold + 1].low == "over"):
                fold = None
        if fold is None and name not in AGG_ALIASES:
            return None
        parts = [sub(a, b) for a, b in items]
        last, tail = close, ""
        if fold is not None:
            pred = sub(f + 3, fold).strip()
            a, b = items[0]
            if name == "count" and len(items) == 1 and b == a + 1 and \
                    toks[a].text == "*":
                parts = [f"CASE WHEN {pred} THEN 1 END"]
            else:
                val, head = parts[0].strip(), ""
                if toks[a].low == "distinct" and b > a + 1:
                    head = sql[toks[a].start:toks[a + 1].start]
                    val = val[len(head):]
                    head += "" if head[-1].isspace() else " "
                parts = [f"{head}CASE WHEN {pred} THEN {val} END"] + \
                    [" " + p.strip() for p in parts[1:]]
            last, tail = fold, " "
        o = last + 1
        if name in AGG_ALIASES_OVER and o + 1 < n and toks[o].low == "over":
            w = toks[o + 1]
            if w.text == "(":
                end = match_paren(toks, o + 1, n)
                end = n - 1 if end is None else end
                return (AGG_ALIASES_OVER[name](
                    parts, "OVER " + sql[w.start:toks[end].end]), end)
            if _is_name(w):
                return AGG_ALIASES_OVER[name](parts, "OVER " + w.text), o + 1
        tpl = AGG_ALIASES.get(name)
        if tpl is None:
            text = f"{toks[ix].text}({','.join(parts)})"
        elif callable(tpl):
            text = tpl(parts)
        else:
            text = tpl.format(args=",".join(parts))
        return text + tail, last

    filters = any(t.low == "filter" for t in toks)
    return _sub_calls(sql, toks, 0, n, None if filters else AGG_ALIASES,
                      edit)


_JSON_EACH = re.compile(
    r"(,\s*|\bjoin\s+)?\bjson_(each|tree)\s*\(", re.IGNORECASE)

_RICH_JSON_COLS = ("type", "atom", "id", "parent", "fullkey", "path")


def _wants_rich_json_each(sql: str, alias: str) -> bool:
    """True when the statement references json_each columns beyond
    key/value (qualified `alias.col`, or the distinctively-named bare
    `fullkey`/`atom`).  A false positive only costs the faster lowering —
    the rich walker returns identical key/value columns."""
    pat = re.compile(
        rf"\b{re.escape(alias)}\s*\.\s*(?:{'|'.join(_RICH_JSON_COLS)})\b"
        r"|\b(?:fullkey|atom)\b", re.IGNORECASE)
    # quoted identifiers (`j`.atom) still count: skip literals and comments
    spans = [(a, b) for a, b in opaque_spans(sql) if sql[a] not in '`"']
    return any(not inside(spans, m.start()) for m in pat.finditer(sql))


def _rewrite_json_each(sql: str, strict_json: bool = False) -> str:
    """SQLite's json_each / json_tree table-valued functions → LATERAL VIEW.

    `FROM t, json_each(t.c) j` becomes `FROM t LATERAL VIEW
    inline(<entries>) j AS key, value`, where <entries> is an
    array<struct<key,value>> built as a coalesce over three parses of the
    text: map_entries(from_json(.. 'map<string,string>')) for objects,
    transform(from_json(.. 'array<string>')) for arrays (keys '0','1',…),
    and a one-row scalar arm (key NULL) for scalar timevalues — with
    'null'/'true'/'false' special-cased to SQLite's NULL/1/0 surfacings.
    '[]' and '{}' give ZERO rows exactly like SQLite (inline of an empty
    entries array), and malformed JSON nulls every arm → zero rows where
    SQLite raises (PARITY.md delta). A struct key may be NULL — which a
    map-based lowering could not represent.

    `FROM t, json_tree(t.c) j` becomes `LATERAL VIEW
    inline(dsq_json_tree(t.c, NULL)) j AS key, value, type, atom, id,
    parent, fullkey, path` (recursive DFS walk — functions/json1.py — with
    SQLite's node-array rowid numbering for id/parent).

    When the statement references json_each columns beyond key/value
    (type/atom/id/parent/fullkey/path — SQLite's full json_each shape),
    the lowering switches to `inline(dsq_json_each(arg, path))`: the same
    walker family as json_tree, direct children only, parent always NULL,
    document-rooted ids, pinned vs sqlite3 (tests/test_json1.py
    test_each_matrix). The key/value fast path stays pure Catalyst.

    A bare `FROM json_each('...')` (no base relation) gets a one-row
    `(SELECT 1)` anchor, and the 2-arg path form `json_each(x, '$.p')`
    drills in with get_json_object first (json_tree and rich json_each
    pass the path to the walker, which mirrors SQLite's start-node
    quirks). Documented deltas vs SQLite: keys surface as TEXT (SQLite
    uses integers for arrays), and values surface as TEXT."""
    spans = opaque_spans(sql)
    out, i = [], 0
    while True:
        m = _JSON_EACH.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        j = None if inside(spans, m.start()) else \
            close_paren(sql, m.end() - 1)
        if j is None:
            out.append(sql[i:m.end()])
            i = m.end()
            continue
        j += 1
        kind = m.group(2).lower()
        arg = sql[m.end():j - 1]
        arg_parts = split_top(arg)
        path = arg_parts[1].strip() if len(arg_parts) == 2 else None
        # optional alias after the closing paren
        am = re.match(r"\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)", sql[j:],
                      re.IGNORECASE)
        alias = am.group(1) if am and am.group(1).upper() not in (
            "WHERE", "GROUP", "ORDER", "LIMIT", "JOIN", "ON", "LEFT", "RIGHT",
            "INNER", "CROSS", "UNION", "HAVING") else None
        j_end = j + am.end() if alias else j
        if kind == "tree":
            lateral = (
                f" LATERAL VIEW inline(dsq_json_tree("
                f"{arg_parts[0].strip()}, {path or 'CAST(NULL AS STRING)'})) "
                f"{alias or 'json_tree'} "
                f"AS key, value, type, atom, id, parent, fullkey, path")
        elif (path or _wants_rich_json_each(sql, alias or "json_each")
                or strict_json):
            # (strict mode routes ALL json_each through the walker so a
            # malformed document RAISES like SQLite instead of yielding
            # zero rows — the walker's closures carry the strict flag)
            # the query touches type/atom/id/parent/fullkey/path, or uses
            # the 2-arg PATH form — lower through the full walker (same 8
            # columns as json_tree, direct children only, parent always
            # NULL, pinned vs sqlite3).  The path form must go through the
            # walker even for key/value-only queries: a get_json_object
            # drill-in cannot distinguish a JSON null at the path (SQLite:
            # one (NULL,NULL) row) from a missing path (zero rows) — both
            # surface as SQL NULL (ADVICE r4).  The common 1-arg key/value
            # case keeps the pure-Catalyst path below.
            lateral = (
                f" LATERAL VIEW inline(dsq_json_each("
                f"{arg_parts[0].strip()}, {path or 'CAST(NULL AS STRING)'})) "
                f"{alias or 'json_each'} "
                f"AS key, value, type, atom, id, parent, fullkey, path")
        else:
            # entries as array<struct<key,value>> + inline (NOT a map +
            # explode): '[]'/'{}' give zero rows like SQLite (a map-based
            # sequence(0, size-1) built the DESCENDING [0, -1] on empty
            # arrays and crashed map_from_arrays; explode_outer fabricated
            # a null row for '{}'), and a struct key may be NULL — which
            # SQLite emits for a scalar timevalue (map keys can't).
            # Objects always hit the first arm (from_json to
            # map<string,string> stringifies nested values); malformed
            # JSON nulls every arm -> zero rows (SQLite raises; PARITY).
            obj = f"from_json({arg}, 'map<string,string>')"
            arr = f"from_json({arg}, 'array<string>')"
            scal = f"get_json_object({arg}, '$')"
            entries = (
                f"coalesce(map_entries({obj}), "
                f"transform({arr}, (x, i) -> "
                f"struct(CAST(i AS STRING) AS key, x AS value)), "
                # scalar JSON keywords need their SQLite surfacings: the
                # 'null' timevalue yields one (NULL, NULL) row (while
                # get_json_object('null','$') is SQL NULL and would yield
                # ZERO rows), and booleans yield 1/0 not 'true'/'false'
                # (verified vs sqlite3 — ADVICE r3).
                f"CASE WHEN trim({arg}) = 'null' THEN "
                f"array(struct(CAST(NULL AS STRING) AS key, "
                f"CAST(NULL AS STRING) AS value)) "
                f"WHEN trim({arg}) = 'true' THEN "
                f"array(struct(CAST(NULL AS STRING) AS key, '1' AS value)) "
                f"WHEN trim({arg}) = 'false' THEN "
                f"array(struct(CAST(NULL AS STRING) AS key, '0' AS value)) "
                f"WHEN {scal} IS NOT NULL THEN "
                f"array(struct(CAST(NULL AS STRING) AS key, {scal} AS value)) END)"
            )
            lateral = (f" LATERAL VIEW inline({entries}) "
                       f"{alias or 'json_each'} AS key, value")
        head = sql[i:m.start()]
        if m.group(1) is None and re.search(r"\bFROM\s*$", head, re.IGNORECASE):
            # `FROM json_each(...)` with no base relation: LATERAL VIEW
            # needs an anchor row, so supply a one-row subquery.
            head += "(SELECT 1) _json_each_anchor"
        out.append(head)
        out.append(lateral)
        i = j_end
    return "".join(out)


def _sort_needs_inline(toks: list[Tok], names) -> bool:
    """True when a call of ``names`` sits in an ORDER BY clause
    (top-level, subquery or window OVER): Spark 4.1 rejects SQL functions
    in Sort outright (UNSUPPORTED_SQL_UDF_USAGE "Using SQL function
    `dsq_real_text` in Sort is not supported", found by the r8 ORDER BY
    probe: `… ORDER BY date(col)` died).  The same inlining that makes
    aggregate-mixed statements analyzable fixes Sort, so this only widens
    the trigger; statements whose ORDER BY keys are UDF-free keep their
    exact bytes (the swap to pandas twins is a measured slowdown on
    datetime-heavy projections — r6 BENCH_NOTES).  A clause ends at a
    LIMIT or WINDOW of its own depth or at the `)` around it."""
    n, opens = len(toks), []
    for ix, t in enumerate(toks):
        if t.text == "(":
            opens.append(ix)
        elif t.text == ")":
            if opens:
                opens.pop()
        elif t.low == "order" and ix + 1 < n and toks[ix + 1].low == "by":
            end = match_paren(toks, opens[-1], n) if opens else None
            end = n if end is None else end
            stop = scan_words(toks, ix + 2, end, ("limit", "window"))
            if any(call_name(toks, k) in names
                   for k in range(ix + 2, stop[0] if stop else end)):
                return True
    return False


# SQL UDF → its pandas twin, for statements with an aggregate
_AGG_TWINS = {"dsq_real_text": "dsq_real_text_agg",
              "glob_regex": "dsq_glob_regex_agg",
              "dsq_like_regex": "dsq_like_regex_agg"}
# Text that the lower-cased text of every aggregate call (_is_agg) holds
_AGG_TEXT = _AGG_NAMES | {"percentile_"}


def _inline_calls(sql: str, toks: list[Tok], strict_json: bool) -> str:
    """_inline_agg_safe's call rewrites in one pass over ``toks``, the
    tokens of ``sql``: each call of an inlined function with its arity
    becomes its body (_inline_body) with the arguments cast to the
    declared types, each call of _AGG_TWINS its twin, and a glob_regex of
    a literal pattern the compiled regex literal.  In strict JSON mode
    json() and json_extract() keep their raising registrations."""
    from dsq_spark.functions import INLINE_UDFS, glob_regex_py
    from dsq_spark.sqlexpr import _like_decode_lit

    def edit(name, ix, close, sub):
        items = split_items(toks, ix + 2, close)
        lit = toks[ix + 2]
        if name == "glob_regex" and close == ix + 3 and lit.kind == "str" \
                and len(lit.text) > 1 and lit.text[-1] == "'" and \
                (dec := _like_decode_lit(lit.text)) is not None:
            rx = glob_regex_py("".join(dec)).replace("\\", "\\\\")
            return "'" + rx.replace("'", "''") + "'", close
        if name in _AGG_TWINS:
            return (_AGG_TWINS[name] + sql[toks[ix].end:toks[ix + 1].end]
                    + ",".join(sub(a, b) for a, b in items) + ")"), close
        ptypes, body = _inline_body(name, strict_json)
        if len(items) != len(ptypes):
            return None
        args = [sub(a, b).strip() for a, b in items]
        text = "(" + body.format(*(f"CAST(({a}) AS {t})" if t else f"({a})"
                                   for a, t in zip(args, ptypes))) + ")"
        if len(text) > _MAX_EMISSION_CHARS:
            _check_emission_size(text)
        return text, close

    names = INLINE_UDFS.keys() | {"nullif"} | _AGG_TWINS.keys()
    if strict_json:
        names -= {"json", "json_extract"}
    return _sub_calls(sql, toks, 0, len(toks), names, edit)


@functools.cache
def _inline_body(name: str, strict_json: bool) -> tuple[tuple[str, ...],
                                                         str]:
    """(parameter types, body) of a function _inline_agg_safe inlines:
    one of functions.INLINE_UDFS (the CREATE FUNCTION body — one source)
    with the calls in its body already rewritten (datetime wrappers call
    best_effort_ts, dsq_json_unbox dsq_real_text), or nullif."""
    from dsq_spark.functions import INLINE_UDFS

    if name == "nullif":
        return ("", ""), "(CASE WHEN ({0}) = ({1}) THEN NULL ELSE ({0}) END)"
    ptypes, _ret, body = INLINE_UDFS[name]
    return ptypes, _inline_calls(body, tokenize(body), strict_json)


def _inline_agg_safe(sql: str, strict_json: bool = False) -> str:
    """Make an AGGREGATE-containing statement safe for Spark 4.1's SQL
    analyzer: the SQL-function extraction rewrites a projection that
    mixes ANY SQL temporary function with an aggregate by replacing
    every expression — including the literal positions of foldable-
    checked functions (struct comparison keys, round's scale) — with
    attribute references, which then fail analysis
    (CREATE_NAMED_STRUCT_WITHOUT_FOLDABLE_STRING / NON_FOLDABLE_INPUT;
    probed: SELECT named_struct('a', f(1.0)), sum(1) dies for any SQL-
    defined f, even across select items).  So when a statement calls an
    aggregate (_AGG_NAMES), or a SQL function in an ORDER BY
    (_sort_needs_inline), its calls are rewritten in one pass over
    sqllex tokens, innermost first (_inline_calls):

      * the simple expression-bodied UDFs (functions.INLINE_UDFS —
        datetime family, url_*, string/hash spellings) inline textually
        with their declared-type casts (_inline_body);
      * dsq_real_text, glob_regex and dsq_like_regex swap to their pandas
        twins (Python UDFs ride a tolerant planning path; the %!.15g body
        is too self-repeating to inline), except that a glob_regex of a
        LITERAL pattern folds to its compiled regex (the Python mirror of
        the glob_regex machine);
      * nullif(a, b) → its CASE definition: Spark's native nullif
        desugars through a With/common-expression wrapper whose refs leak
        un-rewritten into codegen when the same statement carries an
        aggregate and a (non-inlinable) SQL UDF — INTERNAL_ERROR "Cannot
        generate code for commonexpressionref" (probed on 4.1.2:
        nullif(x GLOB computed, sum(...))).

    Statements with neither keep their exact bytes and plans.  A call
    holds its name, so a statement whose text holds no aggregate name,
    and no "order" with a SQL function's name, has neither and is not
    tokenized."""
    from dsq_spark.functions import INLINE_UDFS

    low, sql_fns = sql.lower(), INLINE_UDFS.keys() | _AGG_TWINS.keys()
    if not any(w in low for w in _AGG_TEXT) and not (
            "order" in low and any(w in low for w in sql_fns)):
        return sql
    toks = tokenize(sql)
    if not any(_is_agg(call_name(toks, ix)) for ix in range(len(toks))) \
            and not _sort_needs_inline(toks, sql_fns):
        return sql
    return _inline_calls(sql, toks, strict_json)


_FROM_TABLE = re.compile(r"\s*(`[^`]+`|[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)?)")
_INNER_STAR = re.compile(r"(?is)^\(\s*SELECT\s+\*")
_TAIL_KW = re.compile(r"(?is)^\s*(WHERE|ORDER|LIMIT|OFFSET)\b|^\s*$")
# SQLite's window functions, and `over (`, which reads as a call
_WINDOW_CALLS = frozenset((
    "row_number", "rank", "dense_rank", "percent_rank", "cume_dist",
    "ntile", "lag", "lead", "first_value", "last_value", "nth_value",
    "over"))


def _per_row_safe(c: str) -> bool:
    """Whether hoist candidate ``c`` is a pure per-row scalar over FROM
    columns: moving an aggregate, a window or a subquery into the FROM
    projection would change (or break) its meaning.  A call holds its
    name and a subquery its SELECT, so a candidate whose text holds none
    of them is not tokenized."""
    low = c.lower()
    if not any(w in low for w in _AGG_TEXT | _WINDOW_CALLS | {"select"}):
        return True
    toks = tokenize(c)
    return not any(
        _is_agg(name := call_name(toks, ix)) or name in _WINDOW_CALLS
        or t.text == "(" and ix + 1 < len(toks)
        and toks[ix + 1].low == "select"
        for ix, t in enumerate(toks))


_TAIL_KW_NOWHERE = re.compile(r"(?is)^\s*(ORDER|LIMIT|OFFSET)\b|^\s*$")
_WIN_HEAD = re.compile(r"(?i)\b(sum|count|avg|min|max)\s*\(")
_OVER_GAP = re.compile(r"(?i)^\s*OVER\s*\(")


def _window_calls(text: str) -> list[str]:
    """Full `agg(args) OVER (spec)` substrings of ``text`` (balanced-paren
    scan; nested window calls cannot occur — Spark rejects them)."""
    out = []
    for m in _WIN_HEAD.finditer(text):
        i = text.find("(", m.end() - 1)
        j = close_paren(text, i)
        if j is None:
            continue
        g = _OVER_GAP.match(text[j + 1:])
        if not g:
            continue
        k = close_paren(text, j + g.end())
        if k is not None:
            out.append(text[m.start():k + 1])
    return out


def _find_unquoted(text: str, needle: str,
                   spans: list[tuple[int, int]]) -> list[int]:
    """Start offsets of ``needle`` in ``text`` whose first character lies
    OUTSIDE ``spans`` (opaque_spans of ``text``).  A compiler-emitted
    chain colliding with the inside of a user string literal is
    implausible (chains are >= 80 chars of SQL) but replacing into one
    would corrupt the literal — so the hoist pass only ever rewrites
    occurrences that start in plain SQL text (r10 VERDICT #7)."""
    out, i, si, nspan = [], 0, 0, len(spans)
    while True:
        j = text.find(needle, i)
        if j == -1:
            return out
        while si < nspan and spans[si][1] <= j:
            si += 1
        if si < nspan and spans[si][0] <= j:
            i = spans[si][1]  # starts inside an opaque span: skip it
            continue
        out.append(j)
        i = j + len(needle)


def _hoist_repeats(pre: str, post: str, cands, prefix: str):
    """Replace every candidate text that occurs at least twice outside
    opaque spans of ``pre`` + ``post`` (longest first) with a fresh
    ``prefix``-numbered name; returns (pre, post, {name: candidate})."""
    names: dict[str, str] = {}
    pre_sp, post_sp = opaque_spans(pre), opaque_spans(post)
    for c in sorted(cands, key=len, reverse=True):
        hits = (_find_unquoted(pre, c, pre_sp),
                _find_unquoted(post, c, post_sp))
        if len(hits[0]) + len(hits[1]) < 2:
            continue
        name = f"{prefix}{len(names) + 1}"
        # every hit is replaced, not just the first: same text, same value
        pre, post = (
            name.join(text[a:b] for a, b in
                      zip([0] + [j + len(c) for j in hs], hs + [len(text)]))
            for text, hs in zip((pre, post), hits))
        pre_sp, post_sp = opaque_spans(pre), opaque_spans(post)
        names[name] = c
    return pre, post, names


def _hoist_per_row(sql: str, cands: list[str]) -> str:
    """Project repeated per-row coercion chains once under the FROM clause.

    The dialect compiler's windowed dynamic aggregates clone a ~400-char
    per-row coercion chain into every inner window aggregate (and the
    frames pass multiplies that per recombination piece): a single
    GROUPS/EXCLUDE query over a text column emitted 26 KB of SQL whose
    Catalyst ANALYSIS alone cost 6-28 s and whose codegen risked janino's
    64 KB method limit (r9 VERDICT What's-wrong #7).  The compiler
    returns each chain with its text (sqlexpr.rewrite_semantics); this
    pass rewrites

        SELECT …chain…chain… FROM src …chain…
      → SELECT …__dsq_h1…__dsq_h1… FROM (SELECT *, chain AS __dsq_h1
                                          FROM src) …__dsq_h1…

    strictly when that is a pure renaming: single top-level SELECT, one
    FROM source (a bare table or the frames pass's own `(SELECT *, …)`
    derived table), no star select item (the added column must not leak
    through `*` — ADVICE r9 #1), no GROUP BY / compound operator, and no
    nested subquery outside the FROM source (a chain inside one would
    turn into a correlated outer reference).  Every guard fails open to
    the unhoisted SQL, which is what ran before this pass existed."""
    cands = [c for c in dict.fromkeys(cands)
             if len(c) >= 80 and _per_row_safe(c)]
    if not cands or "__dsq_h" in sql:
        return sql
    lead = len(sql) - len(sql.lstrip())
    if sql[lead:lead + 7].upper() not in ("SELECT ", "SELECT\n", "SELECT\t"):
        return sql
    toks = tokenize(sql)
    n = len(toks)
    if scan_words(toks, 1, n, ("union", "intersect", "except", "group",
                               "lateral", "join", "window")):
        return sql
    fr = scan_words(toks, 1, n, ("from",))
    if not fr:
        return sql
    f_ix = toks[fr[0]].start
    # a star select item at depth 0 of the select list: `*` first, after a
    # comma, DISTINCT or ALL, or as `t.*`
    depth = 0
    for ix in range(1, fr[0]):
        t = toks[ix]
        depth += (t.text == "(") - (t.text == ")")
        if depth == 0 and t.text == "*" and (
                toks[ix - 1].text in (",", ".")
                or toks[ix - 1].low in ("select", "distinct", "all")):
            return sql
    # FROM source: `(SELECT * …)` derived table or a bare table reference
    j = f_ix + 4
    while j < len(sql) and sql[j].isspace():
        j += 1
    if j >= len(sql):
        return sql
    if sql[j] == "(":
        k = close_paren(sql, j)
        if k is None:
            return sql
        src_lo, src_hi = j, k + 1
        if not _INNER_STAR.match(sql[src_lo:src_hi]):
            return sql
    src_alias = ""
    if sql[j] != "(":
        m = _FROM_TABLE.match(sql, j - 1)
        if not m:
            return sql
        src_lo, src_hi = j, m.end()
        # Wrapping a bare table in a derived table removes its name from
        # scope, so qualified refs (tw.id) outside the hoisted chains would
        # stop resolving (ADVICE r10 #1).  Re-alias the wrapper with the
        # table's bare name — the last dot segment, exactly the qualifier
        # Spark exposes for a bare table reference.
        ref = sql[src_lo:src_hi].strip()
        src_alias = ref if ref.startswith("`") else ref.split(".")[-1].strip()
        # ...but a reference qualified by the whole dotted name
        # (default.tw.id for FROM default.tw) has no wrapper to resolve
        # against: leave such a statement unhoisted
        if src_alias != ref:
            segs = [re.escape(p.strip()) for p in ref.split(".")]
            qual = r"\s*\.\s*".join(rf"(?:{p}|`{p}`)" for p in segs)
            if re.search(rf"(?i)(?<![\w`.]){qual}\s*\.",
                         sql[:src_lo] + sql[src_hi:]):
                return sql
    if not _TAIL_KW.match(sql[src_hi:]):
        return sql  # alias / comma join / anything unexpected after src
    pre, src, post = sql[:src_lo], sql[src_lo:src_hi], sql[src_hi:]
    if re.search(r"\(\s*select\b", pre + post, re.IGNORECASE):
        return sql  # nested subquery outside the FROM source
    pre, post, names = _hoist_repeats(pre, post, cands, "__dsq_h")
    if names:
        proj = ", ".join(f"{c} AS {n}" for n, c in names.items())
        if src.startswith("("):
            ins = _INNER_STAR.match(src).end()
            src = f"{src[:ins]}, {proj}{src[ins:]}"
        else:
            src = f"(SELECT *, {proj} FROM {src}) AS {src_alias}"
    # second layer: repeated WINDOW RESULTS (the CAST-saturation and
    # frame-recombination consumers mention the same `agg(x) OVER (spec)`
    # 4-6 times each).  A window value is a per-row function of the FROM
    # rows, so with no outer WHERE (rows identical) it can compute once
    # in a wrapping derived table.  Only same-text occurrences merge —
    # Spark already plans them as one window expression; this just stops
    # the analyzer/codegen from re-walking the clone subtrees.
    if _TAIL_KW_NOWHERE.match(post):
        # first-occurrence order breaks length ties (a set's order would
        # follow the per-process string hash)
        wcands = dict.fromkeys(_window_calls(pre) + _window_calls(post))
        wcands = [c for c in wcands if "(select" not in c.lower()]
        pre, post, wins = _hoist_repeats(pre, post, wcands, "__dsq_w")
        if wins:
            wproj = ", ".join(f"{c} AS {n}" for n, c in wins.items())
            tail_alias = f" AS {src_alias}" if src_alias else ""
            src = f"(SELECT *, {wproj} FROM {src}){tail_alias}"
    if not names and "__dsq_w" not in src:
        return sql
    return pre + src + post


def rewrite_query(sql: str, schema: dict[str, str] | None = None,
                  strict_json: bool = False) -> str:
    """Full dsq-dialect → Spark SQL rewrite (string literals untouched).

    ``schema`` optionally maps lower-cased column names to SQLite storage
    kinds ('int'/'real'/'text'/'blob'/'unknown'); it feeds the static type
    inference in dsq_spark.sqlexpr (integer division, CAST prefix-parse,
    truthiness).  The CLI builds it from the registered views
    (sqlexpr.spark_schema_kinds); omitting it just makes those rewrites
    fall back to their typeof()-dispatched dynamic forms.
    ``strict_json`` is the CLI's --strict-json: json_each takes the
    raising walker, and the aggregate inliner keeps json() and
    json_extract() as calls to their raising registrations."""
    return rewrite_query_tracked(sql, schema, strict_json)[0]


# Hard circuit breaker on the rewritten-SQL emission (r9 VERDICT #7 /
# r10 VERDICT #4).  The dialect compiler's dynamic-typing machinery can
# multiply coercion chains combinatorially; the hoist pass bounds the
# common shapes (26 KB -> 4.9 KB measured) but FAILS OPEN on guarded
# shapes, and an unbounded emission is a driver-side analysis stall
# (6-28 s measured at 26 KB, minutes under load) or a janino 64 KB codegen
# fallback at scale.  Better a clear, immediate error than a silent
# multi-minute stall.  The caps apply to the text actually sent to Spark,
# i.e. after aggregate-safe inlining.  The OVER-count cap is the
# real detector of the r9/r10 pathology (analysis cost is superlinear in
# WINDOW-expression count: the 26 KB bombs carried 72-144 OVERs); plain
# WIDTH is benign — wide flat SELECT lists analyze linearly, and the
# differential matrix tests legitimately emit 60-expression statements of
# 80 KB+ — so the char cap sits at 256 KB (a true runaway, ~10x the worst
# pathological emission observed) and the OVER cap at 256 (~2x).
_MAX_EMISSION_CHARS = 262144
_MAX_EMISSION_OVERS = 256
_OVER_RE = re.compile(r"(?i)\bOVER\s*\(")


def _check_emission_size(out: str) -> None:
    if len(out) > _MAX_EMISSION_CHARS:
        raise ValueError(
            f"rewritten SQL emission is {len(out)} chars "
            f"(cap {_MAX_EMISSION_CHARS}); this query's dynamic-typing "
            "expansion is too large to analyze safely — simplify the "
            "expression")
    n_over = len(_OVER_RE.findall(out))
    if n_over > _MAX_EMISSION_OVERS:
        raise ValueError(
            f"rewritten SQL emission contains {n_over} window calls "
            f"(cap {_MAX_EMISSION_OVERS}); this query's dynamic-typing "
            "expansion is too large to analyze safely — simplify the "
            "expression")


def rewrite_query_tracked(
        sql: str, schema: dict[str, str] | None = None,
        strict_json: bool = False,
) -> tuple[str, frozenset[str]]:
    """Like rewrite_query, also returning the set of identifier names that
    came from double-quoted tokens — the CLI retries those as string
    literals when they fail column resolution (SQLite fallback)."""
    # SQLite's EXPLAIN QUERY PLAN prefix (the reference passes it straight
    # to SQLite) → Spark's bare EXPLAIN; plain EXPLAIN already parses.
    sql = re.sub(r"^(\s*)EXPLAIN\s+QUERY\s+PLAN\b", r"\1EXPLAIN",
                 sql, count=1, flags=re.IGNORECASE)
    # SQLite's result-column names and bare columns in aggregate queries
    sql = _select_lists(
        _rewrite_json_each(_sub_table_macros(sql), strict_json), schema)
    # token-level forms, then the call-site rewrites over settled tokens
    # (alias templates emit Spark's final spellings, e.g. 0.25D)
    out, dquoted = _rewrite_tokens(sql)
    out = _rewrite_calls(out)
    # SQLite arithmetic/affinity semantics (integer division, CAST
    # numeric-prefix parse, truthiness) run LAST, over settled literal
    # typing.
    from dsq_spark.sqlexpr import rewrite_semantics

    out, hoists = rewrite_semantics(out, schema)
    # tree-size control: project repeated per-row coercion chains once
    # under the FROM clause (see _hoist_per_row; guards fail open)
    out = _hoist_per_row(out, hoists)
    # aggregate-mixed statements must not reach the analyzer with SQL
    # temporary functions in them (Spark 4.1 extraction bug — see
    # _inline_agg_safe); runs after sqlexpr so every alias/compiler
    # emission is covered, and leaves aggregate-free statements
    # byte-identical.
    out = _inline_agg_safe(out, strict_json)
    _check_emission_size(out)
    return out, dquoted
