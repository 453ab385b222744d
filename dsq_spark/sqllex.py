"""SQLite's lexical rules, in one place, for every pass of the rewrite layer.

A rewrite pass must never edit text inside a string literal, a quoted
identifier or a comment, and must not count a parenthesis or a comma that
sits inside one.  SQLite (sqlite.org/lang_expr.html, lang_keywords.html,
lang_comment.html) has five such OPAQUE forms:

    '…'    string literal, '' is the only escape (a backslash is literal)
    "…"    quoted identifier, "" escapes a quote
    `…`    quoted identifier (MySQL style), `` escapes a backtick
    -- …   comment to end of line
    /* … */  comment

An unterminated form runs to the end of the text, as SQLite's own
tokenizer reports it.  This module imports nothing from dsq_spark.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from dataclasses import dataclass, field

_OPAQUE = (r"'[^']*(?:''[^']*)*'?"
           r'|"[^"]*(?:""[^"]*)*"?'
           r"|`[^`]*(?:``[^`]*)*`?"
           r"|--[^\n]*"
           r"|/\*(?s:.*?)(?:\*/|\Z)")
_OPAQUE_RE = re.compile(_OPAQUE)
_PAREN_RE = re.compile(_OPAQUE + r"|[()]")
_COMMA_RE = re.compile(_OPAQUE + r"|[(),]")


def opaque_spans(sql: str) -> list[tuple[int, int]]:
    """Sorted, non-overlapping (start, end) spans of every string literal,
    quoted identifier and comment in ``sql``.  ``sql[start]`` tells the
    kind: ``'``, ``"``, a backtick, ``-`` or ``/``."""
    return [m.span() for m in _OPAQUE_RE.finditer(sql)]


def inside(spans: list[tuple[int, int]], i: int) -> bool:
    """True when offset ``i`` lies in one of ``spans`` (opaque_spans
    output)."""
    k = bisect_right(spans, (i, float("inf"))) - 1
    return k >= 0 and spans[k][1] > i


def close_paren(sql: str, i: int) -> int | None:
    """Index of the ')' closing the '(' at ``i``; parentheses inside
    opaque spans do not count.  None when it is never closed."""
    depth = 0
    for m in _PAREN_RE.finditer(sql, i):
        c = m.group()
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return m.start()
    return None


def wrapped(s: str) -> bool:
    """True when one pair of parentheses wraps all of ``s``: `(a < b)`
    yes, `(a) < b(c)` no."""
    return s[:1] == "(" and close_paren(s, 0) == len(s) - 1


def split_top(args: str) -> list[str] | None:
    """Split an argument list on its top-level commas (outside parentheses
    and opaque spans), so `group_concat("last, first", ', ')` keeps both
    its identifier and its separator whole.  None when the parentheses do
    not balance."""
    parts, depth, last = [], 0, 0
    for m in _COMMA_RE.finditer(args):
        c = m.group()
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                return None
        elif c == "," and depth == 0:
            parts.append(args[last:m.start()])
            last = m.end()
    if depth:
        return None
    parts.append(args[last:])
    return parts


# ---------------------------------------------------------------------------
# Tokenizer (the dialect compiler in dsq_spark.sqlexpr parses these tokens)
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"(?P<skip>\s+|--[^\n]*\n?|/\*(?s:.*?)(?:\*/|\Z))"
    r"|(?P<str>'[^']*(?:''[^']*)*'?)"
    r"|(?P<bt>`[^`]*`?)"
    r"|(?P<num>(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?(?:BD|[dDfFlLsSyY])?)"
    r"|(?P<word>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<op><=>|->>|\|\||<<|>>|<=|>=|<>|!=|==|->|.)")


@dataclass
class Tok:
    kind: str  # 'str' | 'bt' | 'num' | 'word' | 'op'
    text: str
    start: int
    end: int
    low: str = field(default="")


def tokenize(sql: str) -> list[Tok]:
    """Lex into string-literal / backtick-ident / number / word / operator
    tokens (positions kept for byte-exact reconstruction); whitespace and
    SQL comments (`-- …`, `/* … */`) are skipped, so a `/` inside a
    comment or literal never looks like division.  Runs over rewritten
    text, where double-quoted identifiers are already backticked; a
    doubled backtick lexes as two adjacent 'bt' tokens.  Words are ASCII:
    any other letter or digit outside quotes raises ValueError."""
    toks: list[Tok] = []
    for m in _TOKEN_RE.finditer(sql):
        kind = m.lastgroup
        if kind == "skip":
            continue
        text = m.group()
        if kind == "word":
            toks.append(Tok(kind, text, m.start(), m.end(), text.lower()))
            continue
        if kind == "op" and (text.isalpha() or text.isdigit()):
            raise ValueError(f"unexpected character {text!r} at {m.start()}")
        toks.append(Tok(kind, text, m.start(), m.end()))
    return toks
