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
from collections.abc import Iterator
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
# Tokenizer (the rewrite's token pass and the dialect compiler in
# dsq_spark.sqlexpr read these tokens)
# ---------------------------------------------------------------------------

# An unquoted identifier, by SQLite's rule: any character at or above
# U+0080 is an identifier character, like an ASCII letter or `_`.
WORD = r"[A-Za-z_\u0080-\U0010FFFF][A-Za-z0-9_\u0080-\U0010FFFF]*"

_TOKEN_RE = re.compile(
    r"(?P<skip>\s+|--[^\n]*\n?|/\*(?s:.*?)(?:\*/|\Z))"
    r"|(?P<str>'[^']*(?:''[^']*)*'?)"
    r'|(?P<dq>"[^"]*(?:""[^"]*)*"?)'
    r"|(?P<bt>`[^`]*`?)"
    r"|(?P<hex>0[xX][0-9A-Fa-f]+)"
    r"|(?P<num>(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?(?:BD|[dDfFlLsSyY])?)"
    rf"|(?P<word>{WORD})"
    r"|(?P<op><=>|->>|\|\||<<|>>|<=|>=|<>|!=|==|->|.)")


@dataclass(slots=True)
class Tok:
    kind: str  # 'str' | 'dq' | 'bt' | 'hex' | 'num' | 'word' | 'op'
    text: str
    start: int
    end: int
    low: str = field(default="")


def tokenize(sql: str) -> list[Tok]:
    """Lex into string-literal / `"…"` ident / backtick-ident / hex
    integer (`0x1F`) / number / word / operator tokens.  Whitespace and
    SQL comments (`-- …`, `/* … */`) are skipped, so a `/` inside a
    comment or literal never looks like division; each token keeps its
    position, so the tokens and the text between them give back ``sql``
    byte for byte.  A `"…"` ident ends at its first lone `"` (`""`
    escapes one); a doubled backtick lexes as two adjacent 'bt' tokens.
    A number may carry a Spark literal suffix (`1.5D`), because the
    dialect compiler lexes rewritten text.  A word follows SQLite's
    identifier rule (WORD), so `naïve` is one word; every other character
    is a one-character operator token, and nothing raises."""
    toks: list[Tok] = []
    for m in _TOKEN_RE.finditer(sql):
        kind = m.lastgroup
        if kind == "skip":
            continue
        text = m.group()
        low = text.lower() if kind == "word" else ""
        toks.append(Tok(kind, text, m.start(), m.end(), low))
    return toks


# ---------------------------------------------------------------------------
# Structure over tokens: parentheses, depth-0 words, depth-0 commas and
# function calls.  A parenthesis or comma inside a literal, a quoted name
# or a comment is no token of its own, so none of these can miscount it.
# ---------------------------------------------------------------------------

def scan_words(toks: list[Tok], lo: int, hi: int, words) -> list[int]:
    """Indices of the depth-0 word tokens in ``toks[lo:hi]`` whose ``low``
    is in ``words``.  A `from` directly after the word `distinct` belongs
    to `IS [NOT] DISTINCT FROM`, not to a FROM clause, and is skipped."""
    out, depth = [], 0
    for ix in range(lo, hi):
        t = toks[ix]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif (depth == 0 and t.kind == "word" and t.low in words
              and not (t.low == "from" and ix
                       and toks[ix - 1].low == "distinct")):
            out.append(ix)
    return out


def match_paren(toks: list[Tok], i: int, hi: int) -> int | None:
    """Index of the `)` token closing the `(` token at ``i``, searched
    before ``hi``; None when it is not closed there."""
    depth = 0
    for ix in range(i, hi):
        if toks[ix].text == "(":
            depth += 1
        elif toks[ix].text == ")":
            depth -= 1
            if depth == 0:
                return ix
    return None


def split_items(toks: list[Tok], lo: int, hi: int) -> list[tuple[int, int]]:
    """Split the token range [lo, hi) on its depth-0 commas: one (a, b)
    range per item, an empty range for an empty item."""
    out, depth, start = [], 0, lo
    for ix in range(lo, hi):
        t = toks[ix]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.text == ",":
            out.append((start, ix))
            start = ix + 1
    out.append((start, hi))
    return out


def call_name(toks: list[Tok], i: int) -> str | None:
    """The function that toks[i] calls, lower-cased and unquoted, or None
    when it starts no call.  The one rule for a call: a word or a closed
    backticked name, not after a `.` (`t.f(x)` is no call), whose next
    token is `(`.  A comment between the name and the `(` is whitespace,
    as between any two SQLite tokens: `total /* c */ (a)` is a call."""
    if i + 1 >= len(toks) or toks[i + 1].text != "(" or \
            (i and toks[i - 1].text == "."):
        return None
    t = toks[i]
    if t.kind == "word":
        return t.low
    if t.kind == "bt" and len(t.text) > 2 and t.text[-1] == "`":
        return t.text[1:-1].lower()
    return None


def calls(toks: list[Tok], lo: int, hi: int,
          names=None) -> Iterator[tuple[str, int, int]]:
    """(name, name index, closing-paren index) of each call (call_name)
    in toks[lo:hi], nested ones included, in order; with ``names``, only
    the calls of those names.  A call whose `(` is not closed before
    ``hi`` is skipped."""
    for ix in range(lo, hi):
        name = call_name(toks, ix)
        if name is not None and (names is None or name in names):
            close = match_paren(toks, ix + 1, hi)
            if close is not None:
                yield name, ix, close
