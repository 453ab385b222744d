"""SQLite JSON1 mutation family: json_set / json_insert / json_replace /
json_remove / json_patch, plus the json_tree table-valued function.

The reference passes these straight to SQLite's bundled JSON1
(/root/reference/go.mod:78; README.md JSON section 389-403).  Generic JSON
mutation over documents of *unknown* schema is the one JSON shape Spark's
built-ins cannot express (from_json needs a schema; get_json_object is
read-only), so this is an explicit slow-path exception per SURVEY §3:
Arrow-batched Pandas UDFs wrap the pure-Python engine below.  The engine is
written to SQLite's documented semantics (sqlite.org/json1.html) and every
behavior here is pinned against the stdlib ``sqlite3`` module in
tests/test_json1.py — the probe matrix that drove the implementation:

  * json_set creates missing elements INCLUDING whole missing chains
    ('$.a.b.c' on '{}' → '{"a":{"b":{"c":1}}}', '$.a[0].b' → '{"a":[{"b":1}]}'),
    but never descends through an existing element of the wrong type
    ('$.a.b' where a is a scalar → no-op, silently).
  * Array index semantics: idx < len replaces, idx == len appends,
    idx > len is a silent no-op; '[#]' is len (append); '[#-n]' is len-n.
  * json_insert only creates, json_replace only overwrites, json_set does
    both; multiple (path, value) pairs apply strictly left-to-right on the
    intermediate result (json_remove path indexes shift the same way).
  * json_remove of '$' yields SQL NULL.
  * json_patch is RFC 7396 MergePatch: null removes, non-object patch
    replaces, nulls inside inserted sub-objects are stripped recursively,
    arrays replace wholesale.
  * Untouched regions keep their source NUMBER text verbatim (1.50 stays
    "1.50") — modeled with RawNum wrappers.  Untouched STRING escape
    sequences are re-serialized to canonical JSON escaping (SQLite keeps
    the source bytes) — documented delta, semantically equal JSON.
  * Inserted SQL values arrive pre-serialized as JSON text (the rewriter
    wraps them in to_json — see dsq_spark.functions._jq); inserted doubles
    in scientific notation are re-rendered with SQLite's "%!.15g + force
    .0" rule so 1e20 prints "1.0e+20" as SQLite does.
  * Malformed input JSON → SQL NULL (SQLite raises; same delta as our
    json() — Spark jobs must not abort on one bad row).
"""

from __future__ import annotations

import json
import re

__all__ = [
    "json_set_text", "json_insert_text", "json_replace_text",
    "json_remove_text", "json_patch_text", "json_tree_rows",
    "json_each_rows",
]


class RawNum(str):
    """A JSON number kept as its verbatim source text."""
    __slots__ = ()


class InsNum(str):
    """A number inside an *inserted* value: scientific notation is
    re-rendered the way SQLite prints doubles."""
    __slots__ = ()


def _sqlite_double(x: float) -> str:
    s = "%.15g" % x
    if "e" in s or "E" in s:
        mant, _, exp = s.partition("e" if "e" in s else "E")
        if "." not in mant:
            mant += ".0"
        return f"{mant}e{exp}"
    if "." not in s:
        s += ".0"
    return s


def _reject_constant(_):
    raise ValueError("Infinity/NaN are not JSON")


def _loads_doc(text: str):
    return json.loads(text, parse_float=RawNum, parse_int=RawNum,
                      parse_constant=_reject_constant)


def _loads_value(text: str):
    return json.loads(text, parse_float=InsNum, parse_int=RawNum,
                      parse_constant=_reject_constant)


def _dump(v, out: list) -> None:
    if v is None:
        out.append("null")
    elif v is True:
        out.append("true")
    elif v is False:
        out.append("false")
    elif isinstance(v, InsNum):
        out.append(_sqlite_double(float(v)) if "e" in v or "E" in v else str(v))
    elif isinstance(v, RawNum):
        out.append(str(v))
    elif isinstance(v, str):
        out.append(json.dumps(v, ensure_ascii=False))
    elif isinstance(v, (int, float)):
        out.append(_sqlite_double(v) if isinstance(v, float) else str(v))
    elif isinstance(v, list):
        out.append("[")
        for i, e in enumerate(v):
            if i:
                out.append(",")
            _dump(e, out)
        out.append("]")
    else:
        out.append("{")
        for i, (k, e) in enumerate(v.items()):
            if i:
                out.append(",")
            out.append(json.dumps(k, ensure_ascii=False))
            out.append(":")
            _dump(e, out)
        out.append("}")


def _dumps(v) -> str:
    out: list = []
    _dump(v, out)
    return "".join(out)


class PathError(ValueError):
    pass


# steps: ('k', name) object member | ('i', n) array index | ('e', n) len-n
def parse_path(p: str) -> list[tuple]:
    if not p.startswith("$"):
        raise PathError(p)
    steps, i, n = [], 1, len(p)
    while i < n:
        c = p[i]
        if c == ".":
            i += 1
            if i < n and p[i] == '"':
                j = p.find('"', i + 1)
                if j < 0:
                    raise PathError(p)
                steps.append(("k", p[i + 1:j]))
                i = j + 1
            else:
                j = i
                while j < n and p[j] not in ".[":
                    j += 1
                if j == i:
                    raise PathError(p)
                steps.append(("k", p[i:j]))
                i = j
        elif c == "[":
            j = p.find("]", i)
            if j < 0:
                raise PathError(p)
            tok = p[i + 1:j].strip()
            if tok == "#":
                steps.append(("e", 0))
            elif tok.startswith("#-"):
                steps.append(("e", int(tok[2:])))
            else:
                steps.append(("i", int(tok)))
            i = j + 1
        else:
            raise PathError(p)
    return steps


_SKIP = object()  # navigation failed → silently skip this (path, value) pair


def _build_chain(steps: list[tuple], value):
    """Containers for a wholly-missing tail, built bottom-up.  Only literal
    array index 0 is creatable — SQLite refuses to create through a '#'
    step ('$.a.y[#]' on '{}' and even on '{"a":{}}' is a no-op, while
    '$.a.y[0]' creates '{"a":{"y":[1]}}' — probed on 3.40)."""
    node = value
    for kind, v in reversed(steps):
        if kind == "k":
            node = {v: node}
        elif kind == "i" and v == 0:
            node = [node]
        else:
            return _SKIP
    return node


def _apply_pair(doc, steps: list[tuple], value, mode: str):
    """One (path, value) application; returns the (possibly new) doc."""
    if not steps:
        return doc if mode == "insert" else value

    def rec(node, k: int) -> None:
        kind, sv = steps[k]
        last = k == len(steps) - 1
        if kind == "k":
            if not isinstance(node, dict):
                return
            if last:
                if sv in node:
                    if mode != "insert":
                        node[sv] = value
                elif mode != "replace":
                    node[sv] = value
                return
            if sv in node:
                child = node[sv]
                if isinstance(child, (dict, list)):
                    rec(child, k + 1)
                return
            if mode != "replace":
                built = _build_chain(steps[k + 1:], value)
                if built is not _SKIP:
                    node[sv] = built
        else:
            if not isinstance(node, list):
                return
            idx = sv if kind == "i" else len(node) - sv
            if last:
                if 0 <= idx < len(node):
                    if mode != "insert":
                        node[idx] = value
                elif idx == len(node) and mode != "replace":
                    node.append(value)
                return
            if 0 <= idx < len(node):
                child = node[idx]
                if isinstance(child, (dict, list)):
                    rec(child, k + 1)
                return
            if idx == len(node) and mode != "replace":
                built = _build_chain(steps[k + 1:], value)
                if built is not _SKIP:
                    node.append(built)

    if isinstance(doc, (dict, list)):
        rec(doc, 0)
    return doc


def _num_text(v) -> str:
    if isinstance(v, InsNum):
        return _sqlite_double(float(v)) if "e" in v or "E" in v else str(v)
    return str(v)


def _mutate(mode: str, j, args, strict: bool = False) -> str | None:
    """args alternates [path1, value1_json, path2, value2_json, ...].
    ``strict`` reproduces SQLite's LOUDNESS: malformed JSON / bad paths
    RAISE (surfacing as a query error like the reference's runner shows)
    instead of the engine's default silent NULL."""
    if j is None:
        return None
    try:
        doc = _loads_doc(j)
    except ValueError:
        if strict:
            raise ValueError(f"malformed JSON: {j!r:.80}")
        return None
    root_scalar = False  # root replaced by a scalar → surface the SQL value
    try:
        for p, v in zip(args[::2], args[1::2]):
            steps = parse_path(p)
            value = _loads_value(v) if v is not None else None
            if not steps and mode != "insert":
                # root replacement: SQLite returns the VALUE itself — raw
                # (unquoted) text for strings, SQL NULL for null
                doc = value
                root_scalar = not isinstance(value, (dict, list))
            else:
                doc = _apply_pair(doc, steps, value, mode)
    except (PathError, ValueError) as ex:
        if strict:
            raise ValueError(f"JSON path error: {ex}")
        return None
    if root_scalar:
        if doc is None:
            return None
        if doc is True:
            return "true"
        if doc is False:
            return "false"
        if isinstance(doc, (RawNum, InsNum)):
            return _num_text(doc)
        return str(doc)
    return _dumps(doc)


def json_set_text(j, args, strict: bool = False):
    return _mutate("set", j, args, strict)


def json_insert_text(j, args, strict: bool = False):
    return _mutate("insert", j, args, strict)


def json_replace_text(j, args, strict: bool = False):
    return _mutate("replace", j, args, strict)


def json_remove_text(j, paths, strict: bool = False) -> str | None:
    if j is None:
        return None
    try:
        doc = _loads_doc(j)
    except ValueError:
        if strict:
            raise ValueError(f"malformed JSON: {j!r:.80}")
        return None
    try:
        parsed = [parse_path(p) for p in paths]
    except PathError as ex:
        if strict:
            raise ValueError(f"JSON path error: {ex}")
        return None
    for steps in parsed:
        if not steps:
            return None  # json_remove(x, '$') is SQL NULL
        node, ok = doc, True
        for kind, sv in steps[:-1]:
            if kind == "k":
                if not isinstance(node, dict) or sv not in node:
                    ok = False
                    break
                node = node[sv]
            else:
                idx = sv if kind == "i" else (len(node) - sv
                                              if isinstance(node, list) else -1)
                if not isinstance(node, list) or not 0 <= idx < len(node):
                    ok = False
                    break
                node = node[idx]
        if not ok:
            continue
        kind, sv = steps[-1]
        if kind == "k":
            if isinstance(node, dict):
                node.pop(sv, None)
        elif isinstance(node, list):
            idx = sv if kind == "i" else len(node) - sv
            if 0 <= idx < len(node):
                del node[idx]
    return _dumps(doc)


def _strip_nulls(v):
    if isinstance(v, dict):
        return {k: _strip_nulls(e) for k, e in v.items() if e is not None}
    return v


def _merge_patch(target, patch):
    if not isinstance(patch, dict):
        return patch
    if not isinstance(target, dict):
        target = {}
    for k, v in patch.items():
        if v is None:
            target.pop(k, None)
        elif isinstance(v, dict):
            target[k] = _merge_patch(target.get(k), v)
        else:
            target[k] = _strip_nulls(v)
    return target


def json_patch_text(a, b, strict: bool = False) -> str | None:
    if a is None or b is None:
        return None
    try:
        return _dumps(_merge_patch(_loads_doc(a), _loads_doc(b)))
    except ValueError:
        if strict:
            raise ValueError("malformed JSON in json_patch()")
        return None


# --------------------------------------------------------------------------
# json_tree: recursive DFS pre-order walk.  Columns mirror SQLite's key /
# value / type / atom / id / parent / fullkey / path; deltas (same family
# as json_each, rewrite.py:_rewrite_json_each): key and value surface as
# TEXT (SQLite uses dynamic SQL values: integer array keys, unquoted
# strings — the TEXT projections here print identically), booleans print
# as 1/0 exactly like SQLite's SQL-value projection.
#
# id/parent reproduce SQLite's node-array rowids (probed on the stdlib
# sqlite3, 3.40 text-parser lineage): ids are assigned in document order
# where every JSON value occupies one slot and every OBJECT KEY occupies
# one extra slot just before its value — `{"a":[1,2],"b":1}` numbers
# root=0, key a=1(hidden), [1,2]=2, 1=3, 2=4, key b=5(hidden), 1=6.  With
# a path argument the numbering still runs from the DOCUMENT root (the
# start row keeps its global id, parent NULL) — so the descent below
# counts the subtree sizes of everything it skips.
# --------------------------------------------------------------------------

_BARE_KEY = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _scalar_text(v):
    """The TEXT print of the SQL value SQLite projects: booleans as 1/0,
    reals re-rendered as REAL values (source "1.50" prints 1.5), integers
    and strings verbatim."""
    if v is None:
        return None
    if v is True:
        return "1"
    if v is False:
        return "0"
    if isinstance(v, RawNum):
        return str(v) if re.fullmatch(r"-?\d+", v) else _sqlite_double(float(v))
    return v  # str


def _type_of(v) -> str:
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, RawNum):
        return "integer" if re.fullmatch(r"-?\d+", v) else "real"
    if isinstance(v, str):
        return "text"
    if isinstance(v, list):
        return "array"
    return "object"


def _key_seg(k: str) -> str:
    return f".{k}" if _BARE_KEY.match(k) else f'."{k}"'


def _node_size(node) -> int:
    """Slots a subtree occupies in SQLite's node array: one per value
    plus one per object key."""
    if isinstance(node, dict):
        return 1 + sum(1 + _node_size(v) for v in node.values())
    if isinstance(node, list) and not isinstance(node, str):
        return 1 + sum(_node_size(v) for v in node)
    return 1


def _resolve_start(j, path, rebase_index=True, strict=False):
    """Shared json_each/json_tree start-node resolution: parse the doc,
    descend `path` while counting skipped node-array slots (ids number
    from the DOCUMENT root even under a path — probed).  Returns
    (node, start_id, fullkey, start_key) or None for malformed JSON /
    missing path.  `rebase_index` reproduces json_tree's probed quirk of
    rewriting an array-index step to '[0]' in fullkey; json_each keeps
    the true index ('$[1]' start → fullkey '$[1]')."""
    if j is None:
        return None
    try:
        doc = _loads_doc(j)
    except ValueError:
        if strict:
            raise ValueError(f"malformed JSON: {j!r:.80}")
        return None
    fullkey, start_key, start_id = "$", None, 0
    if path is not None and path != "$":
        try:
            steps = parse_path(path)
        except PathError as ex:
            if strict:
                raise ValueError(f"JSON path error: {ex}")
            return None
        node = doc
        last_was_key = False
        for kind, sv in steps:
            if kind == "k":
                if not isinstance(node, dict) or sv not in node:
                    return None
                pos = start_id + 1  # first key slot inside this object
                for k, v in node.items():
                    if k == sv:
                        start_id = pos + 1  # key at pos, value follows
                        break
                    pos += 1 + _node_size(v)
                node = node[sv]
                fullkey += _key_seg(sv)
                start_key, last_was_key = sv, True
            else:
                idx = sv if kind == "i" else (len(node) - sv
                                              if isinstance(node, list) else -1)
                if not isinstance(node, list) or not 0 <= idx < len(node):
                    return None
                pos = start_id + 1
                for i, v in enumerate(node):
                    if i == idx:
                        start_id = pos
                        break
                    pos += _node_size(v)
                node = node[idx]
                # SQLite quirk (probed on 3.40): a json_tree array-index
                # start is REBASED — the selected element walks as if it
                # were element [0]; json_each keeps the real index
                fullkey += "[0]" if rebase_index else f"[{idx}]"
                start_key, last_was_key = None, False
        doc = node
        # start-row key: only a container reached via an object key keeps
        # its key; scalars and array-index starts report NULL (probed)
        if not last_was_key or not isinstance(node, (dict, list)) \
                or isinstance(node, str):
            start_key = None
    return doc, start_id, fullkey, start_key


def json_tree_rows(j, path=None, strict=False):
    """list of (key, value, type, atom, id, parent, fullkey, path) rows,
    DFS pre-order; None (empty result) for malformed JSON or a
    non-existent start path."""
    start = _resolve_start(j, path, strict=strict)
    if start is None:
        return None
    doc, start_id, fullkey, start_key = start

    rows: list[tuple] = []

    def walk(node, key, fk: str, parent_fk: str, nid: int,
             parent_id) -> None:
        is_container = isinstance(node, (dict, list)) and not isinstance(node, str)
        value = _dumps(node) if is_container else _scalar_text(node)
        atom = None if is_container else value
        rows.append((key, value, _type_of(node), atom, nid, parent_id,
                     fk, parent_fk))
        if isinstance(node, dict):
            pos = nid + 1
            for k, v in node.items():
                walk(v, k, fk + _key_seg(k), fk, pos + 1, nid)
                pos += 1 + _node_size(v)
        elif isinstance(node, list):
            pos = nid + 1
            for i, v in enumerate(node):
                walk(v, str(i), f"{fk}[{i}]", fk, pos, nid)
                pos += _node_size(v)

    parent = fullkey.rsplit("[", 1)[0] if fullkey.endswith("]") else \
        (fullkey[:fullkey.rfind(".")] if "." in fullkey else "$")
    walk(doc, start_key, fullkey, parent if fullkey != "$" else "$",
         start_id, None)
    return rows


def json_each_rows(j, path=None, strict=False):
    """SQLite json_each: DIRECT children of the (path-resolved) node — or
    the scalar itself as one row with a NULL key (even when reached via an
    object key — probed).  Same 8 columns as json_tree; `parent` is
    always NULL and ids use the same document-rooted node-array numbering
    ('{"a":[1,2],"b":…}' children get ids 2 and 6)."""
    start = _resolve_start(j, path, rebase_index=False, strict=strict)
    if start is None:
        return None
    doc, start_id, fullkey, _start_key = start

    def row(node, key, nid, fk):
        is_container = (isinstance(node, (dict, list))
                        and not isinstance(node, str))
        value = _dumps(node) if is_container else _scalar_text(node)
        atom = None if is_container else value
        return (key, value, _type_of(node), atom, nid, None, fk, fullkey)

    if isinstance(node_ := doc, dict):
        rows, pos = [], start_id + 1
        for k, v in node_.items():
            rows.append(row(v, k, pos + 1, fullkey + _key_seg(k)))
            pos += 1 + _node_size(v)
        return rows
    if isinstance(doc, list) and not isinstance(doc, str):
        rows, pos = [], start_id + 1
        for i, v in enumerate(doc):
            rows.append(row(v, str(i), pos, f"{fullkey}[{i}]"))
            pos += _node_size(v)
        return rows
    return [row(doc, None, start_id, fullkey)]


# --------------------------------------------------------------------------
# Spark registration: Arrow-batched Pandas UDFs for the scalar mutators
# (string in → string out, vectorized transfer), a row UDF for json_tree
# (nested array<struct> return).  Registered by functions.register_all so
# both spark.sql and the CLI see them; the rewriter (AGG_ALIASES) compiles
# the user-facing variadic spellings into these fixed signatures.
# --------------------------------------------------------------------------


def register_json1(spark, strict: bool = False) -> None:
    """``strict`` bakes SQLite's loudness into the registered closures
    (cloudpickle ships the flag to executors — a module global would
    reset on re-import in the Python workers): malformed JSON / bad paths
    raise, surfacing as a query error like the reference's runner shows,
    instead of the default silent NULL / zero rows."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (ArrayType, StringType, StructField,
                                   StructType)

    def vec2(fn):
        # no type annotations: returnType is passed explicitly, and local
        # string hints break pandas_udf's hint inference
        def run(j, args):
            return pd.Series(
                [fn(a, list(b) if b is not None else [], strict)
                 for a, b in zip(j, args)], dtype=object)
        return run

    spark.udf.register("dsq_json_set",
                       pandas_udf(vec2(json_set_text), StringType()))
    spark.udf.register("dsq_json_insert",
                       pandas_udf(vec2(json_insert_text), StringType()))
    spark.udf.register("dsq_json_replace",
                       pandas_udf(vec2(json_replace_text), StringType()))
    spark.udf.register("dsq_json_remove",
                       pandas_udf(vec2(json_remove_text), StringType()))

    def patch(a, b):
        return pd.Series([json_patch_text(x, y, strict) for x, y in zip(a, b)],
                         dtype=object)

    spark.udf.register("json_patch", pandas_udf(patch, StringType()))

    from pyspark.sql.types import LongType

    tree_schema = ArrayType(StructType([
        StructField("key", StringType()),
        StructField("value", StringType()),
        StructField("type", StringType()),
        StructField("atom", StringType()),
        StructField("id", LongType()),
        StructField("parent", LongType()),
        StructField("fullkey", StringType()),
        StructField("path", StringType()),
    ]))
    def tree_rows(j, path):
        return json_tree_rows(j, path, strict)

    def each_rows(j, path):
        return json_each_rows(j, path, strict)

    spark.udf.register("dsq_json_tree", tree_rows, tree_schema)
    # json_each's FULL-column lowering (used by the rewriter when the
    # query references type/atom/id/parent/fullkey/path, or uses the
    # 2-arg path form — the common key/value case keeps the pure-Catalyst
    # entries-array lowering)
    spark.udf.register("dsq_json_each", each_rows, tree_schema)
