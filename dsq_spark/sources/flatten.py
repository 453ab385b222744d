"""dsq data-model shims: nested-object flattening and array serialization.

Reference semantics (SURVEY.md §1.2; reference README.md:304-403,
scripts/test.py:141-145, sqlite.go:133-142):
  * nested objects become top-level columns named by the dotted JSON path
    ("location.city"); literal dots in a source key are backslash-escaped;
  * nested arrays are serialized to JSON strings at ingest and queried with
    JSON operators.

Both are pure Catalyst projections (column pruning still reaches the scan:
selecting `location.city` prunes to that struct field), so flattening costs
nothing at scale — it is just a rename of the struct leaves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _escape_key(key: str) -> str:
    # A literal "." in a source column name is escaped, mirroring the
    # reference's `\.` convention (README.md:341-358).
    return key.replace(".", "\\.")


def _quote(name: str) -> str:
    """`name` as one backtick-quoted SQL identifier part, so a literal "."
    in it is not parsed as struct access."""
    return "`" + name.replace("`", "``") + "`"


def flatten(df: DataFrame, serialize_arrays: bool = True) -> DataFrame:
    """Flatten struct columns to dotted top-level columns; serialize arrays
    (and maps) to JSON strings. Scalars pass through unchanged, and a frame
    of scalars only, with no "." in a name, is returned as it is.

    The projection is one selectExpr of backtick-quoted SQL, which costs a
    py4j round trip per output column: 15 for a users JSON that flattens
    to 7 columns, where Column objects (col, getField, alias) cost 290."""
    fields = df.schema.fields
    if not any(isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
               or "." in f.name for f in fields):
        return df
    exprs = []

    def walk(sql, dtype, name):
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                walk(sql + "." + _quote(f.name), f.dataType, name + "." + _escape_key(f.name))
        elif isinstance(dtype, (T.ArrayType, T.MapType)) and serialize_arrays:
            exprs.append(f"to_json({sql}) AS {_quote(name)}")
        else:
            exprs.append(f"{sql} AS {_quote(name)}")

    for f in fields:
        walk(_quote(f.name), f.dataType, _escape_key(f.name))
    return df.selectExpr(*exprs)
