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
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _escape_key(key: str) -> str:
    # A literal "." in a source column name is escaped, mirroring the
    # reference's `\.` convention (README.md:341-358).
    return key.replace(".", "\\.")


def flatten(df: DataFrame, serialize_arrays: bool = True) -> DataFrame:
    """Flatten struct columns to dotted top-level columns; serialize arrays
    (and maps) to JSON strings. Scalars pass through unchanged, and a frame
    of scalars only, with no "." in a name, is returned as it is."""
    fields = df.schema.fields
    if not any(isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
               or "." in f.name for f in fields):
        return df
    cols = []

    def walk(col, dtype, name_parts):
        name = ".".join(name_parts)
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                walk(col.getField(f.name), f.dataType,
                     name_parts + [_escape_key(f.name)])
        elif isinstance(dtype, (T.ArrayType, T.MapType)) and serialize_arrays:
            cols.append(F.to_json(col).alias(name))
        else:
            cols.append(col.alias(name))

    for f in fields:
        # Backtick-quote so a literal "." in a source column name is not
        # parsed as struct access.
        walk(F.col("`" + f.name + "`"), f.dataType, [_escape_key(f.name)])
    return df.select(*cols)
