"""Declared schemas + the lenient-ingest normalization layer.

Mirrors the reference node shape (``include/core/GNode.hpp:49-60``) and its
coercion rules (``src/core/GNode.cpp:7-60``): course accepts string ints and
falls back to 0, tags accept a CSV string or an array, date defaults to "now"
formatted ``yyyy-MM-dd HH:mm:ss``, unknown fields are dropped.

``sql_literal`` is the one way a Python value enters SQL text: the request
path builds its plans as SQL strings (a handful of JVM calls per plan,
where Column builders cost one or more per node), and every value in those
strings comes from here.
"""

from __future__ import annotations

import base64
import json
import operator
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

NODE_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("title", StringType(), False),
        StructField("author", StringType(), True),
        StructField("subject", StringType(), True),
        StructField("course", IntegerType(), True),
        StructField("description", StringType(), True),
        StructField("date", StringType(), True),  # 'yyyy-MM-dd HH:mm:ss'
        StructField("tags", ArrayType(StringType()), True),
        StructField("storage_path", StringType(), True),
        StructField("linked_nodes", ArrayType(LongType()), True),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)

EDGE_SCHEMA = StructType(
    [StructField("src", LongType(), False), StructField("dst", LongType(), False)]
)

NODE_FILES_SCHEMA = StructType(
    [StructField("node_id", LongType(), False), StructField("file_path", StringType(), False)]
)

TAG_BANK_SCHEMA = StructType([StructField("tag", StringType(), False)])

REQUIRED_NODE_FIELDS = ("title", "author", "subject")


def _fits(value: int, bits: int) -> bool:
    """Whether ``value`` fits a signed ``bits``-bit column (32: course,
    limit/offset/k; 64: ids). A wider Python int would fail the lazy
    column cast at every later read (CAST_OVERFLOW under ANSI) or reach
    the JVM as a type no method accepts."""
    return -(1 << (bits - 1)) <= value < (1 << (bits - 1))


def _json_type(t: DataType, widen: bool) -> DataType:
    """``t`` with every nested field nullable (``from_json``'s output is)
    and, when ``widen``, every float widened to double."""
    if isinstance(t, ArrayType):
        return ArrayType(_json_type(t.elementType, widen), True)
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _json_type(f.dataType, widen))
                           for f in t.fields])
    return DoubleType() if widen and isinstance(t, FloatType) else t


def _lit_type(value: Any) -> DataType:
    """The type ``F.lit(value)`` gives a scalar."""
    if isinstance(value, bool):
        return BooleanType()
    if isinstance(value, int):
        return IntegerType() if _fits(value, 32) else LongType()
    if isinstance(value, float):
        return DoubleType()
    if isinstance(value, str):
        return StringType()
    raise TypeError(f"no SQL literal for a {type(value).__name__}")


def sql_literal(value: Any, dtype: DataType | None = None) -> str:
    """SQL text of ``value`` as a ``dtype`` value (default: the type
    ``F.lit(value)`` would have). The only way a Python value enters the
    SQL text of a plan:

    - NULL is ``CAST(NULL AS <type>)``;
    - an integer of an int/bigint type is interpolated as the digits of a
      range-checked Python int (``operator.index``: no str, float or bool);
    - anything else is a base64 JSON payload parsed by ``from_json`` in
      FAILFAST mode, so a value that does not fit the type raises instead
      of reading as NULL. Floats are parsed as double and then cast to the
      column type, so stored bits match ``F.lit(v).cast(t)``, NaN and
      ±inf included.

    The payload's alphabet is ``[A-Za-z0-9+/=]`` and the type text comes
    from schema constants, so no request byte can close a SQL literal."""
    if dtype is None:
        dtype = _lit_type(value)
    ddl = _json_type(dtype, widen=False).simpleString()
    if value is None:
        return f"CAST(NULL AS {ddl})"
    if isinstance(dtype, (IntegerType, LongType)):
        if isinstance(value, bool):
            raise TypeError("a bool is not an integer literal")
        n = operator.index(value)
        if not _fits(n, 64 if isinstance(dtype, LongType) else 32):
            raise ValueError(f"{n} does not fit {ddl}")
        return f"CAST({n} AS {ddl})"
    payload = base64.b64encode(json.dumps({"v": value}).encode()).decode()
    parsed = _json_type(dtype, widen=True).simpleString()
    text = (f"from_json(cast(unbase64('{payload}') as string), "
            f"'v {parsed}', map('mode','FAILFAST')).v")
    return text if parsed == ddl else f"CAST({text} AS {ddl})"


def sql_name(name: str) -> str:
    """A column name (always a schema or operator constant, never request
    data) as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def coerce_course(col: Column) -> Column:
    """String/int -> int with 0 fallback (``src/core/GNode.cpp:10-24``)."""
    return F.coalesce(col.try_cast("int"), F.lit(0))


def coerce_tags_csv(col: Column) -> Column:
    """CSV string -> trimmed non-empty array (``src/core/GNode.cpp:32-48``).

    The array-typed leniency (tags may arrive as array OR CSV string in the
    same JSON field) is a dynamic-typing property; on typed DataFrames it is
    resolved at ingest (``crud.ingest_node`` normalizes Python values before
    they become a Row).
    """
    trimmed = F.transform(F.split(col, ","), lambda t: F.trim(t))
    return F.filter(trimmed, lambda t: t != F.lit(""))


def normalize_tag(col: Column) -> Column:
    """lowercase, whitespace-runs -> '-', strip trailing '-'
    (``src/tagging/TagClient.cpp:101-124``)."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, r"\s+", "-")
    return F.regexp_replace(c, r"-+$", "")


def default_date() -> Column:
    """'now' in the reference's date format (``src/server/UploadHandler.cpp:44-49``).

    Lexicographic order on this format equals chronological order, which is why
    the reference can sort dates as strings (``src/core/GraphDB.cpp:75-76``).
    """
    return F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")


def normalize_nodes(df: DataFrame) -> DataFrame:
    """Lenient-ingest normalization: project to NODE_SCHEMA, applying the
    reference's coercions; unknown columns are dropped (select-list projection
    is the columnar analog of the constructor's field whitelist)."""
    cols = {f.name for f in NODE_SCHEMA.fields}
    present = set(df.columns)
    out = df
    if "course" in present:
        out = out.withColumn("course", coerce_course(F.col("course")))
    if "tags" in present:
        out = out.withColumn("tags", F.filter(
            F.transform(F.col("tags").cast("array<string>"), lambda t: F.trim(t)),
            lambda t: t != F.lit("")))
    if "date" in present:
        out = out.withColumn("date", F.coalesce(F.col("date").cast("string"), default_date()))
    selected = []
    for f in NODE_SCHEMA.fields:
        if f.name in present:
            selected.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            selected.append(F.lit(None).cast(f.dataType).alias(f.name))
    out = out.select(*selected)
    _ = cols
    return out
