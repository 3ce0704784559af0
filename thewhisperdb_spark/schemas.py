"""Declared schemas + the lenient-ingest normalization layer.

Mirrors the reference node shape (``include/core/GNode.hpp:49-60``) and its
coercion rules (``src/core/GNode.cpp:7-60``): course accepts string ints and
falls back to 0, tags accept a CSV string or an array, date defaults to "now"
formatted ``yyyy-MM-dd HH:mm:ss``, unknown fields are dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
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
