"""Filter surface (SURVEY §2.2, F1-F10).

The reference evaluates a whitelisted AND-conjunction of up to five predicates
by full scan (``src/core/GraphDB.cpp:111-139``; whitelist ``src/main.cpp:72-78``).
Declared as Catalyst predicates these get predicate pushdown + column pruning
at the Parquet scan for free — the 100 TB version never reads non-matching row
groups, which is the whole point of re-expressing the scan declaratively.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from thewhisperdb_spark.schemas import _fits


def eq_filter(col: str, value) -> Column:
    """String/int equality (F1/F2/F3: subject, author, course —
    ``src/core/GraphDB.cpp:115-122``)."""
    return F.col(col) == F.lit(value)


def course_filter(value: str | int) -> Column:
    """Course filter parses its argument to int; unparseable (or outside the
    int32 course column) excludes every row (``src/core/GraphDB.cpp:119-122``)."""
    try:
        c = int(value)
    except (TypeError, ValueError):
        return F.lit(False)
    return F.col("course") == c if _fits(c, 32) else F.lit(False)


def contains_filter(col: str, needle: str) -> Column:
    """Substring match, NOT equality (F4: title — ``src/core/GraphDB.cpp:123-125``)."""
    return F.col(col).contains(needle)


def tag_filter(tag: str, col: str = "tags") -> Column:
    """Array membership (F5 — ``src/core/GraphDB.cpp:126-131``)."""
    return F.array_contains(F.col(col), tag)


def has_embedding(col: str = "embedding") -> Column:
    """Non-empty embedding array (F10 — ``include/core/GNode.hpp:31``)."""
    c = F.col(col)
    return c.isNotNull() & (F.size(c) > 0)


def conjunction(*preds: Column) -> Column:
    """AND of predicates (F6 — ``src/core/GraphDB.cpp:114-134``). Catalyst
    reorders/pushes these; the reference's early-exit ``break`` is the
    row-at-a-time analog of short-circuit predicate evaluation."""
    out = F.lit(True)
    for p in preds:
        out = out & p
    return out


# Reference filter-key whitelist (src/main.cpp:72-78) mapped to predicate builders.
_FILTER_BUILDERS = {
    "subject": lambda v: eq_filter("subject", v),
    "author": lambda v: eq_filter("author", v),
    "course": course_filter,
    "title": lambda v: contains_filter("title", v),
    "tag": tag_filter,
}


def find_nodes(df: DataFrame, filters: Mapping[str, str]) -> DataFrame:
    """The reference's ``findNodes``: whitelisted conjunction over the node set.
    Unknown filter keys are ignored (the reference's handler never forwards
    them)."""
    preds = [_FILTER_BUILDERS[k](v) for k, v in filters.items() if k in _FILTER_BUILDERS]
    return df.filter(conjunction(*preds)) if preds else df


def point_lookup(df: DataFrame, node_id: int, id_col: str = "id") -> DataFrame:
    """PK lookup (F7 — ``src/core/GraphDB.cpp:30-38``). Missing id -> empty
    DataFrame; the API layer raises, matching the reference's throw."""
    return df.filter(F.col(id_col) == F.lit(node_id))


def exists(df: DataFrame, node_id: int, id_col: str = "id") -> bool:
    """Id presence test (F8 — ``src/core/GraphDB.cpp:40-43``): one
    CollectLimit action that stops at the first hit."""
    return bool(df.filter(F.col(id_col) == F.lit(node_id)).select(id_col).take(1))
