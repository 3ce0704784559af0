"""Filter surface (SURVEY §2.2, F1-F10).

The reference evaluates a whitelisted AND-conjunction of up to five predicates
by full scan (``src/core/GraphDB.cpp:111-139``; whitelist ``src/main.cpp:72-78``).
Declared as Catalyst predicates these get predicate pushdown + column pruning
at the Parquet scan for free — the 100 TB version never reads non-matching row
groups, which is the whole point of re-expressing the scan declaratively.

Each predicate is built as SQL text (``F.expr`` for the Column builders,
one ``filter(str)`` for ``find_nodes``), so a request's filter costs a few
JVM calls whatever its field count. Values enter the text only through
``schemas.sql_literal``; its literals fold to plain constants, so pushdown
is unchanged.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from thewhisperdb_spark.schemas import _fits, sql_literal, sql_name


def _eq_sql(col: str, value) -> str:
    return f"{sql_name(col)} = {sql_literal(value)}"


def _course_sql(value: str | int) -> str:
    try:
        c = int(value)
    except (TypeError, ValueError):
        return "false"
    return f"course = {sql_literal(c)}" if _fits(c, 32) else "false"


def _contains_sql(col: str, needle: str) -> str:
    return f"contains({sql_name(col)}, {sql_literal(needle)})"


def _tag_sql(tag: str, col: str = "tags") -> str:
    return f"array_contains({sql_name(col)}, {sql_literal(tag)})"


def _id_sql(id_col: str, node_id: int) -> str:
    return f"{sql_name(id_col)} = {sql_literal(node_id, LongType())}"


def eq_filter(col: str, value) -> Column:
    """String/int equality (F1/F2/F3: subject, author, course —
    ``src/core/GraphDB.cpp:115-122``)."""
    return F.expr(_eq_sql(col, value))


def course_filter(value: str | int) -> Column:
    """Course filter parses its argument to int; unparseable (or outside the
    int32 course column) excludes every row (``src/core/GraphDB.cpp:119-122``)."""
    return F.expr(_course_sql(value))


def contains_filter(col: str, needle: str) -> Column:
    """Substring match, NOT equality (F4: title — ``src/core/GraphDB.cpp:123-125``)."""
    return F.expr(_contains_sql(col, needle))


def tag_filter(tag: str, col: str = "tags") -> Column:
    """Array membership (F5 — ``src/core/GraphDB.cpp:126-131``)."""
    return F.expr(_tag_sql(tag, col))


def has_embedding(col: str = "embedding") -> Column:
    """Non-empty embedding array (F10 — ``include/core/GNode.hpp:31``)."""
    c = sql_name(col)
    return F.expr(f"{c} IS NOT NULL AND size({c}) > 0")


def conjunction(*preds: Column) -> Column:
    """AND of predicates (F6 — ``src/core/GraphDB.cpp:114-134``). Catalyst
    reorders/pushes these; the reference's early-exit ``break`` is the
    row-at-a-time analog of short-circuit predicate evaluation."""
    out = F.lit(True)
    for p in preds:
        out = out & p
    return out


# Reference filter-key whitelist (src/main.cpp:72-78) mapped to predicate text.
_FILTER_SQL = {
    "subject": lambda v: _eq_sql("subject", v),
    "author": lambda v: _eq_sql("author", v),
    "course": _course_sql,
    "title": lambda v: _contains_sql("title", v),
    "tag": _tag_sql,
}


def find_nodes(df: DataFrame, filters: Mapping[str, str]) -> DataFrame:
    """The reference's ``findNodes``: whitelisted conjunction over the node
    set, one ``filter`` of SQL text. Unknown filter keys are ignored (the
    reference's handler never forwards them)."""
    preds = [_FILTER_SQL[k](v) for k, v in filters.items() if k in _FILTER_SQL]
    return df.filter(" AND ".join(f"({p})" for p in preds)) if preds else df


def point_lookup(df: DataFrame, node_id: int, id_col: str = "id") -> DataFrame:
    """PK lookup (F7 — ``src/core/GraphDB.cpp:30-38``). Missing id -> empty
    DataFrame; the API layer raises, matching the reference's throw."""
    return df.filter(_id_sql(id_col, node_id))


def exists(df: DataFrame, node_id: int, id_col: str = "id") -> bool:
    """Id presence test (F8 — ``src/core/GraphDB.cpp:40-43``): one
    CollectLimit action that stops at the first hit."""
    return bool(df.filter(_id_sql(id_col, node_id))
                .selectExpr(sql_name(id_col)).take(1))
