"""Sort / offset-limit pagination / top-k (SURVEY §2.5, O1-O4).

The reference full-sorts then slices (``src/core/GraphDB.cpp:142-177``). In
Spark, ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject — a per-
partition top-k + single merge, no global sort shuffle — which is the plan we
want at 100 TB. The reference's std::sort is non-stable, so ties are
unspecified; we always append ``id`` as the final key for determinism (both
here and in every oracle query).

Sort keys are SQL text (``F.expr`` of a quoted column name), one JVM call
each however the key is spelled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from thewhisperdb_spark.schemas import sql_name

SORTABLE_KEYS = ("id", "title", "author", "subject", "course", "date")


def _key(col: str, ascending: bool) -> Column:
    c = F.expr(sql_name(col))
    return c.asc() if ascending else c.desc()


def sort_nodes(df: DataFrame, key: str, ascending: bool = True,
               id_col: str = "id",
               allowed: tuple[str, ...] | None = None) -> DataFrame:
    """O1: sort by one WHITELISTED key; non-whitelisted or absent keys fall
    back to id (``src/core/GraphDB.cpp:60-82`` — the reference rejects e.g.
    ``embedding``/``LinkedNodes`` as sort keys, so must we); id tie-break
    appended for determinism. ``allowed`` overrides the default whitelist for
    non-node tables (pass the sortable columns of that table)."""
    whitelist = set(allowed if allowed is not None else SORTABLE_KEYS) | {id_col}
    if key not in whitelist or key not in df.columns:
        key = id_col
    primary = _key(key, ascending)
    if key == id_col:
        return df.orderBy(primary)
    return df.orderBy(primary, _key(id_col, True))


def paginate(df: DataFrame, offset: int = 0, limit: int = 0) -> DataFrame:
    """O2: offset-skip then limit-take, after sort; limit <= 0 means unlimited
    (``src/core/GraphDB.cpp:85-97``, param parsing ``src/main.cpp:85-102``).
    Must be applied to an ordered DataFrame to be meaningful."""
    if offset < 0 or limit < 0:
        raise ValueError("offset/limit must be non-negative")  # 400 in the API layer
    out = df.offset(offset) if offset else df
    return out.limit(limit) if limit > 0 else out


def top_k(df: DataFrame, order_col: str, k: int, ascending: bool = False,
          tie_col: str | None = None) -> DataFrame:
    """O3/J7 support: top-k by a measure -> TakeOrderedAndProject physical op
    (vs the reference's full sort then slice, ``src/main.cpp:552-561``)."""
    keys = [_key(order_col, ascending)] + ([_key(tie_col, True)] if tie_col else [])
    return df.orderBy(*keys).limit(k)
