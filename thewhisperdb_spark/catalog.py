"""Table loaders for the driver testdata plus the engine's own state tables.

The reference keeps four state collections in one JSON file — nodes, nodeFiles,
tagBank, and per-node adjacency (``include/core/GraphDB.hpp:68-70``,
``include/core/GNode.hpp:59``). Here each becomes a DataFrame; persistence is
columnar Parquet snapshots (see ``io.py``), partition-friendly at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables we always broadcast in joins (bounded size even at
# high SF: region=5, nation=25, supplier is tiny in this testdata).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def _read_parquet_nanos_safe(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet, tolerating TIMESTAMP(NANOS) columns in ANY session.

    ``events.parquet`` stores INT64 TIMESTAMP(NANOS), which Spark's reader
    rejects unless ``spark.sql.legacy.parquet.nanosAsLong`` is armed. That
    conf is runtime-settable, so arm it here — at the read site — rather than
    relying on the session having been built by ``session.get_spark``. The
    conf is left set: it only affects parquet nanos columns, which this
    loader always converts to proper timestamps anyway.
    """
    try:
        return spark.read.parquet(path)
    except Exception as e:  # AnalysisException: PARQUET_TYPE_ILLEGAL
        if "PARQUET_TYPE_ILLEGAL" not in str(e):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)


# Per-(session, table path) DataFrame cache (optimization r12, guide
# §6 "file listing caches"): load_table re-read the parquet footer and
# rebuilt the scan relation on every call — driver-side work that
# repeats inside the timed region of every query run (most queries call
# it 1-3 times). The cached object is a LAZY scan plan over the
# immutable testdata files, not data: every action still computes from
# the parquet inputs. The at-scale analog is exactly the file-index
# cache the optimization guide recommends
# (spark.sql.hive.filesourcePartitionFileCacheSize). State tables (the
# engine's own mutable snapshots) do not go through this loader and are
# never cached. Each entry is (file identity, DataFrame): a rewritten
# file replaces its entry instead of adding one beside a stale plan.
# Never persist or checkpoint a cached frame here: bench.py's
# _release_dead_rdd_blocks unpersists every persistent RDD between
# keys, so a checkpointed frame would fail its next read.
_TABLE_CACHE: dict = {}


def _file_identity(path: str):
    """mtime+size of the table's parquet path, like the PSL cache
    (ADVICE r12): a regenerated sf_dir in the same process must not serve
    a stale file listing. One os.stat per load_table call; the testdata
    files are single-file tables."""
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table: {name}")
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    key, ident = (spark, path, name), _file_identity(path)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] == ident:
        return hit[1]
    df = _load_table_uncached(spark, sf_dir, name)
    _TABLE_CACHE[key] = (ident, df)
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str,
                         name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # pre-arm so schema inference AND executor-side reads both see it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet_nanos_safe(spark, path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            # nanosAsLong=true surfaces TIMESTAMP(NANOS) as long nanos; convert
            # to microsecond timestamps (truncating, same as DuckDB ns->us).
            # integer `div`, NOT `/`: nanos exceed 2^53, double division
            # drifts 1us
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as TIMESTAMP_NTZ;
            # normalize to TIMESTAMP so timestamp-only functions (unix_micros,
            # to_utc_timestamp, ...) resolve — sessions here run UTC, so the
            # cast is a pure type change, not a wall-clock shift
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every testdata table as a temp view so users can drive the
    engine with plain ``spark.sql(...)`` text — the SQL-dialect surface the
    reference lacks entirely (its only query interface is the REST filter
    whitelist, ``src/main.cpp:72-102``). Views are lazy: registering costs
    nothing until a query scans one."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def save_bucketed(df: DataFrame, table: str, key: str, n_buckets: int = 16,
                  sort: bool = True) -> None:
    """Persist a table bucketed (and sorted) by its join key so later joins
    on ``key`` between co-bucketed tables need NO shuffle — the physical plan
    reads pre-hashed buckets on both sides (SortMergeJoin without Exchange).
    This is the at-rest analog of ``repartition``: pay the partitioning once
    at write time, reuse it across every downstream join/agg on the key."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session may have left the managed location behind (in-memory
    # catalog forgets the table but not the directory)
    import shutil

    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), table)
    shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def save_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """Persist hive-partitioned parquet (one directory level per partition
    column). Reads filtered on a partition column never touch non-matching
    files — the scan's PartitionFilters prune directories at planning time,
    which at 100 TB is the difference between scanning a day and scanning
    the archive. Mirrors the reference's date-sharded attachment layout
    (``src/server/FileStorage.cpp:134-143``) at the table level."""
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def backfill_partitions(df: DataFrame, path: str, *cols: str) -> None:
    """Partial refresh of a hive-partitioned table: overwrite ONLY the
    partitions present in ``df`` (dynamic partition overwrite), leaving
    every other partition's files untouched — the backfill/late-data
    repair primitive. A full-mode overwrite here would silently drop the
    rest of the table, the classic backfill accident; static->dynamic is
    scoped to this one write, not the session."""
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*cols).parquet(path))
