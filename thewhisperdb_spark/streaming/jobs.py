"""Structured Streaming jobs (Spark-native extension; SURVEY §2.10 notes the
reference has NO streaming — all its jobs are request-triggered batch,
``src/main.cpp:441-476``. These are the streaming twins of the batch event
queries in ``__spark_entry__.py``: same logical shapes, incremental
execution).

Design for scale: event-time watermarks bound state; windowed aggregates are
partial-aggregated before the shuffle; sessionization uses the built-in
``session_window`` (state-store backed, merge-on-overlap) with a custom
``applyInPandasWithState`` variant as the extension point for richer
per-session state (the pattern for reference-style "jobs" that need
imperative per-key logic).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def stream_events_from_dir(spark: SparkSession, path: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source event stream with a declared schema (streaming requires
    one — no inference). At scale this is the Kafka source with the same
    downstream plan."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``events_windowed_agg``: tumbling event-time window,
    watermark bounds late data AND state size (state per (window, type) only
    until watermark passes — the property that holds at 100 TB/day)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"),
                "event_type", "n", "total_value")
    )


def hopping_event_counts(events: DataFrame, window: str = "10 minutes",
                         slide: str = "5 minutes",
                         watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``events_sliding_window_counts``: hopping windows
    (each event lands in window/slide overlapping windows). Same watermark
    state bound as the tumbling variant — per-(window, type) state only
    until the watermark passes the window end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )


def click_purchase_interval_join(events: DataFrame, max_gap_s: int = 3600,
                                 watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join (attribution): each purchase joined to the
    same user's clicks in the preceding ``max_gap_s`` seconds. BOTH sides are
    unbounded streams, so this is the real stream-stream join machinery:
    each side buffers rows in the state store only within its watermark, and
    the time-range predicate lets Spark derive when a buffered click can
    never match a future purchase and evict it. Timestamps are floored to
    whole seconds BEFORE the watermark so boundary membership matches the
    batch oracle's floor(epoch()) arithmetic exactly.

    Returns (purchase_id, click_id, secs_before)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.date_trunc("second", F.col("ts")).alias("c_ts"))
        .withWatermark("c_ts", watermark))
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.date_trunc("second", F.col("ts")).alias("p_ts"))
        .withWatermark("p_ts", watermark))
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_gap_s} SECOND")))
    return (purchases.join(clicks, cond, "inner")
            .select("purchase_id", "click_id",
                    (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
                    .alias("secs_before")))


def enrich_with_dim(stream: DataFrame, dim: DataFrame,
                    stream_key: str, dim_key: str) -> DataFrame:
    """Stream-static join: enrich an unbounded stream with a bounded
    dimension table. The static side is planned per micro-batch as a normal
    batch relation — broadcast when small (the usual case for dims), no
    state store involved (unlike stream-stream joins, nothing buffers).
    This is the dimension-lookup shape of every event pipeline: the stream
    never shuffles, the dim ships to it."""
    return stream.join(F.broadcast(dim),
                       stream[stream_key] == dim[dim_key], "inner")


def sessionize_stream(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``events_sessionize``: gap-based sessions via the
    built-in session_window (merging state store windows per user)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total_value"))
        .select("user_id",
                F.col("sess.start").alias("t_start"),
                F.col("sess.end").alias("t_end"),
                "n_events", "total_value")
    )


_STATE_OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
    StructField("n_batches", IntegerType()),
])
_STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("total", DoubleType()),
    StructField("batches", IntegerType()),
])


def _accumulate_user_state(key, pdf_iter, state):
    """Per-user running totals — the custom-stateful-operator pattern
    (imperative per-key logic the built-in aggregates can't express, e.g.
    the reference's per-node job bookkeeping in
    ``src/embedding/EmbeddingService.cpp:140-193``)."""
    n, total, batches = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    batches += 1
    state.update((n, total, batches))
    import pandas as pd

    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "total_value": [total], "n_batches": [batches]})


def sessionize_with_state(events: DataFrame,
                          timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    aggregate with explicit GroupState (Arrow-batched; one state row per key).
    Output mode must be update/append at the sink."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _accumulate_user_state,
            outputStructType=_STATE_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


_KMV_STATE_SCHEMA = StructType([
    StructField("hashes", ArrayType(LongType())),
    StructField("batches", IntegerType()),
])
_KMV_OUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("n_hashes", IntegerType()),
    StructField("h_k", LongType()),
    StructField("n_batches", IntegerType()),
])
_KMV_K = 256


def _kmv_update(key, pdf_iter, state):
    """Streaming bottom-k sketch state: the k smallest 60-bit key hashes
    seen so far per group. Bottom-k is exactly mergeable (the union's
    bottom-k is within each side's), so the state after N micro-batches is
    IDENTICAL to the batch sketch over the same rows — integer state, no
    float drift, which is what lets the twin be oracle-checked. State is
    bounded at k longs per group no matter the stream length."""
    import pandas as pd

    cur, batches = (state.get if state.exists else ([], 0))
    s = set(int(h) for h in cur)
    for pdf in pdf_iter:
        s.update(int(h) for h in pdf["h"])
    top = sorted(s)[:_KMV_K]
    batches += 1
    state.update((top, batches))
    yield pd.DataFrame({
        "event_type": [key[0]], "n_hashes": [len(top)],
        "h_k": [top[-1] if len(top) == _KMV_K else None],
        "n_batches": [batches]})


def kmv_distinct_stream(events: DataFrame, key_col: str = "user_id",
                        group_col: str = "event_type") -> DataFrame:
    """Streaming distinct-count sketch (KMV, k=256) as a custom stateful
    operator: md5-hash the key JVM-side, keep the bottom-k per group in
    GroupState. Emits (event_type, n_hashes, h_k, n_batches) per group per
    micro-batch; the ESTIMATE is computed downstream in Spark expressions
    so its float math is written once, identically to the batch twin and
    the oracle. The sketch-state design is the one you'd run against an
    unbounded Kafka stream: constant memory per group, no raw-key
    retention."""
    from thewhisperdb_spark.operators.aggregates import md5_hash60

    hashed = (events.filter(F.col(key_col).isNotNull())
              .select(F.col(group_col).alias("event_type"),
                      md5_hash60(key_col).alias("h")))
    return (hashed.groupBy("event_type")
            .applyInPandasWithState(
                _kmv_update,
                outputStructType=_KMV_OUT_SCHEMA,
                stateStructType=_KMV_STATE_SCHEMA,
                outputMode="update",
                timeoutConf="NoTimeout"))


def dedup_stream(events: DataFrame, keys: list[str] | None = None,
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: keep the first occurrence per key, with state
    bounded by the event-time watermark (``dropDuplicatesWithinWatermark`` —
    a key's state is dropped once the watermark passes it, so the dedup map
    never grows unboundedly the way a global ``dropDuplicates`` would on an
    infinite stream). Streaming twin of ``dedup.drop_exact_duplicates``."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def start_foreach_batch(stream_df: DataFrame, write_batch,
                        checkpoint_dir: str):
    """Start ``write_batch(batch_df, batch_id)`` over ``stream_df`` under
    the streaming checkpoint ``checkpoint_dir`` (exactly-once batch
    tracking; a replayed batch is re-delivered with its batch_id). The
    availableNow trigger drains all current input, then stops. Returns
    the started StreamingQuery."""
    return (stream_df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "update") -> DataFrame:
    """Drive a streaming DataFrame over all currently-available input and
    materialize to an in-memory table (test/smoke harness)."""
    q = (stream_df.writeStream.outputMode(output_mode)
         .format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def events_to_stream_dir(spark: SparkSession, sf_dir: str, out_dir: str,
                         n_chunks: int = 4) -> str:
    """Re-emit the batch events table as ``n_chunks`` parquet files so a file
    source can replay it as a multi-trigger stream (nanos ts normalized)."""
    from thewhisperdb_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    path = os.path.join(out_dir, "events_stream")
    ev.repartition(n_chunks).write.mode("overwrite").parquet(path)
    return path


def idempotent_parquet_sink(stream_df: DataFrame, out_dir: str,
                            checkpoint_dir: str):
    """Exactly-once file sink via ``foreachBatch``: every micro-batch
    OVERWRITES its own ``batch_id=N`` partition directory, so a batch
    replayed after a failure (same batch_id re-delivered from the
    checkpoint) replaces its previous partial output instead of appending
    duplicates. This is the standard idempotent-sink recipe for sinks
    without transactions; pair with the checkpoint for source-side replay.

    Returns the started StreamingQuery (availableNow trigger — drains all
    current input, then stops).
    """
    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}"))

    return start_foreach_batch(stream_df, write_batch, checkpoint_dir)


def daily_active_users(events: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Streaming twin of a per-day distinct-user count: first-seen
    deduplication of (user, day) pairs bounded by the watermark (the state
    store holds one entry per distinct pair only until the watermark passes),
    then a watermarked daily count of the survivors. Exact distinct counting
    on an unbounded stream is otherwise impossible with bounded state — the
    dedup-then-count split is the standard shape (approximate alternative:
    HLL partials per window)."""
    deduped = (events
               .withColumn("day", F.date_trunc("day", "ts"))
               .withWatermark("day", watermark)
               .dropDuplicatesWithinWatermark(["user_id", "day"]))
    return (deduped
            .groupBy(F.window("day", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("dau"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
                    "dau"))


def stream_append_to_ivf(stream: DataFrame, index_path: str,
                         checkpoint_dir: str, id_col: str = "vec_id",
                         vec_col: str = "embedding"):
    """Streaming IVF index maintenance: each micro-batch of arriving vectors
    is assigned to the index's existing centroids and appended to the
    partitioned inverted lists via foreachBatch (the checkpoint gives
    exactly-once batch tracking; the append touches only the delta's cell
    partitions). Returns the started StreamingQuery."""
    from thewhisperdb_spark.operators.vectors import ivf_index_append

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_index_append(batch_df.sparkSession, index_path, batch_df,
                         id_col=id_col, vec_col=vec_col)

    return start_foreach_batch(stream, write_batch, checkpoint_dir)


def stream_append_to_lsh(stream: DataFrame, index_path: str,
                         checkpoint_dir: str, id_col: str = "doc_id",
                         text_col: str = "text"):
    """Streaming LSH dedup-index maintenance — the daily-crawl loop as a
    stream: each micro-batch of arriving documents is signed with the
    index's own banding parameters and appended via foreachBatch. The
    streaming checkpoint gives exactly-once batch tracking, and
    lsh_index_append is itself retry-idempotent (anti-join vs persisted
    signatures) so even a replayed micro-batch cannot duplicate index
    rows — the two layers together make the sink safe under every
    restart mode. Callers typically probe first in the same foreachBatch
    (stream in → probe → drop near-dups → append survivors); this job is
    the append leg. Returns the started StreamingQuery."""
    from thewhisperdb_spark.operators.dedup import lsh_index_append

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        lsh_index_append(batch_df.sparkSession, index_path, batch_df,
                         id_col=id_col, text_col=text_col)

    return start_foreach_batch(stream, write_batch, checkpoint_dir)


def dedup_ingest_batch(df: DataFrame, batch_id: int, index_path: str,
                       survivors_dir: str, threshold: float = 0.8,
                       id_col: str = "doc_id", text_col: str = "text",
                       quality_col: str | None = None) -> None:
    """One micro-batch of the full daily-crawl dedup loop: probe the
    persisted LSH index for cross-corpus near-dups, drop them, near-dedup
    the remainder WITHIN the batch (same banding parameters as the index,
    read from its meta), publish the survivors under their batch
    partition, then append the survivors to the index.

    Replay-idempotent end to end, in this order:
    - probe hits with ``batch_id == index_id`` are self-matches of an
      already-appended replay and are ignored (doc ids are assumed unique
      across batches — the upstream crawl contract — so a same-id hit can
      only be the doc itself);
    - the survivors sink is partitioned by batch id with dynamic
      overwrite (a replayed batch rewrites exactly its own partition with
      identical rows);
    - the sink write precedes the index append, and the append is itself
      anti-joined + sentinel-bracketed (lsh_index_append), so every
      crash/replay interleaving converges to the same index and the same
      published survivors.

    Single-writer contract (shared with lsh_index_append): one ingest job
    per index at a time — the streaming checkpoint serializes batches
    within a job, but two CONCURRENT jobs appending to the same index can
    both anti-join the same pre-append state and double-write.

    ``quality_col``: when set, within-batch dup groups keep their
    HIGHEST-``quality_col`` member (id tiebreak) via ``pick_survivors``
    instead of the min-id canonical keep — production dedup's "keep the
    best variant, drop the truncated mirror" policy. NOTE: with a quality
    policy the survivor choice is only deterministic under replay because
    the whole batch replays identically (the checkpoint guarantees
    that)."""
    from thewhisperdb_spark.operators.dedup import (
        LSH_INDEX, lsh_index_append, lsh_index_probe, minhash_lsh_pairs,
        near_dup_groups, pick_survivors)
    from thewhisperdb_spark.operators.indexmeta import open_index
    from thewhisperdb_spark.operators.text import word_ngrams

    # emptiness probe fused INTO the barrier (optimization r13): the old
    # isEmpty-then-checkpoint shape scanned the batch source twice, and
    # the reordered probe still paid a limit-1 job — the observe metric
    # rides the checkpoint job itself (one job, one scan)
    from thewhisperdb_spark.operators import checkpoint_counted
    spark = df.sparkSession
    df, n_rows = checkpoint_counted(df)
    if n_rows == 0:
        return
    m = open_index(spark, index_path, LSH_INDEX)
    hits = (lsh_index_probe(spark, index_path, df, threshold=threshold,
                            id_col=id_col, text_col=text_col)
            .filter(F.col("batch_id") != F.col("index_id"))
            .select(F.col("batch_id").alias(id_col)).distinct())
    fresh = df.join(hits, id_col, "left_anti")
    shingle_n = int(m["shingle_n"])
    # portable comes from the meta too: against a portable=False index the
    # within-batch stage must use the same minhash family (xxhash64) as
    # the cross-corpus probe, or the two stages disagree on signatures
    pairs = minhash_lsh_pairs(
        fresh, n_hashes=int(m["n_hashes"]), bands=int(m["bands"]),
        threshold=threshold, id_col=id_col, text_col=text_col,
        shingler=lambda c: word_ngrams(c, shingle_n),
        portable=bool(m["portable"]))
    groups = near_dup_groups(fresh, pairs.select("a", "b"), id_col)
    if quality_col is None:
        survivors = fresh.join(
            groups.filter(F.col("keep")).select(id_col), id_col)
    else:
        survivors = pick_survivors(fresh, groups, quality_col, id_col)
    survivors = survivors.localCheckpoint(eager=True)
    # one computation feeds sink + append
    (survivors.withColumn("ingest_batch", F.lit(int(batch_id)))
     .write.mode("overwrite").partitionBy("ingest_batch")
     .option("partitionOverwriteMode", "dynamic").parquet(survivors_dir))
    lsh_index_append(spark, index_path, survivors,
                     id_col=id_col, text_col=text_col)


def stream_dedup_ingest(stream: DataFrame, index_path: str,
                        survivors_dir: str, checkpoint_dir: str,
                        threshold: float = 0.8, id_col: str = "doc_id",
                        text_col: str = "text",
                        quality_col: str | None = None):
    """The COMPLETE daily-crawl pattern as one streaming job: documents
    stream in, near-dups against the ever-growing persisted corpus index
    are dropped, the batch is internally near-deduped, survivors are
    published (batch-partitioned parquet) and appended to the index —
    ``dedup_ingest_batch`` per micro-batch under a streaming checkpoint.
    At 100 TB the index is the only stateful structure and only the
    day's delta is ever shingled/hashed. Returns the started
    StreamingQuery (availableNow drains and stops)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        dedup_ingest_batch(batch_df, batch_id, index_path, survivors_dir,
                           threshold=threshold, id_col=id_col,
                           text_col=text_col, quality_col=quality_col)

    return start_foreach_batch(stream, write_batch, checkpoint_dir)


def embedding_dedup_ingest_batch(df: DataFrame, batch_id: int,
                                 index_path: str, survivors_dir: str,
                                 threshold: float = 0.99, n_probe: int = 4,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 quality_col: str | None = None,
                                 blas: bool = False) -> None:
    """The EMBEDDING twin of ``dedup_ingest_batch`` — the daily loop for
    vector corpora (embedding-level semantic dedup against an
    ever-growing persisted IVF index): probe the index for cosine >= θ
    near-dups of the arriving batch, drop them, exact-dedup the remainder
    within the batch (blocked-BLAS all-pairs — the batch is the bounded
    daily delta), publish survivors batch-partitioned, append survivors
    to the index.

    Probe recall is the IVF trade-off: a near-dup in an unprobed cell
    survives — raise ``n_probe`` (``n_probe == n_cells`` is exhaustive)
    for stricter dedup. Replay-idempotent end to end: the probe's
    self-id exclusion ignores a replayed batch's own indexed copies, the
    sink overwrites exactly its batch partition, and ``ivf_index_append``
    anti-joins already-indexed ids under the meta sentinel. Single-writer
    per index.

    ``quality_col``: same policy as the text loop — within-batch dup
    groups keep their HIGHEST-``quality_col`` member (id tiebreak) via
    ``pick_survivors`` instead of the min-id canonical keep (keep the
    best-scored variant of a near-identical embedding cluster).

    ``blas``: run the probe through the broadcast-probe Arrow BLAS
    kernel — the production setting at real embedding dims (2.8x at
    dim 768, BASELINE.md), same neighbors and tie rule since r8's
    lexsort fix. Default stays the sequential fold because the driver
    oracle re-derives its sims bit-for-bit; the only divergence is
    last-ulp float summation order, which can flip a pair sitting
    EXACTLY on the threshold."""
    from thewhisperdb_spark.operators.dedup import (
        near_dup_groups, pick_survivors)
    from thewhisperdb_spark.operators.vectors import (
        ivf_index_append, ivf_index_probe, similar_pairs)

    # emptiness probe fused into the barrier job (see dedup_ingest_batch)
    from thewhisperdb_spark.operators import checkpoint_counted
    spark = df.sparkSession
    df, n_rows = checkpoint_counted(df)
    if n_rows == 0:
        return
    hits = (ivf_index_probe(spark, index_path, df, k=1, n_probe=n_probe,
                            q_id=id_col, vec_col=vec_col, blas=blas)
            .filter(F.col("similarity") >= threshold)
            .select(F.col("query_id").alias(id_col)).distinct())
    fresh, n_fresh = checkpoint_counted(df.join(hits, id_col, "left_anti"))
    if n_fresh == 0:
        return
    pairs = similar_pairs(fresh, threshold, id_col, vec_col)
    groups = near_dup_groups(fresh, pairs.select("a", "b"), id_col)
    if quality_col is None:
        survivors = fresh.join(
            groups.filter(F.col("keep")).select(id_col), id_col)
    else:
        survivors = pick_survivors(fresh, groups, quality_col, id_col)
    survivors = survivors.localCheckpoint(eager=True)
    (survivors.withColumn("ingest_batch", F.lit(int(batch_id)))
     .write.mode("overwrite").partitionBy("ingest_batch")
     .option("partitionOverwriteMode", "dynamic").parquet(survivors_dir))
    # the PUBLISHED survivors keep every batch column (quality etc.); the
    # index stores (id, vec) only — ivf_index_append's column-set gate
    # rejects schema drift, so project explicitly
    ivf_index_append(spark, index_path, survivors.select(id_col, vec_col),
                     id_col=id_col, vec_col=vec_col)


def stream_embedding_dedup_ingest(stream: DataFrame, index_path: str,
                                  survivors_dir: str, checkpoint_dir: str,
                                  threshold: float = 0.99, n_probe: int = 4,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  quality_col: str | None = None,
                                  blas: bool = False):
    """``embedding_dedup_ingest_batch`` per micro-batch under a streaming
    checkpoint — the vector-corpus daily-crawl loop as one streaming job.
    Returns the started StreamingQuery (availableNow drains and stops).
    ``blas=True`` = the Arrow-BLAS probe kernel (the real-dims production
    setting; see the batch function's trade-off note)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        embedding_dedup_ingest_batch(
            batch_df, batch_id, index_path, survivors_dir,
            threshold=threshold, n_probe=n_probe, id_col=id_col,
            vec_col=vec_col, quality_col=quality_col, blas=blas)

    return start_foreach_batch(stream, write_batch, checkpoint_dir)


def compact_ingest_survivors(spark, survivors_dir: str, id_col: str,
                             keep_last_n: int = 2,
                             target_rows_per_file: int = 4_000_000) -> None:
    """Sink maintenance for the ingest loops: the batch-partitioned
    survivors dir accumulates one ``ingest_batch=N`` directory per
    micro-batch forever (a year of daily batches = 365 partitions of
    small files). Fold every batch partition except the newest
    ``keep_last_n`` into the ``ingest_batch=-1`` archive partition with
    data-derived file counts, then drop the folded directories.

    The newest ``keep_last_n`` partitions stay batch-addressed because
    they are the streaming checkpoint's replay window — a replayed batch
    must still be able to overwrite exactly its own partition.

    Self-healing rather than sentinel-guarded: the archive is written as
    (old archive ∪ folded partitions) de-duplicated on ``id_col``
    (survivor ids are unique by construction), THEN the folded
    directories are deleted — a crash between the two steps leaves
    duplicate rows split across archive and un-deleted partitions, and
    re-running the compaction converges (the dedupe absorbs them; the
    torn state is constructed and re-converged in
    ``test_streaming.test_compaction_crash_window_converges``)."""
    fold = _archive_fold_write(spark, survivors_dir, id_col, keep_last_n,
                               target_rows_per_file)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jsc.hadoopConfiguration())
    for b in fold:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{survivors_dir}/ingest_batch={b}"), True)


def _archive_fold_write(spark, survivors_dir: str, id_col: str,
                        keep_last_n: int,
                        target_rows_per_file: int) -> list[int]:
    """First half of ``compact_ingest_survivors`` — everything up to and
    including the archive write, returning the batch ids whose
    directories are now safe to delete. Split out so the crash window
    (archive written, folded dirs NOT yet deleted) is constructible in a
    test exactly as a real crash would leave it."""
    import math

    src = spark.read.parquet(survivors_dir)
    batches = sorted(r["ingest_batch"] for r in
                     src.select("ingest_batch").distinct().collect())
    live = [b for b in batches if b >= 0]
    fold = live[:max(0, len(live) - keep_last_n)]
    if not fold:
        return []
    from thewhisperdb_spark.operators import checkpoint_counted
    # checkpoint (cannot stream from the partitions it overwrites) with
    # the sizing count fused into the materialization job (r13)
    archive, n = checkpoint_counted(
        src.filter(F.col("ingest_batch").isin([-1] + fold))
        .dropDuplicates([id_col])
        .withColumn("ingest_batch", F.lit(-1)))
    (archive.coalesce(max(1, math.ceil(n / target_rows_per_file)))
     .write.mode("overwrite").partitionBy("ingest_batch")
     .option("partitionOverwriteMode", "dynamic").parquet(survivors_dir))
    return fold


def stream_shards_sink(stream_df: DataFrame, out_dir: str,
                       checkpoint_dir: str, id_col: str,
                       n_shards: int = 8):
    """Streaming twin of ``textio.write_training_shards``: each arriving
    micro-batch is md5(id)-shard-assigned and written under BOTH its
    deterministic shard and its batch id (``shard=K/batch_id=N/``) via
    foreachBatch. The batch_id sub-partition makes the sink idempotent
    (a replayed batch overwrites its own directory, the
    idempotent_parquet_sink recipe); the shard super-partition keeps the
    dataset's deterministic layout, so readers see exactly the shards a
    batch export of the same rows would produce — and the SAME
    shard_manifest audits either. Incremental dataset publishing in the
    same layout as the batch path, which is the point: sketches/manifests
    computed nightly keep working as the stream appends.

    Returns the started StreamingQuery (availableNow drains and stops).
    """
    from thewhisperdb_spark.sources.textio import shard_assign

    def write_batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        (shard_assign(df, id_col, n_shards)
         .withColumn("batch_id", F.lit(int(batch_id)))
         .repartition(n_shards, F.col("shard"))
         .write.mode("overwrite")
         .partitionBy("shard", "batch_id")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(out_dir))

    return start_foreach_batch(stream_df, write_batch, checkpoint_dir)


# ---------------------------------------------------------------------------
# streaming crawl curation (r10): the WARC -> text -> policy loop
# ---------------------------------------------------------------------------

def crawl_curation_batch(archives: DataFrame, batch_id: int,
                         survivors_dir: str,
                         blocklist: DataFrame | None = None,
                         robots_rules: DataFrame | None = None,
                         psl: DataFrame | None = None,
                         min_chars: int = 1,
                         quality: dict | None = None) -> None:
    """One micro-batch of the crawl-curation loop — the streaming twin
    of the ``crawl_curation_pipeline`` key, composing the r10 pieces:
    (path, content) WARC archives -> record explosion -> charset decode
    cascade -> HTML text extraction -> URL/domain features (PSL-exact
    when ``psl`` given) -> blocklist -> robots admission. Survivors are
    published batch-partitioned with dynamic overwrite (the
    idempotent-sink recipe: a replayed batch rewrites exactly its own
    partition). Per-domain caps/quotas stay OUT of the loop by design —
    a cap is a global property, applied over the survivors store by the
    batch path (``per_stratum_cap``), not inside a micro-batch that
    sees one slice of a domain."""
    from thewhisperdb_spark.operators.encoding import decode_payload_text
    from thewhisperdb_spark.operators.htmltext import html_extract
    from thewhisperdb_spark.operators.robots import drop_robots_disallowed
    from thewhisperdb_spark.operators.urls import (
        drop_blocklisted, url_features)
    from thewhisperdb_spark.sources.warc import explode_warc

    # One pass over the archives (optimization r13): the old shape ran
    # `archives.isEmpty()` BEFORE checkpointing the exploded records, so
    # the upstream archive synthesis/scan (a Python applyInPandas stage
    # in the stream twin) executed twice per micro-batch — once for the
    # probe, once for the barrier. The emptiness probe now rides the
    # checkpoint job itself as an observe metric (one job, one scan);
    # the empty-ARCHIVES early return (same observable behavior: nothing
    # written) only pays its isEmpty when the batch yielded no
    # responses. Same-session A/B: stream twin 11.3s -> 6.6s. (The
    # checkpoint stays EAGER — the lazy+count fusion probed this round
    # stalled badly elsewhere, AB_PROBE_r13.json.)
    from thewhisperdb_spark.operators import checkpoint_counted
    records = explode_warc(archives.select("path", "content"))
    responses, n_resp = checkpoint_counted(records.filter(
        (F.col("status") == "ok") & (F.col("warc_type") == "response")
        & F.col("content_type").startswith("text/html")))
    if n_resp == 0 and archives.isEmpty():
        return
    decoded = decode_payload_text(responses)   # adds text/encoding/...
    ex = html_extract(decoded, html_col="text", id_col="target_uri")
    pages = (ex.filter(F.length("text") >= min_chars)
             .withColumnRenamed("doc_id", "url"))
    feats = url_features(pages, url_col="url", psl=psl)
    kept = feats
    if blocklist is not None:
        kept = drop_blocklisted(kept, blocklist, url_col="url")
    if robots_rules is not None:
        kept = drop_robots_disallowed(kept, robots_rules, url_col="url")
    if quality is not None:
        # the quality-ensemble stage (VERDICT r10 #8): kwargs forwarded
        # to dq.quality_keep_verdict (thresholds, lm_model,
        # include_compression); survivors keep their rule booleans and
        # fail_reasons so the store stays audit-ready, dropped docs
        # leave the loop here
        from thewhisperdb_spark.operators.dq import quality_keep_verdict

        kept = (quality_keep_verdict(kept, id_col="url", **quality)
                .filter(F.col("keep")).drop("keep"))
    (kept.withColumn("ingest_batch", F.lit(int(batch_id)))
     .write.mode("overwrite").partitionBy("ingest_batch")
     .option("partitionOverwriteMode", "dynamic").parquet(survivors_dir))


def stream_crawl_curation(stream: DataFrame, survivors_dir: str,
                          checkpoint_dir: str,
                          blocklist: DataFrame | str | None = None,
                          robots_rules: DataFrame | str | None = None,
                          psl: DataFrame | str | None = None,
                          min_chars: int = 1,
                          quality: dict | None = None):
    """The crawl-curation loop as one streaming job: WARC archives
    stream in, curated text rows land batch-partitioned in
    ``survivors_dir``. Chain ``stream_media_dedup_ingest`` /
    ``stream_dedup_ingest`` over the survivors store for the dedup
    stage. Returns the started StreamingQuery (availableNow drains and
    stops).

    POLICY FRESHNESS (VERDICT r10 #7): each of ``blocklist`` /
    ``robots_rules`` / ``psl`` accepts either a static DataFrame
    (captured once at start — the r10 behavior, fine for short drains)
    or a ``str`` path to a versioned snapshot store
    (``operators/policystore.py``). A path is re-resolved to the LATEST
    complete snapshot INSIDE foreachBatch, so a robots/PSL/blocklist
    update published between micro-batches changes admission at the
    next batch boundary — no query restart. Real crawls run for days;
    static policy frames silently go stale, which for robots is a
    compliance bug, not just drift."""
    from thewhisperdb_spark.operators.policystore import (
        load_policy_snapshot)

    def resolve(policy, spark):
        if isinstance(policy, str):
            return load_policy_snapshot(spark, policy)
        return policy

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        crawl_curation_batch(batch_df, batch_id, survivors_dir,
                             blocklist=resolve(blocklist, spark),
                             robots_rules=resolve(robots_rules, spark),
                             psl=resolve(psl, spark),
                             min_chars=min_chars, quality=quality)

    return start_foreach_batch(stream, write_batch, checkpoint_dir)


# ---------------------------------------------------------------------------
# streaming clip-level media dedup (r11): the daily loop for video/audio
# ---------------------------------------------------------------------------

def clip_dedup_ingest_batch(frames: DataFrame, batch_id: int,
                            index_path: str, survivors_dir: str,
                            min_containment: float = 0.35,
                            id_col: str = "path",
                            hash_col: str = "dhash",
                            idx_col: str = "frame_idx") -> None:
    """One micro-batch of the CLIP-level media dedup loop — the
    video/audio twin of ``dedup_ingest_batch``: frame/segment hash rows
    (``video_frame_dhash`` / ``audio_segment_fingerprints`` output)
    arrive, clips that near-dup the ever-growing persisted clip index
    (``operators/clipindex.py``) at >= ``min_containment`` are dropped,
    the batch is internally clip-deduped (min-id survivor per CC
    group), survivors' frame rows are published batch-partitioned
    (idempotent dynamic overwrite) and appended to the index. Only the
    day's delta is ever fingerprinted; replay is idempotent end to end
    (probe self-exclusion by id, partition-scoped sink rewrite,
    anti-joined append under the claim sentinel). Quarantined frames
    (null hash) ride into the survivors store untouched — an
    undecodable clip was never shown to be a duplicate."""
    from thewhisperdb_spark.operators.clipindex import (
        clip_index_append, clip_index_probe)
    from thewhisperdb_spark.operators.dedup import near_dup_groups
    from thewhisperdb_spark.operators.imagededup import (
        video_clip_near_dup_pairs)

    # emptiness probe fused into the barrier job (see dedup_ingest_batch)
    from thewhisperdb_spark.operators import checkpoint_counted
    spark = frames.sparkSession
    frames, n_rows = checkpoint_counted(frames)
    if n_rows == 0:
        return
    hits = (clip_index_probe(spark, index_path, frames,
                             min_containment=min_containment,
                             id_col=id_col, hash_col=hash_col,
                             idx_col=idx_col)
            # a replayed batch's clips are already indexed under their
            # OWN ids — self-matches must not re-drop them
            .filter(F.col("index_clip") != F.col("batch_clip"))
            .select(F.col("batch_clip").alias(id_col)).distinct())
    fresh, n_fresh = checkpoint_counted(frames.join(hits, id_col,
                                                    "left_anti"))
    if n_fresh == 0:
        return
    pairs = video_clip_near_dup_pairs(
        fresh, min_containment=min_containment, id_col=id_col,
        hash_col=hash_col, idx_col=idx_col)
    ids = (fresh.select(F.col(id_col).alias("cid")).distinct()
           .withColumn("_sid", F.xxhash64("cid")))
    p_sid = (pairs
             .join(ids.select(F.col("cid").alias("a"),
                              F.col("_sid").alias("_sa")), "a")
             .join(ids.select(F.col("cid").alias("b"),
                              F.col("_sid").alias("_sb")), "b")
             .select(F.col("_sa").alias("a"), F.col("_sb").alias("b")))
    verdict = near_dup_groups(ids, p_sid, id_col="_sid")
    keep = (verdict.filter(F.col("keep"))
            .join(ids, "_sid").select(F.col("cid").alias(id_col)))
    survivors = fresh.join(keep, id_col).localCheckpoint(eager=True)
    (survivors.withColumn("ingest_batch", F.lit(int(batch_id)))
     .write.mode("overwrite").partitionBy("ingest_batch")
     .option("partitionOverwriteMode", "dynamic").parquet(survivors_dir))
    clip_index_append(spark, index_path, survivors, id_col=id_col,
                      hash_col=hash_col, idx_col=idx_col)


def stream_clip_dedup_ingest(stream: DataFrame, index_path: str,
                             survivors_dir: str, checkpoint_dir: str,
                             min_containment: float = 0.35,
                             id_col: str = "path",
                             hash_col: str = "dhash",
                             idx_col: str = "frame_idx"):
    """The clip-level media dedup loop as one streaming job
    (``clip_dedup_ingest_batch`` per micro-batch under a checkpoint).
    Returns the started StreamingQuery (availableNow drains + stops)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        clip_dedup_ingest_batch(batch_df, batch_id, index_path,
                                survivors_dir,
                                min_containment=min_containment,
                                id_col=id_col, hash_col=hash_col,
                                idx_col=idx_col)

    return start_foreach_batch(stream, write_batch, checkpoint_dir)


def frontier_schedule_batch(batch_df: DataFrame, batch_id: int,
                            schedule_dir: str, cursor_dir: str,
                            url_col: str = "url",
                            delay_col: str | None = None,
                            default_delay_s: float = 1.0,
                            priority_col: str | None = None) -> None:
    """One micro-batch of the stateful politeness scheduler: offsets
    CONTINUE per host across batches instead of resetting to 0 — batch
    N schedules host h's URLs starting at h's persisted cursor, then
    advances the cursor past the last slot + one delay (the next free
    slot). Replay-idempotent by construction: the cursor snapshot for
    batch B is derived ONLY from the latest snapshot strictly BEFORE B,
    and both the schedule and the cursor write batch-partitioned with
    dynamic overwrite, so a replayed batch recomputes exactly itself
    (pinned by tests/test_streaming.py replay test).

    Cursor store: parquet under ``cursor_dir`` partitioned by
    ``upto_batch`` — one row per host ever seen (host, next_offset_s);
    offsets are seconds on the crawl's own relative timeline. The
    per-batch partitions accumulate like the survivors stores do —
    prune aged ones the same way compact_ingest_survivors does for
    survivors (only the latest partition is ever read).

    Scale shape: the batch side is one host-keyed shuffle (the
    frontier_schedule window); the cursor join is a hash join on host
    (the cursor table is 1 row/host — small but corpus-wide, so NOT
    forced broadcast; AQE decides). Cursor advance is an aggregate of
    the already-windowed batch rows.
    """
    from thewhisperdb_spark.operators.urls import frontier_schedule

    spark = batch_df.sparkSession
    try:
        prev_all = spark.read.parquet(cursor_dir) \
            .filter(F.col("upto_batch") < int(batch_id))
        w = Window.partitionBy("host").orderBy(F.col("upto_batch").desc())
        prev = (prev_all
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("host", F.col("next_offset_s").alias("_cursor")))
    except Exception:  # first batch: no cursor store yet
        prev = None

    sched = frontier_schedule(batch_df, url_col=url_col,
                              delay_col=delay_col,
                              default_delay_s=default_delay_s,
                              priority_col=priority_col)
    delay = (F.col(delay_col) if delay_col is not None
             else F.lit(float(default_delay_s))).cast("double")
    sched = sched.withColumn("_delay", delay)
    if prev is not None:
        sched = (sched.join(prev, "host", "left")
                 .withColumn("_cursor",
                             F.coalesce(F.col("_cursor"), F.lit(0.0))))
    else:
        sched = sched.withColumn("_cursor", F.lit(0.0))
    sched = (sched
             .withColumn("fetch_offset_s",
                         F.round(F.col("_cursor")
                                 + F.col("fetch_offset_s"), 4))
             .withColumn("host_drain_s",
                         F.round(F.col("_cursor")
                                 + F.col("host_drain_s"), 4)))
    out = sched.drop("_cursor", "_delay") \
        .withColumn("ingest_batch", F.lit(int(batch_id)))
    out = out.localCheckpoint(eager=True)  # one computation for both writes
    (out.write.mode("overwrite").partitionBy("ingest_batch")
     .option("partitionOverwriteMode", "dynamic").parquet(schedule_dir))

    # cursor advance: per host in THIS batch, next free slot = last slot
    # + one delay; hosts not in the batch carry forward unchanged
    adv = (sched.groupBy("host")
           .agg(F.round(F.max("host_drain_s")
                        + F.max("_delay"), 4).alias("next_offset_s")))
    if prev is not None:
        carried = (prev.join(adv.select("host"), "host", "left_anti")
                   .select("host", F.col("_cursor").alias("next_offset_s")))
        adv = adv.unionByName(carried)
    (adv.withColumn("upto_batch", F.lit(int(batch_id)))
     .write.mode("overwrite").partitionBy("upto_batch")
     .option("partitionOverwriteMode", "dynamic").parquet(cursor_dir))


def stream_frontier_schedule(stream: DataFrame, schedule_dir: str,
                             cursor_dir: str, checkpoint_dir: str,
                             url_col: str = "url",
                             delay_col: str | None = None,
                             default_delay_s: float = 1.0,
                             priority_col: str | None = None):
    """The politeness scheduler as a streaming job: frontier batches
    stream in, per-host fetch slots stream out with offsets continuing
    across micro-batches via the persisted host-cursor store
    (``frontier_schedule_batch`` per micro-batch under a checkpoint).
    Returns the started StreamingQuery (availableNow drains + stops)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        frontier_schedule_batch(batch_df, batch_id, schedule_dir,
                                cursor_dir, url_col=url_col,
                                delay_col=delay_col,
                                default_delay_s=default_delay_s,
                                priority_col=priority_col)

    return start_foreach_batch(stream, write_batch, checkpoint_dir)
