"""Persisted perceptual-hash index: incremental near-dup detection for
media corpora, the third member of the persisted-index family
(LSH signatures for text, ``operators/dedup.py``; IVF lists for
embeddings, ``operators/vectors.py``).

At 100 TB the crawl arrives daily and the historical corpus must not be
re-hashed per batch: the index stores each media item's 64-bit perceptual
hash (image dHash / audio fingerprint — anything
:func:`imagededup.hamming_near_dup_pairs` pairs) once, pre-exploded into
its multi-index-hamming band rows and hive-partitioned by band, so a
probe is a band-aligned equi-join of only the BATCH's band rows against
the at-rest layout — never a re-band of history, never all-pairs.

Consistency (shared with the other two indexes): meta carries the banding
parameters, an id-type pin and the hash ``width`` next to the
``format_version`` sentinel; the read gate, the build bracket and the
claim-guarded append are the one index lifecycle of
``operators/indexmeta.py``. Probes are never blocked by claims.

No reference counterpart; north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thewhisperdb_spark.operators import checkpoint_counted
from thewhisperdb_spark.operators.imagededup import band_hashes
from thewhisperdb_spark.operators.indexmeta import (
    IndexKind,
    build_bracket,
    mutate_index,
    open_index,
)

HASH_INDEX_FORMAT_VERSION = 1
HASH_INDEX = IndexKind(
    "hash", HASH_INDEX_FORMAT_VERSION,
    "format_version int, max_hamming int, bands int, id_type string, "
    "width int",
    "dhash_index_build",
    {"width": 64})                   # pre-r11 indexes banded all 64 bits


def _hash_build(hashes: DataFrame, max_hamming: int, bands: int | None,
                id_col: str, hash_col: str, width: int):
    """Validate a build's banding; return its meta and the writes of its
    hashes and band rows (``write(path)``) for a ``build_bracket``."""
    bands = max_hamming + 1 if bands is None else bands
    if max_hamming >= bands:
        raise ValueError("pigeonhole guarantee needs max_hamming < bands")
    if not 1 <= bands <= 64:
        # mirrors hamming_near_dup_pairs: >64 bands would freeze zero-width
        # band slices into the persisted meta — every row collides in those
        # bands, a quadratic candidate blowup on every future probe (ADVICE r9)
        raise ValueError("bands must be in [1, 64] for a 64-bit hash")
    if not 1 <= width <= 64:
        raise ValueError("width must be in [1, 64]")
    if bands > width:
        # zero-width band slices frozen into meta = every row collides
        # in those bands on every future probe
        raise ValueError(f"bands={bands} exceeds hash width={width}")
    h = (hashes.filter(F.col(hash_col).isNotNull())
         .select(F.col(id_col).alias("id"), F.col(hash_col).alias("h")))
    meta = {"max_hamming": max_hamming, "bands": bands,
            "id_type": h.schema["id"].dataType.simpleString(),
            "width": width}

    def write(path: str) -> None:
        h.write.mode("overwrite").parquet(f"{path}/hashes")
        (band_hashes(h, bands, width=width).write.mode("overwrite")
         .partitionBy("band").parquet(f"{path}/bands"))
    return meta, write


def dhash_index_build(hashes: DataFrame, path: str, max_hamming: int = 4,
                      bands: int | None = None, id_col: str = "path",
                      hash_col: str = "dhash", width: int = 64) -> None:
    """Materialize the hash index: ``<path>/hashes`` (id, h),
    ``<path>/bands`` (slice, id) hive-partitioned by band, ``<path>/meta``
    (banding parameters + id type + the completion sentinel). ``bands``
    defaults to ``max_hamming + 1`` (multi-index-hamming optimum — see
    ``hamming_near_dup_pairs``); rows with a NULL hash (quarantined
    decodes) are not indexed."""
    meta, write = _hash_build(hashes, max_hamming, bands, id_col, hash_col,
                              width)
    with build_bracket(hashes.sparkSession, path, HASH_INDEX, meta):
        write(path)


def dhash_index_append(spark: SparkSession, path: str, new_hashes: DataFrame,
                       id_col: str = "path",
                       hash_col: str = "dhash") -> None:
    """Add a batch with the INDEX'S OWN banding parameters (from meta).
    Retry-idempotent (incoming ids anti-joined against the at-rest hashes
    under the writer claim, so a replayed batch is a no-op) and
    crash-atomic (both appends inside the ``-1`` bracket); lifecycle
    ``indexmeta.mutate_index``, as ``lsh_index_append``."""
    m = open_index(spark, path, HASH_INDEX)
    h = (new_hashes.filter(F.col(hash_col).isNotNull())
         .select(F.col(id_col).alias("id"), F.col(hash_col).alias("h")))
    in_type = h.schema["id"].dataType.simpleString()
    if in_type != m["id_type"]:
        raise ValueError(
            f"hash index at {path} stores {m['id_type']} ids; appending a "
            f"batch with {in_type} ids would corrupt the index")

    def delta():
        idx_ids = (spark.read.schema(f"id {m['id_type']}, h long")
                   .parquet(f"{path}/hashes").select("id"))
        # emptiness rides the checkpoint job (optimization r13)
        fresh, n_fresh = checkpoint_counted(h.join(idx_ids, "id",
                                                   "left_anti"))
        if n_fresh == 0:
            return None
        return fresh, band_hashes(fresh, int(m["bands"]),
                                  width=int(m["width"])).localCheckpoint(
            eager=True)

    def write(d):
        fresh, banded = d
        fresh.write.mode("append").parquet(f"{path}/hashes")
        (banded.write.mode("append").partitionBy("band")
         .parquet(f"{path}/bands"))

    mutate_index(spark, path, HASH_INDEX, m, delta, write)


def dhash_index_probe(spark: SparkSession, path: str, batch: DataFrame,
                      max_hamming: int | None = None, id_col: str = "path",
                      hash_col: str = "dhash",
                      max_bucket_df: int | None = None,
                      df_entity=None) -> DataFrame:
    """(index_id, batch_id, hamming) for every (index row, batch row)
    pair within ``max_hamming`` (default: the index's own). Only the
    BATCH is banded; the index side is the at-rest band layout, so the
    probe cost scales with the batch and the collision volume, not the
    corpus. Lossless for any probe ``max_hamming`` <= the index's
    (pigeonhole still holds band-count-wise); a larger one is refused —
    it would silently miss pairs.

    ``max_bucket_df`` (optional) mirrors the in-memory kernels' bucket
    cap: (band, slice) buckets whose distinct-entity frequency — counted
    over index AND batch band rows together — exceeds the cap are
    dropped before the candidate join, so degenerate common values
    (all-black frames, test cards) already at rest cannot fan out
    unboundedly on every probe. ``df_entity`` maps an id Column to the
    entity counted (default: the id itself); the clip index passes the
    composite-id → clip-id split so the cap counts distinct CLIPS, the
    same df basis as ``video_clip_near_dup_pairs``. Capping makes the
    probe lossy for capped buckets only, exactly like the in-memory
    kernel."""
    m = open_index(spark, path, HASH_INDEX)
    if max_hamming is None:
        max_hamming = int(m["max_hamming"])
    if max_hamming >= int(m["bands"]):
        raise ValueError(
            f"hash index at {path} has {m['bands']} bands: probing at "
            f"max_hamming={max_hamming} would be lossy (pigeonhole needs "
            "max_hamming < bands); rebuild with more bands")
    b = (batch.filter(F.col(hash_col).isNotNull())
         .select(F.col(id_col).alias("id"), F.col(hash_col).alias("h")))
    banded_b = band_hashes(b, int(m["bands"]), keep_cols=["h"],
                           width=int(m["width"]))
    idx_bands = spark.read.schema(
        f"slice long, id {m['id_type']}, band int"
    ).parquet(f"{path}/bands")
    idx_h = spark.read.schema(f"id {m['id_type']}, h long").parquet(
        f"{path}/hashes")
    if max_bucket_df is not None:
        ent = df_entity if df_entity is not None else (lambda c: c)
        both = (idx_bands.select("band", "slice",
                                 ent(F.col("id")).alias("_e"))
                .unionByName(banded_b.select(
                    "band", "slice", ent(F.col("id")).alias("_e"))))
        # materialize the surviving bucket keys ONCE (optimization r13):
        # ``keep_buckets`` is referenced by BOTH join legs below, and
        # without a barrier the union-aggregate over the full at-rest
        # band scan executes once per leg — at corpus scale that is two
        # extra full index scans per probe. The frame is bucket-key
        # sized (tiny).
        keep_buckets = (both.groupBy("band", "slice")
                        .agg(F.count_distinct("_e").alias("_df"))
                        .filter(F.col("_df") <= max_bucket_df)
                        .select("band", "slice")
                        .localCheckpoint(eager=True))
        idx_bands = idx_bands.join(keep_buckets, ["band", "slice"])
        banded_b = banded_b.join(keep_buckets, ["band", "slice"])
    cand = (idx_bands.alias("x")
            .join(banded_b.alias("y"),
                  (F.col("x.band") == F.col("y.band"))
                  & (F.col("x.slice") == F.col("y.slice")))
            .select(F.col("x.id").alias("index_id"),
                    F.col("y.id").alias("batch_id"),
                    F.col("y.h").alias("hb"))
            .dropDuplicates(["index_id", "batch_id"]))
    out = (cand.join(idx_h.select(F.col("id").alias("index_id"),
                                  F.col("h").alias("ha")), "index_id")
           .select("index_id", "batch_id",
                   F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                   .cast("long").alias("hamming"))
           .filter(F.col("hamming") <= max_hamming))
    return out


def media_dedup_ingest_batch(hashes: DataFrame, batch_id: int,
                             index_path: str, survivors_dir: str,
                             id_col: str = "path",
                             hash_col: str = "dhash") -> None:
    """One micro-batch of the media-crawl dedup loop, mirroring the text
    loop (``streaming/jobs.py:dedup_ingest_batch``): probe the persisted
    hash index for cross-corpus near-dups, drop them, near-dedup the
    remainder WITHIN the batch (same banding, CC survivor via surrogate
    xxhash64 ids), publish survivors batch-partitioned (dynamic
    overwrite = replay rewrites exactly its own partition), then append
    survivors to the index (itself anti-joined + claim-bracketed).
    Quarantined rows (NULL hash) are published but never indexed.
    Replay-idempotent end to end; same-id probe hits are replay
    self-matches and are ignored."""
    from thewhisperdb_spark.operators.dedup import near_dup_groups
    from thewhisperdb_spark.operators.imagededup import (
        hamming_near_dup_pairs)

    # emptiness probe fused INTO the barrier (optimization r13): the old
    # isEmpty-then-checkpoint shape ran the upstream hash pipeline (a
    # Python decode stage for media batches) twice — the observe metric
    # rides the checkpoint job itself (one job, one scan)
    spark = hashes.sparkSession
    hashes, n_rows = checkpoint_counted(hashes)
    if n_rows == 0:
        return
    m = open_index(spark, index_path, HASH_INDEX)
    hits = (dhash_index_probe(spark, index_path, hashes,
                              id_col=id_col, hash_col=hash_col)
            .filter(F.col("batch_id") != F.col("index_id"))
            .select(F.col("batch_id").alias(id_col)).distinct())
    fresh = hashes.join(hits, id_col, "left_anti")
    with_sid = fresh.withColumn("_sid", F.xxhash64(id_col))
    pairs = hamming_near_dup_pairs(
        with_sid, max_hamming=int(m["max_hamming"]), bands=int(m["bands"]),
        id_col="_sid", hash_col=hash_col)
    groups = near_dup_groups(with_sid.filter(F.col(hash_col).isNotNull()),
                             pairs.select("a", "b"), id_col="_sid")
    keep = groups.filter(F.col("keep")).select("_sid")
    survivors = (with_sid.join(keep, "_sid")
                 .unionByName(with_sid.filter(F.col(hash_col).isNull()))
                 .drop("_sid").localCheckpoint(eager=True))
    (survivors.withColumn("ingest_batch", F.lit(int(batch_id)))
     .write.mode("overwrite").partitionBy("ingest_batch")
     .option("partitionOverwriteMode", "dynamic").parquet(survivors_dir))
    dhash_index_append(spark, index_path, survivors,
                       id_col=id_col, hash_col=hash_col)


def stream_media_dedup_ingest(stream: DataFrame, index_path: str,
                              survivors_dir: str, checkpoint_dir: str,
                              id_col: str = "path",
                              hash_col: str = "dhash"):
    """The media-crawl loop as one streaming job: perceptual-hash rows
    stream in, near-dups against the ever-growing persisted index are
    dropped, batches are internally deduped, survivors published and
    appended — ``media_dedup_ingest_batch`` per micro-batch under a
    streaming checkpoint. Returns the started StreamingQuery
    (availableNow drains and stops)."""
    from thewhisperdb_spark.streaming.jobs import start_foreach_batch

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        media_dedup_ingest_batch(batch_df, batch_id, index_path,
                                 survivors_dir, id_col=id_col,
                                 hash_col=hash_col)

    return start_foreach_batch(stream, write_batch, checkpoint_dir)
