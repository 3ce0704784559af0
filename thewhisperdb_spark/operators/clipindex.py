"""Persisted CLIP-fingerprint index: incremental temporal near-dup
detection for video/audio corpora — the clip-level member of the
persisted-index family (LSH for text, IVF for embeddings, the banded
hash index for single frames/whole files).

At 100 TB the crawl arrives daily; historical clips must not be
re-fingerprinted per batch. The index stores each clip's DISTINCT
packed-window fingerprints (``imagededup.video_clip_fingerprints`` —
per (clip, vband), k consecutive frame-hash band slices packed into one
<=63-bit value) in the shared banded hash index
(``operators/hashindex.py``), banded over the window's TRUE bit width
(the r11 ``width`` meta field — banding 48-bit windows over 64 bits
would freeze constant all-zero top slices into the layout, a quadratic
candidate blowup on every probe). A probe fingerprints only the BATCH
and joins against the at-rest band layout; clip-level pairs aggregate
window matches into the same containment score as the in-memory kernel
(``video_clip_near_dup_pairs``).

Row identity: one index row per distinct window VALUE, id =
``clip␟vband␟fp`` (``\\x1f`` unit separator — clip ids must not contain
it; enforced at build/append). Encoding the fp into the id keeps the
hash index's (index_id, batch_id) dedup per window-value pair, so the
containment count survives; the vband rides along so cross-band slice
coincidences are filtered after the verify. Consistency (the
``operators/indexmeta.py`` lifecycle, replay-idempotent append) is the
hash index's; ``clipmeta`` is written inside its build bracket and read
behind its gate.

No reference counterpart; north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thewhisperdb_spark.operators.hashindex import (
    HASH_INDEX,
    _hash_build,
    dhash_index_append,
    dhash_index_probe,
)
from thewhisperdb_spark.operators.imagededup import (
    video_clip_fingerprints,
)
from thewhisperdb_spark.operators.indexmeta import (
    build_bracket,
    open_index,
    read_meta_rows,
    write_meta_row,
)

SEP = "\x1f"


def _fingerprint_rows(frames: DataFrame, k: int, bands: int,
                      id_col: str, hash_col: str,
                      idx_col: str) -> DataFrame:
    """Distinct (clip, vband, fp) windows as composite-id hash rows."""
    fps = video_clip_fingerprints(frames, k=k, bands=bands,
                                  id_col=id_col, hash_col=hash_col,
                                  idx_col=idx_col)
    d = fps.select("id", "band", "fp").distinct()
    return d.select(
        F.concat_ws(SEP, "id", F.col("band").cast("string"),
                    F.col("fp").cast("string")).alias("wid"),
        F.col("fp").alias("wfp"))


def _check_ids(frames: DataFrame, id_col: str) -> None:
    """Writers refuse clip ids containing the composite separator —
    a ␟ in an id would silently mis-split at probe time (one pruned
    1-row scan; probes skip the check, their split is read-only)."""
    bad = (frames.select(F.col(id_col).alias("id"))
           .filter(F.col("id").contains(SEP)).limit(1).collect())
    if bad:
        raise ValueError(
            f"clip id {bad[0]['id']!r} contains the \\x1f separator "
            "reserved for composite window ids")


def _clipmeta_write(spark: SparkSession, path: str, k: int,
                    bands: int) -> None:
    write_meta_row(spark, f"{path}/clipmeta", "k int, bands int",
                   (k, bands))


def _clipmeta(spark: SparkSession, path: str) -> tuple[dict, int, int]:
    """The hash index's gated meta and the frozen window (k, bands)."""
    m = open_index(spark, path, HASH_INDEX)
    r = read_meta_rows(spark, f"{path}/clipmeta")[0]
    return m, int(r["k"]), int(r["bands"])


def clip_index_build(frames: DataFrame, path: str, k: int = 3,
                     bands: int = 4, max_hamming: int = 8,
                     id_col: str = "path", hash_col: str = "dhash",
                     idx_col: str = "frame_idx") -> None:
    """Materialize the clip index from frame/segment hash rows
    (``video_frame_dhash`` / ``audio_segment_fingerprints`` output).
    The window parameters (k, bands) are frozen in ``clipmeta`` —
    probes re-fingerprint their batch with the INDEX'S parameters, so
    drift is impossible by construction. ``clipmeta`` is written inside
    the hash index's build bracket: a rebuild that dies before it is
    stamped never serves probes under the old window parameters."""
    width = min(63, k * -(-64 // bands))
    _check_ids(frames, id_col)
    rows = _fingerprint_rows(frames, k, bands, id_col, hash_col,
                             idx_col)
    meta, write = _hash_build(rows, max_hamming, max_hamming + 1, "wid",
                              "wfp", width)
    spark = frames.sparkSession
    with build_bracket(spark, path, HASH_INDEX, meta):
        write(path)
        _clipmeta_write(spark, path, k, bands)


def clip_index_append(spark: SparkSession, path: str,
                      frames: DataFrame, id_col: str = "path",
                      hash_col: str = "dhash",
                      idx_col: str = "frame_idx") -> None:
    """Add a batch's clips under the index's frozen window parameters.
    Replay-idempotent: composite window ids anti-join the at-rest rows
    (inherited from ``dhash_index_append``)."""
    _, k, bands = _clipmeta(spark, path)
    _check_ids(frames, id_col)
    rows = _fingerprint_rows(frames, k, bands, id_col, hash_col,
                             idx_col)
    dhash_index_append(spark, path, rows, id_col="wid", hash_col="wfp")


def _split_wid(col, piece: int):
    return F.split(col, SEP).getItem(piece)


def clip_index_probe(spark: SparkSession, path: str, frames: DataFrame,
                     min_containment: float = 0.35,
                     max_bucket_df: int = 50,
                     id_col: str = "path", hash_col: str = "dhash",
                     idx_col: str = "frame_idx") -> DataFrame:
    """(index_clip, batch_clip, n_shared, containment) for every clip
    pair at or above ``min_containment`` — the persisted twin of
    ``video_clip_near_dup_pairs``: only the batch is fingerprinted;
    candidates come from the at-rest band layout; window matches
    aggregate to the same smaller-side containment score. Index-side
    window totals come from one column-pruned scan of the at-rest ids
    (no re-banding, no re-hash).

    Mirrors the in-memory kernel's scale posture exactly (ADVICE r11):
    ``max_bucket_df`` caps candidate buckets by distinct CLIP count
    (computed over index + batch band rows, the composite window id
    split back to its clip) so common windows already at rest —
    all-black intros, test cards — cannot fan out unboundedly on every
    daily probe; totals (``ta``/``tb``) are computed PRE-cap from the
    full id scans, so containment stays a true fraction. Self-pairs
    (a replayed batch whose clips are already indexed match themselves
    at containment 1.0) are excluded here, not left to callers."""
    idx_meta, k, bands = _clipmeta(spark, path)
    rows = _fingerprint_rows(frames, k, bands, id_col, hash_col,
                             idx_col).localCheckpoint(eager=True)
    hits = dhash_index_probe(spark, path, rows, id_col="wid",
                             hash_col="wfp",
                             max_bucket_df=max_bucket_df,
                             df_entity=lambda c:
                             F.split(c, SEP).getItem(0))
    m = (hits
         .filter(_split_wid(F.col("index_id"), 0)
                 != _split_wid(F.col("batch_id"), 0))
         .select(_split_wid(F.col("index_id"), 0).alias("a"),
                 _split_wid(F.col("index_id"), 1).alias("vband_a"),
                 _split_wid(F.col("index_id"), 2).alias("fp_a"),
                 _split_wid(F.col("batch_id"), 0).alias("b"),
                 _split_wid(F.col("batch_id"), 1).alias("vband_b"),
                 _split_wid(F.col("batch_id"), 2).alias("fp_b"))
         .filter(F.col("vband_a") == F.col("vband_b")))
    shared = m.groupBy("a", "b").agg(
        F.count_distinct("vband_a", "fp_a").alias("sa"),
        F.count_distinct("vband_b", "fp_b").alias("sb"))
    idx_ids = spark.read.schema(
        f"id {idx_meta['id_type']}, h long").parquet(f"{path}/hashes") \
        .select(_split_wid(F.col("id"), 0).alias("a"))
    ta = idx_ids.groupBy("a").agg(F.count(F.lit(1)).alias("ta"))
    tb = (rows.select(_split_wid(F.col("wid"), 0).alias("b"))
          .groupBy("b").agg(F.count(F.lit(1)).alias("tb")))
    small_shared = F.when(F.col("ta") <= F.col("tb"), F.col("sa")) \
        .otherwise(F.col("sb"))
    contain = small_shared / F.least("ta", "tb").cast("double")
    return (shared.join(ta, "a").join(tb, "b")
            .select(F.col("a").alias("index_clip"),
                    F.col("b").alias("batch_clip"),
                    small_shared.cast("long").alias("n_shared"),
                    F.round(contain, 6).alias("containment"))
            .filter(F.col("containment") >= min_containment))
