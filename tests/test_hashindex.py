"""Persisted perceptual-hash index (operators/hashindex.py): build/probe
losslessness vs brute force, append idempotency, sentinel/claim gates,
and the media ingest loop (batch + streaming) end to end."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from thewhisperdb_spark.operators.hashindex import (
    dhash_index_append,
    dhash_index_build,
    dhash_index_probe,
    media_dedup_ingest_batch,
    stream_media_dedup_ingest,
)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def _mk_hashes(spark, rows):
    return spark.createDataFrame([(p, _signed(h) if h is not None else None)
                                  for p, h in rows],
                                 "path string, dhash long")


def test_build_probe_lossless_vs_bruteforce(spark, tmp_path):
    rng = random.Random(3)
    corpus = [(f"c{i:03d}", rng.getrandbits(64)) for i in range(60)]
    batch = []
    for i, (p, h) in enumerate(corpus[::5]):
        flips = rng.sample(range(64), rng.randint(0, 6))
        h2 = h
        for b in flips:
            h2 ^= 1 << b
        batch.append((f"b{i:03d}", h2))
    batch += [(f"r{i:02d}", rng.getrandbits(64)) for i in range(20)]
    path = str(tmp_path / "idx")
    dhash_index_build(_mk_hashes(spark, corpus), path, max_hamming=4)
    got = {(r["index_id"], r["batch_id"]): r["hamming"]
           for r in dhash_index_probe(
               spark, path, _mk_hashes(spark, batch)).collect()}
    exp = {(pc, pb): bin(hc ^ hb).count("1")
           for pc, hc in corpus for pb, hb in batch
           if bin(hc ^ hb).count("1") <= 4}
    assert got == exp and len(exp) >= 6
    # lossy probe refused
    with pytest.raises(ValueError, match="lossy"):
        dhash_index_probe(spark, path, _mk_hashes(spark, batch),
                          max_hamming=7)


def test_append_is_retry_idempotent_and_claim_gated(spark, tmp_path):
    path = str(tmp_path / "idx")
    corpus = [(f"c{i}", (i * 0x9E3779B97F4A7C15) % (1 << 64))
              for i in range(20)]
    dhash_index_build(_mk_hashes(spark, corpus), path, max_hamming=2)
    batch = [(f"n{i}", (i * 0xC2B2AE3D27D4EB4F) % (1 << 64))
             for i in range(8)]
    dhash_index_append(spark, path, _mk_hashes(spark, batch))
    n_h = spark.read.parquet(f"{path}/hashes").count()
    n_b = spark.read.parquet(f"{path}/bands").count()
    # replay: anti-join makes it a no-op, state identical
    dhash_index_append(spark, path, _mk_hashes(spark, batch))
    assert spark.read.parquet(f"{path}/hashes").count() == n_h == 28
    assert spark.read.parquet(f"{path}/bands").count() == n_b == 28 * 3
    # id-type pin: appending long ids into a string-id index is refused
    bad = spark.createDataFrame([(1, 2)], "path long, dhash long")
    with pytest.raises(ValueError, match="would corrupt"):
        dhash_index_append(spark, path, bad)
    # torn sentinel (-1): probes fail the loud gate, appends refuse
    from thewhisperdb_spark.operators.hashindex import HASH_INDEX
    from thewhisperdb_spark.operators.indexmeta import open_index, stamp_meta
    stamp_meta(spark, path, HASH_INDEX, open_index(spark, path, HASH_INDEX),
               -1)
    with pytest.raises(ValueError, match="format_version"):
        dhash_index_probe(spark, path, _mk_hashes(spark, batch))
    # the append's meta read hits the same gate BEFORE it could claim
    with pytest.raises(ValueError, match="format_version"):
        dhash_index_append(spark, path, _mk_hashes(spark, [("z", 5)]))


def test_media_ingest_loop_batch_and_streaming(spark, tmp_path):
    """Two micro-batches through the loop: batch 0 seeds the index
    (internal dup collapses), batch 1 drops a cross-corpus near-dup,
    keeps fresh items, publishes quarantined rows WITHOUT indexing them;
    a replay of batch 1 converges to identical state. Then the same
    batches through the real streaming wrapper (file source +
    checkpoint) produce the same index."""
    idx = str(tmp_path / "idx")
    surv = str(tmp_path / "surv")
    base = 0x0123456789ABCDEF
    b0 = [("a", base), ("a_dup", base ^ 1), ("b", ~base & ((1 << 64) - 1))]
    b1 = [("c", base ^ 2),                  # near-dup of indexed "a"
          ("d", 0x00FF00FF00FF00FF),        # fresh
          ("q", None)]                      # quarantined decode
    dhash_index_build(_mk_hashes(spark, []).limit(0), idx, max_hamming=2)
    media_dedup_ingest_batch(_mk_hashes(spark, b0), 0, idx, surv)
    media_dedup_ingest_batch(_mk_hashes(spark, b1), 1, idx, surv)
    out = {r["path"]: r["ingest_batch"]
           for r in spark.read.parquet(surv).collect()}
    assert set(k for k, v in out.items() if v == 0) == {"a", "b"}
    assert set(k for k, v in out.items() if v == 1) == {"d", "q"}
    idx_ids = {r["id"] for r in
               spark.read.parquet(f"{idx}/hashes").collect()}
    assert idx_ids == {"a", "b", "d"}        # q never indexed
    # replay batch 1: dynamic overwrite + anti-join converge
    media_dedup_ingest_batch(_mk_hashes(spark, b1), 1, idx, surv)
    assert spark.read.parquet(f"{idx}/hashes").count() == 3
    assert spark.read.parquet(surv).count() == 4

    # streaming wrapper over the same two batches (one file each)
    sdir = tmp_path / "stream_in"
    sdir.mkdir()
    idx2, surv2 = str(tmp_path / "idx2"), str(tmp_path / "surv2")
    dhash_index_build(_mk_hashes(spark, []).limit(0), idx2, max_hamming=2)
    _mk_hashes(spark, b0 + b1).coalesce(1).write.parquet(str(sdir / "f0"))
    stream = (spark.readStream.schema("path string, dhash long")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(sdir / "*")))
    q = stream_media_dedup_ingest(stream, idx2, surv2,
                                  str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    idx2_ids = {r["id"] for r in
                spark.read.parquet(f"{idx2}/hashes").collect()}
    assert idx2_ids == {"a", "b", "d"}


def test_build_rejects_bands_over_64(spark, tmp_path):
    """ADVICE r9: bands > 64 would persist zero-width band slices (every
    row collides in those bands) — rejected at build, mirroring
    hamming_near_dup_pairs."""
    h = _mk_hashes(spark, [("a", 1), ("b", 2)])
    with pytest.raises(ValueError, match=r"\[1, 64\]"):
        dhash_index_build(h, str(tmp_path / "ix"), max_hamming=4, bands=65)
    # the low bound is covered by the pigeonhole check (bands <= 0 implies
    # max_hamming >= bands for any non-negative max_hamming)
    with pytest.raises(ValueError, match="pigeonhole"):
        dhash_index_build(h, str(tmp_path / "ix"), max_hamming=0, bands=0)


def _gate_index(spark, kind, path):
    """A tiny index of ``kind`` at ``path``; returns (format version,
    probe)."""
    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.operators import hashindex as H
    from thewhisperdb_spark.operators import vectors as V

    if kind == "lsh":
        docs = spark.createDataFrame(
            [(i, f"doc {i} shares these words with every other doc")
             for i in range(6)], "doc_id long, text string")
        D.lsh_index_build(docs, path, n_hashes=8, bands=4, shingle_n=2)
        return (D.LSH_INDEX_FORMAT_VERSION,
                lambda: D.lsh_index_probe(spark, path, docs))
    if kind == "ivf":
        emb = spark.createDataFrame(
            [(i, [1.0, float(i)]) for i in range(6)],
            "vec_id long, embedding array<float>")
        V.ivf_index_build(emb, path, n_cells=2)
        return (V.INDEX_FORMAT_VERSION,
                lambda: V.ivf_index_probe(spark, path, emb, k=2))
    hashes = _mk_hashes(spark, [(f"p{i}", i * 977) for i in range(6)])
    H.dhash_index_build(hashes, path, max_hamming=2)
    return (H.HASH_INDEX_FORMAT_VERSION,
            lambda: H.dhash_index_probe(spark, path, hashes))


@pytest.mark.parametrize("kind", ["lsh", "ivf", "dhash"])
def test_index_gate_is_shared(spark, tmp_path, kind):
    """Every persisted index refuses a missing meta, an in-progress -1
    and a foreign format version with the same ValueError."""
    import shutil

    path = str(tmp_path / kind)
    version, probe = _gate_index(spark, kind, path)
    meta = spark.read.parquet(f"{path}/meta")
    row = meta.collect()[0].asDict()
    probe()                                      # a stamped index serves
    for bad, message in (
            (-1, r"in-progress/interrupted \(format_version -1\)"),
            (version + 7,
             rf"format v{version + 7}, this build reads v{version}")):
        (spark.createDataFrame([{**row, "format_version": bad}], meta.schema)
         .write.mode("overwrite").parquet(f"{path}/meta"))
        with pytest.raises(ValueError, match=message):
            probe()
    shutil.rmtree(f"{path}/meta")
    with pytest.raises(ValueError, match="no meta"):
        probe()
