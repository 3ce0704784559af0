"""Persisted clip-fingerprint index (operators/clipindex.py): build /
probe / append lifecycle, drift tolerance, replay idempotence, and the
width-aware banding it rides on."""
from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from thewhisperdb_spark.operators.clipindex import (
    clip_index_append,
    clip_index_build,
    clip_index_probe,
)


def _frames(spark, rows):
    df = spark.createDataFrame(rows, "path string, frame_idx int, "
                                     "dhash long")
    return df.withColumn("status", F.lit("ok"))


def _mk(rng, vid, n=6):
    return [(vid, i, rng.getrandbits(63)) for i in range(n)]


def test_clip_index_lifecycle(spark, tmp_path):
    rng = random.Random(3)
    corpus = {}
    rows = []
    for v in range(6):
        r = _mk(rng, f"v{v}")
        corpus[f"v{v}"] = r
        rows += r
    path = str(tmp_path / "clipidx")
    clip_index_build(_frames(spark, rows), path)
    # width meta: 3 * 16-bit slices = 48, banded over the true width
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert meta["width"] == 48 and meta["bands"] == 9

    def drift(h, flips):
        for b in rng.sample(range(63), flips):
            h ^= 1 << b
        return h

    batch = (
        [("exactcopy", i, h) for _, i, h in corpus["v0"]]
        + [("driftcopy", i, drift(h, 3)) for _, i, h in corpus["v1"]]
        + _mk(rng, "fresh"))
    hits = clip_index_probe(spark, path, _frames(spark, batch))
    got = {(r["index_clip"], r["batch_clip"]): r["containment"]
           for r in hits.collect()}
    assert got[("v0", "exactcopy")] == 1.0
    assert ("v1", "driftcopy") in got
    assert not any(b == "fresh" for _, b in got)

    # append the batch, replay it (no-op), re-probe: self-pairs (a
    # replayed clip matching its own indexed windows at containment
    # 1.0) are excluded INSIDE the probe (ADVICE r11) — a direct caller
    # must not re-drop a replayed clip as its own duplicate; the
    # genuine cross pair still surfaces
    clip_index_append(spark, path, _frames(spark, batch))
    n_rows = spark.read.parquet(f"{path}/hashes").count()
    clip_index_append(spark, path, _frames(spark, batch))  # replay
    assert spark.read.parquet(f"{path}/hashes").count() == n_rows
    re = {(r["index_clip"], r["batch_clip"]): r["containment"]
          for r in clip_index_probe(
              spark, path, _frames(spark, batch)).collect()}
    assert not any(a == b for a, b in re)
    assert re[("v0", "exactcopy")] == 1.0


def test_clip_index_probe_bucket_cap(spark, tmp_path):
    """ADVICE r11: common windows already AT REST (all-black intros,
    test cards shared by many clips) must not fan out unboundedly on
    every probe — the probe applies the in-memory kernel's bucket-df
    cap, counted in distinct CLIPS over index + batch band rows; a
    generous cap restores the pairs (the cap is the only difference)."""
    rng = random.Random(11)
    intro = _mk(rng, "template")            # one shared frame sequence
    rows = [(f"c{v}", i, h) for v in range(6) for _, i, h in intro]
    path = str(tmp_path / "capidx")
    clip_index_build(_frames(spark, rows), path)
    batch = _frames(spark, [("probe", i, h) for _, i, h in intro])
    capped = clip_index_probe(spark, path, batch, max_bucket_df=3)
    assert capped.count() == 0              # 7 clips/bucket > cap
    open_ = clip_index_probe(spark, path, batch, max_bucket_df=50)
    got = {(r["index_clip"], r["batch_clip"]): r["containment"]
           for r in open_.collect()}
    assert len(got) == 6
    assert all(c == 1.0 for c in got.values())


def test_clip_index_separator_refused(spark, tmp_path):
    rng = random.Random(5)
    ok = _frames(spark, _mk(rng, "good"))
    bad = _frames(spark, _mk(rng, "evil\x1fid"))
    path = str(tmp_path / "sepidx")
    with pytest.raises(ValueError, match="separator"):
        clip_index_build(bad, path)
    clip_index_build(ok, path)
    with pytest.raises(ValueError, match="separator"):
        clip_index_append(spark, path, bad)


def test_band_hashes_width_meta_roundtrip(spark, tmp_path):
    """dhash index built with a narrow width bands only those bits and
    probes with the same width from meta; a legacy meta without the
    width column reads as 64."""
    from thewhisperdb_spark.operators.hashindex import (
        HASH_INDEX,
        dhash_index_build,
        dhash_index_probe,
    )
    from thewhisperdb_spark.operators.indexmeta import open_index

    rows = spark.createDataFrame(
        [("a", 0x0ABC), ("b", 0x0ABD)], "path string, dhash long")
    path = str(tmp_path / "w16")
    dhash_index_build(rows, path, max_hamming=2, width=16)
    assert open_index(spark, path, HASH_INDEX)["width"] == 16
    hits = dhash_index_probe(
        spark, path,
        spark.createDataFrame([("q", 0x0ABC)],
                              "path string, dhash long"))
    got = {(r["index_id"], r["batch_id"]): r["hamming"]
           for r in hits.collect()}
    assert got[("a", "q")] == 0 and got[("b", "q")] == 1
    # legacy meta (no width column) defaults to 64
    legacy = str(tmp_path / "legacy")
    dhash_index_build(rows, legacy, max_hamming=2)
    spark.createDataFrame(
        [(1, 2, 3, "string")],
        "format_version int, max_hamming int, bands int, id_type string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{legacy}/meta")
    assert open_index(spark, legacy, HASH_INDEX)["width"] == 64
    with pytest.raises(ValueError, match="exceeds hash width"):
        dhash_index_build(rows, str(tmp_path / "w2"), max_hamming=2,
                          bands=4, width=2)


def test_stream_clip_dedup_ingest_two_batches(spark, tmp_path):
    """The clip-level daily loop: batch 1 seeds the index; batch 2's
    drifted re-encode of a batch-1 clip is dropped against the index,
    its within-batch duplicate pair keeps one survivor, fresh clips
    survive and are appended; replaying batch 2 converges (no dup rows,
    no re-drops)."""
    import time

    from thewhisperdb_spark.streaming.jobs import stream_clip_dedup_ingest

    rng = random.Random(17)
    src = tmp_path / "arrivals"
    src.mkdir()
    idx = str(tmp_path / "clipidx")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")

    v0 = _mk(rng, "day1a")
    v1 = _mk(rng, "day1b")
    b1 = _frames(spark, v0 + v1)
    b1.write.mode("overwrite").parquet(str(src / "f1.parquet"))
    # batch 2: a drifted copy of day1a (must drop vs index), two
    # identical fresh clips (one survives), one unrelated fresh clip
    def drift(h):
        for b in rng.sample(range(63), 3):
            h ^= 1 << b
        return h

    fresh = _mk(rng, "day2a")
    b2 = ([("day1a_re", i, drift(h)) for _, i, h in v0]
          + fresh
          + [("day2a_twin", i, h) for _, i, h in fresh]
          + _mk(rng, "day2b"))

    from thewhisperdb_spark.operators.clipindex import clip_index_build

    clip_index_build(b1, idx)

    def run_once():
        stream = (spark.readStream
                  .schema("path string, frame_idx int, dhash long, "
                          "status string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src) + "/*"))
        q = stream_clip_dedup_ingest(stream, idx, out, ckpt)
        q.awaitTermination(180)
        time.sleep(0.2)

    _frames(spark, b2).write.mode("overwrite") \
        .parquet(str(src / "f2.parquet"))
    run_once()
    survivors = {r["path"] for r in
                 spark.read.parquet(out).select("path")
                 .distinct().collect()}
    # day1a_re dropped vs index; exactly ONE of the twin pair survives;
    # day2b survives; batch-1 clips also flowed through the stream and
    # self-matched the index (already indexed) -> dropped here
    assert "day1a_re" not in survivors
    assert "day2b" in survivors
    assert len({"day2a", "day2a_twin"} & survivors) == 1
    n_idx = spark.read.parquet(f"{idx}/hashes").count()
    # replay the same arrivals against a FRESH checkpoint: everything
    # now self-matches... except the already-published survivors, whose
    # ids are in the index, so the self-exclusion admits them and the
    # sink rewrite converges; the index gains nothing
    import shutil
    shutil.rmtree(ckpt)
    run_once()
    assert spark.read.parquet(f"{idx}/hashes").count() == n_idx
    survivors2 = {r["path"] for r in
                  spark.read.parquet(out).select("path")
                  .distinct().collect()}
    assert survivors2 == survivors


def test_clip_rebuild_dying_before_clipmeta_refuses_probes(
        spark, tmp_path, monkeypatch):
    """A rebuild under new window parameters that dies before writing
    ``clipmeta`` must leave the index in-progress: a probe must not
    fingerprint under the OLD (k, bands) against hashes banded for the
    new ones."""
    from thewhisperdb_spark.operators import clipindex

    rng = random.Random(5)
    rows = [r for v in range(4) for r in _mk(rng, f"v{v}")]
    path = str(tmp_path / "rebuild")
    clip_index_build(_frames(spark, rows), path, k=3)

    def boom(*_args):
        raise RuntimeError("clipmeta write died")

    monkeypatch.setattr(clipindex, "_clipmeta_write", boom)
    with pytest.raises(RuntimeError, match="clipmeta write died"):
        clip_index_build(_frames(spark, rows), path, k=2)
    with pytest.raises(ValueError, match="in-progress"):
        clip_index_probe(spark, path, _frames(spark, rows[:6]))
