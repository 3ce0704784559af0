"""End-to-end pretraining pipeline composite (plans/pipeline.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from thewhisperdb_spark.catalog import load_table
from thewhisperdb_spark.plans.pipeline import run_pretraining_pipeline

SF_DIR = "/root/testdata/sf0.001"


def test_pipeline_stages_monotone_and_deterministic(spark):
    docs = load_table(spark, SF_DIR, "documents")
    res = run_pretraining_pipeline(docs)
    stages = dict(res["stages"])
    order = [s for s, _ in res["stages"]]
    assert order == ["ingest", "quality_filter", "language_filter",
                     "exact_dedup", "near_dedup", "train_split",
                     "decontaminated_train", "packed_bins"]
    # every filtering stage can only shrink the row count
    counts = [n for _, n in res["stages"][:7]]
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    assert stages["ingest"] == docs.count()
    assert stages["decontaminated_train"] > 0
    assert stages["packed_bins"] > 0
    # pure function of the input: a second run agrees exactly
    res2 = run_pretraining_pipeline(docs)
    assert res["stages"] == res2["stages"]


def test_pipeline_train_split_is_clean(spark):
    docs = load_table(spark, SF_DIR, "documents")
    res = run_pretraining_pipeline(docs)
    train = res["train"]
    # only the requested language and split survive
    assert train.filter(F.col("lang") != "en").count() == 0
    assert train.filter(F.col("split") != "train").count() == 0
    # no exact duplicates remain
    assert (train.groupBy("text").count().filter(F.col("count") > 1)
            .count()) == 0
    # packing accounted for every surviving train document
    n_docs_binned = (res["bins"].agg(F.sum("n_docs")).collect()[0][0])
    assert n_docs_binned == train.count()


def test_near_dedup_job_budget(spark, jobs_of):
    """Near-dedup's connected components finishes on the driver when the
    pair graph is small, and each pipeline stage count rides the job that
    materializes its stage. With distributed rounds only and a separate
    count per stage, connected components ran 30-31 Spark jobs on this
    8-vertex graph and the pipeline 65; with a checkpoint each for the
    quality and language filters and the 64-aggregate MinHash, the
    pipeline ran 25; with the LSH pairs found by a distributed bucket
    join and exact dedup in a checkpoint of its own, it ran 23."""
    from thewhisperdb_spark.operators import graph as G

    vertices = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (6, 6)], "src long, dst long")
    assert jobs_of("budget-cc", lambda: G.connected_components(
        vertices, edges).collect()) <= 7

    docs = load_table(spark, SF_DIR, "documents")
    res = {}
    n_jobs = jobs_of("budget-pipeline", lambda: res.update(
        run_pretraining_pipeline(docs)))
    assert res["stages"] == [
        ("ingest", 500), ("quality_filter", 349), ("language_filter", 123),
        ("exact_dedup", 123), ("near_dedup", 118), ("train_split", 97),
        ("decontaminated_train", 97), ("packed_bins", 23)]
    assert n_jobs <= 13
