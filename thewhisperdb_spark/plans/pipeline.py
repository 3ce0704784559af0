"""End-to-end pretraining-data pipeline: the composite job that strings the
engine's corpus operators into the shape every LLM data team actually runs —
ingest -> quality filter -> language filter -> exact dedup -> near-dup drop ->
split assignment -> train-split decontamination -> sequence packing.

Each stage is one of the already-tested operators (quality features,
drop_exact_duplicates, drop_near_duplicates, three_way_split,
cross_split_contamination, pack_sequences); this module adds only the
composition and per-stage accounting. Scale posture is inherited: every stage
is scan- or equi-join-shaped and the only iteration is the near-dup connected
components. Two things reach the driver: the per-stage counts (one long
each, collected as metrics of the jobs that materialize the stages) and,
when they fit the broadcast budget, the MinHash signatures, from which
near-dedup finds its pairs and components locally.

The reference has no such pipeline (its only composite is the clustering job,
``src/embedding/EmbeddingService.cpp:140-193``); this is north-star §2.11
surface built from the same composition machinery as plans/jobs.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from thewhisperdb_spark.operators import checkpoint_counted
from thewhisperdb_spark.operators import dedup as D
from thewhisperdb_spark.operators import packing as PK
from thewhisperdb_spark.operators import sampling as SM
from thewhisperdb_spark.operators import text as TX


def _quality_pred(text_col: str, n_chars_col: str):
    """C4-style conjunctive quality predicate (same operating point as the
    ``quality_filter_pipeline`` query): token floor, length window, stopword
    ratio floor, repetition-ratio ceiling. One codegen'd scan, no shuffle."""
    c = F.col(text_col)
    toks = TX.tokens(c)
    stop = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    stop_ratio = n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1))
    return ((F.size(toks) >= 10)
            & F.col(n_chars_col).between(50, 5000)
            & (stop_ratio >= 0.05)
            & (TX.repetition_ratio(c, 3) <= 0.2))


def run_pretraining_pipeline(docs: DataFrame, *, lang: str = "en",
                             id_col: str = "doc_id", text_col: str = "text",
                             decontam_ngram: int = 8,
                             pack_budget: int = 256) -> dict:
    """Run the full cleaning pipeline over a documents table.

    Returns a dict with:
    - ``stages``: list of (stage_name, rows_surviving) in pipeline order —
      the dataset-card accounting every release needs;
    - ``train``: the final cleaned, deduplicated, decontaminated train split;
    - ``bins``: the packed training-bin occupancy table.

    Stage boundaries materialize once each, and the next stage reads the
    materialized rows instead of replaying the upstream pipeline per
    action. There are three boundaries, each a localCheckpoint whose count
    is an ``observe`` metric of that same job:
    - ``exact_dedup``: ``ingest``, ``quality_filter`` and
      ``language_filter`` are narrow filters under the exact-dedup
      window, counted as observations of the same job;
    - ``near_dedup``: it also cuts the near-dedup lineage. Without it the
      decontamination job planned over the whole components plan, and on
      the distributed path constraint propagation
      (``ConstraintHelper.replaceConstraints``) hit a StackOverflowError;
      on the driver-side path it costs one small job;
    - ``decontaminated_train``, with ``train_split`` observed under its
      ``left_anti`` join.
    Only ``packed_bins`` pays its own count (on a real cluster, swap
    localCheckpoint for persist(DISK_ONLY) / reliable checkpoint — same
    shape, spill-safe). Near-dedup adds its own signature checkpoint and,
    when the signatures fit the broadcast budget, one collect of them.
    """
    ingest, quality, langf = Observation(), Observation(), Observation()
    train_rows = Observation()
    n_rows = F.count(F.lit(1)).alias("n")
    exact, n = checkpoint_counted(D.drop_exact_duplicates(
        docs.observe(ingest, n_rows)
        .filter(_quality_pred(text_col, "n_chars")).observe(quality, n_rows)
        .filter(F.col("lang") == lang).observe(langf, n_rows),
        id_col=id_col, text_col=text_col))
    stages: list[tuple[str, int]] = [
        ("ingest", int(ingest.get["n"])),
        ("quality_filter", int(quality.get["n"])),
        ("language_filter", int(langf.get["n"])), ("exact_dedup", n)]

    near, n = checkpoint_counted(
        D.drop_near_duplicates(exact, id_col=id_col, text_col=text_col))
    stages.append(("near_dedup", n))

    split = SM.three_way_split(near, id_col=id_col)
    train = split.filter(F.col("split") == "train")
    leaked = D.cross_split_contamination(
        split, F.col("split") == "train", n=decontam_ngram,
        id_col=id_col, text_col=text_col)
    clean_train, n = checkpoint_counted(
        train.observe(train_rows, n_rows)
        .join(leaked, id_col, "left_anti"))
    stages += [("train_split", int(train_rows.get["n"])),
               ("decontaminated_train", n)]

    # privacy scrub: per-row transform (row count unchanged, so no stage
    # boundary) — rides the same scan as the join output
    from thewhisperdb_spark.operators.privacy import redact_pii

    clean_train = clean_train.withColumn(text_col,
                                         redact_pii(F.col(text_col)))

    bins = PK.pack_sequences(clean_train, budget=pack_budget,
                             shard_col="lang", order_col=id_col,
                             text_col=text_col)
    stages.append(("packed_bins", bins.count()))

    return {"stages": stages, "train": clean_train, "bins": bins}


def pipeline_stage_counts(docs: DataFrame, **kw) -> DataFrame:
    """The pipeline's accounting as a DataFrame (stage order preserved via an
    explicit index): (stage_idx, stage, rows)."""
    res = run_pretraining_pipeline(docs, **kw)
    spark = docs.sparkSession
    rows = [(i, name, int(n)) for i, (name, n) in enumerate(res["stages"])]
    return spark.createDataFrame(rows, "stage_idx int, stage string, rows long")
