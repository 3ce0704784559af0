"""curation_pipeline: ``plans.pipeline.run_pretraining_pipeline`` over a
seeded corpus with planted exact and near duplicates, low-quality and
off-language documents and test-split contamination. Every pass loads the
corpus through ``catalog.load_table`` and must report the planted count at
every stage."""

from __future__ import annotations

import os

import inputs
from common import run_op

N_DOCS = 100
# nominal seconds of one warm pass on a 4-CPU machine: --seconds S times
# round(S / PASS_S) passes, at least one
PASS_S = 12


class Curation:
    name = "curation_pipeline"

    def __init__(self, seed: int, cache: str, seconds: int):
        self.corpus_dir = os.path.join(cache, f"corpus-s{seed}-n{N_DOCS}")
        c = inputs.corpus(seed, N_DOCS)
        inputs.write_corpus(c, self.corpus_dir)
        self.stages = c["stages"]
        self.n_timed = max(1, round(seconds / PASS_S))
        self.sizes = {"docs": N_DOCS, "planted_stages": dict(self.stages),
                      "cold_passes": 1, "warmup_passes": 0,
                      "timed_passes": self.n_timed}

    def setup(self, spark, work: str, tracer) -> list:
        self.spark = spark
        return [self.one_pass(tracer)]

    def timed(self, tracer) -> list:
        return [self.one_pass(tracer) for _ in range(self.n_timed)]

    def one_pass(self, tracer):
        from thewhisperdb_spark.catalog import load_table
        from thewhisperdb_spark.plans.pipeline import run_pretraining_pipeline

        def run():
            docs = load_table(self.spark, self.corpus_dir, "documents")
            return run_pretraining_pipeline(docs)["stages"]

        stages, op = run_op(tracer, "pass", "read", run)
        op.ok = op.ok and stages == self.stages
        op.items = N_DOCS
        return op
