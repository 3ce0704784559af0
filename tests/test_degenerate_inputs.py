"""Degenerate-corpus sweep: every text-shaped operator must survive the
inputs raw corpora actually contain — empty strings, whitespace-only,
NULL text, single characters, one long unbroken token, unicode — without
throwing (ANSI mode is ON in Spark 4, so sequence/element_at/slice edge
cases that silently worked pre-ANSI now crash jobs; ADVICE r4 found one
such crash in repeated_span_scrub, this suite pins the whole class).

The contract checked here is "no crash + sane row accounting", not exact
values (covered per-operator elsewhere)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thewhisperdb_spark.operators import dedup as D
from thewhisperdb_spark.operators import packing as PK
from thewhisperdb_spark.operators import sampling as SM
from thewhisperdb_spark.operators import text as TX


@pytest.fixture(scope="module")
def degenerate_docs(spark):
    rows = [
        (1, "normal document with several plain tokens", "en", "web"),
        (2, "", "en", "web"),                      # empty
        (3, "   \t  \n ", "en", "web"),            # whitespace-only
        (4, None, "en", "web"),                    # NULL text
        (5, "x", "en", "web"),                     # single char
        (6, "a b", "en", "web"),                   # two one-char tokens
        (7, "supercalifragilistic" * 40, "en", "crawl"),  # one huge token
        (8, "héllo wörld ünïcode ", "de", "crawl"),       # unicode
        (9, "dup dup dup dup dup dup dup dup", "en", "crawl"),  # self-repeat
        (10, ". , ! ? ; :", "en", "web"),          # punctuation-only tokens
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    return df.withColumn("n_chars", F.length(F.coalesce("text", F.lit(""))))


def test_text_scalar_ops_survive(degenerate_docs):
    out = degenerate_docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("tc"),
        TX.bpe_token_count(F.col("text")).alias("btc"),
        TX.char_ngrams(F.col("text")).alias("cg"),
        TX.word_ngrams(F.col("text")).alias("wg"),
        TX.word_ngrams_all(F.col("text")).alias("wga"),
        TX.repetition_ratio(F.col("text")).alias("rr"),
        TX.truncate_text(F.col("text"), 10).alias("tt"),
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.phrase_match(F.col("text"), "plain tokens").alias("pm"),
        TX.deletion_variants(F.col("text")).alias("dv"),
    ).collect()
    assert len(out) == 10
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["pm"] is True
    assert by_id[2]["tc"] == 0          # empty -> zero tokens, not a crash


def test_quality_and_scoring_ops_survive(degenerate_docs):
    assert TX.quality_features(degenerate_docs).count() == 10
    assert TX.gopher_quality_flags(degenerate_docs).count() == 10
    # one row per (doc, n) for ns=(2, 3, 4)
    assert TX.top_ngram_char_stats(degenerate_docs).count() == 30
    assert TX.dup_ngram_char_fraction(degenerate_docs).count() == 10
    assert TX.language_id(degenerate_docs).count() == 10
    assert TX.token_entropy(degenerate_docs).count() == 10
    assert TX.unigram_surprisal(degenerate_docs).count() == 10


def test_fingerprint_and_bpe_ops_survive(degenerate_docs):
    # winnowing selects >=1 fingerprint per doc (empty docs fingerprint
    # their empty window) — and never throws
    fp = TX.winnow_fingerprints(degenerate_docs)
    assert fp.groupBy("doc_id").count().count() == 10
    TX.winnow_overlap_pairs(degenerate_docs).collect()
    assert TX.bpe_pair_counts(degenerate_docs).count() > 0
    # single-char-word-only corpora have NO adjacent pairs: train must
    # stop cleanly, not throw (ANSI element_at hazard)
    single = degenerate_docs.sparkSession.createDataFrame(
        [(1, "a b c"), (2, "x y")], "doc_id long, text string")
    assert TX.bpe_train_merges(single, n_merges=3) == []
    merges = TX.bpe_train_merges(degenerate_docs, n_merges=2)
    assert len(merges) <= 2


def test_dedup_ops_survive(degenerate_docs):
    assert D.exact_duplicates(degenerate_docs).count() >= 0
    assert D.drop_exact_duplicates(degenerate_docs).count() <= 10
    D.shingle_jaccard_pairs(degenerate_docs, n=3, threshold=0.5).collect()
    D.minhash_lsh_pairs(degenerate_docs, n_hashes=16, bands=4,
                        threshold=0.5).collect()
    D.simhash_duplicates(degenerate_docs).collect()
    D.simhash_band_pairs(degenerate_docs, max_hamming=3).collect()
    # span scrub: every doc comes back exactly once (ADVICE r4 regression)
    out = D.repeated_span_scrub(degenerate_docs, k=3, min_count=2)
    assert out.count() == 10
    # unit dedup reconstructs all docs
    assert D.unit_dedup(degenerate_docs).count() == 10


def test_packing_and_sampling_survive(degenerate_docs):
    assert PK.pack_sequences(degenerate_docs, budget=16).count() >= 1
    # chunking drops token-less docs by contract, keeps the rest
    chunked = PK.chunk_documents(degenerate_docs, width=4, stride=3)
    ids = {r["doc_id"] for r in chunked.select("doc_id").distinct().collect()}
    assert 1 in ids and 2 not in ids and 4 not in ids
    assert SM.mixture_weights(degenerate_docs, strata_col="source").count() == 2


def test_graph_ops_survive_empty_and_tiny(spark):
    """Graph kernels on empty edge sets and singleton graphs: iterative
    kernels must converge immediately, not loop or crash — at 100 TB a
    filtered subgraph being empty is routine."""
    from thewhisperdb_spark.operators import graph as G

    empty_e = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,)], "id long")
    cc = G.connected_components(verts, empty_e).collect()
    assert {r["id"]: r["component"] for r in cc} == {1: 1, 2: 2}
    assert G.degrees(empty_e).count() == 0
    tri = G.triangle_count(empty_e).collect()
    assert tri == [] or tri[0]["n_triangles"] == 0
    pr = {r["id"]: r["rank"] for r in
          G.pagerank(verts, empty_e, n_iter=2).collect()}
    assert len(pr) == 2 and abs(sum(pr.values()) - 1.0) < 1e-6
    lp = G.label_propagation(verts, empty_e, max_iter=2).collect()
    assert {r["label"] for r in lp} == {1, 2}   # no edges -> own label
    assert G.core_numbers(empty_e).count() == 0
    # single self-loop-free edge
    one = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert G.bfs_levels(one, source=1).count() == 2
    assert G.core_numbers(one).count() == 2


def test_sketches_survive_empty(spark):
    from thewhisperdb_spark.operators import aggregates as AG

    empty = spark.createDataFrame([], "user_id long, event_type string")
    assert AG.kmv_sketch(empty, "user_id").count() == 0
    est = AG.kmv_estimate(AG.kmv_sketch(empty, "user_id")).collect()
    assert est == [] or est[0]["n_est"] == 0.0
    assert AG.cms_build(empty.select(F.col("event_type").alias("term")),
                        "term").count() == 0
    assert AG.hll_registers(empty, "user_id").count() == 0


def test_vector_ops_survive_zero_and_mismatched(spark):
    """Reference edge rules (Clustering.cpp:7-27): zero-norm or
    dimension-mismatched vectors score 0.0, never NaN/crash."""
    from thewhisperdb_spark.operators import vectors as V

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]),       # zero vector
         (3, [1.0, 0.0, 0.0]),                   # mismatched dim
         (4, [0.6, 0.8])],
        "vec_id long, embedding array<double>")
    row = (emb.alias("a").crossJoin(emb.alias("b"))
           .select(V.cosine("a.embedding", "b.embedding")
                   .alias("c")).collect())
    vals = [r["c"] for r in row]
    assert all(v == v for v in vals)             # no NaN
    assert all(-1.0001 <= v <= 1.0001 for v in vals)
    pairs = V.similar_pairs(emb, threshold=0.5).collect()
    assert all({p["a"], p["b"]} <= {1, 2, 3, 4} for p in pairs)
    # kNN over a corpus containing zero/mismatched vectors
    V.brute_force_knn_join(emb, emb, k=2).collect()


def test_semantic_dedup_pairs_match_similar_pairs_on_ragged_corpus(spark):
    """One gram kernel, one edge rule: with every row in one cluster,
    semantic_dedup_pairs returns exactly similar_pairs' (a, b, similarity)
    multiset on a corpus with NULL, empty, zero-norm and two-dimension
    vectors and a repeated id, whatever the blocking. Both equal a
    pure-Python J6 scan: zero norm, NULL, empty and cross-dimension pairs
    score 0.0 and appear only at θ <= 0; a repeated id never pairs with
    itself."""
    import math
    from collections import Counter

    from thewhisperdb_spark.operators import vectors as V

    data = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0]), (4, None),
            (5, []), (6, [1.0, 0.0, 0.0]), (7, [0.8, 0.2, 0.1]),
            (2, [0.5, 0.5]), (8, [0.6, 0.8])]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    labels = (emb.select("vec_id").distinct()
              .withColumn("cluster", F.lit(0)))

    def cos(x, y):
        if not x or not y or len(x) != len(y):
            return 0.0
        nx = math.sqrt(sum(v * v for v in x))
        ny = math.sqrt(sum(v * v for v in y))
        if nx == 0.0 or ny == 0.0:
            return 0.0
        return sum(a * b for a, b in zip(x, y)) / (nx * ny)

    for thr in (0.5, 0.0):
        want = Counter()
        for i, (ia, va) in enumerate(data):
            for ib, vb in data[i + 1:]:
                if ia != ib and cos(va, vb) >= thr:
                    want[(min(ia, ib), max(ia, ib))] += 1
        for block_rows in (10**9, 2):
            sp = Counter((r["a"], r["b"], r["similarity"]) for r in
                         V.similar_pairs(emb, thr, block_rows=block_rows)
                         .collect())
            sd = Counter((r["a"], r["b"], r["similarity"]) for r in
                         D.semantic_dedup_pairs(emb, thr, labels=labels,
                                                block_rows=block_rows)
                         .collect())
            assert sd == sp, (thr, block_rows)
            assert Counter((a, b) for a, b, _ in sp.elements()) == want
            for (a, b, s) in sp:
                va = [v for i, v in data if i == a]
                vb = [v for i, v in data if i == b]
                assert any(abs(cos(x, y) - s) < 1e-12
                           for x in va for y in vb), (a, b, s)


def test_pq_fails_loudly_on_ragged_vectors(spark):
    """PQ requires one fixed dimension: a ragged/NULL vector must raise a
    ValueError naming the offending ids, not numpy's bare
    'inhomogeneous shape' error."""
    import pytest

    from thewhisperdb_spark.operators import vectors as V

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.0, 0.0]), (4, None)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="share one dimension"):
        V.pq_train(emb, m=2, n_centroids=2)
    clean = emb.filter(F.size("embedding") == 2)
    cb = V.pq_train(clean, m=2, n_centroids=2)
    with pytest.raises(Exception, match="codebook dim"):
        V.pq_encode(emb, cb).collect()
    assert V.pq_encode(clean, cb).count() == 2


def test_kmeans_empty_and_all_null_corpus(spark):
    import pytest

    from thewhisperdb_spark.operators import vectors as V

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-null vectors"):
        V.kmeans_fit(empty, k=2)
    nulls = spark.createDataFrame([(1, None), (2, None)],
                                  "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-null vectors"):
        V.kmeans_fit(nulls, k=2)
    # a NULL first row must not break dim detection
    mixed = spark.createDataFrame([(1, None), (2, [1.0, 0.0]),
                                   (3, [0.0, 1.0])],
                                  "vec_id long, embedding array<double>")
    assert V.kmeans_assign(mixed, k=2, max_iter=1).count() == 3


def test_lsh_index_empty_corpus_and_batch(spark, tmp_path):
    """Index cold starts: an empty corpus builds a valid (empty) index that
    probes and deletes cleanly; probing an empty batch returns no rows;
    degenerate docs (empty/NULL text) in the corpus mint no signatures and
    no pairs."""
    from thewhisperdb_spark.operators import dedup as D

    empty = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "lsh_cold")
    D.lsh_index_build(empty, path, n_hashes=16, bands=4)
    batch = spark.createDataFrame(
        [(100, "some real document text here today"),
         (101, ""), (102, None)],
        "doc_id long, text string")
    assert D.lsh_index_probe(spark, path, batch).count() == 0
    assert D.lsh_index_probe(spark, path, empty).count() == 0
    # delete's bands × signatures == bucket rows check reads 0 bucket rows
    # from the part-less partitioned directory an empty build leaves
    D.lsh_index_delete(spark, path, batch)
    assert D.lsh_index_stats(spark, path).collect()[0]["n_docs"] == 0
    # degenerate corpus: token-less docs (empty/whitespace/NULL) all reduce
    # to the single clamp shingle, so they are mutual exact-dups of the
    # empty document (est 1.0) — the same semantics as the online operator
    # and its oracle; the real doc pairs only with its own duplicate
    path2 = str(tmp_path / "lsh_cold2")
    D.lsh_index_build(batch, path2, n_hashes=16, bands=4)
    hits = D.lsh_index_probe(
        spark, path2,
        spark.createDataFrame([(200, "some real document text here today"),
                               (201, "   ")],
                              "doc_id long, text string"),
        threshold=0.9).collect()
    got = {(r["batch_id"], r["index_id"]) for r in hits}
    assert got == {(200, 100), (201, 101), (201, 102)}


def test_knn_join_drops_degenerate_queries(spark):
    """A NULL / zero-dim / zero-norm QUERY vector must produce no output
    rows (not k arbitrary neighbors at similarity 0.0 — a fabricated
    neighbor list, ADVICE r5); valid queries in the same call are
    unaffected, and degenerate CORPUS vectors still score 0.0 pair-wise."""
    from thewhisperdb_spark.operators import vectors as V

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]),       # zero vector
         (3, None),                               # NULL
         (4, [0.6, 0.8]), (5, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = V.brute_force_knn_join(emb, emb, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert 2 not in by_q and 3 not in by_q        # degenerate queries: no rows
    assert set(by_q) == {1, 4, 5}                 # valid queries unaffected
    # all-degenerate query set: empty frame, stable schema
    degen = emb.filter(F.col("vec_id").isin(2, 3))
    empty = V.brute_force_knn_join(degen, emb, k=3)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == \
        ["query_id", "neighbor_id", "similarity", "rank"]


def test_index_stats_cold_start_report_zeros(spark, tmp_path):
    """Stats over indexes built from EMPTY corpora report zeros (never
    NULLs that would poison downstream cadence comparisons)."""
    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.operators import vectors as V

    lsh = str(tmp_path / "lsh_cold")
    D.lsh_index_build(
        spark.createDataFrame([], "doc_id long, text string"), lsh,
        n_hashes=16, bands=4, shingle_n=5)
    s = D.lsh_index_stats(spark, lsh).collect()[0]
    assert (s["n_docs"], s["n_bucket_rows"], s["max_bucket"],
            s["p99_bucket"]) == (0, 0, 0, 0)

    ivf = str(tmp_path / "ivf_cold")
    V.ivf_index_build(
        spark.createDataFrame([], "vec_id long, embedding array<double>"),
        ivf, n_cells=4)
    t = V.ivf_index_stats(spark, ivf).collect()[0]
    assert (t["n_cells"], t["n_vectors"], t["max_cell"],
            t["median_cell"]) == (0, 0, 0, 0)
    assert t["skew"] == 1.0
    # cold-start contract for the other IVF index ops: probe returns a
    # typed empty frame, rebalance is a no-op, append fails LOUDLY (no
    # centroids to assign to — silent accept would strand the vectors)
    import pytest

    q = spark.createDataFrame([(1, [1.0, 0.0])],
                              "vec_id long, embedding array<double>")
    probe = V.ivf_index_probe(spark, ivf, q, k=3)
    assert probe.count() == 0
    assert [f.name for f in probe.schema.fields] == \
        ["query_id", "neighbor_id", "similarity", "rank"]
    V.ivf_index_rebalance(spark, ivf)          # no-op, no crash
    with pytest.raises(ValueError, match="no centroids"):
        V.ivf_index_append(spark, ivf, q)


def test_epoch_schedule_zero_token_stratum(spark):
    """A stratum whose documents are all empty/whitespace plans 0 tokens
    with NULL epochs (never Inf/NaN), stays an explicit row, and is
    marked capped when its request was nonzero; an all-empty corpus
    yields NULL realized_share (0/0) rather than NaN."""
    from thewhisperdb_spark.operators.sampling import epoch_schedule

    df = spark.createDataFrame(
        [(1, "web", "a b c d"), (2, "ghost", "   "), (3, "ghost", "")],
        "doc_id long, source string, text string")
    got = {r["source"]: r for r in
           epoch_schedule(df, budget_tokens=100,
                          targets={"web": 0.5, "ghost": 0.5},
                          max_epochs=10.0).collect()}
    g = got["ghost"]
    assert g["n_tokens"] == 0 and g["tokens_planned"] == 0
    assert g["epochs"] is None and g["epochs_uncapped"] is None
    assert g["capped"] is True
    assert got["web"]["realized_share"] == 1.0
    # uncapped mode: the empty stratum still plans 0
    un = {r["source"]: r for r in
          epoch_schedule(df, budget_tokens=100,
                         targets={"web": 0.5, "ghost": 0.5}).collect()}
    assert un["ghost"]["tokens_planned"] == 0
    empty = epoch_schedule(
        spark.createDataFrame([(1, "ghost", "")],
                              "doc_id long, source string, text string"),
        budget_tokens=10).collect()
    assert len(empty) == 1 and empty[0]["realized_share"] is None


def test_frontier_schedule_degenerate_urls(spark):
    """NULL / empty / scheme-less URLs keep explicit rows (host NULL or
    empty, ranks assigned deterministically within their group) — a
    malformed frontier entry must never silently vanish from the
    schedule, and no arithmetic NaNs leak out."""
    from thewhisperdb_spark.operators.urls import frontier_schedule

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "not a url"), (4, "https://ok.com/x")],
        "fid long, url string")
    got = {r["fid"]: r for r in
           frontier_schedule(df, default_delay_s=1.0).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[4]["host"] == "ok.com" and got[4]["fetch_offset_s"] == 0.0
    for fid in (1, 2, 3):
        assert got[fid]["rank_in_host"] >= 1
        assert got[fid]["fetch_offset_s"] is not None \
            or got[fid]["host"] is None
