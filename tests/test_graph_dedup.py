from functools import partial
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from thewhisperdb_spark.operators import broadcast_budget
from thewhisperdb_spark.operators import dedup as D
from thewhisperdb_spark.operators import graph as G
from thewhisperdb_spark.operators.indexmeta import open_index, stamp_meta


def test_connected_components_with_singletons(spark, cc_path):
    vertices = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (6, 6)], "src long, dst long")
    got = {r["id"]: r["component"]
           for r in G.connected_components(vertices, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 7}


def test_connected_components_chain_converges(spark, cc_path):
    # a long path graph exercises multi-round propagation
    n = 30
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "src long, dst long")
    got = G.connected_components(vertices, edges).collect()
    assert all(r["component"] == 0 for r in got)


@pytest.mark.parametrize("id_type,edges,want", [
    ("bigint", [], [(i, i) for i in range(6)]),        # empty edge set
    ("int", [(4, 1), (1, 3)],
     [(0, 0), (1, 1), (2, 2), (3, 1), (4, 1), (5, 5)]),
])
def test_connected_components_keeps_id_type(spark, cc_path, id_type, edges,
                                            want):
    vertices = spark.createDataFrame([(i,) for i in range(6)], f"id {id_type}")
    edges = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    out = G.connected_components(vertices, edges)
    assert out.schema.simpleString() == (
        f"struct<id:{id_type},component:bigint>")
    assert sorted(tuple(r) for r in out.collect()) == want


@pytest.mark.parametrize("raw,budget", [
    ("-1", 0),                       # broadcasts disabled: never
    ("10MB", 10 << 20),              # size suffix, Spark's own parser
    ("not-a-size", 32 << 20),        # unparseable: the historical rule
    (str(1 << 30), 32 << 20),        # capped at 32 MB
])
def test_broadcast_budget(spark, raw, budget):
    conf = SimpleNamespace(get=lambda key, default=None: raw)
    stub = SimpleNamespace(conf=conf, _jvm=spark._jvm)
    assert broadcast_budget(stub) == budget


def test_broadcast_budget_of_unset_threshold(spark):
    """An unset threshold is Spark's own default (10 MB), not disabled."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        assert broadcast_budget(spark) == 10 << 20
    finally:
        spark.conf.set(key, old)


def test_adjacency_lists(spark):
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r["id"]: r["neighbors"] for r in G.adjacency_lists(edges).collect()}
    assert got == {0: [1], 1: [0, 2], 2: [1]}


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")],
        "doc_id long, text string")
    got = D.exact_duplicates(df).collect()
    assert len(got) == 1
    assert got[0]["n_dups"] == 3 and got[0]["keeper"] == 1
    kept = sorted(r["doc_id"] for r in D.drop_exact_duplicates(df).collect())
    assert kept == [1, 2]


def test_drop_exact_duplicates_keeps_null_text_minimum(spark):
    """NULL texts are one group, as in ``SELECT min(doc_id) … GROUP BY
    text``: its minimum id survives; the columns keep their order."""
    df = spark.createDataFrame(
        [(4, None), (2, None), (3, "a"), (1, "a"), (5, "b")],
        "doc_id long, text string")
    out = D.drop_exact_duplicates(df)
    assert out.columns == ["doc_id", "text"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "a"), (2, None), (5, "b")]


def test_shingle_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "totally different words xyz")],
        "doc_id long, text string")
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in D.shingle_jaccard_pairs(df, threshold=0.5).collect()}
    assert got == {(1, 2): 1.0}


def test_minhash_lsh_finds_exact_dups(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "the quick brown fox jumps over the lazy dog again"),
         (3, "completely unrelated content with nothing shared here at all")],
        "doc_id long, text string")
    got = {(r["a"], r["b"]) for r in
           D.minhash_lsh_pairs(df, n_hashes=32, bands=8, threshold=0.9).collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


@pytest.mark.parametrize("portable", [True, False])
def test_minhash_signatures_match_oracle(spark, minhash_oracle, portable):
    """The signature kernel equals the pure-Python definition, value for
    value, on both hash families: md5 against hashlib, xxhash64 against
    Spark's per-element hash with the affine minimum in Python. Edge rows:
    an empty array ([p]*k), [NULL] (k NULLs), a NULL array (no row), NULL
    elements among real ones (skipped), a duplicate element, string ids,
    and a row longer than one kernel chunk."""
    p = (1 << 31) - 1
    rows = [("dup", ["x", "yz", "x"]), ("empty", []), ("nulls", [None]),
            ("absent", None), ("mixed", ["q", None, "r"]),
            ("long", [f"s{i}" for i in range(20_000)])]
    rows += [(f"w{i}", [f"t{j}" for j in range(i, i + 40)])
             for i in range(0, 400, 7)]
    df = spark.createDataFrame(rows, "id string, sh array<string>")
    k = 32
    sig = D.minhash_signatures_df(df, k, portable=portable)
    assert sig.schema["id"].dataType.simpleString() == "string"
    got = {r["id"]: r["sig"] for r in sig.collect()}
    elem_hash = None
    if not portable:
        shingles = sorted({s for _, sh in rows for s in sh or [] if s})
        elem_hash = {
            r["s"]: r["h"] for r in spark.createDataFrame(
                [(s,) for s in shingles], "s string")
            .select("s", F.pmod(F.xxhash64("s"), F.lit(p)).alias("h"))
            .collect()}.__getitem__
    want = {i: minhash_oracle(sh, k, elem_hash) for i, sh in rows
            if sh is not None}
    assert got == want
    assert got["empty"] == [p] * k and got["nulls"] == [None] * k


@pytest.mark.parametrize("portable", [True, False])
def test_minhash_lsh_null_text_pairs_with_nothing(spark, cc_path, portable):
    """A NULL text shingles to [NULL], whose signature is k NULLs: it
    pairs with nothing in either hash family, while two empty texts still
    pair at 1.0. (xxhash64 of a NULL is its seed, 42, not NULL, so the
    xxhash64 family once paired NULL texts at 1.0.)"""
    df = spark.createDataFrame([(1, None), (2, None), (3, ""), (4, "")],
                               "doc_id long, text string")
    got = {(r["a"], r["b"]): r["est_jaccard"] for r in
           D.minhash_lsh_pairs(df, portable=portable).collect()}
    assert got == {(3, 4): 1.0}


def test_simhash_collides_on_identical_sets(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "delta epsilon")],
        "doc_id long, text string")
    got = D.simhash_duplicates(df, bits=32).collect()
    assert len(got) == 1
    assert got[0]["member_ids_csv"] == "1,2"  # order-insensitive token sets


def test_clusters_from_pairs_roundtrip(nodes_df):
    emb = nodes_df.filter(F.col("embedding").isNotNull()).select(
        F.col("id").alias("vec_id"), "embedding")
    from thewhisperdb_spark.operators import vectors as V

    pairs = V.similar_pairs(emb, 0.95)
    labels = {r["id"]: r["component"] for r in G.clusters_from_pairs(
        emb.select(F.col("vec_id").alias("id")), pairs).collect()}
    # 1,2,6 form one component; 3 and 5 are singletons
    assert labels[1] == labels[2] == labels[6] == 1
    assert labels[3] == 3 and labels[5] == 5


def test_near_dup_groups_transitive_chain(spark):
    # A~B and B~C but no A~C pair: components must still put all three in
    # ONE group with one survivor (pairs alone would keep A and C)
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "y")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    got = {r["doc_id"]: (r["group"], r["keep"])
           for r in D.near_dup_groups(df, pairs).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False), 9: (9, True)}


def test_drop_near_duplicates_end_to_end(spark, cc_path):
    # minhash pairs -> CC -> canonical keep must agree with exact-Jaccard
    # grouping on a corpus of near-identical docs + distinct docs
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(1, base), (2, base), (3, base + " today"),
            (10, "completely different content about spark shuffles and joins"),
            (11, "another unrelated document mentioning windows and watermarks")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  D.drop_near_duplicates(df, n_hashes=32, bands=8,
                                         threshold=0.8).collect())
    assert kept == [1, 10, 11]              # 2 and 3 collapse into group 1
    # schema passes through unchanged
    out = D.drop_near_duplicates(df, threshold=0.8)
    assert set(out.columns) == {"doc_id", "text"}


def test_drop_near_duplicates_keeps_repeated_ids_once_each(spark, cc_path):
    """A repeated id comes back as often as it came, never multiplied:
    survivors are the rows whose id is not dropped. Id 1's second row is
    a near-duplicate of id 2, which goes; both rows of id 1 stay."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (1, base), (2, base),
            (3, "something else entirely about windows and watermarks")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.drop_near_duplicates(df)
    assert out.columns == ["doc_id", "text"]
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        [rows[0], rows[1], rows[3]])
    alone = df.filter(F.col("doc_id") != 2)     # no near pairs at all
    assert sorted(tuple(r) for r in D.drop_near_duplicates(alone).collect()
                  ) == sorted([rows[0], rows[1], rows[3]])


def test_drop_near_duplicates_needs_integral_ids(spark, cc_path):
    df = spark.createDataFrame([("x", "some text here")],
                               "doc_id string, text string")
    with pytest.raises(ValueError, match="drop_near_duplicates: id column"):
        D.drop_near_duplicates(df)


def test_minhash_lsh_candidate_check_falls_back(spark, minhash_oracle):
    """40 near-identical docs: their signatures fit a 10 KB budget
    (40 × 8 B × 16 hashes) but their candidate pairs do not (about
    C(40, 2) per band at 16 B each), so the pairs come from the shuffle
    path; under the default budget they are found on the driver. Both
    equal the brute-force pairs of the oracle's signatures."""
    base = "near identical document about lakes and rivers, copy "
    texts = [base + chr(ord("a") + i % 26) * (1 + i // 26)
             for i in range(40)]
    df = spark.createDataFrame(list(enumerate(texts, start=1)),
                               "doc_id long, text string")
    n_hashes, bands, theta = 16, 8, 0.8
    sigs = {i: minhash_oracle({t[j:j + 3] for j in range(len(t) - 2)},
                              n_hashes)
            for i, t in enumerate(texts, start=1)}
    want = {}
    for a in sigs:
        for b in sigs:
            est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / n_hashes
            if a < b and est >= theta:
                want[(a, b)] = est
    assert len(want) > 40

    def pairs():
        out = D.minhash_lsh_pairs(df, n_hashes=n_hashes, bands=bands,
                                  threshold=theta)
        return out.isLocal(), {(r["a"], r["b"]): r["est_jaccard"]
                               for r in out.collect()}

    assert pairs() == (True, want)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "10KB")
    try:
        assert broadcast_budget(spark) == 10 << 10
        assert pairs() == (False, want)
    finally:
        spark.conf.set(key, old)


def test_shingle_jaccard_max_df_cap(spark):
    # near-identical pair (1,2) + unrelated docs sharing only boilerplate.
    # With max_df set low enough to drop the boilerplate shingles, the
    # near-dup pair must survive with its EXACT (uncapped) jaccard — the cap
    # prunes candidate generation, never the reported similarity.
    boiler = "all rights reserved copyright notice "
    rows = [(1, boiler + "alpha beta gamma delta epsilon zeta"),
            (2, boiler + "alpha beta gamma delta epsilon zetb"),
            (3, boiler + "completely different content here one"),
            (4, boiler + "unrelated words nothing shared at all"),
            (5, boiler + "yet another independent document text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r.a, r.b): r.jaccard for r in
                D.shingle_jaccard_pairs(df, n=3, threshold=0.5).collect()}
    capped = {(r.a, r.b): r.jaccard for r in
              D.shingle_jaccard_pairs(df, n=3, threshold=0.5,
                                      max_df=2).collect()}
    assert (1, 2) in uncapped and (1, 2) in capped
    # exact re-score: similarity identical with and without the cap
    assert capped[(1, 2)] == uncapped[(1, 2)]
    # no boilerplate-only pair sneaks in above threshold in either mode
    assert set(capped) == set(uncapped)


def test_simhash_band_pairs_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "theta eta zeta epsilon delta gamma beta alpha"),   # same set
         (3, "totally different words nothing in common whatsoever here")],
        "doc_id long, text string")
    got = {(r["a"], r["b"]): r["hamming"] for r in
           D.simhash_band_pairs(df, bits=32, bands=4, max_hamming=3).collect()}
    assert got.get((1, 2)) == 0            # identical token sets -> hamming 0
    assert not any(3 in p for p in got)    # unrelated doc never pairs


def test_simhash_duplicates_member_cap(spark):
    # 8 identical docs + 1 distinct: with max_members=3 the group reports
    # exact n_docs but lists only the 3 smallest ids
    rows = [(i, "same tokens every time here") for i in range(8)]
    rows.append((99, "another unrelated document entirely different"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = D.simhash_duplicates(df, bits=32, max_members=3).collect()
    assert len(got) == 1
    assert got[0].n_docs == 8
    assert got[0].member_ids_csv == "0,1,2"
    # default cap is above the group size -> full listing unchanged
    full = D.simhash_duplicates(df, bits=32).collect()[0]
    assert full.member_ids_csv == "0,1,2,3,4,5,6,7"


def test_triangle_count_known_graph(spark):
    from thewhisperdb_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} has C(4,3)=4 triangles; pendant edge (4,5) adds none
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "src long, dst long")
    assert triangle_count(edges).collect()[0].n_triangles == 4
    # direction/duplication invariance: reversed + doubled edges, same count
    rev = edges.selectExpr("dst as src", "src as dst")
    assert triangle_count(edges.union(rev)).collect()[0].n_triangles == 4


def test_triangle_orientations_agree_on_skewed_graph(spark):
    from thewhisperdb_spark.operators.graph import triangle_count

    # hub-heavy fixture: hub 0 connected to 1..20, plus triangles through
    # the hub (1-2, 3-4, 5-6) and one hub-free triangle (21,22,23). Degree
    # orientation must count the same 4 triangles as raw-id orientation —
    # the fixture is exactly the shape where the id orientation pays
    # deg(hub)^2 wedges and the degree orientation doesn't.
    rows = ([(0, i) for i in range(1, 21)]
            + [(1, 2), (3, 4), (5, 6), (21, 22), (22, 23), (21, 23)])
    edges = spark.createDataFrame(rows, "src long, dst long")
    n_deg = triangle_count(edges, orient="degree").collect()[0].n_triangles
    n_id = triangle_count(edges, orient="id").collect()[0].n_triangles
    assert n_deg == n_id == 4


@pytest.mark.slow  # index-lifecycle marathon: CI-tier
def test_pagerank_star_graph(spark):
    from thewhisperdb_spark.operators.graph import pagerank

    # undirected star: hub 0 <-> leaves 1..4; symmetric leaves must tie,
    # hub must dominate, ranks must sum to 1
    verts = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame([(0, i) for i in range(1, 5)],
                                  "src long, dst long")
    ranks = {r.id: r.rank for r in pagerank(verts, edges, n_iter=30).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    leaf = [ranks[i] for i in range(1, 5)]
    assert max(leaf) - min(leaf) < 1e-12
    assert ranks[0] > 2 * leaf[0]
    # stationary solution for the undirected star (d=0.85, n=5):
    # h = .03 + 3.4*l, l = .03 + .2125*h -> h = 0.47568. The alternating
    # power iteration contracts at 0.85/step, so 30 iters leaves ~2e-3.
    assert abs(ranks[0] - 0.47567567) < 0.01
    # dangling redistribution: isolated vertex keeps teleport + share
    verts6 = spark.createDataFrame([(i,) for i in range(6)], "id long")
    r6 = {r.id: r.rank for r in pagerank(verts6, edges, n_iter=30).collect()}
    assert abs(sum(r6.values()) - 1.0) < 1e-9
    assert r6[5] < min(r6[i] for i in range(1, 5))


def test_label_propagation_two_cliques(spark):
    from thewhisperdb_spark.operators.graph import label_propagation

    # two disjoint triangles + one isolated vertex: LPA must converge to one
    # label per clique (the min id) and leave the singleton on its own id
    verts = spark.createDataFrame([(i,) for i in range(7)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)],
        "src long, dst long")
    labels = {r.id: r.label for r in
              label_propagation(verts, edges).collect()}
    assert labels[0] == labels[1] == labels[2]
    assert labels[3] == labels[4] == labels[5]
    assert labels[0] != labels[3]
    assert labels[6] == 6


def test_core_numbers_and_k_core(spark):
    from thewhisperdb_spark.operators.graph import core_numbers, k_core

    # K4 on {1,2,3,4} (coreness 3) + path 4-5-6 (coreness 1)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "src long, dst long")
    core = {r.id: r.coreness for r in core_numbers(edges).collect()}
    assert core == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1}
    # 2-core strips the pendant path, keeps exactly K4 with inner degree 3
    members = {r.id: r.degree for r in k_core(edges, 2).collect()}
    assert members == {1: 3, 2: 3, 3: 3, 4: 3}
    # k above max coreness -> empty
    assert k_core(edges, 4).count() == 0


def test_core_numbers_hub_heavy_graph(spark):
    from thewhisperdb_spark.operators.graph import core_numbers

    # star hub with 30 leaves (hub degree 30, coreness 1) + a K4 hanging off
    # one leaf: the hub-safe h-index (sort-based window, no per-vertex
    # array buffer) must land on the exact corenesses.
    rows = ([(0, i) for i in range(1, 31)]
            + [(1, 40), (1, 41), (1, 42), (40, 41), (40, 42), (41, 42)])
    edges = spark.createDataFrame(rows, "src long, dst long")
    core = {r.id: r.coreness for r in core_numbers(edges).collect()}
    assert core[0] == 1
    assert all(core[i] == 1 for i in range(2, 31))
    assert core[1] == core[40] == core[41] == core[42] == 3


def test_iteration_cap_is_exact_for_odd_max_iter(spark):
    from thewhisperdb_spark.operators.graph import (core_numbers,
                                                    label_propagation)

    # 4-cycle: synchronous LPA from self-labels oscillates with period 2, so
    # the state after exactly 1 round is distinguishable from 0 or 2 rounds.
    # One round: every vote ties at count 1, min neighbor label wins —
    # v0{1,3}->1, v1{0,2}->0, v2{1,3}->1, v3{0,2}->0. (Round 2 would flip it
    # to {0:0, 1:1, 2:0, 3:1}.)
    verts = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)],
                                  "src long, dst long")
    one = {r.id: r.label for r in
           label_propagation(verts, edges, max_iter=1).collect()}
    assert one == {0: 1, 1: 0, 2: 1, 3: 0}
    # coreness with max_iter=1 runs exactly one h-index round: on the K4 +
    # path fixture vertex 5 starts at degree 2 and needs one round to drop
    # to its true coreness 1; vertex 4's estimate after one round is still
    # an overestimate (h of [3,3,3,2] = 3) — distinguishing 1 round from 0
    # and from convergence.
    e2 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "src long, dst long")
    after1 = {r.id: r.coreness for r in
              core_numbers(e2, max_iter=1).collect()}
    assert after1[5] == 1
    assert after1[4] == 3


def test_h_index_expr(spark):
    from pyspark.sql import functions as F

    from thewhisperdb_spark.operators.graph import _h_index

    rows = spark.createDataFrame(
        [([5, 4, 3, 2, 1],), ([1, 1, 1],), ([10, 10],), ([0],)],
        "arr array<long>")
    got = [r.h for r in rows.select(_h_index(F.col("arr")).alias("h")).collect()]
    assert got == [3, 1, 2, 0]


def test_bfs_levels_path_and_isolation(spark):
    from thewhisperdb_spark.operators.graph import bfs_levels

    # path 0-1-2-3, triangle 0-4-5(-0), isolated component 8-9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 4), (4, 5), (5, 0), (8, 9)],
        "src long, dst long")
    got = {r["id"]: r["hops"] for r in bfs_levels(edges, source=0).collect()}
    assert got == {0: 0, 1: 1, 4: 1, 5: 1, 2: 2, 3: 3}
    # direction-agnostic: reaching "upstream" edges works too
    got3 = {r["id"]: r["hops"] for r in bfs_levels(edges, source=3).collect()}
    assert got3 == {3: 0, 2: 1, 1: 2, 0: 3, 4: 4, 5: 4}


def test_diameter_2approx(spark):
    from thewhisperdb_spark.operators.graph import diameter_2approx

    # path graph 0-1-2-3-4: diameter 4; double BFS finds it exactly
    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert diameter_2approx(path) == 4
    # star graph: diameter 2
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long")
    assert diameter_2approx(star) == 2
    # empty edge set
    empty = spark.createDataFrame([], "src long, dst long")
    assert diameter_2approx(empty) == 0


def test_winnowing_guarantee_and_short_docs(spark):
    """Winnowing property: two documents sharing a substring of length >=
    w + k - 1 (= 8 at k=5, w=4) MUST share at least one fingerprint; a doc
    shorter than one k-gram still yields exactly one (whole-doc) print."""
    from thewhisperdb_spark.operators.text import winnow_fingerprints

    shared = "qqSHAREDSEGMENTzz"                  # 17 chars >> 8
    rows = [(1, "alpha beta " + shared + " gamma delta"),
            (2, "completely other prefix " + shared + " and tail words"),
            (3, "nothing in common with the rest at all here"),
            (4, "abc")]                           # shorter than k=5
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=5, w=4)
    sets = {i: {r.fingerprint for r in fps.filter(F.col("doc_id") == i)
                .collect()} for i in (1, 2, 3, 4)}
    assert sets[1] & sets[2], "shared 17-char segment must share a print"
    assert not (sets[3] & sets[1])
    assert len(sets[4]) == 1                      # single truncated window
    # selection density: winnowing keeps ~2/(w+1) of gram hashes, never all
    n_grams_doc1 = len(rows[0][1]) - 4
    assert 0 < len(sets[1]) < n_grams_doc1


def test_winnow_overlap_pairs_grades_verbatim_overlap(spark):
    from thewhisperdb_spark.operators.text import winnow_overlap_pairs

    big = "the quick brown fox jumps over the lazy dog by the river"
    rows = [(1, big + " at dawn"),
            (2, big + " at dusk"),                # near-verbatim copy of 1
            (3, "entirely different words nowhere matching anything else"),
            (4, "entirely different words nowhere matching anything else")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a, r.b): r.n_shared
           for r in winnow_overlap_pairs(df, min_shared=3).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 5     # long shared prefix
    assert (3, 4) in got                          # exact dups share all
    assert (1, 3) not in got and (2, 4) not in got


def test_repeated_span_scrub_cross_doc_and_self_repeat(spark):
    """ExactSubstr-style span scrub: a 3-token span shared by two docs is
    removed from BOTH (boilerplate case); a self-repeating doc scrubs to
    empty; unique text survives untouched."""
    from pyspark.sql import functions as F  # noqa: F401

    from thewhisperdb_spark.operators.dedup import repeated_span_scrub

    docs = spark.createDataFrame(
        [(1, "a b c d e"),        # shares "a b c" with doc 2
         (2, "z a b c q"),
         (3, "m n m n m n"),      # self-repeating spans
         (4, "p q r s t")],       # unique -> untouched
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
           for r in repeated_span_scrub(docs, k=3, min_count=2).collect()}
    assert got[1] == (5, 3, "d e")
    assert got[2] == (5, 3, "z q")
    assert got[3] == (6, 6, "")
    assert got[4] == (5, 0, "p q r s t")


def test_repeated_span_scrub_empty_and_null_docs(spark):
    """Empty / whitespace-only / NULL-text docs must not crash the job
    (sequence(0,-1) + element_at used to throw, ADVICE r4) and must come
    back as (id, 0, 0, '') rows instead of silently disappearing."""
    from thewhisperdb_spark.operators.dedup import repeated_span_scrub

    docs = spark.createDataFrame(
        [(1, "a b c a b c"),   # normal doc with a self-repeat
         (2, ""),              # empty
         (3, "   "),           # whitespace-only
         (4, None)],           # NULL text
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
           for r in repeated_span_scrub(docs, k=3, min_count=2).collect()}
    assert set(got) == {1, 2, 3, 4}          # nothing dropped
    assert got[1] == (6, 6, "")              # self-repeat scrubs to empty
    for i in (2, 3, 4):
        assert got[i] == (0, 0, "")


def test_lsh_index_probe_matches_online_pairs(spark, tmp_path):
    """Persisted-index probe must return exactly the cross-split subset of
    the online minhash_lsh_pairs result (same signatures, same banding,
    same threshold) — the daily-batch dedup path computes nothing new."""
    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.operators.text import word_ngrams

    docs = load_table(spark, "/root/testdata/sf0.01", "documents") \
        .select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    path = str(tmp_path / "lsh_idx")
    D.lsh_index_build(corpus, path, n_hashes=32, bands=8, shingle_n=5)
    got = {(r["index_id"], r["batch_id"]): round(r["est_jaccard"], 6)
           for r in D.lsh_index_probe(spark, path, batch,
                                      threshold=0.8).collect()}
    online = D.minhash_lsh_pairs(
        docs, n_hashes=32, bands=8, threshold=0.8,
        shingler=lambda c: word_ngrams(c, 5))
    expect = {(r["a"], r["b"]): round(r["est_jaccard"], 6)
              for r in online.collect()
              if r["a"] < 400 <= r["b"]}
    assert got == expect and len(got) > 0


def test_lsh_index_append_and_gate(spark, tmp_path):
    import pytest

    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    path = str(tmp_path / "lsh_idx2")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 30), path,
                      n_hashes=16, bands=4, shingle_n=5)
    # append a delta, probe the delta's own docs: each must hit itself in
    # the index at est 1.0 once appended
    delta = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    D.lsh_index_append(spark, path, delta)
    hits = {(r["batch_id"], r["index_id"]): r["est_jaccard"]
            for r in D.lsh_index_probe(spark, path, delta,
                                       threshold=0.99).collect()}
    for i in range(30, 40):
        assert hits.get((i, i)) == 1.0
    # parameter/version gate: stale or in-progress meta fails loudly
    spark.createDataFrame(
        [(0, 16, 4, 5, True, "xxhash64-v1")],
        "format_version int, n_hashes int, bands int, shingle_n int, "
        "portable boolean, hash_scheme string") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="format v0"):
        D.lsh_index_probe(spark, path, delta)
    spark.createDataFrame(
        [(-1, 16, 4, 5, True, "md5-min-v2")],
        "format_version int, n_hashes int, bands int, shingle_n int, "
        "portable boolean, hash_scheme string") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="in-progress"):
        D.lsh_index_append(spark, path, delta)
    import shutil
    shutil.rmtree(f"{path}/meta")
    with pytest.raises(ValueError, match="no meta"):
        D.lsh_index_probe(spark, path, delta)


@pytest.mark.slow  # index-lifecycle marathon: CI-tier
def test_lsh_index_compact_preserves_probe_results(spark, tmp_path):
    """Compaction after several appends must not change probe output, must
    shrink the signature file count, and must leave the version stamp
    intact (localCheckpoint barrier: the rewrite can't stream from the
    files it overwrites)."""
    import glob

    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    path = str(tmp_path / "lsh_idx3")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 20), path,
                      n_hashes=16, bands=4, shingle_n=5)
    for lo in (20, 30, 40):
        D.lsh_index_append(
            spark, path,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)))
    batch = docs.filter(F.col("doc_id") >= 40)
    before = {(r["batch_id"], r["index_id"]): r["est_jaccard"]
              for r in D.lsh_index_probe(spark, path, batch,
                                         threshold=0.9).collect()}
    files_before = len(glob.glob(f"{path}/signatures/*.parquet"))
    D.lsh_index_compact(spark, path)
    files_after = len(glob.glob(f"{path}/signatures/*.parquet"))
    after = {(r["batch_id"], r["index_id"]): r["est_jaccard"]
             for r in D.lsh_index_probe(spark, path, batch,
                                        threshold=0.9).collect()}
    assert after == before and len(after) > 0
    assert files_after < files_before


@pytest.mark.slow  # index-lifecycle marathon: CI-tier
def test_lsh_index_double_append_is_noop(spark, tmp_path):
    """Retrying a batch append (the normal failure mode for a daily-crawl
    index job) must leave the index bit-identical: probe output unchanged,
    signature and bucket row counts unchanged, meta still stamped valid."""
    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    path = str(tmp_path / "lsh_idx4")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 30), path,
                      n_hashes=16, bands=4, shingle_n=5)
    delta = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    D.lsh_index_append(spark, path, delta)

    def state():
        n_sig = spark.read.parquet(f"{path}/signatures").count()
        n_buk = spark.read.parquet(f"{path}/buckets").count()
        probe = sorted(
            (r["batch_id"], r["index_id"], round(r["est_jaccard"], 6))
            for r in D.lsh_index_probe(spark, path, delta,
                                       threshold=0.9).collect())
        return n_sig, n_buk, probe

    before = state()
    D.lsh_index_append(spark, path, delta)      # exact replay
    assert state() == before
    # partial replay: 5 already-indexed docs + 5 new ones — only the new
    # 5 may land, and no (batch, index) probe pair may appear twice
    mixed = docs.filter((F.col("doc_id") >= 35) & (F.col("doc_id") < 45))
    D.lsh_index_append(spark, path, mixed)
    n_sig, _, probe = state()
    assert n_sig == before[0] + 5
    assert len({(b, i) for b, i, _ in probe}) == len(probe)
    # meta is stamped valid after every append (crash-atomicity bracket)
    ver = spark.read.parquet(f"{path}/meta").collect()[0]["format_version"]
    assert ver == D.LSH_INDEX_FORMAT_VERSION


def test_lsh_index_string_ids_roundtrip(spark, tmp_path):
    """An index built over string doc ids must probe and compact cleanly:
    the id type is recorded in meta at build time and the declared read
    schemas derive from it (ADVICE r5: they were hard-coded long)."""
    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .select(F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
                    .alias("doc_id"), "text"))
    path = str(tmp_path / "lsh_idx5")
    D.lsh_index_build(docs.filter(F.length("doc_id") < 7), path,
                      n_hashes=16, bands=4, shingle_n=5)
    batch = docs.limit(10)
    hits = {(r["batch_id"], r["index_id"]): r["est_jaccard"]
            for r in D.lsh_index_probe(spark, path, batch,
                                       threshold=0.99).collect()}
    selfhits = [k for k in hits if k[0] == k[1]]
    assert len(selfhits) > 0 and all(hits[k] == 1.0 for k in selfhits)
    D.lsh_index_compact(spark, path)
    hits2 = {(r["batch_id"], r["index_id"]): r["est_jaccard"]
             for r in D.lsh_index_probe(spark, path, batch,
                                        threshold=0.99).collect()}
    assert hits2 == hits
    # id-type gate: appending long ids into a string-id index fails loudly
    import pytest
    long_ids = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text").limit(3)
    with pytest.raises(ValueError, match="stores string ids"):
        D.lsh_index_append(spark, path, long_ids)


def test_lsh_index_probe_prunes_signature_scan(spark, tmp_path):
    """The verify join must not scan the full signatures parquet: the
    (tiny) distinct candidate index_ids are broadcast-semi-joined ahead of
    it, so at a 100 TB index the scan is bounded by the daily batch's
    candidate set, not the corpus."""
    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    path = str(tmp_path / "lsh_idx6")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 30), path,
                      n_hashes=16, bands=4, shingle_n=5)
    out = D.lsh_index_probe(spark, path, docs.limit(5), threshold=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only FileScan in the probe plan is the signatures read (buckets
    # were consumed into the checkpointed candidate set), and it must sit
    # under a broadcast LeftSemi join on the candidate ids
    assert "FileScan parquet" in plan, plan
    assert "LeftSemi" in plan and "BroadcastExchange" in plan, plan
    semi_idx = plan.index("LeftSemi")
    assert plan.index("FileScan parquet") > semi_idx, plan


def test_semantic_dedup_drops_planted_embedding_neardups(spark):
    """SemDeDup shape: planted near-identical vectors collapse to the
    min-id survivor; distinct directions and ragged/NULL vectors survive
    as singletons; output conserves every input row exactly once."""
    from thewhisperdb_spark.operators import dedup as D

    import math
    rows = []
    # 3 well-separated directions; ids 0..2 originals, 10..12 near-copies
    for i, base in enumerate(([1.0, 0.0, 0.0], [0.0, 1.0, 0.0],
                              [0.0, 0.0, 1.0])):
        rows.append((i, base))
        rows.append((10 + i, [x + (0.001 if j == i else 0.0005)
                              for j, x in enumerate(base)]))
    rows += [(20, [math.sqrt(1 / 3.0)] * 3),   # distinct direction
             (21, None),                        # NULL vector
             (22, [1.0, 0.0])]                  # ragged dim
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["group"], r["keep"])
           for r in D.semantic_dedup(emb, threshold=0.99, k=3,
                                     max_iter=3).collect()}
    assert len(out) == 9                        # conservation
    for i in range(3):
        assert out[i] == (i, True)              # originals kept
        assert out[10 + i] == (i, False)        # copies dropped to min id
    for v in (20, 21, 22):
        assert out[v] == (v, True)              # singletons keep themselves


def test_semantic_dedup_pairs_recall_vs_exact_kernel(spark):
    """Within-cluster pruning is a strict SUBSET of the exact O(n²) kernel
    (no fabricated pairs) on the real embeddings table, and at the θ≈1
    operating point recall is total: near-IDENTICAL vectors always share a
    cluster (the SemDeDup premise) — pinned by planting exact copies of
    real corpus vectors and requiring every planted pair back. (At low θ
    a pair may legitimately straddle clusters; that loss is the
    documented price of Σ|c|² vs n² work.)"""
    from thewhisperdb_spark.operators import dedup as D

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["a"], r["b"]) for r in
             D.embedding_near_dup_pairs(emb, threshold=0.45).collect()}
    got = {(r["a"], r["b"]) for r in
           D.semantic_dedup_pairs(emb, threshold=0.45, k=4,
                                  max_iter=3).collect()}
    assert got <= exact and exact                # no false pairs
    # plant exact copies (vec_id + 10000) of 25 real vectors: every
    # (v, v+10000) pair MUST be recovered through the cluster pruning
    base = emb.select("vec_id", "embedding")
    planted = base.unionByName(
        base.filter(F.col("vec_id") < 25)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding"))
    got2 = {(r["a"], r["b"]) for r in
            D.semantic_dedup_pairs(planted, threshold=0.999, k=4,
                                   max_iter=3).collect()}
    want = {(i, i + 10000) for i in range(25)}
    assert want <= got2


@pytest.mark.slow  # index-lifecycle marathon: CI-tier
def test_lsh_index_stats_reflects_appends_and_compaction(spark, tmp_path):
    """Stats expose the compaction trigger: the signature file count grows
    with appends and shrinks after compact, while the logical content
    (docs, bucket rows) is conserved; banding params echo the meta."""
    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    path = str(tmp_path / "lsh_stats")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 20), path,
                      n_hashes=16, bands=4, shingle_n=5)
    for lo in (20, 30):
        D.lsh_index_append(
            spark, path,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)))
    s1 = D.lsh_index_stats(spark, path).collect()[0]
    assert s1["n_docs"] == 40
    assert s1["n_bucket_rows"] == 40 * 4       # one row per doc per band
    assert (s1["n_hashes"], s1["bands"], s1["shingle_n"]) == (16, 4, 5)
    assert s1["max_bucket"] >= 1 and s1["p99_bucket"] >= 1
    D.lsh_index_compact(spark, path)
    s2 = D.lsh_index_stats(spark, path).collect()[0]
    assert s2["n_sig_files"] < s1["n_sig_files"]
    for k in ("n_docs", "n_bucket_rows", "n_distinct_buckets", "max_bucket"):
        assert s2[k] == s1[k]


def test_semantic_dedup_block_split_is_exact(spark):
    """block_rows splits oversized clusters into block-pair tasks (the
    similar_pairs outer-product layout within the cluster) — the guard
    against one mega-cluster pinning |c|^2 on one executor. The pair set
    must be EXACTLY the unblocked result at any block size."""
    from thewhisperdb_spark.operators import dedup as D

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    # one cluster for everything -> the degenerate mega-cluster case
    labels = emb.select("vec_id", F.lit(0).cast("long").alias("cluster"))

    def pairs(block_rows):
        return {(r["a"], r["b"]): round(r["similarity"], 9)
                for r in D.semantic_dedup_pairs(
                    emb, threshold=0.45, labels=labels,
                    block_rows=block_rows).collect()}

    unblocked = pairs(10 ** 9)
    assert unblocked                         # testdata has pairs
    for br in (7, 64):                       # heavy and mild splitting
        assert pairs(br) == unblocked


def test_lsh_index_delete_takedown(spark, tmp_path):
    """Takedown: deleted docs stop surfacing as probe candidates, the rest
    of the index is untouched, re-running the takedown is a no-op, the
    sentinel is re-stamped, and the id-type gate fires for wrong types."""
    import pytest

    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    path = str(tmp_path / "lsh_del")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 40), path,
                      n_hashes=16, bands=4, shingle_n=5)
    batch = docs.filter(F.col("doc_id") < 40)   # self-probe: est 1.0 hits
    before = {(r["batch_id"], r["index_id"]) for r in
              D.lsh_index_probe(spark, path, batch, threshold=0.99).collect()}
    assert all((i, i) in before for i in range(40))

    kill = spark.createDataFrame([(5,), (17,), (9999,)], "doc_id long")
    D.lsh_index_delete(spark, path, kill)       # 9999 absent: ignored
    after = {(r["batch_id"], r["index_id"]) for r in
             D.lsh_index_probe(spark, path, batch, threshold=0.99).collect()}
    assert not any(i in (5, 17) for _, i in after)     # taken down
    assert after == {(b, i) for b, i in before if i not in (5, 17)}
    s = D.lsh_index_stats(spark, path).collect()[0]
    assert s["n_docs"] == 38 and s["n_bucket_rows"] == 38 * 4
    D.lsh_index_delete(spark, path, kill)       # idempotent replay
    assert D.lsh_index_stats(spark, path).collect()[0]["n_docs"] == 38
    with pytest.raises(ValueError, match="stores bigint ids"):
        D.lsh_index_delete(
            spark, path,
            spark.createDataFrame([("x",)], "doc_id string"))


def test_lsh_index_delete_refuses_inconsistent_index(spark, tmp_path):
    """Delete re-derives the buckets from the signatures, so it first
    checks bands × signatures == bucket rows from the parquet footers. An
    index with one extra bucket file is refused with ValueError: the
    claim is released, nothing is written, and the index still probes
    exactly as before."""
    import glob
    import os
    import shutil

    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators.indexmeta import (
        claims_dir_for, parquet_row_count, read_meta_rows)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text").filter(F.col("doc_id") < 30)
    path = str(tmp_path / "lsh_bad")
    D.lsh_index_build(docs, path, n_hashes=16, bands=4, shingle_n=5)
    assert parquet_row_count(spark, f"{path}/buckets") == 30 * 4

    def probe():
        return {(r["batch_id"], r["index_id"], r["est_jaccard"]) for r in
                D.lsh_index_probe(spark, path, docs, threshold=0.5).collect()}

    before = probe()
    part = sorted(glob.glob(f"{path}/buckets/band=0/*.parquet"))[0]
    shutil.copy(part, part.replace("part-", "part-extra-"))
    files = sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))
    kill = spark.createDataFrame([(5,)], "doc_id long")
    with pytest.raises(ValueError, match="bands × signatures"):
        D.lsh_index_delete(spark, path, kill)
    assert sorted(glob.glob(f"{path}/**/*.parquet", recursive=True)) == files
    assert read_meta_rows(spark, f"{path}/meta")[0]["format_version"] == 1
    claims = claims_dir_for(f"{path}/meta")
    assert not os.path.isdir(claims) or not os.listdir(claims)
    assert probe() == before


def test_near_dup_groups_string_id_fails_loudly(spark):
    """The LSH INDEX accepts string doc ids, but duplicate-GROUP
    resolution (CC min-label) is a long-label kernel: a string id must
    fail at plan time with guidance, not as an opaque mid-job
    CAST_INVALID_INPUT (found probing the ingest loop with string ids)."""
    import pytest

    df = spark.createDataFrame([("a", "x"), ("b", "x")],
                               "doc_id string, text string")
    pairs = spark.createDataFrame([("a", "b")], "a string, b string")
    with pytest.raises(ValueError, match="integral id"):
        D.near_dup_groups(df, pairs)


def test_containment_pairs_catches_subdocument(spark):
    """Asymmetric containment: a short doc quoted WHOLE inside a long one
    must score 1.0 even though its Jaccard vs the long doc is far below
    any near-dup threshold — the case symmetric dedup misses. Also pins
    the max_df candidate-cap + exact-rescore path and the integer
    intersection/size columns."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long_ = ("intro words here now truly " + short
             + " plus a very long unrelated tail " * 5)
    other = "totally different content with no shared phrases at all okay"
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], "doc_id long, text string")
    got = {(r["a"], r["b"]): r for r in
           D.containment_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got
    r = got[(1, 2)]
    # short doc has 4 distinct 5-gram shingles, all inside the long doc
    assert r["size_a"] == 4 and r["inter"] == 4
    assert r["containment"] == 1.0
    # Jaccard for the same pair is small: containment signal, not overlap
    assert r["inter"] / (r["size_a"] + r["size_b"] - r["inter"]) < 0.25
    # max_df cap path returns the same exact rows when no shingle is hot
    capped = {(r["a"], r["b"]): r["containment"] for r in
              D.containment_pairs(df, threshold=0.9, max_df=100).collect()}
    assert capped == {(1, 2): 1.0}


def test_lsh_index_single_writer_claim(spark, tmp_path):
    """The single-writer contract is ENFORCED, not prose (protocol v3):
    (a) an append against an index whose sentinel reads -1 (another
    writer's data-write bracket) fails the gate up front; (b) a claim
    race is decided newest-wins — the older claimant loses its verify
    having written nothing; (c) claims NEVER write the sentinel, so the
    meta row is byte-identical across the whole claim lifecycle."""
    import pytest

    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.operators.indexmeta import (
        ClaimLostError, claim_sentinel, release_claim, verify_claim)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    path = str(tmp_path / "claim_idx")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 30), path,
                      n_hashes=16, bands=4, shingle_n=5)
    wm = partial(stamp_meta, spark, path, D.LSH_INDEX,
                 open_index(spark, path, D.LSH_INDEX))
    delta = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 35))
    # (a) another writer is inside its -1 bracket -> append refuses loudly
    wm(-1)
    with pytest.raises(ValueError, match="in-progress"):
        D.lsh_index_append(spark, path, delta)
    # bracket closed: the same append now goes through
    wm(D.LSH_INDEX_FORMAT_VERSION)
    D.lsh_index_append(spark, path, delta)
    hits = {(r["batch_id"], r["index_id"]) for r in
            D.lsh_index_probe(spark, path, delta, threshold=0.99).collect()}
    assert {(i, i) for i in range(30, 35)} <= hits
    # (b)+(c) claim race, newest wins; sentinel untouched throughout
    meta_before = spark.read.parquet(f"{path}/meta").collect()
    a = claim_sentinel(spark, f"{path}/meta")
    b = claim_sentinel(spark, f"{path}/meta")   # newer claim wins
    assert spark.read.parquet(f"{path}/meta").collect() == meta_before
    with pytest.raises(ClaimLostError):
        verify_claim(spark, f"{path}/meta", a)  # older claimant loses
    verify_claim(spark, f"{path}/meta", b)      # winner still owns it
    # probes served through the whole race (the version stayed valid)
    assert D.lsh_index_probe(spark, path, delta, threshold=0.99).count() > 0
    release_claim(spark, f"{path}/meta", b)
    assert spark.read.parquet(f"{path}/meta").collect() == meta_before
    assert D.lsh_index_probe(spark, path, delta, threshold=0.99).count() > 0


def test_lsh_index_probe_serves_during_claim_window(spark, tmp_path):
    """Verdict r7 #3: the writer claim must NOT block readers — a probe
    issued while an appender holds the claim (the anti-join/signature
    phase, the long part of every append) serves the last stamped state.
    Only the data-write window (format_version -1) blocks, and a claim
    lost mid-compute aborts the writer with nothing written. Protocol
    v3 additions pinned here: a crashed writer's leftover claim FILE
    cannot deadlock the index (newest wins, the next mutation sweeps
    it), and a claim over a -1 sentinel refuses without touching it."""
    import pytest

    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.operators.indexmeta import (
        ClaimLostError, _list_claims, claim_sentinel, release_claim,
        verify_claim)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    path = str(tmp_path / "claim_live_idx")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 30), path,
                      n_hashes=16, bands=4, shingle_n=5)
    wm = partial(stamp_meta, spark, path, D.LSH_INDEX,
                 open_index(spark, path, D.LSH_INDEX))
    batch = docs.filter(F.col("doc_id") < 10)
    meta_dir = f"{path}/meta"
    # writer A claims (as lsh_index_append does before its anti-join)
    token = claim_sentinel(spark, meta_dir)
    # mid-claim, BEFORE any data write: the probe works
    hits = D.lsh_index_probe(spark, path, batch, threshold=0.99)
    assert {(r["batch_id"], r["index_id"]) for r in hits.collect()} >= \
        {(i, i) for i in range(10)}
    # ... and so does a second claim-phase reader, the stats row
    assert D.lsh_index_stats(spark, path).collect()[0]["n_docs"] == 30
    # writer A re-verifies right before its -1 stamp: still owner
    verify_claim(spark, meta_dir, token)
    # an interloper claims while A computes -> A's re-verify aborts A
    # with nothing written; the interloper keeps the claim
    interloper = claim_sentinel(spark, meta_dir)
    with pytest.raises(ClaimLostError):
        verify_claim(spark, meta_dir, token)
    # A's losing verify dropped A's claim file; the interloper's remains
    assert _list_claims(spark, meta_dir) == [interloper]
    release_claim(spark, meta_dir, interloper)
    # a writer that CRASHED mid-compute leaves only its claim FILE: the
    # next mutation claims over it (newest wins — refusing would deadlock
    # the index forever on a dead writer's leftovers), completes normally,
    # and its final sweep removes the leftover
    claim_sentinel(spark, meta_dir)             # abandoned: never released
    D.lsh_index_append(spark, path, docs.filter(
        (F.col("doc_id") >= 30) & (F.col("doc_id") < 33)))
    row = spark.read.parquet(meta_dir).collect()[0]
    assert row["format_version"] == D.LSH_INDEX_FORMAT_VERSION
    assert _list_claims(spark, meta_dir) == []  # swept by the append
    assert D.lsh_index_stats(spark, path).collect()[0]["n_docs"] == 33
    # the -1 bracket (data-write window) still blocks readers loudly
    wm(-1)
    with pytest.raises(ValueError, match="in-progress"):
        D.lsh_index_probe(spark, path, batch)
    # ... and a NEW CLAIM must refuse while the bracket is open (a
    # mutation layered on top could commit a delta computed over a torn
    # state); v3 guarantees the refusal cannot itself touch the sentinel
    with pytest.raises(ValueError, match="data-write bracket"):
        claim_sentinel(spark, meta_dir)
    row = spark.read.parquet(meta_dir).collect()[0]
    assert row["format_version"] == -1
    assert _list_claims(spark, meta_dir) == []  # no claim file leaked
    wm(D.LSH_INDEX_FORMAT_VERSION)


def test_claim_cannot_unblind_readers_onto_torn_state(spark, tmp_path):
    """ADVICE r8 (medium), the exact scenario: writer B's claim lands
    just before writer A stamps -1 and starts its data writes. Under v2
    (token stored IN the meta) B's claim write could overwrite the -1
    with a valid version, unblinding readers onto A's torn mid-append
    state. Under v3 the orders contradict: A's post-stamp confirm sees
    B's (earlier) claim file and aborts leaving the loud -1; B's verify
    then sees the -1 and aborts too — both lose LOUDLY, neither writes
    data, and at no point does a reader see a valid version over a torn
    state."""
    import pytest

    from thewhisperdb_spark.catalog import load_table
    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.operators.indexmeta import (
        ClaimLostError, _list_claims, claim_sentinel, confirm_claim,
        verify_claim)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    path = str(tmp_path / "race_idx")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 20), path,
                      n_hashes=16, bands=4, shingle_n=5)
    wm = partial(stamp_meta, spark, path, D.LSH_INDEX,
                 open_index(spark, path, D.LSH_INDEX))
    meta_dir = f"{path}/meta"
    a = claim_sentinel(spark, meta_dir)
    verify_claim(spark, meta_dir, a)            # A passes its verify
    b = claim_sentinel(spark, meta_dir)         # B claims in the window
    # B's claim did NOT touch the sentinel (the v2 failure mode): the
    # version is still valid and readers still serve
    assert spark.read.parquet(meta_dir).collect()[0][
        "format_version"] == D.LSH_INDEX_FORMAT_VERSION
    wm(-1)                                      # A stamps in-progress
    with pytest.raises(ClaimLostError, match="left in-progress"):
        confirm_claim(spark, meta_dir, a)       # A aborts, leaves the -1
    assert spark.read.parquet(meta_dir).collect()[0]["format_version"] == -1
    with pytest.raises(ClaimLostError, match="data-write bracket"):
        verify_claim(spark, meta_dir, b)        # B aborts on the -1 too
    # both losers dropped their claim files; the -1 is the loud end state
    assert _list_claims(spark, meta_dir) == []
    assert spark.read.parquet(meta_dir).collect()[0]["format_version"] == -1
    wm(D.LSH_INDEX_FORMAT_VERSION)              # operator re-stamp
    assert D.lsh_index_probe(
        spark, path, docs.filter(F.col("doc_id") < 5),
        threshold=0.99).count() > 0


def test_meta_fast_path_honours_default_fs(spark, tmp_path):
    """A scheme-less meta path is read driver-side only when Hadoop's
    fs.defaultFS is file:; under another default filesystem Spark resolves
    it there, so the pyarrow fast path must not read a local directory of
    the same name."""
    from thewhisperdb_spark.operators.indexmeta import (
        parquet_row_count, read_meta_rows, write_meta_row)

    meta_dir = str(tmp_path / "meta")
    write_meta_row(spark, meta_dir, "format_version int", [3])
    spark_reads = []

    class SparkSpy:
        """The session's Hadoop conf, with the Spark reader replaced by a
        recorder, so no read ever contacts the default filesystem."""
        _jsc = spark._jsc

        class read:
            @staticmethod
            def parquet(path):
                spark_reads.append(path)
                raise RuntimeError("spark reader")

    conf = spark._jsc.hadoopConfiguration()
    old = conf.get("fs.defaultFS")
    try:
        conf.set("fs.defaultFS", "hdfs://127.0.0.1:9")
        for read in (read_meta_rows, parquet_row_count):
            with pytest.raises(RuntimeError, match="spark reader"):
                read(SparkSpy, meta_dir)
        assert spark_reads == [meta_dir, meta_dir]
        # an explicit file: scheme is local whatever the default
        assert read_meta_rows(SparkSpy, "file://" + meta_dir) == [
            {"format_version": 3}]
    finally:
        conf.set("fs.defaultFS", old)
    assert read_meta_rows(SparkSpy, meta_dir) == [{"format_version": 3}]
    assert parquet_row_count(SparkSpy, meta_dir) == 1
    assert spark_reads == [meta_dir, meta_dir]


def test_parquet_row_count_of_partless_directory(spark, tmp_path):
    """An empty partitioned write leaves a directory with no parquet parts
    (the buckets of an index built from an empty corpus): it holds 0 rows
    on the driver-side footer path and on the Spark fallback, which cannot
    infer a schema there. A missing directory still raises."""
    from pyspark.errors import AnalysisException

    from thewhisperdb_spark.operators.indexmeta import parquet_row_count

    empty = str(tmp_path / "buckets")
    (spark.createDataFrame([], "id long, band int").write
     .partitionBy("band").parquet(empty))

    class RemoteSpark:
        """The session's reader under a non-file default filesystem, so
        scheme-less paths skip the footer path; reads still go local."""
        class _jsc:
            @staticmethod
            def hadoopConfiguration():
                return {"fs.defaultFS": "hdfs://127.0.0.1:9"}

        class read:
            @staticmethod
            def parquet(path):
                return spark.read.parquet("file://" + path)

    for session in (spark, RemoteSpark):
        assert parquet_row_count(session, empty) == 0
        with pytest.raises(AnalysisException):
            parquet_row_count(session, str(tmp_path / "missing"))
