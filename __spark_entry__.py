"""Driver contract: entry() smoke, queries() Spark implementations, and
oracle_sql() DuckDB twins for the SURVEY §2 operator inventory.

Implementation notes on oracle parity (why some expressions look pedantic):
- Every computed column is aliased identically on both sides; the driver
  sorts columns by name before hashing.
- Sums over double measures go through DECIMAL(18,6) on BOTH sides, then cast
  to double: decimal addition is exact, so engine-specific float summation
  order can't perturb the hash. Averages = exact decimal sum / count, divided
  in double.
- Similarity scores are rounded to 6 decimals on both sides: Spark's fold and
  DuckDB's list_dot_product may sum in different orders (~1e-15 drift).
- Computed integers are cast to BIGINT on the Spark side (Spark size() etc.
  return int32; DuckDB len()/row_number() return int64).
- Ties are always broken by id — the reference's std::sort leaves tie order
  unspecified (src/core/GraphDB.cpp:142-162), so determinism is ours to add.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thewhisperdb_spark.catalog import load_table
from thewhisperdb_spark.operators import aggregates as AG
from thewhisperdb_spark.operators import dedup as D
from thewhisperdb_spark.operators import events as EV
from thewhisperdb_spark.operators import sampling as SM
from thewhisperdb_spark.operators import filters as FL
from thewhisperdb_spark.operators import graph as G
from thewhisperdb_spark.operators import sorting as O
from thewhisperdb_spark.operators import tags as TG
from thewhisperdb_spark.operators import text as TX
from thewhisperdb_spark.operators import vectors as V

# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

COS_EDGE_THRESHOLD = 0.35  # gives a few hundred edges on the testdata vectors


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _docs_tagged(spark, sf_dir):
    """documents + tags column = distinct whitespace tokens (FIXTURES.md maps
    documents.text to the reference's node tag arrays)."""
    return TX.with_tags(_docs(spark, sf_dir))


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _dec(col: str):
    return F.col(col).cast("decimal(18,6)")


def _sum_dec(col: str, alias: str):
    return F.sum(_dec(col)).cast("double").alias(alias)


def _one():
    return F.lit(1).cast("decimal(18,6)")

# DuckDB token-set expression mirroring text.tags_of (distinct, empties dropped)
_SQL_TOKENS = "list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))"
# DuckDB cosine over double arrays (cast first: float accumulation would drift
# too far from Spark's double fold for round-6 to absorb)
_SQL_COS = (
    "(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
)


def _cos_pairs_sql(threshold: float) -> str:
    """Shared oracle CTE body: undirected cosine-threshold edges over embeddings."""
    cos = _SQL_COS.format(a="x.v", b="y.v")
    return f"""
e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT x.id AS a, y.id AS b, {cos} AS sim
  FROM e x JOIN e y ON x.id < y.id
  WHERE {cos} >= {threshold}
)"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def q(key: str, sql: str | None):
    def deco(fn):
        _REGISTRY[key] = (fn, sql)
        return fn
    return deco


# ---- §2.1 / §2.2 scans, filters, projections ------------------------------

@q("scan_nodes", "SELECT doc_id, lang, source, n_chars FROM documents")
def scan_nodes(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")


@q("filter_subject_eq",
   "SELECT doc_id, lang, source, n_chars FROM documents WHERE lang = 'en'")
def filter_subject_eq(spark, sf_dir):
    # F1 string equality (src/core/GraphDB.cpp:115-116); subject ≙ lang
    df = _docs(spark, sf_dir)
    return df.filter(FL.eq_filter("lang", "en")).select(
        "doc_id", "lang", "source", "n_chars")


@q("filter_author_eq",
   "SELECT doc_id, source FROM documents WHERE source = 'src7'")
def filter_author_eq(spark, sf_dir):
    # F2 (src/core/GraphDB.cpp:117-118); author ≙ source
    return _docs(spark, sf_dir).filter(FL.eq_filter("source", "src7")).select(
        "doc_id", "source")


@q("filter_course_eq",
   "SELECT vec_id, label FROM embeddings WHERE label = 5")
def filter_course_eq(spark, sf_dir):
    # F3 int equality with parse (src/core/GraphDB.cpp:119-122); course ≙ label
    return _emb(spark, sf_dir).filter(FL.eq_filter("label", 5)).select(
        "vec_id", "label")


@q("filter_title_contains",
   "SELECT doc_id, n_chars FROM documents WHERE text LIKE '%spark%'")
def filter_title_contains(spark, sf_dir):
    # F4 substring, not equality (src/core/GraphDB.cpp:123-125)
    return _docs(spark, sf_dir).filter(FL.contains_filter("text", "spark")).select(
        "doc_id", "n_chars")


@q("filter_tag_membership",
   "SELECT doc_id FROM documents WHERE list_contains(string_split(text, ' '), 'dup')")
def filter_tag_membership(spark, sf_dir):
    # F5 array membership (src/core/GraphDB.cpp:126-131)
    df = _docs(spark, sf_dir).withColumn("tags", F.split(F.col("text"), " "))
    return df.filter(FL.tag_filter("dup")).select("doc_id")


@q("filter_conjunction",
   "SELECT doc_id, source FROM documents "
   "WHERE lang = 'en' AND text LIKE '%join%' AND n_chars > 200")
def filter_conjunction(spark, sf_dir):
    # F6 AND-conjunction (src/core/GraphDB.cpp:114-134)
    df = _docs(spark, sf_dir)
    pred = FL.conjunction(
        FL.eq_filter("lang", "en"),
        FL.contains_filter("text", "join"),
        F.col("n_chars") > 200,
    )
    return df.filter(pred).select("doc_id", "source")


@q("point_lookup_id", "SELECT * FROM documents WHERE doc_id = 42")
def point_lookup_id(spark, sf_dir):
    # F7 PK lookup (src/core/GraphDB.cpp:30-38)
    return FL.point_lookup(_docs(spark, sf_dir), 42, id_col="doc_id")


@q("filter_has_embedding",
   "SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim "
   "FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0")
def filter_has_embedding(spark, sf_dir):
    # F10 (include/core/GNode.hpp:31)
    df = _emb(spark, sf_dir)
    return df.filter(FL.has_embedding("embedding")).select(
        "vec_id", "label", F.size("embedding").cast("long").alias("dim"))


@q("project_node_shape",
   "SELECT doc_id AS id, substr(text, 1, 30) AS title, source AS author, "
   "lang AS subject, CAST(n_chars % 8 AS INT) AS course FROM documents")
def project_node_shape(spark, sf_dir):
    # F9 fixed projection shape (src/core/GNode.cpp:118-137)
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.substring("text", 1, 30).alias("title"),
        F.col("source").alias("author"),
        F.col("lang").alias("subject"),
        (F.col("n_chars") % 8).cast("int").alias("course"),
    )


# ---- §2.5 sort / offset-limit / top-k -------------------------------------

@q("sort_offset_limit",
   "SELECT doc_id, n_chars FROM documents "
   "ORDER BY n_chars DESC, doc_id LIMIT 25 OFFSET 10")
def sort_offset_limit(spark, sf_dir):
    # O1+O2 (src/core/GraphDB.cpp:142-177); id tie-break for determinism
    df = _docs(spark, sf_dir).select("doc_id", "n_chars")
    ordered = df.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return O.paginate(ordered, offset=10, limit=25)


@q("topk_by_field",
   "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10")
def topk_by_field(spark, sf_dir):
    # O3: top-k -> TakeOrderedAndProject, not full sort (vs src/main.cpp:552-561)
    return O.top_k(_docs(spark, sf_dir).select("doc_id", "n_chars"),
                   "n_chars", 10, tie_col="doc_id")


@q("sort_by_field",
   "SELECT doc_id, source, n_chars FROM documents ORDER BY source, doc_id")
def sort_by_field(spark, sf_dir):
    # O1 whitelisted-key sort, unknown key -> id fallback, id tie-break
    # (src/core/GraphDB.cpp:60-82; field key ≙ source)
    return O.sort_nodes(_docs(spark, sf_dir).select("doc_id", "source", "n_chars"),
                        "source", ascending=True, id_col="doc_id",
                        allowed=("source", "n_chars"))


# ---- §2.4 aggregations -----------------------------------------------------

@q("count_all", "SELECT count(*) AS cnt FROM documents")
def count_all(spark, sf_dir):
    # A1 (src/core/GraphDB.cpp:195-197)
    return _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("cnt"))


@q("count_filtered",
   "SELECT count(*) AS cnt FROM documents WHERE lang = 'en' AND text LIKE '%join%'")
def count_filtered(spark, sf_dir):
    # A2 (src/core/GraphDB.cpp:199-230)
    return (_docs(spark, sf_dir)
            .filter(FL.conjunction(FL.eq_filter("lang", "en"),
                                   FL.contains_filter("text", "join")))
            .agg(F.count(F.lit(1)).alias("cnt")))


@q("distinct_subjects", "SELECT DISTINCT lang FROM documents")
def distinct_subjects(spark, sf_dir):
    # A7 (CURL_TESTS.md:514)
    return _docs(spark, sf_dir).select("lang").distinct()


@q("tag_histogram",
   f"SELECT tag, count(*) AS cnt FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS tag "
   "FROM documents) GROUP BY tag")
def tag_histogram(spark, sf_dir):
    # A4 (src/tagging/TagService.cpp:199-213): docs-per-tag over distinct tag sets
    from thewhisperdb_spark.operators.aggregates import tag_histogram as th
    return th(_docs_tagged(spark, sf_dir))


# ---- §2.3 tag joins --------------------------------------------------------

@q("nodes_by_tag",
   "SELECT doc_id FROM documents WHERE list_contains(string_split(text, ' '), 'window')")
def nodes_by_tag(spark, sf_dir):
    # J1 (src/core/GraphDB.cpp:508-517)
    df = _docs(spark, sf_dir).withColumn("tags", F.split(F.col("text"), " "))
    return TG.nodes_by_tag(df, "window").select("doc_id")


@q("shared_tag_join",
   f"""WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tag FROM documents)
SELECT DISTINCT b.doc_id AS id FROM tok a JOIN tok b ON a.tag = b.tag
WHERE a.doc_id = 0 AND b.doc_id <> 0""")
def shared_tag_join(spark, sf_dir):
    # J2 (src/core/GraphDB.cpp:519-546)
    return TG.shared_tag_partners(_docs_tagged(spark, sf_dir), 0, id_col="doc_id")


_JACCARD_SQL_BODY = f"""
tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tag FROM documents),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       FROM tok x JOIN tok y ON x.tag = y.tag AND x.doc_id < y.doc_id
       GROUP BY x.doc_id, y.doc_id),
jac AS (SELECT co.a, co.b, co.inter,
               sa.n + sb.n - co.inter AS union_size,
               CAST(co.inter AS DOUBLE) / (sa.n + sb.n - co.inter) AS jaccard
        FROM co JOIN sz sa ON co.a = sa.doc_id JOIN sz sb ON co.b = sb.doc_id)"""


# RETIRED KEY (registry-growth governance, VERDICT r11 #5): the
# standalone `jaccard_pairs` key is stage-subsumed by
# `jaccard_threshold_join` below (same _JACCARD_SQL_BODY derivation,
# same operator TG.jaccard_pairs under it); the J3 duplicate-sensitive
# Jaccard rule stays pinned by tests/test_tags_vectors.py.
@q("jaccard_threshold_join",
   f"WITH {_JACCARD_SQL_BODY} "
   "SELECT CASE WHEN a = 0 THEN b ELSE a END AS id, jaccard FROM jac "
   "WHERE (a = 0 OR b = 0) AND jaccard >= 0.9")
def jaccard_threshold_join(spark, sf_dir):
    # J4 (src/core/GraphDB.cpp:576-603; θ default include/core/GraphDB.hpp:51 —
    # raised to 0.9 here because the synthetic token sets overlap heavily)
    return TG.jaccard_partners(_docs_tagged(spark, sf_dir), 0, threshold=0.9,
                               id_col="doc_id")


@q("tagbank_union_distinct",
   f"SELECT DISTINCT tag FROM ("
   f"SELECT unnest({_SQL_TOKENS}) AS tag FROM documents WHERE source = 'src1' "
   f"UNION ALL SELECT unnest({_SQL_TOKENS}) AS tag FROM documents WHERE source = 'src2')")
def tagbank_union_distinct(spark, sf_dir):
    # A8/U2 tag-bank distinct union (src/core/GraphDB.cpp:499-506): bank =
    # src1 docs' tags, incoming = src2 docs' tags
    d = _docs_tagged(spark, sf_dir)
    bank = (d.filter(F.col("source") == "src1")
            .select(F.explode("tags").alias("tag")).distinct())
    new = (d.filter(F.col("source") == "src2")
           .select(F.explode("tags").alias("tag")).distinct())
    return TG.tag_bank_union(bank, new)


@q("batch_jaccard_relink",
   f"WITH {_JACCARD_SQL_BODY} "
   "SELECT a AS src, b AS dst FROM jac WHERE jaccard >= 0.95 "
   "UNION SELECT b, a FROM jac WHERE jaccard >= 0.95")
def batch_jaccard_relink(spark, sf_dir):
    # G5 batch tag-based relink (src/tagging/TagService.cpp:136-167): ONE
    # threshold self-join emits the whole bidirectional edge set — replaces
    # the reference's per-node J4 loop (quadratic in queries)
    pairs = TG.jaccard_pairs(_docs_tagged(spark, sf_dir), id_col="doc_id",
                             threshold=0.95)
    return G.undirect(pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")))


# ---- §2.3 vector ops -------------------------------------------------------

@q("cosine_similarity",
   "SELECT y.vec_id, round(" +
   _SQL_COS.format(a="CAST(x.embedding AS DOUBLE[])", b="CAST(y.embedding AS DOUBLE[])")
   + ", 6) AS similarity FROM embeddings x JOIN embeddings y "
   "ON x.vec_id = 0 AND y.vec_id BETWEEN 1 AND 20")
def cosine_similarity(spark, sf_dir):
    # J5 scalar cosine (src/embedding/Clustering.cpp:7-27): vec 0 vs vecs 1..20
    e = _emb(spark, sf_dir)
    probe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_q"))
    return (e.filter(F.col("vec_id").between(1, 20))
            .join(F.broadcast(probe))
            .select("vec_id",
                    F.round(V.cosine("embedding", "_q"), 6)
                    .alias("similarity")))


@q("similar_pairs_threshold",
   f"WITH {_cos_pairs_sql(COS_EDGE_THRESHOLD)} "
   "SELECT a, b, round(sim, 6) AS similarity FROM pairs")
def similar_pairs_threshold(spark, sf_dir):
    # J6 (src/embedding/Clustering.cpp:29-53)
    pairs = V.similar_pairs(_emb(spark, sf_dir), COS_EDGE_THRESHOLD)
    return pairs.select("a", "b", F.round("similarity", 6).alias("similarity"))


@q("topk_similar",
   "SELECT y.vec_id, round(" +
   _SQL_COS.format(a="CAST(x.embedding AS DOUBLE[])", b="CAST(y.embedding AS DOUBLE[])")
   + ", 6) AS similarity FROM embeddings x JOIN embeddings y ON x.vec_id = 0 "
   "AND y.vec_id <> 0 ORDER BY similarity DESC, y.vec_id LIMIT 10")
def topk_similar(spark, sf_dir):
    # J7 k-NN (src/main.cpp:518-577, default k=10)
    out = V.topk_similar(_emb(spark, sf_dir), 0, k=10)
    return out.select("vec_id", F.round("similarity", 6).alias("similarity"))


@q("knn_join",
   "WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id < 20), "
   "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings), "
   "s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
   + _SQL_COS.format(a="q.v", b="c.v") +
   " AS sim FROM q JOIN c ON q.vec_id <> c.vec_id), "
   "r AS (SELECT query_id, neighbor_id, round(sim, 6) AS similarity, "
   "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s) "
   "SELECT query_id, neighbor_id, similarity, rank FROM r WHERE rank <= 5")
def knn_join(spark, sf_dir):
    # north-star ANN baseline: exact brute-force k-NN join (queries: vec_id<20)
    e = _emb(spark, sf_dir)
    out = V.brute_force_knn_join(e.filter(F.col("vec_id") < 20), e, k=5)
    return out.select("query_id", "neighbor_id",
                      F.round("similarity", 6).alias("similarity"),
                      F.col("rank").cast("long").alias("rank"))


# ---- §2.7 graph kernels ----------------------------------------------------

@q("adjacency_from_pairs",
   f"""WITH {_cos_pairs_sql(COS_EDGE_THRESHOLD)},
und AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs)
SELECT src AS id, CAST(count(*) AS BIGINT) AS degree,
       array_to_string(list_sort(list(dst)), ',') AS neighbors_csv
FROM und GROUP BY src""")
def adjacency_from_pairs(spark, sf_dir):
    # G1 (src/embedding/Clustering.cpp:55-66); csv form keeps the hash stable
    pairs = V.similar_pairs(_emb(spark, sf_dir), COS_EDGE_THRESHOLD)
    und = G.undirect(pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    return und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree"),
        F.array_join(F.array_sort(F.collect_list("dst")), ",").alias("neighbors_csv"))


_CC_SQL = f"""WITH RECURSIVE {_cos_pairs_sql(COS_EDGE_THRESHOLD)},
und AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(src, dst) AS (
  SELECT id, id FROM e
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
),
comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)"""


@q("connected_components", _CC_SQL + " SELECT id, component FROM comp")
def connected_components(spark, sf_dir):
    # G2 (src/embedding/Clustering.cpp:68-107): components over the cosine
    # similarity graph, singletons included; component = min member id
    e = _emb(spark, sf_dir)
    pairs = V.similar_pairs(e, COS_EDGE_THRESHOLD)
    return G.clusters_from_pairs(e.select(F.col("vec_id").alias("id")), pairs)


@q("cluster_sizes", _CC_SQL + """
SELECT component, CAST(count(*) AS BIGINT) AS size,
       CAST(row_number() OVER (ORDER BY count(*) DESC, component) AS BIGINT) AS cluster_rank
FROM comp GROUP BY component""")
def cluster_sizes(spark, sf_dir):
    # A6 (src/tagging/TagService.cpp:243-252)
    from thewhisperdb_spark.operators.aggregates import cluster_sizes as cs
    e = _emb(spark, sf_dir)
    pairs = V.similar_pairs(e, COS_EDGE_THRESHOLD)
    labels = G.clusters_from_pairs(e.select(F.col("vec_id").alias("id")), pairs)
    out = cs(labels, cluster_col="component")
    return out.select("component", F.col("size").cast("long").alias("size"),
                      F.col("cluster_rank").cast("long").alias("cluster_rank"))


_CLUSTER_TAG_SQL = _CC_SQL + f""",
csz AS (SELECT component, CAST(count(*) AS BIGINT) AS size,
               array_to_string(list_sort(list(id)), ',') AS members_csv
        FROM comp GROUP BY component),
tok2 AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tag FROM documents),
hist AS (SELECT c.component AS component, t.tag AS tag, count(*) AS cnt
         FROM comp c JOIN tok2 t ON t.doc_id = c.id GROUP BY 1, 2),
kept AS (SELECT h.component, h.tag FROM hist h JOIN csz ON h.component = csz.component
         WHERE csz.size = 1 OR h.cnt >= 2)"""


def _cluster_labels(spark, sf_dir):
    """(id, component) over the cosine-threshold graph; doc_id ≡ vec_id."""
    e = _emb(spark, sf_dir)
    pairs = V.similar_pairs(e, COS_EDGE_THRESHOLD)
    return G.clusters_from_pairs(e.select(F.col("vec_id").alias("id")), pairs)


@q("cluster_shared_tags",
   _CLUSTER_TAG_SQL + " SELECT DISTINCT component, tag FROM kept")
def cluster_shared_tags(spark, sf_dir):
    # A5 (src/tagging/TagService.cpp:225-238): multi-node clusters keep tags
    # held by >= 2 members; singleton clusters keep all their tags
    from thewhisperdb_spark.operators.aggregates import shared_tags_per_cluster
    labels = _cluster_labels(spark, sf_dir)
    tagged = _docs_tagged(spark, sf_dir).select(F.col("doc_id").alias("id"), "tags")
    return shared_tags_per_cluster(tagged.join(labels, "id"),
                                   cluster_col="component")


@q("clusters_report",
   _CLUSTER_TAG_SQL + """,
shared AS (SELECT component, count(DISTINCT tag) AS n_shared FROM kept GROUP BY component)
SELECT c.component, c.size, c.members_csv,
       CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared_tags,
       CAST(row_number() OVER (ORDER BY c.size DESC, c.component) AS BIGINT) AS cluster_rank
FROM csz c LEFT JOIN shared s ON c.component = s.component""")
def clusters_report(spark, sf_dir):
    # G3 composite cluster report (src/tagging/TagService.cpp:169-255):
    # members + shared-tag count (A5) + size ordering/renumbering (A6)
    from pyspark.sql import Window
    from thewhisperdb_spark.operators.aggregates import shared_tags_per_cluster
    labels = _cluster_labels(spark, sf_dir)
    tagged = _docs_tagged(spark, sf_dir).select(F.col("doc_id").alias("id"), "tags")
    csz = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("size"),
        F.array_join(F.array_sort(F.collect_list("id")), ",").alias("members_csv"))
    shared = (shared_tags_per_cluster(tagged.join(labels, "id"),
                                      cluster_col="component")
              .groupBy("component")
              .agg(F.count_distinct("tag").alias("n_shared")))
    w = Window.orderBy(F.col("size").desc(), F.col("component").asc())
    return (csz.join(shared, "component", "left")
            .select("component", "size", "members_csv",
                    F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared_tags"))
            .withColumn("cluster_rank", F.row_number().over(w).cast("long")))


# ---- north-star: dedup -----------------------------------------------------

@q("dedup_exact",
   "SELECT text, count(*) AS n_dups, min(doc_id) AS keeper FROM documents "
   "GROUP BY text HAVING count(*) > 1")
def dedup_exact(spark, sf_dir):
    return D.exact_duplicates(_docs(spark, sf_dir))


@q("dedup_drop_exact",
   "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text")
def dedup_drop_exact(spark, sf_dir):
    # keep-min-id exact dedup (north-star): one shuffle on text hash
    return D.drop_exact_duplicates(_docs(spark, sf_dir)).select("doc_id")


@q("embedding_cosine_near_dup",
   f"WITH {_cos_pairs_sql(0.45)} SELECT a, b, round(sim, 6) AS similarity FROM pairs")
def embedding_cosine_near_dup(spark, sf_dir):
    # north-star embedding-cosine near-dup (exact kernel; ann_lsh_pairs /
    # ivf_knn are the approximate scale paths)
    out = D.embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.45)
    return out.select("a", "b", F.round("similarity", 6).alias("similarity"))


@q("semantic_dedup_contract",
   # contract oracle (kmeans_clusters pattern): which pairs the
   # float-iterative clustering surfaces isn't SQL-portable, but the
   # SemDeDup invariants are — every embedding verdicted exactly once,
   # keep == (id == group min), every dropped doc witnessed by a
   # within-cluster pair, and every emitted pair actually >= θ. The
   # Spark side COMPUTES the checks (false -> hash mismatch); the oracle
   # pins n_total exactly and the booleans as constants.
   "SELECT CAST(count(*) AS BIGINT) AS n_total, TRUE AS conserved_ok, "
   "TRUE AS keep_rule_ok, TRUE AS dropped_have_witness, "
   "TRUE AS pairs_meet_theta FROM embeddings")
def semantic_dedup_contract(spark, sf_dir):
    # SemDeDup (cluster -> within-cluster BLAS gram -> CC survivor):
    # operators/dedup.py:semantic_dedup_pairs/semantic_dedup; recall &
    # planted-dup behavior pytest-pinned (test_graph_dedup.py)
    emb = _emb(spark, sf_dir)
    lab = V.kmeans_assign(emb, k=8, max_iter=3)
    pairs = D.semantic_dedup_pairs(emb, threshold=0.45, k=8, max_iter=3,
                                   labels=lab).localCheckpoint(eager=True)
    verdict = D.semantic_dedup(emb, threshold=0.45, k=8, max_iter=3,
                               labels=lab)
    wit = (pairs.select(F.col("a").alias("_w"))
           .unionByName(pairs.select(F.col("b").alias("_w"))).distinct())
    checks = (verdict
              .join(wit, verdict["vec_id"] == wit["_w"], "left")
              .groupBy()
              .agg(F.count(F.lit(1)).alias("n_total"),
                   (F.count_distinct("vec_id") == F.count(F.lit(1)))
                   .alias("conserved_ok"),
                   F.coalesce(F.bool_and(
                       F.col("keep") == (F.col("vec_id") == F.col("group"))),
                       F.lit(True)).alias("keep_rule_ok"),
                   F.coalesce(F.bool_and(
                       F.when(~F.col("keep"), F.col("_w").isNotNull())
                       .otherwise(F.lit(True))), F.lit(True))
                   .alias("dropped_have_witness")))
    theta_ok = pairs.groupBy().agg(
        F.coalesce(F.bool_and(F.col("similarity") >= 0.45), F.lit(True))
        .alias("pairs_meet_theta"))
    return checks.join(F.broadcast(theta_ok))


@q("ngram_jaccard_dedup",
   """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         generate_series(1, greatest(len(text) - 2, 1)), i -> substr(text, i, 3)))) AS sh
       FROM d),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       GROUP BY x.doc_id, y.doc_id)
SELECT co.a, co.b, CAST(co.inter AS DOUBLE) / (sa.n + sb.n - co.inter) AS jaccard
FROM co JOIN sz sa ON co.a = sa.doc_id JOIN sz sb ON co.b = sb.doc_id
WHERE CAST(co.inter AS DOUBLE) / (sa.n + sb.n - co.inter) >= 0.9""")
def ngram_jaccard_dedup(spark, sf_dir):
    # char-3-gram shingle Jaccard near-dup on a bounded slice (oracle cost)
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    return D.shingle_jaccard_pairs(d, n=3, threshold=0.9)


@q("image_dhash_dedup_contract",
   # contract oracle (semantic_dedup_contract pattern): dHash bit values
   # aren't SQL-portable, but the dedup invariants are — the corpus is
   # the first 200 documents rendered to deterministic rasters, every
   # doc_id % 5 == 0 gets a pixel-identical copy at id+1e6, and the
   # banded pairing (operators/imagededup.py) must surface EVERY seeded
   # copy at hamming 0 with both pair ids drawn from the corpus. The
   # Spark side COMPUTES the checks (false -> hash mismatch); the oracle
   # pins the counts exactly and the booleans as constants.
   "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
   "CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_seeded, TRUE AS all_seeded_matched, TRUE AS pair_ids_valid "
   "FROM documents WHERE doc_id < 200")
def image_dhash_dedup_contract(spark, sf_dir):
    # perceptual image dedup driven end-to-end: text -> deterministic
    # raster (the injectable-codec hook) -> 64-bit dHash -> pigeonhole
    # band join; operators/imagededup.py
    from thewhisperdb_spark.operators.imagededup import (
        image_dhash, image_near_dup_pairs)
    from thewhisperdb_spark.sources.multimodal import (
        deterministic_fake_decoder)
    d = (_docs(spark, sf_dir).filter(F.col("doc_id") < 200)
         .select("doc_id", F.encode("text", "utf-8").alias("content")))
    orig = d.select(F.format_string("%09d", "doc_id").alias("path"),
                    "content", F.lit("image").alias("modality"))
    seeded = (d.filter(F.col("doc_id") % 5 == 0)
              .select(F.format_string("%09d",
                                      F.col("doc_id") + 1_000_000)
                      .alias("path"),
                      "content", F.lit("image").alias("modality")))
    hashes = image_dhash(orig.unionByName(seeded),
                         decoder=deterministic_fake_decoder)
    pairs = image_near_dup_pairs(hashes, max_hamming=0) \
        .localCheckpoint(eager=True)
    expected = (d.filter(F.col("doc_id") % 5 == 0)
                .select(F.format_string("%09d", "doc_id").alias("a"),
                        F.format_string("%09d",
                                        F.col("doc_id") + 1_000_000)
                        .alias("b")))
    missing = expected.join(pairs, ["a", "b"], "left_anti")
    universe = (orig.select(F.col("path").alias("_p"))
                .unionByName(seeded.select(F.col("path").alias("_p"))))
    stray = (pairs.select(F.col("a").alias("_p"))
             .unionByName(pairs.select(F.col("b").alias("_p")))
             .join(universe, "_p", "left_anti"))
    stats = d.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0))
        .cast("long").alias("n_seeded"))
    matched = missing.groupBy().agg(
        (F.count(F.lit(1)) == 0).alias("all_seeded_matched"))
    valid = stray.groupBy().agg(
        (F.count(F.lit(1)) == 0).alias("pair_ids_valid"))
    return stats.join(F.broadcast(matched)).join(F.broadcast(valid))


# RETIRED KEY (governance r12): `url_domain_features` was
# stage-subsumed by `url_psl_registrable` + `crawl_curation_pipeline`
# (same operators/urls.py:url_features under both); pinned by
# tests/test_urls.py::test_url_features_rules.


@q("url_psl_registrable",
   # FULL-VALUE oracle for the Public Suffix List grouping
   # (operators/psl.py): hosts are built JVM-side from document fields
   # to hit each PSL rule class — private hoster suffix (github.io),
   # multi-part private suffix (blogspot.com.es), wildcard rule (*.bd),
   # exception rule (!www.ck), and an unlisted TLD (implicit * default)
   # — and DuckDB mirrors the EXPECTED registrable domain per class with
   # plain string CASEs, independently of the broadcast-join matcher.
   "SELECT doc_id, "
   "CASE doc_id % 5 "
   " WHEN 0 THEN 'u' || CAST(doc_id % 7 AS VARCHAR) || '.github.io' "
   " WHEN 1 THEN 'www.blog' || CAST(doc_id % 7 AS VARCHAR) || "
   "   '.blogspot.com.es' "
   " WHEN 2 THEN 'a.x' || CAST(doc_id % 7 AS VARCHAR) || '.site.bd' "
   " WHEN 3 THEN 'shop' || CAST(doc_id % 7 AS VARCHAR) || '.www.ck' "
   " ELSE 'd' || CAST(doc_id % 7 AS VARCHAR) || '.example.zz' "
   "END AS host, "
   "CASE doc_id % 5 "
   " WHEN 0 THEN 'u' || CAST(doc_id % 7 AS VARCHAR) || '.github.io' "
   " WHEN 1 THEN 'blog' || CAST(doc_id % 7 AS VARCHAR) || "
   "   '.blogspot.com.es' "
   " WHEN 2 THEN 'x' || CAST(doc_id % 7 AS VARCHAR) || '.site.bd' "
   " WHEN 3 THEN 'www.ck' "
   " ELSE 'example.zz' "
   "END AS registrable_domain "
   "FROM documents WHERE doc_id < 500")
def url_psl_registrable(spark, sf_dir):
    from thewhisperdb_spark.operators.psl import (
        load_psl, with_registrable_domain)

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 5
    host = (F.when(m == 0, F.concat(F.lit("u"), k, F.lit(".github.io")))
            .when(m == 1, F.concat(F.lit("www.blog"), k,
                                   F.lit(".blogspot.com.es")))
            .when(m == 2, F.concat(F.lit("a.x"), k, F.lit(".site.bd")))
            .when(m == 3, F.concat(F.lit("shop"), k, F.lit(".www.ck")))
            .otherwise(F.concat(F.lit("d"), k, F.lit(".example.zz"))))
    hosts = d.select("doc_id", host.alias("host"))
    return (with_registrable_domain(hosts, load_psl(spark))
            .select("doc_id", "host", "registrable_domain"))


@q("idn_psl_registrable",
   # FULL-VALUE oracle for IDN host normalization ahead of PSL grouping
   # (operators/idn.py + psl.py idna=True): unicode and punycode
   # spellings of ONE host must collapse to ONE (punycode) registrable
   # domain; DuckDB mirrors the expected eTLD+1 with literal punycode
   # forms (the codec's output is pinned here as data, independently of
   # the Arrow-batched encoder).
   "SELECT doc_id, "
   "CASE doc_id % 5 "
   " WHEN 0 THEN 'shop' || CAST(doc_id % 7 AS VARCHAR) || "
   "   '.bücher.de' "
   " WHEN 1 THEN 'shop' || CAST(doc_id % 7 AS VARCHAR) || "
   "   '.xn--bcher-kva.de' "
   " WHEN 2 THEN 'blog' || CAST(doc_id % 7 AS VARCHAR) || "
   "   '.münchen.github.io' "
   " WHEN 3 THEN 'x' || CAST(doc_id % 7 AS VARCHAR) || "
   "   '.example.рф' "
   " ELSE 'www.plain' || CAST(doc_id % 7 AS VARCHAR) || '.com' "
   "END AS host, "
   "CASE doc_id % 5 "
   " WHEN 0 THEN 'xn--bcher-kva.de' "
   " WHEN 1 THEN 'xn--bcher-kva.de' "
   " WHEN 2 THEN 'xn--mnchen-3ya.github.io' "
   " WHEN 3 THEN 'example.xn--p1ai' "
   " ELSE 'plain' || CAST(doc_id % 7 AS VARCHAR) || '.com' "
   "END AS registrable_domain "
   "FROM documents WHERE doc_id < 500")
def idn_psl_registrable(spark, sf_dir):
    from thewhisperdb_spark.operators.psl import (
        load_psl, with_registrable_domain)

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 5
    host = (F.when(m == 0, F.concat(F.lit("shop"), k,
                                    F.lit(".bücher.de")))
            .when(m == 1, F.concat(F.lit("shop"), k,
                                   F.lit(".xn--bcher-kva.de")))
            .when(m == 2, F.concat(F.lit("blog"), k,
                                   F.lit(".münchen.github.io")))
            .when(m == 3, F.concat(F.lit("x"), k,
                                   F.lit(".example.рф")))
            .otherwise(F.concat(F.lit("www.plain"), k, F.lit(".com"))))
    hosts = d.select("doc_id", host.alias("host"))
    return (with_registrable_domain(hosts, load_psl(spark))
            .select("doc_id", "host", "registrable_domain"))


@q("tokenizer_fertility_by_lang",
   # FULL-VALUE oracle: chars-per-BPE-token by language — the fertility
   # dashboard a tokenizer/mixture decision reads (languages with high
   # fertility are under-served by the vocabulary). Exact integer sums
   # per lang; fertility is ONE IEEE division rounded to 6 (portable).
   "SELECT lang, CAST(sum(length(text)) AS BIGINT) AS n_chars, "
   "CAST(sum(len(regexp_extract_all(text, "
   "'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'"
   "))) AS BIGINT) AS n_bpe_tokens, "
   "round(CAST(sum(length(text)) AS DOUBLE) / "
   "sum(len(regexp_extract_all(text, "
   "'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'"
   "))), 6) AS fertility "
   "FROM documents GROUP BY lang")
def tokenizer_fertility_by_lang(spark, sf_dir):
    d = _docs(spark, sf_dir)
    agg = d.groupBy("lang").agg(
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.sum(TX.bpe_token_count(F.col("text"))).cast("long")
        .alias("n_bpe_tokens"))
    return agg.select(
        "lang", "n_chars", "n_bpe_tokens",
        F.round(F.col("n_chars").cast("double") / F.col("n_bpe_tokens"),
                6).alias("fertility"))


@q("compression_quality_flags",
   # contract oracle for the deflate-ratio quality signal
   # (operators/dq.py:compression_ratio): the bitstream isn't
   # SQL-portable, but the DISCRIMINATION contract is — per doc, three
   # constructed same-length variants (natural text / 'ab'-repetition /
   # md5-hex chain): repetition must compress below BOTH others for
   # every doc, and natural prose must beat the hex chain ON AVERAGE
   # (short strings make the per-doc nat-vs-hex margin noisy — measured
   # 34/300 inversions — so that comparison is an aggregate, not a
   # row-wise, guarantee). Exact raw byte lengths anchor the rows.
   "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_raw, "
   "TRUE AS rep_lt_nat, TRUE AS rep_lt_rnd, TRUE AS mean_nat_lt_rnd, "
   "TRUE AS ratios_valid "
   "FROM documents WHERE doc_id < 300 AND length(text) >= 32")
def compression_quality_flags(spark, sf_dir):
    from thewhisperdb_spark.operators.dq import compression_ratio

    d = (_docs(spark, sf_dir)
         .filter((F.col("doc_id") < 300) & (F.length("text") >= 32))
         .select("doc_id", "text"))
    n = F.length("text")
    # same-length variants: repetition and a deterministic hex chain
    rep = F.repeat(F.lit("ab"), 4096).substr(F.lit(1), n)
    rnd = F.concat(*[
        F.md5(F.concat(F.col("text"), F.lit(str(i)))) for i in range(20)
    ]).substr(F.lit(1), n)
    variants = d.select(
        "doc_id",
        F.explode(F.array(
            F.struct(F.lit("nat").alias("kind"), F.col("text").alias("t")),
            F.struct(F.lit("rep").alias("kind"), rep.alias("t")),
            F.struct(F.lit("rnd").alias("kind"), rnd.alias("t")),
        )).alias("v")).select("doc_id", "v.kind",
                              F.col("v.t").alias("text"))
    scored = compression_ratio(variants)  # appends n_raw/n_deflate/ratio
    pivot = (scored.groupBy("doc_id")
             .agg(F.max(F.when(F.col("kind") == "nat",
                               F.col("n_raw"))).alias("n_raw"),
                  F.max(F.when(F.col("kind") == "nat",
                               F.col("deflate_ratio"))).alias("nat"),
                  F.max(F.when(F.col("kind") == "rep",
                               F.col("deflate_ratio"))).alias("rep"),
                  F.max(F.when(F.col("kind") == "rnd",
                               F.col("deflate_ratio"))).alias("rnd")))
    means = pivot.agg(
        (F.avg("nat") < F.avg("rnd")).alias("mean_nat_lt_rnd"))
    return pivot.join(F.broadcast(means)).select(
        "doc_id", F.col("n_raw").cast("long").alias("n_raw"),
        (F.col("rep") < F.col("nat")).alias("rep_lt_nat"),
        (F.col("rep") < F.col("rnd")).alias("rep_lt_rnd"),
        "mean_nat_lt_rnd",
        ((F.col("rep") > 0) & (F.col("rnd") <= 1.2)).alias("ratios_valid"))


@q("lm_quality_bits",
   # FULL-VALUE oracle for the CCNet-style character-LM quality filter
   # (operators/text.py:char_trigram_lm/lm_doc_bits): the trigram model
   # is trained on docs [300, 600) and scores docs < 100; the oracle
   # re-derives model and surprisal from first principles in DuckDB.
   # Float portability: per-trigram bits are rounded to 4 decimals
   # BEFORE the sum and accumulated in DECIMAL(18,6), so the total is
   # order-independent and libm-robust; sum_cnt/sum_tot are exact ints.
   "WITH train AS (SELECT text FROM documents WHERE doc_id >= 300 "
   "  AND doc_id < 600), "
   "ttri AS (SELECT unnest(list_transform(range(1, length(text) - 1), "
   "  i -> substr(text, CAST(i AS INTEGER), 3))) AS tri FROM train "
   "  WHERE length(text) >= 3), "
   "counts AS (SELECT substr(tri, 1, 2) AS ctx, substr(tri, 3, 1) AS ch, "
   "  count(*) AS cnt FROM ttri GROUP BY 1, 2), "
   "totals AS (SELECT ctx, sum(cnt) AS tot FROM counts GROUP BY 1), "
   "v AS (SELECT count(DISTINCT ch) AS v FROM counts), "
   "stri AS (SELECT doc_id, unnest(list_transform(range(1, "
   "  length(text) - 1), i -> substr(text, CAST(i AS INTEGER), 3))) "
   "  AS tri FROM documents WHERE doc_id < 100 AND length(text) >= 3), "
   "s2 AS (SELECT doc_id, substr(tri, 1, 2) AS ctx, "
   "  substr(tri, 3, 1) AS ch FROM stri), "
   "j AS (SELECT s2.doc_id, coalesce(c.cnt, 0) AS cnt, "
   "  coalesce(t.tot, 0) AS tot FROM s2 "
   "  LEFT JOIN counts c USING (ctx, ch) "
   "  LEFT JOIN totals t USING (ctx)) "
   "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams, "
   "CAST(sum(CAST(round(-log2((cnt + 1.0) / (tot + (SELECT v FROM v))), "
   "  4) AS DECIMAL(18,6))) AS DOUBLE) AS total_bits, "
   "CAST(sum(cnt) AS BIGINT) AS sum_cnt, "
   "CAST(sum(tot) AS BIGINT) AS sum_tot "
   "FROM j GROUP BY doc_id")
def lm_quality_bits(spark, sf_dir):
    from thewhisperdb_spark.operators.text import (
        char_trigram_lm, lm_doc_bits)

    docs = _docs(spark, sf_dir)
    train = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 600))
    counts, totals, v = char_trigram_lm(train)
    score = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    out = lm_doc_bits(score, counts, totals, v)
    return out.select("doc_id", "n_trigrams", "total_bits", "sum_cnt",
                      "sum_tot")


@q("quality_ensemble_keep",
   # FULL-VALUE oracle for the FineWeb-style quality ENSEMBLE (VERDICT
   # r10 #8, operators/dq.py:quality_keep_verdict): Gopher rule pass +
   # word-trigram repetition + char-LM surprisal composed into one
   # keep verdict with fail-reason attribution; DuckDB re-derives every
   # rule from first principles (the compression rule is excluded here
   # — DEFLATE has no SQL expression; it is pinned by the
   # compression_quality_flags contract and the pipeline stage test).
   # Thresholds are calibrated to SPLIT this corpus (min_words 30,
   # min_stopwords 1, rep<=0.02, bits/trigram<=1.22) so keep/drop and
   # every attribution string carry signal.
   "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300), "
   "w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
   "  t -> t <> '') AS ws FROM d), "
   "s AS (SELECT doc_id, len(ws) AS n, "
   "  CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) "
   "  AS chars, "
   "  len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha, "
   "  len(list_intersect(list_distinct(list_transform(ws, "
   "  w -> lower(w))), ['the','be','to','of','and','that','have',"
   "'with'])) AS stop FROM w), "
   "g AS (SELECT doc_id, CAST(n AS BIGINT) AS n_words, "
   "  (n BETWEEN 30 AND 100000 "
   "  AND CAST(chars AS DOUBLE) / greatest(n, 1) BETWEEN 3 AND 10 "
   "  AND CAST(alpha AS DOUBLE) / greatest(n, 1) >= 0.8 "
   "  AND stop >= 1) AS gopher_ok FROM s), "
   "r AS (SELECT doc_id, round(1.0 - "
   "  CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) "
   "  AS rep3 FROM (SELECT doc_id, list_transform(generate_series(1, "
   "  greatest(len(ws) - 2, 1)), i -> array_to_string(ws[i:i+2], ' ')) "
   "  AS grams FROM w)), "
   "train AS (SELECT text FROM documents WHERE doc_id >= 300 "
   "  AND doc_id < 600), "
   "ttri AS (SELECT unnest(list_transform(range(1, length(text) - 1), "
   "  i -> substr(text, CAST(i AS INTEGER), 3))) AS tri FROM train "
   "  WHERE length(text) >= 3), "
   "counts AS (SELECT substr(tri, 1, 2) AS ctx, substr(tri, 3, 1) AS ch, "
   "  count(*) AS cnt FROM ttri GROUP BY 1, 2), "
   "totals AS (SELECT ctx, sum(cnt) AS tot FROM counts GROUP BY 1), "
   "v AS (SELECT count(DISTINCT ch) AS v FROM counts), "
   "stri AS (SELECT doc_id, unnest(list_transform(range(1, "
   "  length(text) - 1), i -> substr(text, CAST(i AS INTEGER), 3))) "
   "  AS tri FROM d WHERE length(text) >= 3), "
   "s2 AS (SELECT doc_id, substr(tri, 1, 2) AS ctx, "
   "  substr(tri, 3, 1) AS ch FROM stri), "
   "j AS (SELECT s2.doc_id, coalesce(c.cnt, 0) AS cnt, "
   "  coalesce(t.tot, 0) AS tot FROM s2 "
   "  LEFT JOIN counts c USING (ctx, ch) "
   "  LEFT JOIN totals t USING (ctx)), "
   "lmb AS (SELECT doc_id, round(CAST(sum(CAST(round(-log2((cnt + 1.0) "
   "  / (tot + (SELECT v FROM v))), 4) AS DECIMAL(18,6))) AS DOUBLE) "
   "  / count(*), 6) AS bpt FROM j GROUP BY doc_id) "
   "SELECT d.doc_id, g.n_words, r.rep3 AS repetition_3, "
   "lmb.bpt AS bits_per_trigram, g.gopher_ok, "
   "(r.rep3 <= 0.02) AS repetition_ok, "
   "coalesce(lmb.bpt <= 1.22, FALSE) AS lm_ok, "
   "(g.gopher_ok AND r.rep3 <= 0.02 "
   " AND coalesce(lmb.bpt <= 1.22, FALSE)) AS keep, "
   "ltrim(CASE WHEN NOT g.gopher_ok THEN ',gopher' ELSE '' END || "
   " CASE WHEN NOT (r.rep3 <= 0.02) THEN ',repetition' ELSE '' END || "
   " CASE WHEN NOT coalesce(lmb.bpt <= 1.22, FALSE) THEN ',lm' "
   " ELSE '' END, ',') AS fail_reasons "
   "FROM d JOIN g USING (doc_id) JOIN r USING (doc_id) "
   "LEFT JOIN lmb USING (doc_id)")
def quality_ensemble_keep(spark, sf_dir):
    from thewhisperdb_spark.operators.dq import quality_keep_verdict
    from thewhisperdb_spark.operators.text import char_trigram_lm

    docs = _docs(spark, sf_dir)
    train = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 600))
    model = char_trigram_lm(train)
    v = quality_keep_verdict(
        docs.filter(F.col("doc_id") < 300).select("doc_id", "text"),
        lm_model=model, min_words=30, min_stopwords=1,
        max_repetition=0.02, max_bits_per_trigram=1.22,
        include_compression=False)
    return v.select(
        "doc_id", "n_words", "repetition_3", "bits_per_trigram",
        "gopher_ok", "repetition_ok", "lm_ok", "keep",
        F.array_join("fail_reasons", ",").alias("fail_reasons"))


_SWEEP_GRID = {
    "gopher_min_words": [20.0, 30.0, 45.0],
    "repetition_max": [0.01, 0.02, 0.05],
    "lm_max_bits": [1.18, 1.22, 1.3],
}


@q("quality_threshold_sweep",
   # FULL-VALUE oracle for the threshold-calibration sweep (VERDICT
   # r11 #3, operators/dq.py:quality_threshold_sweep): DuckDB
   # re-derives the same per-doc rule stats as quality_ensemble_keep
   # (gopher sub-rules, trigram repetition, char-LM surprisal — same
   # slices, same thresholds), cross-joins the grid literals, and
   # re-aggregates keep / fail / sole-blocker counts per
   # (rule, threshold) — both engines sweep one rule while holding the
   # other two at their default verdicts.
   "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300), "
   "w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
   "  t -> t <> '') AS ws FROM d), "
   "s AS (SELECT doc_id, len(ws) AS n, "
   "  CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) "
   "  AS chars, "
   "  len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha, "
   "  len(list_intersect(list_distinct(list_transform(ws, "
   "  w -> lower(w))), ['the','be','to','of','and','that','have',"
   "'with'])) AS stop FROM w), "
   "g AS (SELECT doc_id, CAST(n AS BIGINT) AS n_words, "
   "  (n <= 100000 "
   "  AND CAST(chars AS DOUBLE) / greatest(n, 1) BETWEEN 3 AND 10 "
   "  AND CAST(alpha AS DOUBLE) / greatest(n, 1) >= 0.8 "
   "  AND stop >= 1) AS rest_ok FROM s), "
   "r AS (SELECT doc_id, round(1.0 - "
   "  CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) "
   "  AS rep3 FROM (SELECT doc_id, list_transform(generate_series(1, "
   "  greatest(len(ws) - 2, 1)), i -> array_to_string(ws[i:i+2], ' ')) "
   "  AS grams FROM w)), "
   "train AS (SELECT text FROM documents WHERE doc_id >= 300 "
   "  AND doc_id < 600), "
   "ttri AS (SELECT unnest(list_transform(range(1, length(text) - 1), "
   "  i -> substr(text, CAST(i AS INTEGER), 3))) AS tri FROM train "
   "  WHERE length(text) >= 3), "
   "counts AS (SELECT substr(tri, 1, 2) AS ctx, substr(tri, 3, 1) AS ch, "
   "  count(*) AS cnt FROM ttri GROUP BY 1, 2), "
   "totals AS (SELECT ctx, sum(cnt) AS tot FROM counts GROUP BY 1), "
   "v AS (SELECT count(DISTINCT ch) AS v FROM counts), "
   "stri AS (SELECT doc_id, unnest(list_transform(range(1, "
   "  length(text) - 1), i -> substr(text, CAST(i AS INTEGER), 3))) "
   "  AS tri FROM d WHERE length(text) >= 3), "
   "s2 AS (SELECT doc_id, substr(tri, 1, 2) AS ctx, "
   "  substr(tri, 3, 1) AS ch FROM stri), "
   "j AS (SELECT s2.doc_id, coalesce(c.cnt, 0) AS cnt, "
   "  coalesce(t.tot, 0) AS tot FROM s2 "
   "  LEFT JOIN counts c USING (ctx, ch) "
   "  LEFT JOIN totals t USING (ctx)), "
   "lmb AS (SELECT doc_id, round(CAST(sum(CAST(round(-log2((cnt + 1.0) "
   "  / (tot + (SELECT v FROM v))), 4) AS DECIMAL(18,6))) AS DOUBLE) "
   "  / count(*), 6) AS bpt FROM j GROUP BY doc_id), "
   "base AS (SELECT d.doc_id, g.n_words, g.rest_ok, r.rep3, lmb.bpt, "
   "  (g.rest_ok AND g.n_words >= 30) AS gopher_ok, "
   "  (r.rep3 <= 0.02) AS repetition_ok, "
   "  coalesce(lmb.bpt <= 1.22, FALSE) AS lm_ok "
   "  FROM d JOIN g USING (doc_id) JOIN r USING (doc_id) "
   "  LEFT JOIN lmb USING (doc_id)), "
   "grid(rule, thr) AS (VALUES "
   "  ('gopher_min_words', 20.0), ('gopher_min_words', 30.0), "
   "  ('gopher_min_words', 45.0), "
   "  ('repetition_max', 0.01), ('repetition_max', 0.02), "
   "  ('repetition_max', 0.05), "
   "  ('lm_max_bits', 1.18), ('lm_max_bits', 1.22), "
   "  ('lm_max_bits', 1.3)), "
   "x AS (SELECT grid.rule, grid.thr, "
   "  CASE grid.rule "
   "  WHEN 'gopher_min_words' THEN (b.n_words >= grid.thr AND b.rest_ok) "
   "  WHEN 'repetition_max' THEN b.rep3 <= grid.thr "
   "  ELSE coalesce(b.bpt <= grid.thr, FALSE) END AS ok_t, "
   "  CASE grid.rule "
   "  WHEN 'gopher_min_words' THEN (b.repetition_ok AND b.lm_ok) "
   "  WHEN 'repetition_max' THEN (b.gopher_ok AND b.lm_ok) "
   "  ELSE (b.gopher_ok AND b.repetition_ok) END AS others_ok "
   "  FROM base b CROSS JOIN grid) "
   "SELECT rule, thr AS threshold, "
   "CAST(count(*) AS BIGINT) AS n_docs, "
   "CAST(sum(CASE WHEN NOT ok_t THEN 1 ELSE 0 END) AS BIGINT) "
   "  AS n_failed, "
   "round(CAST(sum(CASE WHEN NOT ok_t THEN 1 ELSE 0 END) AS DOUBLE) "
   "  / greatest(count(*), 1), 6) AS fail_rate, "
   "CAST(sum(CASE WHEN ok_t AND others_ok THEN 1 ELSE 0 END) AS BIGINT) "
   "  AS n_kept, "
   "round(CAST(sum(CASE WHEN ok_t AND others_ok THEN 1 ELSE 0 END) "
   "  AS DOUBLE) / greatest(count(*), 1), 6) AS keep_rate, "
   "CAST(sum(CASE WHEN NOT ok_t AND others_ok THEN 1 ELSE 0 END) "
   "  AS BIGINT) AS n_sole_blocker, "
   "round(CAST(sum(CASE WHEN NOT ok_t AND others_ok THEN 1 ELSE 0 END) "
   "  AS DOUBLE) / greatest(count(*), 1), 6) AS sole_blocker_rate "
   "FROM x GROUP BY 1, 2")
def quality_threshold_sweep_key(spark, sf_dir):
    from thewhisperdb_spark.operators.dq import (
        quality_keep_verdict, quality_threshold_sweep)
    from thewhisperdb_spark.operators.text import char_trigram_lm

    docs = _docs(spark, sf_dir)
    train = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 600))
    model = char_trigram_lm(train)
    v = quality_keep_verdict(
        docs.filter(F.col("doc_id") < 300).select("doc_id", "text"),
        lm_model=model, min_words=30, min_stopwords=1,
        max_repetition=0.02, max_bits_per_trigram=1.22,
        include_compression=False)
    return quality_threshold_sweep(v, _SWEEP_GRID, min_stopwords=1)


@q("pii_scrub_roundtrip",
   # FULL-VALUE oracle for PII scrubbing (operators/pii.py): texts are
   # CONSTRUCTED per doc with known PII placements — email, intl phone,
   # IPv4, a Luhn-VALID card (3 rotating test numbers), and a
   # Luhn-broken card that must survive — so DuckDB mirrors the
   # expected redacted string and counts by construction, independent
   # of the regex engine. The scrubber must reproduce them exactly.
   "SELECT doc_id, "
   "CASE doc_id % 5 "
   " WHEN 0 THEN 'reach [EMAIL] today' "
   " WHEN 1 THEN 'call [PHONE] now' "
   " WHEN 2 THEN 'server [IP] up' "
   " WHEN 3 THEN 'card [CARD] on file' "
   " ELSE 'invalid card 4242424242424243 id ' "
   "      || CAST(doc_id AS VARCHAR) END AS text_scrubbed, "
   "CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INTEGER) "
   "  AS n_emails, "
   "CAST(CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END AS INTEGER) "
   "  AS n_cards, "
   "CAST(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END AS INTEGER) "
   "  AS n_phones, "
   "CAST(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS INTEGER) "
   "  AS n_ips "
   "FROM documents WHERE doc_id < 500")
def pii_scrub_roundtrip(spark, sf_dir):
    from thewhisperdb_spark.operators.pii import pii_counts, scrub_pii

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500) \
        .select("doc_id")
    m = F.col("doc_id") % 5
    did = F.col("doc_id").cast("string")
    cards = F.array(F.lit("4242424242424242"),
                    F.lit("5105105105105100"),
                    F.lit("378282246310005"))
    text = (F.when(m == 0, F.concat(F.lit("reach user"), did,
                                    F.lit("@example.com today")))
            .when(m == 1, F.concat(
                F.lit("call +1-202-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" now")))
            .when(m == 2, F.concat(F.lit("server 10.1.2."),
                                   (F.col("doc_id") % 250).cast("string"),
                                   F.lit(" up")))
            .when(m == 3, F.concat(
                F.lit("card "),
                F.element_at(cards, (F.col("doc_id") % 3 + 1).cast("int")),
                F.lit(" on file")))
            .otherwise(F.concat(F.lit("invalid card 4242424242424243 id "),
                                did)))
    rows = d.select("doc_id", text.alias("text"))
    out = pii_counts(scrub_pii(rows))
    return out.select("doc_id", "text_scrubbed", "n_emails", "n_cards",
                      "n_phones", "n_ips")


@q("charset_sniff_decode",
   # FULL-VALUE oracle for the decode cascade (operators/encoding.py):
   # payloads are built with the JVM's own encoders — plain UTF-8 (no
   # declaration -> 'default'), UTF-16 (Java emits a BE BOM -> 'bom'),
   # and UTF-8 with a transport charset parameter -> 'header' — so
   # DuckDB can mirror the expected verdict columns exactly; the
   # roundtrip boolean certifies the decoded text equals the source.
   "SELECT doc_id, "
   "CASE doc_id % 3 WHEN 1 THEN 'utf-16-be' ELSE 'utf-8' END "
   "  AS encoding, "
   "CASE doc_id % 3 WHEN 0 THEN 'default' WHEN 1 THEN 'bom' "
   "  ELSE 'header' END AS encoding_source, "
   "FALSE AS encoding_fallback, TRUE AS roundtrip_ok "
   "FROM documents WHERE doc_id < 500")
def charset_sniff_decode(spark, sf_dir):
    from thewhisperdb_spark.operators.encoding import decode_payload_text

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500) \
        .select("doc_id", F.col("text").alias("src"))
    m = F.col("doc_id") % 3
    payload = (F.when(m == 1, F.encode(F.col("src"), "UTF-16"))
               .otherwise(F.encode(F.col("src"), "UTF-8")))
    ct = F.when(m == 2, F.lit("text/html; charset=utf-8")) \
        .otherwise(F.lit(None).cast("string"))
    rows = d.select("doc_id", "src", payload.alias("payload"),
                    ct.alias("content_type"))
    out = decode_payload_text(rows)
    return out.select(
        "doc_id", "encoding", "encoding_source", "encoding_fallback",
        (F.col("text") == F.col("src")).alias("roundtrip_ok"))


@q("robots_allow_filter",
   # FULL-VALUE oracle for the RFC 9309 admission verdict
   # (operators/robots.py): 7 hosts carry JVM-built robots bodies
   # (disallow /private, longer allow /private/ok, a /*.zip$ wildcard
   # rule on even hosts), URLs are minted per doc across 4 path
   # classes, and DuckDB mirrors the expected longest-match decision
   # with plain CASE arithmetic — parser, rule explosion, and the
   # struct-max decision all under a value-exact gate.
   "SELECT doc_id, "
   "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.crawl.com' || "
   "CASE doc_id % 5 WHEN 0 THEN '/public/' || CAST(doc_id AS VARCHAR) "
   " WHEN 1 THEN '/private/' || CAST(doc_id AS VARCHAR) "
   " WHEN 2 THEN '/private/ok/' || CAST(doc_id AS VARCHAR) "
   " WHEN 3 THEN '/files/' || CAST(doc_id AS VARCHAR) || '.zip' "
   " ELSE '/search?q=' || CAST(doc_id AS VARCHAR) END AS url, "
   "CASE doc_id % 5 WHEN 0 THEN TRUE WHEN 1 THEN FALSE "
   " WHEN 2 THEN TRUE WHEN 3 THEN (doc_id % 7) % 2 = 1 "
   " ELSE FALSE END AS robots_allowed "
   "FROM documents WHERE doc_id < 500")
def robots_allow_filter(spark, sf_dir):
    from thewhisperdb_spark.operators.robots import (
        extract_robots_rules, robots_allowed)

    hosts = spark.range(7).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".crawl.com")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private\n"
                  "Allow: /private/ok\n"
                  # query-targeted rule: RFC 9309 matches path AND
                  # query, so '/search?q=…' URLs must be refused
                  # (ADVICE r10 regression pin)
                  "Disallow: /search?q=\n"),
            F.when(F.col("id") % 2 == 0, F.lit("Disallow: /*.zip$\n"))
            .otherwise(F.lit(""))).alias("robots_txt"))
    rules = extract_robots_rules(hosts)
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    m = F.col("doc_id") % 5
    did = F.col("doc_id").cast("string")
    path = (F.when(m == 0, F.concat(F.lit("/public/"), did))
            .when(m == 1, F.concat(F.lit("/private/"), did))
            .when(m == 2, F.concat(F.lit("/private/ok/"), did))
            .when(m == 3, F.concat(F.lit("/files/"), did, F.lit(".zip")))
            .otherwise(F.concat(F.lit("/search?q="), did)))
    urls = d.select("doc_id", F.concat(
        F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".crawl.com"), path).alias("url"))
    return (robots_allowed(urls, rules)
            .select("doc_id", "url", "robots_allowed"))


# RETIRED KEY (governance r12): `url_canonicalize` is a stage of
# `crawl_curation_pipeline`'s frontier handling; canonicalize_url is
# pinned by tests/test_urls.py::test_canonicalize_url.


@q("frontier_politeness_schedule",
   # FULL-VALUE oracle: politeness scheduling is row_number + rank*delay
   # arithmetic — DuckDB re-derives ranks (priority DESC, url tie-break),
   # per-host fetch offsets and the host drain time from the same
   # deterministic URL/priority/delay construction (7 hosts x ~71 urls,
   # three delay classes).
   "WITH u AS (SELECT doc_id, "
   "'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host, "
   "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' || "
   "CAST(doc_id AS VARCHAR) AS url, "
   "CAST(doc_id % 10 AS INTEGER) AS priority, "
   "CAST(CASE doc_id % 7 WHEN 0 THEN 2.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.5 "
   "ELSE 1.0 END AS DOUBLE) AS delay "
   "FROM documents WHERE doc_id < 500), "
   "r AS (SELECT *, row_number() OVER (PARTITION BY host "
   "ORDER BY priority DESC, url) AS rank_in_host FROM u), "
   "o AS (SELECT doc_id, url, host, rank_in_host, "
   "round((rank_in_host - 1) * delay, 4) AS fetch_offset_s FROM r) "
   "SELECT doc_id, url, host, rank_in_host, fetch_offset_s, "
   "round(max(fetch_offset_s) OVER (PARTITION BY host), 4) AS host_drain_s "
   "FROM o")
def frontier_politeness_schedule(spark, sf_dir):
    # the step between robots admission and fetch dispatch
    # (operators/urls.py:frontier_schedule): per-host rank (priority
    # first), fetch offsets under three per-host crawl-delay classes, and
    # the host drain time that sizes per-batch host caps. One host-keyed
    # shuffle; the per-host window IS the politeness semantic.
    from thewhisperdb_spark.operators.urls import frontier_schedule

    k = (F.col("doc_id") % 7).cast("string")
    host = F.concat(F.lit("h"), k, F.lit(".example.com"))
    d = (_docs(spark, sf_dir).filter(F.col("doc_id") < 500)
         .select(
             "doc_id",
             F.concat(F.lit("https://"), host, F.lit("/p/"),
                      F.col("doc_id").cast("string")).alias("url"),
             (F.col("doc_id") % 10).cast("int").alias("priority"),
             F.when(F.col("doc_id") % 7 == 0, 2.0)
             .when((F.col("doc_id") % 7).isin(1, 2), 0.5)
             .otherwise(1.0).cast("double").alias("delay")))
    return (frontier_schedule(d, delay_col="delay", priority_col="priority")
            .select("doc_id", "url", "host",
                    F.col("rank_in_host").cast("long").alias("rank_in_host"),
                    "fetch_offset_s", "host_drain_s"))


@q("crawl_curation_stream_twin",
   # contract oracle for the STREAMING crawl-curation loop
   # (streaming/jobs.py:crawl_curation_batch — the foreachBatch body,
   # driven directly like the daily-crawl loop keys): two synthesized
   # archive batches flow through decode -> extract -> blocklist ->
   # robots into the batch-partitioned survivor store, then batch 2 is
   # REPLAYED — the store must be byte-stable (dynamic-overwrite
   # idempotency). Survivor counts per batch are pure construction
   # arithmetic: docs with a body (doc_id % 17 != 0), not on the
   # blocked domain (source src3 x com class), and not under the
   # robots-disallowed /private path (doc_id % 11 == 0).
   "WITH d AS (SELECT doc_id, source, "
   "  CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' "
   "  ELSE 'org' END AS cls FROM documents WHERE doc_id < 240), "
   "surv AS (SELECT * FROM d WHERE doc_id % 17 <> 0 "
   "  AND NOT (source = 'src3' AND cls = 'com') AND doc_id % 11 <> 0) "
   "SELECT CAST(2 AS BIGINT) AS n_batches, "
   "CAST((SELECT count(*) FROM surv WHERE doc_id < 120) AS BIGINT) "
   "  AS n_b1, "
   "CAST((SELECT count(*) FROM surv WHERE doc_id >= 120) AS BIGINT) "
   "  AS n_b2, "
   "TRUE AS replay_stable")
def crawl_curation_stream_twin(spark, sf_dir):
    build, op = _crawl_stream_phases(spark, sf_dir)
    build()
    return op()


def _crawl_stream_phases(spark, sf_dir):
    # build/op split (bench MAINTENANCE): build = the two initial batch
    # ingests (store writes); op = the replay + stability verdict.
    import tempfile

    import pandas as pd

    from thewhisperdb_spark.operators.robots import extract_robots_rules
    from thewhisperdb_spark.sources import warc as W
    from thewhisperdb_spark.streaming.jobs import crawl_curation_batch

    docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 240)
            .select("doc_id", "text", "source"))
    cls = (F.when(F.col("doc_id") % 3 == 0, "com")
           .when(F.col("doc_id") % 3 == 1, "co.uk").otherwise("org"))
    host = F.concat(F.lit("sub"), (F.col("doc_id") % 5).cast("string"),
                    F.lit("."), F.col("source"), F.lit("."), cls)
    path = F.when(F.col("doc_id") % 11 == 0,
                  F.concat(F.lit("/private/"),
                           F.col("doc_id").cast("string"))) \
        .otherwise(F.concat(F.lit("/p/"), F.col("doc_id").cast("string")))
    url = F.concat(F.lit("https://"), host, path)
    body = F.when(F.col("doc_id") % 17 == 0, F.lit("")) \
        .otherwise(F.col("text"))
    html = F.concat(F.lit("<html><body><p>"), body,
                    F.lit("</p></body></html>"))
    pages = docs.select("doc_id", url.alias("url"), html.alias("html"),
                        (F.col("doc_id") % 12).alias("archive"))

    def pack(key, pdf):
        pdf = pdf.sort_values("doc_id")
        recs = [W.build_warc_record(
            "response", W.build_http_response(r["html"].encode("utf-8")),
            target_uri=r["url"]) for _, r in pdf.iterrows()]
        return pd.DataFrame({"path": [f"mem://arc{key[0]}"],
                             "content": [W.build_warc(recs)]})

    def archives(lo, hi):
        return (pages.filter((F.col("doc_id") >= lo)
                             & (F.col("doc_id") < hi))
                .groupBy("archive")
                .applyInPandas(pack, "path string, content binary"))

    blocklist = spark.createDataFrame([("src3.com",)], "domain string")
    robots = extract_robots_rules(
        docs.select(host.alias("host")).distinct()
        .withColumn("robots_txt",
                    F.lit("User-agent: *\nDisallow: /private\n")))
    out_dir = tempfile.mkdtemp(prefix="whisper_crawl_stream_")

    def build():
        crawl_curation_batch(archives(0, 120), 1, out_dir,
                             blocklist=blocklist, robots_rules=robots)
        crawl_curation_batch(archives(120, 240), 2, out_dir,
                             blocklist=blocklist, robots_rules=robots)

    def op():
        first = (spark.read.parquet(out_dir)
                 .groupBy("ingest_batch")
                 .agg(F.count(F.lit(1)).alias("n"))
                 .localCheckpoint(eager=True))
        # replay batch 2: the dynamic-overwrite sink must be a no-op
        crawl_curation_batch(archives(120, 240), 2, out_dir,
                             blocklist=blocklist, robots_rules=robots)
        second = (spark.read.parquet(out_dir)
                  .groupBy("ingest_batch")
                  .agg(F.count(F.lit(1)).alias("n2")))
        j = first.join(second, "ingest_batch", "full")
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.max(F.when(F.col("ingest_batch") == 1, F.col("n")))
            .cast("long").alias("n_b1"),
            F.max(F.when(F.col("ingest_batch") == 2, F.col("n")))
            .cast("long").alias("n_b2"),
            F.coalesce(F.bool_and(F.col("n") == F.col("n2")),
                       F.lit(False)).alias("replay_stable"))

    return build, op


@q("video_frame_dedup_contract",
   # contract oracle (the VIDEO twin of image_dhash_dedup_contract,
   # VERDICT r9 #6): per-doc MJPEG AVIs are synthesized executor-side
   # (sources/jpegenc.py encoder + container writer), frame-hashed with
   # the REAL RIFF-walk + JPEG decode path
   # (imagededup.video_frame_dhash), and cross-deduped through the
   # persisted banded hash index. Historical corpus = doc_id < 200
   # (2 frames each), arriving batch = [200, 300); every batch doc with
   # doc_id % 5 == 0 is rendered from its (doc_id - 200) twin's text, so
   # BOTH its frames must hit the twin's frames at hamming 0; every hit
   # must pair an index id (< 200) with a batch id (>= 200).
   "SELECT CAST(2 * sum(CASE WHEN doc_id < 200 THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_index_frames, "
   "CAST(2 * sum(CASE WHEN doc_id >= 200 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_batch_frames, "
   "CAST(sum(CASE WHEN doc_id >= 200 AND doc_id % 5 = 0 THEN 1 ELSE 0 "
   "END) AS BIGINT) AS n_seeded, "
   "TRUE AS seeded_hits_exact, TRUE AS hit_ids_valid "
   "FROM documents WHERE doc_id < 300")
def video_frame_dedup_contract(spark, sf_dir):
    build, op = _video_frame_dedup_phases(spark, sf_dir)
    build()
    return op()


def _video_frame_dedup_phases(spark, sf_dir):
    # build/op split per VERDICT r9 #2 (see _lsh_index_delete_phases):
    # build = synthesize + frame-hash the historical AVIs and materialize
    # the banded index; op = hash the arriving batch, probe, validate.
    import tempfile

    import pandas as pd

    from thewhisperdb_spark.operators.hashindex import (
        dhash_index_build, dhash_index_probe)
    from thewhisperdb_spark.operators.imagededup import video_frame_dhash

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300) \
        .select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 200)
    seeded_src = (docs.filter((F.col("doc_id") >= 200)
                              & (F.col("doc_id") % 5 == 0))
                  .select((F.col("doc_id") - 200).alias("src_id"),
                          F.col("doc_id").alias("bid")))
    seeded = (seeded_src.join(
        hist.select(F.col("doc_id").alias("src_id"), "text"), "src_id")
        .select(F.col("bid").alias("doc_id"), "text"))
    fresh = docs.filter((F.col("doc_id") >= 200)
                        & (F.col("doc_id") % 5 != 0))
    batch = seeded.unionByName(fresh)

    def synth(batches):
        # two JPEG frames per doc (text raster + salted twin) wrapped in
        # a real AVI container — encode + decode both run executor-side
        import numpy as np

        from thewhisperdb_spark.sources.jpegenc import (
            encode_gray_baseline, encode_mjpeg_avi)
        from thewhisperdb_spark.sources.multimodal import (
            deterministic_fake_decoder)

        for pdf in batches:
            paths, contents = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                frames = [encode_gray_baseline(np.array(
                    deterministic_fake_decoder(
                        (str(text) + salt).encode("utf-8")),
                    dtype=np.float64) * 255.0)
                    for salt in ("", "#f1")]
                paths.append(f"{did:09d}")
                contents.append(encode_mjpeg_avi(frames, width=8, height=8))
            yield pd.DataFrame({"path": paths, "content": contents,
                                "modality": ["video"] * len(paths)})

    syn_schema = "path string, content binary, modality string"

    def hashes(d):
        h = video_frame_dhash(d.mapInPandas(synth, syn_schema))
        return h.select(
            F.concat_ws("#", "path", "frame_idx").alias("path"), "dhash",
            "status")

    path = tempfile.mkdtemp(prefix="whisper_video_idx_")

    def build():
        dhash_index_build(hashes(hist), path, max_hamming=2)

    def op():
        hits = dhash_index_probe(spark, path, hashes(batch)) \
            .localCheckpoint(eager=True)
        # per-frame expectation via explode (no cartesian, even a 2-row one)
        expected = seeded_src.select(
            "src_id", "bid",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("fr")).select(
            F.concat_ws("#", F.format_string("%09d", "src_id"), "fr")
            .alias("index_id"),
            F.concat_ws("#", F.format_string("%09d", "bid"), "fr")
            .alias("batch_id"))
        missing = expected.join(
            hits.filter(F.col("hamming") == 0), ["index_id", "batch_id"],
            "left_anti")
        idx_doc = F.split(F.col("index_id"), "#").getItem(0).cast("long")
        bat_doc = F.split(F.col("batch_id"), "#").getItem(0).cast("long")
        stray = hits.filter((idx_doc >= 200) | (bat_doc < 200))
        stats = docs.groupBy().agg(
            (2 * F.sum(F.when(F.col("doc_id") < 200, 1).otherwise(0)))
            .cast("long").alias("n_index_frames"),
            (2 * F.sum(F.when(F.col("doc_id") >= 200, 1).otherwise(0)))
            .cast("long").alias("n_batch_frames"),
            F.sum(F.when((F.col("doc_id") >= 200)
                         & (F.col("doc_id") % 5 == 0),
                         1).otherwise(0)).cast("long").alias("n_seeded"))
        exact = missing.groupBy().agg(
            (F.count(F.lit(1)) == 0).alias("seeded_hits_exact"))
        valid = stray.groupBy().agg(
            (F.count(F.lit(1)) == 0).alias("hit_ids_valid"))
        return stats.join(F.broadcast(exact)).join(F.broadcast(valid))

    return build, op


@q("video_clip_dedup_contract",
   # contract oracle for CLIP-level (temporal) video dedup (VERDICT r10
   # #4, operators/imagededup.video_clip_near_dup_pairs): 160 distinct
   # 6-frame MJPEG AVIs are synthesized from block rasters of document
   # text; every doc_id % 4 == 0 video also ships a RE-ENCODED copy
   # (decode -> encode at qscale 2 — real generation loss, frame
   # hashes drift a few bits). Copies must pair with their source at
   # clip level (packed-window hamming match), distinct clips must not
   # pair at all, and CC survivors = originals.
   "SELECT CAST(count(*) + sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 "
   "END) AS BIGINT) AS n_videos, "
   "CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_copies, "
   "TRUE AS copies_all_paired, TRUE AS pairs_clean, "
   "CAST(count(*) AS BIGINT) AS n_survivors "
   "FROM documents WHERE doc_id < 160")
def video_clip_dedup_contract(spark, sf_dir):
    build, op = _video_clip_dedup_phases(spark, sf_dir)
    build()
    return op()


def _video_clip_dedup_phases(spark, sf_dir):
    # build = synthesize the AVI corpus (originals + re-encoded copies)
    # and materialize frame hashes; op = the clip-level pair join + CC
    # survivors + verdict aggregates (the read path under measurement).
    import pandas as pd

    from thewhisperdb_spark.operators.dedup import near_dup_groups
    from thewhisperdb_spark.operators.imagededup import (
        video_clip_near_dup_pairs, video_frame_dhash)

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 160) \
        .select("doc_id", "text")

    def synth(batches):
        import numpy as np

        from thewhisperdb_spark.sources.jpegenc import (
            encode_gray_baseline, encode_mjpeg_avi, make_block_raster)
        from thewhisperdb_spark.sources.multimodal import _decode_jpeg

        for pdf in batches:
            paths, contents = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                frames = [encode_gray_baseline(
                    make_block_raster(f"{text}#{i}")) for i in range(6)]
                paths.append(f"orig{did:09d}")
                contents.append(
                    encode_mjpeg_avi(frames, width=36, height=32))
                if did % 4 == 0:
                    re2 = [encode_gray_baseline(
                        np.array(_decode_jpeg(f), dtype=np.float64)
                        * 255.0, qscale=2.0) for f in frames]
                    paths.append(f"copy{did:09d}")
                    contents.append(
                        encode_mjpeg_avi(re2, width=36, height=32))
            yield pd.DataFrame({
                "path": paths, "content": contents,
                "modality": ["video"] * len(paths)})

    syn_schema = "path string, content binary, modality string"
    state = {}

    def build():
        media = docs.mapInPandas(synth, syn_schema)
        state["hashes"] = video_frame_dhash(media) \
            .localCheckpoint(eager=True)

    def op():
        hashes = state["hashes"]
        pairs = video_clip_near_dup_pairs(
            hashes, k=3, bands=4, max_hamming=8, min_containment=0.35) \
            .localCheckpoint(eager=True)
        copies = docs.filter(F.col("doc_id") % 4 == 0).select(
            F.format_string("copy%09d", "doc_id").alias("a"),
            F.format_string("orig%09d", "doc_id").alias("b"))
        missing = copies.join(pairs, ["a", "b"], "left_anti")
        stray = pairs.join(copies, ["a", "b"], "left_anti")
        # survivors via the standard CC keep rule over surrogate ids
        vids = (hashes.select("path").distinct()
                .withColumn("_sid", F.xxhash64("path")))
        p_sid = (pairs
                 .join(vids.select(F.col("path").alias("a"),
                                   F.col("_sid").alias("_sa")), "a")
                 .join(vids.select(F.col("path").alias("b"),
                                   F.col("_sid").alias("_sb")), "b")
                 .select(F.col("_sa").alias("a"),
                         F.col("_sb").alias("b")))
        verdict = near_dup_groups(vids, p_sid, id_col="_sid")
        n_keep = verdict.filter(F.col("keep")) \
            .agg(F.count(F.lit(1)).cast("long").alias("n_survivors"))
        stats = docs.groupBy().agg(
            (F.count(F.lit(1))
             + F.sum(F.when(F.col("doc_id") % 4 == 0, 1).otherwise(0)))
            .cast("long").alias("n_videos"),
            F.sum(F.when(F.col("doc_id") % 4 == 0, 1).otherwise(0))
            .cast("long").alias("n_copies"))
        ok_paired = missing.groupBy().agg(
            (F.count(F.lit(1)) == 0).alias("copies_all_paired"))
        ok_clean = stray.groupBy().agg(
            (F.count(F.lit(1)) == 0).alias("pairs_clean"))
        return (stats.join(F.broadcast(ok_paired))
                .join(F.broadcast(ok_clean))
                .join(F.broadcast(n_keep))
                .select("n_videos", "n_copies", "copies_all_paired",
                        "pairs_clean", "n_survivors"))

    return build, op


@q("audio_clip_dedup_contract",
   # contract oracle for RECORDING-level (temporal) audio dedup
   # (operators/audiodedup.py:audio_segment_fingerprints +
   # audio_clip_near_dup_pairs — the audio twin of
   # video_clip_dedup_contract): 120 distinct 6-second WAVs are
   # synthesized from per-document 3-note chords (chord sequences are
   # hash-unique per doc, so cross-doc windows share nothing); every
   # doc_id % 4 == 0 recording also ships a TRIMMED (first 1.5 s cut)
   # gain-scaled copy. Copies must pair with their source at clip
   # level, distinct recordings must not pair, survivors = originals.
   "SELECT CAST(count(*) + sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 "
   "END) AS BIGINT) AS n_recordings, "
   "CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_copies, "
   "TRUE AS copies_all_paired, TRUE AS pairs_clean, "
   "CAST(count(*) AS BIGINT) AS n_survivors "
   "FROM documents WHERE doc_id < 120")
def audio_clip_dedup_contract(spark, sf_dir):
    build, op = _audio_clip_dedup_phases(spark, sf_dir)
    build()
    return op()


def _audio_clip_dedup_phases(spark, sf_dir):
    # build = synthesize WAVs (originals + trimmed gain-scaled copies)
    # and materialize segment fingerprints; op = clip pair join + CC
    # survivors + verdicts. Mirrors _video_clip_dedup_phases.
    import pandas as pd

    from thewhisperdb_spark.operators.audiodedup import (
        audio_clip_near_dup_pairs, audio_segment_fingerprints)
    from thewhisperdb_spark.operators.dedup import near_dup_groups

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 120) \
        .select("doc_id", "text")
    rate = 8000

    def synth(batches):
        import hashlib
        import struct

        import numpy as np

        def wav(arr):
            pcm = np.clip(arr * 32767.0, -32768, 32767) \
                .astype("<i2").tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                      + b"data" + struct.pack("<I", len(pcm)) + pcm)
            return (b"RIFF" + struct.pack("<I", 4 + len(chunks))
                    + b"WAVE" + chunks)

        for pdf in batches:
            paths, contents = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                blocks = []
                for i in range(6):
                    # broadband seeded-noise second blocks: every
                    # spectral band carries doc-unique energy, so the
                    # 9-band gradient fingerprint is discriminative
                    # (pure chords left most bands near zero and the
                    # sign patterns collided across docs)
                    seed = int.from_bytes(hashlib.sha256(
                        f"{text}#{i}".encode("utf-8")).digest()[:8],
                        "big")
                    rng = np.random.default_rng(seed)
                    blocks.append(rng.standard_normal(rate) * 0.3)
                sig = np.concatenate(blocks)
                paths.append(f"orig{did:09d}")
                contents.append(wav(sig))
                if did % 4 == 0:
                    paths.append(f"copy{did:09d}")
                    contents.append(wav(0.4 * sig[int(1.5 * rate):]))
            yield pd.DataFrame({
                "path": paths, "content": contents,
                "modality": ["audio"] * len(paths)})

    syn_schema = "path string, content binary, modality string"
    state = {}

    def build():
        media = docs.mapInPandas(synth, syn_schema)
        state["segs"] = audio_segment_fingerprints(media) \
            .localCheckpoint(eager=True)

    def op():
        segs = state["segs"]
        pairs = audio_clip_near_dup_pairs(segs) \
            .localCheckpoint(eager=True)
        copies = docs.filter(F.col("doc_id") % 4 == 0).select(
            F.format_string("copy%09d", "doc_id").alias("a"),
            F.format_string("orig%09d", "doc_id").alias("b"))
        missing = copies.join(pairs, ["a", "b"], "left_anti")
        stray = pairs.join(copies, ["a", "b"], "left_anti")
        recs = (segs.select("path").distinct()
                .withColumn("_sid", F.xxhash64("path")))
        p_sid = (pairs
                 .join(recs.select(F.col("path").alias("a"),
                                   F.col("_sid").alias("_sa")), "a")
                 .join(recs.select(F.col("path").alias("b"),
                                   F.col("_sid").alias("_sb")), "b")
                 .select(F.col("_sa").alias("a"),
                         F.col("_sb").alias("b")))
        verdict = near_dup_groups(recs, p_sid, id_col="_sid")
        n_keep = verdict.filter(F.col("keep")) \
            .agg(F.count(F.lit(1)).cast("long").alias("n_survivors"))
        stats = docs.groupBy().agg(
            (F.count(F.lit(1))
             + F.sum(F.when(F.col("doc_id") % 4 == 0, 1).otherwise(0)))
            .cast("long").alias("n_recordings"),
            F.sum(F.when(F.col("doc_id") % 4 == 0, 1).otherwise(0))
            .cast("long").alias("n_copies"))
        ok_paired = missing.groupBy().agg(
            (F.count(F.lit(1)) == 0).alias("copies_all_paired"))
        ok_clean = stray.groupBy().agg(
            (F.count(F.lit(1)) == 0).alias("pairs_clean"))
        return (stats.join(F.broadcast(ok_paired))
                .join(F.broadcast(ok_clean))
                .join(F.broadcast(n_keep))
                .select("n_recordings", "n_copies", "copies_all_paired",
                        "pairs_clean", "n_survivors"))

    return build, op


@q("crawl_curation_pipeline",
   # the r9 media/web pieces COMPOSED (VERDICT r9 #8): synthesized WARC
   # archives (gzip-member framing) -> record explosion -> HTML text
   # extraction -> URL/domain features -> label-suffix blocklist ->
   # per-domain quota cap, oracle-checked on per-stage survivor counts.
   # Every stage's count is independently derivable in DuckDB from the
   # construction arithmetic: 12 archives (doc_id % 12) each add one
   # warcinfo record; every doc is one text/html response; doc_id % 17
   # == 0 pages carry an empty body (extracted text "" -> dropped);
   # the blocklist entries are 'src3.com' (kills the source=src3 com
   # class by label-suffix) and the exact host 'sub1.src5.org'; the cap
   # keeps 6 per registrable domain (source x tld class).
   "WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 600), "
   "surv AS (SELECT doc_id, source, CASE doc_id % 3 WHEN 0 THEN 'com' "
   "  WHEN 1 THEN 'co.uk' ELSE 'org' END AS cls "
   "  FROM d WHERE doc_id % 17 <> 0), "
   "kept AS (SELECT * FROM surv WHERE NOT ((source = 'src3' AND "
   "  doc_id % 3 = 0) OR (source = 'src5' AND doc_id % 5 = 1 AND "
   "  doc_id % 3 = 2))), "
   "strata AS (SELECT source, cls, count(*) AS cnt FROM kept "
   "  GROUP BY 1, 2) "
   "SELECT CAST((SELECT count(*) FROM d) + (SELECT count(DISTINCT "
   "  doc_id % 12) FROM d) AS BIGINT) AS n_records, "
   "CAST((SELECT count(*) FROM d) AS BIGINT) AS n_responses, "
   "CAST((SELECT count(*) FROM surv) AS BIGINT) AS n_extracted, "
   "CAST((SELECT count(*) FROM kept) AS BIGINT) AS n_after_blocklist, "
   "CAST((SELECT count(*) FROM strata) AS BIGINT) AS n_domains, "
   "CAST((SELECT sum(least(6, cnt)) FROM strata) AS BIGINT) "
   "  AS n_after_cap")
def crawl_curation_pipeline(spark, sf_dir):
    import pandas as pd

    from thewhisperdb_spark.operators.htmltext import html_extract
    from thewhisperdb_spark.operators.sampling import per_stratum_cap
    from thewhisperdb_spark.operators.urls import (
        drop_blocklisted, url_features)
    from thewhisperdb_spark.sources import warc as W

    docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 600)
            .select("doc_id", "text", "source"))
    cls = (F.when(F.col("doc_id") % 3 == 0, "com")
           .when(F.col("doc_id") % 3 == 1, "co.uk").otherwise("org"))
    url = F.concat(F.lit("https://sub"),
                   (F.col("doc_id") % 5).cast("string"),
                   F.lit("."), F.col("source"), F.lit("."), cls,
                   F.lit("/p/"), F.col("doc_id").cast("string"))
    body = F.when(F.col("doc_id") % 17 == 0, F.lit("")) \
        .otherwise(F.col("text"))
    html = F.concat(F.lit("<html><head><title>Doc "), F.col("doc_id"),
                    F.lit("</title></head><body><p>"), body,
                    F.lit("</p></body></html>"))
    pages = docs.select("doc_id", url.alias("url"), html.alias("html"),
                        (F.col("doc_id") % 12).alias("archive"))

    def pack(key, pdf):
        pdf = pdf.sort_values("doc_id")
        recs = [W.build_warc_record(
            "warcinfo", b"crawler: synthetic\r\n",
            content_type="application/warc-fields")]
        for _, r in pdf.iterrows():
            recs.append(W.build_warc_record(
                "response",
                W.build_http_response(r["html"].encode("utf-8")),
                target_uri=r["url"]))
        return pd.DataFrame(
            {"path": [f"mem://arc{key[0]}"],
             "content": [W.build_warc(recs, gzip_per_record=True)]})

    archives = pages.groupBy("archive").applyInPandas(
        pack, "path string, content binary")
    # parse + extract ONCE (checkpoint), then every stage count is a
    # cheap agg over the materialized frame — six counts, one pipeline
    records = W.explode_warc(archives).localCheckpoint(eager=True)
    responses = records.filter(
        (F.col("status") == "ok") & (F.col("warc_type") == "response")
        & F.col("content_type").startswith("text/html"))
    ex = html_extract(
        responses.withColumn("html",
                             F.col("payload").cast("string")),
        html_col="html", id_col="target_uri")
    feats = url_features(
        ex.filter(F.length("text") > 0).withColumnRenamed("doc_id", "url"),
        url_col="url").localCheckpoint(eager=True)
    blocklist = spark.createDataFrame(
        [("src3.com",), ("sub1.src5.org",)], "domain string")
    kept = drop_blocklisted(feats, blocklist, url_col="url") \
        .localCheckpoint(eager=True)
    capped = per_stratum_cap(
        kept.withColumn("n_chars", F.length("text")),
        strata_col="registrable_domain", cap=6, order_col="n_chars",
        id_col="url")
    c = F.count(F.lit(1)).cast("long")
    out = (records.filter(F.col("status") == "ok").agg(
        c.alias("n_records"))
        .join(responses.agg(c.alias("n_responses")))
        .join(feats.agg(c.alias("n_extracted")))
        .join(kept.agg(c.alias("n_after_blocklist")))
        .join(kept.agg(F.countDistinct("registrable_domain")
                       .cast("long").alias("n_domains")))
        .join(capped.agg(c.alias("n_after_cap"))))
    return out


@q("dhash_index_incremental_dedup",
   # contract oracle (lsh_index_incremental_dedup's persisted-index twin
   # for the perceptual family): dHash bits aren't SQL-portable, but the
   # invariants are — the historical corpus (doc_id < 400, rendered to
   # deterministic rasters) is indexed ONCE (operators/hashindex.py:
   # banded layout + meta sentinel + claim protocol); the arriving batch
   # (doc_id in [400, 600)) hashes only itself and probes the at-rest
   # band layout. Every doc_id % 5 == 0 batch doc is rendered from its
   # (doc_id - 400) historical twin's text, so the probe MUST return
   # that pair at hamming 0; all hit ids must come from the two ranges.
   "SELECT CAST(sum(CASE WHEN doc_id < 400 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_index, "
   "CAST(sum(CASE WHEN doc_id >= 400 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_batch, "
   "CAST(sum(CASE WHEN doc_id >= 400 AND doc_id % 5 = 0 THEN 1 ELSE 0 "
   "END) AS BIGINT) AS n_seeded, "
   "TRUE AS seeded_hits_exact, TRUE AS hit_ids_valid "
   "FROM documents WHERE doc_id < 600")
def dhash_index_incremental_dedup(spark, sf_dir):
    build, op = _dhash_index_incremental_phases(spark, sf_dir)
    build()
    return op()


def _dhash_index_incremental_phases(spark, sf_dir):
    # build/op split per VERDICT r9 #2 (see _lsh_index_delete_phases):
    # build = hash the historical corpus + materialize the banded index;
    # op = hash the arriving batch, probe the at-rest layout, validate.
    import tempfile

    from thewhisperdb_spark.operators.hashindex import (
        dhash_index_build, dhash_index_probe)
    from thewhisperdb_spark.operators.imagededup import image_dhash
    from thewhisperdb_spark.sources.multimodal import (
        deterministic_fake_decoder)

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 600) \
        .select("doc_id", "text")

    def render(d):
        return d.select(F.format_string("%09d", "doc_id").alias("path"),
                        F.encode("text", "utf-8").alias("content"),
                        F.lit("image").alias("modality"))

    hist = docs.filter(F.col("doc_id") < 400)
    seeded_src = (docs.filter((F.col("doc_id") >= 400)
                              & (F.col("doc_id") % 5 == 0))
                  .select((F.col("doc_id") - 400).alias("src_id"),
                          F.col("doc_id").alias("bid")))
    seeded = (seeded_src.join(
        hist.select(F.col("doc_id").alias("src_id"), "text"), "src_id")
        .select(F.col("bid").alias("doc_id"), "text"))
    fresh = docs.filter((F.col("doc_id") >= 400)
                        & (F.col("doc_id") % 5 != 0))
    batch = seeded.unionByName(fresh)
    path = tempfile.mkdtemp(prefix="whisper_dhash_idx_")

    def build():
        dhash_index_build(
            image_dhash(render(hist), decoder=deterministic_fake_decoder),
            path, max_hamming=4)

    def op():
        hits = dhash_index_probe(
            spark, path,
            image_dhash(render(batch), decoder=deterministic_fake_decoder)
        ).localCheckpoint(eager=True)
        expected = seeded_src.select(
            F.format_string("%09d", "src_id").alias("index_id"),
            F.format_string("%09d", "bid").alias("batch_id"))
        missing = expected.join(
            hits.filter(F.col("hamming") == 0), ["index_id", "batch_id"],
            "left_anti")
        stray = hits.filter(
            (F.col("index_id") >= F.format_string("%09d", F.lit(400)))
            | (F.col("batch_id") < F.format_string("%09d", F.lit(400))))
        stats = docs.groupBy().agg(
            F.sum(F.when(F.col("doc_id") < 400, 1).otherwise(0)).cast("long")
            .alias("n_index"),
            F.sum(F.when(F.col("doc_id") >= 400, 1).otherwise(0)).cast("long")
            .alias("n_batch"),
            F.sum(F.when((F.col("doc_id") >= 400)
                         & (F.col("doc_id") % 5 == 0),
                         1).otherwise(0)).cast("long").alias("n_seeded"))
        exact = missing.groupBy().agg(
            (F.count(F.lit(1)) == 0).alias("seeded_hits_exact"))
        valid = stray.groupBy().agg(
            (F.count(F.lit(1)) == 0).alias("hit_ids_valid"))
        return stats.join(F.broadcast(exact)).join(F.broadcast(valid))

    return build, op


@q("html_extract_roundtrip",
   # contract oracle: the HTML parser isn't SQL-expressible, but the
   # round-trip invariant is — each document's text is wrapped JVM-side
   # in a full HTML page (title carrying the id, a script payload that
   # must NOT leak, an entity-bearing trailer div), extracted by the
   # Arrow parser (operators/htmltext.py), and must come back as the
   # whitespace-normalized original + the decoded trailer. The Spark
   # side COMPUTES the checks; the oracle pins the count and booleans.
   "SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS all_roundtrip, "
   "TRUE AS titles_ok, TRUE AS no_script_leak, TRUE AS densities_valid "
   "FROM documents WHERE doc_id < 300")
def html_extract_roundtrip(spark, sf_dir):
    from thewhisperdb_spark.operators.htmltext import html_extract

    docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 300)
            .select("doc_id", "text"))
    html = docs.select(
        "doc_id", "text",
        F.concat(
            F.lit("<html><head><title>Doc "), F.col("doc_id"),
            F.lit("</title><script>var p='SECRET';</script></head>"
                  "<body><p>"),
            F.col("text"),
            F.lit("</p><div>x &amp; y</div></body></html>")).alias("html"))
    out = (html_extract(html)
           .withColumnRenamed("text", "etext")
           .join(html.select(F.col("doc_id").cast("string").alias("doc_id"),
                             "text"), "doc_id"))
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    expected = F.when(norm == "", F.lit("x & y")) \
        .otherwise(F.concat(norm, F.lit("\nx & y")))
    return out.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.bool_and(F.col("etext") == expected), F.lit(True))
        .alias("all_roundtrip"),
        F.coalesce(F.bool_and(
            F.col("title") == F.concat(F.lit("Doc "), F.col("doc_id"))),
            F.lit(True)).alias("titles_ok"),
        F.coalesce(F.bool_and(~F.col("etext").contains("SECRET")),
                   F.lit(True)).alias("no_script_leak"),
        F.coalesce(F.bool_and((F.col("link_density") >= 0)
                              & (F.col("link_density") <= 1)),
                   F.lit(True)).alias("densities_valid"))


# ---- north-star: text analysis --------------------------------------------

@q("token_count",
   "SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) "
   "AS BIGINT) AS n_tokens FROM documents")
def token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", TX.token_count(F.col("text")).cast("long").alias("n_tokens"))


@q("token_count_bpe",
   "SELECT doc_id, CAST(len(regexp_extract_all(text, "
   "'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+')) "
   "AS BIGINT) AS n_bpe_tokens FROM documents")
def token_count_bpe(spark, sf_dir):
    # BPE-ish pre-tokenizer count (LLM token-budget proxy); the pattern is
    # restricted to the Java-regex ∩ RE2 subset so the oracle counts match
    return _docs(spark, sf_dir).select(
        "doc_id",
        TX.bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"))


@q("quality_score",
   "SELECT doc_id, CAST(length(text) AS BIGINT) AS q_chars, "
   "CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS q_tokens, "
   "CAST(len(list_filter(string_split(text, ' '), t -> list_contains("
   "['the','a','of','and','to','in','is','it'], lower(t)))) AS DOUBLE) / "
   "greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) AS q_stopword_ratio "
   "FROM documents")
def quality_score(spark, sf_dir):
    # exact-int ratios only -> bit-identical division on both sides
    c = F.col("text")
    toks = TX.tokens(c)
    stop = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(c).cast("long").alias("q_chars"),
        F.size(toks).cast("long").alias("q_tokens"),
        (n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1)))
        .alias("q_stopword_ratio"),
    )


@q("text_extract_truncate",
   "SELECT doc_id, CASE WHEN length(text) > 100 THEN substr(text, 1, 100) || '...' "
   "ELSE text END AS extracted FROM documents")
def text_extract_truncate(spark, sf_dir):
    # S8 truncation semantics (src/embedding/TextExtractor.cpp:10,19-24; the
    # 2000-char + '...' variant src/tagging/TagService.cpp:32-36), cap=100 so
    # the testdata actually exercises both branches
    return _docs(spark, sf_dir).select(
        "doc_id", TX.truncate_text(F.col("text"), 100, ellipsis=True).alias("extracted"))


# RETIRED KEY (governance r12, pays for frontier_politeness_schedule):
# the 4-language stopword-overlap `language_id` heuristic key is subsumed
# by `language_id_profile` (the real 17-language char-trigram profile
# model, strictly stronger full-value oracle); TX.language_id itself stays
# pinned by tests/test_degenerate_inputs.py.


def _langid_scored_sql(docs_sql: str) -> str:
    # Shared CTE body for the profile-langID oracles: DuckDB re-derives
    # EVERYTHING from the same committed seed literals — trigram profiles
    # (count, top-k by (cnt DESC, tri ASC)), add-one smoothed per-language
    # surprisal with round-4-before-DECIMAL(18,6) accumulation, argmin with
    # lang tie-break — over whatever ``docs_sql`` CTE (doc_id, t) the
    # caller supplies, ending at a ``scored_docs`` CTE of
    # (doc_id, predicted_lang, n_trigrams, bits_per_trigram) that includes
    # the explicit NULL degenerate rows. Independent engines, shared
    # constants only.
    from thewhisperdb_spark.operators.langid import (
        DEFAULT_TOP_K, LANGID_SEED)

    def esc(s: str) -> str:
        return s.replace("'", "''")

    seed_vals = ", ".join(f"('{l}', '{esc(t)}')" for l, t in LANGID_SEED)
    return (
        f"WITH seed(lang, stext) AS (VALUES {seed_vals}), "
        "stri AS (SELECT lang, unnest(list_transform(range(1, "
        "  length(stext) - 1), i -> substr(stext, CAST(i AS INTEGER), 3))) "
        "  AS tri FROM seed), "
        "cnts AS (SELECT lang, tri, count(*) AS cnt FROM stri "
        "  GROUP BY 1, 2), "
        "prof AS (SELECT lang, tri, cnt FROM (SELECT lang, tri, cnt, "
        "  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tri) "
        f"  AS rn FROM cnts) WHERE rn <= {DEFAULT_TOP_K}), "
        "stats AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot "
        "  FROM prof GROUP BY 1), "
        "vv AS (SELECT count(DISTINCT tri) AS v FROM prof), "
        f"docs AS ({docs_sql}), "
        "dtri AS (SELECT doc_id, unnest(list_transform(range(1, "
        "  length(t) - 1), i -> substr(t, CAST(i AS INTEGER), 3))) AS tri "
        "  FROM docs WHERE length(t) >= 3), "
        "dtc AS (SELECT doc_id, tri, count(*) AS c FROM dtri "
        "  GROUP BY 1, 2), "
        "dtot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tot "
        "  FROM dtc GROUP BY 1), "
        "matched AS (SELECT doc_id, lang, "
        "  sum(c * CAST(round(-log2((cnt + 1.0) / "
        "  (tot + (SELECT v FROM vv))), 4) AS DECIMAL(18,6))) AS mb, "
        "  CAST(sum(c) AS BIGINT) AS mc "
        "  FROM dtc JOIN prof USING (tri) JOIN stats USING (lang) "
        "  GROUP BY 1, 2), "
        "scored AS (SELECT d.doc_id, s.lang, "
        "  coalesce(m.mb, CAST(0 AS DECIMAL(18,6))) "
        "  + (d.n_tot - coalesce(m.mc, 0)) "
        "    * CAST(round(log2(s.tot + (SELECT v FROM vv)), 4) "
        "      AS DECIMAL(18,6)) AS bits, d.n_tot "
        "  FROM dtot d CROSS JOIN stats s "
        "  LEFT JOIN matched m ON m.doc_id = d.doc_id "
        "  AND m.lang = s.lang), "
        "pick AS (SELECT doc_id, lang, bits, n_tot, "
        "  row_number() OVER (PARTITION BY doc_id ORDER BY bits, lang) "
        "  AS rn FROM scored), "
        "scored_docs AS ("
        "SELECT doc_id, lang AS predicted_lang, n_tot AS n_trigrams, "
        "  round(CAST(bits AS DOUBLE) / n_tot, 6) AS bits_per_trigram "
        "FROM pick WHERE rn = 1 "
        "UNION ALL "
        "SELECT doc_id, CAST(NULL AS VARCHAR) AS predicted_lang, "
        "  CAST(0 AS BIGINT) AS n_trigrams, "
        "  CAST(NULL AS DOUBLE) AS bits_per_trigram "
        "FROM docs WHERE length(t) < 3) ")


def _langid_holdout_docs_sql() -> str:
    # (doc_id, t) CTE: held-out multilingual sentences assigned by
    # doc_id % 18; slot 17 is a sub-trigram text exercising the explicit
    # NULL degenerate row.
    from thewhisperdb_spark.operators.langid import LANGID_HOLDOUT

    def esc(s: str) -> str:
        return s.replace("'", "''")

    texts = ", ".join(f"'{esc(t)}'"
                      for t in [t for _, t in LANGID_HOLDOUT] + ["ab"])
    return (f"SELECT doc_id, list_extract([{texts}], "
            "CAST(doc_id % 18 + 1 AS INTEGER)) AS t "
            "FROM documents WHERE doc_id < 360")


def _langid_profile_oracle() -> str:
    # FULL-VALUE oracle for the REAL profile-based language ID
    # (operators/langid.py) — see _langid_scored_sql.
    return (_langid_scored_sql(_langid_holdout_docs_sql())
            + "SELECT * FROM scored_docs")


@q("language_id_profile", _langid_profile_oracle())
def language_id_profile_key(spark, sf_dir):
    # the REAL langID (VERDICT r11 #1): 17-language char-trigram
    # profile model over committed seed text, scored as one explode +
    # broadcast profile join, argmin-bits prediction; held-out
    # sentences (8 scripts) assigned per doc_id, slot 17 degenerate
    from thewhisperdb_spark.operators.langid import (
        LANGID_HOLDOUT, language_id_profile)

    texts = [t for _, t in LANGID_HOLDOUT] + ["ab"]
    docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 360)
            .select("doc_id", F.element_at(
                F.array(*[F.lit(t) for t in texts]),
                (F.col("doc_id") % 18 + 1).cast("int")).alias("text")))
    return language_id_profile(docs)


def _ccnet_buckets_oracle() -> str:
    # FULL-VALUE oracle for CCNet-style per-language perplexity bucketing
    # (operators/langid.py:perplexity_buckets): the langID scoring CTEs
    # over holdout sentences REPEATED doc_id % 5 + 1 times (5 coprime with the 18 slot classes, so every language sees all five repetition counts) (space-joined —
    # the join-boundary trigrams give each repetition count a distinct
    # bits_per_trigram, so every language has a real score spread), slot
    # 17 left un-repeated so the NULL / 'unscored' branch is exercised.
    # Tercile cuts are re-derived percentile_disc-style over the
    # compressed (lang, score) histogram with pure integer arithmetic —
    # no interpolation, so both engines agree exactly.
    docs = ("SELECT doc_id, CASE WHEN doc_id % 18 = 17 THEN t0 "
            "ELSE rtrim(repeat(t0 || ' ', "
            "CAST(doc_id % 5 + 1 AS INTEGER))) END AS t FROM ("
            + _langid_holdout_docs_sql().replace(" AS t ", " AS t0 ")
            + ")")
    return (
        _langid_scored_sql(docs)
        + ", dist AS (SELECT predicted_lang AS lang, "
        "  bits_per_trigram AS s, count(*) AS c FROM scored_docs "
        "  WHERE bits_per_trigram IS NOT NULL GROUP BY 1, 2), "
        "cum AS (SELECT lang, s, "
        "  sum(c) OVER (PARTITION BY lang ORDER BY s) AS cum, "
        "  sum(c) OVER (PARTITION BY lang) AS n FROM dist), "
        "cuts AS (SELECT lang, "
        "  min(CASE WHEN cum >= (n + 2) // 3 THEN s END) AS head_cut, "
        "  min(CASE WHEN cum >= (2 * n + 2) // 3 THEN s END) AS tail_cut "
        "  FROM cum GROUP BY 1) "
        "SELECT d.doc_id, d.predicted_lang, d.bits_per_trigram, "
        "  CASE WHEN d.bits_per_trigram IS NULL THEN 'unscored' "
        "  WHEN d.bits_per_trigram <= c.head_cut THEN 'head' "
        "  WHEN d.bits_per_trigram <= c.tail_cut THEN 'middle' "
        "  ELSE 'tail' END AS bucket "
        "FROM scored_docs d LEFT JOIN cuts c ON d.predicted_lang = c.lang")


@q("ccnet_perplexity_buckets", _ccnet_buckets_oracle())
def ccnet_perplexity_buckets(spark, sf_dir):
    # CCNet head/middle/tail triage (Wenzek et al. 2020) riding the
    # profile langID: bits_per_trigram under the predicted language's own
    # profile IS the in-language perplexity CCNet cuts on. Holdout
    # sentences repeated doc_id % 5 + 1 times (coprime moduli) give each language a real
    # score spread; slot 17 stays sub-trigram -> 'unscored'. Cuts come
    # from the compressed (lang, score) histogram, not a per-doc sort.
    from thewhisperdb_spark.operators.langid import (
        LANGID_HOLDOUT, language_id_profile, perplexity_buckets)

    texts = [t for _, t in LANGID_HOLDOUT] + ["ab"]
    base = F.element_at(F.array(*[F.lit(t) for t in texts]),
                        (F.col("doc_id") % 18 + 1).cast("int"))
    rep = F.rtrim(F.repeat(F.concat(base, F.lit(" ")),
                           (F.col("doc_id") % 5 + 1).cast("int")))
    docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 360)
            .select("doc_id",
                    F.when(F.col("doc_id") % 18 == 17, base)
                    .otherwise(rep).alias("text")))
    scored = language_id_profile(docs).drop("n_trigrams")
    return perplexity_buckets(scored)


# ---- Spark relational surface certification (TPC-H-ish) --------------------

@q("tpch_q1_pricing_summary",
   "SELECT l_returnflag, l_linestatus, "
   "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty, "
   "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price, "
   "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * "
   "(CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS sum_disc_price, "
   "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty, "
   "count(*) AS count_order "
   "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
   "GROUP BY l_returnflag, l_linestatus")
def tpch_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_dec("l_quantity", "sum_qty"),
            _sum_dec("l_extendedprice", "sum_base_price"),
            F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount")))
            .cast("double").alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
            .alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q("tpch_q3_shipping_priority",
   "SELECT l.l_orderkey, "
   "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)) * "
   "(CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue, "
   "o.o_orderdate, o.o_orderpriority "
   "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
   "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
   "WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-01-01' "
   "AND l.l_shipdate > TIMESTAMP '1998-01-01' "
   "GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority "
   "ORDER BY revenue DESC, l.l_orderkey LIMIT 10")
def tpch_q3(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount")))
             .cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@q("revenue_by_region",
   "SELECT r.r_name, "
   "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)) * "
   "(CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue, "
   "count(*) AS n_items "
   "FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey "
   "JOIN customer c ON c.c_nationkey = n.n_nationkey "
   "JOIN orders o ON o.o_custkey = c.c_custkey "
   "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
   "GROUP BY r.r_name")
def revenue_by_region(spark, sf_dir):
    # multi-table equi-join chain; dims broadcast (SURVEY §2.3 note: the
    # reference has no cross-table joins — this certifies the Spark surface)
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # customer is fact-scale (15M rows at sf100) — NO broadcast hint on it;
    # the shuffle join is the correct plan and AQE may still elect broadcast
    # when the runtime size is small. Only catalog.BROADCAST_TABLES get hints.
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount")))
             .cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@q("window_top_orders_per_customer",
   "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk FROM ("
   "SELECT o_custkey, o_orderkey, o_totalprice, "
   "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk "
   "FROM orders) WHERE rk <= 3")
def window_top_orders(spark, sf_dir):
    # window-function surface (SURVEY §2.10: reference has none; A6's
    # re-numbering is the analog)
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.select("o_custkey", "o_orderkey", "o_totalprice",
                     F.row_number().over(w).cast("long").alias("rk"))
            .filter(F.col("rk") <= 3))


@q("brand_type_revenue",
   "SELECT p.p_brand, p.p_type, "
   "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)) * "
   "(CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue, "
   "count(*) AS n_items "
   "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
   "GROUP BY p.p_brand, p.p_type")
def brand_type_revenue(spark, sf_dir):
    # part-dimension certification: fact->dim broadcast join + grouped agg
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (li.join(p, F.col("p_partkey") == F.col("l_partkey"))
            .groupBy("p_brand", "p_type")
            .agg(F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount")))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


@q("top_suppliers_by_revenue",
   "SELECT s.s_suppkey, s.s_name, "
   "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)) * "
   "(CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue "
   "FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey "
   "GROUP BY s.s_suppkey, s.s_name "
   "ORDER BY revenue DESC, s.s_suppkey LIMIT 10")
def top_suppliers_by_revenue(spark, sf_dir):
    # supplier-dimension certification: agg then TakeOrderedAndProject top-k
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
            .groupBy("s_suppkey", "s_name")
            .agg(F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount")))
                 .cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("s_suppkey").asc())
            .limit(10))


@q("semi_join_active_customers",
   "SELECT c_custkey, c_name FROM customer c "
   "WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)")
def semi_join_active_customers(spark, sf_dir):
    # left-semi join (EXISTS) — relational surface certification
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    return (c.join(ev, c.c_custkey == ev.user_id, "left_semi")
            .select("c_custkey", "c_name"))


@q("anti_join_inactive_customers",
   "SELECT c_custkey, c_name FROM customer c "
   "WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)")
def anti_join_inactive_customers(spark, sf_dir):
    # left-anti join (NOT EXISTS)
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    return (c.join(ev, c.c_custkey == ev.user_id, "left_anti")
            .select("c_custkey", "c_name"))


@q("outer_join_customer_order_counts",
   "SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders, "
   "CAST(coalesce(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 0) AS DOUBLE) AS total_spend "
   "FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
   "GROUP BY c.c_custkey")
def outer_join_customer_order_counts(spark, sf_dir):
    # left-outer join preserving zero-order customers
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("n_orders"),
                 F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,6)"))
                 .cast("double").alias("total_spend")))


@q("rollup_revenue_region_nation",
   "SELECT r.r_name, n.n_name, "
   "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)) * "
   "(CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue, "
   "count(*) AS n_items "
   "FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey "
   "JOIN customer c ON c.c_nationkey = n.n_nationkey "
   "JOIN orders o ON o.o_custkey = c.c_custkey "
   "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
   "GROUP BY ROLLUP(r.r_name, n.n_name)")
def rollup_revenue_region_nation(spark, sf_dir):
    # hierarchical grouping-sets aggregation (region -> nation -> grand total)
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # customer is fact-scale: no broadcast hint (see revenue_by_region note)
    joined = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(c, F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")))
    return (joined.rollup("r_name", "n_name")
            .agg(F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount")))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


@q("pivot_event_type_values",
   "SELECT user_id, "
   + ", ".join(
       f"CAST(coalesce(SUM(CAST(value AS DECIMAL(18,6))) "
       f"FILTER (WHERE event_type = '{t}'), 0) AS DOUBLE) AS {t}_value"
       for t in ("click", "view", "purchase")) +
   " FROM events GROUP BY user_id")
def pivot_event_type_values(spark, sf_dir):
    # pivot: one column per event type (fixed value list -> single-pass agg)
    ev = load_table(spark, sf_dir, "events")
    zero = F.lit(0).cast("decimal(18,6)")
    return ev.groupBy("user_id").agg(*[
        F.coalesce(F.sum(F.when(F.col("event_type") == t, _dec("value"))), zero)
        .cast("double").alias(f"{t}_value")
        for t in ("click", "view", "purchase")])


@q("asof_join_last_order",
   """WITH j AS (
  SELECT e.event_id, o.o_orderdate, o.o_orderkey
  FROM events e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts),
agg AS (SELECT event_id, max(o_orderdate) AS asof_o_orderdate,
               CAST(count(o_orderkey) AS BIGINT) AS n_prior
        FROM j GROUP BY event_id)
SELECT a.event_id, max(j.o_orderkey) AS asof_o_orderkey, a.asof_o_orderdate, a.n_prior
FROM agg a LEFT JOIN j ON j.event_id = a.event_id AND j.o_orderdate = a.asof_o_orderdate
GROUP BY a.event_id, a.asof_o_orderdate, a.n_prior""")
def asof_join_last_order(spark, sf_dir):
    # as-of join (backward): for each event, the user's most recent prior
    # order. union+window kernel — linear, no per-key range-join blowup
    from thewhisperdb_spark.operators.relational import asof_join
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (load_table(spark, sf_dir, "orders")
         .select(F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"))
    out = asof_join(ev, o, key="user_id", left_ts="ts", right_ts="o_orderdate",
                    right_vals=("o_orderkey", "o_orderdate"))
    return out.select("event_id", F.col("asof_o_orderkey"),
                      F.col("asof_o_orderdate"), "n_prior")


@q("tfidf_top_terms",
   f"""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                    t -> t <> '')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, idf.df,
             round(tf.tf * ln(CAST(n.n AS DOUBLE) / idf.df), 6) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, idf.df ASC, tf.term) AS rk
      FROM tf JOIN idf USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk FROM s WHERE rk <= 3""")
def tfidf_top_terms(spark, sf_dir):
    # text analysis: tf-idf scoring, top-3 terms per doc. Rank order uses the
    # exact integers (tf desc, df asc) so it is float-drift-free; the float
    # tfidf is carried as a rounded score column
    from pyspark.sql import Window
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = d.count()
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
    s = (tf.join(idf, "term")
         .select("doc_id", "term",
                 F.round(F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 6)
                 .alias("tfidf"),
                 F.row_number().over(w).cast("long").alias("rk")))
    return s.filter(F.col("rk") <= 3)


BM25_TERMS = ("table", "hash", "window")


@q("bm25_search",
   """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                    t -> t <> '')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('table', 'hash', 'window') GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, len(list_filter(string_split(text, ' '),
                    t -> t <> '')) AS dl FROM documents),
st AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
       FROM dl)
SELECT tf.doc_id, CAST(SUM(CAST(round(
    ln(1.0 + ((st.n - dfq.df) + 0.5) / (dfq.df + 0.5))
    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / st.avgdl))),
    6) AS DECIMAL(18,6))) AS DOUBLE) AS bm25
FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
GROUP BY 1""")
def bm25_search(spark, sf_dir):
    # BM25 topic mining over the corpus (see operators/text.py:bm25_scores
    # for the scale/parity analysis). k1=1.2, b=0.75 — the standard defaults.
    return TX.bm25_scores(_docs(spark, sf_dir), list(BM25_TERMS))


@q("vocab_overlap_langs",
   """WITH v AS (SELECT DISTINCT lang AS g, unnest(list_filter(
        string_split(text, ' '), t -> t <> '')) AS term FROM documents),
sizes AS (SELECT g, count(*) AS n FROM v GROUP BY 1),
inter AS (SELECT a.g AS ga, b.g AS gb, count(*) AS n_common
          FROM v a JOIN v b USING (term) WHERE a.g < b.g GROUP BY 1, 2)
SELECT ga, gb, sa.n AS n_a, sb.n AS n_b, n_common,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter JOIN sizes sa ON inter.ga = sa.g JOIN sizes sb ON inter.gb = sb.g""")
def vocab_overlap_langs(spark, sf_dir):
    # pairwise vocabulary Jaccard between language slices — corpus-mix
    # profiling; term-keyed equi-join bounded by (#langs)^2 per term
    return TX.vocab_jaccard_by_group(_docs(spark, sf_dir), "lang")


@q("per_source_cap",
   "SELECT doc_id, source, n_chars, rk FROM ("
   "SELECT doc_id, source, n_chars, CAST(row_number() OVER ("
   "PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk "
   "FROM documents) WHERE rk <= 40")
def per_source_cap(spark, sf_dir):
    # per-domain quota: best 40 docs (longest-first) per source — the
    # anti-domination guard of a training mix (operators/sampling.py)
    return SM.per_stratum_cap(
        _docs(spark, sf_dir), "source", 40, "n_chars"
    ).select("doc_id", "source", "n_chars", "rk")


@q("doc_length_histogram",
   "SELECT CAST(least(floor(CAST(n_chars AS DOUBLE) / 40), 15) AS BIGINT) "
   "AS bucket, count(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total, "
   "CAST(MIN(n_chars) AS BIGINT) AS min_v, CAST(MAX(n_chars) AS BIGINT) "
   "AS max_v FROM documents GROUP BY 1")
def doc_length_histogram(spark, sf_dir):
    # corpus length profile: fixed-width histogram with clamped tail bucket;
    # map-side combine makes this one scan at any scale (aggregates.py)
    return AG.value_histogram(_docs(spark, sf_dir), "n_chars", 40, 16)


@q("line_dedup_reconstruct",
   """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '),
                 x -> x <> '') AS toks FROM documents),
n AS (SELECT doc_id, toks,
      greatest(CAST(ceil(len(toks) / 10.0) AS BIGINT), 1) AS nu FROM t),
ex0 AS (SELECT doc_id, toks, unnest(range(nu)) AS pos FROM n),
ex AS (SELECT doc_id, pos, array_to_string(
         list_slice(toks, pos * 10 + 1, pos * 10 + 10), ' ') AS unit
       FROM ex0),
kept AS (SELECT doc_id, pos, unit,
         row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) = 1
         AS is_first FROM ex)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN is_first THEN unit END, ' ' ORDER BY pos),
           '') AS clean_text,
  count(*) AS n_units,
  CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM kept GROUP BY 1""")
def line_dedup_reconstruct(spark, sf_dir):
    # C4-style cross-corpus unit dedup: drop every repeated 10-token unit
    # (keep the global first occurrence), reassemble docs from survivors.
    # Window on the unit string replaces the naive seen-before self-join
    # (operators/dedup.py:unit_dedup).
    return D.unit_dedup(_docs(spark, sf_dir), unit_tokens=10)


_CMS_BUCKET = ("CAST('0x' || substr(md5({t} || '|' || {i}), 1, 8) AS BIGINT) "
               "% 1024")


@q("cms_word_counts",
   "WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), "
   "t -> t <> '')) AS term FROM documents), "
   "rows_i AS (SELECT unnest([0, 1, 2, 3]) AS i), "
   "keyed AS (SELECT term, i AS row_idx, "
   + _CMS_BUCKET.format(t="term", i="i") + " AS bucket "
   "FROM tok CROSS JOIN rows_i), "
   "sketch AS (SELECT row_idx, bucket, count(*) AS cnt "
   "FROM keyed GROUP BY 1, 2), "
   "probes AS (SELECT unnest(['table', 'hash', 'window']) AS term), "
   "pk AS (SELECT term, i AS row_idx, "
   + _CMS_BUCKET.format(t="term", i="i") + " AS bucket "
   "FROM probes CROSS JOIN rows_i) "
   "SELECT pk.term, min(COALESCE(s.cnt, 0)) AS est FROM pk "
   "LEFT JOIN sketch s ON s.row_idx = pk.row_idx AND s.bucket = pk.bucket "
   "GROUP BY pk.term ORDER BY pk.term")
def cms_word_counts(spark, sf_dir):
    # count-min sketch point estimates for the BM25 probe terms: the
    # mergeable-sketch path to corpus term stats (sketch <= d*w rows per
    # shard, union+sum to combine shards). The md5-derived bucket function
    # is engine-portable, so the ORACLE builds the identical sketch in SQL
    # and the estimates match exactly; pytest additionally pins
    # overestimate-only + epsilon bound + merge equivalence
    # (test_pipeline_ops).
    d = _docs(spark, sf_dir)
    tok = d.select(F.explode(TX.tokens(F.col("text"))).alias("term"))
    sketch = AG.cms_build(tok, "term")
    terms = spark.createDataFrame([(t,) for t in BM25_TERMS], "term string")
    return AG.cms_estimate(sketch, terms).orderBy("term")


# ---- events: windowed agg + sessionization ---------------------------------

@q("events_windowed_agg",
   "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type, count(*) AS n, "
   "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value "
   "FROM events GROUP BY 1, event_type")
def events_windowed_agg(spark, sf_dir):
    # tumbling-window agg, batch form (streaming twin in streaming/jobs.py)
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), _sum_dec("value", "total_value")))


@q("events_sessionize",
   "WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events), "
   "flagged AS (SELECT user_id, ts, event_id, "
   "CASE WHEN lag(ts) OVER w IS NULL OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE "
   "THEN 1 ELSE 0 END AS new_session FROM ev WINDOW w AS "
   "(PARTITION BY user_id ORDER BY ts, event_id)), "
   "sess AS (SELECT user_id, ts, "
   "SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id "
   "ROWS UNBOUNDED PRECEDING) AS session_id FROM flagged) "
   "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events, "
   "min(ts) AS t_start, max(ts) AS t_end FROM sess GROUP BY user_id, session_id")
def events_sessionize(spark, sf_dir):
    # gap-based sessionization (30 min) — lag + running sum + agg
    from pyspark.sql import Window
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    flagged = ev.select(
        "user_id", "ts",
        F.when(lag_ts.isNull()
               | (F.col("ts") > lag_ts + F.expr("INTERVAL 30 MINUTES")), 1)
        .otherwise(0).alias("new_session"),
        "event_id")
    sess = flagged.select(
        "user_id", "ts",
        F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"))
    return (sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("t_start"), F.max("ts").alias("t_end")))


@q("price_quartiles_by_priority",
   "SELECT o_orderpriority, "
   "round(quantile_cont(o_totalprice, 0.25), 6) AS p25, "
   "round(quantile_cont(o_totalprice, 0.50), 6) AS p50, "
   "round(quantile_cont(o_totalprice, 0.75), 6) AS p75, "
   "count(*) AS n FROM orders GROUP BY o_orderpriority")
def price_quartiles_by_priority(spark, sf_dir):
    # exact interpolated percentiles per group (ordered-agg surface)
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.round(F.percentile("o_totalprice", F.lit(0.25)), 6).alias("p25"),
                 F.round(F.percentile("o_totalprice", F.lit(0.50)), 6).alias("p50"),
                 F.round(F.percentile("o_totalprice", F.lit(0.75)), 6).alias("p75"),
                 F.count(F.lit(1)).alias("n")))


@q("cube_revenue_flag_status",
   "SELECT l_returnflag, l_linestatus, "
   "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue, "
   "count(*) AS n FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)")
def cube_revenue_flag_status(spark, sf_dir):
    # full grouping-sets lattice (CUBE): all four grouping combinations in one
    # pass — Catalyst expands to a single shuffle with a grouping-id column
    li = load_table(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(_sum_dec("l_extendedprice", "revenue"),
                 F.count(F.lit(1)).alias("n")))


@q("order_price_deciles",
   "WITH d AS (SELECT o_totalprice, ntile(10) OVER "
   "(ORDER BY o_totalprice, o_orderkey) AS decile FROM orders) "
   "SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n, "
   "MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi "
   "FROM d GROUP BY decile")
def order_price_deciles(spark, sf_dir):
    # ntile windowing + re-aggregation (distribution summary surface).
    #
    # A naive `ntile(10) OVER (ORDER BY ...)` is a GLOBAL window: Spark moves
    # every row to ONE partition to assign buckets — a non-starter at 100 TB.
    # Instead we compute the exact global rank distributively:
    #   1. range-partition by the sort key (each partition = contiguous key
    #      range, so partition order == global order),
    #   2. per-partition row counts -> cumulative offsets (metadata-sized,
    #      one row per partition),
    #   3. global rank = offset + within-partition row_number (window
    #      partitioned BY partition id — parallel, no single-partition stage),
    #   4. ANSI ntile bucket from (rank, N): with q, rem = divmod(N, 10),
    #      the first `rem` buckets hold q+1 rows, the rest q rows.
    # The sort key (o_totalprice, o_orderkey) is a strict total order, so the
    # result is deterministic and matches the oracle's ntile exactly.
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    # range-partition count follows the session's parallelism (not a literal):
    # on a 1000-executor cluster defaultParallelism scales the ranges with it
    n_ranges = max(spark.sparkContext.defaultParallelism, 2)
    ranged = (o.repartitionByRange(n_ranges, "o_totalprice", "o_orderkey")
              .withColumn("pid", F.spark_partition_id()))
    # per-range counts: tiny (one row per partition); the window below runs
    # over <=n_ranges rows so its single-partition execution is metadata-scale
    counts = ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding,
                                              Window.unboundedFollowing)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset"),
        F.sum("cnt").over(w_all).alias("n_total"))

    w_local = Window.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
    ranked = (ranged.join(F.broadcast(offsets), "pid")
              .select("o_totalprice", "n_total",
                      (F.col("offset") + F.row_number().over(w_local)).alias("r")))
    q_ = F.floor(F.col("n_total") / 10)
    rem = F.col("n_total") % 10
    big = rem * (q_ + F.lit(1))  # rows covered by the q+1-sized buckets
    decile = F.when(
        F.col("r") <= big, F.floor((F.col("r") - 1) / (q_ + 1)) + 1
    ).otherwise(rem + F.floor((F.col("r") - 1 - big) / q_) + 1)
    return (ranked.select(decile.cast("bigint").alias("decile"), "o_totalprice")
            .groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("o_totalprice").alias("lo"),
                 F.max("o_totalprice").alias("hi")))


@q("correlated_order_item_count",
   "SELECT o_orderkey, o_totalprice, "
   "(SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS n_items "
   "FROM orders o")
def correlated_order_item_count(spark, sf_dir):
    # correlated scalar subquery — Catalyst de-correlates it into a left outer
    # aggregate join (the plan a hand-written join+agg would produce)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        "SELECT o_orderkey, o_totalprice, "
        "(SELECT count(*) FROM v_lineitem l WHERE l.l_orderkey = o.o_orderkey) AS n_items "
        "FROM v_orders o")


@q("range_window_user_activity",
   "WITH ev AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us "
   "FROM events) "
   "SELECT event_id, user_id, CAST(count(*) OVER "
   "(PARTITION BY user_id ORDER BY us RANGE BETWEEN 3600000000 PRECEDING "
   "AND CURRENT ROW) AS BIGINT) AS n_trailing_1h FROM ev")
def range_window_user_activity(spark, sf_dir):
    # RANGE (value-based) window frame: per event, how many events the same
    # user produced in the trailing hour. Ordered on epoch microseconds so the
    # frame bounds are exact and engine-independent
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy(F.unix_micros(F.col("ts")))
         .rangeBetween(-3_600_000_000, 0))
    return ev.select("event_id", "user_id",
                     F.count(F.lit(1)).over(w).alias("n_trailing_1h"))


@q("json_extract_props_sum",
   # outer CAST: DuckDB SUM(BIGINT) yields HUGEINT (-> float64 in pandas)
   # while Spark stays int64 — identical values, divergent hash. Pin BIGINT.
   "SELECT event_type, "
   "CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total, "
   "count(*) AS n FROM events GROUP BY event_type")
def json_extract_props_sum(spark, sf_dir):
    # semi-structured extraction: JSON props column -> typed field -> agg
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.sum(F.get_json_object("props", "$.k").cast("long")).alias("k_total"),
                 F.count(F.lit(1)).alias("n")))


@q("users_click_and_purchase",
   "SELECT DISTINCT user_id FROM events WHERE event_type = 'click' "
   "INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'")
def users_click_and_purchase(spark, sf_dir):
    # INTERSECT set op
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clicks.intersect(buys)


@q("users_click_no_purchase",
   "SELECT DISTINCT user_id FROM events WHERE event_type = 'click' "
   "EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'")
def users_click_no_purchase(spark, sf_dir):
    # EXCEPT set op
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clicks.exceptAll(buys).distinct()


@q("running_revenue_per_customer",
   "SELECT o_custkey, o_orderkey, "
   "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER "
   "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
   "ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend FROM orders")
def running_revenue_per_customer(spark, sf_dir):
    # cumulative window frame (running total per customer over order time)
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return o.select("o_custkey", "o_orderkey",
                    F.sum(_dec("o_totalprice")).over(w)
                    .cast("double").alias("running_spend"))


@q("normalize_tags_scalar",
   "SELECT doc_id, regexp_replace(regexp_replace(lower(trim(source || ' ' || lang)), "
   "'\\s+', '-', 'g'), '-+$', '', 'g') AS norm_tag FROM documents")
def normalize_tags_scalar(spark, sf_dir):
    # §2.9 scalar surface: the reference's tag normalization
    # (src/tagging/TagClient.cpp:101-124) applied as a column expression
    from thewhisperdb_spark.schemas import normalize_tag
    d = _docs(spark, sf_dir)
    return d.select("doc_id",
                    normalize_tag(F.concat_ws(" ", "source", "lang")).alias("norm_tag"))


@q("llm_tag_extraction",
   "SELECT doc_id, CASE WHEN n_chars % 10 = 0 THEN '' "
   "ELSE 'data-processing,' || source || ',' || lang END AS tags_csv "
   "FROM documents")
def llm_tag_extraction(spark, sf_dir):
    # §2.9 LLM JSON-array extraction (src/tagging/TagClient.cpp:126-157):
    # synthesize a noisy model completion per row (with a parse-failure
    # branch every 10th row), then run the PRODUCTION parse path — the
    # regexp_extract + from_json + tag-normalization column expression that
    # generate_tags_from_model_output applies to real completions. The
    # oracle computes the expected tag list directly, certifying extraction
    # + normalization end-to-end ("Data Processing" -> "data-processing",
    # failure -> empty list).
    from thewhisperdb_spark.functions.llm import extract_tag_array
    d = _docs(spark, sf_dir)
    raw = (F.when(F.col("n_chars") % 10 == 0,
                  F.lit("Sorry, I could not produce tags for this text."))
           .otherwise(F.concat(
               F.lit('Sure! Here are the tags: ["Data Processing", "'),
               F.col("source"), F.lit('", "'), F.col("lang"),
               F.lit('"]. Let me know if you need more.'))))
    tags = F.coalesce(extract_tag_array(raw), F.array().cast("array<string>"))
    return d.select("doc_id", F.array_join(tags, ",").alias("tags_csv"))


@q("events_user_stats",
   "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users, "
   "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value FROM events "
   "GROUP BY event_type")
def events_user_stats(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        _sum_dec("value", "total_value"))


# RETIRED KEY (governance r12, pays for mixture_epoch_schedule):
# `events_distinct_users_hll` (Datasketches-native sketch, accuracy-contract
# oracle) is subsumed as a driver key by `events_distinct_users_hll_portable`
# (same query shape, strictly stronger FULL-VALUE oracle re-deriving the
# estimate itself); the native hll_sketch_agg path stays pinned by
# tests/test_scale_patterns.py::test_hll_sketch_distinct_within_error_bounds,
# which calls this (now unregistered) function directly.
def events_distinct_users_hll(spark, sf_dir):
    # Sketch surface for the 100 TB posture: per-type distinct users via an
    # HLL sketch (Datasketches HllSketch under `hll_sketch_agg`). Unlike
    # count(DISTINCT ...), the sketch is a MERGEABLE partial aggregate —
    # map-side partials combine without re-shuffling raw user ids, and stored
    # sketches can be unioned across days/partitions (`hll_union_agg`) for
    # rollups without touching raw data. The driver-checked output pairs the
    # exact count (portable) with the sketch-accuracy contract; the float
    # estimate also stays bounds-checked in tests/test_scale_patterns.py.
    ev = load_table(spark, sf_dir, "events")
    est = F.hll_sketch_estimate(
        F.hll_sketch_agg(F.col("user_id"), F.lit(14)))
    exact = F.count_distinct(F.col("user_id"))
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 exact.alias("n_users_exact"),
                 (F.abs(est - exact) <= 0.02 * exact).alias("within_2pct")))


@q("streaming_windowed_counts",
   "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, "
   "event_type, count(*) AS n FROM events GROUP BY 1, event_type")
def streaming_windowed_counts(spark, sf_dir):
    # the Structured Streaming twin of events_windowed_agg, driven through a
    # real readStream (file replay, availableNow) and checked against the
    # BATCH oracle — streamed counts must equal the batch aggregation
    import tempfile

    from thewhisperdb_spark.streaming import jobs as SJ

    out_dir = tempfile.mkdtemp(prefix="whisper_stream_")
    path = SJ.events_to_stream_dir(spark, sf_dir, out_dir, n_chunks=4)
    stream = SJ.stream_events_from_dir(spark, path)
    counts = SJ.windowed_event_counts(stream, "1 hour")
    name = "q_stream_win_counts"
    q = (counts.select("win_start", "event_type", "n")
         .writeStream.outputMode("complete").format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(f"SELECT win_start, event_type, n FROM {name}")


@q("range_join_clicks_before_purchase",
   # floor(epoch(...)) on the oracle side: DuckDB epoch() keeps fractional
   # seconds while Spark unix_timestamp floors — both sides must floor or
   # boundary membership and secs_before drift
   "WITH p AS (SELECT event_id, user_id, "
   "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ps "
   "FROM events WHERE event_type = 'purchase'), "
   "c AS (SELECT event_id, user_id, "
   "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS cs "
   "FROM events WHERE event_type = 'click') "
   "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
   "p.ps - c.cs AS secs_before "
   "FROM p JOIN c ON c.user_id = p.user_id "
   "AND c.cs BETWEEN p.ps - 3600 AND p.ps")
def range_join_clicks_before_purchase(spark, sf_dir):
    # banded range join (attribution shape): same-user clicks in the hour
    # before each purchase. The oracle states the naive theta join; the
    # Spark plan is the bucketed candidate equi-join on (user, hour bucket)
    # + exact re-check — linear in matches, never |purchases|×|clicks|
    # (operators/relational.py range_join_bucketed).
    from thewhisperdb_spark.operators.relational import range_join_bucketed
    ev = load_table(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.unix_timestamp("ts").alias("ps")))
    c = (ev.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"), "user_id",
                 F.unix_timestamp("ts").alias("cs")))
    out = range_join_bucketed(
        p, c, left_lo=F.col("ps") - 3600, left_hi=F.col("ps"),
        right_pt=F.col("cs"), bucket_width=3600, keys=["user_id"])
    return out.select("purchase_id", "click_id",
                      (F.col("ps") - F.col("cs")).alias("secs_before"))


@q("price_quartiles_approx",
   # Valid at both sweep scales: groups at sf0.01 (~3k rows) and sf0.1
   # (~30k rows) are smaller than the sketch accuracy (100000), where
   # Greenwald-Khanna is EXACT and lands on the same discrete rank
   # convention as DuckDB's quantile_disc (verified: identical at 25/50/75
   # across all groups at both SFs). Above the accuracy bound the sketch
   # is approximate by design and the comparison would not hold — at real
   # cluster scale this key is an approximate operator by contract.
   "WITH s AS (SELECT o_orderpriority, "
   "quantile_disc(o_totalprice, 0.25) AS p25, "
   "quantile_disc(o_totalprice, 0.5) AS p50, "
   "quantile_disc(o_totalprice, 0.75) AS p75, count(*) AS n "
   "FROM orders GROUP BY 1) "
   "SELECT o_orderpriority, q.quartile, "
   "CASE q.quartile WHEN 25 THEN p25 WHEN 50 THEN p50 ELSE p75 END AS value, "
   "n FROM s CROSS JOIN (SELECT unnest([25, 50, 75]) AS quartile) q")
def price_quartiles_approx(spark, sf_dir):
    # scale path for price_quartiles_by_priority: percentile_approx is a
    # MERGEABLE quantile sketch — map-side partials combine without a global
    # sort, so the plan stays one shuffle at any data size (the exact
    # interpolated percentile needs the full group materialized). Approximate
    # -> rows-only; tests/test_relational.py bounds the rank error vs exact.
    # Output is exploded to scalar rows (priority, quartile, value) — an
    # array<double> column is not canonicalizable by hash-based comparators.
    o = load_table(spark, sf_dir, "orders")
    agg = (o.groupBy("o_orderpriority")
           .agg(F.percentile_approx("o_totalprice", [0.25, 0.5, 0.75],
                                    100_000)
                .alias("qs"),
                F.count(F.lit(1)).alias("n")))
    q_idx = F.array(F.lit(25), F.lit(50), F.lit(75))
    return (agg.select("o_orderpriority", "n",
                       F.explode(F.arrays_zip(q_idx.alias("quartile"),
                                              F.col("qs").alias("value")))
                       .alias("z"))
            .select("o_orderpriority",
                    F.col("z.quartile").alias("quartile"),
                    F.col("z.value").alias("value"), "n"))


@q("lead_lag_order_gaps",
   "SELECT o_custkey, o_orderkey, "
   "lag(o_orderkey) OVER w AS prev_orderkey, "
   "CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) - "
   "lag(CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)) OVER w AS gap_s "
   "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)")
def lead_lag_order_gaps(spark, sf_dir):
    # lead/lag window surface: seconds between a customer's consecutive
    # orders (first order per customer -> NULL gap)
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ep = F.unix_timestamp("o_orderdate")
    return o.select("o_custkey", "o_orderkey",
                    F.lag("o_orderkey").over(w).alias("prev_orderkey"),
                    (ep - F.lag(ep).over(w)).alias("gap_s"))


@q("streaming_sessionize",
   "WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events), "
   "flagged AS (SELECT user_id, ts, "
   "CASE WHEN lag(ts) OVER w IS NULL OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE "
   "THEN 1 ELSE 0 END AS new_session FROM ev WINDOW w AS "
   "(PARTITION BY user_id ORDER BY ts)), "
   "sess AS (SELECT user_id, ts, "
   "SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts "
   "ROWS UNBOUNDED PRECEDING) AS session_id FROM flagged) "
   "SELECT user_id, min(ts) AS t_start, "
   "max(ts) + INTERVAL 30 MINUTE AS t_end, count(*) AS n_events "
   "FROM sess GROUP BY user_id, session_id")
def streaming_sessionize(spark, sf_dir):
    # Structured Streaming twin of events_sessionize via the built-in
    # session_window (merge-on-overlap state store), replayed with
    # availableNow and checked against a batch gap-sessionization oracle.
    # session_window's merge rule is ts < last_ts + gap (end-exclusive), so
    # the oracle's new-session predicate is >= gap, and t_end = max(ts)+gap.
    import tempfile

    from thewhisperdb_spark.streaming import jobs as SJ

    out_dir = tempfile.mkdtemp(prefix="whisper_stream_")
    path = SJ.events_to_stream_dir(spark, sf_dir, out_dir, n_chunks=4)
    stream = SJ.stream_events_from_dir(spark, path)
    sessions = SJ.sessionize_stream(stream, gap="30 minutes")
    name = "q_stream_sessionize"
    q_ = (sessions.select("user_id", "t_start", "t_end",
                          F.col("n_events").cast("long").alias("n_events"))
          .writeStream.outputMode("complete").format("memory").queryName(name)
          .trigger(availableNow=True).start())
    q_.awaitTermination()
    return spark.sql(
        f"SELECT user_id, t_start, t_end, n_events FROM {name}")


def _minhash_ctes(n_hashes: int = 32, threshold: float = 0.8,
                  seed: int = 42) -> str:
    """DuckDB twin of the FULL MinHash+LSH pipeline, as a CTE chain ending
    in ``prs`` (the near-dup pairs). The banding machinery provably does not
    change the result set (dedup.minhash_lsh_pairs: a pair with est >= θ
    agrees on >= ceil(θ·k) hashes, hence collides in enough bands to be a
    candidate — the LSH filter is lossless at the threshold), so the oracle
    is the mathematical definition: identical signatures (same md5-derived
    element hash, same seeded affine coefficients inlined below) compared
    all-pairs. est >= θ becomes an integer match-count floor (matches/k is
    an exact binary fraction)."""
    import math
    import random

    p = 2**31 - 1
    rnd = random.Random(seed)
    coeffs = [(rnd.randrange(1, p), rnd.randrange(0, p))
              for _ in range(n_hashes)]
    vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs))
    min_match = math.ceil(threshold * n_hashes)
    agree = (f"len(list_filter(range(1, {n_hashes + 1}), "
             f"i -> x.sig[i] = y.sig[i]))")
    ctes = f"""toks AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents),
sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(tk) - 4, 1) + 1),
    i -> array_to_string(tk[i:i+4], ' ')))) AS s FROM toks),
eh AS MATERIALIZED (
  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {p} AS h
  FROM sh),
co(i, a, b) AS (SELECT * FROM (VALUES {vals})),
mins AS MATERIALIZED (
  SELECT doc_id, co.i, MIN((co.a * eh.h + co.b) % {p}) AS v
  FROM eh CROSS JOIN co GROUP BY doc_id, co.i),
sig AS MATERIALIZED (
  SELECT doc_id, list(v ORDER BY i) AS sig FROM mins GROUP BY doc_id),
prs AS MATERIALIZED (
  SELECT x.doc_id AS a, y.doc_id AS b,
    CAST({agree} AS DOUBLE) / {n_hashes} AS est_jaccard
  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
  WHERE {agree} >= {min_match})"""
    return ctes


@q("near_dup_drop",
   "WITH RECURSIVE " + _minhash_ctes() + """,
und AS (SELECT a AS src, b AS dst FROM prs UNION SELECT b, a FROM prs),
reach(src, dst) AS (
  SELECT src, src FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
),
comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
SELECT d.doc_id FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
WHERE c.id IS NULL OR c.component = d.doc_id""")
def near_dup_drop(spark, sf_dir):
    # end-to-end near-dedup pipeline: MinHash+LSH pairs -> connected
    # components -> keep min-id doc per duplicate group. With md5-portable
    # signatures every stage is oracle-expressible: the same pair CTEs as
    # minhash_lsh_dedup, transitive closure as a recursive CTE, survivors =
    # docs that are their own component minimum (untouched docs pass
    # through). pytest additionally checks it against exact-Jaccard grouping.
    from thewhisperdb_spark.operators.text import word_ngrams

    out = D.drop_near_duplicates(_docs(spark, sf_dir), n_hashes=32, bands=8,
                                 threshold=0.8, shingler=word_ngrams)
    return out.select("doc_id")


@q("streaming_dedup",
   "WITH doubled AS (SELECT * FROM events UNION ALL SELECT * FROM events) "
   "SELECT DISTINCT event_id, user_id, event_type FROM doubled")
def streaming_dedup(spark, sf_dir):
    # streaming exact dedup: replay the events table TWICE through readStream
    # (every event_id arrives twice), dropDuplicatesWithinWatermark keeps the
    # first — checked against the batch DISTINCT oracle
    import tempfile

    from thewhisperdb_spark.streaming import jobs as SJ

    out_dir = tempfile.mkdtemp(prefix="whisper_stream_")
    path = SJ.events_to_stream_dir(spark, sf_dir, out_dir, n_chunks=2)
    ev = spark.read.parquet(path)
    dup_path = os.path.join(out_dir, "events_doubled")
    ev.union(ev).repartition(4).write.mode("overwrite").parquet(dup_path)
    stream = SJ.stream_events_from_dir(spark, dup_path)
    deduped = SJ.dedup_stream(stream)
    name = "q_stream_dedup"
    q = (deduped.select("event_id", "user_id", "event_type")
         .writeStream.outputMode("append").format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(f"SELECT event_id, user_id, event_type FROM {name}")


@q("streaming_user_state_totals",
   "SELECT user_id, count(*) AS n_events, "
   "round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) "
   "AS total_value FROM events GROUP BY user_id")
def streaming_user_state_totals(spark, sf_dir):
    # CUSTOM stateful operator (applyInPandasWithState): per-user running
    # totals with explicit GroupState, replayed through a real multi-batch
    # readStream in update mode. The memory sink holds one row per (user,
    # micro-batch update); the final state per user — selected by max
    # (n_batches, n_events) — must equal the batch aggregate the oracle
    # computes. Round-6 absorbs the float accumulation-order drift between
    # the per-batch pandas sums and the oracle's exact decimal sum.
    import tempfile

    from thewhisperdb_spark.streaming import jobs as SJ

    out_dir = tempfile.mkdtemp(prefix="whisper_stream_")
    path = SJ.events_to_stream_dir(spark, sf_dir, out_dir, n_chunks=4)
    stream = SJ.stream_events_from_dir(spark, path)
    st = SJ.sessionize_with_state(stream)
    name = "q_user_state_totals"
    q = (st.writeStream.outputMode("update").format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    mem = spark.sql(f"SELECT * FROM {name}")
    latest = F.struct("n_batches", "n_events")
    return (mem.groupBy("user_id")
            .agg(F.max_by("n_events", latest).cast("long").alias("n_events"),
                 F.round(F.max_by("total_value", latest), 6)
                 .alias("total_value")))


# ---- rows-only entries (no SQL-expressible oracle) -------------------------



@q("minhash_lsh_dedup",
   "WITH " + _minhash_ctes() + " SELECT a, b, est_jaccard FROM prs")
def minhash_lsh_dedup(spark, sf_dir):
    # MinHash+LSH near-dup at scale. θ=0.8 is the near-dup operating point
    # the 8×4 banding is calibrated for (collision prob ≈ 98.5% at j=0.8,
    # ≈ 40% at j=0.5). Word-5-gram shingles: the web-scale-dedup standard —
    # ~6× fewer shingles per doc than char-3-grams and far less background
    # overlap, so both the signature stage and the candidate stream shrink.
    # md5-portable signatures make the whole pipeline oracle-checked
    # value-for-value (the oracle compares signatures all-pairs, which the
    # lossless band filter provably equals).
    from thewhisperdb_spark.operators.text import word_ngrams

    return D.minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=32, bands=8,
                               threshold=0.8, shingler=word_ngrams)


def _simhash_doc_sql(bits: int) -> str:
    """Shared oracle CTE body computing the per-doc simhash exactly as
    dedup.simhash does: one md5-derived 60-bit hash per distinct token, bit
    j votes +1/-1 by bit j of that hash, fingerprint bit j = (vote sum >= 0),
    packed as Σ bit_j << j. Docs with an empty token set default to the
    all-ones value (the Spark fold's zero-vote init)."""
    all_ones = (1 << bits) - 1
    return f"""tk AS MATERIALIZED (
  SELECT doc_id, {_SQL_TOKENS} AS tags FROM documents),
eh AS MATERIALIZED (
  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(tags) AS t FROM tk)),
bitsum AS MATERIALIZED (
  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM eh CROSS JOIN (SELECT unnest(range(0, {bits})) AS j) GROUP BY 1, 2),
sh AS MATERIALIZED (
  SELECT d.doc_id,
    CAST(COALESCE(p.simhash, {all_ones}) AS BIGINT) AS simhash
  FROM documents d LEFT JOIN (
    SELECT doc_id,
      SUM(CASE WHEN vote >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
      AS simhash
    FROM bitsum GROUP BY doc_id) p ON p.doc_id = d.doc_id)"""


@q("simhash_dedup",
   "WITH " + _simhash_doc_sql(32) + """,
r AS (SELECT doc_id, simhash,
  row_number() OVER (PARTITION BY simhash ORDER BY doc_id) AS rk FROM sh)
SELECT simhash, count(*) AS n_docs,
  array_to_string(list_sort(list(doc_id) FILTER (WHERE rk <= 100)), ',')
  AS member_ids_csv
FROM r GROUP BY simhash HAVING count(*) > 1""")
def simhash_dedup(spark, sf_dir):
    # exact-collision simhash groups; md5-portable fingerprints -> the
    # oracle re-derives identical 32-bit values and the same groups.
    # member_ids_csv lists the 100 smallest ids (rank-before-collect keeps
    # the aggregation buffer bounded on mega-collision groups); n_docs is
    # exact.
    return D.simhash_duplicates(_docs(spark, sf_dir), bits=32)


# RETIRED KEY (governance r12): `simhash_band_pairs` is subsumed by
# `simhash_dedup` (same banded kernel, same fingerprint derivation);
# pinned by tests/test_graph_dedup.py::test_simhash_band_pairs_hamming.


def _ann_lsh_sql(dim: int = 64, n_planes: int = 8, n_tables: int = 4,
                 threshold: float = COS_EDGE_THRESHOLD) -> str:
    """DuckDB twin of the random-hyperplane LSH pair search: the ±1 planes
    come from the SAME seeded generator (vectors.rp_planes) inlined as
    literals, each plane dot is spelled out as a left-associated sum (the
    exact order Spark's fold uses, so the sign bits are bit-identical), and
    candidates = pairs sharing any of the 4 table buckets, verified by
    cosine >= θ."""
    from thewhisperdb_spark.operators.vectors import rp_planes

    buckets = []
    for t in range(n_tables):
        planes = rp_planes(dim, n_planes, 42 + t)
        bits = []
        for j, plane in enumerate(planes):
            dot = " + ".join(f"v[{i + 1}]*({w})"
                             for i, w in enumerate(plane))
            bits.append(f"(CASE WHEN ({dot}) >= 0 "
                        f"THEN {1 << (n_planes - 1 - j)} ELSE 0 END)")
        buckets.append("(" + " + ".join(bits) + f") AS b{t}")
    cos = _SQL_COS.format(a="va", b="vb")
    share = " OR ".join(f"x.b{t} = y.b{t}" for t in range(n_tables))
    return f"""WITH e AS MATERIALIZED (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sg AS MATERIALIZED (SELECT id, v, {', '.join(buckets)} FROM e),
cand AS MATERIALIZED (
  SELECT x.id AS a, y.id AS b, x.v AS va, y.v AS vb
  FROM sg x JOIN sg y ON x.id < y.id AND ({share}))
SELECT a, b, round({cos}, 6) AS similarity FROM cand WHERE {cos} >= {threshold}"""


@q("ann_lsh_pairs", _ann_lsh_sql())
def ann_lsh_pairs_q(spark, sf_dir):
    # approximate J6: LSH-bucketed candidate generation + exact re-check.
    # Literal seeded hyperplanes make the bucket bits engine-reproducible,
    # so the oracle replicates the candidate set exactly (not just the
    # verified survivors)
    out = V.ann_lsh_pairs(_emb(spark, sf_dir), threshold=COS_EDGE_THRESHOLD,
                          dim=64, n_planes=8, n_tables=4)
    return out.select("a", "b", F.round("similarity", 6).alias("similarity"))


@q("embed_documents_fallback",
   # contract oracle: every doc gets a dim-32 vector, L2-normalized iff the
   # text has at least one \w+ token (the blake2b vector VALUES aren't
   # SQL-portable, but the shape/normalization contract is)
   "SELECT doc_id, CAST(32 AS BIGINT) AS dim, "
   "CASE WHEN regexp_matches(text, '[A-Za-z0-9_]') THEN 1.0 ELSE 0.0 END "
   "AS l2_norm FROM documents")
def embed_documents_fallback(spark, sf_dir):
    # §2.10 embedding transform with the deterministic local fallback: fill
    # embeddings for documents via batched mapInPandas (hashing-trick
    # embedder stands in for the OpenAI client, EmbeddingClient.cpp:51-122).
    # Output = per-doc shape + norm: dim must be 32 everywhere and the norm
    # 1.0 (0.0 only for token-less text) — round-4 absorbs the float32
    # storage error (~dim·eps ≈ 2e-6) without masking a normalization bug.
    from thewhisperdb_spark.functions.llm import embed_missing, hash_embedder
    d = _docs(spark, sf_dir).select("doc_id", "text")
    out = embed_missing(d, "text", hash_embedder(32), dim=32)
    l2 = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x),
        F.lit(0.0), lambda a, x: a + x))
    return out.select("doc_id", F.size("embedding").cast("long").alias("dim"),
                      F.round(l2, 4).alias("l2_norm"))


_TAG_VOCAB_SQL = "['spark', 'join', 'window', 'stream']"


@q("generate_tags_fallback",
   # the tagger's counting contract in SQL: n_tags = vocab hits + min(room,
   # max_new, distinct non-vocab candidates longer than 3 chars)
   "WITH t AS (SELECT doc_id, "
   "regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), "
   "a AS (SELECT doc_id, "
   "len(list_filter(" + _TAG_VOCAB_SQL + ", v -> list_contains(toks, v))) "
   "AS nv, "
   "len(list_distinct(list_filter(toks, x -> strlen(x) > 3 "
   "AND NOT list_contains(" + _TAG_VOCAB_SQL + ", x)))) AS ncand FROM t) "
   "SELECT doc_id, CAST(nv + least(greatest(5 - nv, 0), 3, ncand) AS BIGINT) "
   "AS n_tags FROM a")
def generate_tags_fallback(spark, sf_dir):
    # §2.10 controlled-vocabulary tagger fallback (TagClient.cpp:62-99
    # contract: vocab tags first, max 3 new, normalized). The tag STRINGS
    # come from Python frequency ranking, but the count contract — vocab
    # overlap + capped new tags — is exactly re-derivable in SQL, which
    # pins the batched mapInPandas path against an independent oracle.
    from thewhisperdb_spark.functions.llm import generate_tags, keyword_tagger
    tagger = keyword_tagger(["spark", "join", "window", "stream"], max_new=3)
    d = _docs(spark, sf_dir).select("doc_id", "text")
    out = generate_tags(d, "text", tagger)
    return out.select("doc_id", F.size("generated_tags").cast("long").alias("n_tags"))


_SQL_UNIT = ("list_transform({v}, x -> x / sqrt(list_dot_product({v}, {v})))")


def _ivf_knn_sql(n_cells: int = 16, n_probe: int = 4, k: int = 5,
                 q_max: int = 20) -> str:
    """DuckDB twin of the IVF k-NN join: same md5-min centroid subsample,
    same argmax-cosine cell assignment (ties -> larger cell, mirroring the
    struct-max), same top-``n_probe`` probe selection and per-query rank
    rule (sim desc, neighbor asc). Similarities are rounded to 6 in the
    OUTPUT on both sides; the orderings use raw doubles, where the ~1e-15
    fold-order drift only matters on near-exact ties."""
    md5key = "CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT)"
    return f"""WITH e AS MATERIALIZED (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eu AS MATERIALIZED (SELECT id, {_SQL_UNIT.format(v='v')} AS u FROM e),
cent AS MATERIALIZED (
  SELECT id AS cell, u AS cu FROM eu ORDER BY {md5key}, id LIMIT {n_cells}),
assign AS MATERIALIZED (
  SELECT id, cell FROM (
    SELECT eu.id, c.cell, row_number() OVER (PARTITION BY eu.id
      ORDER BY list_dot_product(eu.u, c.cu) DESC, c.cell DESC) AS rn
    FROM eu CROSS JOIN cent c) WHERE rn = 1),
probes AS MATERIALIZED (
  SELECT query_id, cell FROM (
    SELECT q.id AS query_id, c.cell, row_number() OVER (PARTITION BY q.id
      ORDER BY list_dot_product(q.u, c.cu) DESC, c.cell ASC) AS rk
    FROM eu q CROSS JOIN cent c WHERE q.id < {q_max}) WHERE rk <= {n_probe}),
cand AS MATERIALIZED (
  SELECT p.query_id, a.id AS neighbor_id,
    list_dot_product(qu.u, nu.u) AS sim
  FROM probes p JOIN assign a ON a.cell = p.cell
  JOIN eu qu ON qu.id = p.query_id JOIN eu nu ON nu.id = a.id
  WHERE a.id <> p.query_id)
SELECT query_id, neighbor_id, round(sim, 6) AS similarity,
  CAST(rk AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY sim DESC, neighbor_id ASC) AS rk FROM cand) WHERE rk <= {k}"""


@q("ivf_knn", _ivf_knn_sql())
def ivf_knn(spark, sf_dir):
    # approximate J7 at scale: IVF inverted-list k-NN. The md5-min centroid
    # subsample makes the inverted lists engine-reproducible, so the oracle
    # re-derives assignment, probing, and ranking end-to-end (recall vs
    # brute force is additionally measured in tests/test_tags_vectors.py)
    e = _emb(spark, sf_dir)
    out = V.ivf_knn_join(e.filter(F.col("vec_id") < 20), e, k=5,
                         n_cells=16, n_probe=4)
    return out.select("query_id", "neighbor_id",
                      F.round("similarity", 6).alias("similarity"),
                      F.col("rank").cast("long").alias("rank"))


@q("pq_knn",
   # contract oracle (kmeans pattern): the float-codebook shortlist isn't
   # SQL-portable, but the k-NN output contract is — per query exactly k
   # neighbors with dense 1..k ranks, no self-match, valid corpus ids,
   # similarities in [-1, 1]
   "SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_neighbors, "
   "TRUE AS ranks_dense, TRUE AS no_self, TRUE AS ids_valid, "
   "TRUE AS sims_bounded FROM embeddings WHERE vec_id < 20")
def pq_knn(spark, sf_dir):
    # PQ-compressed ANN (train -> encode to m-byte codes -> ADC table-lookup
    # scan -> exact re-rank): the I/O-bound scale path where the corpus scan
    # reads 32x fewer bytes than raw vectors. Recall vs brute force measured
    # in tests/test_tags_vectors.py; the driver-checked output is the
    # per-query k-NN contract (which neighbors is float territory).
    e = _emb(spark, sf_dir)
    out = V.pq_knn_join(e.filter(F.col("vec_id") < 20), e, k=5,
                        m=8, n_centroids=32, rerank=64)
    valid = e.select(F.col("vec_id").alias("neighbor_id"),
                     F.lit(True).alias("_ok"))
    n = F.count(F.lit(1))
    return (out.join(valid, "neighbor_id", "left")
            .groupBy("query_id")
            .agg(n.alias("n_neighbors"),
                 ((F.max("rank") == n) & (F.count_distinct("rank") == n))
                 .alias("ranks_dense"),
                 F.bool_and(F.col("neighbor_id") != F.col("query_id"))
                 .alias("no_self"),
                 F.bool_and(F.coalesce("_ok", F.lit(False))).alias("ids_valid"),
                 F.bool_and(F.abs("similarity") <= 1.000001)
                 .alias("sims_bounded")))


@q("doc_fingerprint",
   # left join back to documents: a doc with zero tokens still gets a row
   # (fingerprint 0 = the Spark fold's init), instead of vanishing from the
   # GROUP BY
   "WITH f AS (SELECT doc_id, bit_xor(CAST('0x' || substr(md5(t), 1, 15) "
   "AS BIGINT)) AS fp FROM (SELECT doc_id, "
   "unnest(" + _SQL_TOKENS + ") AS t FROM documents) GROUP BY doc_id) "
   "SELECT d.doc_id, COALESCE(f.fp, 0) AS fingerprint "
   "FROM documents d LEFT JOIN f ON f.doc_id = d.doc_id")
def doc_fingerprint(spark, sf_dir):
    # order-insensitive content fingerprint: XOR of md5-derived hashes of
    # the distinct token set — engine-portable by construction, so the
    # oracle re-derives identical fingerprints from the same md5 bits
    return _docs(spark, sf_dir).select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


# ---- training-pipeline surface round 2: sampling, decontamination, skew ----

@q("deterministic_sample",
   "SELECT doc_id, lang, source, n_chars FROM documents "
   "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '28'")
def deterministic_sample(spark, sf_dir):
    # md5-prefix sample (0x28/256 = 15.6%): reproducible across engines and
    # runs (a property of the data, not the run), filter-only so it rides the
    # scan with zero shuffle
    return SM.hash_sample(_docs(spark, sf_dir), keep_bytes=0x28).select(
        "doc_id", "lang", "source", "n_chars")


@q("split_assign_counts",
   "SELECT lang, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' "
   "THEN 'train' WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' "
   "THEN 'val' ELSE 'test' END AS split, count(*) AS n, "
   "CAST(SUM(n_chars) AS BIGINT) AS total_chars "
   "FROM documents GROUP BY 1, 2")
def split_assign_counts(spark, sf_dir):
    # deterministic md5-bucketed train/val/test assignment (~80/10/10) with
    # per-(lang, split) size accounting — the reproducible-split primitive
    # every dataset card needs (operators/sampling.py:three_way_split)
    return (SM.three_way_split(_docs(spark, sf_dir))
            .groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


@q("stratified_sample_by_lang",
   "SELECT doc_id, lang, rk FROM ("
   "SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang "
   "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) "
   "WHERE rk <= 20")
def stratified_sample_by_lang(spark, sf_dir):
    # fixed-N-per-language eval draw in deterministic md5 order; rank pushdown
    # keeps per-stratum state bounded even when one language dominates
    return SM.stratified_sample(_docs(spark, sf_dir), "lang", 20).select(
        "doc_id", "lang", "rk")


@q("grouping_sets_revenue",
   "SELECT COALESCE(o_orderstatus, 'ALL') AS status, "
   "COALESCE(o_orderpriority, 'ALL') AS priority, "
   "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue, "
   "COUNT(*) AS n_orders FROM orders "
   "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())")
def grouping_sets_revenue(spark, sf_dir):
    # explicit GROUPING SETS (finer than rollup/cube, §2.6 family): one
    # shuffle computes all three granularities via grouping-id expansion
    o = load_table(spark, sf_dir, "orders")
    g = (o.groupingSets([["o_orderstatus", "o_orderpriority"],
                         ["o_orderstatus"], []],
                        "o_orderstatus", "o_orderpriority")
         .agg(_sum_dec("o_totalprice", "revenue"),
              F.count(F.lit(1)).alias("n_orders")))
    return g.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "revenue", "n_orders")


@q("word_freq_topk",
   "WITH t AS (SELECT unnest(list_filter(string_split(lower(text), ' '), "
   "t -> t <> '')) AS word FROM documents) "
   "SELECT word, COUNT(*) AS cnt FROM t GROUP BY word "
   "ORDER BY cnt DESC, word LIMIT 50")
def word_freq_topk(spark, sf_dir):
    # corpus vocabulary head: explode -> count -> top-k with deterministic
    # tiebreak; partial aggregation absorbs the Zipf head map-side, so the
    # hot words never concentrate raw rows on one reducer
    t = (_docs(spark, sf_dir)
         .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
         .filter(F.col("word") != ""))
    return (t.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("word")).limit(50))


@q("decontaminate_train_test",
   "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
   "t -> t <> '') AS ws FROM documents), "
   "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
   "generate_series(1, greatest(len(ws) - 7, 1)), "
   "i -> array_to_string(ws[i:i+7], ' ')))) AS sh FROM w) "
   "SELECT DISTINCT t.doc_id FROM sh t "
   "JOIN (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 <> 0) tr "
   "ON t.sh = tr.sh WHERE t.doc_id % 10 = 0")
def decontaminate_train_test(spark, sf_dir):
    # eval-leakage check: test docs (doc_id % 10 == 0) sharing any word
    # 8-gram with the train split; shingle equi-join, never doc x doc
    return D.cross_split_contamination(
        _docs(spark, sf_dir), F.col("doc_id") % 10 == 0, n=8)


@q("repetition_ratio",
   "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
   "t -> t <> '') AS ws FROM documents), "
   "g AS (SELECT doc_id, list_transform(generate_series(1, "
   "greatest(len(ws) - 2, 1)), i -> array_to_string(ws[i:i+2], ' ')) AS grams "
   "FROM w) "
   "SELECT doc_id, 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / "
   "len(grams) AS rep_ratio FROM g")
def repetition_ratio_q(spark, sf_dir):
    # Gopher-style repeated-trigram fraction (quality filter signal);
    # exact-integer division -> bit-identical on both engines
    return _docs(spark, sf_dir).select(
        "doc_id", TX.repetition_ratio(F.col("text"), 3).alias("rep_ratio"))


@q("boilerplate_prefix_groups",
   "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
   "t -> t <> '') AS ws FROM documents) "
   "SELECT array_to_string(ws[1:10], ' ') AS prefix, COUNT(*) AS n_docs, "
   "MIN(doc_id) AS keeper FROM w GROUP BY 1 HAVING COUNT(*) > 1")
def boilerplate_prefix_groups(spark, sf_dir):
    # shared leading-10-token prefixes (template/boilerplate detector);
    # single hash shuffle on the prefix, min-id keeper like exact dedup
    toks = TX.tokens(F.col("text"))
    return (_docs(spark, sf_dir)
            .select("doc_id", F.concat_ws(" ", F.slice(toks, 1, 10)).alias("prefix"))
            .groupBy("prefix")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
            .filter(F.col("n_docs") > 1))


@q("skew_safe_distinct_users",
   "SELECT event_type, COUNT(DISTINCT user_id) AS n_users "
   "FROM events GROUP BY event_type")
def skew_safe_distinct_users(spark, sf_dir):
    # two-shuffle COUNT DISTINCT rewrite: dedup on (type, user) spreads a hot
    # type across buckets; phase 2 is a stateless count
    ev = load_table(spark, sf_dir, "events")
    return SM.skew_safe_count_distinct(ev, "event_type", "user_id", "n_users")


@q("salted_user_event_totals",
   "SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS "
   "total_value, COUNT(*) AS n_events FROM events GROUP BY user_id")
def salted_user_event_totals(spark, sf_dir):
    # explicit salted two-phase SUM/COUNT (the AQE skew-split shape, spelled
    # out); decimal partials make the merge order-insensitive so the result
    # is bit-identical to the direct groupBy
    ev = load_table(spark, sf_dir, "events")
    out = SM.salted_sum(ev, "user_id", _dec("value"), F.col("event_id"), 16,
                        "total_value", "n_events")
    return out.select("user_id",
                      F.col("total_value").cast("double").alias("total_value"),
                      "n_events")


@q("first_last_event_per_user",
   "WITH r AS (SELECT user_id, event_type, ts, "
   "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rf, "
   "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rl "
   "FROM events) "
   "SELECT f.user_id, f.event_type AS first_type, f.ts AS first_ts, "
   "l.event_type AS last_type, l.ts AS last_ts "
   "FROM (SELECT * FROM r WHERE rf = 1) f "
   "JOIN (SELECT * FROM r WHERE rl = 1) l USING (user_id)")
def first_last_event_per_user(spark, sf_dir):
    # first/last event per user via MIN/MAX over (ts, event_id, payload)
    # structs — a single partial-aggregating shuffle (struct comparison is
    # lexicographic, event_id breaks ts ties), vs. the oracle's two window
    # sorts + self-join. Same result, one pass, map-side combinable.
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("f"),
        F.max(F.struct("ts", "event_id", "event_type")).alias("l"))
    return agg.select(
        "user_id",
        F.col("f.event_type").alias("first_type"), F.col("f.ts").alias("first_ts"),
        F.col("l.event_type").alias("last_type"), F.col("l.ts").alias("last_ts"))


@q("events_sliding_window_counts",
   "WITH g AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, event_type "
   "FROM events), "
   "u AS (SELECT b AS wstart, event_type FROM g "
   "UNION ALL SELECT b - INTERVAL '5 minutes', event_type FROM g) "
   "SELECT wstart, event_type, COUNT(*) AS n FROM u "
   "GROUP BY wstart, event_type")
def events_sliding_window_counts(spark, sf_dir):
    # hopping windows (10 min span / 5 min slide): F.window assigns each
    # event its span/slide = 2 windows; the oracle reconstructs the same
    # assignment as two shifted tumbling grids (both engines 5-min-aligned
    # to a common epoch). The same expression runs under readStream for the
    # streaming twin of this query.
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("wstart"), "event_type", "n"))


@q("set_intersect_sources",
   "SELECT source FROM documents WHERE lang = 'en' "
   "INTERSECT SELECT source FROM documents WHERE n_chars > 500")
def set_intersect_sources(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (d.filter(F.col("lang") == "en").select("source")
            .intersect(d.filter(F.col("n_chars") > 500).select("source")))


@q("set_except_sources",
   "SELECT source FROM documents "
   "EXCEPT SELECT source FROM documents WHERE n_chars > 500")
def set_except_sources(spark, sf_dir):
    # SQL EXCEPT is SET difference -> subtract (exceptAll would keep
    # multiplicity-surplus rows)
    d = _docs(spark, sf_dir)
    return d.select("source").subtract(
        d.filter(F.col("n_chars") > 500).select("source"))


@q("events_zscore_outliers",
   "WITH s AS (SELECT event_type, COUNT(*) AS n, "
   "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv, "
   "CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) "
   "AS DOUBLE) AS svv FROM events GROUP BY event_type), "
   "p AS (SELECT event_type, sv / n AS mu, "
   "sqrt((svv - sv * sv / n) / (n - 1)) AS sd FROM s) "
   "SELECT e.event_id, e.event_type, ROUND((e.value - mu) / sd, 4) AS z "
   "FROM events e JOIN p USING (event_type) "
   "WHERE ABS((e.value - mu) / sd) > 2.5")
def events_zscore_outliers(spark, sf_dir):
    # per-type z-score outliers via single-pass algebraic moments (n, Σx,
    # Σx²) — decimal sums make the moments bit-identical regardless of
    # partial-merge order, then mu/sd derive in double identically on both
    # engines. Stats table is group-count-sized -> broadcast joins back.
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _sum_dec("value", "sv"),
        F.sum(_dec("value") * _dec("value")).cast("double").alias("svv"))
    p = s.select(
        "event_type", (F.col("sv") / F.col("n")).alias("mu"),
        F.sqrt((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n"))
               / (F.col("n") - 1)).alias("sd"))
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (ev.join(F.broadcast(p), "event_type")
            .filter(F.abs(z) > 2.5)
            .select("event_id", "event_type", F.round(z, 4).alias("z")))


@q("pack_sequences",
   "WITH t AS (SELECT doc_id, lang, CAST(len(list_filter(string_split(text, "
   "' '), x -> x <> '')) AS BIGINT) AS n_tok FROM documents), "
   "c AS (SELECT lang AS shard, doc_id, n_tok, "
   "COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t) "
   "SELECT shard, CAST(cb // 512 AS BIGINT) AS bin_id, "
   "COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens "
   "FROM c GROUP BY 1, 2")
def pack_sequences(spark, sf_dir):
    # concat-and-chunk sequence packing into 512-token training bins,
    # sharded by lang (deterministic doc_id order within shard)
    from thewhisperdb_spark.operators import packing as PK

    return PK.pack_sequences(_docs(spark, sf_dir), budget=512)


@q("chunk_documents",
   "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), "
   "x -> x <> '') AS toks FROM documents), "
   "s AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 48)) "
   "AS start FROM t WHERE len(toks) > 0) "
   "SELECT doc_id, CAST(start AS BIGINT) AS chunk_start, "
   "CAST(len(list_slice(toks, start, start + 63)) AS BIGINT) "
   "AS n_chunk_tokens, "
   "md5(array_to_string(list_slice(toks, start, start + 63), ' ')) "
   "AS chunk_hash FROM s")
def chunk_documents(spark, sf_dir):
    # overlapping 64-token windows at stride 48 (RAG/embedding chunking);
    # row-local explode, chunk identity = md5 of the rejoined window
    from thewhisperdb_spark.operators import packing as PK

    return PK.chunk_documents(_docs(spark, sf_dir), width=64, stride=48)


@q("weighted_sample",
   "SELECT doc_id, lang, n_chars, "
   "ROUND(-ln((((doc_id * 2654435761) % 1000003) + 1) / 1000004.0) "
   "/ n_chars, 6) AS ekey_r "
   "FROM documents WHERE n_chars > 0 "
   "ORDER BY -ln((((doc_id * 2654435761) % 1000003) + 1) / 1000004.0) "
   "/ n_chars, doc_id LIMIT 100")
def weighted_sample(spark, sf_dir):
    # Efraimidis–Spirakis weighted sample without replacement, k=100,
    # weight = n_chars; deterministic integer-arithmetic uniform so both
    # engines draw the identical sample
    out = SM.weighted_sample_aes(_docs(spark, sf_dir), k=100)
    return out.select("doc_id", "lang", "n_chars",
                      F.round("ekey", 6).alias("ekey_r"))


@q("retention_cohorts",
   "WITH active AS (SELECT DISTINCT user_id AS u, "
   "CAST(date_trunc('day', ts) AS DATE) AS d FROM events), "
   "cu AS (SELECT u, d, MIN(d) OVER (PARTITION BY u) AS cohort FROM active) "
   "SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day, "
   "date_diff('day', cohort, d) AS day_offset, "
   "COUNT(*) AS n_users FROM cu GROUP BY 1, 2")
def retention_cohorts(spark, sf_dir):
    # cohort-retention matrix: distinct (user, day) -> per-user min-day
    # window on the SAME partitioning -> tiny (day, offset) count.
    # cohort_day formatted to a string: pandas maps DuckDB DATE to
    # datetime64 but Spark DATE to date objects, so raw dates hash-differ.
    ev = load_table(spark, sf_dir, "events")
    out = EV.retention_cohorts(ev)
    return out.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"), "n_users")


@q("funnel_conversion",
   "WITH e AS (SELECT user_id, ts, event_type FROM events), "
   "s0 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END) "
   "OVER (PARTITION BY user_id) AS t0 FROM e), "
   "s1 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t0 "
   "THEN ts END) OVER (PARTITION BY user_id) AS t1 FROM s0), "
   "s2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t1 "
   "THEN ts END) OVER (PARTITION BY user_id) AS t2 FROM s1), "
   "pu AS (SELECT user_id, MAX(t0) AS t0, MAX(t1) AS t1, MAX(t2) AS t2 "
   "FROM s2 GROUP BY user_id), "
   "c AS (SELECT COUNT(t0) AS n0, COUNT(t1) AS n1, COUNT(t2) AS n2 FROM pu) "
   "SELECT 0 AS step_idx, 'view' AS step, n0 AS n_users FROM c "
   "UNION ALL SELECT 1, 'click', n1 FROM c "
   "UNION ALL SELECT 2, 'purchase', n2 FROM c")
def funnel_conversion(spark, sf_dir):
    # ordered view->click->purchase funnel: one shuffle on user, window-min
    # cascade (each step's min references the previous step's column), then
    # a 3-row unpivot of a single-row aggregate
    ev = load_table(spark, sf_dir, "events")
    return EV.funnel_conversion(ev, ["view", "click", "purchase"])


@q("streaming_enrich_segment_totals",
   "SELECT c_mktsegment AS segment, COUNT(*) AS n, "
   "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value "
   "FROM events e JOIN customer c ON e.user_id = c.c_custkey "
   "GROUP BY c_mktsegment")
def streaming_enrich_segment_totals(spark, sf_dir):
    # stream-static join: the event stream enriched per micro-batch with the
    # static customer dim (broadcast, no state store), then aggregated —
    # checked against the batch join oracle
    import tempfile

    from thewhisperdb_spark.streaming import jobs as SJ

    out_dir = tempfile.mkdtemp(prefix="whisper_stream_")
    path = SJ.events_to_stream_dir(spark, sf_dir, out_dir, n_chunks=4)
    stream = SJ.stream_events_from_dir(spark, path)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    enriched = SJ.enrich_with_dim(stream, cust, "user_id", "c_custkey")
    agg = (enriched.groupBy(F.col("c_mktsegment").alias("segment"))
           .agg(F.count(F.lit(1)).alias("n"),
                _sum_dec("value", "total_value")))
    name = "q_stream_enrich"
    q_ = (agg.writeStream.outputMode("complete").format("memory")
          .queryName(name).trigger(availableNow=True).start())
    q_.awaitTermination()
    return spark.sql(f"SELECT segment, n, total_value FROM {name}")


@q("unigram_surprisal_score",
   "WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
   "t -> t <> '')) AS w FROM documents), "
   "freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w), "
   "tot AS (SELECT SUM(cnt) AS total FROM freq), "
   "surp AS (SELECT doc_id, CAST(ROUND(-ln(CAST(cnt AS DOUBLE) / total), 9) "
   "AS DECIMAL(18,9)) AS s FROM tok JOIN freq USING (w) CROSS JOIN tot) "
   "SELECT doc_id, COUNT(*) AS n_tokens, "
   "ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 4) AS avg_surprisal "
   "FROM surp GROUP BY doc_id "
   "UNION ALL "
   "SELECT doc_id, CAST(0 AS BIGINT) AS n_tokens, 0.0 AS avg_surprisal "
   "FROM documents WHERE COALESCE(len(list_filter(string_split(text, ' '), "
   "t -> t <> '')), 0) = 0")
def unigram_surprisal_score(spark, sf_dir):
    # corpus-trained unigram LM scoring (perplexity-proxy quality filter):
    # high mean token surprisal = rare-token noise candidate. Decimal-summed
    # rounded surprisals keep the mean order-insensitive on both engines.
    return TX.unigram_surprisal(_docs(spark, sf_dir))


@q("triangle_count",
   f"""WITH {_cos_pairs_sql(COS_EDGE_THRESHOLD)},
ce AS (SELECT a, b FROM pairs),
w AS (SELECT x.a AS a, x.b AS b, y.b AS c FROM ce x JOIN ce y ON x.b = y.a)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM w JOIN ce z ON w.a = z.a AND w.c = z.b""")
def triangle_count_q(spark, sf_dir):
    # clustering-coefficient numerator over the cosine similarity graph:
    # canonical a<b<c edge orientation counts each triangle exactly once via
    # two equi-joins (wedge close), never an all-pairs pass
    pairs = V.similar_pairs(_emb(spark, sf_dir), COS_EDGE_THRESHOLD)
    return G.triangle_count(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")))


def _pagerank_sql(n_iter: int = 10, damping: float = 0.85,
                  threshold: float = COS_EDGE_THRESHOLD, topk: int = 20) -> str:
    """DuckDB twin of graph.pagerank: the fixed-iteration power method
    unrolled as chained CTEs (one dangling-mass scalar, one contribution
    aggregate, one damping blend per round — exactly the Spark loop body).
    Recursive CTEs can't aggregate in the recursive term, but a FIXED
    iteration count needs no recursion at all. Every CTE is MATERIALIZED:
    DuckDB inlines CTEs by default, and r{{i+1}} references r{{i}} twice
    (dangling scalar + contributions) — inlined, the plan tree doubles per
    round (2^10 copies of the n^2 cosine join) and never finishes."""
    parts = [
        "WITH " + _cos_pairs_sql(threshold).replace(
            "e AS (", "e AS MATERIALIZED (", 1).replace(
            "pairs AS (", "pairs AS MATERIALIZED (", 1) + ",",
        "und AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs "
        "UNION ALL SELECT b, a FROM pairs),",
        "verts AS MATERIALIZED (SELECT vec_id AS id FROM embeddings),",
        "st AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),",
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg "
        "FROM und GROUP BY 1),",
        "r0 AS MATERIALIZED (SELECT v.id, 1.0 / st.n AS rank "
        "FROM verts v CROSS JOIN st)",
    ]
    for i in range(n_iter):
        parts.append(
            f", d{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dm "
            f"FROM r{i} r LEFT JOIN deg g ON g.id = r.id WHERE g.id IS NULL)"
            f", c{i} AS MATERIALIZED (SELECT u.dst AS id, "
            f"SUM(r.rank / g.deg) AS c "
            f"FROM und u JOIN deg g ON g.id = u.src "
            f"JOIN r{i} r ON r.id = u.src GROUP BY u.dst)"
            f", r{i + 1} AS MATERIALIZED (SELECT v.id, "
            f"(1.0 - {damping}) / st.n "
            f"+ {damping} * (COALESCE(c.c, 0.0) + d.dm / st.n) AS rank "
            f"FROM verts v CROSS JOIN st CROSS JOIN d{i} d "
            f"LEFT JOIN c{i} c ON c.id = v.id)")
    parts.append(
        f" SELECT id, round(rank, 6) AS rank FROM r{n_iter} "
        f"ORDER BY round(rank, 6) DESC, id LIMIT {topk}")
    return "".join(parts)


@q("pagerank_top", _pagerank_sql())
def pagerank_top(spark, sf_dir):
    # PageRank over the similarity graph (dangling mass redistributed so
    # ranks stay a distribution). Fixed iteration count -> the oracle unrolls
    # the same 10 power-method rounds as chained CTEs; ordering on the
    # 6-decimal rounded rank keeps the top-20 cut identical across engines
    # (raw doubles drift ~1e-15 between summation orders).
    e = _emb(spark, sf_dir)
    pairs = V.similar_pairs(e, COS_EDGE_THRESHOLD)
    ranks = G.pagerank(e.select(F.col("vec_id").alias("id")),
                       pairs.select(F.col("a").alias("src"),
                                    F.col("b").alias("dst")),
                       n_iter=10)
    r6 = F.round("rank", 6)
    return (ranks.orderBy(r6.desc(), F.col("id")).limit(20)
            .select("id", r6.alias("rank")))


def _core_sql(n_rounds: int = 50, threshold: float = COS_EDGE_THRESHOLD,
              topk: int = 50) -> str:
    """DuckDB twin of graph.core_numbers: the h-index coreness fixpoint
    unrolled as materialized CTEs. Estimates are INTEGERS, start at degree,
    and are monotone non-increasing with c(v) = least(c(v), h-index of
    neighbor estimates) — a converged state is a fixpoint, so unrolling the
    full ``max_iter`` rounds reproduces Spark's early-stopped result
    exactly. The h-index over neighbors without arrays:
    max(least(estimate, row_number ordered by estimate desc))."""
    parts = [
        "WITH " + _cos_pairs_sql(threshold).replace(
            "e AS (", "e AS MATERIALIZED (", 1).replace(
            "pairs AS (", "pairs AS MATERIALIZED (", 1) + ",",
        "und AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs "
        "UNION ALL SELECT b, a FROM pairs),",
        "c0 AS MATERIALIZED (SELECT src AS id, count(*) AS c "
        "FROM und GROUP BY 1)",
    ]
    for i in range(n_rounds):
        parts.append(
            f", h{i} AS MATERIALIZED (SELECT id, max(least(est, rn)) AS h "
            f"FROM (SELECT u.dst AS id, l.c AS est, row_number() OVER "
            f"(PARTITION BY u.dst ORDER BY l.c DESC) AS rn "
            f"FROM und u JOIN c{i} l ON l.id = u.src) GROUP BY id)"
            f", c{i + 1} AS MATERIALIZED (SELECT o.id, least(o.c, h.h) AS c "
            f"FROM c{i} o JOIN h{i} h ON h.id = o.id)")
    parts.append(
        f" SELECT id, c AS coreness FROM c{n_rounds} "
        f"ORDER BY c DESC, id LIMIT {topk}")
    return "".join(parts)


@q("graph_core_numbers", _core_sql())
def graph_core_numbers(spark, sf_dir):
    # k-core decomposition of the cosine similarity graph via the h-index
    # fixpoint — density structure for curriculum/diversity decisions that
    # component ids can't see. Integer monotone estimates -> exact oracle
    # parity via the unrolled-CTE twin; pytest additionally pins exact
    # coreness on known graphs (test_core_numbers_and_k_core).
    e = _emb(spark, sf_dir)
    pairs = V.similar_pairs(e, COS_EDGE_THRESHOLD)
    return (G.core_numbers(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")))
        .orderBy(F.col("coreness").desc(), F.col("id")).limit(50))


def _lpa_sql(n_rounds: int = 20, threshold: float = COS_EDGE_THRESHOLD,
             topk: int = 20) -> str:
    """DuckDB twin of graph.label_propagation: synchronous LPA unrolled as
    materialized CTEs. Exact parity holds because every vote is an INTEGER
    count (no float drift) and a converged state is a fixpoint — Spark's
    early-stop at round k < 20 leaves the same labels the oracle's remaining
    unrolled rounds preserve; an oscillating graph runs the same 20 rounds
    on both engines."""
    parts = [
        "WITH " + _cos_pairs_sql(threshold).replace(
            "e AS (", "e AS MATERIALIZED (", 1).replace(
            "pairs AS (", "pairs AS MATERIALIZED (", 1) + ",",
        "und AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs "
        "UNION ALL SELECT b, a FROM pairs),",
        "verts AS MATERIALIZED (SELECT vec_id AS id FROM embeddings),",
        "touched AS MATERIALIZED (SELECT DISTINCT src AS id FROM und),",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM touched)",
    ]
    for i in range(n_rounds):
        parts.append(
            f", v{i} AS MATERIALIZED (SELECT u.dst AS id, l.label, "
            f"count(*) AS cnt FROM und u JOIN l{i} l ON l.id = u.src "
            f"GROUP BY 1, 2)"
            f", l{i + 1} AS MATERIALIZED (SELECT id, label FROM "
            f"(SELECT id, label, row_number() OVER (PARTITION BY id "
            f"ORDER BY cnt DESC, label ASC) AS rn FROM v{i}) WHERE rn = 1)")
    parts.append(
        f", final_labels AS (SELECT * FROM l{n_rounds} "
        f"UNION ALL SELECT v.id, v.id AS label FROM verts v "
        f"LEFT JOIN touched t ON t.id = v.id WHERE t.id IS NULL) "
        f"SELECT label, count(*) AS n_members FROM final_labels "
        f"GROUP BY label ORDER BY n_members DESC, label LIMIT {topk}")
    return "".join(parts)


@q("label_prop_communities", _lpa_sql())
def label_prop_communities(spark, sf_dir):
    # deterministic synchronous LPA over the similarity graph; communities
    # refine connected components when near-dup chains merge. Reports the
    # 20 largest communities. Integer votes -> exact oracle parity via the
    # unrolled-CTE twin; pytest additionally pins behavior on known cliques
    # (test_label_propagation_two_cliques).
    e = _emb(spark, sf_dir)
    pairs = V.similar_pairs(e, COS_EDGE_THRESHOLD)
    labels = G.label_propagation(
        e.select(F.col("vec_id").alias("id")),
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    return (labels.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
            .orderBy(F.col("n_members").desc(), F.col("label")).limit(20))


@q("jsonl_roundtrip_by_lang",
   "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars "
   "FROM documents GROUP BY lang")
def jsonl_roundtrip_by_lang(spark, sf_dir):
    # line-delimited JSON ingest path: documents written as JSONL, read back
    # through the declared-schema PERMISSIVE reader (no inference scan, bad
    # lines quarantined, none here), aggregated — must equal the parquet
    # truth the oracle reads
    import tempfile

    from thewhisperdb_spark.sources import textio

    out = tempfile.mkdtemp(prefix="whisper_jsonl_")
    _docs(spark, sf_dir).write.mode("overwrite").json(out)
    clean, bad = textio.split_quarantine(textio.read_jsonl(spark, out))
    return (clean.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


@q("mixture_sample_by_lang",
   "SELECT doc_id, lang, source FROM documents WHERE "
   "CASE lang WHEN 'en' THEN TRUE "
   "WHEN 'de' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80' "
   "ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40' END")
def mixture_sample_by_lang(spark, sf_dir):
    # training-mix resampling: en kept whole, de at 50%, the rest at 25% —
    # deterministic, nested (raising a rate only grows the kept set), and
    # filter-only so it rides the scan
    return SM.mixture_sample(
        _docs(spark, sf_dir), {"en": 1.0, "de": 0.5}, "lang",
        default_rate=0.25).select("doc_id", "lang", "source")


@q("quality_filter_pipeline",
   "WITH w AS (SELECT doc_id, lang, n_chars, "
   "list_filter(string_split(text, ' '), t -> t <> '') AS ws FROM documents), "
   "g AS (SELECT *, list_transform(generate_series(1, "
   "greatest(len(ws) - 2, 1)), i -> array_to_string(ws[i:i+2], ' ')) AS grams "
   "FROM w) "
   "SELECT doc_id, lang, n_chars FROM g "
   "WHERE len(ws) >= 10 AND n_chars BETWEEN 50 AND 5000 "
   "AND CAST(len(list_filter(ws, t -> list_contains("
   "['the','a','of','and','to','in','is','it'], lower(t)))) AS DOUBLE) / "
   "greatest(len(ws), 1) >= 0.05 "
   "AND 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) <= 0.2")
def quality_filter_pipeline(spark, sf_dir):
    # C4-style cleaning recipe as ONE conjunctive filter pass: length window,
    # minimum token count, stopword-ratio floor (natural-language check),
    # repetition-ratio ceiling (boilerplate check). All codegen'd SQL over
    # one bound token array — a single corpus scan, no Python, no shuffle.
    c = F.col("text")
    toks = TX.tokens(c)
    stop = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    stop_ratio = n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1))
    return (_docs(spark, sf_dir)
            .filter((F.size(toks) >= 10)
                    & F.col("n_chars").between(50, 5000)
                    & (stop_ratio >= 0.05)
                    & (TX.repetition_ratio(c, 3) <= 0.2))
            .select("doc_id", "lang", "n_chars"))


@q("incremental_prefix_dedup",
   "WITH w AS (SELECT doc_id, array_to_string((list_filter(string_split("
   "text, ' '), t -> t <> ''))[1:10], ' ') AS p FROM documents) "
   "SELECT n.doc_id, MIN(c.doc_id) AS dup_of FROM w n "
   "JOIN w c ON n.p = c.p AND c.doc_id < 400 "
   "WHERE n.doc_id >= 400 GROUP BY n.doc_id")
def incremental_prefix_dedup(spark, sf_dir):
    # incremental dedup: a new crawl batch (doc_id >= 400) checked against
    # the existing corpus by leading-10-token prefix — the daily-ingest shape
    # where the corpus side is a pre-bucketed historical index and only the
    # batch is new. Prefix equi-join; at scale join on xxhash64(prefix).
    toks = TX.tokens(F.col("text"))
    w = _docs(spark, sf_dir).select(
        "doc_id", F.concat_ws(" ", F.slice(toks, 1, 10)).alias("p"))
    corpus = w.filter(F.col("doc_id") < 400).select(
        F.col("doc_id").alias("c_id"), F.col("p").alias("cp"))
    batch = w.filter(F.col("doc_id") >= 400)
    return (batch.join(corpus, batch["p"] == corpus["cp"])
            .groupBy("doc_id").agg(F.min("c_id").alias("dup_of")))


@q("kmeans_clusters",
   # contract oracle (embed_documents_fallback pattern): the float-iterative
   # assignments aren't SQL-portable, but the conservation contract is —
   # every embedding assigned exactly once, to a cluster label that is a
   # real seed vec_id (kmeans_fit labels cells by their deterministic
   # xxhash64-min seed ids, not 0..k-1)
   "SELECT vec_id, CAST(1 AS BIGINT) AS n_assign, TRUE AS cluster_valid "
   "FROM embeddings")
def kmeans_clusters(spark, sf_dir):
    # distributed spherical k-means (literal-centroid argmax assign, one
    # map-side-combined shuffle per iteration); deterministic init -> stable
    # rows; pytest checks blob recovery + determinism. The driver-checked
    # output is the per-row assignment contract (exactly-once, label is a
    # valid seed id); the float assignments themselves stay pytest-verified.
    emb = _emb(spark, sf_dir)
    lab = V.kmeans_assign(emb, k=10, max_iter=5)
    seeds = emb.select(F.col("vec_id").alias("cluster"),
                       F.lit(True).alias("_seed"))
    return (lab.join(seeds, "cluster", "left")
            .groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("n_assign"),
                 F.bool_and(F.coalesce("_seed", F.lit(False)))
                 .alias("cluster_valid")))


@q("kmeans_diverse_sample",
   # contract oracle: per-cluster caps + dense 1..n ranks + sampled ids
   # valid and unique — all portable; which ids land in which float-derived
   # cluster is pytest territory
   "SELECT TRUE AS caps_ok, TRUE AS rk_dense, "
   "CAST(0 AS BIGINT) AS n_invalid_ids, CAST(0 AS BIGINT) AS n_dup_ids "
   "FROM (SELECT 1 FROM embeddings LIMIT 1)")
def kmeans_diverse_sample(spark, sf_dir):
    # diversity-aware subsampling: cluster the embedding space, then draw a
    # fixed-N deterministic sample per cluster — the curation pattern for
    # balancing a training mix across semantic regions. Checked contract:
    # <=5 rows per cluster with ranks exactly 1..n, and every sampled
    # vec_id exists in embeddings exactly once.
    emb = _emb(spark, sf_dir)
    lab = V.kmeans_assign(emb, k=10, max_iter=5)
    smp = (SM.stratified_sample(lab, "cluster", 5, id_col="vec_id")
           .select("vec_id", "cluster", "rk"))
    per_cluster = smp.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("rk").alias("max_rk"),
        F.count_distinct("rk").alias("n_rk"))
    caps = per_cluster.agg(
        F.bool_and(F.col("n") <= 5).alias("caps_ok"),
        F.bool_and((F.col("max_rk") == F.col("n"))
                   & (F.col("n_rk") == F.col("n"))).alias("rk_dense"))
    ids = (smp.join(emb.select("vec_id", F.lit(1).alias("ok")),
                    "vec_id", "left")
           .agg(F.sum(F.when(F.col("ok").isNull(), 1).otherwise(0))
                .cast("long").alias("n_invalid_ids"),
                (F.count(F.lit(1)) - F.count_distinct("vec_id"))
                .cast("long").alias("n_dup_ids")))
    return caps.crossJoin(ids)  # 1-row x 1-row


@q("streaming_sliding_counts",
   "WITH g AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, event_type "
   "FROM events), "
   "u AS (SELECT b AS wstart, event_type FROM g "
   "UNION ALL SELECT b - INTERVAL '5 minutes', event_type FROM g) "
   "SELECT wstart, event_type, COUNT(*) AS n FROM u "
   "GROUP BY wstart, event_type")
def streaming_sliding_counts(spark, sf_dir):
    # hopping-window streaming twin of events_sliding_window_counts, driven
    # through a real readStream replay and checked against the batch oracle
    import tempfile

    from thewhisperdb_spark.streaming import jobs as SJ

    out_dir = tempfile.mkdtemp(prefix="whisper_stream_")
    path = SJ.events_to_stream_dir(spark, sf_dir, out_dir, n_chunks=4)
    stream = SJ.stream_events_from_dir(spark, path)
    counts = SJ.hopping_event_counts(stream, "10 minutes", "5 minutes")
    name = "q_stream_sliding_counts"
    q_ = (counts.writeStream.outputMode("complete").format("memory")
          .queryName(name).trigger(availableNow=True).start())
    q_.awaitTermination()
    return spark.sql(f"SELECT wstart, event_type, n FROM {name}")


@q("streaming_click_purchase_join",
   "WITH p AS (SELECT event_id, user_id, "
   "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ps "
   "FROM events WHERE event_type = 'purchase'), "
   "c AS (SELECT event_id, user_id, "
   "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS cs "
   "FROM events WHERE event_type = 'click') "
   "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
   "p.ps - c.cs AS secs_before "
   "FROM p JOIN c ON c.user_id = p.user_id "
   "AND c.cs BETWEEN p.ps - 3600 AND p.ps")
def streaming_click_purchase_join(spark, sf_dir):
    # stream-stream interval join twin of range_join_clicks_before_purchase:
    # both sides are real streams (watermarked state-store buffers, eviction
    # derived from the time-range predicate), replayed with availableNow and
    # checked against the same batch theta-join oracle
    import tempfile

    from thewhisperdb_spark.streaming import jobs as SJ

    out_dir = tempfile.mkdtemp(prefix="whisper_stream_")
    path = SJ.events_to_stream_dir(spark, sf_dir, out_dir, n_chunks=4)
    stream = SJ.stream_events_from_dir(spark, path)
    joined = SJ.click_purchase_interval_join(stream, max_gap_s=3600)
    name = "q_stream_cp_join"
    q_ = (joined.writeStream.outputMode("append").format("memory")
          .queryName(name).trigger(availableNow=True).start())
    q_.awaitTermination()
    return spark.sql(f"SELECT purchase_id, click_id, secs_before FROM {name}")


@q("token_entropy_score",
   "WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
   "t -> t <> '')) AS w FROM documents), "
   "cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w), "
   "tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id) "
   "SELECT cnt.doc_id AS doc_id, MAX(n) AS n_tokens, "
   "round(CAST(SUM(CAST(round(-(c / n) * log2(c / n), 9) AS DECIMAL(18,9))) "
   "AS DOUBLE), 4) AS entropy "
   "FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id "
   "UNION ALL "
   "SELECT doc_id, CAST(0 AS BIGINT) AS n_tokens, 0.0 AS entropy "
   "FROM documents WHERE COALESCE(len(list_filter(string_split(text, ' '), "
   "t -> t <> '')), 0) = 0")
def token_entropy_score(spark, sf_dir):
    # per-doc Shannon entropy of the token distribution (information-density
    # quality signal); decimal-summed contributions per the float-parity rule
    return TX.token_entropy(_docs(spark, sf_dir))


@q("bpe_pair_counts",
   "WITH v AS (SELECT lower(w) AS w, COUNT(*) AS wc FROM "
   "(SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w "
   "FROM documents) GROUP BY lower(w)), "
   "p AS (SELECT unnest(list_transform(range(1, length(w)), "
   "i -> substr(w, CAST(i AS INTEGER), 2))) AS pair, wc "
   "FROM v WHERE length(w) >= 2) "
   "SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM p GROUP BY pair "
   "ORDER BY cnt DESC, pair LIMIT 50")
def bpe_pair_counts_q(spark, sf_dir):
    # BPE trainer statistic: adjacent-char pair frequencies via the
    # vocab-first collapse (pair explode runs over |vocab|, not |corpus|)
    return (TX.bpe_pair_counts(_docs(spark, sf_dir))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(50))


@q("phrase_search",
   "WITH t AS (SELECT doc_id, lang, source, "
   "list_filter(string_split(text, ' '), x -> x <> '') AS l FROM documents) "
   "SELECT doc_id, lang, source FROM t "
   "WHERE len(list_filter(range(1, len(l)), "
   "i -> l[i] = 'table' AND l[i + 1] = 'hash')) > 0")
def phrase_search(spark, sf_dir):
    # positional phrase search: token-adjacency match (not substring) as a
    # pure codegen'd EXISTS over start offsets — no shuffle, no index build
    d = _docs(spark, sf_dir)
    return (d.filter(TX.phrase_match(F.col("text"), "table hash"))
            .select("doc_id", "lang", "source"))


@q("bloom_semi_join_lineitem",
   "SELECT l_suppkey, COUNT(*) AS n_items FROM lineitem "
   "WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5) "
   "GROUP BY l_suppkey")
def bloom_semi_join_lineitem(spark, sf_dir):
    # exact semi-join with a broadcast Bloom pre-filter (the spelled-out form
    # of Spark's runtime bloom-filter join): the fact scan is thinned by pure
    # bit arithmetic before any shuffle
    from thewhisperdb_spark.operators.relational import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_suppkey", "suppkey")
    sup = (load_table(spark, sf_dir, "supplier")
           .filter(F.col("s_nationkey") < 5)
           .select(F.col("s_suppkey").alias("suppkey")))
    return (bloom_semi_join(li, sup, "suppkey")
            .groupBy(F.col("suppkey").alias("l_suppkey"))
            .agg(F.count(F.lit(1)).alias("n_items")))


@q("scd2_point_in_time_join",
   "WITH dim AS (SELECT o_custkey AS custkey, "
   "make_date(CAST(year(o_orderdate) AS INTEGER), 1, 1) AS valid_from, "
   "COUNT(*) AS yearly_orders FROM orders GROUP BY o_custkey, year(o_orderdate)), "
   "v AS (SELECT custkey, valid_from, yearly_orders, "
   "lead(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from) AS valid_to "
   "FROM dim) "
   "SELECT o.o_orderkey, o.o_custkey, CAST(v.yearly_orders AS BIGINT) AS yearly_orders "
   "FROM orders o JOIN v ON o.o_custkey = v.custkey "
   "AND o.o_orderdate >= v.valid_from "
   "AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)")
def scd2_point_in_time_join_q(spark, sf_dir):
    # SCD2 point-in-time dimension join: each order picks the dimension
    # version valid at its timestamp. Versions built from the orders table
    # itself (per-customer yearly activity), so the query is self-contained.
    from pyspark.sql import Window

    from thewhisperdb_spark.operators.relational import scd2_point_in_time_join

    o = load_table(spark, sf_dir, "orders")
    dim = (o.groupBy(F.col("o_custkey").alias("custkey"),
                     F.year("o_orderdate").alias("yy"))
           .agg(F.count(F.lit(1)).alias("yearly_orders"))
           .select("custkey",
                   F.make_date(F.col("yy"), F.lit(1), F.lit(1))
                   .cast("timestamp").alias("valid_from"),
                   "yearly_orders"))
    w = Window.partitionBy("custkey").orderBy("valid_from")
    dim = dim.withColumn("valid_to", F.lead("valid_from").over(w))
    fact = o.select(F.col("o_custkey").alias("custkey"), "o_orderkey",
                    "o_orderdate")
    return (scd2_point_in_time_join(fact, dim, "custkey", "o_orderdate")
            .select("o_orderkey", F.col("custkey").alias("o_custkey"),
                    "yearly_orders"))


@q("orc_roundtrip_by_source",
   "SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars "
   "FROM documents GROUP BY source")
def orc_roundtrip_by_source(spark, sf_dir):
    # ORC egress/ingest round-trip: documents -> ORC -> re-read -> aggregate;
    # hash-matching the direct-parquet oracle proves values survive the
    # format conversion bit-for-bit
    import tempfile

    from thewhisperdb_spark.sources.textio import read_orc, write_orc

    out = tempfile.mkdtemp(prefix="whisper_orc_")
    write_orc(_docs(spark, sf_dir), out)
    return (read_orc(spark, out)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


@q("avro_roundtrip_by_source",
   "SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars "
   "FROM documents GROUP BY source")
def avro_roundtrip_by_source(spark, sf_dir):
    # Avro OCF egress/ingest round-trip (VERDICT r11 missing #3):
    # documents -> from-spec Avro container (sources/avroio.py, deflate
    # codec) -> re-read -> aggregate; hash-matching the direct-parquet
    # oracle proves values survive the format conversion, the ORC
    # pattern. The codec itself is additionally pinned byte-level by
    # tests/test_avro.py's hand-built spec fixture.
    import tempfile

    from thewhisperdb_spark.sources.avroio import read_avro, write_avro

    out = tempfile.mkdtemp(prefix="whisper_avro_")
    write_avro(_docs(spark, sf_dir)
               .select("doc_id", "text", "lang", "source", "n_chars"),
               out)
    return (read_avro(spark, out)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


@q("rolling_active_users_7d",
   "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), "
   "expl AS (SELECT user_id, CAST(unnest(generate_series(d, d + INTERVAL 6 DAY, "
   "INTERVAL 1 DAY)) AS DATE) AS day FROM ud) "
   "SELECT strftime(day, '%Y-%m-%d') AS day, "
   "count(DISTINCT user_id) AS active_7d FROM expl GROUP BY 1")
def rolling_active_users_7d(spark, sf_dir):
    # rolling 7-day distinct actives (DAU->WAU shape). COUNT(DISTINCT) over a
    # RANGE window isn't supported by any engine at scale; the standard
    # rewrite: dedupe to (user, day), explode each activity day into the <= 7
    # window days it contributes to (bounded fan-out), then one distinct agg
    # per day. Two hash shuffles, no self-join, no window state.
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    expl = ud.select(
        "user_id",
        F.explode(F.expr("sequence(d, date_add(d, 6), interval 1 day)"))
        .alias("day"))
    # day formatted to a string: pandas maps DuckDB DATE to datetime64 but
    # Spark DATE to date objects, so raw dates hash-differ (see
    # retention_cohorts)
    return (expl.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
            .agg(F.count_distinct("user_id").alias("active_7d")))


@q("part_cooccurrence_top",
   "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) "
   "SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_orders "
   "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey "
   "AND a.l_partkey < b.l_partkey "
   "GROUP BY a.l_partkey, b.l_partkey "
   "ORDER BY n_orders DESC, pa, pb LIMIT 20")
def part_cooccurrence_top(spark, sf_dir):
    # market-basket co-occurrence: unordered part pairs sharing an order.
    # Baskets first (one shuffle: distinct parts per order, buffer bounded
    # by basket size), then the pair expansion happens as codegen'd array
    # HOFs INSIDE the row — Σ basket² work identical to the textbook
    # self-join but with one shuffle instead of three (distinct + join +
    # count became basket-agg + count); top-k via TakeOrderedAndProject.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    pair_structs = F.flatten(F.transform(
        "ps",
        lambda x, i: F.transform(
            F.slice(F.col("ps"), i + F.lit(2), F.size("ps")),
            lambda y: F.struct(x.alias("pa"), y.alias("pb")))))
    pairs = (baskets.select(F.explode(pair_structs).alias("p"))
             .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
             .agg(F.count(F.lit(1)).alias("n_orders")))
    return pairs.orderBy(F.col("n_orders").desc(), "pa", "pb").limit(20)


@q("catalog_table_stats",
   " UNION ALL ".join(
       f"SELECT '{t}' AS tbl, COUNT(*) AS n_rows FROM {t}"
       for t in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings")))
def catalog_table_stats(spark, sf_dir):
    # catalog surface: per-table row counts over every registered table —
    # the SHOW TABLES / ANALYZE summary an engine front-end serves. Each
    # count is a metadata-cheap parquet scan (row-group counts, no column IO)
    from functools import reduce as _reduce

    from thewhisperdb_spark.catalog import TESTDATA_TABLES

    parts = [
        load_table(spark, sf_dir, t)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(t).alias("tbl"), "n_rows")
        for t in TESTDATA_TABLES
    ]
    return _reduce(lambda a, b: a.unionByName(b), parts)


@q("pii_detection_report",
   "WITH seeded AS (SELECT doc_id, source, "
   "CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '2' THEN text || "
   "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at ' || "
   "'10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || ' or +1555' || "
   "CAST(1000000 + doc_id AS VARCHAR) ELSE text END AS text FROM documents) "
   "SELECT source AS g, "
   "CAST(SUM(len(regexp_extract_all(text, "
   "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS BIGINT) AS n_email, "
   "CAST(SUM(len(regexp_extract_all(text, "
   "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))) AS BIGINT) AS n_ipv4, "
   "CAST(SUM(len(regexp_extract_all(text, "
   "'\\+[0-9][0-9\\-]{7,14}[0-9]'))) AS BIGINT) AS n_phone, "
   "CAST(SUM(CASE WHEN len(regexp_extract_all(text, "
   "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) "
   "+ len(regexp_extract_all(text, "
   "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) "
   "+ len(regexp_extract_all(text, '\\+[0-9][0-9\\-]{7,14}[0-9]')) > 0 "
   "THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii, "
   "COUNT(*) AS n_docs FROM seeded GROUP BY source")
def pii_detection_report(spark, sf_dir):
    # PII scrubbing pass (privacy.py): the corpus carries no PII, so a
    # deterministic md5-keyed slice is seeded with synthetic emails / IPs /
    # phone numbers, then the per-source release-gate report runs over it.
    # Same patterns drive redact_pii (pytest asserts redaction zeroes the
    # counts).
    from thewhisperdb_spark.operators.privacy import pii_report

    d = _docs(spark, sf_dir)
    key = F.md5(F.col("doc_id").cast("string"))
    seeded = d.withColumn(
        "text",
        F.when(key < "2",
               F.concat(F.col("text"),
                        F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com at 10.0.0."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit(" or +1555"),
                        (F.col("doc_id") + 1000000).cast("string")))
        .otherwise(F.col("text")))
    return pii_report(seeded)


@q("events_robust_outliers",
   "WITH med AS (SELECT event_type, "
   "quantile_cont(value, 0.5) AS med FROM events GROUP BY 1), "
   "dev AS (SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS ad "
   "FROM events e JOIN med m USING (event_type)), "
   "mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev "
   "GROUP BY 1) "
   "SELECT d.event_type, round(MAX(d.med), 6) AS med, "
   "round(MAX(m.mad), 6) AS mad, "
   "CAST(SUM(CASE WHEN d.ad > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_outliers, COUNT(*) AS n "
   "FROM dev d JOIN mad m USING (event_type) GROUP BY 1")
def events_robust_outliers(spark, sf_dir):
    # robust (median/MAD) outlier screen — the heavy-tail-safe complement to
    # the moment-based z-score query: medians are exact interpolated
    # percentiles (identical type-7 rule on both engines), the MAD scale
    # factor 1.4826 normalizes to sigma under normality. Two grouped
    # exact-percentile passes + one counting pass, all shuffling on the
    # (few-valued) event_type key.
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    dev = (ev.join(med, "event_type")
           .withColumn("ad", F.abs(F.col("value") - F.col("med"))))
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad"))
    return (dev.join(mad, "event_type")
            .groupBy("event_type")
            .agg(F.round(F.max("med"), 6).alias("med"),
                 F.round(F.max("mad"), 6).alias("mad"),
                 F.sum(F.when(F.col("ad") > 3 * 1.4826 * F.col("mad"), 1)
                       .otherwise(0)).alias("n_outliers"),
                 F.count(F.lit(1)).alias("n")))


@q("table_checksum_documents",
   "SELECT COUNT(*) AS n_rows, "
   "CAST(CAST(SUM(CAST('0x' || substr(md5(concat_ws('|', "
   "CAST(doc_id AS VARCHAR), lang, source, CAST(n_chars AS VARCHAR))), "
   "1, 15) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum "
   "FROM documents")
def table_checksum_documents(spark, sf_dir):
    # order-insensitive cross-engine content checksum (anti-entropy /
    # migration verification): per-row md5 of the canonical string, first 60
    # bits summed in decimal — partitioning- and engine-independent, and
    # (unlike an XOR fold) duplicate rows never cancel out
    from thewhisperdb_spark.operators.aggregates import table_checksum

    return table_checksum(_docs(spark, sf_dir),
                          "doc_id", "lang", "source", "n_chars")


@q("order_key_skew_report",
   "WITH c AS (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1) "
   "SELECT COUNT(*) AS n_keys, CAST(MAX(cnt) AS BIGINT) AS max_cnt, "
   "round(CAST(quantile_cont(cnt, 0.99) AS DOUBLE), 6) AS p99_cnt, "
   "round(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 6) AS avg_cnt, "
   "round(CAST(MAX(cnt) AS DOUBLE) / (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)), 6) "
   "AS skew_ratio FROM c")
def order_key_skew_report(spark, sf_dir):
    # join-key skew diagnostic: per-key counts, then max / p99 / mean and the
    # max-to-mean skew ratio — the number that decides between a plain
    # shuffle join, AQE skew splitting, and explicit salting
    # (operators/relational.py salted_join). Two partial-agg shuffles, the
    # second over |distinct keys| rows only.
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.expr("percentile(cnt, 0.99)"), 6).alias("p99_cnt"),
        F.round(F.sum("cnt").cast("double") / F.count(F.lit(1)), 6)
        .alias("avg_cnt"),
        F.round(F.max("cnt").cast("double")
                / (F.sum("cnt").cast("double") / F.count(F.lit(1))), 6)
        .alias("skew_ratio"))


@q("lineitem_stats_moments",
   "SELECT l_returnflag, "
   "round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price, "
   "round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_qty_price, "
   "round(stddev_pop(l_discount), 6) AS sd_discount, "
   "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag")
def lineitem_stats_moments(spark, sf_dir):
    # statistical-aggregate surface: per-group Pearson correlation,
    # population covariance, and stddev — one partial-aggregating shuffle
    # (all three are single-pass moment computations, map-side combinable).
    # Rounding absorbs engine-specific accumulation-order drift (~1e-12).
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.corr("l_quantity", "l_extendedprice"), 6)
                 .alias("corr_qty_price"),
                 F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4)
                 .alias("covar_qty_price"),
                 F.round(F.stddev_pop("l_discount"), 6).alias("sd_discount"),
                 F.count(F.lit(1)).alias("n")))


@q("event_trigrams_top",
   "WITH s AS (SELECT user_id, event_type, "
   "lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3 "
   "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) ) "
   "SELECT event_type || '>' || e2 || '>' || e3 AS trigram, "
   "COUNT(*) AS n FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL "
   "GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20")
def event_trigrams_top(spark, sf_dir):
    # behavioral sequence mining: most common 3-event paths per user stream.
    # One shuffle on user_id (window), then a tiny global count — the event
    # n-gram table is |events| rows, combined map-side like any Zipf head.
    # Deterministic ordering: (ts, event_id) is a unique sort key.
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (ev.select("user_id", "event_type",
                   F.lead("event_type", 1).over(w).alias("e2"),
                   F.lead("event_type", 2).over(w).alias("e3"))
         .filter(F.col("e2").isNotNull() & F.col("e3").isNotNull()))
    tri = F.concat_ws(">", "event_type", "e2", "e3").alias("trigram")
    return (s.select(tri).groupBy("trigram")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "trigram").limit(20))


@q("snapshot_diff_cdc",
   "WITH new_snap AS (SELECT doc_id, lang, source, "
   "CASE WHEN md5(CAST(doc_id AS VARCHAR)) BETWEEN '1' AND '3' "
   "THEN n_chars + 7 ELSE n_chars END AS n_chars "
   "FROM documents WHERE md5(CAST(doc_id AS VARCHAR)) >= '1' "
   "UNION ALL SELECT doc_id + 100000, lang, source, n_chars FROM documents "
   "WHERE md5(CAST(doc_id AS VARCHAR)) < '1'), "
   "old_snap AS (SELECT doc_id, lang, source, n_chars FROM documents) "
   "SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, "
   "CASE WHEN o.doc_id IS NULL THEN 'insert' "
   "WHEN n.doc_id IS NULL THEN 'delete' ELSE 'update' END AS change "
   "FROM old_snap o FULL JOIN new_snap n ON o.doc_id = n.doc_id "
   "WHERE o.doc_id IS NULL OR n.doc_id IS NULL "
   "OR (o.lang, o.source, o.n_chars) <> (n.lang, n.source, n.n_chars)")
def snapshot_diff_cdc(spark, sf_dir):
    # change-data-capture diff between two table snapshots: one full-outer
    # join on the key classifies every row as insert/delete/update (unchanged
    # rows drop out). The 'new' snapshot is a deterministic mutation of the
    # old (md5-keyed deletes, modifications, and re-keyed inserts) so the
    # diff is reproducible on both engines.
    d = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    key = F.md5(F.col("doc_id").cast("string"))
    new_snap = (d.filter(key >= "1")
                .withColumn("n_chars",
                            F.when(key.between("1", "3"),
                                   F.col("n_chars") + 7)
                            .otherwise(F.col("n_chars")))
                .unionByName(d.filter(key < "1")
                             .withColumn("doc_id", F.col("doc_id") + 100000)))
    o = d.alias("o")
    n = new_snap.alias("n")
    j = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    change = (F.when(F.col("o.doc_id").isNull(), "insert")
              .when(F.col("n.doc_id").isNull(), "delete")
              .otherwise("update"))
    differs = (F.col("o.doc_id").isNull() | F.col("n.doc_id").isNull()
               | (F.col("o.lang") != F.col("n.lang"))
               | (F.col("o.source") != F.col("n.source"))
               | (F.col("o.n_chars") != F.col("n.n_chars")))
    return (j.filter(differs)
            .select(F.coalesce(F.col("o.doc_id"), F.col("n.doc_id"))
                    .alias("doc_id"), change.alias("change")))


@q("bfs_hops",
   f"""WITH RECURSIVE {_cos_pairs_sql(COS_EDGE_THRESHOLD)},
und AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
bfs(id, lvl) AS (
  SELECT CAST(0 AS BIGINT) AS id, 0 AS lvl
  UNION
  SELECT und.dst, bfs.lvl + 1 FROM bfs JOIN und ON und.src = bfs.id
  WHERE bfs.lvl < 15
)
SELECT id, CAST(MIN(lvl) AS BIGINT) AS hops FROM bfs GROUP BY id""")
def bfs_hops(spark, sf_dir):
    # BFS hop levels from vertex 0 over the cosine similarity graph —
    # frontier-expansion joins vs the oracle's bounded recursive CTE
    e = _emb(spark, sf_dir)
    pairs = V.similar_pairs(e, COS_EDGE_THRESHOLD)
    # max_iter=15 matches the oracle CTE's lvl < 15 bound exactly — both
    # engines truncate at the same depth on any dataset
    lv = G.bfs_levels(pairs.select(F.col("a").alias("src"),
                                   F.col("b").alias("dst")), source=0,
                      max_iter=15)
    return lv.select("id", F.col("hops").cast("long").alias("hops"))


@q("hybrid_search_rrf",
   """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                    t -> t <> '')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('table', 'hash', 'window') GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, len(list_filter(string_split(text, ' '),
                    t -> t <> '')) AS dl FROM documents),
st AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
       FROM dl),
bm AS (SELECT tf.doc_id, CAST(SUM(CAST(round(
    ln(1.0 + ((st.n - dfq.df) + 0.5) / (dfq.df + 0.5))
    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / st.avgdl))),
    6) AS DECIMAL(18,6))) AS DOUBLE) AS bm25
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY 1),
tr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS tr
       FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100)),
vs AS (SELECT y.vec_id AS doc_id, round("""
   + _SQL_COS.format(a="CAST(x.embedding AS DOUBLE[])",
                     b="CAST(y.embedding AS DOUBLE[])") +
   """, 6) AS sim FROM embeddings x JOIN embeddings y
       ON x.vec_id = 0 AND y.vec_id <> 0),
vr AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS vr
       FROM (SELECT * FROM vs ORDER BY sim DESC, doc_id LIMIT 100)),
f AS (SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id,
      round(COALESCE(1.0 / (60 + tr.tr), 0)
            + COALESCE(1.0 / (60 + vr.vr), 0), 9) AS rrf
      FROM tr FULL JOIN vr ON tr.doc_id = vr.doc_id)
SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 20""")
def hybrid_search_rrf(spark, sf_dir):
    # Hybrid retrieval: BM25 lexical ranking fused with vector-similarity
    # ranking by reciprocal-rank fusion (RRF, k=60) — the standard two-tower
    # retrieval merge. Both candidate lists are top-100 cuts (TakeOrdered,
    # bounded — the rank windows then run over <= 100 rows, not the corpus);
    # ranks are computed on ROUNDED scores so both engines order identically.
    from pyspark.sql import Window

    bm = TX.bm25_scores(_docs(spark, sf_dir), list(BM25_TERMS))
    t_cand = bm.orderBy(F.col("bm25").desc(), "doc_id").limit(100)
    wt = Window.orderBy(F.col("bm25").desc(), "doc_id")
    t_rank = t_cand.withColumn("tr", F.row_number().over(wt)).select("doc_id", "tr")

    emb = _emb(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_qvec"))
    sims = (emb.filter(F.col("vec_id") != 0)
            .join(F.broadcast(probe))
            .select(F.col("vec_id").alias("doc_id"),
                    F.round(V.cosine("embedding", "_qvec"), 6)
                    .alias("sim")))
    v_cand = sims.orderBy(F.col("sim").desc(), "doc_id").limit(100)
    wv = Window.orderBy(F.col("sim").desc(), "doc_id")
    v_rank = v_cand.withColumn("vr", F.row_number().over(wv)).select("doc_id", "vr")

    fused = (t_rank.join(v_rank, "doc_id", "full_outer")
             .select("doc_id",
                     F.round(F.coalesce(F.lit(1.0) / (F.col("tr") + 60), F.lit(0.0))
                             + F.coalesce(F.lit(1.0) / (F.col("vr") + 60), F.lit(0.0)),
                             9).alias("rrf")))
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)


# One ANSI string, two engines: the Spark implementation runs EXACTLY the
# oracle text through spark.sql over registered views — the SQL-dialect
# surface demonstrated with zero translation.
_SQL_DEMO = (
    "SELECT r_name, COUNT(*) AS n_customers, "
    "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal "
    "FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY r_name")


@q("sql_interface_demo", _SQL_DEMO)
def sql_interface_demo(spark, sf_dir):
    from thewhisperdb_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_DEMO)


@q("dedup_exact_seeded",
   "WITH dup AS (SELECT doc_id + 100000 AS doc_id, text FROM documents "
   "WHERE md5(CAST(doc_id AS VARCHAR)) < '2'), "
   "ad AS (SELECT doc_id, text FROM documents UNION ALL "
   "SELECT doc_id, text FROM dup) "
   "SELECT text, COUNT(*) AS n_dups, MIN(doc_id) AS keeper FROM ad "
   "GROUP BY text HAVING COUNT(*) > 1")
def dedup_exact_seeded(spark, sf_dir):
    # exact-dedup exercised with NON-EMPTY output: plant a deterministic
    # ~12.5% md5-keyed duplicate slice (re-identified), then find groups.
    # The unseeded dedup_exact proves the no-duplicates corpus yields zero
    # groups; this one proves the grouping actually groups.
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = (d.filter(F.md5(F.col("doc_id").cast("string")) < "2")
           .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    return D.exact_duplicates(d.unionByName(dup))


@q("fuzzy_vocab_pairs",
   "WITH v AS (SELECT DISTINCT unnest(list_filter(string_split(lower(text), "
   "' '), t -> t <> '')) AS w FROM documents) "
   "SELECT a.w AS wa, b.w AS wb, CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist "
   "FROM v a JOIN v b ON a.w < b.w AND levenshtein(a.w, b.w) <= 2")
def fuzzy_vocab_pairs_q(spark, sf_dir):
    # fuzzy (edit-distance <= 2) vocabulary self-join via SymSpell deletion-
    # neighborhood blocking + exact levenshtein verify; the oracle runs the
    # naive quadratic form (fine at vocab scale), proving the blocked
    # candidate set is lossless
    return TX.fuzzy_vocab_pairs(_docs(spark, sf_dir), max_dist=2)


@q("window_analytics_suite",
   "SELECT o_orderkey, o_orderpriority, "
   "round(percent_rank() OVER w, 6) AS pr, "
   "round(cume_dist() OVER w, 6) AS cd, "
   "nth_value(o_orderkey, 3) OVER "
   "(PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_key "
   "FROM orders "
   "WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)")
def window_analytics_suite(spark, sf_dir):
    # analytic-window surface certification: percent_rank, cume_dist,
    # nth_value on one partitioned ordered window (deterministic tiebreak by
    # key). One shuffle on the partition key, in-partition sort — the same
    # frame reused by all three functions.
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 3).over(wf).alias("third_key"))


@q("streaming_daily_actives",
   "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events) "
   "SELECT strftime(d, '%Y-%m-%d') AS day, COUNT(*) AS dau "
   "FROM ud GROUP BY 1")
def streaming_daily_actives(spark, sf_dir):
    # streaming DAU twin: watermark-bounded (user, day) first-seen dedup,
    # then a windowed daily count — exact distinct with bounded state;
    # replayed through a real readStream and checked against the batch oracle
    import tempfile

    from thewhisperdb_spark.streaming import jobs as SJ

    out_dir = tempfile.mkdtemp(prefix="whisper_stream_")
    path = SJ.events_to_stream_dir(spark, sf_dir, out_dir, n_chunks=4)
    stream = SJ.stream_events_from_dir(spark, path)
    dau = SJ.daily_active_users(stream)
    name = "q_stream_dau"
    # complete mode: append would hold back the trailing windows the
    # watermark hasn't passed when the replay ends
    q_ = (dau.writeStream.outputMode("complete").format("memory")
          .queryName(name).trigger(availableNow=True).start())
    q_.awaitTermination()
    return spark.sql(f"SELECT day, dau FROM {name}")


def _pipeline_sql(n_hashes: int = 32, threshold: float = 0.8,
                  seed: int = 42, budget: int = 256) -> str:
    """DuckDB twin of the ENTIRE pretraining pipeline's stage accounting —
    every stage re-derived in SQL: the C4 quality conjunction, language
    filter, min-id exact dedup, the md5-portable char-3-gram MinHash
    near-dup (pairs -> recursive-CTE components -> min-id survivors, same
    losslessness argument as minhash_lsh_dedup), md5-prefix split, 8-gram
    decontamination, PII redaction (identical Java/RE2 patterns), and
    256-token bin packing. Output = (stage_idx, stage, rows), 8 rows."""
    import math
    import random

    p = 2**31 - 1
    rnd = random.Random(seed)
    coeffs = [(rnd.randrange(1, p), rnd.randrange(0, p))
              for _ in range(n_hashes)]
    vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs))
    min_match = math.ceil(threshold * n_hashes)
    agree = (f"len(list_filter(range(1, {n_hashes + 1}), "
             f"i -> x.sig[i] = y.sig[i]))")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
    phone = r"\+[0-9][0-9\-]{7,14}[0-9]"
    redacted = (f"regexp_replace(regexp_replace(regexp_replace(text, "
                f"'{email}', '[PII]', 'g'), '{ipv4}', '[PII]', 'g'), "
                f"'{phone}', '[PII]', 'g')")
    return f"""WITH RECURSIVE
g AS MATERIALIZED (
  SELECT doc_id, text, lang, n_chars, ws,
    list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
      i -> array_to_string(ws[i:i+2], ' ')) AS grams
  FROM (SELECT *, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        FROM documents)),
qual AS MATERIALIZED (
  SELECT doc_id, text, lang, n_chars FROM g
  WHERE len(ws) >= 10 AND n_chars BETWEEN 50 AND 5000
    AND CAST(len(list_filter(ws, t -> list_contains(
      ['the','a','of','and','to','in','is','it'], lower(t)))) AS DOUBLE)
      / greatest(len(ws), 1) >= 0.05
    AND 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) <= 0.2),
langf AS MATERIALIZED (SELECT * FROM qual WHERE lang = 'en'),
exact AS MATERIALIZED (
  SELECT l.* FROM langf l JOIN (
    SELECT text, min(doc_id) AS doc_id FROM langf GROUP BY text) k
  ON k.text = l.text AND k.doc_id = l.doc_id),
csh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(length(text) - 2, 1) + 1),
    i -> substr(text, i, 3)))) AS s FROM exact),
eh2 AS MATERIALIZED (
  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {p} AS h
  FROM csh),
co2(i, a, b) AS (SELECT * FROM (VALUES {vals})),
mins2 AS MATERIALIZED (
  SELECT doc_id, co2.i, MIN((co2.a * eh2.h + co2.b) % {p}) AS v
  FROM eh2 CROSS JOIN co2 GROUP BY doc_id, co2.i),
sig2 AS MATERIALIZED (
  SELECT doc_id, list(v ORDER BY i) AS sig FROM mins2 GROUP BY doc_id),
prs2 AS MATERIALIZED (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sig2 x JOIN sig2 y ON x.doc_id < y.doc_id
  WHERE {agree} >= {min_match}),
und2 AS (SELECT a AS src, b AS dst FROM prs2 UNION SELECT b, a FROM prs2),
reach2(src, dst) AS (
  SELECT src, src FROM und2
  UNION
  SELECT r.src, u.dst FROM reach2 r JOIN und2 u ON r.dst = u.src),
comp2 AS (SELECT src AS id, min(dst) AS component FROM reach2 GROUP BY src),
near AS MATERIALIZED (
  SELECT e.* FROM exact e LEFT JOIN comp2 c ON c.id = e.doc_id
  WHERE c.id IS NULL OR c.component = e.doc_id),
spl AS MATERIALIZED (
  SELECT *, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
    THEN 'train' WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
    THEN 'val' ELSE 'test' END AS split FROM near),
w8 AS MATERIALIZED (
  SELECT doc_id, split = 'train' AS is_train,
    unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(ws) - 7, 1)),
      i -> array_to_string(ws[i:i+7], ' ')))) AS sh
  FROM (SELECT doc_id, split,
          list_filter(string_split(text, ' '), t -> t <> '') AS ws
        FROM spl)),
leaked AS MATERIALIZED (
  SELECT DISTINCT t.doc_id FROM w8 t
  JOIN (SELECT DISTINCT sh FROM w8 WHERE NOT is_train) o ON t.sh = o.sh
  WHERE t.is_train),
clean AS MATERIALIZED (
  SELECT * FROM spl WHERE split = 'train'
    AND doc_id NOT IN (SELECT doc_id FROM leaked)),
red AS MATERIALIZED (
  SELECT doc_id, lang, {redacted} AS text FROM clean),
packed AS MATERIALIZED (
  SELECT lang, CAST(cb // {budget} AS BIGINT) AS bin_id FROM (
    SELECT lang, doc_id, n_tok,
      COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM (SELECT lang, doc_id,
            CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS n_tok FROM red)))
SELECT * FROM (
  SELECT 0 AS stage_idx, 'ingest' AS stage,
    (SELECT count(*) FROM documents) AS rows
  UNION ALL SELECT 1, 'quality_filter', (SELECT count(*) FROM qual)
  UNION ALL SELECT 2, 'language_filter', (SELECT count(*) FROM langf)
  UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM exact)
  UNION ALL SELECT 4, 'near_dedup', (SELECT count(*) FROM near)
  UNION ALL SELECT 5, 'train_split',
    (SELECT count(*) FROM spl WHERE split = 'train')
  UNION ALL SELECT 6, 'decontaminated_train', (SELECT count(*) FROM clean)
  UNION ALL SELECT 7, 'packed_bins',
    (SELECT count(*) FROM (SELECT DISTINCT lang, bin_id FROM packed)))"""


@q("pretraining_pipeline_stats", _pipeline_sql())
def pretraining_pipeline_stats(spark, sf_dir):
    # end-to-end pretraining-data pipeline (ingest -> quality -> lang ->
    # exact dedup -> minhash near-dedup -> split -> decontaminate -> redact
    # -> pack) with per-stage survivor accounting. With md5-portable MinHash
    # the WHOLE composite is oracle-checked: the DuckDB twin re-derives
    # every stage (near-dup via the recursive-CTE closure) and must land on
    # identical survivor counts at every boundary.
    from thewhisperdb_spark.plans.pipeline import pipeline_stage_counts

    return pipeline_stage_counts(_docs(spark, sf_dir))


# ---- round-3 surface: analytic-SQL breadth (each with a DuckDB twin) ------


@q("ntile_customer_spend",
   "WITH s AS (SELECT o_custkey, "
   "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend "
   "FROM orders GROUP BY 1) "
   "SELECT o_custkey, spend, "
   "CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS BIGINT) AS decile "
   "FROM s")
def ntile_customer_spend(spark, sf_dir):
    # equal-height decile assignment over customer lifetime spend. ntile over
    # an unpartitioned window is a single-reducer total sort — fine for the
    # customer dimension (orders-of-magnitude smaller than the fact table);
    # the fact-scale path is order_price_deciles' percentile bucketing.
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    s = (o.groupBy("o_custkey")
         .agg(F.sum(_dec("o_totalprice")).cast("double").alias("spend")))
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
    return s.select("o_custkey", "spend",
                    F.ntile(10).over(w).cast("long").alias("decile"))


@q("median_price_by_brand",
   "SELECT p_brand, "
   "round(quantile_cont(p_retailprice, 0.25), 6) AS p25, "
   "round(quantile_cont(p_retailprice, 0.5), 6) AS p50, "
   "round(quantile_cont(p_retailprice, 0.75), 6) AS p75, "
   "count(*) AS n FROM part GROUP BY p_brand")
def median_price_by_brand(spark, sf_dir):
    # EXACT interpolated quantiles (Spark `percentile` == DuckDB
    # quantile_cont: both rank at (n-1)*p with linear interpolation).
    # The exact form needs each group materialized for a sort — right for a
    # bounded dimension; price_quartiles_approx is the sketch-mergeable
    # fact-scale twin. Round 6 absorbs the interpolation's float product.
    p = load_table(spark, sf_dir, "part")
    return (p.groupBy("p_brand")
            .agg(F.round(F.percentile("p_retailprice", F.lit(0.25)), 6)
                 .alias("p25"),
                 F.round(F.percentile("p_retailprice", F.lit(0.5)), 6)
                 .alias("p50"),
                 F.round(F.percentile("p_retailprice", F.lit(0.75)), 6)
                 .alias("p75"),
                 F.count(F.lit(1)).alias("n")))


@q("argmax_supplier_per_nation",
   "WITH r AS (SELECT n.n_name, s.s_name, s.s_acctbal, "
   "row_number() OVER (PARTITION BY n.n_name "
   "ORDER BY s.s_acctbal DESC, s.s_suppkey DESC) AS rmax, "
   "row_number() OVER (PARTITION BY n.n_name "
   "ORDER BY s.s_acctbal ASC, s.s_suppkey ASC) AS rmin "
   "FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey) "
   "SELECT a.n_name, a.s_name AS top_supplier, a.s_acctbal AS top_acctbal, "
   "b.s_name AS bottom_supplier, b.s_acctbal AS bottom_acctbal "
   "FROM r a JOIN r b ON a.n_name = b.n_name AND a.rmax = 1 AND b.rmin = 1")
def argmax_supplier_per_nation(spark, sf_dir):
    # arg-max/arg-min surface: richest and poorest supplier per nation in ONE
    # grouped aggregation (max_by/min_by carry the payload with the extremum
    # — no self-join, no window sort over the full table). Struct keys make
    # the tie-break (suppkey) explicit; the oracle's windowed row_number
    # implements the same deterministic semantics.
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    j = s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
    key = F.struct("s_acctbal", "s_suppkey")
    return (j.groupBy("n_name")
            .agg(F.max_by("s_name", key).alias("top_supplier"),
                 F.max(key).getField("s_acctbal").alias("top_acctbal"),
                 F.min_by("s_name", key).alias("bottom_supplier"),
                 F.min(key).getField("s_acctbal").alias("bottom_acctbal")))


@q("monthly_revenue_trend",
   "WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') "
   "AS month, "
   "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue, "
   "count(*) AS n_orders FROM orders GROUP BY 1) "
   "SELECT month, revenue, n_orders, "
   "round(revenue - lag(revenue) OVER (ORDER BY month), 6) AS mom_delta "
   "FROM m")
def monthly_revenue_trend(spark, sf_dir):
    # calendar rollup + month-over-month delta: date_trunc bucketing keeps
    # the grouped state at |months| rows, and the trend window sorts only
    # that tiny aggregate — never the fact table. Month as 'YYYY-MM' string:
    # pandas renders Spark DATE as objects but DuckDB DATE as datetime64,
    # hash-diverging on dtype alone.
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    m = (o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
         .agg(F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
              F.count(F.lit(1)).alias("n_orders")))
    w = Window.orderBy("month")
    return m.select("month", "revenue", "n_orders",
                    F.round(F.col("revenue") - F.lag("revenue").over(w), 6)
                    .alias("mom_delta"))


@q("regexp_count_terms",
   "SELECT doc_id, "
   "CAST(len(regexp_extract_all(text, '(table|query)')) AS BIGINT) AS n_hits, "
   "CAST(length(text) AS BIGINT) AS n_chars_raw FROM documents")
def regexp_count_terms(spark, sf_dir):
    # regex occurrence counting stays JVM-side (regexp_count compiles into
    # whole-stage codegen) — the grep primitive under quality filters
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("(table|query)")).cast("long")
        .alias("n_hits"),
        F.length("text").cast("long").alias("n_chars_raw"))


@q("array_tag_set_ops",
   "WITH t AS (SELECT doc_id, " + _SQL_TOKENS + " AS tags FROM documents) "
   "SELECT doc_id, "
   "CAST(len(list_intersect(tags, ['table', 'hash', 'window', 'spark'])) "
   "AS BIGINT) AS n_common, "
   "CAST(len(list_distinct(list_concat(tags, "
   "['table', 'hash', 'window', 'spark']))) AS BIGINT) AS n_union "
   "FROM t")
def array_tag_set_ops(spark, sf_dir):
    # array set algebra against a constant probe set — intersect/union sizes
    # ride the scan as pure expressions (no explode, no shuffle)
    probe = F.array(*[F.lit(x) for x in ["table", "hash", "window", "spark"]])
    d = _docs_tagged(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.array_intersect("tags", probe)).cast("long")
        .alias("n_common"),
        F.size(F.array_union("tags", probe)).cast("long").alias("n_union"))


@q("top3_parts_per_brand",
   "WITH r AS (SELECT p.p_brand, l.l_partkey, "
   "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)) * "
   "(CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) "
   "AS DOUBLE) AS revenue "
   "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
   "GROUP BY 1, 2) "
   "SELECT p_brand, l_partkey, revenue, CAST(rnk AS BIGINT) AS rnk FROM "
   "(SELECT *, rank() OVER (PARTITION BY p_brand "
   "ORDER BY revenue DESC, l_partkey) AS rnk FROM r) WHERE rnk <= 3")
def top3_parts_per_brand(spark, sf_dir):
    # top-N per group: aggregate first (shrinks the window input to one row
    # per (brand, part)), then a partitioned rank — the window never sees
    # the raw fact table
    from pyspark.sql import Window
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (li.join(p, F.col("p_partkey") == F.col("l_partkey"))
           .groupBy("p_brand", "l_partkey")
           .agg(F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount")))
                .cast("double").alias("revenue")))
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(),
                                              "l_partkey")
    return (rev.withColumn("rnk", F.rank().over(w).cast("long"))
            .filter(F.col("rnk") <= 3))


@q("nation_market_share",
   "WITH srev AS (SELECT n.n_name, s.s_suppkey, "
   "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)) * "
   "(CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) "
   "AS DOUBLE) AS revenue "
   "FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey "
   "JOIN nation n ON n.n_nationkey = s.s_nationkey GROUP BY 1, 2) "
   "SELECT n_name, s_suppkey, revenue, "
   "round(revenue / SUM(revenue) OVER (PARTITION BY n_name), 6) AS share "
   "FROM srev")
def nation_market_share(spark, sf_dir):
    # ratio-to-report: each supplier's share of its nation's revenue — the
    # window runs over the pre-aggregated (nation, supplier) grain, one row
    # per supplier, after the fact-table shuffle has already reduced
    from pyspark.sql import Window
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    srev = (li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
            .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
            .groupBy("n_name", "s_suppkey")
            .agg(F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount")))
                 .cast("double").alias("revenue")))
    w = Window.partitionBy("n_name")
    return srev.select("n_name", "s_suppkey", "revenue",
                       F.round(F.col("revenue") / F.sum("revenue").over(w), 6)
                       .alias("share"))


@q("events_time_heatmap",
   "SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow, "
   "CAST(hour(ts) AS BIGINT) AS hod, count(*) AS n "
   "FROM events GROUP BY 1, 2, 3")
def events_time_heatmap(spark, sf_dir):
    # activity heatmap grain (type x ISO weekday x hour): calendar functions
    # evaluate in-scan; the aggregate is bounded at |types| x 7 x 24 rows
    # regardless of event volume
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type",
                       (F.weekday("ts") + 1).cast("long").alias("dow"),
                       F.hour("ts").cast("long").alias("hod"))
            .agg(F.count(F.lit(1)).alias("n")))


@q("orders_year_quarter_rollup",
   "SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, "
   "CAST(quarter(o_orderdate) AS BIGINT) AS qtr, "
   "count(*) AS n_orders, "
   "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue "
   "FROM orders GROUP BY 1, 2")
def orders_year_quarter_rollup(spark, sf_dir):
    # fiscal-calendar rollup: year/quarter derivations group the fact table
    # into a handful of buckets — partial aggregation does nearly all the
    # work map-side
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy(F.year("o_orderdate").cast("long").alias("yr"),
                      F.quarter("o_orderdate").cast("long").alias("qtr"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(_dec("o_totalprice")).cast("double").alias("revenue")))


@q("string_normalize_suite",
   "WITH c AS (SELECT doc_id, "
   "trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS cleaned, "
   "text FROM documents) "
   "SELECT doc_id, CAST(length(text) AS BIGINT) AS len_raw, "
   "CAST(length(cleaned) AS BIGINT) AS len_clean, "
   "substr(cleaned, 1, 40) AS prefix, "
   "reverse(substr(cleaned, 1, 40)) AS prefix_rev FROM c")
def string_normalize_suite(spark, sf_dir):
    # string-normalization surface (lower/regexp_replace/trim/substr/reverse)
    # — all JVM expressions in one codegen stage, the canonicalization layer
    # under dedup keys and fingerprints
    d = _docs(spark, sf_dir)
    cleaned = F.trim(F.regexp_replace(F.lower("text"), " +", " "))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("len_raw"),
        F.length(cleaned).cast("long").alias("len_clean"),
        F.substring(cleaned, 1, 40).alias("prefix"),
        F.reverse(F.substring(cleaned, 1, 40)).alias("prefix_rev"))


# ---- round-3 second wave: function-matrix certification --------------------


@q("events_moving_avg",
   "WITH h AS (SELECT event_type, "
   "CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr, count(*) AS n "
   "FROM events GROUP BY 1, 2) "
   "SELECT event_type, hr, n, "
   "round(avg(n) OVER (PARTITION BY event_type ORDER BY hr "
   "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS mavg FROM h")
def events_moving_avg(spark, sf_dir):
    # centered moving average over a BOUNDED pre-aggregated grain — the
    # smoothing window never sees the raw event stream
    from pyspark.sql import Window
    ev = load_table(spark, sf_dir, "events")
    h = (ev.groupBy("event_type",
                    F.unix_timestamp(F.date_trunc("hour", "ts"))
                    .alias("hr"))
         .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy("event_type").orderBy("hr").rowsBetween(-2, 2))
    return h.select("event_type", "hr", "n",
                    F.round(F.avg("n").over(w), 6).alias("mavg"))


@q("customer_first_last_order",
   "SELECT o_custkey, o_orderkey, "
   "first_value(o_totalprice) OVER w AS first_price, "
   "last_value(o_totalprice) OVER w AS last_price "
   "FROM orders WINDOW w AS (PARTITION BY o_custkey "
   "ORDER BY o_orderdate, o_orderkey "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
def customer_first_last_order(spark, sf_dir):
    # first_value/last_value over an explicit full frame (the default frame
    # would make last_value the CURRENT row — the classic window-frame trap,
    # pinned here on both engines)
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return o.select("o_custkey", "o_orderkey",
                    F.first("o_totalprice").over(w).alias("first_price"),
                    F.last("o_totalprice").over(w).alias("last_price"))


@q("string_funcs_matrix",
   "SELECT doc_id, string_split(text, ' ')[1] AS first_tok, "
   "lpad(lang, 5, '_') AS lang_pad, rpad(source, 8, '.') AS source_pad, "
   "repeat(lang, 2) AS lang2, "
   "CAST(strpos(text, 'table') AS BIGINT) AS pos_table, "
   "left(text, 10) AS l10, right(text, 10) AS r10 FROM documents")
def string_funcs_matrix(spark, sf_dir):
    # string-function certification: element split access, lpad/rpad,
    # repeat, 1-based substring position (0 = absent), left/right slices
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.element_at(F.split("text", " "), 1).alias("first_tok"),
        F.lpad("lang", 5, "_").alias("lang_pad"),
        F.rpad("source", 8, ".").alias("source_pad"),
        F.repeat("lang", 2).alias("lang2"),
        F.instr("text", "table").cast("long").alias("pos_table"),
        F.substring("text", 1, 10).alias("l10"),
        # greatest(len-9, 1) keeps the start positive: for texts shorter than
        # 10 chars a negative start would count from the END in Spark and
        # diverge from the oracle's right(text, 10) (ADVICE r3)
        F.col("text").substr(F.greatest(F.length("text") - 9, F.lit(1)),
                             F.lit(10)).alias("r10"))


@q("supplier_names_rollup",
   "SELECT n.n_name, string_agg(s.s_name, ',' ORDER BY s.s_name) AS names, "
   "count(*) AS n_suppliers "
   "FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey "
   "GROUP BY n.n_name")
def supplier_names_rollup(spark, sf_dir):
    # ordered string aggregation: collect_list is unordered by contract, so
    # determinism comes from array_sort before the join — same rule as the
    # oracle's ORDER BY inside string_agg
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
            .groupBy("n_name")
            .agg(F.array_join(F.array_sort(F.collect_list("s_name")), ",")
                 .alias("names"),
                 F.count(F.lit(1)).alias("n_suppliers")))


@q("events_bool_aggs",
   "SELECT user_id, bool_or(value > 90) AS any_high, "
   "bool_and(value >= 0) AS all_nonneg, "
   "CAST(count_if(event_type = 'click') AS BIGINT) AS n_clicks, count(*) AS n "
   "FROM events GROUP BY user_id")
def events_bool_aggs(spark, sf_dir):
    # boolean-aggregate surface: bool_or / bool_and / count_if compile to
    # partial-merging aggregates like any other (no row fan-out)
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.bool_or(F.col("value") > 90).alias("any_high"),
                 F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
                 F.count_if(F.col("event_type") == "click").alias("n_clicks"),
                 F.count(F.lit(1)).alias("n")))


@q("orders_null_semantics",
   "SELECT o_orderpriority, "
   "count(nullif(o_orderstatus, 'O')) AS n_not_open, "
   "count(*) - count(nullif(o_orderstatus, 'O')) AS n_open, "
   "count(coalesce(nullif(o_orderstatus, 'O'), 'OPEN')) AS n_total "
   "FROM orders GROUP BY o_orderpriority")
def orders_null_semantics(spark, sf_dir):
    # NULL-semantics certification: nullif manufactures NULLs, count skips
    # them, coalesce restores — the exact SQL null-handling contract
    o = load_table(spark, sf_dir, "orders")
    not_open = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (o.groupBy("o_orderpriority")
            .agg(F.count(not_open).alias("n_not_open"),
                 (F.count(F.lit(1)) - F.count(not_open)).alias("n_open"),
                 F.count(F.coalesce(not_open, F.lit("OPEN")))
                 .alias("n_total")))


@q("lineitem_price_bands",
   "SELECT CASE WHEN l_extendedprice < 10000 THEN 'low' "
   "WHEN l_extendedprice < 40000 THEN 'mid' ELSE 'high' END AS band, "
   "count(*) AS n, "
   "CAST(SUM(CAST(greatest(least(l_extendedprice, 50000.0), 1000.0) "
   "AS DECIMAL(18,6))) AS DOUBLE) AS clamped_total "
   "FROM lineitem GROUP BY 1")
def lineitem_price_bands(spark, sf_dir):
    # searched-CASE banding + greatest/least clamping — winsorized
    # aggregation as pure scan expressions
    li = load_table(spark, sf_dir, "lineitem")
    band = (F.when(F.col("l_extendedprice") < 10000, "low")
            .when(F.col("l_extendedprice") < 40000, "mid")
            .otherwise("high"))
    clamped = F.greatest(F.least(F.col("l_extendedprice"), F.lit(50000.0)),
                         F.lit(1000.0))
    return (li.groupBy(band.alias("band"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(clamped.cast("decimal(18,6)")).cast("double")
                 .alias("clamped_total")))


@q("orders_multi_distinct",
   "SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, "
   "count(DISTINCT o_custkey) AS n_customers, "
   "count(DISTINCT o_orderpriority) AS n_priorities, count(*) AS n_orders "
   "FROM orders GROUP BY 1")
def orders_multi_distinct(spark, sf_dir):
    # multiple COUNT(DISTINCT ...) in one aggregate — exercises Spark's
    # expand-based multi-distinct planning (one pass, expanded rows, not
    # one job per distinct column)
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy(F.year("o_orderdate").cast("long").alias("yr"))
            .agg(F.count_distinct("o_custkey").alias("n_customers"),
                 F.count_distinct("o_orderpriority").alias("n_priorities"),
                 F.count(F.lit(1)).alias("n_orders")))


@q("customer_full_join_orders",
   "SELECT CASE WHEN c.c_custkey IS NULL THEN 'order_only' "
   "WHEN o.o_orderkey IS NULL THEN 'customer_only' ELSE 'both' END "
   "AS match_status, count(*) AS n "
   "FROM customer c FULL OUTER JOIN orders o ON o.o_custkey = c.c_custkey "
   "GROUP BY 1")
def customer_full_join_orders(spark, sf_dir):
    # FULL OUTER join match accounting: matched rows, customers with no
    # orders, orders with no customer (referential-integrity probe)
    c = load_table(spark, sf_dir, "customer").alias("c")
    o = load_table(spark, sf_dir, "orders").alias("o")
    j = c.join(o, F.col("o.o_custkey") == F.col("c.c_custkey"), "full_outer")
    status = (F.when(F.col("c.c_custkey").isNull(), "order_only")
              .when(F.col("o.o_orderkey").isNull(), "customer_only")
              .otherwise("both"))
    return (j.groupBy(status.alias("match_status"))
            .agg(F.count(F.lit(1)).alias("n")))


@q("orders_date_arithmetic",
   "SELECT o_orderkey, "
   "CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) "
   "AS days_since, "
   "strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d, "
   "strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end "
   "FROM orders")
def orders_date_arithmetic(spark, sf_dir):
    # date-arithmetic certification: day diffs against an epoch literal,
    # interval addition, end-of-month — all emitted as formatted strings
    # (pandas date dtypes diverge between engines)
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long").alias("days_since"),
        F.date_format(F.date_add(F.col("o_orderdate"), 30), "yyyy-MM-dd")
        .alias("plus_30d"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd")
        .alias("month_end"))


@q("events_timestamp_parts",
   "SELECT CAST(day(ts) AS BIGINT) AS dom, "
   "CAST(minute(ts) AS BIGINT) AS minute_of_hour, "
   "CAST(weekofyear(ts) AS BIGINT) AS iso_week, count(*) AS n "
   "FROM events GROUP BY 1, 2, 3")
def events_timestamp_parts(spark, sf_dir):
    # calendar-part extraction certification (day-of-month, minute, ISO
    # week) — grouped so the output grain is bounded
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.dayofmonth("ts").cast("long").alias("dom"),
                       F.minute("ts").cast("long").alias("minute_of_hour"),
                       F.weekofyear("ts").cast("long").alias("iso_week"))
            .agg(F.count(F.lit(1)).alias("n")))


@q("lineitem_numeric_funcs",
   "SELECT l_returnflag, "
   "CAST(SUM(CAST(round(ln(l_extendedprice), 6) AS DECIMAL(18,6))) "
   "AS DOUBLE) AS sum_ln_price, "
   "CAST(SUM(CAST(round(sqrt(l_quantity), 6) AS DECIMAL(18,6))) "
   "AS DOUBLE) AS sum_sqrt_qty, "
   "CAST(SUM(CAST(sign(l_discount - 0.05) AS BIGINT)) AS BIGINT) "
   "AS net_disc_sign, "
   "CAST(SUM(CAST(abs(ceil(l_tax * 100) - floor(l_tax * 100)) AS BIGINT)) "
   "AS BIGINT) AS n_frac_tax FROM lineitem GROUP BY l_returnflag")
def lineitem_numeric_funcs(spark, sf_dir):
    # numeric-function certification: ln/sqrt rounded per-row to 6 decimals
    # BEFORE the decimal sum (libm implementations may differ in the last
    # ulp between engines; round-6 absorbs it — same discipline as BM25),
    # sign/ceil/floor/abs as exact integer paths
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.sum(F.round(F.log(F.col("l_extendedprice")), 6)
                       .cast("decimal(18,6)")).cast("double")
                 .alias("sum_ln_price"),
                 F.sum(F.round(F.sqrt("l_quantity"), 6)
                       .cast("decimal(18,6)")).cast("double")
                 .alias("sum_sqrt_qty"),
                 F.sum(F.signum(F.col("l_discount") - 0.05).cast("long"))
                 .cast("long").alias("net_disc_sign"),
                 F.sum(F.abs(F.ceil(F.col("l_tax") * 100)
                             - F.floor(F.col("l_tax") * 100)).cast("long"))
                 .cast("long").alias("n_frac_tax")))


@q("orders_grouping_id_rollup",
   "SELECT coalesce(o_orderstatus, 'ALL') AS status, "
   "coalesce(o_orderpriority, 'ALL') AS priority, "
   "CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) "
   "AS gid, count(*) AS n "
   "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)")
def orders_grouping_id_rollup(spark, sf_dir):
    # ROLLUP with grouping_id: the bitmask disambiguates real NULL groups
    # from subtotal rows — same bit order as GROUPING(a)*2 + GROUPING(b)
    o = load_table(spark, sf_dir, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count(F.lit(1)).alias("n"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("priority"), "gid", "n"))


@q("lineitem_regression",
   "SELECT l_returnflag, "
   "round(regr_slope(l_extendedprice, l_quantity), 6) AS slope, "
   "round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept, "
   "CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n "
   "FROM lineitem GROUP BY l_returnflag")
def lineitem_regression(spark, sf_dir):
    # linear-regression aggregate surface: slope/intercept of price on
    # quantity per flag (price is nearly linear in quantity in TPC-H data,
    # so the fit is meaningful); round-6 absorbs partial-merge float drift
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6)
                 .alias("slope"),
                 F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6)
                 .alias("intercept"),
                 F.regr_count("l_extendedprice", "l_quantity").cast("long")
                 .alias("n")))


@q("doc_token_hof_suite",
   "WITH t AS (SELECT doc_id, " + _SQL_TOKENS + " AS tk FROM documents) "
   "SELECT doc_id, "
   "CAST(len(list_filter(tk, x -> strlen(x) > 6)) AS BIGINT) AS n_long, "
   "len(list_filter(tk, x -> strlen(x) > 20)) = 0 AS all_short, "
   "len(list_filter(tk, x -> x = 'table')) > 0 AS has_table, "
   "CAST(list_max(list_transform(tk, x -> strlen(x))) AS BIGINT) "
   "AS max_tok_len FROM t")
def doc_token_hof_suite(spark, sf_dir):
    # higher-order-function certification: filter/forall/exists/transform+
    # array_max as pure codegen'd expressions over the token set — the HOF
    # family is the engine's array algebra, pinned value-for-value
    d = _docs_tagged(spark, sf_dir)
    tk = F.col("tags")
    return d.select(
        "doc_id",
        F.size(F.filter(tk, lambda x: F.length(x) > 6)).cast("long")
        .alias("n_long"),
        F.forall(tk, lambda x: F.length(x) <= 20).alias("all_short"),
        F.exists(tk, lambda x: x == F.lit("table")).alias("has_table"),
        F.array_max(F.transform(tk, F.length)).cast("long")
        .alias("max_tok_len"))


@q("doc_tokens_posexplode",
   # raw (non-distinct) token list: DuckDB's list_distinct does NOT
   # preserve order, so positional semantics are only defined on the raw
   # split. Parallel unnests zip positionally in DuckDB.
   "WITH t AS (SELECT doc_id, "
   "list_filter(string_split(text, ' '), x -> x <> '') AS tk "
   "FROM documents) "
   "SELECT * FROM (SELECT doc_id, "
   "CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos, "
   "unnest(tk) AS token FROM t) WHERE pos <= 5")
def doc_tokens_posexplode(spark, sf_dir):
    # positional explode: (doc_id, 1-based position, token) for the first 5
    # tokens — ordinality-preserving flatten
    d = _docs(spark, sf_dir)
    return (d.select("doc_id",
                     F.posexplode(F.slice(TX.tokens(F.col("text")), 1, 5)))
            .select("doc_id", (F.col("pos") + 1).cast("long").alias("pos"),
                    F.col("col").alias("token")))


@q("pivot_event_multi_agg",
   "SELECT user_id, "
   + ", ".join(
       f"coalesce(count(*) FILTER (WHERE event_type = '{t}'), 0) AS {t}_n, "
       f"CAST(coalesce(SUM(CAST(value AS DECIMAL(18,6))) "
       f"FILTER (WHERE event_type = '{t}'), 0) AS DOUBLE) AS {t}_total"
       for t in ("click", "view", "purchase"))
   + " FROM events GROUP BY user_id")
def pivot_event_multi_agg(spark, sf_dir):
    # pivot with MULTIPLE aggregates per pivot value (count + decimal sum)
    # through the real relational pivot API — a static value list keeps it
    # one pass with no distinct-values pre-job
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase"]
    piv = (ev.groupBy("user_id").pivot("event_type", types)
           .agg(F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(_dec("value")),
                           F.lit(0).cast("decimal(18,6)"))
                .cast("double").alias("total")))
    # pivot leaves NULL counts for absent (user, type) pairs; the oracle's
    # FILTER form yields 0 — align
    return piv.select("user_id", *[
        c for t in types for c in (
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"{t}_n"),
            F.coalesce(F.col(f"{t}_total"), F.lit(0.0)).alias(f"{t}_total"))])


@q("docs_metrics_unpivot",
   "SELECT doc_id, m.metric, m.value FROM ("
   "SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, "
   "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) "
   "AS n_tokens, CAST(len(" + _SQL_TOKENS + ") AS BIGINT) AS n_distinct "
   "FROM documents) "
   "CROSS JOIN LATERAL (VALUES ('n_chars', n_chars), ('n_tokens', n_tokens), "
   "('n_distinct', n_distinct)) AS m(metric, value)")
def docs_metrics_unpivot(spark, sf_dir):
    # unpivot/melt: wide per-doc metrics to (doc_id, metric, value) long
    # form via the relational unpivot operator (the oracle spells it as a
    # LATERAL VALUES join — same rows)
    d = _docs(spark, sf_dir)
    wide = d.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(TX.tags_of(F.col("text"))).cast("long").alias("n_distinct"))
    return wide.unpivot("doc_id", ["n_chars", "n_tokens", "n_distinct"],
                        "metric", "value")


@q("customer_last3_orders_csv",
   "SELECT o_custkey, o_orderkey, concat_ws(',', "
   "CAST(o_orderkey AS VARCHAR), "
   "CAST(lag(o_orderkey, 1) OVER w AS VARCHAR), "
   "CAST(lag(o_orderkey, 2) OVER w AS VARCHAR)) AS last3 "
   "FROM orders WINDOW w AS (PARTITION BY o_custkey "
   "ORDER BY o_orderdate, o_orderkey)")
def customer_last3_orders_csv(spark, sf_dir):
    # trailing-window key digest: current + two previous order keys as a
    # csv (concat_ws skips NULLs identically on both engines, so heads of
    # partitions come out shorter, not null-padded)
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.concat_ws(",", F.col("o_orderkey").cast("string"),
                    F.lag("o_orderkey", 1).over(w).cast("string"),
                    F.lag("o_orderkey", 2).over(w).cast("string"))
        .alias("last3"))


@q("regexp_capture_rewrite",
   # same capture semantics, different backreference spelling: Spark `$1`,
   # DuckDB/RE2 `\1`
   "SELECT doc_id, "
   "substr(regexp_replace(text, '(t[A-Za-z0-9_]+)e', 'X\\1X', 'g'), 1, 60) "
   "AS rewritten_head, "
   "CAST(length(regexp_replace(text, '(t[A-Za-z0-9_]+)e', 'X\\1X', 'g')) "
   "AS BIGINT) AS rewritten_len FROM documents")
def regexp_capture_rewrite(spark, sf_dir):
    # capture-group rewriting certification: replace t...e words with a
    # bracketed capture — the backreference engine surface under text
    # canonicalizers
    d = _docs(spark, sf_dir)
    rw = F.regexp_replace("text", r"(t[A-Za-z0-9_]+)e", "X$1X")
    return d.select("doc_id",
                    F.substring(rw, 1, 60).alias("rewritten_head"),
                    F.length(rw).cast("long").alias("rewritten_len"))


@q("orders_bit_ops",
   "SELECT o_orderkey & 7 AS bucket, count(*) AS n, "
   "bit_or(o_orderkey & 255) AS key_or, "
   "bit_xor(o_orderkey & 255) AS key_xor, "
   "CAST(1 AS BIGINT) << CAST(min(o_orderkey) & 3 AS INTEGER) AS shifted "
   "FROM orders GROUP BY 1")
def orders_bit_ops(spark, sf_dir):
    # bitwise expression + aggregate surface: &-bucketing, bit_or/bit_xor
    # aggregates, shiftleft — the primitives under bitmask set encodings
    o = load_table(spark, sf_dir, "orders")
    k255 = F.col("o_orderkey").bitwiseAND(F.lit(255))
    return (o.groupBy(F.col("o_orderkey").bitwiseAND(F.lit(7))
                      .alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.expr("bit_or(o_orderkey & 255)").alias("key_or"),
                 F.expr("bit_xor(o_orderkey & 255)").alias("key_xor"),
                 F.expr("shiftleft(cast(1 as bigint), "
                        "cast(min(o_orderkey) & 3 as int))")
                 .alias("shifted")))


@q("docs_hash_suite",
   "SELECT doc_id, substr(md5(text), 1, 8) AS md5_8, "
   "substr(sha256(text), 1, 8) AS sha_8 FROM documents")
def docs_hash_suite(spark, sf_dir):
    # cryptographic-hash column surface (md5 + sha2-256, hex-lowercase on
    # both engines) — the content-addressing primitives under dedup keys
    # and cache keys
    d = _docs(spark, sf_dir)
    return d.select("doc_id",
                    F.substring(F.md5("text"), 1, 8).alias("md5_8"),
                    F.substring(F.sha2("text", 256), 1, 8).alias("sha_8"))


@q("array_ops_extended",
   # position runs on the RAW token list (DuckDB list_distinct reorders);
   # the order-insensitive ops (overlap / removal count / max) use the
   # distinct set
   "WITH t AS (SELECT doc_id, "
   "list_filter(string_split(text, ' '), x -> x <> '') AS raw, "
   + _SQL_TOKENS + " AS tk FROM documents) "
   "SELECT doc_id, "
   "CAST(coalesce(list_position(raw, 'table'), 0) AS BIGINT) AS pos_table, "
   "len(list_intersect(tk, ['table', 'spark'])) > 0 AS overlaps_probe, "
   "CAST(len(list_filter(tk, x -> x <> 'a')) AS BIGINT) AS n_wo_a, "
   "list_max(tk) AS max_tag FROM t")
def array_ops_extended(spark, sf_dir):
    # extended array algebra: 1-based first-occurrence position (0 =
    # absent), overlap test, element removal, lexicographic max — each a
    # scan expression
    d = _docs_tagged(spark, sf_dir)
    probe = F.array(F.lit("table"), F.lit("spark"))
    return d.select(
        "doc_id",
        F.array_position(TX.tokens(F.col("text")), "table").cast("long")
        .alias("pos_table"),
        F.arrays_overlap("tags", probe).alias("overlaps_probe"),
        F.size(F.array_remove("tags", "a")).cast("long").alias("n_wo_a"),
        F.array_max("tags").alias("max_tag"))


# ---- round-4 wave: pretraining-quality certification -----------------------
# Gopher-style quality/repetition rules, mixture planning, graded
# contamination, and a hypertable-style multi-grain rollup — the remaining
# audit surface of a training-data release.

@q("gopher_quality_flags",
   "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
   "t -> t <> '') AS ws FROM documents), "
   "s AS (SELECT doc_id, len(ws) AS n, "
   "CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS chars, "
   "len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha, "
   "len(list_intersect(list_distinct(list_transform(ws, w -> lower(w))), "
   "['the','be','to','of','and','that','have','with'])) AS stop FROM w) "
   "SELECT doc_id, CAST(n AS BIGINT) AS n_words, "
   "round(CAST(chars AS DOUBLE) / greatest(n, 1), 6) AS mean_word_len, "
   "round(CAST(alpha AS DOUBLE) / greatest(n, 1), 6) AS alpha_word_ratio, "
   "CAST(stop AS BIGINT) AS n_required_stop, "
   "(n BETWEEN 50 AND 100000 "
   "AND CAST(chars AS DOUBLE) / greatest(n, 1) BETWEEN 3 AND 10 "
   "AND CAST(alpha AS DOUBLE) / greatest(n, 1) >= 0.8 "
   "AND stop >= 2) AS keep FROM documents JOIN s USING (doc_id)")
def gopher_quality_flags_q(spark, sf_dir):
    # the Gopher rule pass (word count, mean word length, alpha-word ratio,
    # required stopwords + conjunctive keep): per-row expressions over one
    # bound token array, rides the scan (operators/text.py)
    return TX.gopher_quality_flags(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "mean_word_len", "alpha_word_ratio",
        "n_required_stop", "keep")


def _top_ngram_sql(ns=(2, 3, 4)) -> str:
    """Literal-n UNION blocks (not a lambda-captured join column) keep the
    gram derivation identical to the Spark side's per-n arrays."""
    blocks = []
    for n in ns:
        blocks.append(
            f"SELECT doc_id, len, CAST({n} AS BIGINT) AS n, "
            f"unnest(list_transform(generate_series(1, "
            f"greatest(len(ws) - {n - 1}, 1)), "
            f"i -> array_to_string(ws[i:i+{n - 1}], ' '))) AS g FROM w")
    return (
        "WITH w AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len, "
        "list_filter(string_split(text, ' '), t -> t <> '') AS ws "
        "FROM documents), "
        "g AS (" + " UNION ALL ".join(blocks) + "), "
        "c AS (SELECT doc_id, len, n, g, count(*) AS cnt FROM g "
        "GROUP BY doc_id, len, n, g), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n "
        "ORDER BY cnt DESC, g) AS rn FROM c) "
        "SELECT doc_id, n, g AS top_gram, cnt AS top_cnt, "
        "round(CAST(cnt * length(g) AS DOUBLE) / greatest(len, 1), 6) "
        "AS char_frac FROM r WHERE rn = 1")


@q("top_ngram_char_fraction", _top_ngram_sql())
def top_ngram_char_fraction(spark, sf_dir):
    # Gopher repetition rules, top-n-gram family: most frequent word
    # 2/3/4-gram per doc and the char fraction it accounts for — explode +
    # count + argmax window, map-side combine absorbs the repeats
    # (operators/text.py:top_ngram_char_stats)
    return TX.top_ngram_char_stats(_docs(spark, sf_dir))


@q("dup_ngram_char_fraction",
   "WITH w AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len, "
   "list_filter(string_split(text, ' '), t -> t <> '') AS ws "
   "FROM documents), "
   "g AS (SELECT doc_id, len, unnest(list_transform(generate_series(1, "
   "greatest(len(ws) - 4, 1)), i -> array_to_string(ws[i:i+4], ' '))) AS g "
   "FROM w), "
   "c AS (SELECT doc_id, len, g, count(*) AS cnt FROM g "
   "GROUP BY doc_id, len, g), "
   "s AS (SELECT doc_id, round(CAST(SUM(CASE WHEN cnt > 1 "
   "THEN cnt * length(g) ELSE 0 END) AS DOUBLE) "
   "/ greatest(any_value(len), 1), 6) AS dup_frac FROM c GROUP BY doc_id) "
   "SELECT d.doc_id, COALESCE(s.dup_frac, 0.0) AS dup_frac "
   "FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id")
def dup_ngram_char_fraction_q(spark, sf_dir):
    # Gopher repetition rules, duplicate-n-gram family: char fraction in
    # word 5-grams occurring more than once; zero-dup docs keep a 0.0 row
    # (operators/text.py:dup_ngram_char_fraction)
    return TX.dup_ngram_char_fraction(_docs(spark, sf_dir), n=5)


@q("domain_mixture_weights",
   "WITH per AS (SELECT source, count(*) AS n_docs, "
   "CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) "
   "AS BIGINT) AS n_tokens FROM documents GROUP BY source), "
   "tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, "
   "count(*) AS n_strata FROM per) "
   "SELECT source, n_docs, n_tokens, "
   "round(CAST(n_tokens AS DOUBLE) / total, 6) AS token_share, "
   "round((CAST(1 AS DOUBLE) / n_strata) / "
   "(CAST(n_tokens AS DOUBLE) / total), 6) AS mix_weight "
   "FROM per CROSS JOIN tot")
def domain_mixture_weights(spark, sf_dir):
    # mixture planning: per-source token share + the resampling weight to
    # reach a uniform target mix — the knob mixture_sample consumes; bounded
    # at |sources| rows (operators/sampling.py:mixture_weights)
    return SM.mixture_weights(_docs(spark, sf_dir))


_EPOCH_TARGETS = {"src0": 0.35, "src1": 0.2,
                  **{f"src{i}": 0.025 for i in range(2, 20)}}


@q("mixture_epoch_schedule",
   # FULL-VALUE oracle: the Llama-style data-recipe table (sampling
   # proportion + epochs per domain under a token budget and a
   # max-repetition cap) is integer/round()-pinned arithmetic over the
   # per-source token aggregate — DuckDB re-derives every column from the
   # same literals (budget 20000, cap 3.0 epochs, shares 0.35/0.2/0.025).
   "WITH per AS (SELECT source, "
   "CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) "
   "AS BIGINT) AS n_tokens FROM documents GROUP BY source), "
   "t AS (SELECT source, n_tokens, CAST(CASE source WHEN 'src0' THEN 0.35 "
   "WHEN 'src1' THEN 0.2 ELSE 0.025 END AS DOUBLE) AS share FROM per), "
   "s AS (SELECT source, n_tokens, share, "
   "CAST(round(20000 * share) AS BIGINT) AS requested, "
   "LEAST(CAST(round(20000 * share) AS BIGINT), "
   "CAST(round(n_tokens * CAST(3.0 AS DOUBLE)) AS BIGINT)) AS planned "
   "FROM t), "
   "tot AS (SELECT CAST(SUM(planned) AS BIGINT) AS pt FROM s) "
   "SELECT source, n_tokens, round(share, 6) AS target_share, "
   "requested AS tokens_requested, "
   "round(CAST(requested AS DOUBLE) / n_tokens, 4) AS epochs_uncapped, "
   "planned AS tokens_planned, "
   "round(CAST(planned AS DOUBLE) / n_tokens, 4) AS epochs, "
   "planned < requested AS capped, "
   "round(CAST(planned AS DOUBLE) / pt, 6) AS realized_share "
   "FROM s CROSS JOIN tot")
def mixture_epoch_schedule(spark, sf_dir):
    # epoch/budget planning (operators/sampling.py:epoch_schedule): at
    # budget 20k and cap 3.0 the heavy targets (src0/src1) BIND the cap
    # (capped=true, realized_share < target_share) while the 0.025 domains
    # run fractional epochs — both schedule regimes exercised. The 1-row
    # planned-total side of the final join is the proven-broadcast shape.
    return SM.epoch_schedule(_docs(spark, sf_dir), budget_tokens=20000,
                             targets=_EPOCH_TARGETS, max_epochs=3.0)


@q("contamination_overlap_score",
   "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
   "t -> t <> '') AS ws FROM documents), "
   "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
   "generate_series(1, greatest(len(ws) - 7, 1)), "
   "i -> array_to_string(ws[i:i+7], ' ')))) AS sh FROM w), "
   "tr AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 <> 0), "
   "t AS (SELECT s.doc_id, count(*) AS n_shingles, "
   "CAST(SUM(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_hit FROM sh s LEFT JOIN tr ON tr.sh = s.sh "
   "WHERE s.doc_id % 10 = 0 GROUP BY s.doc_id) "
   "SELECT doc_id, n_shingles, n_hit, "
   "round(CAST(n_hit AS DOUBLE) / n_shingles, 6) AS overlap_frac FROM t")
def contamination_overlap_score(spark, sf_dir):
    # graded leakage severity per test doc (fraction of its word 8-gram
    # shingles present anywhere in train) — the score release audits report
    # next to the binary decontaminate verdict
    # (operators/dedup.py:contamination_overlap_scores)
    return D.contamination_overlap_scores(
        _docs(spark, sf_dir), F.col("doc_id") % 10 == 0, n=8)


@q("hypertable_multi_rollup",
   "WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, "
   "CAST(hour(ts) AS BIGINT) AS hr, user_id, value FROM events) "
   "SELECT CASE WHEN hr IS NULL THEN 'day' ELSE 'hour' END AS grain, "
   "day, COALESCE(hr, -1) AS hr, count(*) AS n_events, "
   "count(DISTINCT user_id) AS n_users, "
   "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
   "FROM e GROUP BY GROUPING SETS ((day), (day, hr))")
def hypertable_multi_rollup(spark, sf_dir):
    # hypertable-style continuous aggregate: hourly AND daily grains from
    # ONE grouping-sets pass (one shuffle computes both; the day grain is
    # not a re-aggregation job) — the multi-resolution rollup a metrics
    # store materializes over an events hypertable
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                  F.hour("ts").cast("long").alias("hr"),
                  "user_id", "value")
    gs = (g.groupingSets([["day"], ["day", "hr"]], "day", "hr")
          .agg(F.count(F.lit(1)).alias("n_events"),
               F.countDistinct("user_id").alias("n_users"),
               F.sum(_dec("value")).cast("double").alias("sum_value")))
    return gs.select(
        F.when(F.col("hr").isNull(), F.lit("day")).otherwise(F.lit("hour"))
        .alias("grain"),
        "day", F.coalesce("hr", F.lit(-1).cast("long")).alias("hr"),
        "n_events", "n_users", "sum_value")


@q("asof_join_nearest",
   """WITH p AS (SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts AS cts, event_id AS cid FROM events
  WHERE event_type = 'click'),
b AS (SELECT event_id, cts, cid FROM (
  SELECT p.event_id, c.cts, c.cid, row_number() OVER (
    PARTITION BY p.event_id ORDER BY c.cts DESC, c.cid DESC) AS rk
  FROM p JOIN c ON c.user_id = p.user_id AND c.cts <= p.ts) WHERE rk = 1),
f AS (SELECT event_id, cts, cid FROM (
  SELECT p.event_id, c.cts, c.cid, row_number() OVER (
    PARTITION BY p.event_id ORDER BY c.cts ASC, c.cid DESC) AS rk
  FROM p JOIN c ON c.user_id = p.user_id AND c.cts >= p.ts) WHERE rk = 1)
SELECT p.event_id, p.user_id,
  CASE WHEN f.cid IS NULL OR (b.cid IS NOT NULL
    AND date_diff('second', b.cts, p.ts) <= date_diff('second', p.ts, f.cts))
    THEN b.cid ELSE f.cid END AS nearest_click_id,
  CAST(CASE WHEN f.cid IS NULL OR (b.cid IS NOT NULL
    AND date_diff('second', b.cts, p.ts) <= date_diff('second', p.ts, f.cts))
    THEN date_diff('second', b.cts, p.ts)
    ELSE date_diff('second', p.ts, f.cts) END AS BIGINT) AS gap_s
FROM p LEFT JOIN b ON b.event_id = p.event_id
LEFT JOIN f ON f.event_id = p.event_id""")
def asof_join_nearest(spark, sf_dir):
    # nearest-event temporal join (attribution proximity): for each
    # purchase, the SAME user's closest click in either direction — the
    # bidirectional sibling of asof_join_last_order. Two runs of the linear
    # union+window as-of kernel (backward + forward), then an arithmetic
    # argmin on floored-second gaps; ties prefer the backward match, right
    # ties at equal ts resolve to the greatest id (the kernel's greatest-
    # value-tuple rule). No per-key range join anywhere.
    from thewhisperdb_spark.operators.relational import asof_join

    ev = load_table(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "ts"))
    c = (ev.filter(F.col("event_type") == "click")
         .select("user_id", F.col("ts").alias("cts"),
                 F.col("event_id").alias("cid")))
    back = (asof_join(p, c, key="user_id", left_ts="ts", right_ts="cts",
                      right_vals=("cts", "cid"), direction="backward")
            .select("event_id", F.col("asof_cts").alias("b_ts"),
                    F.col("asof_cid").alias("b_id")))
    fwd = (asof_join(p, c, key="user_id", left_ts="ts", right_ts="cts",
                     right_vals=("cts", "cid"), direction="forward")
           .select("event_id", F.col("asof_cts").alias("f_ts"),
                   F.col("asof_cid").alias("f_id")))
    j = p.join(back, "event_id", "left").join(fwd, "event_id", "left")
    gap_b = F.unix_timestamp("ts") - F.unix_timestamp("b_ts")
    gap_f = F.unix_timestamp("f_ts") - F.unix_timestamp("ts")
    prefer_back = F.col("f_id").isNull() | (F.col("b_id").isNotNull()
                                            & (gap_b <= gap_f))
    return j.select(
        "event_id", "user_id",
        F.when(prefer_back, F.col("b_id")).otherwise(F.col("f_id"))
        .alias("nearest_click_id"),
        F.when(prefer_back, gap_b).otherwise(gap_f).cast("long")
        .alias("gap_s"))


@q("dataset_release_report",
   "SELECT "
   "(SELECT count(*) FROM documents) AS n_docs, "
   "(SELECT CAST(SUM(len(list_filter(string_split(text, ' '), "
   "t -> t <> ''))) AS BIGINT) FROM documents) AS n_tokens, "
   "(SELECT count(DISTINCT lang) FROM documents) AS n_langs, "
   "(SELECT count(DISTINCT source) FROM documents) AS n_sources, "
   "COALESCE((SELECT CAST(SUM(n) AS BIGINT) FROM "
   "(SELECT count(*) AS n FROM documents GROUP BY text "
   "HAVING count(*) > 1)), 0) AS n_exact_dup_docs, "
   "(SELECT count(*) FROM ("
   "SELECT len(ws) AS n, "
   "CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS chars, "
   "len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha, "
   "len(list_intersect(list_distinct(list_transform(ws, w -> lower(w))), "
   "['the','be','to','of','and','that','have','with'])) AS stop "
   "FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ws "
   "FROM documents)) WHERE n BETWEEN 50 AND 100000 "
   "AND CAST(chars AS DOUBLE) / greatest(n, 1) BETWEEN 3 AND 10 "
   "AND CAST(alpha AS DOUBLE) / greatest(n, 1) >= 0.8 AND stop >= 2) "
   "AS n_gopher_keep, "
   "(SELECT count(*) FROM ("
   "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
   "t -> t <> '') AS ws FROM documents), "
   "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
   "generate_series(1, greatest(len(ws) - 7, 1)), "
   "i -> array_to_string(ws[i:i+7], ' ')))) AS sh FROM w) "
   "SELECT DISTINCT t.doc_id FROM sh t "
   "JOIN (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 <> 0) tr "
   "ON t.sh = tr.sh WHERE t.doc_id % 10 = 0)) AS n_test_contaminated")
def dataset_release_report(spark, sf_dir):
    # the one-row audit card a data release ships: corpus size, token
    # count, lang/source cardinalities, exact-dup volume, Gopher keep
    # count, contaminated-test-doc count. THREE corpus passes, not seven:
    # size/tokens/cardinalities/keep all ride the gopher-flag scan (one
    # pass), exact dups need the text-hash shuffle (two), contamination
    # the shingle join (three); the 1-row partials cross-join at the end.
    d = _docs(spark, sf_dir)
    g = TX.gopher_quality_flags(d)
    base = g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.col("keep").cast("long")).alias("n_gopher_keep"))
    dup = (d.groupBy("text").agg(F.count(F.lit(1)).alias("n"))
           .filter(F.col("n") > 1)
           .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_exact_dup_docs")))
    cont = D.cross_split_contamination(
        d, F.col("doc_id") % 10 == 0, n=8).agg(
        F.count(F.lit(1)).alias("n_test_contaminated"))
    return (base.crossJoin(dup).crossJoin(cont)
            .select("n_docs", "n_tokens", "n_langs", "n_sources",
                    "n_exact_dup_docs", "n_gopher_keep",
                    "n_test_contaminated"))


# ---- round-4 TPC-H wave (q4/q6/q10/q12/q14/q18 shapes, adapted to the -----
# testdata's column subset; every float aggregate goes through exact
# decimal so orderings and hashes are engine-stable)

_DEC_REV = ("CAST(l_extendedprice AS DECIMAL(18,6)) "
            "* CAST(1 - l_discount AS DECIMAL(18,6))")


@q("tpch_q6_forecast_revenue",
   "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) "
   "* CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue "
   "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
   "AND l_shipdate < TIMESTAMP '1997-01-01' "
   "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")
def tpch_q6_forecast_revenue(spark, sf_dir):
    # TPC-H Q6: pure filter + single-row aggregate — the whole query rides
    # the scan (predicate pushdown on shipdate/discount/quantity), one
    # partial-agg shuffle of 32 rows. Decimal product keeps the sum exact.
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07) & (F.col("l_quantity") < 24))
    return f.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)")
              * F.col("l_discount").cast("decimal(18,6)"))
        .cast("double").alias("revenue"))


@q("tpch_q4_late_ship_priority",
   "SELECT o_orderpriority, count(*) AS n_orders FROM orders o "
   "WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' "
   "AND o.o_orderdate < TIMESTAMP '1997-01-01' "
   "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
   "AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) "
   "GROUP BY o_orderpriority")
def tpch_q4_late_ship_priority(spark, sf_dir):
    # TPC-H Q4 shape (testdata has no commitdate/receiptdate, so "late" =
    # any line shipped >90 days after the order date): EXISTS compiles to a
    # LEFT SEMI join on the order key — each order counted once no matter
    # how many late lines — then a 5-group aggregate.
    o = (load_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate")
                  >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("o_orderdate")
                    < F.lit("1997-01-01").cast("timestamp"))))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi")
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"))


@q("tpch_q10_returned_revenue",
   f"""WITH rev AS (
  SELECT o.o_custkey, SUM({_DEC_REV}) AS rev_dec
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY o.o_custkey)
SELECT c.c_custkey, c.c_name, n.n_name,
  CAST(rev_dec AS DOUBLE) AS revenue
FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
ORDER BY rev_dec DESC, c.c_custkey LIMIT 20""")
def tpch_q10_returned_revenue(spark, sf_dir):
    # TPC-H Q10: lost revenue from returned items, top 20 customers for one
    # quarter. The fact-fact join shuffles on the order key; customer and
    # nation attach AFTER the aggregate, and it is the AGGREGATED side
    # (one row per quarter-active returned-item customer — orders of
    # magnitude smaller than the customer dimension at any SF) that gets
    # the broadcast hint, so the dimension never ships. Ordering on the
    # EXACT decimal sum keeps the cut deterministic; the double cast
    # happens in the output only.
    o = (load_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate")
                  >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("o_orderdate")
                    < F.lit("1996-04-01").cast("timestamp")))
         .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    rev = (o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
           .groupBy("o_custkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")
                      * (F.lit(1) - F.col("l_discount"))
                      .cast("decimal(18,6)")).alias("rev_dec")))
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (c.join(F.broadcast(rev),
                   F.col("c_custkey") == F.col("o_custkey"))
            .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
            .orderBy(F.col("rev_dec").desc(), F.col("c_custkey")).limit(20)
            .select("c_custkey", "c_name", "n_name",
                    F.col("rev_dec").cast("double").alias("revenue")))


@q("tpch_q12_linestatus_priority",
   "SELECT l_linestatus, "
   "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
   "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
   "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
   "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
   "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
   "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
   "AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY l_linestatus")
def tpch_q12_linestatus_priority(spark, sf_dir):
    # TPC-H Q12 shape (linestatus stands in for the absent shipmode):
    # fact-fact equi-join on the order key + conditional counts into a
    # 2-row result — the filter prunes lineitem at the scan.
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate")
                   >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate")
                     < F.lit("1997-01-01").cast("timestamp")))
          .select("l_orderkey", "l_linestatus"))
    return (o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_linestatus")
            .agg(F.sum(hi.cast("long")).alias("high_line_count"),
                 F.sum((~hi).cast("long")).alias("low_line_count")))


@q("tpch_q14_promo_revenue",
   f"""SELECT
  round(CAST(100.0 * SUM(CASE WHEN p.p_type = 'PROMO' THEN {_DEC_REV}
    ELSE CAST(0 AS DECIMAL(18,6)) END)
    / SUM({_DEC_REV}) AS DOUBLE), 6) AS promo_pct,
  CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_DEC_REV}
    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
  CAST(SUM({_DEC_REV}) AS DOUBLE) AS total_revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-02-01'""")
def tpch_q14_promo_revenue(spark, sf_dir):
    # TPC-H Q14: promo revenue share for one month — part is the classic
    # broadcast dimension (fact scans stay shuffle-free up to the single
    # 1-row aggregate). Both sums are exact decimals; the ratio alone is
    # float, rounded to 6.
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate")
                   >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate")
                     < F.lit("1996-02-01").cast("timestamp")))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)"))
    zero = F.lit(0).cast("decimal(18,6)")
    j = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
        .alias("promo_dec"),
        F.sum(rev).alias("total_dec"))
    return agg.select(
        F.round((F.lit(100.0) * F.col("promo_dec") / F.col("total_dec"))
                .cast("double"), 6).alias("promo_pct"),
        F.col("promo_dec").cast("double").alias("promo_revenue"),
        F.col("total_dec").cast("double").alias("total_revenue"))


@q("tpch_q18_large_orders",
   "WITH big AS (SELECT l_orderkey, "
   "SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty FROM lineitem "
   "GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 300) "
   "SELECT c.c_custkey, c.c_name, o.o_orderkey, "
   "strftime(o.o_orderdate, '%Y-%m-%d') AS o_date, "
   "CAST(o.o_totalprice AS DOUBLE) AS o_totalprice, "
   "CAST(big.qty AS DOUBLE) AS total_qty "
   "FROM big JOIN orders o ON o.o_orderkey = big.l_orderkey "
   "JOIN customer c ON c.c_custkey = o.o_custkey "
   "ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100")
def tpch_q18_large_orders(spark, sf_dir):
    # TPC-H Q18: customers with >300-unit orders. The HAVING aggregate
    # reduces lineitem to the handful of big orders BEFORE any join, and
    # it is always the SURVIVORS' side that carries the broadcast hint —
    # first the big-order keys onto orders, then the enriched survivors
    # onto customer (never the full dimension); top-k via
    # TakeOrderedAndProject on the raw stored o_totalprice (no computed
    # float in the ordering).
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                .alias("qty"))
           .filter(F.col("qty") > 300))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    surv = o.join(F.broadcast(big),
                  F.col("o_orderkey") == F.col("l_orderkey"))
    return (c.join(F.broadcast(surv),
                   F.col("c_custkey") == F.col("o_custkey"))
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(100)
            .select("c_custkey", "c_name", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_date"),
                    F.col("o_totalprice").cast("double").alias("o_totalprice"),
                    F.col("qty").cast("double").alias("total_qty")))


@q("events_distinct_users_hll_portable",
   """WITH h AS (SELECT event_type, user_id,
  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
x AS (SELECT event_type, user_id, h & 255 AS bucket, h >> 8 AS w FROM h),
r AS (SELECT event_type, bucket,
  MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m_reg
  FROM x GROUP BY event_type, bucket),
s AS (SELECT event_type, count(*) AS n_present,
  CAST(SUM(CAST(1 AS BIGINT) << (53 - m_reg)) AS BIGINT) AS sum_present
  FROM r GROUP BY event_type),
e AS (SELECT event_type,
  sum_present + (256 - n_present) * (CAST(1 AS BIGINT) << 53) AS sum_int,
  256 - n_present AS v FROM s),
est AS (SELECT event_type, v,
  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
    + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
  * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)
  / CAST(sum_int AS DOUBLE) AS e_raw FROM e),
ex AS (SELECT event_type, count(DISTINCT user_id) AS n_users_exact
  FROM events GROUP BY event_type)
SELECT est.event_type, ex.n_users_exact,
  round(CASE WHEN e_raw <= CAST(640.0 AS DOUBLE) AND v > 0
    THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) / v)
    ELSE e_raw END, 4) AS n_users_est
FROM est JOIN ex ON ex.event_type = est.event_type""")
def events_distinct_users_hll_portable(spark, sf_dir):
    # engine-portable HLL (the CMS treatment applied to distinct counting):
    # md5-derived 60-bit hash -> 256 registers, register sum Σ 2^(53-rho)
    # is an exact 64-bit integer so the estimate is bit-identical across
    # engines and fully oracle-checked — unlike the Datasketches twin
    # (events_distinct_users_hll, rows-only by necessity). Registers merge
    # by MAX across days/partitions without touching raw user ids; the
    # exact distinct count rides along so every row shows the sketch error.
    ev = load_table(spark, sf_dir, "events")
    regs = AG.hll_registers(ev, "user_id", group_cols=("event_type",))
    est = AG.hll_estimate(regs, group_cols=("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"))
    return (est.join(exact, "event_type")
            .select("event_type", "n_users_exact", "n_est")
            .withColumnRenamed("n_est", "n_users_est"))


@q("winnowing_fingerprints",
   """WITH g AS (
  SELECT doc_id,
    unnest(generate_series(1, greatest(length(text) - 4, 1))) AS pos,
    length(text) AS len, text FROM documents),
h AS (
  SELECT doc_id, pos,
    CAST('0x' || substr(md5(substr(text, CAST(pos AS INTEGER), 5)), 1, 15)
      AS BIGINT) AS h,
    greatest(len - 4, 1) AS n_grams FROM g),
s AS (
  SELECT doc_id, pos, n_grams,
    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel FROM h)
SELECT DISTINCT doc_id, sel AS fingerprint FROM s
WHERE pos <= greatest(n_grams - 3, 1)""")
def winnowing_fingerprints_q(spark, sf_dir):
    # winnowing (Schleimer et al., SIGMOD'03 / MOSS): per sliding window of
    # w=4 consecutive char-5-gram hashes, keep the minimum — the selected
    # set localizes matches (any shared substring of length >= w + k - 1
    # shares a fingerprint), which plain MinHash can't do. md5-portable
    # hashes make the whole selection oracle-checkable
    # (operators/text.py:winnow_fingerprints).
    return TX.winnow_fingerprints(_docs(spark, sf_dir), k=5, w=4)


@q("winnow_overlap_pairs",
   """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
g AS (
  SELECT doc_id,
    unnest(generate_series(1, greatest(length(text) - 4, 1))) AS pos,
    length(text) AS len, text FROM d),
h AS (
  SELECT doc_id, pos,
    CAST('0x' || substr(md5(substr(text, CAST(pos AS INTEGER), 5)), 1, 15)
      AS BIGINT) AS h,
    greatest(len - 4, 1) AS n_grams FROM g),
s AS (
  SELECT doc_id, pos, n_grams,
    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel FROM h),
fp AS (SELECT DISTINCT doc_id, sel AS f FROM s
  WHERE pos <= greatest(n_grams - 3, 1))
SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
FROM fp x JOIN fp y ON x.f = y.f AND x.doc_id < y.doc_id
GROUP BY x.doc_id, y.doc_id HAVING count(*) >= 3""")
def winnow_overlap_pairs_q(spark, sf_dir):
    # MOSS matching step: pairs sharing >= 3 winnowed fingerprints — each
    # shared print certifies a shared >= k-char substring, so n_shared
    # grades verbatim overlap. Sliced to doc_id < 200 like
    # ngram_jaccard_dedup: the synthetic corpus is deliberately
    # self-similar, so the ALL-pairs overlap relation is quadratic by
    # construction at full SF (real corpora hot-print-cap or go through
    # minhash banding; see the operator docstring).
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return TX.winnow_overlap_pairs(d, k=5, w=4, min_shared=3)


# ---- round-4b TPC-H wave: the remaining dictionary shapes expressible -----
# on the testdata's column subset (no partsupp table, no commit/receipt
# dates, no comment/container/shipmode columns — each adaptation is named
# in its docstring). Exact-decimal sums throughout so hashes are
# engine-stable; joins follow the at-scale shape: fact-fact shuffles on
# their keys, genuinely-small dims broadcast, aggregated survivors
# broadcast in preference to raw dimensions.


@q("tpch_q5_local_supplier_volume",
   f"""SELECT n.n_name, CAST(SUM({_DEC_REV}) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
  AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name""")
def tpch_q5_local_supplier_volume(spark, sf_dir):
    # TPC-H Q5: revenue from orders where customer and supplier share a
    # nation inside one region. Plan: supplier (broadcast, carries the
    # region prune through nation✕region) attaches s_nationkey to lineitem
    # shuffle-free; the one fact-fact shuffle joins the year-pruned orders
    # on the order key; customer joins by custkey as a proper shuffle join
    # (customer is fact-sized at scale — never broadcast) with the
    # same-nation predicate folded into that join's condition.
    o = (load_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate")
                  >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("o_orderdate")
                    < F.lit("1997-01-01").cast("timestamp")))
         .select("o_orderkey", "o_custkey"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    r = (load_table(spark, sf_dir, "region")
         .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    s = (load_table(spark, sf_dir, "supplier")
         .select("s_suppkey", "s_nationkey")
         .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
         .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey")))
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)"))
    return (li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
            .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(c, (F.col("c_custkey") == F.col("o_custkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .groupBy("n_name")
            .agg(F.sum(rev).cast("double").alias("revenue")))


@q("tpch_q7_volume_shipping",
   f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  year(l.l_shipdate) AS l_year, CAST(SUM({_DEC_REV}) AS DOUBLE) AS volume
FROM supplier s
JOIN lineitem l ON l.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)""")
def tpch_q7_volume_shipping(spark, sf_dir):
    # TPC-H Q7: shipping volume between two nations by year. The
    # nation-pair disjunction can't prune either fact alone, but the
    # supplier side CAN: suppliers outside the two nations drop before the
    # fact-fact shuffle (broadcast semi-shape), and the customer-side half
    # of the disjunction resolves in the final join condition.
    two = ["NATION_1", "NATION_2"]
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (load_table(spark, sf_dir, "supplier")
         .select("s_suppkey", "s_nationkey")
         .join(F.broadcast(n.filter(F.col("n_name").isin(two))
                           .withColumnRenamed("n_name", "supp_nation")),
               F.col("n_nationkey") == F.col("s_nationkey"))
         .select("s_suppkey", "supp_nation"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate")
                   >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate")
                     < F.lit("1998-01-01").cast("timestamp")))
          .select("l_orderkey", "l_suppkey", "l_shipdate",
                  "l_extendedprice", "l_discount"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = (load_table(spark, sf_dir, "customer")
         .select("c_custkey", "c_nationkey")
         .join(F.broadcast(n.filter(F.col("n_name").isin(two))
                           .withColumnRenamed("n_name", "cust_nation")
                           .withColumnRenamed("n_nationkey", "n2_key")),
               F.col("n2_key") == F.col("c_nationkey"))
         .select("c_custkey", "cust_nation"))
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)"))
    return (li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
            .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(c, (F.col("c_custkey") == F.col("o_custkey"))
                  & (F.col("cust_nation") != F.col("supp_nation")))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.sum(rev).cast("double").alias("volume")))


@q("tpch_q8_market_share",
   f"""WITH allv AS (
  SELECT year(o.o_orderdate) AS o_year, {_DEC_REV} AS volume, n1.n_name AS nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n2.n_regionkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01')
SELECT o_year,
  round(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
    ELSE CAST(0 AS DECIMAL(18,6)) END) / SUM(volume) AS DOUBLE), 6)
    AS mkt_share
FROM allv GROUP BY o_year""")
def tpch_q8_market_share(spark, sf_dir):
    # TPC-H Q8: NATION_3's share of ECONOMY-part revenue sold into AMERICA,
    # by order year. Part (type-pruned at the scan) and supplier+nation
    # broadcast onto lineitem; orders joins on the order key (the one
    # fact-fact shuffle); the region prune arrives via the customer join.
    # Both the numerator and denominator are exact decimal sums of the SAME
    # per-row products, so the 6-round ratio is engine-stable.
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_type") == "ECONOMY").select("p_partkey"))
    n = load_table(spark, sf_dir, "nation")
    s = (load_table(spark, sf_dir, "supplier")
         .select("s_suppkey", "s_nationkey")
         .join(F.broadcast(n.select("n_nationkey",
                                    F.col("n_name").alias("nation"))),
               F.col("n_nationkey") == F.col("s_nationkey")))
    r = (load_table(spark, sf_dir, "region")
         .filter(F.col("r_name") == "AMERICA").select("r_regionkey"))
    c = (load_table(spark, sf_dir, "customer")
         .select("c_custkey", "c_nationkey")
         .join(F.broadcast(n.select(F.col("n_nationkey").alias("n2_key"),
                                    F.col("n_regionkey").alias("n2_reg"))),
               F.col("n2_key") == F.col("c_nationkey"))
         .join(F.broadcast(r), F.col("r_regionkey") == F.col("n2_reg"))
         .select("c_custkey"))
    o = (load_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate")
                  >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("o_orderdate")
                    < F.lit("1998-01-01").cast("timestamp")))
         .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)"))
    zero = F.lit(0).cast("decimal(18,6)")
    # part carries NO broadcast hint: unlike region/nation/supplier it is
    # fact-class at TPC-H scale (catalog.BROADCAST_TABLES) — AQE broadcasts
    # the type-filtered side when it is actually small
    allv = (li.join(p, F.col("p_partkey") == F.col("l_partkey"))
            .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
            .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(c, F.col("c_custkey") == F.col("o_custkey"))
            .select(F.year("o_orderdate").cast("long").alias("o_year"),
                    rev.alias("volume"), "nation"))
    return (allv.groupBy("o_year")
            .agg(F.sum(F.when(F.col("nation") == "NATION_3",
                              F.col("volume")).otherwise(zero))
                 .alias("num"),
                 F.sum("volume").alias("den"))
            .select("o_year",
                    F.round((F.col("num") / F.col("den")).cast("double"), 6)
                    .alias("mkt_share")))


@q("tpch_q9_product_type_profit",
   f"""SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
  CAST(SUM({_DEC_REV}) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, year(o.o_orderdate)""")
def tpch_q9_product_type_profit(spark, sf_dir):
    # TPC-H Q9 shape (testdata has no partsupp.ps_supplycost, so profit =
    # discounted revenue rather than revenue − cost): nation×year profit on
    # parts whose name matches a token. Name-filtered part and supplier
    # broadcast onto lineitem; orders joins on the order key.
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_name").contains("red")).select("p_partkey"))
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation"))
    s = (load_table(spark, sf_dir, "supplier")
         .select("s_suppkey", "s_nationkey")
         .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey")))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)"))
    return (li.join(p, F.col("p_partkey") == F.col("l_partkey"))
            .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
            .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("nation",
                     F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.sum(rev).cast("double").alias("sum_profit")))


@q("tpch_q13_customer_distribution",
   """SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey) t
GROUP BY c_count""")
def tpch_q13_customer_distribution(spark, sf_dir):
    # TPC-H Q13 shape (priority filter stands in for the absent o_comment
    # NOT LIKE): how many customers placed k non-urgent orders, including
    # k = 0 via the left join. Two aggregations: per-customer count
    # (shuffle on custkey — same key as the join, so AQE coalesces), then
    # the tiny histogram agg.
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") != "1-URGENT")
         .select("o_custkey", "o_orderkey"))
    per = (c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
           .groupBy("c_custkey")
           .agg(F.count("o_orderkey").alias("c_count")))
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@q("tpch_q15_top_supplier",
   """WITH rev AS (
  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,6))
    * CAST(1 - l_discount AS DECIMAL(18,6))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, CAST(rev.total_rev AS DOUBLE) AS total_revenue
FROM supplier s JOIN rev ON rev.l_suppkey = s.s_suppkey
WHERE rev.total_rev = (SELECT MAX(total_rev) FROM rev)""")
def tpch_q15_top_supplier(spark, sf_dir):
    # TPC-H Q15: supplier(s) with the max quarterly revenue. The max is a
    # global window over the already-aggregated |suppliers|-sized frame —
    # one scan, no re-aggregation (the 1-row-aggregate-totals pattern) —
    # and the equality test runs on the EXACT decimal sum, so "ties for
    # max" is well-defined on both engines.
    from pyspark.sql.window import Window
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate")
                   >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate")
                     < F.lit("1996-04-01").cast("timestamp")))
          .select("l_suppkey", "l_extendedprice", "l_discount"))
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")
                      * (F.lit(1) - F.col("l_discount"))
                      .cast("decimal(18,6)")).alias("total_rev")))
    top = (rev.withColumn("mx",
                          F.max("total_rev").over(Window.partitionBy()))
           .filter(F.col("total_rev") == F.col("mx")))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (s.join(F.broadcast(top), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.col("total_rev").cast("double").alias("total_revenue")))


@q("tpch_q16_part_supplier_counts",
   """SELECT p.p_brand, p.p_type, p.p_size,
  count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY p.p_brand, p.p_type, p.p_size""")
def tpch_q16_part_supplier_counts(spark, sf_dir):
    # TPC-H Q16 shape (lineitem stands in for the absent partsupp as the
    # part↔supplier relation): distinct suppliers per surviving
    # brand/type/size. The part filter prunes at the broadcast build side;
    # count(DISTINCT) runs as the standard two-phase expand-aggregate.
    p = (load_table(spark, sf_dir, "part")
         .filter((F.col("p_brand") != "Brand#1")
                 & (F.col("p_type") != "PROMO")
                 & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
         .select("p_partkey", "p_brand", "p_type", "p_size"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey")
    return (li.join(p, F.col("p_partkey") == F.col("l_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@q("tpch_q17_small_quantity_revenue",
   """WITH pa AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS thresh
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
  / 7.0 AS DOUBLE) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3' AND l.l_quantity < pa.thresh""")
def tpch_q17_small_quantity_revenue(spark, sf_dir):
    # TPC-H Q17: revenue that would vanish without small-quantity orders.
    # The correlated "below 20% of this part's average quantity" subquery
    # becomes a per-part aggregate + an equi-join back on the part key —
    # the same shuffle key as the grouping, so one exchange feeds both.
    # l_quantity is integer-valued, so AVG's double sum is exact on both
    # engines and the 0.2× threshold comparison cannot drift.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    pa = (li.groupBy(F.col("l_partkey").alias("pa_key"))
          .agg((F.lit(0.2) * F.avg("l_quantity")).alias("thresh")))
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_brand") == "Brand#3").select("p_partkey"))
    return (li.join(p, F.col("p_partkey") == F.col("l_partkey"))
            .join(pa, F.col("pa_key") == F.col("l_partkey"))
            .filter(F.col("l_quantity") < F.col("thresh"))
            .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                  .cast("double") / F.lit(7.0))
                 .cast("double").alias("avg_yearly")))


@q("tpch_q19_discounted_revenue",
   f"""SELECT CAST(SUM({_DEC_REV}) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
    AND l.l_quantity BETWEEN 1 AND 11)
  OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
    AND l.l_quantity BETWEEN 10 AND 20)
  OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 15
    AND l.l_quantity BETWEEN 20 AND 30)""")
def tpch_q19_discounted_revenue(spark, sf_dir):
    # TPC-H Q19 shape (brand/size/quantity bands replace the absent
    # container/shipmode): disjunctive band predicate over the joined
    # pair. The part side of the disjunction (brand ∈ {12,23,24}) is
    # pre-applied as a broadcast-build prune; the mixed part✕lineitem
    # residual evaluates inside the join.
    brands = ["Brand#12", "Brand#23", "Brand#24"]
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_brand").isin(brands))
         .select("p_partkey", "p_brand", "p_size"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    band = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30)))
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)"))
    return (li.join(p, F.col("p_partkey") == F.col("l_partkey"))
            .filter(band)
            .agg(F.sum(rev).cast("double").alias("revenue")))


@q("tpch_q22_global_sales_opportunity",
   """WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS total, COUNT(*) AS cnt
  FROM customer WHERE c_acctbal > 0)
SELECT c.c_nationkey AS nationkey, COUNT(*) AS numcust,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM customer c, pos
WHERE CAST(c.c_acctbal AS DECIMAL(18,6)) * pos.cnt > pos.total
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_nationkey""")
def tpch_q22_global_sales_opportunity(spark, sf_dir):
    # TPC-H Q22 shape (nation key replaces the absent phone country code;
    # "no urgent orders" replaces "no orders" — this corpus has none of
    # the latter): customers richer than the positive-balance average who
    # never ordered urgently, rolled up by nation. The average-balance
    # test is rewritten multiplication-free of division — bal × cnt >
    # total — so it is EXACT decimal arithmetic on both engines (an
    # avg-as-double threshold could drift on the last bit). The 1-row
    # aggregate broadcasts; the anti-join prunes on the order side first.
    cst = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal")
    pos = (cst.filter(F.col("c_acctbal") > 0)
           .agg(F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
                .alias("total"),
                F.count(F.lit(1)).alias("cnt")))
    urgent = (load_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey"))
    return (cst.join(F.broadcast(pos))
            .filter(F.col("c_acctbal").cast("decimal(18,6)") * F.col("cnt")
                    > F.col("total"))
            .join(urgent, F.col("o_custkey") == F.col("c_custkey"),
                  "left_anti")
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
                 .cast("double").alias("totacctbal")))


@q("tpch_q21_suppliers_kept_waiting",
   # the oracle keeps TPC-H's literal EXISTS / NOT-EXISTS formulation; the
   # Spark side proves the aggregate rewrite below is equivalent
   """WITH l AS (SELECT l_orderkey, l_suppkey,
  l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT s_name, n_name, count(*) AS numwait FROM (
  SELECT l1.l_orderkey, l1.l_suppkey FROM l l1
  WHERE l1.late
    AND EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM l l3 WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
  GROUP BY 1, 2) w
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY 1, 2 ORDER BY numwait DESC, s_name LIMIT 10""")
def tpch_q21_suppliers_kept_waiting(spark, sf_dir):
    # TPC-H Q21 shape (suppliers who kept multi-supplier orders waiting),
    # adapted to this schema's lateness rule (no receipt/commit dates:
    # late = shipped >90 days after the order date, as in tpch_q4). The
    # classic correlated EXISTS/NOT-EXISTS pair is rewritten as ONE
    # per-order aggregate — an order qualifies its (unique) late supplier
    # iff it has >=2 distinct suppliers and exactly 1 distinct LATE
    # supplier — so the per-order pass reuses the join's orderkey
    # partitioning (no extra exchange) instead of two more self-joins.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    late = (F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    per_order = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                 .groupBy("l_orderkey")
                 .agg(F.count_distinct("l_suppkey").alias("n_supp"),
                      F.count_distinct(F.when(late, F.col("l_suppkey")))
                      .alias("n_late_supp"),
                      F.max(F.when(late, F.col("l_suppkey")))
                      .alias("lone_late_supp")))
    waits = (per_order
             .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
             .groupBy(F.col("lone_late_supp").alias("s_suppkey"))
             .agg(F.count(F.lit(1)).alias("numwait")))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (waits.join(F.broadcast(s), "s_suppkey")
            .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
            .groupBy("s_name", "n_name")
            .agg(F.sum("numwait").alias("numwait"))
            .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
            .limit(10))


# The testdata ships no partsupp table; Q2/Q11/Q20 run against the
# deterministic fabricated partsupp relation (sources/synthetic.py:
# partsupp_view — 4 suppliers per part via the portable md5 hash, exact
# integer-valued costs). This CTE is its DuckDB twin, verified
# row-identical to the Spark view.
_SQL_PARTSUPP = """sc AS (SELECT count(*) AS s FROM supplier),
iv AS (SELECT unnest(generate_series(0, 3)) AS i),
partsupp AS (
  SELECT p_partkey AS ps_partkey,
    ((CAST('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15) AS BIGINT)
      + i) % s) AS ps_suppkey,
    1 + (CAST('0x' || substr(md5(CAST(p_partkey AS VARCHAR) || '#' ||
      CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 9999) AS ps_availqty,
    CAST(1 + (CAST('0x' || substr(md5(CAST(p_partkey AS VARCHAR) || '$' ||
      CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 1000) AS DOUBLE)
      AS ps_supplycost
  FROM part, sc, iv)"""


def _partsupp(spark, sf_dir):
    from thewhisperdb_spark.sources.synthetic import partsupp_view
    return partsupp_view(spark, sf_dir)


@q("tpch_q2_minimum_cost_supplier",
   f"""WITH {_SQL_PARTSUPP},
eu AS (
  SELECT s_suppkey, s_acctbal, s_name, n_name
  FROM supplier JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey WHERE r_name = 'EUROPE'),
cand AS (
  SELECT s_acctbal, s_name, n_name, p.p_partkey, ps_supplycost,
    min(ps_supplycost) OVER (PARTITION BY p.p_partkey) AS min_cost
  FROM part p JOIN partsupp ON ps_partkey = p.p_partkey
  JOIN eu ON s_suppkey = ps_suppkey
  WHERE p.p_type = 'LARGE' AND p.p_size <= 25)
SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost AS supplycost
FROM cand WHERE ps_supplycost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")
def tpch_q2_minimum_cost_supplier(spark, sf_dir):
    # TPC-H Q2 shape: for each surviving part, the EUROPE supplier(s)
    # offering the minimum supply cost. The region✕nation✕supplier chain
    # is dimension-sized (broadcast); partsupp is generated on-read off
    # the part scan; the per-part minimum is a window over the already
    # region-pruned join output, so the only exchange is the window's
    # hash partition on ps_partkey. Top-100 by a unique sort key
    # (pair-unique p_partkey ⊕ s_name) keeps the LIMIT deterministic.
    p = (load_table(spark, sf_dir, "part")
         .filter((F.col("p_type") == "LARGE") & (F.col("p_size") <= 25))
         .select("p_partkey"))
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    r = (load_table(spark, sf_dir, "region")
         .filter(F.col("r_name") == "EUROPE").select("r_regionkey"))
    eu = (load_table(spark, sf_dir, "supplier")
          .select("s_suppkey", "s_acctbal", "s_name", "s_nationkey")
          .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
          .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
          .select("s_suppkey", "s_acctbal", "s_name", "n_name"))
    from pyspark.sql import Window
    w = Window.partitionBy("p_partkey")
    cand = (_partsupp(spark, sf_dir)
            .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
            .join(F.broadcast(eu), F.col("s_suppkey") == F.col("ps_suppkey"))
            .withColumn("min_cost", F.min("ps_supplycost").over(w)))
    return (cand.filter(F.col("ps_supplycost") == F.col("min_cost"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    F.col("ps_supplycost").alias("supplycost"))
            .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name",
                     "p_partkey")
            .limit(100))


@q("tpch_q11_important_stock",
   f"""WITH {_SQL_PARTSUPP},
nat AS (
  SELECT s_suppkey FROM supplier JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_9'),
val AS (
  SELECT ps_partkey, SUM(ps_supplycost * ps_availqty) AS value
  FROM partsupp JOIN nat ON s_suppkey = ps_suppkey GROUP BY ps_partkey)
SELECT ps_partkey, CAST(value AS DOUBLE) AS value FROM val
WHERE value > (SELECT 2.0 * AVG(value) FROM val)""")
def tpch_q11_important_stock(spark, sf_dir):
    # TPC-H Q11 shape: parts whose stock value held by one nation's
    # suppliers clears a global threshold. The spec's fixed 0.0001/SF
    # fraction is scale-dependent; here the threshold is 2× the average
    # per-part value — scale-invariant, same one-global-aggregate shape.
    # value is a sum of exact integer-valued doubles (< 2^53), so the
    # threshold comparison is bit-identical across engines. The global
    # avg enters as a 1-row broadcast over the already-aggregated frame.
    nat = (load_table(spark, sf_dir, "supplier")
           .select("s_suppkey", "s_nationkey")
           .join(F.broadcast(load_table(spark, sf_dir, "nation")
                             .filter(F.col("n_name") == "NATION_9")
                             .select("n_nationkey")),
                 F.col("n_nationkey") == F.col("s_nationkey"))
           .select("s_suppkey"))
    val = (_partsupp(spark, sf_dir)
           .join(F.broadcast(nat), F.col("s_suppkey") == F.col("ps_suppkey"))
           .groupBy("ps_partkey")
           .agg(F.sum(F.col("ps_supplycost") * F.col("ps_availqty"))
                .alias("value")))
    thresh = val.agg((F.lit(2.0) * F.avg("value")).alias("_t"))
    return (val.join(F.broadcast(thresh))
            .filter(F.col("value") > F.col("_t"))
            .select("ps_partkey", F.col("value").cast("double")
                    .alias("value")))


@q("tpch_q20_potential_promotion",
   f"""WITH {_SQL_PARTSUPP},
small_ps AS (
  SELECT ps_partkey, ps_suppkey, ps_availqty FROM partsupp
  WHERE ps_partkey IN (SELECT p_partkey FROM part
                       WHERE p_name LIKE 'small%')),
qty AS (
  SELECT l_partkey, l_suppkey, 0.5 * SUM(l_quantity) AS half_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey),
surplus AS (
  SELECT DISTINCT ps_suppkey FROM small_ps
  JOIN qty ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
  WHERE ps_availqty > half_qty)
SELECT s_name, n_name FROM supplier
JOIN surplus ON ps_suppkey = s_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA' ORDER BY s_name""")
def tpch_q20_potential_promotion(spark, sf_dir):
    # TPC-H Q20 shape: suppliers in one region holding surplus stock
    # (availqty > half the 2-year shipped quantity) of 'small%' parts.
    # The correlated-subquery formulation is the standard aggregate-then-
    # equi-join rewrite: one shuffle aggregates lineitem per
    # (partkey, suppkey); partsupp (generate-on-read, part-pruned via a
    # broadcast semi) joins it on the same composite key; half_qty =
    # 0.5 × an exact integer-valued sum, so the comparison is engine-exact.
    small = (load_table(spark, sf_dir, "part")
             .filter(F.col("p_name").like("small%")).select("p_partkey"))
    ps = (_partsupp(spark, sf_dir)
          .join(F.broadcast(small),
                F.col("p_partkey") == F.col("ps_partkey"), "left_semi"))
    qty = (load_table(spark, sf_dir, "lineitem")
           .filter((F.col("l_shipdate")
                    >= F.lit("1996-01-01").cast("timestamp"))
                   & (F.col("l_shipdate")
                      < F.lit("1998-01-01").cast("timestamp")))
           .groupBy("l_partkey", "l_suppkey")
           .agg((F.lit(0.5) * F.sum("l_quantity")).alias("half_qty")))
    surplus = (ps.join(qty, (F.col("l_partkey") == F.col("ps_partkey"))
                       & (F.col("l_suppkey") == F.col("ps_suppkey")))
               .filter(F.col("ps_availqty") > F.col("half_qty"))
               .select("ps_suppkey").distinct())
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    r = (load_table(spark, sf_dir, "region")
         .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    return (load_table(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_name", "s_nationkey")
            .join(F.broadcast(surplus),
                  F.col("ps_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(n),
                  F.col("n_nationkey") == F.col("s_nationkey"))
            .join(F.broadcast(r),
                  F.col("r_regionkey") == F.col("n_regionkey"))
            .select("s_name", "n_name")
            .orderBy("s_name"))


@q("lsh_index_incremental_dedup",
   # the lossless >=min-bands banding means the oracle is the mathematical
   # definition (all-pairs signature comparison), restricted to cross-split
   # pairs — the persisted index must change nothing about the result
   "WITH " + _minhash_ctes() + " "
   "SELECT a AS index_id, b AS batch_id, est_jaccard FROM prs "
   "WHERE a < 400 AND b >= 400")
def lsh_index_incremental_dedup(spark, sf_dir):
    # Incremental dedup against a PERSISTED signature index — the
    # daily-crawl pattern at 100 TB: the historical corpus (doc_id < 400)
    # is shingled+hashed ONCE into <tmp>/signatures + band-partitioned
    # buckets (operators/dedup.py:lsh_index_build, IVF-style meta sentinel
    # + version gate), and the arriving batch (doc_id >= 400) hashes only
    # itself and probes via the banded bucket join. Hash-checked against
    # the all-pairs signature-comparison oracle, proving the at-rest index
    # path returns exactly the online result.
    import tempfile

    from thewhisperdb_spark.operators import dedup as D

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="whisper_lsh_idx_")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 400), path,
                      n_hashes=32, bands=8, shingle_n=5)
    out = D.lsh_index_probe(spark, path,
                            docs.filter(F.col("doc_id") >= 400),
                            threshold=0.8)
    # est = matches/32 is an exact binary fraction on both engines — no
    # rounding needed (same rule as minhash_lsh_dedup)
    return out.select("index_id", "batch_id", "est_jaccard")


@q("containment_dedup_pairs",
   # asymmetric containment C = |A∩B| / min(|A|,|B|) over distinct word
   # 5-gram shingles — exact (no sketch), so the oracle IS the definition,
   # including the max_df=200 candidate cap + full-set exact re-score the
   # Spark plan uses (mirrored so both engines share the documented
   # boilerplate blind spot). Integer inter/sizes hash exactly; the single
   # IEEE division is bit-identical across engines.
   """WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents),
sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(tk) - 4, 1) + 1),
    i -> array_to_string(tk[i:i+4], ' ')))) AS s FROM toks),
sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
hot AS MATERIALIZED (SELECT s FROM sh GROUP BY s HAVING count(*) > 200),
rare AS MATERIALIZED (
  SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)),
cand AS MATERIALIZED (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM rare x JOIN rare y ON x.s = y.s AND x.doc_id < y.doc_id),
co AS MATERIALIZED (
  SELECT c.a, c.b, count(*) AS inter
  FROM cand c JOIN sh x ON x.doc_id = c.a
  JOIN sh y ON y.doc_id = c.b AND y.s = x.s
  GROUP BY c.a, c.b)
SELECT co.a, co.b, co.inter, sa.n AS size_a, sb.n AS size_b,
       ROUND(CAST(co.inter AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
FROM co JOIN sz sa ON sa.doc_id = co.a JOIN sz sb ON sb.doc_id = co.b
WHERE CAST(co.inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8""")
def containment_dedup_pairs(spark, sf_dir):
    # Broder's containment half (operators/dedup.py:containment_pairs):
    # the sub-document/quote detector symmetric Jaccard misses — a short
    # doc quoted whole inside a long one is J ~ |A|/|B| but containment
    # 1.0. Exact integer intersection + sizes; max_df=200 exercises the
    # Σ df² skew cap with the exact full-set re-score.
    from thewhisperdb_spark.operators import dedup as D

    return D.containment_pairs(_docs(spark, sf_dir), threshold=0.8,
                               shingle_n=5, max_df=200)


@q("lsh_index_delete",
   # takedown-then-probe, hash-exact: after deleting index ids < 200 the
   # probe result IS the all-pairs oracle restricted to surviving index
   # docs — deleted documents must stop surfacing as candidates entirely,
   # and survivors must be untouched by the rewrite.
   "WITH " + _minhash_ctes() + " "
   "SELECT a AS index_id, b AS batch_id, est_jaccard FROM prs "
   "WHERE a >= 200 AND a < 400 AND b >= 400")
def lsh_index_delete(spark, sf_dir):
    build, op = _lsh_index_delete_phases(spark, sf_dir)
    build()
    return op()


def _lsh_index_delete_phases(spark, sf_dir):
    # The right-to-be-forgotten loop end-to-end (SURVEY §2.11; the
    # maintenance op every crawl corpus eventually needs): build the
    # persisted index over doc_id<400, TAKE DOWN doc_id<200
    # (operators/dedup.py:lsh_index_delete — claim-first anti-join rewrite
    # under the meta sentinel), then probe the arriving batch. Deleted ids
    # returning zero hits AND survivors hash-matching the all-pairs oracle
    # certifies both halves of the rewrite (drop + preserve).
    # Two-phase split (VERDICT r9 #2): ``build`` is the from-scratch index
    # materialization (many small writes, high run-to-run variance);
    # ``op`` is the maintenance path under measurement (delete rewrite +
    # probe) — bench.py times them separately so build noise can't mask
    # an op-path regression.
    import tempfile

    from thewhisperdb_spark.operators import dedup as D

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="whisper_lsh_del_")

    def build():
        D.lsh_index_build(docs.filter(F.col("doc_id") < 400), path,
                          n_hashes=32, bands=8, shingle_n=5)

    def op():
        D.lsh_index_delete(
            spark, path, docs.filter(F.col("doc_id") < 200).select("doc_id"))
        out = D.lsh_index_probe(spark, path,
                                docs.filter(F.col("doc_id") >= 400),
                                threshold=0.8)
        return out.select("index_id", "batch_id", "est_jaccard")

    return build, op


@q("lsh_index_stats",
   # the index-health read (compaction-cadence trigger), value-exact where
   # the oracle can re-derive (bucket populations = signature band-slice
   # equality classes — xxhash64 bucket ids are injective on slices modulo
   # a 2^-64 collision) and contract-boolean where it cannot (physical
   # file counts, approx-percentile internals).
   "WITH " + _minhash_ctes() + """,
idx AS (SELECT doc_id, sig FROM sig WHERE doc_id < 400),
bnd AS (SELECT i.doc_id, b.b AS band, i.sig[b.b*4+1:b.b*4+4] AS sl
        FROM idx i CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b),
grp AS (SELECT band, sl, count(*) AS n FROM bnd GROUP BY band, sl)
SELECT CAST((SELECT count(*) FROM idx) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_bucket_rows,
       CAST(count(*) AS BIGINT) AS n_distinct_buckets,
       CAST(max(n) AS BIGINT) AS max_bucket,
       TRUE AS p99_le_max, TRUE AS has_sig_files,
       CAST(32 AS BIGINT) AS n_hashes, CAST(8 AS BIGINT) AS bands,
       CAST(5 AS BIGINT) AS shingle_n
FROM grp""")
def lsh_index_stats(spark, sf_dir):
    build, op = _lsh_index_stats_phases(spark, sf_dir)
    build()
    return op()


def _lsh_index_stats_phases(spark, sf_dir):
    # Health row of the persisted LSH index (operators/dedup.py:
    # lsh_index_stats). The oracle recomputes the bucket populations from
    # first principles: two docs share a bucket in band b iff their
    # signature slices for b are equal, so grouping by the SLICE VALUE in
    # DuckDB reproduces n_bucket_rows / n_distinct_buckets / max_bucket
    # exactly — certifying that the at-rest banded index holds precisely
    # the banding mathematics, not an implementation-defined layout.
    # build/op split per VERDICT r9 #2 (see _lsh_index_delete_phases).
    import tempfile

    from thewhisperdb_spark.operators import dedup as D

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="whisper_lsh_health_")

    def build():
        D.lsh_index_build(docs.filter(F.col("doc_id") < 400), path,
                          n_hashes=32, bands=8, shingle_n=5)

    def op():
        s = D.lsh_index_stats(spark, path)
        return _lsh_stats_row(s)

    return build, op


def _lsh_stats_row(s):
    return s.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_bucket_rows").cast("long").alias("n_bucket_rows"),
        F.col("n_distinct_buckets").cast("long")
        .alias("n_distinct_buckets"),
        F.col("max_bucket").cast("long").alias("max_bucket"),
        (F.col("p99_bucket") <= F.col("max_bucket")).alias("p99_le_max"),
        (F.col("n_sig_files") >= 1).alias("has_sig_files"),
        F.col("n_hashes").cast("long").alias("n_hashes"),
        F.col("bands").cast("long").alias("bands"),
        F.col("shingle_n").cast("long").alias("shingle_n"))


@q("ivf_index_delete",
   # takedown contract for the IVF index: after deleting vec_id<50 from a
   # vec_id<300 index, (a) the surviving list rows are EXACTLY the
   # non-deleted corpus (count), (b) a full-probe (n_probe = n_cells, so
   # no recall caveat) returns hits and NONE of them is a deleted id.
   "SELECT CAST(count(*) AS BIGINT) AS n_remaining, "
   "TRUE AS no_deleted_hits, TRUE AS probe_returns "
   "FROM embeddings WHERE vec_id >= 50 AND vec_id < 300")
def ivf_index_delete(spark, sf_dir):
    build, op = _ivf_index_delete_phases(spark, sf_dir)
    build()
    return op()


def _ivf_index_delete_phases(spark, sf_dir):
    # operators/vectors.py:ivf_index_delete end-to-end (SURVEY §2.11):
    # claim-first anti-join rewrite preserving the cell partitioning, then
    # a probe with n_probe == n_cells (exhaustive, so absence of deleted
    # ids is a guarantee, not a recall accident).
    # build/op split per VERDICT r9 #2 (see _lsh_index_delete_phases).
    import tempfile

    from thewhisperdb_spark.operators import vectors as V

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="whisper_ivf_del_")

    def build():
        V.ivf_index_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8)

    def op():
        V.ivf_index_delete(spark, path,
                           emb.filter(F.col("vec_id") < 50).select("vec_id"))
        probe = V.ivf_index_probe(
            spark, path,
            emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 320)),
            k=5, n_probe=8)
        hits = probe.agg(
            (F.coalesce(F.sum(F.when(F.col("neighbor_id") < 50, 1)
                              .otherwise(0)), F.lit(0)) == 0)
            .alias("no_deleted_hits"),
            (F.count(F.lit(1)) > 0).alias("probe_returns"))
        remaining = (spark.read.parquet(f"{path}/lists")
                     .agg(F.count(F.lit(1)).cast("long")
                          .alias("n_remaining")))
        return (remaining.join(hits)
                .select("n_remaining", "no_deleted_hits", "probe_returns"))

    return build, op


@q("ivf_index_stats",
   # index-health contract: exact where derivable (n_cells is the build
   # parameter, n_vectors the corpus count — lists must hold EVERY vector
   # exactly once), invariant-boolean where the value depends on k-means
   # geometry (cell sizes): max*cells >= n (pigeonhole), median <= max,
   # skew >= 1, 0 <= empties < cells (>=1 cell non-empty on a non-empty
   # corpus).
   "SELECT CAST(8 AS BIGINT) AS n_cells, "
   "CAST(count(*) AS BIGINT) AS n_vectors, TRUE AS max_ge_mean, "
   "TRUE AS median_le_max, TRUE AS skew_ge_1, TRUE AS empty_in_range "
   "FROM embeddings WHERE vec_id < 300")
def ivf_index_stats(spark, sf_dir):
    build, op = _ivf_index_stats_phases(spark, sf_dir)
    build()
    return op()


def _ivf_index_stats_phases(spark, sf_dir):
    # operators/vectors.py:ivf_index_stats — the rebalance-cadence
    # trigger (PLANS.md): skew = max/median cell size is what detects
    # append drift. The contract pins the exact invariants any correct
    # cell assignment satisfies; the geometry-dependent values ride the
    # booleans (division-free: max*8 >= n, never max >= n/8).
    # build/op split per VERDICT r9 #2 (see _lsh_index_delete_phases).
    import tempfile

    from thewhisperdb_spark.operators import vectors as V

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="whisper_ivf_health_")

    def build():
        V.ivf_index_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8)

    def op():
        return _ivf_stats_row(V.ivf_index_stats(spark, path))

    return build, op


def _ivf_stats_row(s):
    return s.select(
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_vectors").cast("long").alias("n_vectors"),
        (F.col("max_cell") * 8 >= F.col("n_vectors")).alias("max_ge_mean"),
        (F.col("median_cell") <= F.col("max_cell")).alias("median_le_max"),
        (F.col("skew") >= 1.0).alias("skew_ge_1"),
        ((F.col("n_empty_cells") >= 0)
         & (F.col("n_empty_cells") < 8)).alias("empty_in_range"))


@q("daily_crawl_ingest_survivors",
   # the END-TO-END daily-crawl loop, hash-checked: survivors of one
   # ingested batch = batch docs with no est>=θ match in the indexed
   # corpus AND that are the min-id of their within-fresh duplicate
   # component. Same signature CTEs; cross hits and the fresh-restricted
   # transitive closure mirror the probe + within-batch dedup stages.
   "WITH RECURSIVE " + _minhash_ctes() + """,
cross_hits AS (SELECT DISTINCT b AS doc_id FROM prs
               WHERE a < 400 AND b >= 400),
fresh AS (SELECT d.doc_id FROM documents d WHERE d.doc_id >= 400
          AND d.doc_id NOT IN (SELECT doc_id FROM cross_hits)),
fp AS (SELECT a, b FROM prs
       WHERE a IN (SELECT doc_id FROM fresh)
         AND b IN (SELECT doc_id FROM fresh)),
und AS (SELECT a AS src, b AS dst FROM fp UNION SELECT b, a FROM fp),
reach(src, dst) AS (
  SELECT src, src FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
),
comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
SELECT f.doc_id FROM fresh f LEFT JOIN comp c ON c.id = f.doc_id
WHERE c.id IS NULL OR c.component = f.doc_id""")
def daily_crawl_ingest_survivors(spark, sf_dir):
    # The COMPLETE daily-crawl dedup loop as one hash-checked unit
    # (streaming/jobs.py:dedup_ingest_batch — the foreachBatch body of
    # stream_dedup_ingest): corpus doc_id<400 built into the persisted LSH
    # index, batch doc_id>=400 ingested through probe -> cross-corpus drop
    # -> within-batch near-dedup -> batch-partitioned survivor publish ->
    # index append. The returned frame is read back from the PUBLISHED
    # survivors parquet, so the oracle certifies the loop's actual on-disk
    # output, not an intermediate.
    import tempfile

    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.streaming import jobs as SJ

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="whisper_crawl_")
    idx, out = os.path.join(root, "idx"), os.path.join(root, "out")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 400), idx,
                      n_hashes=32, bands=8, shingle_n=5)
    SJ.dedup_ingest_batch(docs.filter(F.col("doc_id") >= 400), 0, idx, out,
                          threshold=0.8)
    return spark.read.parquet(out).select("doc_id")


@q("daily_crawl_quality_survivors",
   # quality-preferring twin of daily_crawl_ingest_survivors (the
   # pick_survivors policy, previously pytest-only on the text loop):
   # within each within-fresh duplicate component the survivor is the
   # MAX-n_chars member, doc_id tiebreak — an INTEGER quality column, so
   # the ranking has no float hazard at all.
   "WITH RECURSIVE " + _minhash_ctes() + """,
cross_hits AS (SELECT DISTINCT b AS doc_id FROM prs
               WHERE a < 400 AND b >= 400),
fresh AS (SELECT d.doc_id FROM documents d WHERE d.doc_id >= 400
          AND d.doc_id NOT IN (SELECT doc_id FROM cross_hits)),
fp AS (SELECT a, b FROM prs
       WHERE a IN (SELECT doc_id FROM fresh)
         AND b IN (SELECT doc_id FROM fresh)),
und AS (SELECT a AS src, b AS dst FROM fp UNION SELECT b, a FROM fp),
reach(src, dst) AS (
  SELECT src, src FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
),
comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src),
mem AS (SELECT f.doc_id, COALESCE(c.component, f.doc_id) AS comp,
               d.n_chars AS q
        FROM fresh f JOIN documents d ON d.doc_id = f.doc_id
        LEFT JOIN comp c ON c.id = f.doc_id)
SELECT doc_id FROM (SELECT doc_id,
  row_number() OVER (PARTITION BY comp ORDER BY q DESC, doc_id) AS rn
  FROM mem) WHERE rn = 1""")
def daily_crawl_quality_survivors(spark, sf_dir):
    # quality_col end-to-end through the TEXT daily-crawl loop
    # (streaming/jobs.py:dedup_ingest_batch quality path): same probe ->
    # cross-drop -> within-batch dedup -> publish -> append loop as the
    # min-id twin, but duplicate groups keep their LONGEST member
    # (n_chars) — production dedup's "keep the best variant, drop the
    # truncated mirror" policy, hash-checked against the recursive-CTE
    # oracle's per-component argmax.
    import tempfile

    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.streaming import jobs as SJ

    docs = _docs(spark, sf_dir).select("doc_id", "text", "n_chars")
    root = tempfile.mkdtemp(prefix="whisper_crawlq_")
    idx, out = os.path.join(root, "idx"), os.path.join(root, "out")
    D.lsh_index_build(docs.filter(F.col("doc_id") < 400), idx,
                      n_hashes=32, bands=8, shingle_n=5)
    SJ.dedup_ingest_batch(docs.filter(F.col("doc_id") >= 400), 0, idx, out,
                          threshold=0.8, quality_col="n_chars")
    return spark.read.parquet(out).select("doc_id")


@q("embedding_ingest_survivors",
   # the IVF twin of daily_crawl_ingest_survivors: with EXHAUSTIVE probing
   # (n_probe = n_cells) the loop is exact, so the oracle is plain cosine
   # algebra — no corpus near-dup at >= θ, and min-id of the within-fresh
   # cosine component. (Production runs n_probe < n_cells and accepts the
   # recall trade; the key certifies the loop mechanics at recall 1.)
   "WITH RECURSIVE "
   "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings "
   "      WHERE vec_id < 400), "
   "bt AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings "
   "      WHERE vec_id >= 400), "
   "cross_hits AS (SELECT DISTINCT bt.vec_id FROM bt JOIN c ON "
   + _SQL_COS.format(a="bt.v", b="c.v") + " >= 0.45), "
   "fresh AS (SELECT vec_id, v FROM bt WHERE vec_id NOT IN "
   "          (SELECT vec_id FROM cross_hits)), "
   "fp AS (SELECT x.vec_id AS a, y.vec_id AS b FROM fresh x JOIN fresh y "
   "       ON x.vec_id < y.vec_id AND "
   + _SQL_COS.format(a="x.v", b="y.v") + " >= 0.45), "
   """und AS (SELECT a AS src, b AS dst FROM fp UNION SELECT b, a FROM fp),
reach(src, dst) AS (
  SELECT src, src FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
),
comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
SELECT f.vec_id FROM fresh f LEFT JOIN comp c2 ON c2.id = f.vec_id
WHERE c2.id IS NULL OR c2.component = f.vec_id""")
def embedding_ingest_survivors(spark, sf_dir):
    # The embedding daily-crawl loop as one hash-checked on-disk unit
    # (streaming/jobs.py:embedding_dedup_ingest_batch — the foreachBatch
    # body of stream_embedding_dedup_ingest): corpus vec_id<400 built into
    # the persisted IVF index, batch vec_id>=400 ingested through
    # exhaustive probe -> cosine>=θ cross drop -> within-batch blocked-BLAS
    # dedup -> survivor publish -> idempotent index append. Returns the
    # published survivors parquet.
    import tempfile

    from thewhisperdb_spark.operators import vectors as V
    from thewhisperdb_spark.streaming import jobs as SJ

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="whisper_emb_crawl_")
    idx, out = os.path.join(root, "idx"), os.path.join(root, "out")
    n_cells = 8
    V.ivf_index_build(emb.filter(F.col("vec_id") < 400), idx,
                      n_cells=n_cells)
    SJ.embedding_dedup_ingest_batch(
        emb.filter(F.col("vec_id") >= 400), 0, idx, out,
        threshold=0.45, n_probe=n_cells)
    return spark.read.parquet(out).select("vec_id")


@q("embedding_ingest_quality_survivors",
   # quality-preferring twin of embedding_ingest_survivors (the
   # pick_survivors policy): within each within-fresh cosine component the
   # survivor is the MAX-squared-norm member, vec_id tiebreak, instead of
   # the min id. Same recursive-CTE component resolution; q compares
   # fp-identically across engines because both fold the monomial sum in
   # array order over the same float->double casts.
   "WITH RECURSIVE "
   "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings "
   "      WHERE vec_id < 400), "
   "bt AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings "
   "      WHERE vec_id >= 400), "
   "cross_hits AS (SELECT DISTINCT bt.vec_id FROM bt JOIN c ON "
   + _SQL_COS.format(a="bt.v", b="c.v") + " >= 0.45), "
   "fresh AS (SELECT vec_id, v FROM bt WHERE vec_id NOT IN "
   "          (SELECT vec_id FROM cross_hits)), "
   "fp AS (SELECT x.vec_id AS a, y.vec_id AS b FROM fresh x JOIN fresh y "
   "       ON x.vec_id < y.vec_id AND "
   + _SQL_COS.format(a="x.v", b="y.v") + " >= 0.45), "
   """und AS (SELECT a AS src, b AS dst FROM fp UNION SELECT b, a FROM fp),
reach(src, dst) AS (
  SELECT src, src FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
),
comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src),
mem AS (SELECT f.vec_id, COALESCE(c2.component, f.vec_id) AS comp,
               list_dot_product(f.v, f.v) AS q
        FROM fresh f LEFT JOIN comp c2 ON c2.id = f.vec_id)
SELECT vec_id FROM (SELECT vec_id,
  row_number() OVER (PARTITION BY comp ORDER BY q DESC, vec_id) AS rn
  FROM mem) WHERE rn = 1""")
def embedding_ingest_quality_survivors(spark, sf_dir):
    # quality_col end-to-end through the EMBEDDING daily-crawl loop
    # (streaming/jobs.py:embedding_dedup_ingest_batch quality path):
    # quality = SQUARED L2 norm — division/sqrt-free (rank by ||v||^2 ==
    # rank by ||v||, the integer-state/monotone-surrogate oracle trick),
    # so the ranking needs no float function beyond the same
    # fold-in-array-order sum both engines share. Survivors are published
    # WITH the quality column; the index append is projected back to
    # (id, vec) under ivf_index_append's column-set gate.
    import tempfile

    from thewhisperdb_spark.operators import vectors as V
    from thewhisperdb_spark.streaming import jobs as SJ

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    q_sq = F.aggregate(
        F.col("embedding"), F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"))
    root = tempfile.mkdtemp(prefix="whisper_embq_crawl_")
    idx, out = os.path.join(root, "idx"), os.path.join(root, "out")
    n_cells = 8
    V.ivf_index_build(emb.filter(F.col("vec_id") < 400), idx,
                      n_cells=n_cells)
    SJ.embedding_dedup_ingest_batch(
        emb.filter(F.col("vec_id") >= 400).withColumn("q", q_sq),
        0, idx, out, threshold=0.45, n_probe=n_cells, quality_col="q")
    return spark.read.parquet(out).select("vec_id")


@q("events_distinct_users_kmv",
   """WITH h AS (SELECT DISTINCT event_type,
  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (SELECT event_type, h,
  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h),
s AS (SELECT event_type, count(*) AS n_hashes,
  MAX(CASE WHEN rk = 256 THEN h END) AS h_k
  FROM r WHERE rk <= 256 GROUP BY event_type),
ex AS (SELECT event_type, count(DISTINCT user_id) AS n_users_exact
  FROM events GROUP BY event_type)
SELECT s.event_type, ex.n_users_exact,
  CASE WHEN n_hashes < 256 THEN CAST(n_hashes AS DOUBLE)
    ELSE round(CAST(255.0 AS DOUBLE) * CAST(1152921504606846976.0 AS DOUBLE)
      / CAST(h_k AS DOUBLE), 4) END AS n_users_est
FROM s JOIN ex ON ex.event_type = s.event_type""")
def events_distinct_users_kmv(spark, sf_dir):
    # KMV (bottom-k) distinct sketch, third of the sketch family next to
    # the CMS and HLL twins: k=256 smallest md5-derived hashes of the
    # distinct user ids per event type, estimate (k-1)·2^60/h_k — h_k is an
    # exact integer so the one float division is engine-stable and fully
    # oracle-checked. Below k distinct keys the sketch is the exact set.
    # KMV over HLL when sketch INTERSECTIONS matter (min-wise hashing gives
    # Jaccard between sketches); the exact count rides along to show error.
    ev = load_table(spark, sf_dir, "events")
    sk = AG.kmv_sketch(ev, "user_id", group_cols=("event_type",), k=256)
    est = AG.kmv_estimate(sk, group_cols=("event_type",), k=256)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"))
    return (est.join(exact, "event_type")
            .select("event_type", "n_users_exact",
                    F.col("n_est").alias("n_users_est")))


@q("event_type_user_overlap_kmv",
   """WITH h AS (SELECT DISTINCT event_type,
  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
rk0 AS (SELECT event_type, h,
  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h),
sk AS (SELECT event_type AS t, h FROM rk0 WHERE rk <= 256),
g AS (SELECT DISTINCT t FROM sk),
p AS (SELECT ga.t AS a, gb.t AS b FROM g ga JOIN g gb ON ga.t < gb.t),
m AS (SELECT p.a, p.b, sk.h,
  MAX(CASE WHEN sk.t = p.a THEN 1 ELSE 0 END) AS in_a,
  MAX(CASE WHEN sk.t = p.b THEN 1 ELSE 0 END) AS in_b
  FROM p JOIN sk ON sk.t = p.a OR sk.t = p.b
  GROUP BY p.a, p.b, sk.h),
r AS (SELECT a, b, in_a, in_b,
  row_number() OVER (PARTITION BY a, b ORDER BY h) AS rk FROM m),
s AS (SELECT a, b, count(*) AS n_union_sample,
  CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
  FROM r WHERE rk <= 256 GROUP BY a, b)
SELECT a, b, n_union_sample, n_both,
  round(CAST(n_both AS DOUBLE) / CAST(n_union_sample AS DOUBLE), 6)
    AS jaccard_est
FROM s""")
def event_type_user_overlap_kmv(spark, sf_dir):
    # KMV sketch intersection (min-wise hashing): pairwise Jaccard of the
    # user sets behind each event type, computed from the 256-hash sketches
    # ALONE — no re-scan of raw keys per pair, the capability HLL lacks.
    # The union's bottom-k is derivable from the two sketches, and the
    # co-membership fraction within it is an unbiased Jaccard estimator
    # (RMSE ~ 1/sqrt(k)). Integer counts + one rounded division = fully
    # oracle-checked.
    ev = load_table(spark, sf_dir, "events")
    sk = AG.kmv_sketch(ev, "user_id", group_cols=("event_type",), k=256)
    return AG.kmv_pairwise_jaccard(sk, "event_type", k=256)


@q("training_shard_manifest",
   """WITH s AS (SELECT doc_id, text, lang, source, n_chars,
  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
    % 8 AS INTEGER) AS shard
  FROM documents)
SELECT shard, count(*) AS n_rows,
  CAST(CAST(SUM(CAST('0x' || substr(md5(concat_ws('|',
    CAST(doc_id AS VARCHAR), text, lang, source,
    CAST(n_chars AS VARCHAR))), 1, 15) AS BIGINT)) AS DECIMAL(38,0))
    AS VARCHAR) AS checksum
FROM s GROUP BY shard""")
def training_shard_manifest(spark, sf_dir):
    # Training-data shard export + audit: documents -> 8 hive-partitioned
    # parquet shards with DETERMINISTIC md5(doc_id)-based assignment (task-
    # number sharding would change with cluster size/retries), re-read from
    # disk, manifest = per-shard count + order-insensitive content
    # checksum. The oracle computes the SAME manifest straight from the
    # source table — hash-matching it proves the export is complete,
    # correctly sharded, and bit-identical, without comparing rows.
    import hashlib
    import tempfile

    from thewhisperdb_spark.sources.textio import (
        shard_manifest, write_training_shards)

    # deterministic per-sf output dir, mode=overwrite: repeated runs
    # (bench medians, parity suites) REUSE the tree instead of leaking a
    # fresh full-corpus mkdtemp copy per invocation
    out = os.path.join(
        tempfile.gettempdir(),
        f"whisper_shards_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}")
    write_training_shards(_docs(spark, sf_dir), out, "doc_id", n_shards=8)
    return shard_manifest(spark, out, "doc_id",
                          ("text", "lang", "source", "n_chars"))


@q("streaming_distinct_users_kmv",
   """WITH h AS (SELECT DISTINCT event_type,
  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (SELECT event_type, h,
  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h),
s AS (SELECT event_type, count(*) AS n_hashes,
  MAX(CASE WHEN rk = 256 THEN h END) AS h_k
  FROM r WHERE rk <= 256 GROUP BY event_type)
SELECT event_type,
  CASE WHEN n_hashes < 256 THEN CAST(n_hashes AS DOUBLE)
    ELSE round(CAST(255.0 AS DOUBLE) * CAST(1152921504606846976.0 AS DOUBLE)
      / CAST(h_k AS DOUBLE), 4) END AS n_users_est
FROM s""")
def streaming_distinct_users_kmv(spark, sf_dir):
    # Streaming twin of events_distinct_users_kmv: a custom stateful
    # operator (applyInPandasWithState) maintains the bottom-256 key
    # hashes per event type across micro-batches. Bottom-k is exactly
    # mergeable, so after replaying all batches the state — and therefore
    # the estimate, computed ONCE in Spark expressions after the sink —
    # is bit-identical to the batch sketch, making a sketch-based
    # streaming operator fully oracle-checkable. State is 256 longs per
    # group regardless of stream length (the unbounded-Kafka shape).
    import hashlib
    import tempfile

    from thewhisperdb_spark.streaming import jobs as SJ

    out_dir = os.path.join(  # deterministic + overwrite: no tmp leak
        tempfile.gettempdir(),
        f"whisper_stream_kmv_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}")
    path = SJ.events_to_stream_dir(spark, sf_dir, out_dir, n_chunks=4)
    stream = SJ.stream_events_from_dir(spark, path)
    st = SJ.kmv_distinct_stream(stream)
    name = "q_streaming_kmv"
    q = (st.writeStream.outputMode("update").format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    mem = spark.sql(f"SELECT * FROM {name}")
    fin = (mem.groupBy("event_type")
           .agg(F.max_by("n_hashes", "n_batches").alias("n_hashes"),
                F.max_by("h_k", "n_batches").alias("h_k")))
    est = F.when(
        F.col("n_hashes") < 256, F.col("n_hashes").cast("double")
    ).otherwise(
        F.round(F.lit(255.0 * float(1 << 60)) / F.col("h_k").cast("double"),
                4))
    return fin.select("event_type", est.alias("n_users_est"))


@q("cdc_apply_reconstruct",
   """WITH new_snap AS (SELECT doc_id, lang, source,
  CASE WHEN md5(CAST(doc_id AS VARCHAR)) BETWEEN '1' AND '3'
    THEN n_chars + 7 ELSE n_chars END AS n_chars
  FROM documents WHERE md5(CAST(doc_id AS VARCHAR)) >= '1'
  UNION ALL SELECT doc_id + 100000, lang, source, n_chars FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) < '1')
SELECT source, count(*) AS n_rows,
  CAST(CAST(SUM(CAST('0x' || substr(md5(concat_ws('|',
    CAST(doc_id AS VARCHAR), lang, source, CAST(n_chars AS VARCHAR))),
    1, 15) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
FROM new_snap GROUP BY source""")
def cdc_apply_reconstruct(spark, sf_dir):
    # CDC round trip: the change feed produced by snapshot_diff_cdc's
    # full-outer diff (now carrying new-row payloads) is APPLIED back to
    # the old snapshot with the generic MERGE rewrite (operators.
    # relational.cdc_apply: one anti-join on delete∪update keys + union of
    # insert∪update payloads). The oracle computes the NEW snapshot
    # directly — checksum equality proves apply(diff(old, new), old) ==
    # new row-for-row, auditing both the diff and the merge in one query.
    from thewhisperdb_spark.operators.relational import cdc_apply

    d = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    key = F.md5(F.col("doc_id").cast("string"))
    new_snap = (d.filter(key >= "1")
                .withColumn("n_chars",
                            F.when(key.between("1", "3"),
                                   F.col("n_chars") + 7)
                            .otherwise(F.col("n_chars")))
                .unionByName(d.filter(key < "1")
                             .withColumn("doc_id", F.col("doc_id") + 100000)))
    o = d.alias("o")
    n = new_snap.alias("n")
    j = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    change = (F.when(F.col("o.doc_id").isNull(), "insert")
              .when(F.col("n.doc_id").isNull(), "delete")
              .otherwise("update"))
    differs = (F.col("o.doc_id").isNull() | F.col("n.doc_id").isNull()
               | (F.col("o.lang") != F.col("n.lang"))
               | (F.col("o.source") != F.col("n.source"))
               | (F.col("o.n_chars") != F.col("n.n_chars")))
    feed = (j.filter(differs)
            .select(F.coalesce(F.col("o.doc_id"), F.col("n.doc_id"))
                    .alias("doc_id"),
                    F.col("n.lang").alias("lang"),
                    F.col("n.source").alias("source"),
                    F.col("n.n_chars").alias("n_chars"),
                    change.alias("change")))
    rec = cdc_apply(d, feed, ["doc_id"])
    canon = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
               for c in ("doc_id", "lang", "source", "n_chars")])
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return (rec.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(h.cast("decimal(38,0)")).cast("string")
                 .alias("checksum")))


@q("scd2_build_user_status",
   """WITH c AS (SELECT user_id, ts, event_type,
  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type)
    AS prev FROM events),
runs AS (SELECT user_id, ts, event_type FROM c
  WHERE prev IS NULL OR prev <> event_type)
SELECT user_id, event_type AS status,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
  strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type),
    '%Y-%m-%d %H:%M:%S') AS valid_to
FROM runs""")
def scd2_build_user_status(spark, sf_dir):
    # SCD2 history BUILDER (inverse of scd2_point_in_time_join's consumer
    # side): each user's event-type sequence becomes versioned validity
    # intervals — consecutive re-statements of the same status collapse
    # into one run, valid_to = next run's start, NULL = current. Both
    # window passes share one (user, ts) exchange; same-timestamp order is
    # pinned by the payload so the history is engine-deterministic.
    from thewhisperdb_spark.operators.relational import scd2_build

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_build(ev, "user_id", "ts", ["event_type"])
    return hist.select(
        "user_id", F.col("event_type").alias("status"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss")
        .alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"))


@q("user_active_time_islands",
   """WITH d AS (SELECT user_id AS u,
  CAST(floor(epoch(ts)) AS BIGINT) AS s,
  CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e FROM events),
f AS (SELECT u, s, e,
  CASE WHEN max(e) OVER (PARTITION BY u ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
    OR s > max(e) OVER (PARTITION BY u ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    THEN 1 ELSE 0 END AS ni FROM d),
i AS (SELECT u, s, e, SUM(ni) OVER (PARTITION BY u ORDER BY s, e
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f),
p AS (SELECT u, island, MIN(s) AS is_, MAX(e) AS ie FROM i
  GROUP BY u, island)
SELECT u AS user_id, count(*) AS n_islands,
  CAST(SUM(ie - is_) AS BIGINT) AS active_seconds
FROM p GROUP BY u""")
def user_active_time_islands(spark, sf_dir):
    # gaps-and-islands interval union: each event opens a 30-minute
    # activity window; overlapping windows merge into islands (running-max-
    # of-previous-ends flag -> running-sum island id) so covered time never
    # double-counts — the O(n log n) rewrite of a per-second explode. Pure
    # integer epoch arithmetic; timezone/truncation offsets cancel because
    # only DIFFERENCES reach the output. One exchange on the user key
    # serves both windows and the aggregates.
    ev = load_table(spark, sf_dir, "events")
    return EV.interval_union_length(ev, duration_s=1800)


@q("event_transition_matrix",
   """WITH s AS (SELECT user_id, event_type,
  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
    AS nxt FROM events)
SELECT event_type AS src, nxt AS dst, count(*) AS n,
  round(CAST(count(*) AS DOUBLE)
    / CAST(SUM(count(*)) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS p
FROM s WHERE nxt IS NOT NULL GROUP BY event_type, nxt""")
def event_transition_matrix(spark, sf_dir):
    # first-order Markov transition matrix over per-user event sequences:
    # lead() pairs each event with its successor (tie order pinned by the
    # unique event_id), then transition counts and row-normalized
    # probabilities — the denominator is a window over the already-
    # aggregated |types|² frame, so the source is scanned ONCE. Integer
    # counts + one rounded division = engine-stable.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("user_id", "event_type",
                  F.lead("event_type").over(w).alias("nxt"))
    counts = (s.filter(F.col("nxt").isNotNull())
              .groupBy(F.col("event_type").alias("src"),
                       F.col("nxt").alias("dst"))
              .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy("src")
    return counts.select(
        "src", "dst", "n",
        F.round(F.col("n").cast("double")
                / F.sum("n").over(tot).cast("double"), 6).alias("p"))


@q("corpus_drift_report",
   # PSI drift between two corpus snapshots per lang: shares floored at
   # the 1e-6 epsilon, psi = (p_new - p_old) * ln(p_new / p_old), rounded
   # to 6 decimals (repo float-parity convention; ln agrees across
   # engines at this precision)
   "WITH o AS (SELECT lang AS key, COUNT(*) AS n_old FROM documents "
   "           WHERE doc_id < 300 GROUP BY lang), "
   "os AS (SELECT key, n_old, CAST(n_old AS DOUBLE) / "
   "       (SELECT SUM(n_old) FROM o) AS share_old FROM o), "
   "n AS (SELECT lang AS key, COUNT(*) AS n_new FROM documents "
   "      GROUP BY lang), "
   "ns AS (SELECT key, n_new, CAST(n_new AS DOUBLE) / "
   "       (SELECT SUM(n_new) FROM n) AS share_new FROM n) "
   "SELECT COALESCE(os.key, ns.key) AS key, "
   "COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new, "
   "round(greatest(COALESCE(share_old, 0.0), 0.000001), 6) AS share_old, "
   "round(greatest(COALESCE(share_new, 0.0), 0.000001), 6) AS share_new, "
   "round((greatest(COALESCE(share_new, 0.0), 0.000001) "
   "     - greatest(COALESCE(share_old, 0.0), 0.000001)) "
   "  * ln(greatest(COALESCE(share_new, 0.0), 0.000001) "
   "      / greatest(COALESCE(share_old, 0.0), 0.000001)), 6) AS psi "
   "FROM os FULL OUTER JOIN ns ON os.key = ns.key")
def corpus_drift_report(spark, sf_dir):
    # distribution-shift monitor between crawls (snapshot N-1 = doc_id <
    # 300 here, snapshot N = the full corpus): per-lang counts, shares,
    # and PSI contributions — the pre-promotion gate that catches a
    # scraper losing a domain or a language collapsing. One groupBy per
    # snapshot; the fact tables never join row-to-row.
    from thewhisperdb_spark.operators import dq

    d = _docs(spark, sf_dir)
    return dq.snapshot_drift_report(
        d.filter(F.col("doc_id") < 300), d, "lang")


@q("length_drift_report",
   # numeric-drift twin of corpus_drift_report by COMPOSITION: fixed
   # length buckets (deterministic edges — engine-invariant, unlike
   # approx quantiles) + the same PSI report over the bucket key
   "WITH b AS (SELECT doc_id, CASE WHEN n_chars < 150 THEN 'xs' "
   "  WHEN n_chars < 250 THEN 's' WHEN n_chars < 350 THEN 'm' "
   "  WHEN n_chars < 450 THEN 'l' ELSE 'xl' END AS bucket "
   "  FROM documents), "
   "o AS (SELECT bucket AS key, COUNT(*) AS n_old FROM b "
   "      WHERE doc_id < 300 GROUP BY bucket), "
   "os AS (SELECT key, n_old, CAST(n_old AS DOUBLE) / "
   "       (SELECT SUM(n_old) FROM o) AS share_old FROM o), "
   "n AS (SELECT bucket AS key, COUNT(*) AS n_new FROM b GROUP BY bucket), "
   "ns AS (SELECT key, n_new, CAST(n_new AS DOUBLE) / "
   "       (SELECT SUM(n_new) FROM n) AS share_new FROM n) "
   "SELECT COALESCE(os.key, ns.key) AS key, "
   "COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new, "
   "round(greatest(COALESCE(share_old, 0.0), 0.000001), 6) AS share_old, "
   "round(greatest(COALESCE(share_new, 0.0), 0.000001), 6) AS share_new, "
   "round((greatest(COALESCE(share_new, 0.0), 0.000001) "
   "     - greatest(COALESCE(share_old, 0.0), 0.000001)) "
   "  * ln(greatest(COALESCE(share_new, 0.0), 0.000001) "
   "      / greatest(COALESCE(share_old, 0.0), 0.000001)), 6) AS psi "
   "FROM os FULL OUTER JOIN ns ON os.key = ns.key")
def length_drift_report(spark, sf_dir):
    # document-LENGTH distribution drift: deterministic fixed-edge buckets
    # (approx-quantile edges would differ across engines and runs) fed to
    # the same PSI kernel — shows the numeric-column drift recipe is a
    # composition, not a new operator
    from thewhisperdb_spark.operators import dq

    bucket = (F.when(F.col("n_chars") < 150, "xs")
              .when(F.col("n_chars") < 250, "s")
              .when(F.col("n_chars") < 350, "m")
              .when(F.col("n_chars") < 450, "l").otherwise("xl"))
    d = _docs(spark, sf_dir).withColumn("bucket", bucket)
    return dq.snapshot_drift_report(
        d.filter(F.col("doc_id") < 300), d, "bucket")


@q("data_quality_report",
   """SELECT 'orders.o_totalprice_positive' AS check,
  CAST(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
  count(*) AS n_rows FROM orders
UNION ALL SELECT 'orders.o_orderstatus_accepted',
  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
    OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*)
  FROM orders
UNION ALL SELECT 'lineitem.l_discount_in_unit_range',
  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
    OR l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*)
  FROM lineitem
UNION ALL SELECT 'customer.c_name_not_null',
  CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
  count(*) FROM customer
UNION ALL SELECT 'orders.o_orderkey_unique',
  CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT),
  CAST(SUM(c) AS BIGINT)
  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
UNION ALL SELECT 'lineitem.pk_unique',
  CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT),
  CAST(SUM(c) AS BIGINT)
  FROM (SELECT count(*) AS c FROM lineitem
        GROUP BY l_orderkey, l_linenumber)
UNION ALL SELECT 'orders.o_custkey_fk_customer',
  (SELECT count(*) FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
  (SELECT count(*) FROM orders)
UNION ALL SELECT 'lineitem.l_orderkey_fk_orders',
  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
  (SELECT count(*) FROM lineitem)""")
def data_quality_report(spark, sf_dir):
    # Deequ-style declarative constraint gate over the star schema: range /
    # accepted-values / not-null rules fold into ONE aggregate scan per
    # table (a rule costs an expression, not a pass), uniqueness is one
    # groupBy per key, referential integrity one anti-join against the
    # parent's broadcastable distinct-key projection. The report a
    # pipeline runs before promoting a snapshot; row-level violations are
    # the same predicates applied as filters, deliberately not collected
    # here.
    from thewhisperdb_spark.operators import dq

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    orders_rules = dq.dq_predicate_report(o, {
        "orders.o_totalprice_positive":
            (F.col("o_totalprice") <= 0) | F.col("o_totalprice").isNull(),
        "orders.o_orderstatus_accepted":
            ~F.col("o_orderstatus").isin("O", "F", "P")
            | F.col("o_orderstatus").isNull(),
    })
    li_rules = dq.dq_predicate_report(li, {
        "lineitem.l_discount_in_unit_range":
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
            | F.col("l_discount").isNull(),
    })
    c_rules = dq.dq_predicate_report(c, {
        "customer.c_name_not_null": F.col("c_name").isNull(),
    })
    return dq.dq_union(
        orders_rules, li_rules, c_rules,
        dq.dq_unique_report(o, ["o_orderkey"], "orders.o_orderkey_unique"),
        dq.dq_unique_report(li, ["l_orderkey", "l_linenumber"],
                            "lineitem.pk_unique"),
        dq.dq_fk_report(o, c, "o_custkey", "c_custkey",
                        "orders.o_custkey_fk_customer"),
        dq.dq_fk_report(li, o, "l_orderkey", "o_orderkey",
                        "lineitem.l_orderkey_fk_orders"))


@q("benford_digit_report",
   """WITH n AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_totalprice > 0),
d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
  AS digit FROM n WHERE cents > 0),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit)
SELECT digit, n,
  round(CAST(n AS DOUBLE)
    / CAST(SUM(n) OVER () AS DOUBLE), 6) AS obs_p,
  round(log10(1.0 + 1.0 / digit), 6) AS benford_p
FROM c""")
def benford_digit_report(spark, sf_dir):
    # numeric forensics for the DQ family: first-significant-digit
    # distribution of order totals vs Benford's law. The digit is
    # extracted in EXACT integer space (cents = round(price*100), then the
    # first character of the integer's decimal rendering) — float
    # log10-of-value tricks differ across engines at power-of-ten
    # boundaries, string-of-integer does not. One scan + a 9-row window.
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # cents > 0 guard: a price in (0, 0.005) rounds to 0 cents -> digit 0
    # -> 1/0 in the Benford term, with engine-specific div-by-zero
    # semantics; exclude it identically on both sides
    d = (o.select(cents.alias("cents")).filter(F.col("cents") > 0)
         .select(F.substring(F.col("cents").cast("string"), 1, 1)
                 .cast("int").alias("digit")))
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy()
    return c.select(
        "digit", "n",
        F.round(F.col("n").cast("double")
                / F.sum("n").over(tot).cast("double"), 6).alias("obs_p"),
        F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6)
        .alias("benford_p"))


@q("price_quantiles_kmv_sample",
   """WITH base AS (SELECT l_returnflag, l_extendedprice AS v,
  CAST('0x' || substr(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR),
    CAST(l_linenumber AS VARCHAR))), 1, 15) AS BIGINT) AS h
  FROM lineitem),
s AS (SELECT l_returnflag, v, h,
  row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk
  FROM base),
samp AS (SELECT l_returnflag, v, h FROM s WHERE rk <= 512),
r AS (SELECT l_returnflag, v,
  row_number() OVER (PARTITION BY l_returnflag ORDER BY v, h) AS rv,
  count(*) OVER (PARTITION BY l_returnflag) AS n FROM samp)
SELECT l_returnflag, count(*) AS n_sample,
  MAX(CASE WHEN rv = CAST(ceil(0.25 * n) AS BIGINT) THEN v END) AS q_25,
  MAX(CASE WHEN rv = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS q_50,
  MAX(CASE WHEN rv = CAST(ceil(0.75 * n) AS BIGINT) THEN v END) AS q_75
FROM r GROUP BY l_returnflag""")
def price_quantiles_kmv_sample(spark, sf_dir):
    # portable mergeable quantiles: the k=512 smallest md5(row-id) rows
    # per group are a REPRODUCIBLE uniform sample (the quantile analog of
    # the KMV bottom-k sketch, mergeable the same way), and each quantile
    # is pure rank SELECTION over it — no arithmetic on values, so the
    # result is bit-identical across engines, unlike GK/t-digest sketches
    # whose internals aren't portable (price_quartiles_approx is pinned
    # only at gate scale for exactly that reason). ±~2 percentile points
    # at the median for k=512.
    li = load_table(spark, sf_dir, "lineitem")
    return SM.sample_quantiles(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"],
        qs=(0.25, 0.5, 0.75), group_cols=("l_returnflag",), k=512)


@q("rolling_distinct_users_kmv_7d",
   """WITH h AS (SELECT DISTINCT CAST(ts AS DATE) AS d,
  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
daily AS (SELECT d, h,
  row_number() OVER (PARTITION BY d ORDER BY h) AS rk FROM h),
sk AS (SELECT d, h FROM daily WHERE rk <= 256),
expl AS (SELECT CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
    INTERVAL 1 DAY)) AS DATE) AS day, h FROM sk),
u AS (SELECT DISTINCT day, h FROM expl),
r AS (SELECT day, h,
  row_number() OVER (PARTITION BY day ORDER BY h) AS rk FROM u),
s AS (SELECT day, count(*) AS n_hashes,
  MAX(CASE WHEN rk = 256 THEN h END) AS h_k
  FROM r WHERE rk <= 256 GROUP BY day)
SELECT strftime(day, '%Y-%m-%d') AS day,
  CASE WHEN n_hashes < 256 THEN CAST(n_hashes AS DOUBLE)
    ELSE round(CAST(255.0 AS DOUBLE) * CAST(1152921504606846976.0 AS DOUBLE)
      / CAST(h_k AS DOUBLE), 4) END AS active_7d_est
FROM s""")
def rolling_distinct_users_kmv_7d(spark, sf_dir):
    # sketch-rollup pattern at its purest: build ONE bottom-256 KMV
    # sketch per day (the nightly job), then answer the rolling 7-day
    # distinct-actives question by MERGING the 7 daily sketches per
    # window — explode each day's <= 256 hashes into the windows it
    # serves, re-rank, cut, estimate. Raw user ids are touched exactly
    # once; any other window length is answerable later from the same
    # daily sketches, which is why production pipelines persist sketches
    # and not counts. Integer state end-to-end -> fully oracle-checked
    # (compare the exact twin rolling_active_users_7d, which must
    # re-explode every raw (user, day) pair per window).
    from pyspark.sql.window import Window

    from thewhisperdb_spark.operators.aggregates import md5_hash60

    ev = load_table(spark, sf_dir, "events")
    daily = (ev.filter(F.col("user_id").isNotNull())
             .select(F.to_date("ts").alias("d"),
                     md5_hash60("user_id").alias("h"))
             .distinct())
    wday = Window.partitionBy("d").orderBy("h")
    sk = (daily.withColumn("rk", F.row_number().over(wday))
          .filter(F.col("rk") <= 256).select("d", "h"))
    expl = sk.select(
        F.explode(F.expr("sequence(d, date_add(d, 6), interval 1 day)"))
        .alias("day"), "h").distinct()
    wwin = Window.partitionBy("day").orderBy("h")
    merged = (expl.withColumn("rk", F.row_number().over(wwin))
              .filter(F.col("rk") <= 256))
    s = merged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max(F.when(F.col("rk") == 256, F.col("h"))).alias("h_k"))
    est = F.when(
        F.col("n_hashes") < 256, F.col("n_hashes").cast("double")
    ).otherwise(
        F.round(F.lit(255.0 * float(1 << 60)) / F.col("h_k").cast("double"),
                4))
    return s.select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    est.alias("active_7d_est"))


@q("attribution_report",
   """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts,
  CAST(value AS DECIMAL(18,6)) AS val FROM events
  WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts AS cts, event_id AS cid,
  CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 4 AS INTEGER)
    AS channel FROM events WHERE event_type = 'click'),
j AS (SELECT p.pid, p.val, c.channel, c.cts, c.cid FROM p JOIN c
  ON c.user_id = p.user_id AND c.cts <= p.pts
  AND c.cts >= p.pts - INTERVAL 7 DAY),
r AS (SELECT pid, val, channel,
  row_number() OVER (PARTITION BY pid ORDER BY cts DESC, cid DESC)
    AS rn_last,
  row_number() OVER (PARTITION BY pid ORDER BY cts ASC, cid ASC)
    AS rn_first,
  count(*) OVER (PARTITION BY pid) AS n FROM j)
SELECT model, channel,
  CAST(SUM(attr) AS DOUBLE) AS attributed_value, count(*) AS n_touches
FROM (
  SELECT 'last_touch' AS model, channel, val AS attr FROM r
    WHERE rn_last = 1
  UNION ALL SELECT 'first_touch', channel, val FROM r WHERE rn_first = 1
  UNION ALL SELECT 'linear', channel,
    CAST(round(CAST(val AS DOUBLE) / n, 6) AS DECIMAL(18,6)) FROM r)
GROUP BY model, channel""")
def attribution_report(spark, sf_dir):
    # multi-touch attribution over click→purchase paths: each purchase's
    # value credited to the clicks in its trailing 7-day window under
    # three models — last-touch, first-touch, linear. The click join is
    # the bounded range-join shape (user equi-key + time residual, same
    # as range_join_clicks_before_purchase); the three models share ONE
    # joined frame via two rank windows + a count. Linear's per-touch
    # quotient is rounded to 6 BEFORE the decimal sum, so float division
    # happens once per row identically on both engines and the aggregate
    # stays order-insensitive. Channel is the deterministic props-derived
    # k % 4 (the testdata has no channel column).
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("pid"), "user_id",
                 F.col("ts").alias("pts"),
                 F.col("value").cast("decimal(18,6)").alias("val")))
    c = (ev.filter(F.col("event_type") == "click")
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("cts"),
                 F.col("event_id").alias("cid"),
                 (F.get_json_object("props", "$.k").cast("long") % 4)
                 .cast("int").alias("channel")))
    j = p.join(c, (F.col("c_user") == F.col("user_id"))
               & (F.col("cts") <= F.col("pts"))
               & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 7 DAYS")))
    wp = Window.partitionBy("pid")
    r = j.select(
        "pid", "val", "channel",
        F.row_number().over(wp.orderBy(F.col("cts").desc(),
                                       F.col("cid").desc())).alias("rn_last"),
        F.row_number().over(wp.orderBy(F.col("cts").asc(),
                                       F.col("cid").asc())).alias("rn_first"),
        F.count(F.lit(1)).over(wp).alias("n"))
    last = (r.filter(F.col("rn_last") == 1)
            .select(F.lit("last_touch").alias("model"), "channel",
                    F.col("val").alias("attr")))
    first = (r.filter(F.col("rn_first") == 1)
             .select(F.lit("first_touch").alias("model"), "channel",
                     F.col("val").alias("attr")))
    linear = r.select(
        F.lit("linear").alias("model"), "channel",
        F.round(F.col("val").cast("double") / F.col("n"), 6)
        .cast("decimal(18,6)").alias("attr"))
    return (last.unionByName(first).unionByName(linear)
            .groupBy("model", "channel")
            .agg(F.sum("attr").cast("double").alias("attributed_value"),
                 F.count(F.lit(1)).alias("n_touches")))


@q("join_key_overlap_estimate",
   """WITH ha AS (SELECT DISTINCT CAST('0x' || substr(md5(
    CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM orders),
hb AS (SELECT DISTINCT CAST('0x' || substr(md5(
    CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM customer WHERE c_acctbal > 5000),
ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
  FROM ha) WHERE rk <= 256),
skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
  FROM hb) WHERE rk <= 256),
m AS (SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
  SELECT h, 1 AS in_a, 0 AS in_b FROM ska
  UNION ALL SELECT h, 0, 1 FROM skb) GROUP BY h),
r AS (SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rk FROM m),
s AS (SELECT count(*) AS n_union_sample,
  CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
  MAX(CASE WHEN rk = 256 THEN h END) AS h_k FROM r WHERE rk <= 256),
e AS (SELECT n_union_sample, n_both,
  CASE WHEN n_union_sample < 256 THEN CAST(n_union_sample AS DOUBLE)
    ELSE round(CAST(255.0 AS DOUBLE)
      * CAST(1152921504606846976.0 AS DOUBLE) / CAST(h_k AS DOUBLE), 4)
  END AS union_est FROM s),
ex AS (SELECT count(*) AS n_exact FROM
  (SELECT DISTINCT o_custkey FROM orders) o
  JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000) c
  ON c.c_custkey = o.o_custkey)
SELECT e.n_union_sample, e.n_both, e.union_est,
  round(CAST(e.n_both AS DOUBLE) / CAST(e.n_union_sample AS DOUBLE)
    * e.union_est, 4) AS intersection_est,
  ex.n_exact FROM e, ex""")
def join_key_overlap_estimate(spark, sf_dir):
    # sketch-driven join planning: how many join keys actually match
    # between orders.o_custkey and the rich-customer slice of
    # c_custkey, estimated from two 256-hash KMV sketches WITHOUT
    # re-scanning either table — |A∩B| ≈ co-membership fraction of the
    # union's bottom-k × the union-size estimate. The number a planner
    # wants before choosing broadcast vs shuffle vs skew handling; the
    # exact intersection rides along to show the sketch error.
    # Deterministic integers + two float expressions = oracle-checked.
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"))
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_acctbal") > 5000)
         .select(F.col("c_custkey").alias("k")))
    sk_a = AG.kmv_sketch(o, "k", k=256).select("h")
    sk_b = AG.kmv_sketch(c, "k", k=256).select("h")
    est = AG.kmv_intersection_estimate(sk_a, sk_b, k=256)
    exact = (o.distinct().join(c, "k", "left_semi")
             .agg(F.count(F.lit(1)).alias("n_exact")))
    return est.crossJoin(F.broadcast(exact))


@q("repeated_span_scrub_stats",
   """WITH t AS (SELECT doc_id,
  list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents WHERE doc_id < 300),
e AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok,
  CASE WHEN i + 7 <= len(tk)
    THEN array_to_string(tk[i:i+7], ' ') END AS sh
  FROM t, unnest(generate_series(1, len(tk))) AS u(i)),
d AS (SELECT sh FROM e WHERE sh IS NOT NULL
  GROUP BY sh HAVING count(*) >= 2),
m AS (SELECT e.doc_id, e.pos, e.tok,
  CASE WHEN d.sh IS NOT NULL THEN 1 ELSE 0 END AS ds
  FROM e LEFT JOIN d ON e.sh = d.sh),
c AS (SELECT doc_id, pos, tok, MAX(ds) OVER (PARTITION BY doc_id
  ORDER BY pos ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
  FROM m)
SELECT doc_id, count(*) AS n_tokens,
  CAST(SUM(covered) AS BIGINT) AS n_removed,
  md5(COALESCE(string_agg(tok, ' ' ORDER BY pos)
    FILTER (WHERE covered = 0), '')) AS clean_md5
FROM c GROUP BY doc_id
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS n_removed,
  md5('') AS clean_md5
FROM t WHERE COALESCE(len(tk), 0) = 0""")
def repeated_span_scrub_stats(spark, sf_dir):
    # span-level exact-substring dedup (the Lee et al. ExactSubstr shape
    # at 8-token-shingle granularity): corpus-repeated spans — license
    # headers, navigation boilerplate — are removed from INSIDE otherwise
    # unique documents, which document/line dedup cannot see. Sliced to
    # doc_id < 300 because the synthetic corpus is deliberately
    # self-similar (at full SF most shingles repeat by construction); on
    # real corpora the duplicated-shingle set is the small side and
    # broadcasts. The reassembled text is md5'd so the full scrub —
    # positions, coverage, order — is hash-audited, not just counted.
    from thewhisperdb_spark.operators.dedup import repeated_span_scrub

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    out = repeated_span_scrub(d, k=8, min_count=2)
    return out.select("doc_id", "n_tokens", "n_removed",
                      F.md5("clean_text").alias("clean_md5"))


@q("daily_revenue_gap_filled",
   """WITH spine AS (SELECT CAST(unnest(generate_series(
    DATE '1996-01-01', DATE '1996-03-31', INTERVAL 1 DAY)) AS DATE) AS d),
rev AS (SELECT CAST(o_orderdate AS DATE) AS d,
  SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS r, count(*) AS n
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY 1)
SELECT strftime(spine.d, '%Y-%m-%d') AS day,
  CAST(COALESCE(rev.r, 0) AS DOUBLE) AS revenue,
  CAST(COALESCE(rev.n, 0) AS BIGINT) AS n_orders
FROM spine LEFT JOIN rev ON rev.d = spine.d""")
def daily_revenue_gap_filled(spark, sf_dir):
    # date-spine gap filling: a quarter's daily revenue INCLUDING
    # zero-order days (absent group keys are the classic reporting bug —
    # a groupBy can't produce rows for days that never happened). The
    # spine is a sequence() literal exploded driver-free and broadcast
    # onto the aggregated frame; revenue stays exact decimal until the
    # output cast.
    o = (load_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate")
                  >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("o_orderdate")
                    < F.lit("1996-04-01").cast("timestamp"))))
    rev = (o.groupBy(F.to_date("o_orderdate").alias("d"))
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .alias("r"),
                F.count(F.lit(1)).alias("n")))
    spine = spark.range(1).select(F.explode(F.expr(
        "sequence(DATE '1996-01-01', DATE '1996-03-31', interval 1 day)"))
        .alias("d"))
    return (F.broadcast(spine).join(rev, "d", "left")
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    F.coalesce(F.col("r"), F.lit(0))
                    .cast("double").alias("revenue"),
                    F.coalesce(F.col("n"), F.lit(0))
                    .cast("long").alias("n_orders")))


@q("customer_spend_concentration",
   """WITH per AS (SELECT o_custkey,
  SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS v FROM orders
  GROUP BY o_custkey),
r AS (SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS i,
  count(*) OVER () AS n, SUM(v) OVER () AS tot FROM per),
g AS (SELECT MAX(n) AS n, CAST(MAX(tot) AS DOUBLE) AS total,
  CAST(SUM(i * v) AS DOUBLE) AS iv,
  CAST(SUM(CASE WHEN i > n - CAST(floor(0.2 * n) AS BIGINT) THEN v
    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS top_v
  FROM r)
SELECT n AS n_customers, round(total, 4) AS total_spend,
  round(2.0 * iv / (n * total) - (n + 1.0) / n, 6) AS gini,
  round(top_v / total, 6) AS top20_share
FROM g""")
def customer_spend_concentration(spark, sf_dir):
    # revenue-inequality metrics from ONE customer-grain aggregate:
    # Gini = 2·Σ(i·v_i)/(n·Σv) − (n+1)/n over spend ranked ascending
    # (ties pinned by custkey), and the top-20%% revenue share (the
    # Pareto check). Every sum is exact decimal over integer ranks, so
    # the two final float expressions are engine-stable. At scale the
    # ranking runs on the CUSTOMER-grain frame (|customers| rows), never
    # the order fact.
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    per = (o.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .alias("v")))
    wall = Window.partitionBy()
    r = per.select(
        "v",
        F.row_number().over(wall.orderBy("v", "o_custkey")).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("v").over(wall).alias("tot"))
    zero = F.lit(0).cast("decimal(18,6)")
    g = r.agg(
        F.max("n").alias("n"),
        F.max("tot").cast("double").alias("total"),
        F.sum(F.col("i") * F.col("v")).cast("double").alias("iv"),
        F.sum(F.when(
            F.col("i") > F.col("n")
            - F.floor(F.lit(0.2) * F.col("n")).cast("long"),
            F.col("v")).otherwise(zero)).cast("double").alias("top_v"))
    return g.select(
        F.col("n").alias("n_customers"),
        F.round("total", 4).alias("total_spend"),
        F.round(F.lit(2.0) * F.col("iv")
                / (F.col("n") * F.col("total"))
                - (F.col("n") + F.lit(1.0)) / F.col("n"), 6).alias("gini"),
        F.round(F.col("top_v") / F.col("total"), 6).alias("top20_share"))


@q("daily_new_vs_returning",
   """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events),
f AS (SELECT user_id, MIN(d) AS first_d FROM ud GROUP BY user_id)
SELECT strftime(ud.d, '%Y-%m-%d') AS day,
  CAST(SUM(CASE WHEN ud.d = f.first_d THEN 1 ELSE 0 END) AS BIGINT)
    AS new_users,
  CAST(SUM(CASE WHEN ud.d > f.first_d THEN 1 ELSE 0 END) AS BIGINT)
    AS returning_users
FROM ud JOIN f ON f.user_id = ud.user_id GROUP BY ud.d""")
def daily_new_vs_returning(spark, sf_dir):
    # the growth-dashboard staple: per day, how many active users are on
    # their FIRST day vs returning. Dedupe to (user, day), derive each
    # user's first day in the same user-keyed exchange (window min —
    # Catalyst reuses the partitioning), classify, and count per day.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = F.min("d").over(Window.partitionBy("user_id"))
    return (ud.withColumn("first_d", first)
            .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
            .agg(F.sum((F.col("d") == F.col("first_d")).cast("long"))
                 .alias("new_users"),
                 F.sum((F.col("d") > F.col("first_d")).cast("long"))
                 .alias("returning_users")))


@q("segment_priority_chi2",
   """WITH obs AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
  count(*) AS n FROM orders o JOIN customer c
  ON c.c_custkey = o.o_custkey GROUP BY 1, 2),
tot AS (SELECT seg, pri, n,
  SUM(n) OVER (PARTITION BY seg) AS row_n,
  SUM(n) OVER (PARTITION BY pri) AS col_n,
  SUM(n) OVER () AS grand FROM obs)
SELECT seg, pri, n,
  round(CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
    / CAST(grand AS DOUBLE), 6) AS expected,
  round(pow(CAST(n AS DOUBLE) - CAST(row_n AS DOUBLE)
      * CAST(col_n AS DOUBLE) / CAST(grand AS DOUBLE), 2)
    / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
      / CAST(grand AS DOUBLE)), 6) AS chi2_term
FROM tot""")
def segment_priority_chi2(spark, sf_dir):
    # chi-square independence screen for two categorical dimensions
    # (market segment × order priority): observed cell counts, expected
    # under independence (row_total × col_total / grand), and each cell's
    # χ² contribution — the contingency diagnostics a feature-selection
    # or bias audit runs. All three marginals come from windows over the
    # already-aggregated |cells| frame, so the fact join is scanned once;
    # counts are exact integers and each float expression is written once.
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey",
                                                   "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey",
                                                     "c_mktsegment")
    obs = (o.join(c, F.col("c_custkey") == F.col("o_custkey"))
           .groupBy(F.col("c_mktsegment").alias("seg"),
                    F.col("o_orderpriority").alias("pri"))
           .agg(F.count(F.lit(1)).alias("n")))
    tot = obs.select(
        "seg", "pri", "n",
        F.sum("n").over(Window.partitionBy("seg")).alias("row_n"),
        F.sum("n").over(Window.partitionBy("pri")).alias("col_n"),
        F.sum("n").over(Window.partitionBy()).alias("grand"))
    exp = (F.col("row_n").cast("double") * F.col("col_n").cast("double")
           / F.col("grand").cast("double"))
    return tot.select(
        "seg", "pri", "n",
        F.round(exp, 6).alias("expected"),
        F.round(F.pow(F.col("n").cast("double") - exp, 2) / exp, 6)
        .alias("chi2_term"))


@q("funnel_time_to_convert",
   """WITH f AS (SELECT user_id,
  MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
  MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id),
conv AS (SELECT user_id, CAST(floor(epoch(first_purchase)) AS BIGINT)
    - CAST(floor(epoch(first_view)) AS BIGINT) AS lag_s
  FROM f WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view),
r AS (SELECT lag_s, user_id,
  row_number() OVER (ORDER BY lag_s, user_id) AS rv,
  count(*) OVER () AS n FROM conv)
SELECT count(*) AS n_converted,
  CAST(MAX(CASE WHEN rv = CAST(ceil(0.5 * n) AS BIGINT)
    THEN lag_s END) AS BIGINT) AS median_lag_s,
  CAST(MAX(CASE WHEN rv = CAST(ceil(0.9 * n) AS BIGINT)
    THEN lag_s END) AS BIGINT) AS p90_lag_s,
  CAST(MIN(lag_s) AS BIGINT) AS min_lag_s,
  CAST(MAX(lag_s) AS BIGINT) AS max_lag_s
FROM r""")
def funnel_time_to_convert(spark, sf_dir):
    # conversion-latency distribution: per user, first view -> first
    # purchase lag (users whose first purchase precedes any view are
    # excluded — they converted through another door); exact discrete
    # median/p90 by rank selection over the converters frame (|users|
    # grain, never the fact), ties pinned by user id. Epoch flooring and
    # timezone offsets cancel in the difference.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("first_purchase"))
    conv = (f.filter(F.col("first_view").isNotNull()
                     & F.col("first_purchase").isNotNull()
                     & (F.col("first_purchase") >= F.col("first_view")))
            .select("user_id",
                    (F.unix_timestamp("first_purchase")
                     - F.unix_timestamp("first_view")).alias("lag_s")))
    wall = Window.partitionBy()
    r = conv.select(
        "lag_s",
        F.row_number().over(wall.orderBy("lag_s", "user_id")).alias("rv"),
        F.count(F.lit(1)).over(wall).alias("n"))
    sel = lambda q: F.max(F.when(  # noqa: E731
        F.col("rv") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
        F.col("lag_s"))).cast("long")
    return r.agg(F.count(F.lit(1)).alias("n_converted"),
                 sel(0.5).alias("median_lag_s"),
                 sel(0.9).alias("p90_lag_s"),
                 F.min("lag_s").cast("long").alias("min_lag_s"),
                 F.max("lag_s").cast("long").alias("max_lag_s"))


@q("ivm_revenue_by_region",
   """WITH new_o AS (SELECT o_orderkey, o_custkey,
  CASE WHEN md5(CAST(o_orderkey AS VARCHAR)) BETWEEN '1' AND '3'
    THEN o_totalprice + 7 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE md5(CAST(o_orderkey AS VARCHAR)) >= '1'
  UNION ALL SELECT o_orderkey + 1000000, o_custkey, o_totalprice
  FROM orders WHERE md5(CAST(o_orderkey AS VARCHAR)) < '1')
SELECT r.r_name AS region,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  count(*) AS n
FROM new_o o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name""")
def ivm_revenue_by_region(spark, sf_dir):
    # incremental view maintenance: the materialized revenue-by-region
    # aggregate is REFRESHED from a CDC delta — deletes contribute
    # −(value, 1), arrivals +(value, 1), an update both — folded into the
    # old aggregate by relational.incremental_agg_update. The base table
    # is never rescanned: cost is |old_agg| + |delta|. The oracle
    # recomputes the aggregate from scratch on the new snapshot, so a
    # hash match proves the delta algebra (SUM/COUNT self-maintenance)
    # exactly. Deterministic md5-keyed mutation, same scheme as
    # snapshot_diff_cdc.
    from thewhisperdb_spark.operators.relational import (
        incremental_agg_update)

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    key = F.md5(F.col("o_orderkey").cast("string"))
    new_o = (o.filter(key >= "1")
             .withColumn("o_totalprice",
                         F.when(key.between("1", "3"),
                                F.col("o_totalprice") + 7)
                         .otherwise(F.col("o_totalprice")))
             .unionByName(o.filter(key < "1")
                          .withColumn("o_orderkey",
                                      F.col("o_orderkey") + 1000000)))
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region"))

    def with_region(df):
        return (df.join(F.broadcast(c),
                        F.col("c_custkey") == F.col("o_custkey"))
                .join(F.broadcast(n),
                      F.col("n_nationkey") == F.col("c_nationkey"))
                .join(F.broadcast(reg),
                      F.col("r_regionkey") == F.col("n_regionkey")))

    dec = F.col("o_totalprice").cast("decimal(18,6)")
    old_agg = (with_region(o).groupBy("region")
               .agg(F.sum(dec).alias("rev"),
                    F.count(F.lit(1)).alias("n")))
    oj = o.alias("o")
    nj = new_o.alias("nn")
    j = oj.join(nj, F.col("o.o_orderkey") == F.col("nn.o_orderkey"),
                "full_outer")
    o_gone = F.col("nn.o_orderkey").isNull()
    o_new = F.col("o.o_orderkey").isNull()
    changed = (~o_gone & ~o_new
               & ((F.col("o.o_totalprice") != F.col("nn.o_totalprice"))
                  | (F.col("o.o_custkey") != F.col("nn.o_custkey"))))
    minus = (j.filter(o_gone | changed)
             .select(F.col("o.o_custkey").alias("o_custkey"),
                     (-F.col("o.o_totalprice").cast("decimal(18,6)"))
                     .alias("rev_d"), F.lit(-1).cast("long").alias("n_d")))
    plus = (j.filter(o_new | changed)
            .select(F.col("nn.o_custkey").alias("o_custkey"),
                    F.col("nn.o_totalprice").cast("decimal(18,6)")
                    .alias("rev_d"), F.lit(1).cast("long").alias("n_d")))
    delta = (with_region(minus.unionByName(plus))
             .select("region", F.col("rev_d").alias("rev"),
                     F.col("n_d").alias("n")))
    refreshed = incremental_agg_update(old_agg, delta, ["region"],
                                       ["rev"], "n")
    return refreshed.select("region",
                            F.col("rev").cast("double").alias("revenue"),
                            F.col("n"))


@q("cohort_ltv_curve",
   """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_d
  FROM events GROUP BY user_id),
v AS (SELECT e.user_id, f.cohort_d,
  CAST(CAST(e.ts AS DATE) - f.cohort_d AS BIGINT) AS age_d,
  CAST(e.value AS DECIMAL(18,6)) AS val
  FROM events e JOIN f ON f.user_id = e.user_id
  WHERE e.event_type = 'purchase'),
wk AS (SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_day,
  CAST(floor(age_d / 7) AS BIGINT) AS age_week, SUM(val) AS wv
  FROM v WHERE age_d <= 27 GROUP BY 1, 2)
SELECT cohort_day, age_week,
  CAST(SUM(wv) OVER (PARTITION BY cohort_day ORDER BY age_week)
    AS DOUBLE) AS cum_revenue
FROM wk""")
def cohort_ltv_curve(spark, sf_dir):
    # cohort lifetime-value curve: purchase revenue accumulated by weeks
    # since each user's first-seen day, cumulative per cohort — the
    # retention matrix's revenue twin. The cumulative window runs over
    # the tiny (cohort × ≤4 weeks) aggregated frame; per-week sums are
    # exact decimal so the running totals are engine-stable.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_d"))
    v = (ev.filter(F.col("event_type") == "purchase")
         .join(f.withColumnRenamed("user_id", "fu"),
               F.col("fu") == F.col("user_id"))
         .select("cohort_d",
                 F.datediff(F.to_date("ts"), F.col("cohort_d"))
                 .cast("long").alias("age_d"),
                 F.col("value").cast("decimal(18,6)").alias("val"))
         .filter(F.col("age_d") <= 27))
    wk = (v.groupBy(F.date_format("cohort_d", "yyyy-MM-dd")
                    .alias("cohort_day"),
                    F.floor(F.col("age_d") / 7).cast("long")
                    .alias("age_week"))
          .agg(F.sum("val").alias("wv")))
    wcum = (Window.partitionBy("cohort_day").orderBy("age_week")
            .rowsBetween(Window.unboundedPreceding, 0))
    return wk.select("cohort_day", "age_week",
                     F.sum("wv").over(wcum).cast("double")
                     .alias("cum_revenue"))


@q("daily_error_rate_slo",
   """WITH d AS (SELECT CAST(ts AS DATE) AS day,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
    AS errors, count(*) AS total
  FROM events GROUP BY 1)
SELECT strftime(day, '%Y-%m-%d') AS day, errors, total,
  round(CAST(errors AS DOUBLE) / CAST(total AS DOUBLE), 6)
    AS error_rate,
  round(CAST(SUM(errors) OVER (ORDER BY day
      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
    / CAST(SUM(total) OVER (ORDER BY day
      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
    AS error_rate_7d
FROM d""")
def daily_error_rate_slo(spark, sf_dir):
    # SLO dashboard shape: daily error rate plus the trailing-7-row burn
    # window, both as single divisions of exact integer window sums (the
    # rolling ratio is sum(err)/sum(total), NOT an average of daily
    # rates — the classic SLO-burn mistake this query spells correctly).
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    d = (ev.groupBy(F.to_date("ts").alias("day"))
         .agg(F.sum((F.col("event_type") == "error").cast("long"))
              .alias("errors"),
              F.count(F.lit(1)).alias("total")))
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    return d.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "errors", "total",
        F.round(F.col("errors").cast("double")
                / F.col("total").cast("double"), 6).alias("error_rate"),
        F.round(F.sum("errors").over(w7).cast("double")
                / F.sum("total").over(w7).cast("double"), 6)
        .alias("error_rate_7d"))


@q("user_rate_anomalies",
   """WITH m AS (SELECT user_id, date_trunc('minute', ts) AS minute,
  count(*) AS n FROM events GROUP BY 1, 2),
s AS (SELECT user_id, CAST(MAX(n) AS BIGINT) AS max_per_minute,
  CAST(SUM(n) AS BIGINT) AS total_events,
  count(*) AS active_minutes FROM m GROUP BY user_id)
SELECT user_id, max_per_minute, total_events, active_minutes,
  round(CAST(total_events AS DOUBLE) / CAST(active_minutes AS DOUBLE), 6)
    AS mean_per_active_minute
FROM s WHERE max_per_minute >= 2""")
def user_rate_anomalies(spark, sf_dir):
    # bot/abuse screen: per-user peak events-per-minute plus activity
    # shape, flagging users whose burst rate crosses the threshold — two
    # partial-aggregating shuffles on (user, minute) then (user); no
    # windows, no self-joins, the per-minute grain bounds state.
    ev = load_table(spark, sf_dir, "events")
    m = (ev.groupBy("user_id", F.date_trunc("minute", "ts").alias("minute"))
         .agg(F.count(F.lit(1)).alias("n")))
    s = (m.groupBy("user_id")
         .agg(F.max("n").cast("long").alias("max_per_minute"),
              F.sum("n").cast("long").alias("total_events"),
              F.count(F.lit(1)).alias("active_minutes")))
    return (s.filter(F.col("max_per_minute") >= 2)
            .select("user_id", "max_per_minute", "total_events",
                    "active_minutes",
                    F.round(F.col("total_events").cast("double")
                            / F.col("active_minutes").cast("double"), 6)
                    .alias("mean_per_active_minute")))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's §3.1 read path (filter conjunction -> sort ->
    paginate) + a tag-join enrichment, on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    df = _docs_tagged(spark, sf_dir)
    filtered = df.filter(FL.conjunction(
        FL.eq_filter("lang", "en"), F.col("n_chars") > 100))
    ordered = filtered.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    page = O.paginate(ordered, offset=0, limit=50)
    return page.select("doc_id", "lang", "source", "n_chars",
                       F.size("tags").cast("long").alias("n_tags"))


# Rotation RULE (round 4, replacing the hand-rotated list): the driver's
# CORRECTNESS window covers the FIRST ~50 registry entries, so ordering is
# verification priority. We derive it automatically from the committed
# CORRECTNESS_r*.json files:
#   1. oracle-backed keys with no green driver row yet (never-stamped or
#      previously erred) — these need stamps most;
#   2. rows-only keys with no driver row yet (weaker check, still a row);
#   3. everything already stamped green, least-recently-stamped first.
# This makes the rotation self-maintaining: after each round the driver's
# committed CORRECTNESS file reorders the next round's window with no manual
# edit. _VERIFY_FALLBACK below is only used if no CORRECTNESS file is
# readable (fresh checkout without round artifacts).
#
# Registry-size CEILING (governance, r12): the registry stays at or under
# 271 keys so the stalest-stamp age stays within the pytest-pinned bound
# of ceil(N/50)+1 rounds (tests/test_entry_contract.py). Every key added
# past the ceiling must be paid for by RETIRING a stage-subsumed key to
# pytest-only coverage in the same commit — a retired key's operator keeps
# a direct unit test, the subsuming composite keeps the driver oracle, and
# the retirement is recorded as a "RETIRED KEY" comment at the old
# registration site (r12 retired jaccard_pairs, url_domain_features,
# url_canonicalize, simhash_band_pairs and added language_id_profile,
# quality_threshold_sweep, avro_roundtrip_by_source,
# ccnet_perplexity_buckets within the ceiling, then retired
# events_distinct_users_hll — native-sketch path pytest-pinned, portable
# twin keeps the stronger full-value oracle — to pay for
# mixture_epoch_schedule, and the 4-language stopword `language_id` toy
# — subsumed by language_id_profile — to pay for
# frontier_politeness_schedule; N = 271).


def _driver_green_rounds() -> dict[str, int]:
    """Map key -> round of its LATEST driver row, for keys whose latest row
    is fully green.

    Green = rows_match and schema_match and hash_match-not-False (rows-only
    keys have no hash). The LATEST row decides: a key that was green in an
    earlier round but erred or failed on its most recent driver run drops
    out of this map entirely, so it rotates back to the verification front
    AND re-enters the pytest parity suite automatically.
    """
    import glob
    import json as _json
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, tuple[int, bool]] = {}  # key -> (round, is_green)
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = _json.load(f)
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            if not isinstance(row, dict):
                continue
            is_green = (not row.get("err") and row.get("rows_match")
                        and row.get("schema_match")
                        and row.get("hash_match") is not False)
            if rnd >= latest.get(key, (-1, False))[0]:
                latest[key] = (rnd, bool(is_green))
    return {k: rnd for k, (rnd, ok) in latest.items() if ok}


_VERIFY_FALLBACK = [
    # round-2 defects, fixed this round — collect the green stamp
    "json_extract_props_sum",       # oracle dtype pinned to BIGINT
    "price_quartiles_approx",       # exploded to hashable scalar rows
    # never-stamped oracle-backed keys (round-2 additions past position 50)
    "unigram_surprisal_score",
    "streaming_enrich_segment_totals",
    "retention_cohorts",
    "funnel_conversion",
    "pack_sequences",
    "chunk_documents",
    "weighted_sample",
    "bm25_search",
    "vocab_overlap_langs",
    "per_source_cap",
    "doc_length_histogram",
    "line_dedup_reconstruct",
    "split_assign_counts",
    "token_entropy_score",
    "bpe_pair_counts",
    "phrase_search",
    "bloom_semi_join_lineitem",
    "scd2_point_in_time_join",
    "orc_roundtrip_by_source",
    "rolling_active_users_7d",
    "part_cooccurrence_top",
    "streaming_daily_actives",
    "window_analytics_suite",
    "fuzzy_vocab_pairs",
    "dedup_exact_seeded",
    "sql_interface_demo",
    "hybrid_search_rrf",
    "bfs_hops",
    "event_trigrams_top",
    "snapshot_diff_cdc",
    "lineitem_stats_moments",
    "order_key_skew_report",
    "table_checksum_documents",
    "events_robust_outliers",
    "pii_detection_report",
    "catalog_table_stats",
    # newly oracle-backed this round (was rows-only)
    "pagerank_top",
    # round-3 analytic-SQL additions
    "ntile_customer_spend",
    "median_price_by_brand",
    "argmax_supplier_per_nation",
    "monthly_revenue_trend",
    "regexp_count_terms",
    "array_tag_set_ops",
    "top3_parts_per_brand",
    "nation_market_share",
    "events_time_heatmap",
    "orders_year_quarter_rollup",
    "string_normalize_suite",       # position 51: in-suite parity covers it
    "label_prop_communities",       # newly oracle-backed (unrolled-CTE LPA)
    "graph_core_numbers",           # newly oracle-backed (unrolled h-index)
    "cms_word_counts",              # newly oracle-backed (portable md5 CMS)
    "doc_fingerprint",              # newly oracle-backed (portable md5 XOR)
    "minhash_lsh_dedup",            # newly oracle-backed (portable MinHash)
    "simhash_dedup",                # newly oracle-backed (portable SimHash)
    "near_dup_drop",                # newly oracle-backed (MinHash + CC CTE)
    "ann_lsh_pairs",                # newly oracle-backed (literal hyperplanes)
    "pretraining_pipeline_stats",   # newly oracle-backed (full composite)
    "embed_documents_fallback",     # newly oracle-backed (shape/norm contract)
    "generate_tags_fallback",       # newly oracle-backed (count contract)
    "streaming_user_state_totals",  # new: applyInPandasWithState vs batch
    "ivf_knn",                      # newly oracle-backed (md5-min centroids)
    # round-3 second wave: function-matrix certification (all oracle-backed)
    "events_moving_avg",
    "customer_first_last_order",
    "string_funcs_matrix",
    "supplier_names_rollup",
    "events_bool_aggs",
    "orders_null_semantics",
    "lineitem_price_bands",
    "orders_multi_distinct",
    "customer_full_join_orders",
    "orders_date_arithmetic",
    "events_timestamp_parts",
    "lineitem_numeric_funcs",
    "orders_grouping_id_rollup",
    "lineitem_regression",
    # round-3 third wave (all oracle-backed)
    "doc_token_hof_suite",
    "doc_tokens_posexplode",
    "pivot_event_multi_agg",
    "docs_metrics_unpivot",
    "customer_last3_orders_csv",
    "regexp_capture_rewrite",
    "orders_bit_ops",
    "docs_hash_suite",
    "array_ops_extended",
    # formerly rows-only entries (contract-oracled in round 5) — kept at
    # the back of the static fallback; the live ordering derives from
    # CORRECTNESS files anyway
    "pq_knn",
]


def _ordered_keys() -> list[str]:
    green = _driver_green_rounds()
    if not green:  # fresh checkout without round artifacts: static fallback
        head = [k for k in _VERIFY_FALLBACK if k in _REGISTRY]
        return head + [k for k in _REGISTRY if k not in set(head)]
    keys = list(_REGISTRY)
    oracle_unstamped = [k for k in keys
                        if _REGISTRY[k][1] is not None and k not in green]
    rows_only_unstamped = [k for k in keys
                           if _REGISTRY[k][1] is None and k not in green]
    stamped = sorted((k for k in keys if k in green),
                     key=lambda k: (green[k], keys.index(k)))
    return oracle_unstamped + rows_only_unstamped + stamped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _REGISTRY[k][0] for k in _ordered_keys()}


def oracle_sql() -> dict[str, str]:
    return {k: _REGISTRY[k][1] for k in _ordered_keys()
            if _REGISTRY[k][1] is not None}


def maintenance_split() -> dict[str, Callable]:
    """Two-phase factories for bench.py's MAINTENANCE section (VERDICT r9
    #2): each entry maps a maintenance key to ``phases(spark, sf_dir) ->
    (build, op)`` where ``build()`` materializes the persisted index from
    scratch (high-variance many-small-writes setup) and ``op()`` returns
    the DataFrame of the maintenance path actually under measurement
    (delete/stats/probe). bench.py times the phases separately so a real
    op-path regression can't hide inside build noise."""
    return {
        "lsh_index_delete": _lsh_index_delete_phases,
        "lsh_index_stats": _lsh_index_stats_phases,
        "ivf_index_delete": _ivf_index_delete_phases,
        "ivf_index_stats": _ivf_index_stats_phases,
        "dhash_index_incremental_dedup": _dhash_index_incremental_phases,
        "video_frame_dedup_contract": _video_frame_dedup_phases,
        "video_clip_dedup_contract": _video_clip_dedup_phases,
        "audio_clip_dedup_contract": _audio_clip_dedup_phases,
        "crawl_curation_stream_twin": _crawl_stream_phases,
    }


if __name__ == "__main__":
    from thewhisperdb_spark.session import get_spark

    spark = get_spark()
    df = entry(spark)
    df.show(5)
    print("queries:", len(queries()), "oracles:", len(oracle_sql()))
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    for k, fn in queries().items():
        print(k, fn(spark, sf).count())
