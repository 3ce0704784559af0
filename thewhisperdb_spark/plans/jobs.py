"""Composite job pipelines (SURVEY §2.7 G5-G7, §3.3): the reference's
request-triggered batch jobs re-expressed as single declarative plans.

Key semantic split the reference encodes in two different code paths
(SURVEY §7 "replace-vs-merge"):
- ``run_clustering`` OVERWRITES matched nodes' links with the new similarity
  edges (``src/embedding/EmbeddingService.cpp:177-187`` replaces LinkedNodes);
- ``relink_by_tags`` MERGES new edges into existing ones
  (``src/tagging/TagService.cpp:136-153``, ``EmbeddingService.cpp:117-134``).

Where the reference loops per node (one J4 query per node, one full-DB save
per write), these run ONE self-join / ONE aggregation for the whole table —
the at-scale shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thewhisperdb_spark.functions.llm import Embedder, embed_missing
from thewhisperdb_spark.operators.graph import (
    clusters_from_pairs,
    links_view,
    undirect,
)
from thewhisperdb_spark.operators.tags import jaccard_pairs
from thewhisperdb_spark.operators.vectors import similar_pairs


def _collect_links(edges: DataFrame) -> DataFrame:
    """(id, linked_nodes sorted array) from a directed edge set."""
    return (edges.groupBy(F.col("src").alias("id"))
            .agg(F.array_sort(F.collect_set("dst")).alias("linked_nodes")))


def _merge_pairs(nodes: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """MERGE the (a, b) pairs into ``linked_nodes`` both ways: union-distinct
    with the existing links (U1), sorted; a node with no link gets []."""
    new_edges = undirect(pairs.select(F.col("a").alias("src"),
                                      F.col("b").alias("dst")))
    all_edges = links_view(nodes, id_col).union(new_edges).distinct()
    return (nodes.alias("n")
            .join(_collect_links(all_edges).alias("a"),
                  F.col("n." + id_col) == F.col("a.id"), "left")
            .select(*[F.col("n." + c) for c in nodes.columns if c != "linked_nodes"],
                    F.coalesce(F.col("a.linked_nodes"),
                               F.array().cast("array<long>"))
                    .alias("linked_nodes")))


def run_clustering(nodes: DataFrame, threshold: float = 0.75,
                   embedder: Embedder | None = None, dim: int = 64,
                   text_col: str = "title", id_col: str = "id") -> dict:
    """G7 clustering job (``src/embedding/EmbeddingService.cpp:140-193``):
    embed-missing -> cosine threshold pairs -> connected components ->
    REPLACE matched nodes' links -> stats.

    Returns {"nodes": new nodes DF, "labels": (id, component),
    "stats": one-row DF (nodesProcessed, embeddingsGenerated, linksCreated,
    clustersFound)} — linksCreated counts undirected pairs, the ÷2 of the
    reference's bidirectional bookkeeping (``EmbeddingService.cpp:189-191``).
    """
    n_missing = nodes.filter(
        F.col("embedding").isNull() | (F.size("embedding") == 0)).count()
    if embedder is not None and n_missing:
        nodes = embed_missing(nodes, text_col, embedder, dim)
    embedded = nodes.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    pairs = similar_pairs(embedded, threshold, id_col=id_col,
                          vec_col="embedding").localCheckpoint(eager=True)
    labels = clusters_from_pairs(embedded.select(F.col(id_col).alias("id")),
                                 pairs)
    new_adj = _collect_links(
        undirect(pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))))
    # REPLACE semantics: matched nodes get exactly the new edge set; nodes
    # with no new edges keep their old links untouched (the reference only
    # writes back nodes that appear in the new adjacency)
    merged = (nodes.alias("n")
              .join(new_adj.alias("a"), F.col("n." + id_col) == F.col("a.id"), "left")
              .select(*[F.col("n." + c) for c in nodes.columns if c != "linked_nodes"],
                      F.coalesce(F.col("a.linked_nodes"), F.col("n.linked_nodes"))
                      .alias("linked_nodes")))
    n_links = pairs.count()
    n_clusters = (labels.groupBy("component").count()
                  .filter(F.col("count") > 1).count())
    stats = nodes.sparkSession.createDataFrame(
        [(nodes.count(), n_missing if embedder is not None else 0,
          n_links, n_clusters)],
        "nodesProcessed long, embeddingsGenerated long, "
        "linksCreated long, clustersFound long")
    return {"nodes": merged, "labels": labels, "stats": stats}


def relink_by_embedding(nodes: DataFrame, threshold: float = 0.75,
                        id_col: str = "id") -> DataFrame:
    """G6 merge-mode embedding relink (``src/embedding/EmbeddingService.cpp:
    86-138`` -> ``updateLinks`` ``:117-134``): cosine threshold pairs (J6)
    over the embedded nodes -> undirected edges -> MERGED into existing
    ``linked_nodes`` (union-distinct, U1).

    This is the merge-preserving twin of ``run_clustering``'s REPLACE path
    (SURVEY §7's replace-vs-merge correctness trap): a node's pre-existing
    links always survive here, whereas ``run_clustering`` overwrites the
    link set of every node matched by the new adjacency.

    Returns the new nodes DataFrame."""
    embedded = nodes.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    pairs = similar_pairs(embedded, threshold, id_col=id_col,
                          vec_col="embedding")
    return _merge_pairs(nodes, pairs, id_col)


def relink_by_tags(nodes: DataFrame, threshold: float = 0.3,
                   id_col: str = "id") -> DataFrame:
    """G5 batch tag-relink (``src/tagging/TagService.cpp:136-167``): one
    Jaccard threshold self-join over all tagged nodes, MERGED into existing
    links (union-distinct, ``U1``) — vs the reference's per-node loop that
    re-runs J4 once per node (quadratic in queries).

    Returns the new nodes DataFrame."""
    pairs = jaccard_pairs(nodes, id_col=id_col, tags_col="tags",
                          threshold=threshold)
    return _merge_pairs(nodes, pairs, id_col)
