"""Tag algebra: membership, shared-tag joins, Jaccard similarity joins
(SURVEY §2.3 J1-J4, §2.6 U1-U3, tag bank A8).

The reference runs these as per-node O(n) / O(n²) loops
(``src/core/GraphDB.cpp:508-603``). Spark-first shape: explode the tag array
into an inverted index (tag -> node) once, then every tag join is an equi-join
on ``tag`` — shuffle on the tag key, no cross product. Jaccard needs only
|A∩B| (co-occurrence count of distinct tags) and the two set sizes:
J(A,B) = c / (|A| + |B| - c), so the whole threshold self-join is
explode -> self-equi-join -> count -> arithmetic — no array comparison of
pairs at all, and it scales linearly in the inverted-index fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from thewhisperdb_spark.schemas import sql_literal, sql_name


def tag_index(nodes: DataFrame, id_col: str = "id", tags_col: str = "tags") -> DataFrame:
    """Inverted index (id, tag) with distinct tags per node."""
    return nodes.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.col(tags_col))).alias("tag"),
    )


def nodes_by_tag(nodes: DataFrame, tag: str, tags_col: str = "tags") -> DataFrame:
    """J1 ``findNodesByTag`` (``src/core/GraphDB.cpp:508-517``), one
    ``filter`` of SQL text."""
    return nodes.filter(f"array_contains({sql_name(tags_col)}, {sql_literal(tag)})")


def shared_tag_partners(nodes: DataFrame, node_id: int,
                        id_col: str = "id", tags_col: str = "tags") -> DataFrame:
    """J2 ``findNodesWithSharedTags`` (``src/core/GraphDB.cpp:519-546``):
    distinct other nodes sharing >= 1 tag with ``node_id``.

    The probe side is one node -> its tag set is broadcast; the join is a
    broadcast semi-join against the inverted index, no shuffle of the big side.
    """
    idx = tag_index(nodes, id_col, tags_col)
    probe = idx.filter(F.col("id") == node_id).select(F.col("tag"))
    return (
        idx.join(F.broadcast(probe), "tag")
        .filter(F.col("id") != node_id)
        .select("id")
        .distinct()
    )


def jaccard_pairs(nodes: DataFrame, id_col: str = "id", tags_col: str = "tags",
                  threshold: float | None = None) -> DataFrame:
    """J3/J4 kernel: all unordered pairs (a < b) of nodes with >= 1 shared tag,
    with exact Jaccard over distinct tag sets.

    Returns (a, b, inter, union_size, jaccard). Empty-tag nodes never appear —
    same exclusion as the reference (``src/core/GraphDB.cpp:583-585``). The
    duplicate-sensitive quirk of the reference's intersection
    (``src/core/GraphDB.cpp:548-574``) is irrelevant on distinct tag sets,
    which is what its normalized tags are in practice (SURVEY §7).

    Execution: standard set-similarity-join reductions keep this off the
    naive Σ df(tag)² cliff (which explodes on heavy-hitter tags — a small
    vocabulary makes the plain inverted-index join quadratic):

    1. **Distinct-set grouping** (always): identical tag sets are grouped
       first, the pairwise kernel runs over *distinct sets*, and doc pairs
       are expanded at the end (same-set groups pair at jaccard 1.0 without
       any join).
    2. **Adaptive set encoding**: if the tag vocabulary fits in 64 bits the
       sets are dictionary-encoded to long bitmasks — intersection becomes
       ``bit_count(a & b)`` and the distinct-set pair join is a broadcast
       nested loop over longs (columnar-engine dictionary trick). Otherwise,
       with a threshold, **prefix filtering** (PPJoin-family): J(A,B) >= t
       requires the |A| - ceil(t*|A|) + 1 rarest tokens of A to overlap B's
       prefix, so only that prefix is indexed and candidates are verified
       with an exact array intersect; without a threshold, the full inverted
       index over distinct sets.

    OUTPUT-size caveat at corpus scale: a group of k identical sets emits
    its k·(k-1)/2 same-set pairs — inherent to the all-pairs contract, not
    to this plan. If identical docs can number in the millions, run
    ``dedup.drop_exact_duplicates`` first (or consume ``near_dup_groups``,
    which reports groups instead of pairs) so the quadratic term never
    materializes.
    """
    tagged = nodes.filter(F.size(F.col(tags_col)) > 0).select(
        F.col(id_col).alias("id"),
        F.array_sort(F.array_distinct(F.col(tags_col))).alias("ts"))
    # 1. group identical sets; sig = stable scalar key for the pair join
    groups = tagged.groupBy("ts").agg(
        F.collect_list("id").alias("ids"),
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("sig"),
    ).localCheckpoint(eager=True)

    # same-set doc pairs: jaccard exactly 1.0
    same = (
        groups.filter(F.col("n") > 1)
        .select(F.size("ts").alias("k"),
                F.explode("ids").alias("a"), F.col("ids"))
        .select("k", "a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.col("k").cast("long").alias("inter"),
                F.col("k").cast("long").alias("union_size"),
                F.lit(1.0).alias("jaccard"))
    )

    tok = groups.select("sig", F.explode("ts").alias("tag"))
    df_rank = tok.groupBy("tag").agg(F.count(F.lit(1)).alias("df"))
    df_rank = df_rank.localCheckpoint(eager=True)
    vocab_size = df_rank.count()  # adaptive-planning decision (cf. AQE)

    if vocab_size <= 64:
        # 2a. bitmask encoding: tag -> bit, set -> OR of bits
        wb = Window.orderBy(F.col("tag").asc())
        bits = df_rank.select("tag", (F.row_number().over(wb) - 1).alias("bit"))
        masked = (
            tok.join(F.broadcast(bits), "tag")
            .groupBy("sig")
            .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("mask"))
        )
        m_a = masked.select(F.col("sig").alias("sa"), F.col("mask").alias("ma"))
        m_b = masked.select(F.col("sig").alias("sb"), F.col("mask").alias("mb"))
        inter = F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
        union = F.bit_count(F.col("ma").bitwiseOR(F.col("mb")))
        set_pairs = (
            m_a.join(F.broadcast(m_b), F.col("sa") < F.col("sb"))
            .select("sa", "sb", inter.cast("long").alias("inter"),
                    union.cast("long").alias("union_size"),
                    (inter.cast("double") / union).alias("jaccard"))
            .filter(F.col("inter") > 0)
        )
    else:
        if threshold is not None:
            # 2b. prefix filter over distinct sets: rarest-first token order
            w = Window.partitionBy("sig").orderBy(
                F.col("df").asc(), F.col("tag").asc())
            prefix_len = (F.size(F.col("ts")) -
                          F.ceil(F.lit(threshold) * F.size(F.col("ts"))) + 1)
            idx = (
                groups.select("sig", "ts", F.explode("ts").alias("tag"))
                .join(df_rank, "tag")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= prefix_len)
                .select("sig", "ts", "tag")
            )
        else:
            # 2c. exact mode: full inverted index over distinct sets
            idx = groups.select("sig", "ts", F.explode("ts").alias("tag"))
        cand = (
            idx.alias("x").join(idx.alias("y"),
                                (F.col("x.tag") == F.col("y.tag"))
                                & (F.col("x.sig") < F.col("y.sig")))
            .select(F.col("x.sig").alias("sa"), F.col("x.ts").alias("ta"),
                    F.col("y.sig").alias("sb"), F.col("y.ts").alias("tb"))
            .dropDuplicates(["sa", "sb"])
        )
        inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
        union = F.size(F.col("ta")) + F.size(F.col("tb")) - inter
        set_pairs = (
            cand.select("sa", "sb", inter.cast("long").alias("inter"),
                        union.cast("long").alias("union_size"),
                        (inter.cast("double") / union).alias("jaccard"))
            .filter(F.col("inter") > 0)
        )
    if threshold is not None:
        set_pairs = set_pairs.filter(F.col("jaccard") >= threshold)

    # expand set pairs back to doc pairs (unordered, a < b by id)
    ga = groups.select(F.col("sig").alias("sa"), F.col("ids").alias("ids_a"))
    gb = groups.select(F.col("sig").alias("sb"), F.col("ids").alias("ids_b"))
    cross = (
        set_pairs.join(ga, "sa").join(gb, "sb")
        .select("inter", "union_size", "jaccard",
                F.explode("ids_a").alias("i"), "ids_b")
        .select("inter", "union_size", "jaccard", "i",
                F.explode("ids_b").alias("j"))
        .select(F.least("i", "j").alias("a"), F.greatest("i", "j").alias("b"),
                "inter", "union_size", "jaccard")
    )
    out = cross.unionByName(same)
    if threshold is not None:
        # same-set pairs are jaccard 1.0 and always pass any threshold <= 1
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def jaccard_partners(nodes: DataFrame, node_id: int, threshold: float = 0.3,
                     id_col: str = "id", tags_col: str = "tags") -> DataFrame:
    """J4 ``findSimilarNodesByTags`` (``src/core/GraphDB.cpp:576-603``, default
    θ=0.3 ``include/core/GraphDB.hpp:51``): partners of one node with
    Jaccard >= θ. Returns (id, jaccard).

    A one-row probe, not the all-pairs join: the node's distinct sorted tag
    set is broadcast and every other tagged node is scored against it in one
    scan, so the cost is O(n) per call. The arithmetic is ``jaccard_pairs``'
    (distinct tag sets, ``inter.cast("double") / union``, ``inter > 0``), so
    both return the same partners and scores. An untagged node has none.
    Built as SQL text: a few JVM calls per operator."""
    idc, tags = sql_name(id_col), sql_name(tags_col)
    nid = sql_literal(node_id, LongType())
    tag_set = f"array_sort(array_distinct({tags}))"
    probe = nodes.filter(f"{idc} = {nid}").selectExpr(f"{tag_set} AS _pts")
    others = nodes.filter(f"{idc} != {nid} AND size({tags}) > 0").selectExpr(
        f"{idc} AS id", f"{tag_set} AS _ts")
    inter = "size(array_intersect(_ts, _pts))"
    union = f"size(_ts) + size(_pts) - {inter}"
    return (others.join(F.broadcast(probe), F.expr("arrays_overlap(_ts, _pts)"))
            .selectExpr("id", f"{inter} AS _inter",
                        f"CAST({inter} AS double) / ({union}) AS jaccard")
            .filter(f"_inter > 0 AND jaccard >= {sql_literal(float(threshold))}")
            .selectExpr("id", "jaccard"))


def tag_bank_union(bank: DataFrame, new_tags: DataFrame) -> DataFrame:
    """A8/U2 tag-bank distinct union (``src/core/GraphDB.cpp:499-506``)."""
    return bank.union(new_tags.select(*bank.columns)).distinct()

