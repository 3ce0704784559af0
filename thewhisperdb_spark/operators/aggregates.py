"""Counts and aggregations (SURVEY §2.4, A1-A8).

The reference only counts (``src/core/GraphDB.cpp:195-230``) and builds tag
histograms per cluster (``src/tagging/TagService.cpp:199-238``). All shapes
here are hash aggregates with map-side partial aggregation — Spark emits
partial_count/partial_sum before the shuffle, so the shuffled volume is
O(groups), not O(rows): the property that makes these safe at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def count_nodes(df: DataFrame) -> DataFrame:
    """A1/A2 as a 1-row DataFrame (callers that need the scalar use .count())."""
    return df.agg(F.count(F.lit(1)).alias("cnt"))


def tag_histogram(df: DataFrame, tags_col: str = "tags",
                  group_cols: tuple[str, ...] = ()) -> DataFrame:
    """A4: per-(group,) tag occurrence counts via explode + hash-agg
    (``src/tagging/TagService.cpp:199-213``)."""
    exploded = df.select(*group_cols, F.explode(F.col(tags_col)).alias("tag"))
    return exploded.groupBy(*group_cols, "tag").agg(F.count(F.lit(1)).alias("cnt"))


def shared_tags_per_cluster(nodes_with_cluster: DataFrame,
                            tags_col: str = "tags",
                            cluster_col: str = "cluster_id") -> DataFrame:
    """A5: within each multi-node cluster keep tags occurring >= 2 times;
    a single-node cluster keeps all its tags (``src/tagging/TagService.cpp:225-238``).

    Returns (cluster_id, tag) rows.
    """
    sizes = nodes_with_cluster.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("_csize"))
    hist = tag_histogram(nodes_with_cluster, tags_col, (cluster_col,))
    joined = hist.join(sizes, cluster_col)
    kept = joined.filter((F.col("_csize") == 1) | (F.col("cnt") >= 2))
    return kept.select(cluster_col, "tag").distinct()


def cluster_sizes(nodes_with_cluster: DataFrame,
                  cluster_col: str = "cluster_id") -> DataFrame:
    """A6: clusters sorted by size desc, renumbered 1..n
    (``src/tagging/TagService.cpp:243-252``). row_number over a global window
    is single-partition — fine for cluster *summaries* (#clusters << #rows);
    never applied to raw rows."""
    from pyspark.sql import Window

    sizes = nodes_with_cluster.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("size"))
    w = Window.orderBy(F.col("size").desc(), F.col(cluster_col).asc())
    return sizes.withColumn("cluster_rank", F.row_number().over(w))


def value_histogram(df: DataFrame, value_col: str, bucket_width: int,
                    n_buckets: int) -> DataFrame:
    """Fixed-width histogram of a numeric column with a clamped overflow
    bucket — corpus length/size profiling. Pure partial-aggregating
    groupBy on a derived key: map-side combine reduces every partition to
    <= n_buckets rows before the (tiny) shuffle, so cost is one scan at
    any corpus size.

    Returns (bucket, n, total, min_v, max_v), bucket = floor(v / width)
    clamped to n_buckets - 1.
    """
    v = F.col(value_col)
    bucket = F.least(F.floor(v.cast("double") / F.lit(bucket_width)),
                     F.lit(n_buckets - 1)).cast("long")
    return (df.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(v).cast("long").alias("total"),
                 F.min(v).cast("long").alias("min_v"),
                 F.max(v).cast("long").alias("max_v")))


# ---- count-min sketch ------------------------------------------------------
# Mergeable frequency sketch (Cormode & Muthukrishnan 2005): d hash rows ×
# w buckets; est(t) = min_i sketch[i][h_i(t)]. Overestimates only; error
# <= e*N/w with prob 1 - e^-d. Stored SPARSE as (row_idx, bucket, cnt) —
# at 100 TB each executor partial-aggregates its token stream down to
# <= d*w rows before the shuffle, and sketches from different days/shards
# merge by union + sum, which is the whole point of a sketch pipeline.


def _cms_keys(term: Column, depth: int, width: int) -> Column:
    """d (row_idx, bucket) pairs per term; bucket = first 32 bits of
    md5(term || '|' || row) mod w. md5 (not xxhash64) on purpose: the bucket
    function is engine-portable, so a sketch built here can be probed,
    merged, or re-derived by any engine with md5 — and the whole CMS path is
    oracle-checkable. Still JVM-side, codegen'd."""
    return F.array(*[
        F.struct(F.lit(i).alias("row_idx"),
                 F.pmod(F.conv(F.substring(
                     F.md5(F.concat_ws("|", term, F.lit(str(i)))), 1, 8),
                     16, 10).cast("long"), F.lit(width))
                 .cast("int").alias("bucket"))
        for i in range(depth)
    ])


def cms_build(df: DataFrame, term_col: str, depth: int = 4,
              width: int = 1024) -> DataFrame:
    """Build the sparse sketch (row_idx, bucket, cnt) from a term stream."""
    return (df.select(F.explode(_cms_keys(F.col(term_col), depth, width))
                      .alias("k"))
            .groupBy(F.col("k.row_idx").alias("row_idx"),
                     F.col("k.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches of identical (depth, width): union + sum."""
    return (a.unionByName(b).groupBy("row_idx", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt")))


def cms_estimate(sketch: DataFrame, terms: DataFrame, term_col: str = "term",
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-estimate each query term: min over the d bucket counters.
    The query side joins the sketch on (row_idx, bucket) — sketch side is
    <= d*w rows, always broadcastable by construction."""
    keyed = terms.select(
        term_col, F.explode(_cms_keys(F.col(term_col), depth, width))
        .alias("k")).select(term_col, "k.row_idx", "k.bucket")
    return (keyed.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
            .groupBy(term_col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
                 .alias("est")))


# ---- engine-portable HyperLogLog ------------------------------------------
#
# Same portability treatment the CMS path got: every hash is md5-derived, so
# any engine with md5 re-derives identical registers, and the ESTIMATE is
# bit-identical too — the per-group register sum Σ 2^(53-rho) is an exact
# 64-bit integer (rho in [1, 53] -> integer terms, <= 2^61 total), so no
# float summation order can perturb it; the only float math is one fixed
# expression over that integer. Registers merge by MAX, the sketch property
# that makes HLL a partial aggregate at 100 TB (union sketches across
# days/partitions without touching raw keys).

_HLL_2_53 = 1 << 53


def hll_registers(df: DataFrame, key_col: str,
                  group_cols: tuple[str, ...] = (), b: int = 8) -> DataFrame:
    """Sparse register table (group..., bucket, m_reg): bucket = low ``b``
    bits of the 60-bit md5-derived key hash, m_reg = max over elements of
    rho(remaining 60-b bits) where rho = leading-zero count + 1. Absent
    buckets mean register 0. One partial-aggregating shuffle."""
    m = 1 << b
    h = md5_hash60(key_col)
    w = F.shiftright(h, b)
    width = 60 - b
    rho = F.when(w == F.lit(0), F.lit(width + 1)).otherwise(
        F.lit(width + 1) - F.length(F.bin(w)))
    # NULL keys are excluded up front — COUNT(DISTINCT) ignores NULLs, and
    # an unfiltered NULL would mint a (NULL, NULL) register row that skews
    # n_present without contributing to the sum
    return (df.filter(F.col(key_col).isNotNull())
            .select(*group_cols,
                    h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
                    rho.cast("int").alias("rho"))
            .groupBy(*group_cols, "bucket")
            .agg(F.max("rho").alias("m_reg")))


def hll_merge(a: DataFrame, b_regs: DataFrame,
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Union two register tables of the same (b): element-wise MAX.
    Refuses register tables whose columns don't match ``group_cols`` —
    merging grouped registers with a forgotten group_cols would silently
    MAX across groups and return a plausible-looking union-of-everything
    estimate."""
    want = {*group_cols, "bucket", "m_reg"}
    for side in (a, b_regs):
        if set(side.columns) != want:
            raise ValueError(
                f"register table columns {sorted(side.columns)} don't match "
                f"group_cols={list(group_cols)} (expected {sorted(want)})")
    return (a.unionByName(b_regs)
            .groupBy(*group_cols, "bucket")
            .agg(F.max("m_reg").alias("m_reg")))


def hll_estimate(registers: DataFrame,
                 group_cols: tuple[str, ...] = (), b: int = 8) -> DataFrame:
    """Per-group cardinality estimate from a register table, with the
    standard alpha_m bias constant and the small-range linear-counting
    correction. Deterministic across engines: the register sum is an exact
    integer and the float expression over it is written identically in the
    DuckDB oracle twin. Returns (group..., n_est) rounded to 4."""
    if b != 8:
        raise ValueError("estimate constants are spelled for b=8 (m=256); "
                         "mirror them in any oracle before changing b")
    m = 1 << b
    per = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                     "CAST(53 - m_reg AS INT))")).alias("sum_present"))
    sum_int = (F.col("sum_present")
               + (F.lit(m) - F.col("n_present")) * F.lit(_HLL_2_53))
    v = F.lit(m) - F.col("n_present")
    e_raw = (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
             * F.lit(float(m * m)) * F.lit(float(_HLL_2_53))
             / sum_int.cast("double"))
    est = F.when((e_raw <= F.lit(2.5 * m)) & (v > F.lit(0)),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
                 ).otherwise(e_raw)
    return per.select(*group_cols, F.round(est, 4).alias("n_est"))


def row_canon_hash60(*cols: str) -> Column:
    """Per-row canonical 60-bit content hash: md5 of the '|'-joined
    string-cast columns (nulls -> a sentinel), through md5_hash60. The
    shared definition under table_checksum AND sources.textio's shard
    manifest — the manifest(export) == manifest(source) audit only holds
    while both use THIS expression."""
    canon = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
               for c in cols])
    return md5_hash60(canon)


def table_checksum(df: DataFrame, *cols: str) -> DataFrame:
    """Order-insensitive content checksum over the given columns: per row,
    md5 of the canonical '|'-joined string (nulls -> a sentinel), the first
    60 bits parsed to a long, SUM-aggregated in decimal (not XOR — XOR
    cancels any row occurring an even number of times, so two tables with
    equal counts but different duplicated rows could collide; a sum keeps
    duplicates contributing). Sum is commutative/associative, so the
    checksum is independent of partitioning, ordering, and engine — the
    cheap anti-entropy check for replication, migration, and snapshot-copy
    verification. Decimal(38,0) headroom covers 2^66 rows of 60-bit hashes
    without overflow; emitted as a string for engine-neutral rendering.
    One partial-aggregating scan, tiny fixed state per partition.
    Returns (n_rows, checksum)."""
    return df.select(row_canon_hash60(*cols).alias("_h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_h").cast("decimal(38,0)")).cast("string")
        .alias("checksum"))


# ---- engine-portable KMV (bottom-k / k-minimum-values) distinct sketch ----
#
# The third member of the sketch family next to CMS and HLL: keeps the k
# smallest md5-derived 60-bit hashes of the DISTINCT keys per group.
# Estimate = (k-1) / (h_k / 2^60) by uniform order statistics; below k
# distinct keys the sketch IS the exact distinct set. Unlike HLL it also
# supports intersection/Jaccard estimates between sketches (min-wise
# hashing over the shared hash space), which is why production systems
# carry both. Every quantity is integer until one final float expression,
# so an oracle re-derives estimates bit-for-bit.

_KMV_2_60 = float(1 << 60)


def md5_hash60(col: Column | str) -> Column:
    """THE engine-portable 60-bit hash: low 15 hex chars of md5(string).
    Every hashed artifact that an oracle (or another engine) must
    re-derive — KMV sketches, HLL registers, table checksums, shard
    assignment, the streaming KMV state — goes through this ONE
    definition; DuckDB twin: CAST('0x' || substr(md5(x), 1, 15) AS
    BIGINT). Editing it is a persisted-format break (see CHANGELOG)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15),
                  16, 10).cast("long")


def _kmv_hash(key_col: str):
    return md5_hash60(key_col)


def kmv_sketch(df: DataFrame, key_col: str,
               group_cols: tuple[str, ...] = (), k: int = 256) -> DataFrame:
    """(group..., h, rk): the k smallest distinct key hashes per group,
    rank-numbered 1..k. NULL keys are excluded (COUNT DISTINCT semantics).

    Shape at scale: distinct() partial-aggregates map-side, then the
    row_number window sorts WITHIN each group — Spark's window sort is
    spillable, so hub groups cost time, not memory, and the rank<=k filter
    bounds everything downstream to k rows per group. A global (ungrouped)
    sketch goes through the same window with a constant partition key; for
    very large ungrouped inputs prefer sort+limit (TakeOrdered) on the
    hashed projection — same result, no single-partition window."""
    dist = (df.filter(F.col(key_col).isNotNull())
            .select(*group_cols, _kmv_hash(key_col).alias("h"))
            .distinct())
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("h")
    return (dist.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def kmv_merge(a: DataFrame, b: DataFrame,
              group_cols: tuple[str, ...] = (), k: int = 256,
              built_k: int | None = None) -> DataFrame:
    """Union two sketches, re-rank, re-cut at ``k``. sketch(A) ⊎
    sketch(B) == sketch(A ∪ B) exactly (the k smallest of the union are
    among the k smallest of each side), which is what makes KMV a partial
    aggregate across days/partitions. Column sets must match — same guard
    rationale as hll_merge.

    ``k`` must be <= the k the inputs were BUILT with (merging wider
    sketches down is valid; merging k'=128 sketches at k=256 would mint
    ranks 129..256 that are NOT the union's true order statistics, and
    that truncation is indistinguishable from an exhausted small group in
    the data alone). Pass ``built_k`` when known and the mismatch raises
    instead of silently corrupting the estimate."""
    if built_k is not None and built_k < k:
        raise ValueError(
            f"merging sketches built with k={built_k} at k={k} would "
            f"fabricate order statistics beyond rank {built_k}; re-cut "
            f"at k <= {built_k} instead")
    want = {*group_cols, "h", "rk"}
    for side in (a, b):
        if set(side.columns) != want:
            raise ValueError(
                f"sketch columns {sorted(side.columns)} don't match "
                f"group_cols={list(group_cols)} (expected {sorted(want)})")
    uni = (a.select(*group_cols, "h")
           .unionByName(b.select(*group_cols, "h")).distinct())
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("h")
    return (uni.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def kmv_estimate(sketch: DataFrame,
                 group_cols: tuple[str, ...] = (), k: int = 256) -> DataFrame:
    """Per-group distinct-count estimate: exact below k (the sketch holds
    every distinct hash), else (k-1) * 2^60 / h_k with h_k the kth
    smallest hash — h_k is an exact integer, so the single float division
    is engine-stable. Returns (group..., n_est) rounded to 4."""
    per = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("h_k"))
    est = F.when(
        F.col("n_hashes") < k, F.col("n_hashes").cast("double")
    ).otherwise(
        F.round(F.lit((k - 1) * _KMV_2_60) / F.col("h_k").cast("double"), 4))
    return per.select(*group_cols, est.alias("n_est"))


def kmv_pairwise_jaccard(sketch: DataFrame, group_col: str,
                         k: int = 256) -> DataFrame:
    """Jaccard similarity estimate between every pair of groups' distinct
    key sets, from their KMV sketches alone — the capability HLL cannot
    provide and the reason production systems carry both. For a pair
    (a, b): take the k smallest hashes of S_a ∪ S_b (computable from the
    two sketches — the union's bottom-k is within each side's bottom-k),
    and estimate J = |{h in bottom-k(union)} ∩ S_a ∩ S_b| / |bottom-k|.
    That is min-wise hashing: the bottom-k of the union is a uniform
    sample of it, so the co-membership fraction is an unbiased Jaccard
    estimator with RMSE ~ 1/sqrt(k). Ratio of two exact integers — the
    single float division is engine-stable; rounded to 6.

    Plan shape: the group list is sketch-sized (tiny) so the pair frame
    broadcasts; per pair the state is <= 2k sketch rows. Cost is
    O(|groups|² · k) — pairwise over groups, not over keys, which is the
    entire point of sketching. Returns (a, b, n_union_sample, n_both,
    jaccard_est) for a < b."""
    g = F.col(group_col)
    groups = sketch.select(g.alias("a")).distinct()
    pairs = (groups.join(groups.withColumnRenamed("a", "b"),
                         F.col("a") < F.col("b")))
    sk = sketch.select(g.alias("t"), "h")
    # two HASH-joinable equi-joins instead of one OR-condition join: the
    # disjunction would plan as BroadcastNestedLoopJoin — every sketch row
    # tested against every pair, O(|groups|³·k) — the exact scale-killer
    # shape the plan-gate test bans. Two equi-joins + union keep the
    # documented O(|groups|²·k).
    side_a = (pairs.join(F.broadcast(sk), F.col("t") == F.col("a"))
              .select("a", "b", "h", F.lit(1).alias("in_a"),
                      F.lit(0).alias("in_b")))
    side_b = (pairs.join(F.broadcast(sk), F.col("t") == F.col("b"))
              .select("a", "b", "h", F.lit(0).alias("in_a"),
                      F.lit(1).alias("in_b")))
    memb = (side_a.unionByName(side_b)
            .groupBy("a", "b", "h")
            .agg(F.max("in_a").alias("in_a"),
                 F.max("in_b").alias("in_b")))
    w = Window.partitionBy("a", "b").orderBy("h")
    top = (memb.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= k))
    return (top.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_union_sample"),
                 F.sum((F.col("in_a") * F.col("in_b")).cast("long"))
                 .alias("n_both"))
            .select("a", "b", "n_union_sample", "n_both",
                    F.round(F.col("n_both").cast("double")
                            / F.col("n_union_sample").cast("double"), 6)
                    .alias("jaccard_est")))


def kmv_intersection_estimate(sk_a: DataFrame, sk_b: DataFrame,
                              k: int = 256) -> DataFrame:
    """Distinct-key INTERSECTION size from two ungrouped KMV sketches —
    what a query planner wants before choosing a join strategy: how many
    join keys actually match, without scanning either table again.
    bottom-k of the union (derivable from the sketches), then
    |A ∩ B| ≈ co-membership fraction × union-size estimate, both factors
    exact integers/one float expression — deterministic, so the estimate
    itself is oracle-checkable. Returns one row
    (n_union_sample, n_both, union_est, intersection_est)."""
    ua = sk_a.select("h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    ub = sk_b.select("h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    memb = (ua.unionByName(ub).groupBy("h")
            .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")))
    w = Window.partitionBy().orderBy("h")
    top = (memb.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= k))
    agg = top.agg(
        F.count(F.lit(1)).alias("n_union_sample"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias("n_both"),
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("h_k"))
    union_est = F.when(
        F.col("n_union_sample") < k,
        F.col("n_union_sample").cast("double")
    ).otherwise(
        F.round(F.lit((k - 1) * _KMV_2_60) / F.col("h_k").cast("double"), 4))
    return (agg.withColumn("union_est", union_est)
            .select("n_union_sample", "n_both", "union_est",
                    F.round(F.col("n_both").cast("double")
                            / F.col("n_union_sample").cast("double")
                            * F.col("union_est"), 4)
                    .alias("intersection_est")))
