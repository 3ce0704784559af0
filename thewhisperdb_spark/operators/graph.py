"""Graph kernels: adjacency build, connected components, cluster reports
(SURVEY §2.7 G1-G3).

The reference does recursive DFS/BFS over in-memory adjacency
(``src/embedding/Clustering.cpp:55-107``, ``src/tagging/TagService.cpp:169-255``).
The distributed analog is iterative min-label propagation over an edges
DataFrame: each round every vertex adopts the smallest component id among
itself and its neighbors; converges in O(diameter) rounds (alternating
large-star/small-star would give O(log n) — diameter is small for similarity
graphs, so the simple kernel wins on constant factors). ``localCheckpoint``
cuts lineage each round so plans don't grow unboundedly — the standard
iterative-DataFrame pattern.

Connected components finishes on the driver when the symmetrized edge list
fits the deployment's broadcast budget (``operators.broadcast_budget``, at
16 bytes per directed edge): the edges are collected once and the same
min-label propagation with pointer jumping runs over numpy arrays to the
fixpoint (``min_labels``, the one numpy kernel, which near-dedup's
driver-side finish in ``dedup.drop_near_duplicates`` calls too).
Near-dup pair graphs are usually tiny next to the corpus they come from,
and there every distributed round is per-job overhead, not data
(Pregelix, VLDB 2014, makes the same point for small and shrinking
graphs on a dataflow engine). Larger edge lists, or a deployment with
broadcasts disabled, take the distributed rounds.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from thewhisperdb_spark.operators import broadcast_budget, checkpoint_counted


def undirect(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Symmetrize an edge list (both directions), self-loops dropped.

    Emitted as ONE explode over the input rather than fwd.union(rev)
    (optimization r12): a union references ``edges`` twice, and when the
    edge list is itself an expensive subtree (the cosine-pair Python BLAS
    stage feeding every graph key) the whole upstream pipeline executes
    once per branch — Catalyst's ReusedExchange can only dedup identical
    Exchange nodes, not the Python stage above them. The explode scans
    the input once and yields the identical row set."""
    s, d = F.col(src), F.col(dst)
    e = F.explode(F.array(
        F.struct(s.alias("src"), d.alias("dst")),
        F.struct(d.alias("src"), s.alias("dst")))).alias("e")
    return (edges.select(e)
            .select("e.src", "e.dst")
            .filter(F.col("src") != F.col("dst")).distinct())


def links_view(nodes: DataFrame, id_col: str = "id") -> DataFrame:
    """(src, dst) directed edges of the adjacency arrays embedded in
    ``linked_nodes``; NULL or empty arrays contribute no rows."""
    return (nodes.select(F.col(id_col).alias("src"),
                         F.explode_outer("linked_nodes").alias("dst"))
            .filter(F.col("dst").isNotNull()))


def adjacency_lists(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """G1 ``buildAdjacencyList`` (``src/embedding/Clustering.cpp:55-66``):
    (id, neighbors sorted array) from an undirected edge set."""
    und = undirect(edges, src, dst)
    return und.groupBy(F.col("src").alias("id")).agg(
        F.array_sort(F.collect_set("dst")).alias("neighbors"))


def connected_components(vertices: DataFrame, edges: DataFrame,
                         id_col: str = "id", max_iter: int = 50) -> DataFrame:
    """G2/G3 connected components (``src/embedding/Clustering.cpp:68-107``,
    ``src/tagging/TagService.cpp:169-255``): returns (id, component) where
    component = min vertex id in the component. Vertices with no edges are
    singleton components (reference includes them:
    ``src/embedding/Clustering.cpp:97-105``). ``id`` keeps the edge id
    type; ``component`` is long. The edge-touched vertices are labelled by
    ``edge_components``."""
    labels = edge_components(edges, max_iter)
    # singletons: vertices with no edges keep their own id as component
    singles = (vertices.select(F.col(id_col).alias("id"))
               .join(labels.select("id"), "id", "left_anti")
               .select("id", F.col("id").cast("long").alias("component")))
    return labels.unionByName(singles)


def edge_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """(id, component) of the vertices some (src, dst) edge touches, by
    min-label propagation with pointer jumping. The symmetrized edge list
    is materialized once, its row count riding that job. When it fits the
    broadcast budget (16 bytes per directed edge against
    ``operators.broadcast_budget``; a budget of 0 means never) it is
    collected once and ``min_labels`` runs on the driver, returned as a
    local relation. Otherwise each round is one shuffle on the edge key
    and the convergence check is an aggregate (label sum), not a collect
    of data rows. ``max_iter`` bounds only the distributed rounds; the
    local finish always reaches the fixpoint."""
    und, n_edges = checkpoint_counted(undirect(edges))
    budget = broadcast_budget(und.sparkSession)
    if 0 < budget and n_edges * 16 <= budget:
        return _components_local(und)
    return _components_distributed(und, max_iter)


def min_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray,
                                                          np.ndarray]:
    """(vertices, component) of the undirected graph with edges
    src[i]-dst[i], on numpy: the sorted distinct endpoint ids and the
    minimum id of each one's component. Labels are indices into the
    vertex array, so the minimum index is the minimum id; each round
    takes the neighbours' minimum both ways, then jumps every label to
    its representative's, to the fixpoint."""
    verts = np.unique(np.concatenate([src, dst]))
    s = np.searchsorted(verts, src)
    d = np.searchsorted(verts, dst)
    lab = np.arange(len(verts))
    while True:
        prev = lab.copy()
        np.minimum.at(lab, d, lab[s])
        np.minimum.at(lab, s, lab[d])
        lab = lab[lab]
        if np.array_equal(lab, prev):
            return verts, verts[lab]


def _components_local(und: DataFrame) -> DataFrame:
    """(id, component) over the vertices of a materialized symmetric edge
    list, computed on the driver from one collect."""
    import pyarrow as pa

    tbl = und.toArrow()
    verts, comp = min_labels(tbl.column("src").to_numpy(),
                             tbl.column("dst").to_numpy())
    schema = T.StructType([
        T.StructField("id", und.schema["src"].dataType, False),
        T.StructField("component", T.LongType(), False)])
    return und.sparkSession.createDataFrame(
        pa.table({"id": verts, "component": comp.astype(np.int64)}), schema)


def _components_distributed(und: DataFrame, max_iter: int) -> DataFrame:
    """(id, component) over the vertices of a materialized symmetric edge
    list, by distributed rounds."""
    # Iterate ONLY over edge-touched vertices: isolated vertices can never
    # change label, and at scale they are the vast majority (most documents
    # match nothing above threshold). They rejoin as singletons at the end.
    touched = und.select(F.col("src").alias("id")).distinct()
    labels = touched.select("id", F.col("id").cast("long").alias("component"))
    labels = labels.localCheckpoint(eager=True)

    def half_step(cur: DataFrame) -> DataFrame:
        # candidate label for each dst = min over incoming neighbor labels
        nbr_min = (
            und.join(cur.select(F.col("id").alias("src"), "component"),
                     "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        prop = (
            cur.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("component"),
                        F.coalesce(F.col("nbr_component"), F.col("component"))
                        ).alias("component"),
            )
        )
        # path compression (pointer doubling): jump each vertex to its
        # component representative's CURRENT label, collapsing chains in
        # O(log n) rounds instead of O(diameter)
        rep = prop.select(F.col("id").alias("component"),
                          F.col("component").alias("_rep_label"))
        return (
            prop.join(rep, "component", "left")
            .select("id",
                    F.coalesce("_rep_label", "component").alias("component"))
        )

    # Convergence: labels are monotonically non-increasing, so the label
    # SUM is non-increasing and stalls exactly at the fixpoint — an
    # unchanged sum between consecutive rounds means no vertex changed.
    # The sum is collected by an ``observe`` metric ON the checkpoint
    # materialization itself (optimization r13): ONE job per round where
    # the r12 shape paid a checkpoint job + a changed-count join job
    # (the round's only driver-measured regression, 0.80x) and the r11
    # shape paid a checkpoint job + a sum job. A threading variant
    # (_old carried through the half-steps) was also probed r13 and
    # REJECTED: the extra column through half_step's four
    # self-references costs ~56 stages/run (A/B: 70 jobs/176 stages vs
    # this shape's 50/120, rows equal — AB_PROBE_r13.json). decimal(38)
    # keeps the sum exact for arbitrary long ids (ANSI overflow-safe).
    # Two propagate+compress half-steps per materialized round: deeper
    # nesting loses far more in planning/recompute than it saves in job
    # count (a 4-half-step variant measured 16.5s vs 4.8s at sf0.1 —
    # same-session A/B, OPTIMIZATION_r12.md), and a LAZY checkpoint
    # measured 1.5-4x worse across all four kernels (AB_PROBE_r13).
    prev_sum = None
    for _ in range(max(1, (max_iter + 1) // 2)):
        obs = Observation()
        labels = (half_step(half_step(labels))
                  .observe(obs, F.sum(F.col("component")
                                      .cast("decimal(38,0)")).alias("s"))
                  .localCheckpoint(eager=True))
        s = obs.get["s"]
        if s == prev_sum:
            break
        prev_sum = s
    return labels


def bfs_levels(edges: DataFrame, source: int, max_iter: int = 20,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Hop distance from ``source`` over the undirected edge set — frontier-
    expanding BFS as iterative DataFrame joins (the SSSP/reachability kernel
    next to connected_components' min-label loop).

    TWO hops per materialization (the ``connected_components.half_step``
    treatment, VERDICT r11 #2): each round lazily composes hop h (frontier
    -> neighbors, anti-join visited) and hop h+1 (neighbors of that,
    anti-join visited AND hop h) into ONE union labeled with both hop
    numbers, then checkpoints once. At sf0.1's ~13-hop diameter this
    halves the dominant per-round ``localCheckpoint`` job count — the
    frontier joins themselves are cheap; the job-scheduling latency was
    what drifted across rounds. The hop-h subtree appears twice in the
    fused plan (in hop h+1's expansion and in the union); Catalyst's
    ReusedExchange collapses the repeated distinct where it can, and even
    recomputed it is one extra cheap join versus a whole checkpoint job.
    Work per round is still |frontier-adjacent edges|, total Σ = |edges|
    — each edge relaxes at most twice. Unreachable vertices are absent
    from the result (match the reference's sparse adjacency semantics
    rather than emitting infinities).

    Returns (id, hops).
    """
    spark = edges.sparkSession
    und = undirect(edges, src, dst).localCheckpoint(eager=True)
    levels = (spark.createDataFrame([(int(source), 0)],
                                    "id long, hops int")
              .localCheckpoint(eager=True))
    frontier = levels.select("id")
    hop = 1
    while hop <= max_iter:
        nxt1 = (und.join(frontier.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id")).distinct()
                .join(levels, "id", "left_anti"))
        if hop == max_iter:          # odd depth bound: last round is 1-hop
            grown = nxt1.withColumn("hops", F.lit(hop))
        else:
            nxt2 = (und.join(nxt1.withColumnRenamed("id", "src"), "src")
                    .select(F.col("dst").alias("id")).distinct()
                    .join(levels, "id", "left_anti")
                    .join(nxt1, "id", "left_anti"))
            grown = (nxt1.withColumn("hops", F.lit(hop))
                     .unionByName(nxt2.withColumn("hops", F.lit(hop + 1))))
        # frontier-emptiness probe fused INTO the checkpoint job via an
        # observe metric (optimization r13): one job per round instead
        # of checkpoint + isEmpty. (A LAZY checkpoint fused with a
        # count() was tried r13 and measured neutral here while stalling
        # badly in the other kernels — the barrier stays EAGER.)
        obs = Observation()
        both = (grown.observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True))
        if obs.get["n"] == 0:
            break
        # `levels` stays a UNION of checkpointed legs (no per-round
        # levels checkpoint): with 1-hop rounds the N-leg anti-join
        # re-scan measured 2x slower than checkpointing, but 2-hop
        # rounds halve the leg count and the materialized-leg scans are
        # cheap — the same-session r12 A/B measured union-of-legs 15%
        # faster than checkpoint-per-round at sf0.1 (2.57s vs 3.03s
        # median of 5)
        levels = levels.unionByName(both)
        # if hop+1 came back empty while hop didn't, this frontier is
        # empty and the NEXT round's probe terminates the loop — one
        # extra metadata-cheap round instead of an extra count job here
        frontier = both.filter(F.col("hops") == hop + 1).select("id")
        hop += 2
    return levels


def diameter_2approx(edges: DataFrame, src: str = "src",
                     dst: str = "dst") -> int:
    """Lower-bound diameter estimate by double BFS (the classic
    2-approximation: BFS from an arbitrary vertex, then BFS from the
    farthest vertex found; the second eccentricity is >= diameter/2 and
    usually equals it on real graphs). Two bfs_levels runs + two
    metadata-scale argmax collects; returns 0 for an empty edge set."""
    first = edges.select(F.col(src).alias("id")).orderBy("id").limit(1).collect()
    if not first:
        return 0
    l1 = bfs_levels(edges, int(first[0]["id"]), src=src, dst=dst)
    far = (l1.orderBy(F.col("hops").desc(), F.col("id").asc())
           .limit(1).collect()[0])
    l2 = bfs_levels(edges, int(far["id"]), src=src, dst=dst)
    return int(l2.agg(F.max("hops")).collect()[0][0])


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(id, degree) over the undirected edge set — one symmetrize + one
    partial-aggregating shuffle. Degree is THE skew diagnostic for every
    downstream graph job (a power-law hub is what blows up neighborhood
    joins), so it runs first in any pipeline."""
    und = undirect(edges, src, dst)
    return und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst", orient: str = "degree") -> DataFrame:
    """Global triangle count over the undirected graph — the standard
    clustering-coefficient numerator. Edges are oriented along a total
    vertex order into a DAG, so each triangle is counted exactly once via
    two equi-joins (wedge + closure).

    ``orient="degree"`` (default) orders vertices by (degree, id): every
    oriented out-degree is then O(sqrt(m)), so the wedge join costs
    O(m^1.5) worst-case even on a power-law graph where a raw-id
    orientation pays Σ deg(hub)² wedges. Any total order yields the same
    count (a triangle has exactly one source vertex under a DAG
    orientation), so ``orient="id"`` is kept as the oracle-parity twin —
    pytest pins count equality on a skewed fixture.
    Returns a single row (n_triangles)."""
    und = undirect(edges, src, dst)
    if orient == "degree":
        deg = und.groupBy(F.col("src").alias("v")).agg(
            F.count(F.lit(1)).alias("d"))
        ranked = (
            und.join(deg.select(F.col("v").alias("src"),
                                F.col("d").alias("ds")), "src")
            .join(deg.select(F.col("v").alias("dst"),
                             F.col("d").alias("dd")), "dst"))
        e = (ranked.filter(
                (F.col("ds") < F.col("dd"))
                | ((F.col("ds") == F.col("dd"))
                   & (F.col("src") < F.col("dst"))))
             .select(F.col("src").alias("a"), F.col("dst").alias("b")))
    else:
        e = (und.filter(F.col("src") < F.col("dst"))
             .select(F.col("src").alias("a"), F.col("dst").alias("b")))
    wedges = (e.alias("x").join(e.alias("y"), F.col("x.b") == F.col("y.a"))
              .select(F.col("x.a").alias("wa"), F.col("x.b").alias("wb"),
                      F.col("y.b").alias("wc")))
    closed = wedges.join(
        e.alias("z"),
        (F.col("wa") == F.col("z.a")) & (F.col("wc") == F.col("z.b")))
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def pagerank(vertices: DataFrame, edges: DataFrame, id_col: str = "id",
             damping: float = 0.85, n_iter: int = 10) -> DataFrame:
    """PageRank over the undirected similarity graph (both directions count),
    fixed-iteration power method — the GraphX/Pregel kernel re-expressed as
    DataFrame joins:

    - out-degrees computed once and cached with the edge list;
    - per iteration: one join (rank -> contributions along edges) + one
      aggregation (sum contributions per dst) + the damping blend — two
      shuffles, lineage cut per round;
    - dangling (edgeless) vertices' mass is redistributed uniformly each
      iteration (one metadata-sized aggregate), preserving Σ rank = 1 —
      without it, a similarity graph (where most vertices match nothing)
      leaks almost all its mass.

    Deterministic for a fixed iteration count up to float merge order
    (~1e-15); rows-only at the driver, pytest pins known-graph ranks.
    Returns (id, rank) with Σ rank ≈ 1."""
    und = undirect(edges).localCheckpoint(eager=True)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    out = (und.join(deg.withColumnRenamed("id", "src"), "src")
           .select("src", "dst", "deg").localCheckpoint(eager=True))
    has_out = deg.select("id").localCheckpoint(eager=True)
    # the |V| scalar rides the verts checkpoint job as an observe metric
    # (optimization r13 — was a separate vertices.count() job). NOTE:
    # pre-partitioning und/out/verts on the join key before checkpointing
    # was probed r13 and REJECTED — joins at bench scale are broadcast,
    # so preserved partitioning buys nothing and the setup repartition
    # adds a stage (A/B: 80 jobs/136 stages vs 79/131, AB_PROBE_r13).
    obs = Observation()
    verts = (vertices.select(F.col(id_col).alias("id"))
             .observe(obs, F.count(F.lit(1)).alias("n"))
             .localCheckpoint(eager=True))
    n = int(obs.get["n"])
    ranks = verts.select("id", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n

    def step(cur: DataFrame) -> DataFrame:
        # dangling mass as a broadcast 1-row aggregate folded into the SAME
        # job as the rank update — no driver collect per round (a per-round
        # driver action is a synchronization barrier the plan doesn't need)
        dang = (cur.join(has_out, "id", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")))
        contrib = (out.join(cur.withColumnRenamed("id", "src"), "src")
                   .groupBy(F.col("dst").alias("id"))
                   .agg(F.sum(F.col("rank") / F.col("deg")).alias("c")))
        return (verts.join(contrib, "id", "left")
                .crossJoin(F.broadcast(dang))
                .select("id", (F.lit(base) + F.lit(damping)
                               * (F.coalesce(F.col("c"), F.lit(0.0))
                                  + F.col("__dm") / F.lit(float(n))))
                        .alias("rank")))

    # two power-method rounds per materialization: per-round wall-clock is
    # dominated by job latency, not data, so halving the checkpoint count
    # halves the fixed cost. Deeper chunks REGRESS: step references its
    # input twice (the dangling-mass aggregate + the contribution join),
    # so the lazy plan doubles per nested step and planning/recompute
    # outgrows the saved job latency (the same exponential-plan blowup
    # the connected_components comment documents; measured in the r12
    # optimization round's same-session A/Bs). The checkpoints stay
    # EAGER: a fully-lazy chain was probed r13 and measured 4-10x WORSE
    # same-session (AB_PROBE_r13.json — with no per-round action, every
    # round's result stage defers and later rounds' AQE stage
    # materializations recompute un-cached parents, compounding across
    # rounds; the 2-reference step makes the recompute race as well).
    for _ in range(n_iter // 2):
        ranks = step(step(ranks)).localCheckpoint(eager=True)
    if n_iter % 2:
        ranks = step(ranks).localCheckpoint(eager=True)
    return ranks


def label_propagation(vertices: DataFrame, edges: DataFrame,
                      id_col: str = "id", max_iter: int = 20) -> DataFrame:
    """Community detection by synchronous label propagation (LPA): every
    vertex adopts the most frequent label among its neighbors each round,
    ties broken by the smallest label — fully deterministic, unlike the
    classic randomized-order LPA. The reference's clusters are connected
    components (``src/embedding/Clustering.cpp:68-107``); LPA is the finer
    community refinement a training-data pipeline wants when near-dup
    clusters chain into one giant component.

    Per iteration: one edge-key join + two partial-aggregating shuffles
    (count per (vertex,label), then max_by per vertex) — all codegen, no
    Python. Synchronous LPA can oscillate on bipartite structures, so the
    iteration cap is a correctness feature, not a timeout; the changed-count
    convergence check is a metadata-sized aggregate.

    Returns (id, label) for every vertex; isolated vertices keep their own
    id as label.
    """
    und = undirect(edges).localCheckpoint(eager=True)
    touched = und.select(F.col("src").alias("id")).distinct()
    labels = touched.select(
        "id", F.col("id").cast("long").alias("label")).localCheckpoint(eager=True)

    def step(cur: DataFrame) -> DataFrame:
        # ONE exchange per step (optimization r12): repartition the
        # labeled edge ends by the destination vertex once — the
        # (id, label) vote count AND the per-id argmax both accept
        # hash(id) partitioning (a grouping-key subset satisfies the
        # clustered distribution), so neither aggregate re-shuffles.
        # The previous shape paid two exchanges per step — hash(id,
        # label) for the votes, then hash(id) for the argmax.
        edges_lab = (
            und.join(cur.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "label")
            .repartition("id")
        )
        votes = edges_lab.groupBy("id", "label").agg(
            F.count(F.lit(1)).alias("cnt"))
        # mode with min-label tiebreak: max over (cnt, -label) structs keeps
        # the whole argmax inside one aggregate (no window)
        return (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg")))
                 .alias("m"))
            .select("id", (-F.col("m.neg")).cast("long").alias("label"))
        )

    # FOUR sync rounds per materialization (optimization r12; was two) +
    # ONE exact changed-count check per block. The block-entry label is
    # carried by a JOIN of the stepped state back to the (checkpointed)
    # previous frame — LPA's step is an aggregate that replaces the label
    # column, so unlike CC/coreness the old label cannot ride through the
    # step itself (and labels are not monotone, so a sum check would not
    # be exact); the join targets already-materialized rows. The
    # changed-count is collected by an ``observe`` metric ON the
    # checkpoint materialization (optimization r13): one job per block
    # instead of checkpoint + count. (A lazy checkpoint here was probed
    # r13 and measured 1.7-1.9x WORSE same-session, AB_PROBE_r13.json —
    # the eager materialization stays.)
    # Early-stopping on a zero FOUR-round delta is exact for parity with a
    # fully-unrolled run: state(r) == state(r+4) makes the trajectory
    # periodic from r with period dividing 4, and the REMAINDER rounds
    # below run unconditionally, so the final state always equals
    # state(4·blocks + rem) = state(max_iter) — this also terminates
    # bipartite (period-2) oscillations, which divide 4.
    # Remainder rounds (max_iter % 4) run as single steps after the block
    # loop — whether it early-stopped or not — so the iteration-cap
    # contract holds exactly (ADVICE r3: max_iter=1 must run 1 round).
    for _ in range(max_iter // 4):
        stepped = step(step(step(step(labels))))
        obs = Observation()
        new_labels = (
            stepped.join(labels.withColumnRenamed("label", "_old"), "id")
            .observe(obs, F.count_if(F.col("label") != F.col("_old"))
                     .alias("chg"))
            .localCheckpoint(eager=True))
        changed = obs.get["chg"]
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    for _ in range(max_iter % 4):
        labels = step(labels).localCheckpoint(eager=True)

    singles = (vertices.select(F.col(id_col).alias("id"))
               .join(touched, "id", "left_anti")
               .select("id", F.col("id").cast("long").alias("label")))
    return labels.unionByName(singles)


def _h_index(arr_col):
    """h-index of an array column: largest h such that at least h elements
    are >= h. sort desc, then count the prefix where value[i] >= i+1 — the
    predicate is prefix-true/suffix-false on a descending sort, so the
    filter count IS the h-index. All array built-ins, codegen'd."""
    desc = F.reverse(F.array_sort(arr_col))
    idx = F.sequence(F.lit(1), F.size(desc))
    return F.size(F.filter(F.zip_with(desc, idx, lambda v, i: v >= i),
                           lambda x: x))


def core_numbers(edges: DataFrame, src: str = "src", dst: str = "dst",
                 max_iter: int = 50) -> DataFrame:
    """Coreness (k-core number) per vertex via the distributed h-index
    fixpoint (Montresor et al., "Distributed k-core decomposition"): start
    from degree, then repeatedly set c(v) = h-index of the neighbors'
    current estimates. Estimates are monotone non-increasing and converge
    to the exact core number, so convergence is a changed-count filter
    over the materialized (new, old) estimate pairs — the same check as
    connected_components, no row collect.

    BOUNDED per-vertex state (round-4 hardening, replacing a raw
    collect_list of neighbor estimates whose aggregation buffer was
    degree-sized on hubs): the h-index is computed as a sort-based window
    — rank each vertex's incoming estimates descending, then
    h = max(least(estimate, rank)) — so no operator materializes a
    per-vertex array at all. A window sort spills to disk under pressure,
    which makes the kernel hub-safe at any degree, and the follow-up
    per-vertex aggregate reuses the window's hash partitioning (no extra
    exchange; verify with .explain).

    Per iteration: one edge-sized estimate join + one shuffle-sort window
    + a partition-local aggregate + one vertex-sized join.

    Returns (id, coreness).
    """
    und = undirect(edges, src, dst).localCheckpoint(eager=True)
    est = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("c")).localCheckpoint(eager=True)

    def step(cur_df: DataFrame) -> DataFrame:
        nbr = (
            und.join(cur_df.select(F.col("id").alias("src"),
                                   F.col("c").alias("v")), "src")
            .select(F.col("dst").alias("id"), "v"))
        w = Window.partitionBy("id").orderBy(F.col("v").desc())
        h = (nbr.withColumn("_rn", F.row_number().over(w))
             .groupBy("id")
             .agg(F.max(F.least(F.col("v"), F.col("_rn"))).alias("h")))
        return (cur_df.join(h, "id")
                .select("id", F.least(F.col("c"), F.col("h")).alias("c")))

    # Two h-index rounds per materialization. Estimates are monotone
    # non-increasing, so the estimate SUM is non-increasing and stalls
    # exactly at the fixpoint — an unchanged sum between consecutive
    # rounds means no vertex changed (and an unchanged TWO-round state
    # is exactly the fixpoint: every intermediate step must have been
    # unchanged too). The sum is collected by an ``observe`` metric ON
    # the checkpoint materialization (optimization r13): ONE job per
    # round where the r12 shape paid checkpoint + changed-count join
    # (the shape that regressed CC driver-side) — same rewrite as
    # connected_components, see the A/B numbers there. The checkpoint
    # stays EAGER (a lazy one measured worse same-session,
    # AB_PROBE_r13.json). Deeper nesting regresses: step references its
    # input twice (the estimate join + the follow-up least() join), so
    # the lazy plan doubles per nested step — the same blowup the
    # connected_components comment documents. An odd max_iter runs its
    # final round as a single step so the iteration cap is honored
    # exactly (ADVICE r3) — skipped at the fixpoint, where it is a
    # bit-for-bit no-op.
    converged = False
    prev_sum = None
    for _ in range(max_iter // 2):
        obs = Observation()
        est = (step(step(est))
               .observe(obs, F.sum(F.col("c").cast("decimal(38,0)"))
                        .alias("s"))
               .localCheckpoint(eager=True))
        s = obs.get["s"]
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged and max_iter % 2:
        est = step(est).localCheckpoint(eager=True)
    return est.select("id", F.col("c").alias("coreness"))


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
           max_iter: int = 50) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex has
    degree >= k, computed by iterative peeling — drop sub-k vertices,
    recompute degrees over surviving edges, repeat to fixpoint. Survivor
    count is monotone decreasing, so convergence is one count() per round.
    Each round is a semi-join edge filter + one degree aggregate.

    Returns (id, degree) with degree measured inside the core.
    """
    e = undirect(edges, src, dst).localCheckpoint(eager=True)
    prev_n = None
    for _ in range(max_iter):
        deg = e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("id")
        n = keep.count()
        if prev_n is not None and n == prev_n:
            break
        prev_n = n
        if n == 0:
            break
        e = (e.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
             .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
             .localCheckpoint(eager=True))
    deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"))
    return deg.filter(F.col("degree") >= k)


def clusters_from_pairs(vertices: DataFrame, pairs: DataFrame,
                        id_col: str = "id") -> DataFrame:
    """G7 support: similarity pairs (a, b) -> (id, component) over all
    vertices, singletons included."""
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return connected_components(vertices, edges, id_col)
