"""Iterative graph operators: connected components.

The canonical use in an LLM-data pipeline: near-duplicate PAIRS (from
MinHash/SimHash) must become duplicate CLUSTERS — each document labeled
with a canonical representative (the minimum doc_id reachable through
any chain of near-dup edges) so one keeper per cluster survives.

Algorithm: iterative min-label propagation (the simple variant of
large-star/small-star from the MapReduce connected-components
literature). Each round: every node takes the min label over itself and
its neighbors — two shuffles per round (edge join + min-agg), converges
in O(diameter) rounds; dedup graphs are near-cliques, so diameter is
tiny (2-3 rounds in practice).

Scale notes:
- The driver-side loop only checks a CONVERGENCE COUNT per round; all
  data stays distributed. This is the textbook pattern for iterative
  algorithms on Spark (driver steers, executors compute).
- A stage (``materialize_stage``) truncates the lineage each round —
  without it the plan doubles per iteration and the job DAG explodes
  within ten iterations.
- Edges are symmetrized once up front; the per-round join shuffles on
  node id. At 100 TB-of-pairs you'd switch to the star-contraction
  variant (fewer rounds on high-diameter graphs); for dedup graphs the
  simple variant is both fewer shuffles and simpler.

The reference has no graph/iterative surface at all (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv2db_spark.operators import stage


def _stage_edges_by_key(edges: DataFrame, key: str) -> DataFrame:
    """Stage a loop-invariant edge list partitioned by its per-round
    join key.

    Two steps, because the partition WIDTH must come from the data, not
    from a conf constant: (1) an eager ``localCheckpoint`` under AQE —
    coalescing sizes the stage to the advisory partition bytes, exactly
    what the loop rounds should run at (a conf-default 200 would drag
    200-task rounds through a KB-sized gate graph and undersize a
    100 TB one); (2) re-exchange the cached blocks by ``key`` at that
    measured width, sort within partitions, and carry the partitioning
    + sort order through a second checkpoint
    (``materialize_stage(preserve_partitioning=True)``). Every round's
    edge-leg join then plans exchange-free and sort-free — only the
    node-sized table moves per round. The second exchange reads
    executor-cached blocks, and it replaces one edge-sized exchange PER
    ROUND, so it pays for itself from round two."""
    # loop: the edge list every round joins, at the width AQE gives it
    flat = stage.materialize_stage(edges)
    # floor at 2: the planner treats a single-partition side like
    # SinglePartition and re-shuffles BOTH join legs to the conf
    # default (measured on 4.1) — any width >= 2 is reused as-is
    n = max(2, flat.rdd.getNumPartitions())
    # loop: every round joins this stage exchange-free and sort-free
    return stage.materialize_stage(
        flat.repartition(n, F.col(key)).sortWithinPartitions(key),
        preserve_partitioning=True,
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the min node id of its component.

    ``edges``: undirected pair list (any orientation, duplicates fine).
    Returns (node, component).
    """
    # the symmetric edge list is loop-invariant and every round joins it
    # on ``b`` — stage it ONCE partitioned by the join key (see
    # _stage_edges_by_key): each round's join plans the
    # edge leg exchange-free and sort-free, so only the node-sized label
    # table moves per round.
    sym = _stage_edges_by_key(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        "b",
    )
    # loop: the first round's label table
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .transform(stage.materialize_stage)
    )
    # convergence probe: labels are MIN-monotone
    # (new = min(own, neighbors) can never increase), so the label set
    # is unchanged iff the exact sum of labels is unchanged — one
    # scalar aggregate over the fresh checkpoint instead of the old
    # node-keyed self-join + count (two node-table shuffles per round).
    # decimal(38,0) keeps the sum exact at any node count / id width.
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        # candidate label per node: min over own label and neighbors' labels
        neighbor = (
            sym.join(labels, sym.b == labels.node)
            .select(F.col("a").alias("node"), "component")
        )
        # loop: each round reads only the previous round's labels
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .transform(stage.materialize_stage)
        )
        cur_sum = _label_sum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("node", "component")


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node u connects its STRICTLY LARGER
    neighbors to m(u) = min(N(u) ∪ {u}). Input/output: undirected edges
    normalized as (lo, hi), lo < hi, distinct."""
    sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionAll(
        e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.where(F.col("v") > F.col("u"))
        .join(m, "u")
        # m = min(N(u) ∪ {u}) <= u < v, so (m, v) is already normalized
        .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node u connects its smaller neighbors —
    and itself — to m(u) = min of those neighbors. Same (lo, hi)
    edge-set representation as ``_large_star``."""
    sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionAll(
        e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    sm = sym.where(F.col("v") < F.col("u"))
    mins = sm.groupBy("u").agg(F.min("v").alias("m"))
    return (
        sm.join(mins, "u")
        .select(F.col("v").alias("node"), "m")  # smaller neighbors -> m
        .unionByName(mins.select(F.col("u").alias("node"), "m"))  # u -> m
        .where(F.col("node") != F.col("m"))
        .select(F.col("m").alias("lo"), F.col("node").alias("hi"))  # m < node
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction — same contract as ``connected_components`` (label every
    node with its component's min node id; returns (node, component))
    but converging in O(log n) ROUNDS instead of O(diameter).

    Why a second implementation: min-label propagation does one hop per
    round, so a 100 TB graph with a long path (supply chains, citation
    chains, web link paths) needs diameter rounds of two shuffles each.
    Star contraction re-roots whole subtrees every round — the paper
    bounds the alternating schedule at O(log² n) with O(log n) observed;
    tests/test_graph_merge.py pins a 200-node path converging in <= 10
    rounds where min-label needs ~200. Per round this does the same
    kind of keyed shuffles (neighborhood min + re-emit), so the
    crossover is entirely about round count.

    At the fixpoint the edge set IS the component labeling: a star
    (m, v) per non-min node v. Nodes of the input that never appear in
    a fixpoint edge are component minima (or isolated after self-loop
    removal) and label themselves.
    """
    # loop: the first round's edge set
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))  # self-loops carry no info
        .distinct()
        .transform(stage.materialize_stage)
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    rounds = 0
    e_cnt = e.count()
    for _ in range(max_iter):
        # loop: each round reads only the previous round's edges
        nxt = _small_star(_large_star(e)).transform(stage.materialize_stage)
        rounds += 1
        # set fixpoint: same cardinality and no new edges. The previous
        # round's count is carried instead of recounted; the
        # subtract only runs when cardinalities already match.
        nxt_cnt = nxt.count()
        if nxt_cnt == e_cnt and nxt.subtract(e).count() == 0:
            e = nxt
            break
        e, e_cnt = nxt, nxt_cnt
    # test instrumentation: rounds used by the most recent call
    connected_components_star.last_rounds = rounds
    return (
        nodes.join(
            e.select(F.col("hi").alias("node"), F.col("lo").alias("component")),
            "node",
            "left",
        )
        # at the fixpoint each non-min node has exactly one star edge; the
        # min() is a no-op then, and a safe tighter label if max_iter cut
        # the loop short
        .groupBy("node")
        .agg(F.min(F.coalesce(F.col("component"), F.col("node"))).alias("component"))
    )


def pagerank_step(
    edges: DataFrame,
    ranks: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
) -> DataFrame:
    """One PageRank power-iteration over a directed edge list — the
    canonical link-graph quality signal for web-scale corpus curation
    (rank a crawl's pages, keep/weight documents by source authority).

    ``ranks`` is (node, rank); ``None`` starts uniform at 1.0. Returns
    (node, rank) after one step: rank' = (1-d) + d * Σ rank_in/out_deg.

    Determinism at any partitioning: each incoming contribution
    (rank/out_deg, an IEEE double identical on any engine) is cast to
    DECIMAL(28,12) BEFORE the sum, so the aggregation is exact and
    order-independent — the one place partitioning could leak in. The
    damping arithmetic then runs in double on the identical summed
    value (one IEEE multiply + add of identical operands — identical
    bits; decimal products at precision 38 would hit engine-specific
    scale-reduction rules instead). Same discipline as
    functions/numeric.py, applied to an iterative kernel.

    Scale shape: out-degrees are one groupBy of the edge list; the
    contribution pass is edges ⋈ ranks (shuffle on src) then a sum
    shuffled on dst — two shuffles per iteration, both keyed and
    combinable map-side. Dangling nodes (no out-edges) contribute
    nothing; nodes with no in-edges get the (1-d) floor via the
    right-side union. Driver steers iterations, data never leaves
    executors (same pattern as connected_components above).
    """
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    nodes = (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    if ranks is None:
        ranks = nodes.withColumn("rank", F.lit(1.0))
    out_deg = e.groupBy(F.col("_src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    contrib = (
        e.join(ranks.join(out_deg, "node"), F.col("_src") == F.col("node"))
        .select(
            F.col("_dst").alias("node"),
            (F.col("rank") / F.col("out_deg")).cast("decimal(28,12)").alias("c"),
        )
        .groupBy("node")
        .agg(F.sum("c").alias("in_sum"))
    )
    return (
        nodes.join(contrib, "node", "left")
        .select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping)
                * F.coalesce(F.col("in_sum").cast("double"), F.lit(0.0))
            ).alias("rank"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
) -> DataFrame:
    """PageRank to convergence: repeat ``pagerank_step`` until the max
    absolute rank change drops below ``tol`` (L∞, the standard stopping
    rule) or ``max_iter`` rounds.

    Driver-steering pattern shared with ``connected_components``: the
    loop runs on the driver but touches only a 1-row convergence
    aggregate per round; rank vectors stay distributed.
    A stage per round truncates lineage so the plan doesn't double
    every iteration. Edges are reused across rounds — cache them
    upstream if the input is an expensive subquery.
    """
    # every power iteration joins the edge list
    # on ``_src`` — stage it once partitioned by the join key
    # (_stage_edges_by_key), so each round's contribution join plans the
    # edge leg exchange-free (only the node-sized rank table moves per
    # round) and each round's out-degree aggregate rides the same
    # partitioning without its own exchange.
    e = _stage_edges_by_key(
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")),
        "_src",
    )
    ranks = None
    for _ in range(max_iter):
        # loop: each round reads only the previous round's ranks
        new_ranks = pagerank_step(
            e, ranks=ranks, src="_src", dst="_dst", damping=damping
        ).transform(stage.materialize_stage)
        # tol <= 0 pins exactly max_iter rounds (the q_graph_pagerank_k3
        # contract): the L-inf delta can never go below a non-positive
        # tol, so skip its per-round |nodes| join + driver collect
        if ranks is not None and tol > 0:
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "node")
                .agg(
                    F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d")
                )
                .collect()[0]["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    dense_node_span: int = 4096,
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph — the
    classic clustering/cohesion signal (and the canonical multi-way
    self-join the optimizer must get right).

    ``edges`` must hold each undirected edge once (no self-loops);
    orientation is normalized here to (lo, hi). Returns
    (node, n_triangles) for nodes in >= 1 triangle.

    Adaptive physical strategy (same exact result either way):

    - **Dense small-ID graphs** (node-ID span <= ``dense_node_span``
      AND 16·|E| >= span², the density gate): each node's neighbor set
      packs into a fixed-width BITMAP (span/64
      plain long columns — the bitset idiom this repo uses for exact
      Jaccard), and the count is one broadcast join of the edge list
      against the KB-to-MB-sized adjacency table on both endpoints with
      codegen bit_count(AND) popcounts: common neighbors of (lo, hi) =
      triangles through that edge; summing per endpoint double-counts
      each corner's triangles exactly twice. Cost is |E| rows through a
      map-side join — no wedge materialization (the wedge set of a 43%-
      dense 1000-node graph is ~46M rows; the bitmap plan touches 215k).
      The density term is measured, not guessed (an A/B recorded in
      PLANS.md): the bitmap build pays O(n_words)=O(span/64) per edge row,
      so a SPARSE graph inside the span cap loses to the wedge path —
      synthetic N=4000/E=200k (fill 2.5%) ran 3.9s bitmap vs 3.0s
      general, N=10000/E=200k at a widened span 16384 ran 7.0s vs 2.0s
      (so widening the span gate was measured and rejected), while
      dense N=1000/E=200k (fill 40%) ran 1.3s bitmap vs 5.2s general.
      16·|E| >= span² puts the crossover at avg degree span/8,
      flat-region-safe at both measured boundaries.

    - **General graphs** (any ID type, unbounded span): DEGREE-ORDERED
      wedge enumeration. Nodes are totally ordered by (degree, id) and
      every edge oriented from the lower to the higher endpoint; a
      triangle x ≺ y ≺ z is then found exactly once as the wedge
      (x→y, x→z) closed by the edge y→z. The wedge join therefore costs
      Σ C(d⁺(v), 2) where d⁺ is OUT-degree under the orientation —
      the classic O(m^1.5) bound (no node's out-degree exceeds ~√(2m)),
      versus Σ C(d(v), 2) for the naive lo<hi orientation, which is
      quadratic in the max RAW degree: a single 1M-follower hub node
      contributes ~5·10^11 wedges naive but (being every edge's HIGHER
      endpoint) zero oriented. Skew-proof by construction — star
      centers, celebrity nodes, and boilerplate hubs land on the
      receiving side of their edges.
    """
    # reuse: the bounds probe and every leg of either strategy read the
    # normalized edge set
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .distinct()
        .transform(stage.materialize_stage)
    )
    # bounded driver-side scalars (justified-collect class): the ID span
    # picks the physical strategy, exactly like AQE picks join strategy
    # from runtime sizes. min(lo)/max(hi) are the global bounds because
    # normalization puts every edge's smaller endpoint in lo. The dense
    # path is gated on INTEGRAL IDs first: int() on a string/date bound
    # raises at the driver, and fractional float IDs inside a small span
    # would alias after the (v - mn) long cast — silently wrong counts;
    # non-integral IDs always take the general path, which handles any
    # orderable type via least/greatest.
    if dict(e.dtypes)["lo"] in ("tinyint", "smallint", "int", "bigint"):
        bounds = e.agg(
            F.min("lo").alias("mn"),
            F.max("hi").alias("mx"),
            F.count(F.lit(1)).alias("ne"),
        ).collect()[0]
        if bounds["mn"] is not None:
            span = int(bounds["mx"]) - int(bounds["mn"]) + 1
            dense = 16 * int(bounds["ne"]) >= span * span
            if 0 < span <= dense_node_span and dense:
                return _triangle_count_bitmap(e, int(bounds["mn"]), span)
    o = _orient_by_degree(e)
    w1 = o.select("x", F.col("y").alias("b"), F.col("ky").alias("kb"))
    w2 = o.select("x", F.col("y").alias("c"), F.col("ky").alias("kc"))
    closing = o.select(F.col("x").alias("b"), F.col("y").alias("c"))
    tri = (
        w1.join(w2, "x")
        # strict < both halves the wedge pairs and drops the (b == c)
        # self-pair the join on x would otherwise emit
        .where(F.col("kb") < F.col("kc"))
        .join(closing, ["b", "c"])
        .select(F.col("x").alias("a"), "b", "c")
    )
    # credit all three corners by exploding ONE pass over the triangle
    # set — the 3-way unionAll shape replanned the wedge join (the
    # expensive subtree) once PER LEG, tripling the dominant cost
    # (share the subtree instead of re-deriving it per consumer). Same
    # rows, same counts.
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def _orient_by_degree(e: DataFrame) -> DataFrame:
    """Orient the normalized (lo, hi) edge set by the total order
    (degree, id): every edge points from its lower-ranked endpoint x to
    the higher y. Returns (x, y, ky) where ky is y's rank key (a
    comparable struct). The two degree-attach joins are |E| ⋈ |V| hash
    joins; nothing here is proportional to wedge count."""
    deg = (
        e.select(F.col("lo").alias("n"))
        .unionAll(e.select(F.col("hi").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ranked = e.join(
        deg.select(F.col("n").alias("lo"), F.col("d").alias("dl")), "lo"
    ).join(deg.select(F.col("n").alias("hi"), F.col("d").alias("dh")), "hi")
    # (degree, id) struct ordering: lexicographic, never equal for the
    # two endpoints of one edge (lo != hi on a simple graph)
    klo = F.struct(F.col("dl").alias("d"), F.col("lo").alias("n"))
    khi = F.struct(F.col("dh").alias("d"), F.col("hi").alias("n"))
    # reuse: the wedge join reads the oriented edges three times
    return (
        ranked.select(
            F.when(klo < khi, F.col("lo")).otherwise(F.col("hi")).alias("x"),
            F.when(klo < khi, F.col("hi")).otherwise(F.col("lo")).alias("y"),
            F.when(klo < khi, khi).otherwise(klo).alias("ky"),
        )
        .transform(stage.materialize_stage)
    )


def _triangle_count_bitmap(e: DataFrame, mn: int, span: int) -> DataFrame:
    """Dense-path triangle counts: adjacency bitmaps + per-edge popcount.

    For each normalized edge (lo, hi), common = |N(lo) ∩ N(hi)| is the
    number of triangles through that edge; Σ_{v∈N(u)} |N(u) ∩ N(v)|
    counts every triangle at corner u exactly twice (once per incident
    triangle edge), so n_triangles(u) = that sum / 2 — always even, the
    division is exact."""
    n_words = (span + 63) // 64
    und = (
        e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        .unionAll(e.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        .select("u", (F.col("v") - F.lit(mn)).cast("long").alias("idx"))
    )
    idx = F.col("idx")
    # shiftleft's shift arg must be a literal in the Python API — the
    # per-row shift runs as a SQL expr on the fixed internal name
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 64 AS INT))")
    adj = und.groupBy("u").agg(
        *[
            F.bit_or(
                F.when((idx / 64).cast("int") == w, bit).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias(f"w{w}")
            for w in range(n_words)
        ]
    )
    # reuse: both broadcast legs below read the adjacency table
    adj = stage.materialize_stage(adj)
    a = adj.select(
        F.col("u").alias("lo"), *[F.col(f"w{w}").alias(f"a{w}") for w in range(n_words)]
    )
    b = adj.select(
        F.col("u").alias("hi"), *[F.col(f"w{w}").alias(f"b{w}") for w in range(n_words)]
    )
    common = sum(
        F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}"))).cast("long")
        for w in range(n_words)
    )
    per_edge = (
        e.join(F.broadcast(a), "lo")
        .join(F.broadcast(b), "hi")
        .select("lo", "hi", common.alias("c"))
    )
    # one pass over per_edge, exploding the two endpoints — the 2-way
    # unionAll replanned the per-edge popcount join (and its adjacency
    # builds) once per leg
    corners = per_edge.select(
        F.explode(F.array("lo", "hi")).alias("node"), "c"
    )
    return (
        corners.groupBy("node")
        .agg((F.sum("c") / 2).cast("long").alias("n_triangles"))
        .where(F.col("n_triangles") > 0)
    )


def resolve_hierarchy(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_rounds: int = 40,
) -> DataFrame:
    """Root and depth for every node of a forest — the recursive-CTE
    workload (org charts, BOM explosions, category trees) Spark has no
    WITH RECURSIVE for, done in O(log depth) rounds by POINTER DOUBLING:
    every node carries an (ancestor, distance) pointer, and each round
    replaces it with the ancestor's own pointer, doubling the distance
    covered. A naive parent-at-a-time loop needs depth rounds (the
    recursive CTE's shape); doubling needs log2(depth) — at depth 1e6
    that is 20 joins instead of a million, the same round-compression
    argument as connected_components_star.

    Returns (node, root, depth) for every node appearing in ``edges``
    (roots = parents that never appear as children, depth 0).

    Scale shape: each round is ONE self-join of the |nodes|-row pointer
    table on the ancestor key + a 1-row convergence aggregate on the
    driver (the justified-collect class of pagerank's loop);
    a stage per round truncates lineage."""
    children = edges.select(
        F.col(child_col).alias("node"), F.col(parent_col).alias("anc")
    )
    roots = (
        edges.select(F.col(parent_col).alias("node"))
        .distinct()
        .join(edges.select(F.col(child_col).alias("node")).distinct(), "node", "left_anti")
    )
    # loop: the first round's pointer table
    ptr = children.select("node", "anc", F.lit(1).cast("long").alias("dist")).unionByName(
        roots.select("node", F.col("node").alias("anc"), F.lit(0).cast("long").alias("dist"))
    ).transform(stage.materialize_stage)
    for _ in range(max_rounds):
        hop = ptr.select(
            F.col("node").alias("_anc_node"),
            F.col("anc").alias("_anc_anc"),
            F.col("dist").alias("_anc_dist"),
        )
        # loop: each round reads only the previous round's pointers
        nxt = (
            ptr.join(hop, ptr.anc == F.col("_anc_node"))
            .select(
                "node",
                F.col("_anc_anc").alias("anc"),
                (F.col("dist") + F.col("_anc_dist")).alias("dist"),
            )
            .transform(stage.materialize_stage)
        )
        # converged when no pointer moved (every ancestor is a root,
        # whose self-pointer has dist 0)
        moved = nxt.join(
            ptr.select(F.col("node"), F.col("dist").alias("_old")), "node"
        ).where(F.col("dist") != F.col("_old")).limit(1).count()
        ptr = nxt
        if moved == 0:
            break
    else:
        # pointers still moving after max_rounds: the "parent" relation
        # contains a cycle (distances grow forever) or the depth exceeds
        # 2^max_rounds — either way the result would be silently wrong
        raise ValueError(
            "resolve_hierarchy: no convergence after "
            f"{max_rounds} doubling rounds — cycle in the parent "
            "relation, or depth > 2**max_rounds"
        )
    return ptr.select(
        "node", F.col("anc").alias("root"), F.col("dist").alias("depth")
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Seeded (semi-supervised) label propagation: a small labelled seed
    set spreads over the graph — each unlabelled node adopts the MODAL
    label among its already-labelled neighbours, ties broken by the
    smaller label; labelled nodes are CLAMPED (seeds never change, and a
    node labelled in round r is frozen for r+1). The classic
    cheap-classifier pattern for entity graphs: label 1% of users by a
    trusted rule, propagate to the rest.

    Synchronous rounds make the result order-independent and
    hash-exact: round r's assignments read only the label set as of
    round r-1, so the oracle can unroll the same rounds in SQL.
    Returns (node, label, round_assigned); nodes never reached within
    ``rounds`` are absent.

    Scale shape: per round, one shuffle to group (node, label) counts
    over the labelled frontier's edges and one |nodes|-row anti-join —
    the same O(|E|) per-round cost as one PageRank step. Rounds is a
    small constant (label coverage saturates geometrically), so the
    total is O(rounds·|E|) with no driver-side state.
    """
    # the per-round votes join keys the edge list on ``b`` — stage it once
    # partitioned by the join key (_stage_edges_by_key) so only the label
    # frontier shuffles per round.
    sym = _stage_edges_by_key(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        "b",
    )
    # loop: the first round's label table
    labels = seeds.select(
        F.col(node_col).alias("node"),
        F.col(label_col).alias("label"),
        F.lit(0).alias("round_assigned"),
    ).transform(stage.materialize_stage)
    from pyspark.sql import Window

    for r in range(1, rounds + 1):
        votes = (
            sym.join(
                labels.select(F.col("node").alias("b"), "label"), "b"
            )
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("cnt").desc(), F.col("label")
        )
        picked = (
            votes.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label", F.lit(r).alias("round_assigned"))
        )
        fresh = picked.join(labels.select("node"), "node", "left_anti")
        # loop: each round reads only the previous round's labels
        labels = labels.unionByName(fresh).transform(stage.materialize_stage)
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop nodes
    with degree < k (degrees recomputed after every drop) until either
    fixpoint (``rounds=None``) or a fixed round budget. The classic
    graph-densification step before community/link analysis — spam and
    leaf nodes peel away, the cohesive core stays.

    Returns (node, degree) for the surviving subgraph (degree = within-
    core degree). Per round: one degree aggregation (fixpoint mode's
    probe runs a second) + two semi-joins to restrict the edge list —
    O(|E|) per round, same cost shape as a
    PageRank step. Peeling is confluent (the k-core is unique and
    independent of removal order), so bounded-round results are a
    deterministic OVER-approximation that shrinks monotonically to the
    true core; fixpoint mode stops when an iteration removes nothing
    (checked with a one-row count of below-k nodes per round, the
    connected_components loop discipline).
    """
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct()
    # loop: the first round's edge list. Without per-round stages each
    # round's semi-joins replanned every earlier round (the rounds=3
    # gate cost ~12 s at sf0.1; ~1.6 s with them).
    cur = stage.materialize_stage(sym)
    r = 0
    while True:
        r += 1
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("a")
        if rounds is None:
            # fixpoint reached iff no node falls below k: the semi-joins
            # would keep every edge, so stop before paying them
            low = deg.agg(F.count_if(F.col("deg") < k)).first()[0]
            if low == 0:
                break
        # loop: each round reads only the previous round's edges
        cur = (
            cur.join(keep, "a", "semi")
            .join(keep.select(F.col("a").alias("b")), "b", "semi")
            .transform(stage.materialize_stage)
        )
        if rounds is not None and r >= rounds:
            break
    return cur.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    ).where(F.col("degree") >= k)
