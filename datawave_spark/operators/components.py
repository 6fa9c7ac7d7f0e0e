"""Connected components over near-duplicate pairs → dedup clusters.

Pair-producing dedup (MinHash-LSH / n-gram Jaccard) yields edges; the
curation decision needs CLUSTERS: every document labeled with a
canonical representative so one survivor per cluster is kept.  This is
the iterative-algorithm slot of the engine (the reference has nothing
comparable — its UniqueTransform only dedups exact tuples).

Algorithm (distributed branch): alternating large-star/small-star
(Kiveris et al. '14, "Connected Components in MapReduce and Beyond") —
each round rewires every vertex toward its neighborhood minimum
(large-star points strictly-larger neighbors at it, small-star
collapses the rest), converging in O(log n) rounds on ANY graph shape,
vs diameter-many rounds for plain min-label propagation (a 100k-long
chain needs 100k propagation rounds but ~17 star rounds).  Each round
is two groupBy/join pairs on the vertex key — the same primitives, a
shorter critical path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datawave_spark.util import (
    graph_partitions, iter_checkpoint, local_frame, shuffle_width)


def connected_components(pairs: DataFrame, max_iter: int = 15,
                         driver_threshold: int = 1_000_000,
                         reliable: bool = False) -> DataFrame:
    """(id, component) for every vertex in ``pairs`` (id_a, id_b);
    component = the minimum id reachable.

    Small/large cutover (the reference's Uid.List-style strategy
    switch): a near-dup edge list is usually tiny relative to the
    corpus — below ``driver_threshold`` edges it is union-found on the
    driver in one pass (no per-round shuffles); above it, distributed
    min-label propagation with a convergence check per round."""
    # Materialize the pair frame ONCE before mirroring it: the two
    # union branches otherwise re-execute the whole upstream pair
    # pipeline (an LSH join tree) twice.  No eager count on pairs_p —
    # the edges.count() below materializes both caches in ONE job
    # (the union's first branch populates pairs_p partition by
    # partition; the second branch reads the entries it finds and
    # recomputes at worst a racing partition), so the common tiny-graph
    # path pays one job here instead of two.
    pairs_p = pairs.select("id_a", "id_b").persist()
    edges = (pairs_p.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .union(pairs_p.select(F.col("id_b").alias("src"),
                                   F.col("id_a").alias("dst")))
             .distinct().persist())
    n_edges = edges.count()
    pairs_p.unpersist()
    if n_edges <= driver_threshold:
        out = _driver_union_find(edges)   # collects inside
        edges.unpersist(blocking=False)
        return out
    parts = graph_partitions(n_edges, edges.rdd.getNumPartitions())
    out = _star_components(edges.repartition(parts, "dst"), max_iter,
                           reliable)
    # every frame in `out` is checkpoint-backed by now (rounds are
    # eager; loops_only is checkpointed in _star_components), so the
    # persisted edge frame can go
    edges.unpersist(blocking=False)
    return out


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al. '14 alg. 2 map/reduce pair): for each
    vertex u with symmetric neighborhood N(u), point every STRICTLY
    LARGER neighbor at m = min(N(u) ∪ {u}).  Preserves connectivity;
    strictly reduces large-degree stars' height."""
    sym = e.union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
    mins = (sym.groupBy("src")
            .agg(F.least(F.min("dst"), F.first("src")).alias("m")))
    return (sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient every edge from larger to smaller endpoint;
    for each vertex u, connect u and all its (smaller) neighbors to
    m = min — after convergence every component is a star rooted at its
    minimum."""
    directed = e.select(F.greatest("src", "dst").alias("src"),
                        F.least("src", "dst").alias("dst")) \
        .filter(F.col("src") != F.col("dst")).distinct()
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = directed.join(mins, "src").filter(F.col("dst") != F.col("m")) \
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    selfs = mins.select(F.col("src"), F.col("m").alias("dst"))
    return nbrs.union(selfs).distinct()


def _star_components(edges: DataFrame, max_iter: int,
                     reliable: bool = False) -> DataFrame:
    """Alternate large-star/small-star to fixpoint, then read labels
    off the final star forest: (id, component=min id reachable).

    Each round CHECKPOINTS (eager localCheckpoint): a star round
    references its input 4-6 times (symmetrize + joins), so carrying
    lineage across rounds grows the logical plan exponentially —
    Catalyst re-analyzes the whole tree each round and the driver OOMs
    near round 6 even on a 64-edge graph.  Truncating lineage per round
    is what makes the iteration O(rounds), the standard discipline for
    iterative DataFrame algorithms."""
    # vertices appearing ONLY in self-loops have no real edges but are
    # still vertices — the driver union-find keeps them; the star
    # iteration must too (they are their own component)
    loops_only = iter_checkpoint(
        edges.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("id")).distinct(), reliable)
    e = edges.filter(F.col("src") != F.col("dst"))
    prev = None
    converged = False
    for _ in range(max_iter):
        e = iter_checkpoint(_small_star(_large_star(e)), reliable)
        n = e.count()
        # convergence: the directed edge set is stable (same size AND
        # no edge changed — checked with one anti-join probe, cheap
        # once sizes match)
        if prev is not None and n == prev[1] \
                and e.exceptAll(prev[0]).limit(1).count() == 0:
            converged = True
            break
        prev = (e, n)
    if not converged:
        # a non-fixpoint edge frame is NOT a star forest: one vertex
        # can still carry edges to different minima, and reading labels
        # off it would emit conflicting (id, component) rows — silent
        # corruption downstream.  Fail loudly instead; the bound is
        # O(log n) rounds, so hitting it means max_iter is set far too
        # low for the graph, not that the data is bad.
        raise RuntimeError(
            f"connected components did not converge in {max_iter} "
            f"star rounds (graph needs ~log2(n); raise max_iter)")
    # final forest: every non-root u carries (u, root); roots appear
    # only on the dst side — label them with themselves
    labels = e.select(F.col("src").alias("id"),
                      F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("id")) \
        .join(e.select(F.col("src").alias("id")), "id", "left_anti") \
        .distinct().withColumn("component", F.col("id"))
    singles = (loops_only
               .join(labels.select("id"), "id", "left_anti")
               .join(roots.select("id"), "id", "left_anti")
               .withColumn("component", F.col("id")))
    return labels.union(roots).union(singles)


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact union-find over a collected edge list (bounded by the
    caller's threshold); labels = component minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:   # path compression
            parent[x], x = root, parent[x]
        return root

    rows = edges.collect()
    for r in rows:
        a, b = find(r.src), find(r.dst)
        if a != b:
            # union by min so the root IS the component minimum
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    vertices = {r.src for r in rows}
    out = [(v, find(v)) for v in sorted(vertices)]
    spark = edges.sparkSession
    schema = edges.schema["src"].dataType.simpleString()
    # Arrow-backed local frame: the labels are consumed by joins in
    # every downstream action, and the pickled-RDD path would launch
    # one Python worker per slice each time just to deserialize them.
    return local_frame(spark, out, f"id {schema}, component {schema}")


def dedup_clusters(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Assign every document its canonical id: cluster minimum for
    paired docs, itself otherwise → (id, canonical_id, is_duplicate)."""
    comp = connected_components(pairs)
    out = (df.select(F.col(id_col).alias("id"))
           .join(comp, "id", "left")
           .withColumn("canonical_id", F.coalesce("component", "id"))
           .withColumn("is_duplicate", F.col("canonical_id") != F.col("id"))
           .select("id", "canonical_id", "is_duplicate"))
    return out


def _pagerank_round(nodes: DataFrame, e: DataFrame, deg: DataFrame,
                    ranks: DataFrame, n: int, damping: float) -> DataFrame:
    """One power-iteration round (un-checkpointed — the plan-quality
    suite inspects this directly, since :func:`pagerank`'s returned
    frame is a lineage-truncated checkpoint scan that hides it)."""
    rd = ranks.join(deg, "node", "left")
    # rank mass on dangling nodes (no out-edges): ONE aggregate row,
    # broadcast explicitly (the house 1-row-aggregate discipline) so
    # conservative size estimates can never pick a real cartesian
    dang = (rd.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang")))
    contrib = (e.join(rd.filter(F.col("deg").isNotNull())
                      .withColumnRenamed("node", "src"), "src")
               .groupBy("dst")
               .agg(F.sum(F.col("rank") / F.col("deg")).alias("__in"))
               .withColumnRenamed("dst", "node"))
    base = (1.0 - damping) / n
    return (nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select("node",
                    (F.lit(base) + F.lit(damping)
                     * (F.coalesce(F.col("__in"), F.lit(0.0))
                        + F.col("__dang") / F.lit(float(n))))
                    .alias("rank")))


def pagerank(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
             iters: int = 10, damping: float = 0.85,
             reliable: bool = False) -> DataFrame:
    """PageRank over a directed edge frame → (node, rank).

    The link-analysis companion to the edge table: the reference
    materializes entity-to-entity edges at ingest (SURVEY §1.5,
    ProtobufEdgeDataTypeHandler) precisely so graph analytics can run
    over them; it ships no ranking itself, so this is the engine's
    iterative-algorithm slot alongside :func:`connected_components`.

    Power iteration with dangling-mass redistribution: per round
    ``r'(v) = (1-d)/N + d * (Σ_{u→v} r(u)/deg(u) + dangling/N)``
    where ``dangling`` is the rank mass parked on sink nodes (no
    out-edges), redistributed uniformly — ranks sum to 1 every round.

    Scale shape (the Pregel superstep restated as DataFrames): per
    round ONE equi-join of the edge frame with the vertex-sized rank
    frame and ONE groupBy(dst) sum — both shuffle on the vertex key,
    so co-partitioning carries between rounds; the dangling mass is a
    1-row aggregate cross-joined in-plan (no scalar collect per
    round).  Each round eagerly ``localCheckpoint``s its vertex-sized
    result (the :func:`connected_components` discipline): the rank
    frame is referenced three times per round, so a mere persist
    leaves Catalyst re-analyzing a logical plan that grows ~3× per
    round — exponential driver time by round 10 — while the
    checkpoint truncates lineage outright.  Fixed ``iters`` (no
    convergence collect): deterministic plan count, and 10 rounds is
    standard for ranking stability.

    The session shuffle width is narrowed to the graph size for the
    whole call (``util.shuffle_width``), so for the duration of the
    call concurrent queries on the same session also plan at the
    narrowed width; the previous width is restored on return or
    raise."""
    from datawave_spark.util import _num_partitions
    e0 = (edges.select(F.col(src_col).cast("string").alias("src"),
                       F.col(dst_col).cast("string").alias("dst"))
          .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
          .distinct().persist())
    n_edges = e0.count()
    parts = graph_partitions(n_edges, _num_partitions(e0))
    spark = edges.sparkSession
    # Scope the SESSION shuffle width to the graph size for the whole
    # iteration (r12): the explicit repartitions below size e/nodes,
    # but every per-round join/groupBy shuffle and eager checkpoint
    # otherwise runs at the full configured width — on a small graph
    # that is (rounds × shuffles) stages of almost-empty tasks, the
    # measured 32-core anti-scaling (7.9 s @32 vs 3.0 s @8 at sf0.1).
    # Every round materializes eagerly INSIDE this scope (the
    # localCheckpoints), so the restored conf never affects the
    # returned frame.  parts derives from the data (graph_partitions),
    # not the local core count — a billion-edge graph keeps full
    # cluster width.
    with shuffle_width(spark, parts):
        # eager-checkpoint the sized edge frame so the pre-repartition
        # cache entry can be dropped NOW (rebinding the name would
        # otherwise strand it in the CacheManager for the session)
        e = iter_checkpoint(e0.repartition(parts, "src"), reliable)
        e0.unpersist(blocking=False)
        nodes = (e.select(F.col("src").alias("node"))
                 .union(e.select(F.col("dst").alias("node")))
                 .distinct().repartition(parts, "node").persist())
        n = nodes.count()                    # 1 scalar on the driver
        if n == 0:
            e.unpersist(); nodes.unpersist()
            return spark.createDataFrame([], "node string, rank double")
        # loop-invariant out-degree table: vertex-sized, persisted like
        # e/nodes so its groupBy shuffle runs once, not once per round
        deg = (e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
               .withColumnRenamed("src", "node").persist())
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
        for _ in range(iters):
            ranks = iter_checkpoint(
                _pagerank_round(nodes, e, deg, ranks, n, damping),
                reliable)
        nodes.unpersist(blocking=False)
        deg.unpersist(blocking=False)
    return ranks
