"""Graph algorithms over edge-list DataFrames.

PageRank in the standard distributed formulation: per-iteration, each
node's rank flows along its out-edges (one join on src + one groupBy on
dst — both plain shuffles on the edge list), with damping applied to
the gathered contributions.  Lineage is truncated per iteration with an
eager localCheckpoint (the same discipline as the connected-components
and BPE loops) so k iterations never stack a k-deep plan.

Dangling nodes (no out-edges) follow the simple convention of leaking
their rank (no redistribution) — ranks still order nodes correctly and
the formulation stays one-join-per-iteration; pass
``redistribute_dangling=True`` to add the single scalar aggregate that
conserves total mass.

Connected components live in ``operators.dedup.connected_components``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from woodwork_spark.operators.scale import local_rows_df

from woodwork_spark.lifecycle import attach_persisted

# Below this node count the per-iteration rank vector broadcasts into
# the (cached) edge scan instead of co-partitioning the edges — a ~5M
# row struct of (id, double) is tens of MB, comfortably under executor
# broadcast budgets; beyond it the shuffle-the-vector strategy wins.
_BROADCAST_RANKS_MAX_NODES = 5_000_000


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    redistribute_dangling: bool = False,
    distinct_edges: bool = True,
    checkpoint_every: int = 1,
    broadcast_ranks: bool = None,
    seeds: list = None,
) -> DataFrame:
    """PageRank over a directed edge list; returns ``(node, pagerank)``
    for every node appearing as src or dst.

    ``pr_{t+1}(v) = (1-d)/N + d * sum over in-edges (u,v) of
    pr_t(u)/outdeg(u)`` starting from the uniform 1/N vector.
    Duplicate edges count once (set semantics); pass
    ``distinct_edges=False`` to skip that shuffle when the caller
    already guarantees a simple graph.

    ``seeds`` (a list of node ids) switches to PERSONALIZED PageRank:
    the teleport term lands only on the seed set — ``(1-d)/|S|`` on
    seeds, 0 elsewhere — and the walk starts uniform over the seeds,
    giving relevance-to-these-nodes scores (recommendation
    neighborhoods, seed-anchored influence spheres).  The seed list is a
    query parameter (bounded, broadcast as a literal predicate), not a
    distributed frame.

    Two physical strategies, picked from the node count the setup
    already measures (``broadcast_ranks`` forces one):

    * **broadcast** (n <= ~5M): the (node, rank/outdeg) vector is tiny
      next to the edge list — broadcast it into the contribution join,
      so each iteration is ONE scan of the cached edges + a partial
      aggregation; the edge list is never re-sorted or re-shuffled, and
      the (src, dst, outdeg) side-table build is skipped entirely.
    * **co-partitioned** (larger n): the rank vector can't broadcast;
      pre-partition the degree-weighted edges ONCE on the join key and
      shuffle only the rank vector each iteration (sort-merge reuse).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if seeds is not None:
        if not seeds:
            raise ValueError("pagerank: seeds list is empty")
        if redistribute_dangling:
            raise ValueError(
                "pagerank: redistribute_dangling with seeds is not "
                "supported (dangling mass would need to re-teleport to "
                "the seed set; drop one of the options)",
            )
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if distinct_edges:
        e = e.distinct()
    # the setup jobs (nodes, outdegrees) and every iteration read the
    # edge list — persist it once instead of re-running the upstream
    # plan (often a distinct over raw fact rows) per job
    e = e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: edge list is empty (no non-null edges)")
    if seeds is not None:
        # a seed absent from the graph silently drops its teleport share
        # (all-zero ranks when NO seed is present) — surface the misuse
        present = nodes.filter(F.col("node").isin(list(seeds))).count()
        if present < len(set(seeds)):
            raise ValueError(
                f"pagerank: {len(set(seeds)) - present} of "
                f"{len(set(seeds))} seeds do not appear in the graph",
            )
    if broadcast_ranks is None:
        broadcast_ranks = n <= _BROADCAST_RANKS_MAX_NODES
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    if broadcast_ranks:
        # rank vector joins deg (node-sized both) then broadcasts into
        # the edge scan — no edge re-sort, no ew materialization
        ew = None
    else:
        # (src, dst, outdeg) — loop-invariant.  Persisted PRE-PARTITIONED
        # on the join key: every iteration's contribution join then
        # reuses this layout and only the rank vector moves; without it
        # the full edge list re-shuffles once per iteration.
        ew = e.join(deg, "src").repartition("src").persist()
    if seeds is not None:
        s_n = len(set(seeds))
        teleport = F.when(
            F.col("node").isin(list(seeds)), F.lit((1.0 - damping) / s_n),
        ).otherwise(F.lit(0.0))
        init = F.when(
            F.col("node").isin(list(seeds)), F.lit(1.0 / s_n),
        ).otherwise(F.lit(0.0))
    else:
        teleport = F.lit((1.0 - damping) / n)
        init = F.lit(1.0 / n)
    ranks = nodes.withColumn("pagerank", init)
    for it in range(iterations):
        if broadcast_ranks:
            rv = ranks.join(
                deg.withColumnRenamed("src", "node"), "node",
            ).select(
                F.col("node").alias("src"),
                (F.col("pagerank") / F.col("__deg")).alias("__w"),
            )
            contribs = (
                e.join(F.broadcast(rv), "src")
                .groupBy("dst")
                .agg(F.sum("__w").alias("__in"))
            )
        else:
            contribs = (
                ew.join(
                    ranks.select(
                        F.col("node").alias("src"),
                        F.col("pagerank").alias("__pr"),
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.sum(F.col("__pr") / F.col("__deg")).alias("__in"))
            )
        new_ranks = (
            nodes.join(
                contribs.withColumnRenamed("dst", "node"), "node", "left",
            )
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping) * F.coalesce("__in", F.lit(0.0))
                ).alias("pagerank"),
            )
        )
        if redistribute_dangling:
            # mass parked on dangling nodes, one scalar agg, spread evenly
            leaked = (
                ranks.join(
                    deg.withColumnRenamed("src", "node"), "node", "left_anti",
                )
                .agg(F.sum("pagerank"))
                .first()[0]
                or 0.0
            )
            new_ranks = new_ranks.withColumn(
                "pagerank",
                F.col("pagerank") + F.lit(damping * leaked / n),
            )
        # Broadcast path: materializing the broadcast rank vector at
        # iteration t+1 re-executes every uncheckpointed prior iteration
        # (rv nests the previous contribs), so edge-scan work grows
        # quadratically between checkpoints — and the broadcast forces a
        # full evaluation each iteration ANYWAY, so checkpointing the
        # node-sized vector every time is free.  Shuffle path:
        # checkpoint_every > 1 trades lineage depth for fewer
        # materialization jobs — right for shallow runs (<= ~5
        # iterations); the default 1 keeps the plan flat for long runs.
        if (
            broadcast_ranks
            or (it + 1) % checkpoint_every == 0
            or it == iterations - 1
        ):
            ranks = new_ranks.localCheckpoint(eager=True)
        else:
            ranks = new_ranks
    return attach_persisted(ranks, nodes, ew, e) if ew is not None \
        else attach_persisted(ranks, nodes, e)


def degree_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    mode: str = "both",
) -> DataFrame:
    """Degree-distribution profile of an edge list: one row per degree
    value with its node count, plus the log-log regression slope of
    the distribution (a scale-free graph sits near -2..-3) repeated on
    each row — the first look at any graph before running anything
    iterative on it (hubs predict join skew; the slope says whether
    salting will be needed).

    ``mode``: "both" (undirected — every endpoint counts), "out"
    (src only), or "in" (dst only — the side groupBy/join skew actually
    keys on; a pure-sink hub is invisible in "out" mode).  Nodes with
    zero degree in the chosen mode emit no row.

    Shape: edges collapse to per-node degrees (map-side combinable;
    "both" unions the endpoints first), degrees collapse to
    (degree, n_nodes) — window-free aggs all the way — and ONE regr_slope
    over the tiny histogram finishes.  Returns ``(degree, n_nodes,
    frac_nodes, slope)``.
    """
    if mode not in ("both", "out", "in"):
        raise ValueError("mode must be 'both', 'out' or 'in'")
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d"),
    ).where(F.col("s").isNotNull() & F.col("d").isNotNull())
    if mode == "out":
        ends = e.select(F.col("s").alias("node"))
    elif mode == "in":
        ends = e.select(F.col("d").alias("node"))
    else:
        ends = e.select(F.col("s").alias("node")).unionAll(
            e.select(F.col("d").alias("node")),
        )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
    tots = hist.agg(
        F.sum("n_nodes").alias("__tn"),
        F.expr(
            "regr_slope(log(cast(n_nodes as double)), "
            "log(cast(degree as double)))",
        ).alias("__slope"),
    )
    return hist.crossJoin(F.broadcast(tots)).select(
        "degree", "n_nodes",
        (F.col("n_nodes") / F.col("__tn")).alias("frac_nodes"),
        F.col("__slope").alias("slope"),
    )


def _triangle_parts(edges, src_col, dst_col):
    """Shared skeleton for the triangle family: canonical simple-graph
    edges (a < b, persisted), per-node degrees (persisted),
    degree-oriented edges (persisted), the wedge self-join, and the
    closing-edge set.  The closing set IS the canonical edge frame
    (a < b, distinct) — reusing its cache instead of re-deriving it
    from the oriented edges saves a full shuffle + dedup per call.

    Degree orientation is the skew defense: a celebrity node of degree
    d contributes wedges only through its (few) HIGHER-degree
    neighbors, so per-node wedge work is bounded by arboricity, not d²
    (Suri & Vassilvitskii 2011).  Returns (e, deg, oriented, wedges,
    closing); caller unpersists e/deg/oriented (or attaches them).
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.col("a") != F.col("b")),
        )
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist()
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    oriented = (
        e.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(
                F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
            )
            .alias("o"),
        )
        .select(F.col("o.u").alias("u"), F.col("o.v").alias("v"))
        .persist()
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").where(F.col("x") < F.col("y"))
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    return e, deg, oriented, wedges, closing


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact triangle count + global clustering coefficient
    (transitivity) of the undirected simple graph on ``edges`` — the
    standard cohesion read on co-occurrence graphs (co-purchases,
    co-citations, shared-session items).

    Algorithm: node-iterator++ with degree orientation (see
    :func:`_triangle_parts` for the skew argument).  Three shuffles
    total: degree agg, wedge self-join on the low node, closing-edge
    join.  Returns one row: ``(n_nodes, n_edges, n_wedges,
    n_triangles, transitivity)`` with ``transitivity = 3 * triangles /
    wedges`` over the UNDIRECTED wedge count (NULL on wedge-free
    graphs).
    """
    e, deg, oriented, wedges, closing = _triangle_parts(
        edges, src_col, dst_col,
    )
    n_nodes = deg.count()
    n_edges = e.count()
    n_wedges_row = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"),
    ).first()
    n_wedges = int(n_wedges_row["w"] or 0)
    n_tri = wedges.join(closing, ["x", "y"], "left_semi").count()
    for f in (e, deg, oriented):
        f.unpersist()
    spark = edges.sparkSession
    trans = (3.0 * n_tri / n_wedges) if n_wedges else None
    return local_rows_df(spark, 
        [(n_nodes, n_edges, n_wedges, n_tri, trans)],
        "n_nodes long, n_edges long, n_wedges long, n_triangles long, "
        "transitivity double",
    )


def node_clustering(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle membership + local clustering coefficient
    ``2*T / (d*(d-1))`` — which nodes sit in tight mutual cliques
    (products always bought as a set, users in closed circles) vs mere
    hubs.  Complements :func:`triangle_stats` (global census) and
    :func:`degree_stats` (volume).

    Same degree-ordered wedge enumeration (shared
    :func:`_triangle_parts` skeleton); each closed wedge credits all
    THREE corners via one explode, then a count per node.  Returns
    ``(node, degree, triangles, local_cc)`` for every node (0.0 cc for
    degree-1 nodes).
    """
    e, deg, oriented, wedges, closing = _triangle_parts(
        edges, src_col, dst_col,
    )
    tri_per_node = (
        wedges.join(closing, ["x", "y"], "left_semi")
        .select(
            F.explode(F.array("u", "x", "y")).alias("n"),
        )
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        deg.join(tri_per_node, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("d") >= 2,
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
            ).otherwise(F.lit(0.0)).alias("local_cc"),
        )
    )
    from woodwork_spark.lifecycle import attach_persisted

    return attach_persisted(out, e, deg, oriented)


def adamic_adar(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_neighbor_degree: int = None,
    min_common: int = 1,
) -> DataFrame:
    """Link-prediction scores for node pairs of a BIPARTITE edge list
    (node, neighbor): for every pair of nodes sharing >= ``min_common``
    neighbors, the Adamic-Adar index sum(1/ln(deg(z))) over shared
    neighbors z, plus the raw common-neighbor count and the Jaccard of
    the two neighborhoods — the classical "who is about to be
    connected" triple (Adamic & Adar 2003).

    Scale shape: dedup -> per-neighbor degree (map-side combinable) ->
    the pair space is generated by a self-join ON THE NEIGHBOR, so
    work is sum over neighbors of deg², never |V|².
    ``max_neighbor_degree`` caps that quadratic term by dropping hub
    neighbors (a neighbor shared by everyone ranks no one — its
    1/ln(deg) is noise by design, which is the whole point of the AA
    weighting); at corpus scale ALWAYS set it.  With a cap active ALL
    three scores (common, aa_score, jaccard — including the node
    degrees in the Jaccard denominator) describe the capped subgraph,
    so the ranking stays internally consistent.

    Returns ``(node_a, node_b, common, aa_score, jaccard)`` with
    node_a < node_b.
    """
    e = (
        edges.select(
            F.col(src_col).alias("__n"), F.col(dst_col).alias("__z"),
        )
        .where(F.col("__n").isNotNull() & F.col("__z").isNotNull())
        .distinct()
    )
    zdeg = e.groupBy("__z").agg(F.count(F.lit(1)).alias("__zd"))
    if max_neighbor_degree is not None:
        zdeg = zdeg.where(F.col("__zd") <= max_neighbor_degree)
    ez = e.join(zdeg, "__z")  # AQE broadcasts when the degree side is small
    a = ez.select(
        F.col("__z"), F.col("__zd"), F.col("__n").alias("node_a"),
    )
    b = ez.select(
        F.col("__z").alias("__z2"), F.col("__n").alias("node_b"),
    )
    pairs = (
        a.join(b, (a.__z == b.__z2) & (F.col("node_a") < F.col("node_b")))
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(1.0 / F.log(F.col("__zd").cast("double"))).alias("aa_score"),
        )
        .where(F.col("common") >= min_common)
    )
    # node degrees from the CAPPED edge set: with a hub cap active,
    # common, aa_score and jaccard must all describe the same
    # subgraph (full-neighborhood denominators under a capped
    # numerator bias every ranking consumer)
    ndeg = ez.groupBy("__n").agg(F.count(F.lit(1)).alias("__nd"))
    da = ndeg.select(F.col("__n").alias("node_a"), F.col("__nd").alias("__da"))
    db = ndeg.select(F.col("__n").alias("node_b"), F.col("__nd").alias("__db"))
    out = (
        pairs.join(da, "node_a").join(db, "node_b")
        .select(
            "node_a", "node_b", "common", "aa_score",
            (
                F.col("common")
                / (F.col("__da") + F.col("__db") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return out


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """The k-core of an undirected simple graph: the maximal subgraph
    where every node keeps degree >= k, by iterative peeling (drop
    all sub-k nodes, recompute degrees, repeat to fixpoint) — the
    standard "dense kernel" extractor for community seeds and spam/
    bot subgraph mining.  Returns ``(node, core_degree)`` — the
    surviving nodes with their degree INSIDE the core.

    Cardinality-aware like :func:`~..dedup.connected_components`:
    while the distinct edge list fits
    :data:`~woodwork_spark.io.LOCAL_MAX_CELLS` (500k edges of two ids,
    with no NaN id) it collects through
    :func:`~woodwork_spark.io.collect_bounded` and peels on the driver
    (identical result, one job).  Above it, the
    distributed loop peels with one degree agg + two anti-joins per
    round, eagerly ``localCheckpoint``-ed so the plan does not double
    per iteration; rounds are bounded by the peeling depth
    (typically O(log n); pathological paths degrade — ``max_iter``
    raises rather than silently returning a non-core).  Each round's
    state is the live edge list only.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.col("a") != F.col("b")),
        )
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"),
        )
        .distinct()
    )
    # derive the driver-path schema from the input node type (same
    # approach as dedup.connected_components) so both paths agree for
    # any id dtype
    from pyspark.sql.types import LongType, StructField, StructType

    from woodwork_spark.io import collect_bounded, column_values

    node_field = e.select(F.col("a").alias("node")).schema.fields[0]
    out_schema = StructType([
        node_field,
        StructField("core_degree", LongType(), False),
    ])
    e = e.persist()
    head = collect_bounded(e)
    if head is not None:
        e.unpersist()
        adj: dict = {}
        for a, b in zip(column_values(head["a"]), column_values(head["b"])):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        while True:
            dead = [
                n for n in alive
                if sum(1 for m in adj[n] if m in alive) < k
            ]
            if not dead:
                break
            alive.difference_update(dead)
        rows = [
            (n, sum(1 for m in adj[n] if m in alive))
            for n in sorted(alive)
        ]
        return local_rows_df(spark, rows, out_schema)
    live = e.localCheckpoint(eager=True)
    e.unpersist()
    for _ in range(max_iter):
        deg = (
            live.select(F.col("a").alias("node"))
            .unionAll(live.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("__d"))
        )
        bad = deg.where(F.col("__d") < k).select("node").persist()
        n_bad = bad.count()
        if n_bad == 0:
            bad.unpersist()
            return deg.select(
                "node", F.col("__d").cast("long").alias("core_degree"),
            )
        nxt = (
            live.join(bad, live.a == bad.node, "left_anti")
            .join(bad, F.col("b") == bad.node, "left_anti")
            .localCheckpoint(eager=True)
        )
        bad.unpersist()
        live = nxt
    raise RuntimeError(
        f"kcore did not converge within {max_iter} peeling rounds",
    )


def bfs_hops(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seeds=None,
    max_hops: int = 5,
    directed: bool = True,
    distinct_edges: bool = True,
) -> DataFrame:
    """Minimum hop distance from a seed set by frontier-expansion BFS —
    "everything within k hops of these nodes" (blast-radius analysis,
    fraud neighborhoods, citation spheres).

    Per hop: ONE join of the current frontier against the edge list +
    one distinct + one anti-join against the visited set — shuffles
    scale with the frontier, never all-pairs.  Lineage is truncated
    with an eager localCheckpoint per hop (the connected-components /
    PageRank discipline), so the loop never stacks a k-deep plan, and
    the loop exits early on an empty frontier.  The edge cache is
    released before return (the checkpointed result no longer needs
    it).

    ``seeds`` is a list of node ids or a single-column DataFrame;
    ``directed=False`` adds reversed edges.  Returns ``(node, hop)``
    with hop = the MINIMUM number of edges from any seed (seeds at 0),
    only for nodes within ``max_hops``.
    """
    if seeds is None:
        raise ValueError("bfs_hops: seeds is required")
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    spark = edges.sparkSession
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"),
    ).where(F.col("__s").isNotNull() & F.col("__d").isNotNull())
    if not directed:
        e = e.unionByName(
            e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d")),
        )
    if distinct_edges:
        e = e.distinct()
    e = e.persist()
    if isinstance(seeds, DataFrame):
        seed_df = seeds.select(
            F.col(seeds.columns[0]).alias("node"),
        ).distinct()
    else:
        node_type = edges.schema[src_col].dataType
        from pyspark.sql import types as T

        seed_df = local_rows_df(spark, 
            [(s,) for s in seeds],
            T.StructType([T.StructField("node", node_type)]),
        ).distinct()
    visited = seed_df.withColumn(
        "hop", F.lit(0),
    ).localCheckpoint(eager=True)
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["__s"])
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    e.unpersist()
    return visited.select("node", F.col("hop").cast("long").alias("hop"))


def shortest_paths(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    seeds=None,
    max_hops: int = 5,
    directed: bool = True,
) -> DataFrame:
    """Single-source(-set) WEIGHTED shortest distances, bounded at
    ``max_hops`` edges — distributed Bellman-Ford: each round relaxes
    every tentative distance along the edge list (one join + one
    min-groupBy), lineage truncated per round with an eager
    localCheckpoint, early exit when a round improves nothing.

    The hop bound is the scale contract: k rounds cost k (join +
    groupBy) shuffles and the state is one row per reached node —
    never path enumeration.  Negative weights are rejected (with a
    hop-bounded relaxation they'd silently depend on the bound).

    ``seeds`` is a list of node ids or a single-column DataFrame.
    Returns ``(node, distance, hops)`` — ``hops`` is the edge count of
    the distance-minimizing path (ties -> fewest hops).
    """
    if seeds is None:
        raise ValueError("shortest_paths: seeds is required")
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    spark = edges.sparkSession
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"),
        F.col(weight_col).cast("double").alias("__w"),
    ).where(
        F.col("__s").isNotNull() & F.col("__d").isNotNull()
        & F.col("__w").isNotNull(),
    )
    if not directed:
        e = e.unionByName(e.select(
            F.col("__d").alias("__s"), F.col("__s").alias("__d"), "__w",
        ))
    e = e.persist()
    neg = e.filter(F.col("__w") < 0).limit(1).count()
    if neg:
        e.unpersist()
        raise ValueError("shortest_paths: negative edge weights are "
                         "not supported under a hop bound")
    if isinstance(seeds, DataFrame):
        seed_df = seeds.select(
            F.col(seeds.columns[0]).alias("node"),
        ).distinct()
    else:
        node_type = edges.schema[src_col].dataType
        from pyspark.sql import types as T

        seed_df = local_rows_df(spark, 
            [(s,) for s in seeds],
            T.StructType([T.StructField("node", node_type)]),
        ).distinct()
    dist = seed_df.select(
        "node", F.lit(0.0).alias("distance"), F.lit(0).alias("hops"),
    ).localCheckpoint(eager=True)
    frontier = dist
    for h in range(1, max_hops + 1):
        relaxed = (
            frontier.join(e, frontier["node"] == e["__s"])
            .select(
                F.col("__d").alias("node"),
                (F.col("distance") + F.col("__w")).alias("distance"),
                F.lit(h).alias("hops"),
            )
        )
        # (min distance, then min hops): one struct-min per node
        merged = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min(F.struct("distance", "hops")).alias("__b"))
            .select(
                "node",
                F.col("__b.distance").alias("distance"),
                F.col("__b.hops").alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
        # early exit: a node improved iff its struct changed this round
        improved = merged.join(
            dist,
            ["node", "distance", "hops"],
            "left_anti",
        )
        frontier = improved.localCheckpoint(eager=True)
        dist = merged
        if frontier.limit(1).count() == 0:
            break
    e.unpersist()
    return dist.select(
        "node", "distance", F.col("hops").cast("long").alias("hops"),
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    distinct_edges: bool = True,
    broadcast_ranks: bool = None,
) -> DataFrame:
    """HITS hubs-and-authorities over a directed edge list; returns
    ``(node, hub, authority)`` for every node appearing as src or dst,
    L1-normalized (scores sum to 1).

    Kleinberg's mutual recursion: ``auth_t(v) = sum over in-edges
    (u, v) of hub_{t-1}(u)``; ``hub_t(u) = sum over out-edges (u, v)
    of auth_t(v)``; hubs start uniform.  The textbook per-step
    normalization is a scalar divide whose constants CANCEL in the
    final normalized ratio — the recursion is linear — so the loop
    runs on raw sums and normalizes ONCE at the end: each half-step is
    exactly one scan of the cached edge list + a partial aggregation
    materialized to a node-sized localCheckpoint (without the eager
    cut, broadcasting half-step t's vector would re-execute half-steps
    1..t-1).  Raw magnitudes grow ~avg_degree per half-step — at
    double range that caps out past ~150 iterations on even
    billion-degree graphs, far beyond HITS' convergence needs.

    Same two join strategies as ``pagerank``, picked from the node
    count the setup already measures (``broadcast_ranks`` forces one):
    small score vectors broadcast into the cached edge scan; huge
    graphs pre-partition the edges on src once and shuffle only the
    vector (the dst-keyed half-step still reshuffles — the price of
    mutual recursion over one layout).  Nodes with no in-edges get
    authority 0, no out-edges hub 0.  Duplicate edges count once
    unless ``distinct_edges=False``.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if distinct_edges:
        e = e.distinct()
    e = e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("hits: edge list is empty (no non-null edges)")
    if broadcast_ranks is None:
        broadcast_ranks = n <= _BROADCAST_RANKS_MAX_NODES
    if broadcast_ranks:
        ep = e
        maybe_bc = F.broadcast
    else:
        ep = e.repartition("src").persist()
        maybe_bc = lambda df: df  # noqa: E731 — vector too big to ship
    # raw score vectors carry only nodes with at least one in-/out-edge
    # (absent = exact 0; zeros re-enter at the final nodes join)
    hub_raw = nodes.withColumn("hub", F.lit(1.0 / n))
    auth_raw = None
    for _ in range(iterations):
        auth_raw = (
            ep.join(
                maybe_bc(hub_raw.select(F.col("node").alias("src"), "hub")),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("hub").alias("authority"))
            .withColumnRenamed("dst", "node")
            .localCheckpoint(eager=True)
        )
        hub_raw = (
            ep.join(
                maybe_bc(
                    auth_raw.select(F.col("node").alias("dst"), "authority"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.sum("authority").alias("hub"))
            .withColumnRenamed("src", "node")
            .localCheckpoint(eager=True)
        )
    totals = auth_raw.agg(F.sum("authority").alias("__ta")).crossJoin(
        hub_raw.agg(F.sum("hub").alias("__th")),
    )
    out = (
        nodes.join(hub_raw, "node", "left")
        .join(auth_raw, "node", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "node",
            F.coalesce(F.col("hub") / F.col("__th"), F.lit(0.0)).alias("hub"),
            F.coalesce(
                F.col("authority") / F.col("__ta"), F.lit(0.0),
            ).alias("authority"),
        )
    )
    if broadcast_ranks:
        return attach_persisted(out, nodes, e)
    return attach_persisted(out, nodes, ep, e)
