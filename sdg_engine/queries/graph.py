"""Graph queries over the road network and the word graph: PageRank, BFS,
k-core, MST, betweenness, TextRank, label propagation and friends.
Iterative loops run a fixed number of rounds with local checkpoints, so
plans stay shallow."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._common import (
    _BFS_NODE,
    _components_jump,
    _drain_confs,
    _fixture_images,
    _t,
)


_PR_ITERS = 3
_PR_UNIT = 1_000_000_000  # total rank mass in micro-units
_PR_DAMP = 85  # damping 0.85, held as integer percent


def pagerank(edges: DataFrame) -> DataFrame:
    """``_PR_ITERS``-iteration PageRank over (src, dst) edge rows,
    INTEGER-EXACT: rank mass lives in BIGINT micro-units and every
    division is an explicit FLOOR, so iteration order and fold order
    cannot perturb the result (the oracle unrolls the identical
    recurrence in SQL).

    Plan shape per iteration: edges⋈rank equi-join on src (hash
    partition on the edge key — at planet scale both sides co-partition
    on src and the join is exchange-reusing), map-side-combined SUM to
    dst, left join back to the node set.  Each round localCheckpoints
    (CLAUDE.md gotcha 15) so the logical plan stays O(1) deep.
    Parallel edges carry weight w; self-loops are legal (a node keeps
    feeding itself) which removes the dangling-node special case.
    """
    # r06: rounds under _drain_confs (8 partitions + codegen off,
    # restored) — per-round plan churn over the rank relation, same
    # measurement as _components_jump
    with _drain_confs(edges.sparkSession):
        ew = edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
        deg = ew.groupBy("src").agg(F.sum("w").alias("outdeg"))
        edeg = ew.join(deg, "src").localCheckpoint()
        nodes = deg.select(F.col("src").alias("node")).localCheckpoint()
        n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
        pr = nodes.crossJoin(F.broadcast(n_df)).selectExpr(
            "node", f"CAST(FLOOR({_PR_UNIT}.0 / CAST(n AS DOUBLE)) AS BIGINT) AS pr"
        )
        for _ in range(_PR_ITERS):
            contrib = (
                edeg.join(pr, edeg.src == pr.node)
                .select(
                    F.col("dst"),
                    F.expr(
                        "CAST(FLOOR(CAST(pr AS DOUBLE) / CAST(outdeg AS DOUBLE)) "
                        "AS BIGINT) * w AS c"
                    ),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            pr = (
                nodes.join(contrib, nodes.node == contrib.dst, "left")
                .crossJoin(F.broadcast(n_df))
                .selectExpr(
                    "node",
                    f"CAST(FLOOR({_PR_UNIT // 100 * (100 - _PR_DAMP)}.0 / CAST(n AS DOUBLE)) AS BIGINT)"
                    f" + CAST(FLOOR({_PR_DAMP}.0 * CAST(COALESCE(s, 0) AS DOUBLE) / 100.0) AS BIGINT)"
                    " AS pr",
                )
                .localCheckpoint()
            )
    return pr


# Road graph: segment endpoints quantized to integer-degree cells
# (FLOOR(x + 0.5) — round-half-up in BOTH engines; CAST would round in
# DuckDB but truncate in Spark, gotcha 7).  Undirected -> both edge
# directions.  Node id = (cx + 100) * 1000 + (cy + 100) stays positive.
_PR_NODE_A = (
    "(CAST(FLOOR(ax + 0.5) AS BIGINT) + 100) * 1000 "
    "+ (CAST(FLOOR(ay + 0.5) AS BIGINT) + 100)"
)
_PR_NODE_B = (
    "(CAST(FLOOR(bx + 0.5) AS BIGINT) + 100) * 1000 "
    "+ (CAST(FLOOR(byy + 0.5) AS BIGINT) + 100)"
)


def pagerank_roads(spark, sf_dir):
    """PageRank centrality of road-graph cells: road segments quantized
    to integer-degree cells, one undirected edge per segment, 3
    integer-exact iterations (see pagerank())."""
    from ..harness import segments_df

    segs = segments_df(spark, sf_dir).withColumnRenamed("by", "byy").selectExpr(
        f"{_PR_NODE_A} AS a", f"{_PR_NODE_B} AS b"
    )
    edges = segs.selectExpr("a AS src", "b AS dst").unionAll(
        segs.selectExpr("b AS src", "a AS dst")
    )
    return pagerank(edges).select("node", "pr")


def _road_node_pairs(spark) -> DataFrame:
    """The road graph's edges as ``(a, b)`` node pairs, one per
    consecutive vertex pair of every sf0.01 road polyline, each vertex
    quantized to its 0.1-degree node id (``_BFS_NODE``, shared with the
    DuckDB oracles).  Not deduplicated, self-loops kept: each caller
    orients, filters and checkpoints them itself."""
    _images, roads = _fixture_images(spark)
    node = _BFS_NODE.format(x="c.x", y="c.y")
    return roads.selectExpr(
        f"transform(coords, c -> {node}) AS nds"
    ).selectExpr(
        "explode(transform(sequence(1, size(nds) - 1), "
        "i -> struct(nds[i - 1] AS a, nds[i] AS b))) AS e"
    ).select("e.a", "e.b")


def _sym_edges(segs: DataFrame) -> DataFrame:
    """The symmetric ``(src, dst)`` edge list of ``(a, b)`` node pairs:
    both directions of every pair, self-loops dropped (they add no
    hops), deduplicated."""
    return (
        segs.selectExpr("a AS src", "b AS dst")
        .unionAll(segs.selectExpr("b AS src", "a AS dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _und_edges(segs: DataFrame) -> DataFrame:
    """One ``(u, v)`` row per undirected edge of ``(a, b)`` node pairs,
    ``u < v``: self-loops dropped, deduplicated."""
    return (
        segs.selectExpr("least(a, b) AS u", "greatest(a, b) AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _hubs(edges: DataFrame, n: int) -> DataFrame:
    """The ``n`` max-degree nodes of a symmetric edge list as ``(src,
    deg)`` rows, degree ties to the smaller id — the seeds that make a
    walk explore a real component, not a 2-node fragment of the
    quantized grid."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return deg.orderBy(F.col("deg").desc(), F.col("src").asc()).limit(n)


def _bfs_labels(edges, seed, max_hops: int):
    """Hop labels ``(node, hops)`` from ``seed`` (a ``node`` DataFrame)
    over a symmetric edge list: per round one equi-join + distinct +
    anti-join against the visited set, localCheckpointed (gotcha 15);
    stops early once a round reaches no new node."""
    visited = seed.selectExpr("node", "CAST(0 AS INT) AS hops") \
        .localCheckpoint()
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .selectExpr("dst AS node", f"CAST({hop} AS INT) AS hops")
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


def road_graph_bfs(spark, sf_dir):
    """BFS hop distances over the ROAD NETWORK graph: polyline vertices
    quantized to 0.1-degree cells, consecutive vertices = edges (roads
    sharing a cell connect), seeded at the max-degree hub.

    Iterative frontier expansion — per round: frontier ⋈ edges equi-join
    on src + distinct + anti-join against visited, each round
    localCheckpointed (gotcha 15).  At planet scale every round is one
    hash-partitioned join on the edge key; frontier size is bounded by
    the graph's expansion, never the full node set.  Oracle: DuckDB
    RECURSIVE CTE over the same roads parquet.
    Output: hops -> node count + node-id checksum (BIGINT sums, exact).
    """
    edges = _sym_edges(_road_node_pairs(spark)).localCheckpoint()
    seed = _hubs(edges, 1).selectExpr("src AS node")
    # r06: loop under _drain_confs (codegen off + 8 partitions,
    # restored) — per-round plan churn, the _components_jump lesson
    with _drain_confs(spark):
        visited = _bfs_labels(edges, seed, 16)  # the oracle CTE's hop bound
    return visited.groupBy("hops").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("sum_node"),
    )


def triangle_count_roads(spark, sf_dir):
    """TRIANGLE COUNT over the road-network graph (same 0.1-degree
    cell quantization as road_graph_bfs): each undirected edge is
    oriented from its lower-(degree, id) endpoint to the higher — the
    standard degree-ordering that bounds every node's out-degree by
    O(sqrt(|E|)), so the wedge join (out-edge x out-edge of the same
    source) never explodes on hubs.  A triangle {x,y,z} has exactly one
    oriented wedge x->y, y->z with x->z present, so each is counted
    once: wedge equi-join + edge-existence equi-join, both
    hash-partitioned — no all-pairs anywhere.  Oracle: the identical
    construction in DuckDB over the same roads parquet.
    Output: one row — triangle count + node-id checksum.
    """
    # referenced by deg + both orientation sides
    und = _und_edges(_road_node_pairs(spark)).localCheckpoint()
    deg = (
        und.selectExpr("u AS nd").unionAll(und.selectExpr("v AS nd"))
        .groupBy("nd")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    oriented = (
        und.join(deg.selectExpr("nd AS u", "deg AS du"), "u")
        .join(deg.selectExpr("nd AS v", "deg AS dv"), "v")
        .selectExpr(
            # lexicographic (deg, id) spelled out — row-constructor
            # comparison parses differently across the two engines
            "CASE WHEN du < dv OR (du = dv AND u < v) "
            "THEN u ELSE v END AS s",
            "CASE WHEN du < dv OR (du = dv AND u < v) "
            "THEN v ELSE u END AS d",
        )
        .localCheckpoint()  # referenced three times by the wedge probe
    )
    e1 = oriented.selectExpr("s AS x", "d AS y")
    e2 = oriented.selectExpr("s AS y", "d AS z")
    e3 = oriented.selectExpr("s AS x", "d AS z")
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.coalesce(
            F.sum(F.col("x") + F.col("y") + F.col("z")), F.lit(0)
        ).alias("sum_nodes"),
    )


_SPW_ROUNDS = 12


def _spw_edges(spark):
    """Weighted road-graph edges: the BFS cell quantization plus an
    integer Euclidean weight in cell-mils between cell centers
    (FLOOR(sqrt*1000) of integer deltas — deterministic)."""
    und = _und_edges(_road_node_pairs(spark))
    w = (
        "CAST(FLOOR(SQRT(CAST((FLOOR(u / 1000) - FLOOR(v / 1000)) "
        "* (FLOOR(u / 1000) - FLOOR(v / 1000)) "
        "+ (u % 1000 - v % 1000) * (u % 1000 - v % 1000) AS DOUBLE)) "
        "* 1000) AS BIGINT)"
    )
    wed = und.selectExpr("u", "v", f"{w} AS w")
    return wed.selectExpr("u AS src", "v AS dst", "w").unionAll(
        wed.selectExpr("v AS src", "u AS dst", "w")
    )


def shortest_path_weighted(spark, sf_dir):
    """WEIGHTED single-source shortest paths (Bellman-Ford rounds) over
    the road graph — BFS's hop labels generalized to integer edge
    weights (cell-mils Euclidean).  Seeded at the max-degree hub
    (min-id tie-break, same as road_graph_bfs).  Each round relaxes
    every edge once: dist ⋈ edges equi-join on src, union with the
    incumbent labels, min per node — all hash-partitioned joins/aggs,
    localCheckpointed per round (gotcha 15).  12 rounds bounds path
    length exactly like the oracle's unrolled recurrence.
    Output: distance-band histogram + node-id checksums.
    """
    edges = _spw_edges(spark).localCheckpoint()
    seed = _hubs(edges, 1).select(
        F.col("src").alias("node"), F.lit(0).cast("long").alias("d")
    )
    # r06: loop under _drain_confs (codegen off + 8 partitions,
    # restored) — per-round plan churn, the _components_jump lesson
    with _drain_confs(spark):
        dist = seed.localCheckpoint()
        for _ in range(_SPW_ROUNDS):
            relaxed = (
                dist.join(edges, dist.node == edges.src)
                .selectExpr("dst AS node", "d + w AS d")
            )
            dist = (
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("d").alias("d"))
                .localCheckpoint()
            )
    return (
        dist.selectExpr(
            "CAST(FLOOR(d / 2000) AS BIGINT) AS band", "node", "d"
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("node").alias("sum_node"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
        )
    )


def link_prediction_roads(spark, sf_dir):
    """GRAPH LINK PREDICTION on the quantized road graph: the
    resource-allocation index RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z)
    for non-adjacent pairs — RA is the log-free cousin of Adamic-Adar
    (integer-exact as FLOOR(10⁶/deg) BIGINT sums, gotcha 8).  Wedges
    enumerate per common-neighbor z with an explicit hub bound
    (deg(z) ≤ 32, mirrored in the oracle — high-degree hubs contribute
    ≤ 1/33 each and are exactly the quadratic blowup at scale, the
    standard LP truncation); existing edges leave via a left-anti
    equi-join.  Same und/deg construction as triangle_count_roads.
    """
    # deg + wedge sides + anti-join probe
    und = _und_edges(_road_node_pairs(spark)).localCheckpoint()
    deg = (
        und.selectExpr("u AS nd")
        .unionAll(und.selectExpr("v AS nd"))
        .groupBy("nd")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    nbr = und.selectExpr("u AS z", "v AS nb").unionAll(
        und.selectExpr("v AS z", "u AS nb")
    )
    z_ok = deg.filter("deg <= 32").selectExpr("nd AS z", "deg AS degz")
    nbrs = nbr.join(z_ok, "z").localCheckpoint()  # both wedge sides
    pairs = (
        nbrs.selectExpr("z", "degz", "nb AS a")
        .join(nbrs.selectExpr("z", "nb AS b"), "z")
        .filter("a < b")
    )
    cand = pairs.join(
        und.selectExpr("u AS a", "v AS b"), ["a", "b"], "left_anti"
    )
    return (
        cand.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr("CAST(FLOOR(1000000 / degz) AS BIGINT)")).alias(
                "ra_u"
            ),
        )
        .filter("n_common >= 2")
    )


_LPA_ROUNDS = 4


def _lpa_labels(dirs: DataFrame) -> DataFrame:
    """``_LPA_ROUNDS`` synchronous label-propagation rounds over a
    symmetric ``(src, dst)`` edge list, every node starting as its own
    label: each round a node adopts the most frequent label among its
    neighbours, ties to the smallest.  Returns ``(v, label)`` rows,
    localCheckpointed per round (gotcha 15)."""
    labels = dirs.selectExpr("src AS v", "src AS label").distinct()
    pick = Window.partitionBy("dst").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(_LPA_ROUNDS):
        cnt = (
            dirs.join(labels, dirs.src == labels.v)
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(pick))
            .filter("rn = 1")
            .selectExpr("dst AS v", "label")
            .localCheckpoint()
        )
    return labels


def label_propagation_roads(spark, sf_dir):
    """COMMUNITY DETECTION via label propagation on the road graph
    (same 0.1° quantization as road_graph_bfs): FIXED 4 synchronous
    rounds, each node adopting the most frequent label among its
    neighbors, ties to the smallest label — the deterministic LPA
    variant (fixed rounds + total-order tie-break kills the usual LPA
    nondeterminism, same discipline as the fixed-iteration PageRank).

    Plan shape per round: one equi-join (edges ⋈ labels on src) + one
    map-side-combinable (dst, label) count + one per-dst ranking
    window — all hash-partitioned on node ids, labels localCheckpointed
    per round (gotcha 15).  Oracle: the identical 4 rounds as a LINEAR
    CTE chain (each round references the previous exactly once — the
    twice-referenced chained-CTE 2^rounds blowup documented at
    shortest_path_weighted does not arise).
    Output: community size + node-id checksum per surviving label.
    """
    und = _und_edges(_road_node_pairs(spark))
    dirs = und.selectExpr("u AS src", "v AS dst").unionAll(
        und.selectExpr("v AS src", "u AS dst")
    ).localCheckpoint()  # probed every round
    # r06: loop under _drain_confs (codegen off + 8 partitions,
    # restored) — per-round plan churn, the _components_jump lesson
    with _drain_confs(spark):
        labels = _lpa_labels(dirs)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("v").alias("checksum"),
    )


_KCORE_K = 2
_KCORE_ROUNDS = 8


def kcore_roads(spark, sf_dir):
    """k-CORE decomposition (k=2, 8 synchronous peel rounds) of the
    road-network graph (same 0.1-degree quantization as
    road_graph_bfs) — the degeneracy pruning step graph pipelines run
    before community/centrality work.  Each peel round is ONE windowed
    filter over the SYMMETRIC edge list: COUNT(*) OVER (PARTITION BY
    src) is the node degree (edges stored both directions), and
    dropping edges where either endpoint's degree < k removes the
    node.  That form makes every round reference the previous edge
    set EXACTLY once — two hash-partitioned window exchanges on Spark
    (lineage kept linear via localCheckpoint, gotcha 15), and a
    single-reference CTE chain in the DuckDB twin (the shortest-path
    lesson: a twice-referenced chained CTE re-inlines its whole
    prefix per round, 2^rounds blowup).  Fixed-round on BOTH sides so
    parity is exact; convergence at this scale is pinned by pytest
    (an extra round changes nothing).  Output: one row — core node
    count, node-id checksum, core edge count.
    """
    sym = _sym_edges(_road_node_pairs(spark)).localCheckpoint()
    # r06: peel rounds under _drain_confs (codegen off + 8 partitions,
    # restored) — per-round plan churn, the _components_jump lesson
    with _drain_confs(spark):
        for _ in range(_KCORE_ROUNDS):
            sym = (
                sym.selectExpr(
                    "src", "dst",
                    "COUNT(*) OVER (PARTITION BY src) AS ds",
                    "COUNT(*) OVER (PARTITION BY dst) AS dd",
                )
                .filter(f"ds >= {_KCORE_K} AND dd >= {_KCORE_K}")
                .select("src", "dst")
                .localCheckpoint()
            )
    return sym.agg(
        F.expr("CAST(COUNT(DISTINCT src) AS BIGINT)").alias("n_core_nodes"),
        F.expr("CAST(COALESCE(SUM(DISTINCT src), 0) AS BIGINT)").alias(
            "sum_node"
        ),
        F.expr("CAST(FLOOR(COUNT(*) / 2) AS BIGINT)").alias("n_core_edges"),
    )


def textrank_keywords(spark, sf_dir):
    """TEXTRANK keyword extraction (graph-based, the unsupervised
    alternative to RAKE/TF-IDF in this engine's text suite): adjacent
    word pairs form an undirected co-occurrence graph — parallel
    pairs become edge weights inside pagerank()'s groupBy — and the
    INTEGER-EXACT fixed-iteration PageRank (BIGINT micro-units, FLOOR
    divisions; same kernel as pagerank_roads) ranks the vocabulary.
    The ranking window runs over the VOCAB-sized rank table (bounded
    by distinct words, never the corpus).  Oracle: the identical
    unrolled recurrence in SQL over the same bigrams.
    Output: top-15 words by rank, deterministic (pr DESC, word) ties.
    """
    docs = _t(spark, sf_dir, "documents")
    ws = docs.selectExpr("split(text, ' ') AS ws")
    pairs = (
        ws.selectExpr("ws", "explode(sequence(1, size(ws) - 1)) AS i")
        .selectExpr("ws[i - 1] AS a", "ws[i] AS b")
        .filter("a <> b")
    )
    edges = pairs.selectExpr("a AS src", "b AS dst").unionAll(
        pairs.selectExpr("b AS src", "a AS dst")
    )
    pr = pagerank(edges).select(F.col("node").alias("word"), "pr")
    rnk = F.row_number().over(
        Window.orderBy(F.col("pr").desc(), F.col("word"))
    )
    return pr.withColumn("rnk", rnk.cast("int")).filter(F.col("rnk") <= 15)


# Directed road-graph edges: same quantized endpoints as
# pagerank_roads (_PR_NODE_A/B), but KEPT DIRECTED (a→b as
# drawn) so hub and authority scores genuinely differ (symmetrizing
# would make them equal by construction).
_HITS_ITERS = 3


def hits_roads(spark, sf_dir):
    """HITS hubs/authorities on the DIRECTED quantized road graph,
    INTEGER-EXACT: scores stay unnormalized BIGINTs (ranking is
    scale-invariant, so the per-round sqrt normalization — the only
    float in classic HITS — is dropped; 2k=6 mat-vec products over
    degree ≤ ~10² keeps scores far inside int64).  Per round: ONE
    edges⋈score equi-join + map-side-combined SUM, localCheckpointed
    (gotcha 15).  Output: top-10 per role with deterministic
    tie-break.  Oracle: the identical recurrence as an unrolled LINEAR
    CTE chain (each round references only the previous one — the
    shortest_path_weighted lesson)."""
    from ..harness import segments_df

    segs = segments_df(spark, sf_dir).withColumnRenamed("by", "byy")
    edges = (
        segs.selectExpr(f"{_PR_NODE_A} AS src", f"{_PR_NODE_B} AS dst")
        .filter("src <> dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # r06: loop under _drain_confs (codegen off + 8 partitions,
    # restored) — per-round plan churn, the _components_jump lesson
    with _drain_confs(spark):
        hub = nodes.select("node", F.lit(1).cast("bigint").alias("h"))
        for _ in range(_HITS_ITERS):
            auth = (
                edges.join(hub, edges.src == hub.node)
                .select("dst", F.expr("w * h AS c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("a"))
            )
            auth = (
                nodes.join(auth, nodes.node == auth.dst, "left")
                .selectExpr("node", "CAST(COALESCE(a, 0) AS BIGINT) AS a")
                .localCheckpoint()
            )
            hub = (
                edges.join(auth, edges.dst == auth.node)
                .select("src", F.expr("w * a AS c"))
                .groupBy("src")
                .agg(F.sum("c").alias("h"))
            )
            hub = (
                nodes.join(hub, nodes.node == hub.src, "left")
                .selectExpr("node", "CAST(COALESCE(h, 0) AS BIGINT) AS h")
                .localCheckpoint()
            )
        w_h = Window.orderBy(F.col("score").desc(), F.col("node").asc())
    top_h = (
        hub.selectExpr("node", "h AS score")
        .withColumn("rnk", F.row_number().over(w_h).cast("int"))
        .filter("rnk <= 10")
        .selectExpr("'hub' AS role", "node", "score", "rnk")
    )
    top_a = (
        auth.selectExpr("node", "a AS score")
        .withColumn("rnk", F.row_number().over(w_h).cast("int"))
        .filter("rnk <= 10")
        .selectExpr("'authority' AS role", "node", "score", "rnk")
    )
    return top_h.unionAll(top_a)


def closeness_roads(spark, sf_dir):
    """Closeness centrality of the top-5 road-graph hubs: MULTI-SOURCE
    BFS — one frontier carrying a seed label, so all 5 sources expand
    in the SAME per-round equi-join (5x the rows, not 5x the rounds);
    per round: frontier ⋈ edges + distinct + composite-key anti-join
    against visited, localCheckpointed (gotcha 15).  Closeness =
    (reached - 1) / sum(hops) in FLOOR micros.  Oracle: DuckDB
    recursive CTE over (seed, node) pairs with MIN(hops) dedup — the
    road_graph_bfs twin generalized to a labeled walk."""
    edges = _sym_edges(_road_node_pairs(spark)).localCheckpoint()
    seeds = _hubs(edges, 5).selectExpr(
        "src AS seed", "src AS node", "CAST(0 AS INT) AS hops"
    )
    # r06: loop under _drain_confs (codegen off + 8 partitions,
    # restored) — per-round plan churn, the _components_jump lesson
    with _drain_confs(spark):
        visited = seeds.localCheckpoint()
        frontier = visited
        for hop in range(1, 17):  # same hop bound as road_graph_bfs
            nxt = (
                frontier.join(edges, frontier.node == edges.src)
                .select("seed", F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("seed", "node"), ["seed", "node"],
                      "left_anti")
                .withColumn("hops", F.lit(hop).cast("int"))
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt).localCheckpoint()
            frontier = nxt
    return visited.groupBy("seed").agg(
        F.expr("CAST(COUNT(*) - 1 AS BIGINT) AS n_reached"),
        F.expr("CAST(SUM(hops) AS BIGINT) AS sum_hops"),
        F.expr("CAST(FLOOR(1000000.0 * (COUNT(*) - 1) / SUM(hops))"
               " AS BIGINT) AS closeness_micros"),
    )


_BC_HOPS = 12
_BC_SEEDS = 5


def betweenness_roads(spark, sf_dir):
    """BETWEENNESS CENTRALITY (Brandes) from the top-5 max-degree
    seeds over the quantized road graph — the bridge-detection metric
    completing the centrality family (PageRank / HITS / closeness).
    Forward phase: layered BFS carrying sigma (shortest-path counts,
    exact BIGINT sums over hop-(d-1) predecessors).  Backward phase:
    dependency accumulation kept INTEGER by flooring each edge term —
    delta_v += (sigma_v * (1e6 + delta_w)) DIV sigma_w — so every fold
    is an exact BIGINT sum (gotcha 8; the float Brandes recurrence
    would reassociate).  Hop cap 12 = the round bound (iteration count
    fixed by spec, not data — the shortest_path_weighted argument).

    Plan shape: per-round equi-joins on the frontier only,
    localCheckpointed (gotcha 15); the backward pass joins adjacent
    LAYERS (each a fraction of the graph), never all-pairs; final
    ranking window runs over the node-bounded centrality table.
    Oracle: the identical recurrence as a generated linear CTE chain
    (single back-reference per round, MATERIALIZED multi-referenced
    bases — the label_propagation/shortest_path pattern)."""
    edges = _sym_edges(_road_node_pairs(spark)).localCheckpoint()
    seeds = _hubs(edges, _BC_SEEDS).selectExpr("src AS seed")
    # r06: both sweep loops under _drain_confs (codegen off + 8
    # partitions, restored) — per-round plan churn over layer-sized
    # relations, the _components_jump lesson
    with _drain_confs(spark):
        layer = seeds.selectExpr(
            "seed", "seed AS node", "CAST(1 AS BIGINT) AS sigma"
        ).localCheckpoint()
        visited = layer.select("seed", "node").localCheckpoint()
        layers = [layer]
        for _d in range(1, _BC_HOPS + 1):
            nxt = (
                layer.join(edges, layer.node == edges.src)
                .groupBy("seed", "dst")
                .agg(F.sum("sigma").alias("sigma"))
                .withColumnRenamed("dst", "node")
                .join(visited, ["seed", "node"], "left_anti")
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(
                nxt.select("seed", "node")
            ).localCheckpoint()
            layer = nxt
            layers.append(nxt)
        # backward dependency accumulation, deepest layer first (delta 0)
        delta = layers[-1].withColumn("delta", F.lit(0).cast("long"))
        acc = [] if len(layers) == 1 else [delta]
        for d in range(len(layers) - 2, 0, -1):
            contrib = (
                layers[d].alias("v")
                .join(edges, F.col("v.node") == edges.src)
                .join(
                    delta.selectExpr(
                        "seed AS wseed", "node AS wnode", "sigma AS wsigma",
                        "delta AS wdelta",
                    ),
                    (F.col("v.seed") == F.col("wseed"))
                    & (F.col("dst") == F.col("wnode")),
                )
                .selectExpr(
                    "v.seed AS seed", "v.node AS node",
                    "(v.sigma * (1000000 + wdelta)) DIV wsigma AS term",
                )
                .groupBy("seed", "node")
                .agg(F.sum("term").alias("dsum"))
            )
            delta = (
                layers[d]
                .join(contrib, ["seed", "node"], "left")
                .selectExpr(
                    "seed", "node", "sigma",
                    "COALESCE(dsum, CAST(0 AS BIGINT)) AS delta",
                )
                .localCheckpoint()
            )
            acc.append(delta)
    if not acc:
        return spark.createDataFrame(
            [], "rk int, node bigint, bc_micros bigint, n_seeds bigint"
        )
    alld = acc[0]
    for df in acc[1:]:
        alld = alld.unionByName(df)
    bc = alld.groupBy("node").agg(
        F.sum("delta").alias("bc_micros"),
        F.count(F.lit(1)).alias("n_seeds"),
    )
    wr = Window.orderBy(F.col("bc_micros").desc(), "node")
    return (
        bc.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter("rk <= 10")
        .select("rk", "node", "bc_micros", "n_seeds")
    )


def mst_roads(spark, sf_dir):
    """MINIMUM SPANNING FOREST of the quantized road graph via
    DISTRIBUTED BORUVKA — the clustering/backbone primitive the graph
    family was missing (single-linkage clustering IS an MST cut).
    Edge weight keys (w, u, v) are strictly distinct, so the forest is
    unique and min(struct) per component is a total-order pick: each
    round every component selects its minimum outgoing edge (never a
    cycle under distinct keys), selected edges merge components via
    the pointer-jumped min-label primitive, and the component count at
    least halves per round — ≤ log2(max component size) rounds, each a
    pair of broadcast-scale joins + a tiny component-graph jump, all
    localCheckpointed (gotcha 15).

    Oracle: committed INDEPENDENT golden — scalar KRUSKAL with
    union-find over the same edges (scripts/make_goldens.py) — plus a
    LIVE relational node count over the roads parquet (load-bearing).
    """
    edges_sym = _spw_edges(spark)
    eu = (
        edges_sym.filter("src < dst")
        .selectExpr("src AS u", "dst AS v", "w")
        .localCheckpoint()
    )
    nodes = eu.selectExpr("u AS k").union(eu.selectExpr("v")).distinct()
    labels = nodes.selectExpr("k AS node", "k AS label").localCheckpoint()
    spark_ = eu.sparkSession
    # r06: 8 shuffle partitions + codegen OFF for the loop (see
    # _components_jump: per-round plan churn over component-sized
    # relations means compile time dominates) — via the shared
    # _drain_confs scope (review consolidation; nested _components_
    # jump calls re-enter it safely, restoring to THIS scope's confs).
    # r06 job-count reduction (the loop is fixed-cost-bound: ~20 ms
    # stages — see _components_jump): the forest's THREE output
    # aggregates (edge count, Σw, Σ(u·1000003+v)) are associative, so
    # each round folds its chosen-edge aggregate into driver-side ints
    # with ONE tiny job instead of materializing a growing
    # union-localCheckpoint chain of edge frames (2 actions/round +
    # a final scan, and the chain itself re-uploaded per round).
    # The selected edges per round and hence the sums are unchanged.
    n_mst = tot_w = chk = 0
    with _drain_confs(spark_):
        for _ in range(12):
            act = (
                eu.join(labels.selectExpr("node AS u", "label AS lu"), "u")
                .join(labels.selectExpr("node AS v", "label AS lv"), "v")
                .filter("lu <> lv")
                .localCheckpoint()
            )
            if act.isEmpty():
                break
            cand = act.selectExpr(
                "lu AS comp", "w", "u", "v", "lv AS other"
            ).unionByName(
                act.selectExpr("lv AS comp", "w", "u", "v", "lu AS other")
            )
            sel = (
                cand.groupBy("comp")
                .agg(F.min(F.struct("w", "u", "v", "other")).alias("m"))
                .selectExpr(
                    "comp", "m.w AS w", "m.u AS u", "m.v AS v",
                    "m.other AS other",
                )
                .localCheckpoint()
            )
            row = (
                sel.select("u", "v", "w").distinct()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("w").alias("sw"),
                    F.sum(F.expr("u * 1000003 + v")).alias("ck"),
                )
                .collect()[0]
            )
            n_mst += int(row.n)
            tot_w += int(row.sw)
            chk += int(row.ck)
            comp_labels = _components_jump(
                sel.selectExpr("comp AS src", "other AS dst"),
                sel.selectExpr("comp AS k").distinct(),
            )
            labels = (
                labels.join(
                    comp_labels.selectExpr("v AS label", "label AS nl"),
                    "label", "left",
                )
                .selectExpr("node", "COALESCE(nl, label) AS label")
                .localCheckpoint()
            )
        else:
            raise RuntimeError("Boruvka did not converge in 12 rounds")
    nstats = labels.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.countDistinct("label").alias("n_components"),
    )
    return nstats.selectExpr(
        "CAST(n_nodes AS BIGINT) AS n_nodes",
        "CAST(n_components AS BIGINT) AS n_components",
        f"CAST({n_mst} AS BIGINT) AS n_mst_edges",
        f"CAST({tot_w} AS BIGINT) AS total_w",
        f"CAST({chk} AS BIGINT) AS chk",
    )


_DIAM_MAX_HOPS = 32  # shared bound — mirrored in the oracle CTEs


def roads_graph_diameter(spark, sf_dir):
    """DOUBLE-SWEEP DIAMETER estimate of the road graph — the classic
    2-BFS lower bound (sweep 1 from the max-degree hub finds the
    farthest node u; sweep 2 from u measures ecc(u), which on
    tree-like road networks is usually the exact diameter).  Both
    sweeps are the certified BFS frontier loop; argmax picks are
    (hops desc, node asc) deterministic.  Oracle: TWO chained
    recursive CTEs over the same quantized graph, identical 32-hop
    bound."""
    edges = _sym_edges(_road_node_pairs(spark)).localCheckpoint()
    hub = _hubs(edges, 1).selectExpr("src AS node")
    # the frontier tables are graph-sized, not corpus-sized — run the
    # ~2x32 tiny rounds at 8 shuffle partitions (gotcha 16d: iterative
    # fixed cost = partitions x rounds x stages) with codegen OFF for
    # the rounds too (per-round plan churn); r06 review consolidation:
    # one shared scoped helper instead of a hand-rolled save/restore
    with _drain_confs(spark):
        lab1 = _bfs_labels(edges, hub, _DIAM_MAX_HOPS)
        far1 = (
            lab1.orderBy(F.col("hops").desc(), F.col("node").asc())
            .limit(1)
        )
        lab2 = _bfs_labels(edges, far1.select("node"), _DIAM_MAX_HOPS)
        far2 = (
            lab2.orderBy(F.col("hops").desc(), F.col("node").asc())
            .limit(1)
        )
    return (
        hub.selectExpr("node AS hub")
        .crossJoin(far1.selectExpr("node AS u", "hops AS ecc_hub"))
        .crossJoin(far2.selectExpr("node AS v", "hops AS diameter_lb"))
        .crossJoin(
            lab2.agg(
                F.count(F.lit(1)).alias("n_reachable"),
                F.sum("node").alias("chk"),
            )
        )
        .selectExpr(
            "hub", "ecc_hub", "u", "diameter_lb", "v",
            "CAST(n_reachable AS BIGINT) AS n_reachable",
            "CAST(chk AS BIGINT) AS chk",
        )
    )


def roads_bipartite_check(spark, sf_dir):
    """BIPARTITENESS TEST of the road graph (2-colorability — the
    odd-cycle detector; a planar street grid is bipartite iff no odd
    block cycles): BFS hop-parity labels from the max-degree hub (the
    certified frontier loop), then one pass over the edges counts
    same-parity endpoints — each is an odd cycle witness.  Oracle:
    recursive-CTE BFS + identical conflict count."""
    edges = _sym_edges(_road_node_pairs(spark)).localCheckpoint()
    hub = _hubs(edges, 1).selectExpr("src AS node")
    visited = _bfs_labels(edges, hub, _DIAM_MAX_HOPS).localCheckpoint()
    lab = visited.selectExpr("node", "hops % 2 AS par")
    conf = (
        edges.filter("src < dst")
        .join(lab.selectExpr("node AS src", "par AS pa"), "src")
        .join(lab.selectExpr("node AS dst", "par AS pb"), "dst")
        .agg(
            F.count(F.lit(1)).alias("n_edges_comp"),
            F.sum(F.expr("CASE WHEN pa = pb THEN 1 ELSE 0 END"))
            .alias("n_conflicts"),
        )
    )
    n_vis = visited.count()
    return conf.selectExpr(
        f"CAST({n_vis} AS BIGINT) AS n_visited",
        "n_edges_comp", "n_conflicts",
        "CAST(CASE WHEN n_conflicts = 0 THEN 1 ELSE 0 END AS INT)"
        " AS is_bipartite",
    )


def community_modularity(spark, sf_dir):
    """MODULARITY of the certified label-propagation communities — the
    quality score that makes community detection an EVALUATED op (the
    eval-composition pattern of ann_recall_eval / quantile_sketch_eval):
    re-runs the 4 deterministic LPA rounds, then per community c emits
    m_in (intra edges), deg_sum, and the EXACT integer contribution
    4·m·m_in − deg_sum² (Q = Σ contrib / 4m² — everything BIGINT until
    one double division whose operands stay under 2^53, then FLOOR to
    ppm; negative-numerator DIV truncation differs across engines, so
    the division runs in DOUBLE, gotcha-7 discipline).  The Q window
    sum runs over the communities relation (small by construction)."""
    # probed by LP rounds AND the intra-edge pass
    und = _und_edges(_road_node_pairs(spark)).localCheckpoint()
    dirs = und.selectExpr("u AS src", "v AS dst").unionAll(
        und.selectExpr("v AS src", "u AS dst")
    ).localCheckpoint()
    labels = _lpa_labels(dirs)
    m_df = und.agg(F.count(F.lit(1)).alias("m"))
    deg = dirs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    lab_u = labels.selectExpr("v AS u", "label AS lu")
    lab_v = labels.selectExpr("v AS v", "label AS lv")
    intra = (
        und.join(lab_u, "u").join(lab_v, "v")
        .filter("lu = lv")
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("m_in"))
    )
    per_c = (
        labels.join(deg, labels.v == deg.src)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_nodes"),
             F.sum("deg").alias("deg_sum"))
        .join(intra, "label", "left")
        .selectExpr("label", "n_nodes", "COALESCE(m_in, 0) AS m_in",
                    "deg_sum")
        .crossJoin(F.broadcast(m_df))
        .selectExpr(
            "label", "n_nodes", "m_in", "deg_sum",
            "4 * m * m_in - deg_sum * deg_sum AS contrib", "m",
        )
    )
    return per_c.selectExpr(
        "label", "n_nodes", "m_in", "deg_sum", "contrib",
        "CAST(FLOOR(1000000.0 * CAST(SUM(contrib) OVER () AS DOUBLE)"
        " / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))"
        " AS BIGINT) AS q_ppm",
    ).orderBy("label")


QUERIES = {
    "kcore_roads": kcore_roads,
    "textrank_keywords": textrank_keywords,
    "label_propagation_roads": label_propagation_roads,
    "link_prediction_roads": link_prediction_roads,
    "triangle_count_roads": triangle_count_roads,
    "shortest_path_weighted": shortest_path_weighted,
    "pagerank_roads": pagerank_roads,
    "road_graph_bfs": road_graph_bfs,
    "hits_roads": hits_roads,
    "closeness_roads": closeness_roads,
    "betweenness_roads": betweenness_roads,
    "mst_roads": mst_roads,
    "roads_graph_diameter": roads_graph_diameter,
    "roads_bipartite_check": roads_bipartite_check,
    "community_modularity": community_modularity,
}
