"""Driver-harness queries: one builder per implemented operator
(SURVEY.md §2; __spark_entry__.queries()).

Each function takes (spark, sf_dir) and returns a DataFrame whose
column names/values match the DuckDB oracle in oracles.py.  Spatial
queries run through the engine's DataFrame builders (ops/spatial.py);
relational/text/vector queries use the pyspark.sql surface directly —
Catalyst handles pushdown/broadcast/AQE (SURVEY.md §4).

Float policy (oracle parity): spatial math is bit-identical by
construction (sqlgen.py); aggregate sums over many doubles are rounded
coarsely (ROUND(sum, -2)) because partial-agg order differs between
engines; averages/ratios get finer rounding (error shrinks by 1/n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import cells as C
from .harness import (
    KNN_CUTOFF_M,
    harness_rings,
    points_df,
    segments_df,
)
from .ops import spatial as SP


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .tablecache import read_table

    return read_table(spark, f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _prep(spark: SparkSession) -> None:
    """Engine session prep for driver-owned sessions: non-ANSI arithmetic
    (see session.py — 10x on morton packing; semantics identical for the
    engine's proven-non-overflowing expressions) + ship the engine
    package to executor Python workers (deploy.ensure_pyfiles)."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # SMALL-HEAP hygiene (driver-owned default-1g sessions only): drop
    # caches left by PREVIOUS queries (persisted LSH bands, kNN
    # frontiers, component rounds, …) and force a JVM GC so the
    # ContextCleaner actually releases their blocks and the accumulated
    # broadcasts (cleanup is weak-reference-driven — without a GC the
    # blocks linger).  A 50-query sweep in a 1g session otherwise
    # accumulates a few hundred MB and the heavy queries OOM (measured).
    # Runs before this query builds any cache of its own, so nothing
    # live is lost.  Skipped on big-heap engine sessions, where a
    # forced full GC would only add latency.
    try:
        jvm = spark.sparkContext._jvm
        if jvm.java.lang.Runtime.getRuntime().maxMemory() < 2 * 1024**3:
            # Cap Arrow batches for SMALL-HEAP sessions only (ADVICE r02:
            # the unconditional cap silently quartered pandas-UDF batch
            # size on 8g engine sessions, which keep session.py's 4096).
            # At the default 10000 rows/batch, 8 concurrent image-bytes
            # batches (~18 KB/row) hold ~1.4 GB on-heap and OOM a 1g
            # sweep; 1024 keeps peak per-task memory ~18 MB.
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
            spark.catalog.clearCache()
            jvm.System.gc()
    except Exception:
        pass
    from .deploy import ensure_pyfiles

    ensure_pyfiles(spark)


# ---------------------------------------------------------------------------
# Spatial ★ (engine operators; oracles share the sqlgen fragments)
# ---------------------------------------------------------------------------


def flagship_rai(spark, sf_dir):
    _prep(spark)
    """End-to-end RAI: points → kNN road ≤60 km → PIP country → agg.

    The graft of the reference's PopulationNearRoadsJob (SURVEY.md
    §3.1): per-country share of points within cutoff of a road.
    """
    pts = points_df(spark, sf_dir)
    segs = segments_df(spark, sf_dir)
    # scale architecture: country assignment and the near-road flag are
    # both broadcast/map-side, feeding ONE aggregation pass — the only
    # shuffle over the fact table is the input redistribution.  The flag
    # uses the existence form (a correlated EXISTS → ExistenceJoin) —
    # RAI needs "within cutoff of ANY road", not the argmin.
    # flag BEFORE country assignment: the ExistenceJoin then probes the
    # point stream below the ray-cast's Arrow stage
    flagged = SP.with_near_road_flag(pts, segs, KNN_CUTOFF_M)
    cc = SP.assign_countries(flagged, harness_rings(), level=9, id_col="point_id")
    return (
        cc.groupBy("country_code")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.when(F.col("near_road"), 1).otherwise(0)).alias("n_near"),
        )
        .withColumn(
            "rai",
            F.round(
                F.col("n_near").cast("double") / F.col("n_points").cast("double"), 6
            ),
        )
    )


def spatial_cell_cover(spark, sf_dir):
    _prep(spark)
    """C1: quadtree cell id per point at level 12, count per cell."""
    pts = SP.with_point_cell(points_df(spark, sf_dir), 12)
    return pts.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_points"))


# Ad-hoc area-of-interest for spatial_region_query: an irregular
# pentagon inside the world patch.  Driver-side constants — the SAME
# literals are embedded in the Spark rings dict and the DuckDB edges
# VALUES, so parity never depends on how they were generated.
import math as _math

AOI_RING = [
    (
        6.3 + (1.7 + 0.2 * ((k * 7) % 3)) * _math.cos(2 * _math.pi * k / 5 + 0.3),
        3.7 + (1.4 + 0.2 * ((k * 7) % 3)) * _math.sin(2 * _math.pi * k / 5 + 0.3),
    )
    for k in range(5)
]
AOI_RING.append(AOI_RING[0])  # closed


def spatial_region_query(spark, sf_dir):
    _prep(spark)
    """J2b (r04): ad-hoc REGION query — which points fall inside a
    user-supplied polygon (the reusable form of the country machinery:
    ``assign_countries`` with a one-ring dict runs the same compacted
    interior dims + boundary-strip + exact ray-cast pipeline for any
    AOI).  Returns the inside point ids; the oracle ray-casts the same
    pentagon edges relationally."""
    import numpy as np

    ring = np.array(AOI_RING, dtype=np.float64)
    pts = points_df(spark, sf_dir)
    assigned = SP.assign_countries(pts, {"AOI": ring}, level=7,
                                   id_col="point_id")
    return assigned.filter(F.col("country_code") == "AOI").select("point_id")


def spatial_pyramid(spark, sf_dir):
    _prep(spark)
    """C1b (r04): tile PYRAMID build — the GeoTrellis Pyramid.up
    analogue: per-cell point counts rolled up levels 12→9 by packed-id
    parent truncation ((level−s)<<54 | code>>2s).  ONE pass: a 4-row
    explode per point then a single (level, cell) aggregation — never a
    union of per-level branches, which would re-plan and re-scan the
    upstream per level (CLAUDE.md gotcha 3).  Bit ops only ⇒ DuckDB
    recomputes the identical ids."""
    pts = SP.with_point_cell(points_df(spark, sf_dir), 12)
    mask = (1 << 54) - 1
    ex = pts.select(
        "cell_id", F.explode(F.expr("array(0, 1, 2, 3)")).alias("s")
    )
    cells = ex.select(
        (F.lit(12) - F.col("s")).cast("int").alias("level"),
        F.expr(
            f"(CAST(12 - s AS BIGINT) << 54) | "
            f"((cell_id & CAST({mask} AS BIGINT)) >> (2 * s))"
        ).alias("cell"),
    )
    return cells.groupBy("level", "cell").agg(
        F.count(F.lit(1)).alias("n_points")
    )


def spatial_knn_nearest(spark, sf_dir):
    _prep(spark)
    """J4 ★: nearest road per point (exact; verified vs brute-force SQL)."""
    near = SP.knn_nearest_road(
        points_df(spark, sf_dir), segments_df(spark, sf_dir), KNN_CUTOFF_M,
        id_col="point_id",
    )
    return near.select(
        "point_id", "road_id", F.round("dist_m", 6).alias("dist_m")
    )


def spatial_knn_topk(spark, sf_dir):
    _prep(spark)
    """J4b (r05): 3 nearest roads per point within the cutoff — exact
    top-k via candidate equi-join + per-road min + rank window; the
    DuckDB oracle is brute-force cross-join ranked top-3 (VERDICT r04
    item 6)."""
    near = SP.knn_topk_roads(
        points_df(spark, sf_dir), segments_df(spark, sf_dir), KNN_CUTOFF_M,
        k=3, id_col="point_id",
    )
    return near.select(
        "point_id", "road_id", F.round("dist_m", 6).alias("dist_m"), "rnk"
    )


def spatial_pip_country(spark, sf_dir):
    _prep(spark)
    """J2 ★: compacted-cell candidates + exact ray-cast assignment."""
    cc = SP.assign_countries(
        points_df(spark, sf_dir), harness_rings(), level=9, id_col="point_id"
    )
    return cc.select("point_id", "country_code")


def spatial_join_cells(spark, sf_dir):
    _prep(spark)
    """J1 ★: points × road-segment cover equi-join at level 5."""
    pts = SP.with_point_cell(points_df(spark, sf_dir), 5)
    segs = SP.segments_with_cells(segments_df(spark, sf_dir), 5)
    pairs = SP.spatial_join(
        pts.select("cell_id", "point_id"), segs.select("cell_id", "road_id")
    )
    return pairs.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_pairs"))


def spatial_kring_cells(spark, sf_dir):
    _prep(spark)
    """C3: k-ring neighborhood per point at level 10 (world-clipped)."""
    pts = SP.with_point_cell(points_df(spark, sf_dir), 10, keep_idx=True)
    ring = SP.with_kring(pts, 10, 1, idx_cols=("cell_id_ix", "cell_id_iy"))
    return ring.groupBy("point_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.min("ring_cell_id").alias("min_cell"),
    )


def spatial_compact_cover(spark, sf_dir):
    """C2 ★: DISTRIBUTED compacted cover of the distinct point cells at
    level 7 — ancestor-count sibling merge (SP.compact_cover), verified
    against a DuckDB oracle with the same single-pass formulation (and
    against cells.compact in tests/test_cells.py)."""
    _prep(spark)
    pts = SP.with_point_cell(points_df(spark, sf_dir), 7)
    dense = pts.select("cell_id").distinct()
    return SP.compact_cover(dense, 7).select("cell_id", "level")


def spatial_range_join(spark, sf_dir):
    """J6 ★ (planned, r03 — was a documented fallback): Z-order RANGE
    join of level-12 point cells against the level-7 compacted cover,
    executed as a bin equi-join + range residual (never BNLJ — plan
    pinned in tests/test_plans.py).  Every point lands in exactly one
    cover cell, so the per-cover-cell counts sum to the input row count
    (asserted in tests); the DuckDB oracle reruns the identical shift
    arithmetic over the same compact-cover CTE."""
    _prep(spark)
    pts = SP.with_point_cell(points_df(spark, sf_dir), 12)
    dense = (
        SP.with_point_cell(points_df(spark, sf_dir), 7)
        .select("cell_id")
        .distinct()
    )
    cover = SP.compact_cover(dense, 7)
    joined = SP.range_join_compacted(
        pts.select("point_id", "cell_id"), cover, point_level=12, bin_level=3
    )
    return (
        joined.groupBy("cover_cell", "cover_level")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(
            F.col("cover_cell").alias("cell_id"),
            F.col("cover_level").alias("level"),
            "n_points",
        )
    )


def spatial_hex_cover(spark, sf_dir):
    """C1 hex variant (the north star's H3-style index): pointy-top
    axial hex binning with exact cube rounding — shared SQL fragments,
    bit-identical in DuckDB; also twinned in numpy (cells.hex_cell,
    nearest-center property test)."""
    _prep(spark)
    from .sqlgen import apply_steps, hex_cell_steps

    steps = hex_cell_steps("lon", "lat", 0.05, "hex_id")
    pts = apply_steps(points_df(spark, sf_dir), steps)
    return pts.groupBy("hex_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("point_id").alias("min_point"),
    )


def spatial_hex_kring(spark, sf_dir):
    """C3 hex variant (r03): ring-1 neighborhood density on the axial
    hex grid — per point, how many points fall within hex distance 1
    (the 7-cell neighborhood).  Axial neighbor offsets are constant
    (dq, dr) deltas, and the packed id (q+8192)·16384 + (r+8192) makes
    a neighbor id a pure integer add — the hex twin of the quadtree
    k-ring's equi-join shape: histogram once, explode 7 offsets,
    equi-join on the neighbor id.  All int64 arithmetic, bit-identical
    in DuckDB."""
    _prep(spark)
    from .sqlgen import apply_steps, hex_cell_steps

    steps = hex_cell_steps("lon", "lat", 0.05, "hex_id")
    pts = apply_steps(points_df(spark, sf_dir), steps).select("point_id", "hex_id")
    hist = pts.groupBy("hex_id").agg(F.count(F.lit(1)).alias("n"))
    # pointy-top axial ring 1: (0,0) (1,0) (-1,0) (0,1) (0,-1) (1,-1) (-1,1)
    deltas = [0, 16384, -16384, 1, -1, 16384 - 1, -16384 + 1]
    neigh = (
        pts.withColumn("_d", F.explode(F.array(*[F.lit(d) for d in deltas])))
        .withColumn("nhex", F.col("hex_id") + F.col("_d"))
        .drop("_d")
    )
    joined = neigh.join(
        hist.select(F.col("hex_id").alias("nhex"), "n"), "nhex", "left"
    )
    return joined.groupBy("point_id").agg(
        F.sum(F.coalesce(F.col("n"), F.lit(0))).cast("long").alias("n_points_r1")
    )


def country_areas(spark, sf_dir):
    """Polygon geodesy over the country rings: exact shoelace AREA and
    perimeter per country — the zonal-geometry surface of the reference
    (ref computes per-country zonal stats over admin polygons).

    Float parity by construction: BOTH engines evaluate the identical
    VALUES literal + the identical running-window fold in ring-edge
    order (the OSM way-length trick) — shoelace terms are ``* - +``
    only, perimeter adds SQRT; no transcendentals, no reassociation."""
    _prep(spark)
    from .harness import edges_values_sql_indexed

    return spark.sql(f"""
WITH e AS (SELECT * FROM {edges_values_sql_indexed()}),
t AS (
  SELECT country_code, i,
         (x0 * y1 - x1 * y0) / CAST(2 AS DOUBLE) AS a_term,
         SQRT((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0)) AS len_deg
  FROM e
),
run AS (
  SELECT country_code, i,
         SUM(a_term) OVER (PARTITION BY country_code ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ra,
         SUM(len_deg) OVER (PARTITION BY country_code ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rl,
         ROW_NUMBER() OVER (PARTITION BY country_code ORDER BY i DESC) AS rn
  FROM t
)
SELECT country_code,
       ABS(ra) AS area_deg2,
       rl * CAST(111320 AS DOUBLE) AS perimeter_m
FROM run WHERE rn = 1
""")


def osm_way_assembly(spark, sf_dir):
    """S3: way assembly (nodes+ways → ordered coords → length) through
    the real osm.assemble_ways operator, over nodes/ways DERIVED from
    supplier with exact integer arithmetic (so the DuckDB oracle can
    regenerate them).  Length is a left fold in ref order on BOTH
    engines (Spark: aggregate(); DuckDB: running-window sum), so the
    doubles are bit-identical."""
    _prep(spark)
    from . import osm as OSM
    from .harness import NODE_X, NODE_Y

    sup = _t(spark, sf_dir, "supplier")
    nodes = (
        sup.select("s_suppkey")
        .withColumn("i", F.explode(F.expr("sequence(0, 3)")))
        .select(
            F.expr("s_suppkey * 8 + i").alias("node_id"),
            F.expr(NODE_X).alias("x"),
            F.expr(NODE_Y).alias("y"),
        )
    )
    ways = sup.select(
        F.col("s_suppkey").alias("way_id"),
        F.expr("transform(sequence(0, 3), i -> s_suppkey * 8 + i)").alias("nds"),
        F.expr("map('highway', 'primary')").alias("tags"),
    )
    asm = OSM.assemble_ways(nodes, ways)
    return OSM.way_lengths(asm).select(
        "way_id", "n_nodes", F.round("length_m", 6).alias("length_m")
    )


# ---------------------------------------------------------------------------
# Relational harness ◇ (SURVEY.md §2 F5/J7/A6/W2/O4, DataFrame API)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    # ROUND(avg, 6) here is a DELIBERATE exception to gotcha 8's
    # "never ROUND(avg, k) on few-decimal data": l_discount doubles are
    # binary-INEXACT (0.0x has no exact float64 form), so group
    # averages carry full-mantissa noise ~1e-16 that cannot land on a
    # 5e-7 rounding boundary; groups are thousands of rows.  Stable
    # across every driver run since r1.  (Same argument for
    # agg_stats_orders' ROUND(avg, 2).)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 0).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), -2).alias("sum_base"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q3_big_building_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                -2,
            ).alias("revenue")
        )
    )


def q5_nation_revenue(spark, sf_dir):
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                -2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def window_top3_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk", "o_totalprice")
    )


def rollup_status_priority(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), -2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
    )


def setops_brands(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    big = part.filter(F.col("p_size") > 40).select("p_brand").distinct()
    small = part.filter(F.col("p_size") < 5).select("p_brand").distinct()
    cheap = part.filter(F.col("p_retailprice") < 1200).select("p_brand").distinct()
    # (big ∩ small) ∪ (big \ cheap) — intersect/except/union surface (O4)
    return big.intersect(small).union(big.exceptAll(cheap)).distinct()


def agg_stats_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_custkey").alias("n_cust"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


def events_hourly(spark, sf_dir):
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    # FLOOR(SUM) instead of ROUND(AVG, k): the value column has few
    # decimal digits, so rounded averages can land exactly on a decimal
    # boundary where engines' sum order flips the last ulp.
    return ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum("value")).cast("long").alias("sum_value_floor"),
    )


def sessionize_users(spark, sf_dir):
    """Analytic chain: lag → gap flag → cumulative session id (W2)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "prev_ts", F.lag("ts").over(w)
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
            1,
        ).otherwise(0),
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_session").alias("n_sessions"),
    )


def json_extract_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k_val", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.sum("k_val").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data ops over documents (SURVEY.md graft extras: dedup,
# quality, language-ID, fingerprinting, MinHash LSH)
# ---------------------------------------------------------------------------


def dedup_fingerprint(spark, sf_dir):
    """Exact-dedup machinery: md5 fingerprint of the 8-token prefix."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "fp",
            F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))),
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def doc_token_stats(spark, sf_dir):
    """Token counting + quality scoring (length stats)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.round(
            (F.length("text") - F.size(toks) + 1).cast("double")
            / F.size(toks).cast("double"),
            6,
        ).alias("avg_token_len"),
    )


_STOPWORDS = ["the", "a", "of", "in", "and"]


def lang_stopword_score(spark, sf_dir):
    """Language-ID heuristic: stopword-hit ratio per document."""
    docs = _t(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    toks = F.split(F.col("text"), " ")
    n_stop = F.expr(
        f"size(filter(split(text, ' '), x -> x IN ({stop_list})))"
    )
    return docs.select(
        "doc_id",
        "lang",
        n_stop.alias("n_stop"),
        F.round(n_stop.cast("double") / F.size(toks).cast("double"), 6).alias(
            "stop_ratio"
        ),
    )


_MINHASH_SEEDS = ["s1", "s2", "s3", "s4"]


def _minhash_cols():
    """12-char shingles at stride 4 → 4 md5-order minhashes as per-row
    array HOF expressions.  Kept as the compact single-projection form
    for composition; note HOF lambdas evaluate INTERPRETED (CLAUDE.md
    gotcha 4) — _minhash_sig_df is the codegen'd aggregation twin."""
    shingles = (
        "transform(sequence(1, greatest(length(text) - 11, 1), 4), "
        "i -> substring(text, i, 12))"
    )
    return [
        F.expr(
            f"array_min(transform({shingles}, s -> md5(concat(s, '{seed}'))))"
        ).alias(f"mh{j + 1}")
        for j, seed in enumerate(_MINHASH_SEEDS)
    ]


def _minhash_sig_df(docs):
    """Signatures via EXPLODE + codegen aggregation: one shingle row per
    (doc, position), md5 per seed computed whole-stage-codegen'd, then
    a single map-side-combined groupBy(doc).min per seed.  Identical
    values to _minhash_cols (min over the same multiset) but the hash
    work runs compiled instead of interpreted HOF lambdas, and the
    shuffle carries one pre-reduced row per (partition, doc)."""
    # explode(sequence) + substring, NOT transform(..., i -> ...): the
    # lambda HOF is interpreted (gotcha 4) — measured 20x slower than
    # this codegen'd form on the shingle paths (r05).  Same rows.
    # r06: _spread parallelizes the explode + 4×md5 partial aggregate
    # across cores — the corpus arrives as ONE parquet split, so this
    # md5-dense pre-shuffle stage otherwise runs in a single task
    # (guide §2.5; no-op at scale where the scan is already wide).
    from .queries_ext import _spread

    sh = _spread(docs).selectExpr(
        "doc_id",
        "text",
        "explode(sequence(1, greatest(length(text) - 11, 1), 4)) AS i",
    ).selectExpr("doc_id", "substring(text, i, 12) AS s")
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("s"), F.lit(seed)))).alias(f"mh{j + 1}")
            for j, seed in enumerate(_MINHASH_SEEDS)
        ]
    )


def minhash_signatures(spark, sf_dir):
    """MinHash signature per document (md5-ordered, 4 hashes)."""
    docs = _t(spark, sf_dir, "documents")
    return _minhash_sig_df(docs)


def minhash_lsh_pairs(spark, sf_dir, target_rows_per_bucket: int = 8):
    """LSH candidate pairs: docs sharing ≥1 of 4 minhash bands.

    Classic shingle→minhash→band→bucket-join, hardened for scale:

    * signatures are computed ONCE and persisted — the self-join's two
      sides read the cache instead of re-evaluating the md5 shingle
      expressions per side;
    * HOT BUCKETS are salted (skew.plan_salts): a boilerplate-heavy
      band value concentrates n docs into one n² join group that AQE
      cannot split (single key).  The probe side gets
      ``salt = pmod(xxhash64(doc_id), n_salt(bucket))`` and the build
      side EXPLODES over all n_salt values, so the join key becomes
      (band, mh, salt), each original pair matches exactly once, and a
      hot bucket's work splits n_salt ways.  Cold buckets keep salt 0 —
      no replication cost.  Result set is hash-identical to the
      unsalted join (oracle-checked).
    """
    from .skew import plan_salts

    docs = _t(spark, sf_dir, "documents")
    sig = _minhash_sig_df(docs)
    bands = sig.selectExpr(
        "doc_id",
        "stack(4, 1, mh1, 2, mh2, 3, mh3, 4, mh4) AS (band, mh)",
    ).withColumn("bkey", F.concat_ws(":", "band", "mh"))
    from pyspark import StorageLevel

    # DISK_ONLY: signature caches from successive harness queries must
    # not accumulate heap in a default-1g driver session
    bands = bands.persist(StorageLevel.DISK_ONLY)
    hist = bands.groupBy("bkey").agg(F.count(F.lit(1)).alias("n_rows"))
    salts = plan_salts(hist, target_rows_per_bucket, cell_col="bkey")
    salted = (
        bands.join(F.broadcast(salts), bands.bkey == salts["_salt_cell"], "left")
        .drop("_salt_cell")
        .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
    )
    probe = salted.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.col("n_salt")).cast("int")
    )
    build = salted.withColumn(
        "salt", F.explode(F.expr("sequence(0, n_salt - 1)"))
    ).withColumn("salt", F.col("salt").cast("int"))
    a = build.alias("a")
    b = probe.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("a.salt") == F.col("b.salt")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    # Materialize the (small) pair set while the signature cache is
    # live, then RELEASE the cache (ADVICE r02: the bands blocks were
    # never unpersisted — repeated invocations in a long-lived big-heap
    # session accumulated disk/heap blocks forever).  The persisted
    # result is bounded (one row per candidate pair, no text/signature
    # payload) and is what the caller consumes.  CONTRACT: the returned
    # DataFrame stays cached for the consumer; a long-lived session
    # re-invoking this should df.unpersist() the previous result (the
    # harness's small-heap _prep clearCache covers driver sweeps).
    pairs = pairs.persist(StorageLevel.DISK_ONLY)
    pairs.count()
    bands.unpersist()
    return pairs


# ---------------------------------------------------------------------------
# Embedding ops (similarity search over array<float>)
# ---------------------------------------------------------------------------

_DOT = (
    "aggregate(zip_with(CAST(a.embedding AS ARRAY<DOUBLE>), "
    "CAST(b.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.expr(
            "ROUND(SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4)"
        ).alias("l2_norm"),
        "label",
    )


def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 per query vector (the exactness baseline
    for approximate variants; SURVEY.md training-data extras).

    The cartesian is BOUNDED by construction: the ≤10-row query side is
    explicitly broadcast, so the plan is one streaming pass over the
    target table probing a tiny broadcast (BroadcastNestedLoopJoin,
    pinned in tests/test_plans.py) — never an unbounded shuffle
    cartesian.  Scale replacements: ann_lsh_topk / ann_ivf_topk (bucket
    equi-joins, both oracle-checked)."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.expr(
        "SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    with_norm = emb.select("vec_id", "embedding", norm.alias("nrm"))
    queries_ = F.broadcast(with_norm.filter(F.col("vec_id") < 10)).alias("a")
    targets = with_norm.alias("b")
    pairs = (
        queries_.crossJoin(targets)
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.expr(f"{_DOT} / (a.nrm * b.nrm)").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", F.round("cos_sim", 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "flagship_rai": flagship_rai,
    "spatial_cell_cover": spatial_cell_cover,
    "spatial_pyramid": spatial_pyramid,
    "spatial_region_query": spatial_region_query,
    "spatial_knn_nearest": spatial_knn_nearest,
    "spatial_knn_topk": spatial_knn_topk,
    "spatial_pip_country": spatial_pip_country,
    "spatial_join_cells": spatial_join_cells,
    "spatial_kring_cells": spatial_kring_cells,
    "spatial_compact_cover": spatial_compact_cover,
    "spatial_range_join": spatial_range_join,
    "osm_way_assembly": osm_way_assembly,
    "country_areas": country_areas,
    "spatial_hex_cover": spatial_hex_cover,
    "spatial_hex_kring": spatial_hex_kring,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_big_building_orders": q3_big_building_orders,
    "q5_nation_revenue": q5_nation_revenue,
    "window_top3_orders": window_top3_orders,
    "rollup_status_priority": rollup_status_priority,
    "setops_brands": setops_brands,
    "agg_stats_orders": agg_stats_orders,
    "events_hourly": events_hourly,
    "sessionize_users": sessionize_users,
    "json_extract_props": json_extract_props,
    "dedup_fingerprint": dedup_fingerprint,
    "doc_token_stats": doc_token_stats,
    "lang_stopword_score": lang_stopword_score,
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "embedding_norms": embedding_norms,
    "ann_cosine_topk": ann_cosine_topk,
}

from .queries_ext import QUERIES_EXT  # noqa: E402 — M5 breadth

QUERIES.update(QUERIES_EXT)

from .queries_r5 import QUERIES_R5  # noqa: E402 — round-5 breadth

QUERIES.update(QUERIES_R5)

from .queries_tpch import QUERIES_TPCH  # noqa: E402 — TPC-H-adapted suite

QUERIES.update(QUERIES_TPCH)

from .queries_r5b import QUERIES_R5B  # noqa: E402 — round-5 wave 5

QUERIES.update(QUERIES_R5B)

from .queries_r5c import QUERIES_R5C  # noqa: E402 — round-5 wave 6

QUERIES.update(QUERIES_R5C)

from .queries_r5d import QUERIES_R5D  # noqa: E402 — round-5 wave 9

QUERIES.update(QUERIES_R5D)

from .queries_r5e import QUERIES_R5E  # noqa: E402 — round-5 wave 21

QUERIES.update(QUERIES_R5E)

from .queries_r5f import QUERIES_R5F  # noqa: E402 — round-5 wave 26

QUERIES.update(QUERIES_R5F)

from .queries_r5g import QUERIES_R5G  # noqa: E402 — round-5 wave 34

QUERIES.update(QUERIES_R5G)


def _with_prep(fn):
    """Every registry entry runs _prep first: non-ANSI arithmetic and
    the pyfiles zip (executor workers must import sdg_engine to unpickle
    pandas UDFs) — the driver's own session has neither by default."""

    def _wrapped(spark, sf_dir, _fn=fn):
        _prep(spark)
        return _fn(spark, sf_dir)

    _wrapped.__name__ = getattr(fn, "__name__", "query")
    _wrapped.__doc__ = fn.__doc__
    return _wrapped


QUERIES = {name: _with_prep(fn) for name, fn in QUERIES.items()}
