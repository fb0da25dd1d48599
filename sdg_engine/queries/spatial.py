"""Spatial queries: cell covers, the spatial joins, kNN, point-in-polygon,
roads, OSM, vector tiles and the flagship RAI pipeline.

Spatial math runs through the engine's DataFrame builders
(ops/spatial.py) and shares its sqlgen fragments with the DuckDB
oracles, so doubles are bit-identical by construction."""

from __future__ import annotations

import math as _math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..harness import KNN_CUTOFF_M, harness_rings, points_df, segments_df
from ..ops import spatial as SP
from ..ops.payload import map_rows
from ..skew import spread
from ._common import (
    _BFS_NODE,
    _components_jump,
    _fixture_images,
    _stream_base,
    _t,
)


def flagship_rai(spark, sf_dir):
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
    """C1: quadtree cell id per point at level 12, count per cell."""
    pts = SP.with_point_cell(points_df(spark, sf_dir), 12)
    return pts.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_points"))


# Ad-hoc area-of-interest for spatial_region_query: an irregular
# pentagon inside the world patch.  Driver-side constants — the SAME
# literals are embedded in the Spark rings dict and the DuckDB edges
# VALUES, so parity never depends on how they were generated.
AOI_RING = [
    (
        6.3 + (1.7 + 0.2 * ((k * 7) % 3)) * _math.cos(2 * _math.pi * k / 5 + 0.3),
        3.7 + (1.4 + 0.2 * ((k * 7) % 3)) * _math.sin(2 * _math.pi * k / 5 + 0.3),
    )
    for k in range(5)
]
AOI_RING.append(AOI_RING[0])  # closed


def spatial_region_query(spark, sf_dir):
    """J2b (r04): ad-hoc REGION query — which points fall inside a
    user-supplied polygon (the reusable form of the country machinery:
    ``assign_countries`` with a one-ring dict runs the same cell-table
    join + exact ray-cast pipeline for any AOI).  Returns the inside point ids; the oracle ray-casts the same
    pentagon edges relationally."""
    import numpy as np

    ring = np.array(AOI_RING, dtype=np.float64)
    pts = points_df(spark, sf_dir)
    assigned = SP.assign_countries(pts, {"AOI": ring}, level=7,
                                   id_col="point_id")
    return assigned.filter(F.col("country_code") == "AOI").select("point_id")


def spatial_pyramid(spark, sf_dir):
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
    """J4 ★: nearest road per point (exact; verified vs brute-force SQL)."""
    near = SP.knn_nearest_road(
        points_df(spark, sf_dir), segments_df(spark, sf_dir), KNN_CUTOFF_M,
        id_col="point_id",
    )
    return near.select(
        "point_id", "road_id", F.round("dist_m", 6).alias("dist_m")
    )


def spatial_knn_topk(spark, sf_dir):
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
    """J2 ★: cell candidates + exact ray-cast assignment."""
    cc = SP.assign_countries(
        points_df(spark, sf_dir), harness_rings(), level=9, id_col="point_id"
    )
    return cc.select("point_id", "country_code")


def spatial_join_cells(spark, sf_dir):
    """J1 ★: points × road-segment cover equi-join at level 5."""
    pts = SP.with_point_cell(points_df(spark, sf_dir), 5)
    segs = SP.segments_with_cells(segments_df(spark, sf_dir), 5)
    pairs = SP.spatial_join(
        pts.select("cell_id", "point_id"), segs.select("cell_id", "road_id")
    )
    return pairs.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_pairs"))


def spatial_kring_cells(spark, sf_dir):
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
    from ..sqlgen import apply_steps, hex_cell_steps

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
    from ..sqlgen import apply_steps, hex_cell_steps

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
    from ..harness import edges_values_sql_indexed

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
    from .. import osm as OSM
    from ..harness import NODE_X, NODE_Y

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


def osm_relation_rings(spark, sf_dir):
    """S3b (r04): OSM boundary-relation assembly — unordered, mixed-
    orientation member ways stitched into closed rings by endpoint
    matching (osm.assemble_relation_rings), over the deterministic
    relation fixture cut from the COUNTRY rings.  Emits rotation/
    orientation-proof integer invariants; the DuckDB oracle recomputes
    them from the ORIGINAL country rings parquet — a stitching bug
    (wrong member, missed flip, unclosed ring) flips the hash."""
    from ..osm import assemble_relation_rings, relation_fixture

    member_ways, relations = relation_fixture(spark)
    return assemble_relation_rings(member_ways, relations)


def spatial_knn_unbounded(spark, sf_dir):
    """J4 ★ literal ring-expansion form, no cutoff: every point finds
    its nearest road via k=1,2,4 ring growth + exact fallback."""
    from ..harness import points_df, segments_df
    from ..ops import spatial as SP
    from pyspark.sql import functions as F2

    near = SP.knn_ring_iterative(
        points_df(spark, sf_dir), segments_df(spark, sf_dir),
        level=6, id_col="point_id",
    )
    return near.select(
        "point_id", "road_id", F2.round("dist_m", 6).alias("dist_m")
    )


def mvt_tile_stats(spark, sf_dir):
    """S7 MVT sink, ORACLE-CHECKED (r03; was rows-only): road segments →
    tile cut → per-tile encoded vector-tile blob.  Emits (z, tx, ty,
    n_features) where n_features is the count of segments that REALLY
    intersect the tile (division-free SAT membership,
    geom.segments_intersect_rect) — DuckDB recomputes the bbox cover +
    the identical ``* - <=`` SAT expressions and matches bit-for-bit.
    The protobuf blob bytes (still produced by this same write) have no
    relational twin and stay pinned byte-exactly in tests/test_mvt.py."""
    from .. import mvt as MVT
    from ..harness import segments_df

    segs = segments_df(spark, sf_dir)
    # per-invocation private dir under the session temp root (r03
    # review: a fixed shared /tmp path was pre-seedable by other users;
    # r04: deferred cleanup so the result stays lazy)
    out = _stream_base(spark, "mvt_")
    tiles = MVT.write_road_mvt(segs, out, level=4)
    return tiles.select("z", "tx", "ty", "n_features")


def mvt_pyramid_stats(spark, sf_dir):
    """S7b multi-zoom MVT pyramid (r05, VERDICT item 2): road segments
    → per-zoom tile cut + clip + encode for z3..z5 → per-zoom tile and
    feature totals.  n_tiles counts every COVERED tile (a tile whose
    candidates all SAT-reject still gets an empty-layer blob — the
    viewer needs the tile to exist); sum_features counts real
    SAT-intersecting segments.  The DuckDB oracle recomputes both per
    zoom from `supplier` via the bbox cover + SAT membership; the blob
    bytes themselves are pinned per-zoom in tests/test_mvt.py."""
    import os

    from .. import mvt as MVT
    from ..harness import segments_df

    segs = segments_df(spark, sf_dir)
    base = _stream_base(spark, "pyr_")
    tiles = MVT.write_road_mvt_pyramid(
        segs, os.path.join(base, "pyramid"), z_min=3, z_max=5
    )
    return tiles.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("n_features").cast("long").alias("sum_features"),
    )


def osm_qatile_roads(spark, sf_dir):
    """S2's REAL form (r05, VERDICT item 1): OSM QA-tiles — an MbTiles
    SQLite of gzip'd Mapbox vector tiles — as a SOURCE.  The round trip
    is closed both ways with from-scratch code: road segments →
    write_road_mvt (distributed tile cut + MVT encode) → write_mbtiles
    (TMS rows, gzip blobs, metadata) → read_qatiles (driver reads ONLY
    min/max rowid; rowid-range tasks each open the db read-only, gunzip
    + MVT-decode their tiles) → per-tile feature counts and road-id
    sums.  The DuckDB oracle recomputes both from `supplier` via the
    bbox cover + division-free SAT membership — a bug anywhere in the
    encoder, sqlite framing, TMS flip, gzip, or decoder changes counts
    or ids and flips the hash."""
    import os

    from .. import mvt as MVT
    from .. import osm as OSM
    from ..harness import segments_df

    segs = segments_df(spark, sf_dir)
    base = _stream_base(spark, "qat_")
    tiles = MVT.write_road_mvt(segs, os.path.join(base, "tiles_pq"), level=4)
    mb = os.path.join(base, "roads.mbtiles")
    OSM.write_mbtiles(tiles, mb)
    feats = OSM.read_qatiles(spark, mb)
    return feats.groupBy("z", "tx", "ty").agg(
        F.count(F.lit(1)).cast("int").alias("n_features"),
        F.sum("road_id").cast("long").alias("sum_road_id"),
    )


def roads_simplify_dp(spark, sf_dir):
    """Douglas-Peucker simplification of every fixture road polyline
    (eps = 0.01 deg) — the generalization pass low-zoom vector tiles
    need.  Output per road: point counts + the kept-vertex BITMASK
    (n_pts <= 42 fits bigint), so a single flipped keep/drop decision
    anywhere fails the value hash.  Kind joins from the roads parquet
    (load-bearing fixture read).

    mapInPandas over whole polylines (Arrow batches; the iterative
    stack kernel is geom.dp_keep_mask) — map-only, no shuffle; at
    planet scale the stage splits by row group and OSM's 2000-node way
    bound caps per-row work.  Oracle: committed INDEPENDENT golden
    (scripts/make_goldens.py make_dp_golden — scalar recursive twin).
    """
    from ..geom import dp_keep_mask

    _images, roads = _fixture_images(spark)

    def _dp(r):
        pts = np.array([[p["x"], p["y"]] for p in r.coords])
        keep = dp_keep_mask(pts, 0.01)
        mask = 0
        for k in np.nonzero(keep)[0]:
            mask |= 1 << int(k)
        yield (r.road_id, r.kind, len(pts), int(keep.sum()), mask)

    return map_rows(
        roads.select("road_id", "kind", "coords"), _dp,
        "road_id bigint, kind string, n_pts int, n_kept int, kept_mask bigint",
    )


# ~2 display pixels of tolerance on a 256-px tile at each zoom — exact
# binary doubles, shared with the golden twin via this constant.
PYR_SIMPLIFY_EPS = {z: 2.0 * 10.0 / ((1 << z) * 256) for z in (3, 4, 5)}


def _simplified_segments(roads, eps: float):
    """roads (road_id, coords) -> DP-simplified consecutive-kept-vertex
    segments (road_id, seg_id, ax, ay, bx, by) — map-only mapInPandas;
    coordinates are the ORIGINAL vertices (DP only drops, never moves),
    so they round-trip parquet exactly for the golden compare."""
    from ..geom import dp_keep_mask

    def _seg(r):
        pts = np.array([[p["x"], p["y"]] for p in r.coords])
        kept = np.nonzero(dp_keep_mask(pts, eps))[0]
        for si in range(len(kept) - 1):
            a, b = pts[kept[si]], pts[kept[si + 1]]
            yield (r.road_id, si, float(a[0]), float(a[1]),
                   float(b[0]), float(b[1]))

    return map_rows(
        roads.select("road_id", "coords"), _seg,
        "road_id bigint, seg_id int, ax double, ay double, "
        "bx double, by double",
    )


def mvt_pyramid_simplified(spark, sf_dir):
    """S7b + DP composed: per-zoom Douglas-Peucker generalization
    (eps = 2 display px at that zoom) feeding the MVT tile cut/encode,
    z3..z5 — coarse zooms ship ~fewer vertices, which is WHY a tile
    pipeline simplifies.  Per-zoom totals: covered tiles + SAT-kept
    features.  Oracle: the SAT-cover SQL over a committed golden of
    the recursive-DP twin's simplified segments per zoom.

    Plan: each zoom is simplify (map-only) -> cover explode -> one
    keyed cogroup encode, written as separate ACTIONS over the same
    cached roads scan (gotcha 3 — no mid-pipeline union); the final
    union only scans the materialized tile parquet.  The three zoom
    writes are INDEPENDENT actions, so they run CONCURRENTLY from a
    thread pool (Spark's scheduler interleaves their stages across the
    same executors — measured 14.6 s -> 8.4 s cold at sf0.1; rows
    identical since each action writes its own directory); the shared
    roads input is repartitioned once so per-zoom DP parallelizes
    instead of inheriting the fixture's single row group.
    """
    import functools
    import os
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import DataFrame

    from .. import mvt as MVT

    _images, roads = _fixture_images(spark)
    roads = roads.select("road_id", "coords").repartition(8).localCheckpoint()
    base = _stream_base(spark, "pyrsimp_")

    def _one(z: int) -> DataFrame:
        segs = _simplified_segments(roads, PYR_SIMPLIFY_EPS[z])
        return MVT.write_road_mvt(segs, os.path.join(base, f"zl={z}"), level=z)

    with ThreadPoolExecutor(len(PYR_SIMPLIFY_EPS)) as ex:
        parts = list(ex.map(_one, sorted(PYR_SIMPLIFY_EPS)))
    tiles = functools.reduce(DataFrame.unionByName, parts)
    return tiles.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("n_features").cast("long").alias("sum_features"),
    )


def country_convex_hull(spark, sf_dir):
    """Per-country CONVEX HULL of all road vertices (Andrew monotone
    chain, strict turns) with shoelace area in integer mils — the
    vector-summary op a coverage/footprint report wants.

    One groupBy(country).applyInPandas — zones are few at any scale
    (the group key is the dim side), vertices stream through Arrow.
    n_points (distinct vertices) is recomputed relationally by the
    oracle from the same roads parquet, so the explode+dedup is
    load-bearing; hull size/area come from the committed INDEPENDENT
    scalar-twin golden.
    """
    import numpy as np
    import pandas as pd

    _images, roads = _fixture_images(spark)
    verts = roads.select(
        "country_code", F.explode("coords").alias("c")
    ).select("country_code", F.col("c.x").alias("x"), F.col("c.y").alias("y"))

    def _hull(key, pdf):
        from sdg_engine.geom import convex_hull, shoelace_area_mils

        pts = pdf[["x", "y"]].to_numpy(dtype=np.float64)
        u = np.unique(pts, axis=0)
        h = convex_hull(pts)
        return pd.DataFrame(
            [(key[0], len(u), len(h), shoelace_area_mils(h))],
            columns=["country_code", "n_points", "n_hull", "area_mils"],
        )

    return verts.groupBy("country_code").applyInPandas(
        _hull,
        "country_code string, n_points long, n_hull int, area_mils bigint",
    )


# Rasterized BUFFER: level-6 cells (10/64 deg) whose center lies within
# _BUF_M meters of a road segment.  Shared scalar constants; the grid
# cover expansion in degrees is one exact double literal both engines.
_BUF_M = 20000.0
_BUF_LEVEL = 6
_BUF_DEG = repr(20000.0 / 111320.0)
_BUF_CELL = repr(10.0 / (1 << _BUF_LEVEL))


def roads_buffer_cells(spark, sf_dir):
    """Buffer-as-raster (vector buffer rasterized to the cell grid):
    per road kind, the DISTINCT level-6 cells whose center is within
    20 km of any segment of that kind — the coverage-area op behind
    "% of land near an all-season road".

    Plan: segment bbox (+buffer) -> grid-range cover (two codegen
    sequence explodes, no crossJoin) -> exact center->segment distance
    (shared sqlgen steps) -> distinct (kind, cell) -> tiny agg.  At
    planet scale the cover explode is bounded by (seg length + 2d)/cell
    area and the distinct hash-partitions on (kind, cell).  Oracle:
    the identical fragments in DuckDB over the same roads parquet.
    """
    from ..ops.spatial import road_segments
    from ..sqlgen import apply_steps, grid_index_expr, point_seg_dist_steps

    _images, roads = _fixture_images(spark)
    segs = road_segments(roads)
    g = segs.selectExpr(
        "kind", "ax", "ay", "bx", "by",
        f"{grid_index_expr(f'LEAST(ax, bx) - {_BUF_DEG}', _BUF_LEVEL)} AS ix0",
        f"{grid_index_expr(f'GREATEST(ax, bx) + {_BUF_DEG}', _BUF_LEVEL)} AS ix1",
        f"{grid_index_expr(f'LEAST(ay, by) - {_BUF_DEG}', _BUF_LEVEL)} AS iy0",
        f"{grid_index_expr(f'GREATEST(ay, by) + {_BUF_DEG}', _BUF_LEVEL)} AS iy1",
    )
    cand = (
        g.selectExpr(
            "kind", "ax", "ay", "bx", "by", "iy0", "iy1",
            "explode(sequence(ix0, ix1)) AS ix",
        )
        .selectExpr(
            "kind", "ax", "ay", "bx", "by", "ix",
            "explode(sequence(iy0, iy1)) AS iy",
        )
        .selectExpr(
            "kind", "ax", "ay", "bx", "by", "ix", "iy",
            f"(CAST(0 AS DOUBLE) + (CAST(ix AS DOUBLE) + 0.5) "
            f"* CAST({_BUF_CELL} AS DOUBLE)) AS lon",
            f"(CAST(0 AS DOUBLE) + (CAST(iy AS DOUBLE) + 0.5) "
            f"* CAST({_BUF_CELL} AS DOUBLE)) AS lat",
        )
    )
    steps = point_seg_dist_steps("lon", "lat", "ax", "ay", "bx", "by", "dist_m")
    d = apply_steps(cand, steps).filter(
        F.col("dist_m") <= F.lit(_BUF_M)
    )
    cells = d.select("kind", "ix", "iy").distinct()
    return cells.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.expr("ix * 1000 + iy")).alias("sum_cell"),
    )


# proper-crossing test (strict): segments AB x CD cross iff the
# endpoints of each straddle the other's line — four cross products,
# identical expression text in both engines (shared via these fragments)
_X_CROSS = (
    "((({bx1}) - ({ax1})) * (({py}) - ({ay1})) "
    "- (({by1}) - ({ay1})) * (({px}) - ({ax1})))"
)


def _straddle(ax1, ay1, bx1, by1, px1, py1, px2, py2) -> str:
    c1 = _X_CROSS.format(ax1=ax1, ay1=ay1, bx1=bx1, by1=by1, px=px1, py=py1)
    c2 = _X_CROSS.format(ax1=ax1, ay1=ay1, bx1=bx1, by1=by1, px=px2, py=py2)
    return f"(({c1}) * ({c2}) < CAST(0 AS DOUBLE))"


_X_TEST = (
    _straddle("a_ax", "a_ay", "a_bx", "a_by", "b_ax", "b_ay", "b_bx", "b_by")
    + " AND "
    + _straddle("b_ax", "b_ay", "b_bx", "b_by", "a_ax", "a_ay", "a_bx", "a_by")
)
_X_LEVEL = 7


def road_intersections(spark, sf_dir):
    """VECTOR OVERLAY: proper crossing count between segments of
    DIFFERENT roads, per unordered kind pair — the planar-overlay /
    intersection op of a GIS stack, done as a cell-bucketed candidate
    join (never all-pairs).

    Plan: bbox-cover explode at level 7 -> self equi-join on cell_id
    (road_a < road_b) -> DISTINCT candidate pair (a pair sharing k
    cells must count once) -> exact strict-crossing test (four cross
    products; shared fragment with the oracle) -> tiny agg.  Hot cells
    would salt exactly like the LSH band join (skew.plan_salts).
    Candidate-set shape is engine-local: any bbox cover finds every
    truly-crossing pair, so the two engines agree on the RESULT even
    where covers differ.
    """
    from ..ops.spatial import road_segments, segments_with_cells

    _images, roads = _fixture_images(spark)
    segs = road_segments(roads).select(
        "road_id", "kind", "seg_id", "ax", "ay", "bx", "by"
    )
    cov = segments_with_cells(segs, _X_LEVEL).select(
        "cell_id", "road_id", "kind", "seg_id", "ax", "ay", "bx", "by"
    )
    a = cov.selectExpr(
        "cell_id", "road_id AS a_rid", "kind AS a_kind", "seg_id AS a_sid",
        "ax AS a_ax", "ay AS a_ay", "bx AS a_bx", "by AS a_by",
    )
    b = cov.selectExpr(
        "cell_id", "road_id AS b_rid", "kind AS b_kind", "seg_id AS b_sid",
        "ax AS b_ax", "ay AS b_ay", "bx AS b_bx", "by AS b_by",
    )
    pairs = (
        a.join(b, ["cell_id"])
        .filter(F.col("a_rid") < F.col("b_rid"))
        .drop("cell_id")
        .dropDuplicates(["a_rid", "a_sid", "b_rid", "b_sid"])
        .filter(F.expr(_X_TEST))
    )
    return pairs.selectExpr(
        "LEAST(a_kind, b_kind) AS kind_lo",
        "GREATEST(a_kind, b_kind) AS kind_hi",
    ).groupBy("kind_lo", "kind_hi").agg(
        F.count(F.lit(1)).alias("n_crossings")
    )


# IDW interpolation: integer weights FLOOR(1e9 / (1 + d_m)) so the
# per-cell folds are BIGINT-exact (fold-order-free) in both engines.
_IDW_LEVEL = 5
_IDW_RADIUS_M = 60000.0
_IDW_CELL = repr(10.0 / (1 << _IDW_LEVEL))
_IDW_DEG = repr(60000.0 / 111320.0)
_IDW_W = "CAST(FLOOR(1000000000.0 / (1.0 + dist_m)) AS BIGINT)"


def grid_idw(spark, sf_dir):
    """Inverse-distance-weighted interpolation of point values onto the
    level-5 cell grid (the geostatistics gridding op): every cell
    center takes SUM(w·v)/SUM(w) over order points within 60 km, with
    integer weights so the fold is exact.

    Plan: points -> cover cells within radius (two codegen sequence
    explodes per point — the cover is per POINT here, the transpose of
    the kNN shape) -> center distance -> integer-weight partial aggs.
    One hash agg on the cell key; no join at all.
    """
    from ..harness import points_df
    from ..sqlgen import grid_index_expr

    pts = points_df(spark, sf_dir).selectExpr(
        "point_id", "lon AS px", "lat AS py",
        # value = deterministic function of the point id (mils)
        "CAST((point_id % 1000) * 1000 AS BIGINT) AS v_mils",
    )
    g = pts.selectExpr(
        "px", "py", "v_mils",
        f"{grid_index_expr(f'px - {_IDW_DEG}', _IDW_LEVEL)} AS ix0",
        f"{grid_index_expr(f'px + {_IDW_DEG}', _IDW_LEVEL)} AS ix1",
        f"{grid_index_expr(f'py - {_IDW_DEG}', _IDW_LEVEL)} AS iy0",
        f"{grid_index_expr(f'py + {_IDW_DEG}', _IDW_LEVEL)} AS iy1",
    )
    cand = (
        g.selectExpr("px", "py", "v_mils", "iy0", "iy1",
                     "explode(sequence(ix0, ix1)) AS ix")
        .selectExpr("px", "py", "v_mils", "ix",
                    "explode(sequence(iy0, iy1)) AS iy")
        .selectExpr(
            "px", "py", "v_mils", "ix", "iy",
            f"(CAST(0 AS DOUBLE) + (CAST(ix AS DOUBLE) + 0.5) "
            f"* CAST({_IDW_CELL} AS DOUBLE)) AS lon",
            f"(CAST(0 AS DOUBLE) + (CAST(iy AS DOUBLE) + 0.5) "
            f"* CAST({_IDW_CELL} AS DOUBLE)) AS lat",
        )
    )
    d = cand.selectExpr(
        "*",
        "(SQRT(((lon - px) * (lon - px)) + ((lat - py) * (lat - py))) "
        "* CAST(111320 AS DOUBLE)) AS dist_m",
    ).filter(F.col("dist_m") <= F.lit(_IDW_RADIUS_M))
    w = d.selectExpr("ix", "iy", "v_mils", f"{_IDW_W} AS w")
    return (
        w.groupBy("ix", "iy")
        .agg(
            F.count(F.lit(1)).alias("n_pts"),
            F.sum(F.expr("w * v_mils")).alias("swv"),
            F.sum("w").alias("sw"),
        )
        .selectExpr(
            "ix", "iy", "n_pts",
            "CAST(FLOOR(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE)) AS BIGINT)"
            " AS idw_mils",
        )
    )


_MI_LEVEL = 5


def cells_morans_i(spark, sf_dir):
    """MORAN'S I spatial autocorrelation of order-point density on the
    level-5 cell grid (rook adjacency between OCCUPIED cells) —
    integer-exact via deviations D_i = n*c_i - S (so no float mean):
    I = n * SUM_w(D_i*D_j) / (W * SUM(D_i^2)), reported in basis
    points.  Plan: one count agg -> 4-neighbor explode equi-join
    (cells side is tiny at any scale: bounded by the grid) -> one-row
    reduce."""
    from ..harness import points_df
    from ..sqlgen import grid_index_expr

    pts = points_df(spark, sf_dir).selectExpr(
        f"{grid_index_expr('lon', _MI_LEVEL)} AS ix",
        f"{grid_index_expr('lat', _MI_LEVEL)} AS iy",
    )
    cells = pts.groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("c"))
    tot = cells.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    dev = cells.crossJoin(F.broadcast(tot)).selectExpr(
        "ix", "iy", "n", "CAST(n AS BIGINT) * c - s AS d"
    )
    nb = dev.selectExpr(
        "ix", "iy", "d AS d_j",
        "explode(array(array(1, 0), array(-1, 0), array(0, 1), array(0, -1))) AS o",
    ).selectExpr("ix + o[0] AS ix", "iy + o[1] AS iy", "d_j")
    pairs = dev.join(nb, ["ix", "iy"])
    # denominator sums D^2 over CELLS; the edge join must not inflate
    # it by each cell's degree — two one-row aggregates, cross-joined
    den = dev.agg(
        F.max("n").alias("n_cells"),
        F.sum(F.expr("d * d")).alias("sdd"),
    )
    num = pairs.agg(
        F.count(F.lit(1)).alias("w_edges"),
        F.sum(F.expr("d * d_j")).alias("swdd"),
    )
    return den.crossJoin(F.broadcast(num)).selectExpr(
        "n_cells",
        "w_edges",
        "CAST(FLOOR(CAST(n_cells AS DOUBLE) * CAST(swdd AS DOUBLE) * 10000.0 "
        "/ (CAST(w_edges AS DOUBLE) * CAST(sdd AS DOUBLE))) AS BIGINT) "
        "AS morans_i_bp",
    )


def _road_seg_lengths(roads):
    """One row per consecutive vertex pair of every road polyline:
    ``road_id, kind, i, x, y, x2, y2``, its length ``slen`` and ``cum``,
    the road's running length through it.  ``cum`` is a running-sum
    window ordered by vertex index — a SEQUENTIAL fold, identical in
    both engines, never a partial-agg double SUM (gotcha 8)."""
    verts = roads.selectExpr(
        "road_id", "kind", "posexplode(coords) AS (i, c)"
    ).selectExpr("road_id", "kind", "i", "c.x AS x", "c.y AS y")
    wo = Window.partitionBy("road_id").orderBy("i")
    return (
        verts.withColumn("x2", F.lead("x").over(wo))
        .withColumn("y2", F.lead("y").over(wo))
        .filter(F.col("x2").isNotNull())
        .withColumn(
            "slen",
            F.expr("SQRT((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y))"),
        )
        .withColumn(
            "cum",
            F.sum("slen").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )


def route_interpolate(spark, sf_dir):
    """POINT-ALONG-LINE interpolation: the arc-length MIDPOINT of every
    road polyline (the t=0.5 case of linear referencing / dynamic
    segmentation).  Per road: lead() pairs consecutive vertices, a
    running-sum window (ordered by vertex index — a SEQUENTIAL fold,
    identical in both engines, never a partial-agg double SUM — gotcha
    8) accumulates segment lengths, the total is MAX over the inclusive
    running sum, and the half-open test start <= L/2 < start+len picks
    exactly one segment to interpolate inside.  Only + - * / sqrt on
    the float path; the result snaps to micro-units at the very end.

    Plan shape: map-only after one hash exchange on road_id (the
    windows); output one row per road, aggregated per kind here so the
    driver compare stays tiny.
    """
    _images, roads = _fixture_images(spark)
    seg = _road_seg_lengths(roads)
    wall = Window.partitionBy("road_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mid = (
        seg.withColumn("start", F.expr("cum - slen"))
        .withColumn("total", F.max("cum").over(wall))
        .filter(
            F.expr("total > 0 AND start <= total / 2 AND total / 2 < cum")
        )
        .selectExpr(
            "road_id", "kind",
            "CAST(FLOOR((x + ((total / 2 - start) / slen) * (x2 - x)) "
            "* 1000000 + 0.5) AS BIGINT) AS mid_ux",
            "CAST(FLOOR((y + ((total / 2 - start) / slen) * (y2 - y)) "
            "* 1000000 + 0.5) AS BIGINT) AS mid_uy",
        )
    )
    return mid.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_roads"),
        F.sum("mid_ux").alias("sum_mid_ux"),
        F.sum("mid_uy").alias("sum_mid_uy"),
    )


def geohash_cells(spark, sf_dir):
    """GEOHASH cell index (the third index family beside Z-order
    quadtree and hex): standard base-32 geohash at precision 6 over
    the synthetic order points, rolled up by 4-char prefix — the
    string-prefix containment property (cell p+1 strings extend cell
    p's) is what makes geohash a useful clustering/bucketing key, and
    the rollup exercises it.  Pure codegen projection (shared
    sqlgen.geohash_steps fragments) + one hash agg — zero joins.
    """
    from ..harness import PX, PY
    from ..sqlgen import apply_steps, geohash_steps

    # r06: spread — the 6-level base-32 string construction otherwise
    # runs inside the single-split scan task (guide §2.5)
    pts = spread(_t(spark, sf_dir, "orders"), "o_orderkey").selectExpr(
        "o_orderkey AS point_id", f"{PX} AS lon", f"{PY} AS lat"
    )
    steps = geohash_steps("lon", "lat", 6, "gh")
    enc = apply_steps(pts, steps)
    return (
        enc.selectExpr("substring(gh, 1, 4) AS gh4", "gh", "gh_g")
        .groupBy("gh4")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct("gh").alias("n_cells6"),
            F.sum("gh_g").alias("checksum"),
        )
    )


def hilbert_cells(spark, sf_dir):
    """HILBERT-CURVE cell index (xy→d at 15 bits/axis) over the
    synthetic order points — the locality-preserving alternative to
    Z-order that modern table formats offer for file clustering,
    rolled up by curve-range bucket (d >> 18).  The quadrant-rotation
    recurrence cannot be a Spark SQL step chain: x' and y' each
    reference BOTH x and y, so CollapseProject doubles the inlined
    expression per level — 2^15 blowup (gotcha 2).  It runs as an
    Arrow-vectorized pandas UDF over the pre-quantized integer grid
    (cells.hilbert_d, ~10⁸ rows/s of numpy bitops); the DuckDB oracle
    runs the IDENTICAL recurrence as a 15-layer single-reference CTE
    chain (linear per row there).  Null-masking is moot (grid indices
    are non-null by construction) and the UDF input is two int64
    columns — payload bytes never reach Python.
    """
    from ..harness import PX, PY
    from ..sqlgen import grid_index_expr

    @F.pandas_udf("long")
    def _hd(x: pd.Series, y: pd.Series) -> pd.Series:
        from sdg_engine.cells import hilbert_d

        return pd.Series(hilbert_d(x.to_numpy(), y.to_numpy(), 15))

    pts = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey AS point_id",
        f"{grid_index_expr(PX, 15)} AS xi",
        f"{grid_index_expr(PY, 15)} AS yi",
    )
    enc = pts.withColumn("hd", _hd("xi", "yi"))
    return (
        enc.selectExpr("(hd >> 18) AS hbucket", "hd")
        .groupBy("hbucket")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("hd").alias("d_min"),
            F.max("hd").alias("d_max"),
            F.sum("hd").alias("checksum"),
        )
    )


_DB_MINPTS = 25
_DB_IX = "CAST(LEAST(GREATEST(FLOOR(x / 10.0 * 128), 0), 127) AS BIGINT)"
_DB_IY = "CAST(LEAST(GREATEST(FLOOR(y / 10.0 * 128), 0), 127) AS BIGINT)"


def spatial_dbscan(spark, sf_dir):
    """DENSITY-BASED CLUSTERING (grid DBSCAN) over road vertices:
    level-7 cells are core when their 3×3 neighborhood holds ≥ 25
    vertices; clusters are 8-adjacency components of core cells
    (pointer-jumped min-label, O(log diameter) rounds); non-core
    cells adjacent to a cluster attach as border cells (min label —
    deterministic, the classic DBSCAN border rule).  Every stage is a
    bounded equi-join on cell keys: neighborhood sums and adjacency
    both come from a 9-offset explode, never a distance join.  Oracle:
    identical fragments + a pruned recursive-CTE reachability min.
    """
    _images, roads = _fixture_images(spark)
    g = roads.selectExpr("explode(coords) AS c").selectExpr(
        "c.x AS x", "c.y AS y"
    ).selectExpr(f"{_DB_IX} AS ix", f"{_DB_IY} AS iy")
    cells = (
        g.groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # contributes to nc, core, and border sides
    )
    contrib = cells.selectExpr(
        "ix", "iy", "cnt", "explode(sequence(0, 8)) AS o"
    ).selectExpr(
        "ix + (o % 3) - 1 AS tx",
        "iy + CAST(FLOOR(o / 3) AS BIGINT) - 1 AS ty",
        "cnt",
    )
    nc = contrib.groupBy("tx", "ty").agg(F.sum("cnt").alias("nc"))
    core = (
        cells.join(
            nc, (cells.ix == nc.tx) & (cells.iy == nc.ty)
        )
        .filter(f"nc >= {_DB_MINPTS}")
        .selectExpr("ix", "iy", "ix * 4096 + iy AS k", "cnt")
        .localCheckpoint()  # adjacency probe + labels + rollup
    )
    probe = (
        core.selectExpr("k", "ix", "iy", "explode(sequence(0, 8)) AS o")
        .filter("o <> 4")
        .selectExpr(
            "k AS src",
            "(ix + (o % 3) - 1) * 4096 "
            "+ (iy + CAST(FLOOR(o / 3) AS BIGINT) - 1) AS dst",
        )
    )
    edges = probe.join(core.selectExpr("k AS dst"), "dst").select("src", "dst")
    labels = _components_jump(edges, core.select("k"))
    core_lab = core.join(labels, core.k == labels.v).selectExpr(
        "label", "cnt", "k", "CAST(1 AS BIGINT) AS is_core"
    )
    noncore = cells.join(core.select("ix", "iy"), ["ix", "iy"], "left_anti")
    battach = (
        noncore.selectExpr(
            "ix", "iy", "cnt", "explode(sequence(0, 8)) AS o"
        )
        .filter("o <> 4")
        .selectExpr(
            "ix * 4096 + iy AS k",
            "cnt",
            "(ix + (o % 3) - 1) * 4096 "
            "+ (iy + CAST(FLOOR(o / 3) AS BIGINT) - 1) AS nk",
        )
        .join(labels.selectExpr("v AS nk", "label"), "nk")
        .groupBy("k")
        .agg(F.min("label").alias("label"), F.max("cnt").alias("cnt"))
        .selectExpr("label", "cnt", "k", "CAST(0 AS BIGINT) AS is_core")
    )
    allc = core_lab.unionByName(battach)
    return allc.groupBy("label").agg(
        F.sum("is_core").alias("n_core"),
        F.sum(F.expr("1 - is_core")).alias("n_border"),
        F.sum("cnt").alias("n_points"),
        F.sum("k").alias("checksum"),
    ).selectExpr("label AS cluster_id", "n_core", "n_border", "n_points", "checksum")


_VOR_Q = "CAST(FLOOR({c} * 1000000 + 0.5) AS BIGINT)"
_VOR_SEEDS = 16


def voronoi_assign(spark, sf_dir):
    """VORONOI / NEAREST-FACILITY ASSIGNMENT: every road vertex is
    assigned to the nearest of 16 seed sites (first vertex of roads
    0..15) by squared Euclidean distance in integer micro-units —
    exact BIGINT throughout, deterministic ties to the smaller seed id
    (min-struct total order).  The discrete Voronoi partition that
    facility-location and spatial-binning pipelines run.

    Plan shape: the 16-row seed dim broadcasts; the 16× candidate
    fanout collapses in a map-side-combinable min(struct) partial agg
    keyed by vertex, then a 16-row rollup — the fact table never hash-
    exchanges on anything wider than the vertex key.
    """
    _images, roads = _fixture_images(spark)
    px = _VOR_Q.format(c="c.x")
    py = _VOR_Q.format(c="c.y")
    pts = roads.selectExpr(
        "road_id", "posexplode(coords) AS (idx, c)"
    ).selectExpr("road_id", "idx", f"{px} AS px", f"{py} AS py")
    sx = _VOR_Q.format(c="coords[0].x")
    sy = _VOR_Q.format(c="coords[0].y")
    seeds = roads.filter(f"road_id < {_VOR_SEEDS}").selectExpr(
        "road_id AS seed", f"{sx} AS sx", f"{sy} AS sy"
    )
    cand = pts.crossJoin(F.broadcast(seeds)).selectExpr(
        "road_id", "idx", "seed",
        "(px - sx) * (px - sx) + (py - sy) * (py - sy) AS d2",
    )
    best = cand.groupBy("road_id", "idx").agg(
        F.min(F.struct("d2", "seed")).alias("b")
    )
    return best.groupBy(F.col("b.seed").alias("seed")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("b.d2").alias("sum_d2"),
    )


def osm_qatile_source(spark, sf_dir):
    """MbTiles as a FIRST-CLASS Spark source — the same QA-tile scan
    as osm_qatile_roads, but through the Spark 4 Python DataSource API
    (`spark.read.format("mbtiles")`): `partitions()` plans one split
    per disjoint rowid range (the driver touches only min/max rowid),
    `read()` gunzips + MVT-decodes per split on executors.  Registering
    the source makes the file a planner-visible relation — a user
    points `.format("mbtiles")` at the planet archive exactly like
    parquet.  Result: per-zoom totals over the decoded features; the
    DuckDB oracle recomputes them from the segment source through the
    bbox-cover + SAT twin, so encoder, sqlite framing, the DataSource
    partition planner, and the decoder are all load-bearing.
    """
    import os

    from .. import mvt as MVT
    from .. import osm as OSM
    from ..harness import segments_df

    spark.dataSource.register(OSM.make_mbtiles_datasource())
    segs = segments_df(spark, sf_dir)
    base = _stream_base(spark, "qatds_")
    tiles = MVT.write_road_mvt(segs, os.path.join(base, "tiles_pq"), level=4)
    mb = os.path.join(base, "roads.mbtiles")
    OSM.write_mbtiles(tiles, mb)
    feats = (
        spark.read.format("mbtiles")
        .option("path", mb)
        .option("n_splits", "8")
        .load()
    )
    return feats.groupBy("z").agg(
        F.countDistinct("tx", "ty").cast("int").alias("n_tiles"),
        F.count(F.lit(1)).alias("n_features"),
        F.sum("road_id").alias("sum_road_id"),
    )


_KDE_TOPK = 10


def cells_kde(spark, sf_dir):
    """KDE HEATMAP (kernel density estimation) of order-point density
    on the level-5 cell grid — the hotspot layer every geospatial
    dashboard renders.  Discrete separable triangle kernel
    w(dx, dy) = (3-|dx|)·(3-|dy|) over the 5×5 neighborhood — all
    integer, so the fold is exact in both engines.  Plan: one count
    agg over points → 25-offset broadcast cross join (the offsets dim
    is a literal) → hash agg on the target cell → top-10 ranking
    window (the ranking runs over the CELL table, bounded by the grid
    — 1024 rows at level 5 — never over points).  Oracle: identical
    construction relationally.
    """
    from ..harness import points_df
    from ..sqlgen import grid_index_expr

    pts = points_df(spark, sf_dir).selectExpr(
        f"{grid_index_expr('lon', _MI_LEVEL)} AS ix",
        f"{grid_index_expr('lat', _MI_LEVEL)} AS iy",
    )
    cells = pts.groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("c"))
    offs = spark.createDataFrame(
        [(dx, dy, (3 - abs(dx)) * (3 - abs(dy)))
         for dx in range(-2, 3) for dy in range(-2, 3)],
        "dx int, dy int, w int",
    )
    kde = (
        cells.crossJoin(F.broadcast(offs))
        .selectExpr("ix + dx AS ix", "iy + dy AS iy",
                    "c * CAST(w AS BIGINT) AS wc")
        .groupBy("ix", "iy")
        .agg(F.sum("wc").alias("kde"))
    )
    from pyspark.sql import Window

    rnk = F.row_number().over(
        Window.orderBy(F.col("kde").desc(), F.col("ix"), F.col("iy"))
    )
    return (
        kde.withColumn("rnk", rnk.cast("int"))
        .filter(F.col("rnk") <= _KDE_TOPK)
    )


def roads_sinuosity(spark, sf_dir):
    """SINUOSITY of every road polyline (path length / endpoint
    chord — the curviness metric linear referencing pipelines
    publish): segment lengths folded SEQUENTIALLY per road (the
    route_interpolate running-sum window — gotcha 8: never a
    partial-agg double SUM), endpoint chord read directly off the
    coords array (no window), micro-unit snap on the final ratio
    (only + - * / sqrt floor on the float path).  One hash exchange
    on road_id; per-kind rollup keeps the compare tiny."""
    _images, roads = _fixture_images(spark)
    seg = _road_seg_lengths(roads)
    tot = seg.groupBy("road_id").agg(F.max("cum").alias("total"))
    ends = roads.selectExpr(
        "road_id", "kind",
        "element_at(coords, 1).x AS x0",
        "element_at(coords, 1).y AS y0",
        "element_at(coords, size(coords)).x AS xn",
        "element_at(coords, size(coords)).y AS yn",
    ).withColumn(
        "chord",
        F.expr("SQRT((xn - x0) * (xn - x0) + (yn - y0) * (yn - y0))"),
    )
    per = (
        ends.join(tot, "road_id")
        .filter("chord > 0")
        .selectExpr(
            "kind",
            "CAST(FLOOR(total / chord * 1000000 + 0.5) AS BIGINT)"
            " AS sin_micros",
        )
    )
    return per.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_roads"),
        F.sum("sin_micros").alias("sum_sin_micros"),
        F.max("sin_micros").alias("max_sin_micros"),
    )


def cells_line_density(spark, sf_dir):
    """LINE-DENSITY SURFACE: total road length per level-5 grid cell
    (midpoint attribution — each polyline segment's full planar
    length lands in its midpoint's cell), the raster layer behind
    road-density styling and sampling weights.  Per-segment length is
    √(dx²+dy²) FLOORed to integer micro-degrees BEFORE the per-cell
    fold, so the SUM is order-independent and exact in both engines
    (gotcha 8).  Plan: segment explode → one hash agg on the cell —
    the explode fanout is |vertices|, the agg output is grid-bounded.
    Output per occupied cell: segment count, summed length (micro).
    """
    from ..sqlgen import grid_index_expr

    _images, roads = _fixture_images(spark)
    segs = roads.selectExpr("coords AS cs").selectExpr(
        "explode(transform(sequence(1, size(cs) - 1), "
        "i -> struct(cs[i - 1].x AS x1, cs[i - 1].y AS y1, "
        "cs[i].x AS x2, cs[i].y AS y2))) AS s"
    ).select("s.*")
    mid = segs.selectExpr(
        f"{grid_index_expr('(x1 + x2) / 2', _MI_LEVEL)} AS ix",
        f"{grid_index_expr('(y1 + y2) / 2', _MI_LEVEL)} AS iy",
        "CAST(FLOOR(SQRT((x2 - x1) * (x2 - x1) "
        "+ (y2 - y1) * (y2 - y1)) * 1000000.0) AS BIGINT) AS len_u",
    )
    return mid.groupBy("ix", "iy").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum("len_u").alias("len_micro"),
    )


def cells_getis_ord(spark, sf_dir):
    """GETIS-ORD Gi* HOTSPOT detection on the level-5 cell grid — the
    local companion to cells_morans_i's global autocorrelation: for
    each occupied cell, the 3x3-neighborhood (queen + self) count sum
    W_i against the global distribution, z_i = (n*W_i - S*w_i) /
    (sqrt(n*SUM(x^2) - S^2) * sqrt((n*w_i - w_i^2)/(n-1))) — the
    textbook statistic with numerator and variance terms kept as exact
    BIGINTs, sqrt/division as the only float ops (IEEE-identical in
    both engines over identical expression text).  Top-10 hotspots,
    deterministic tie-break on (ix, iy).

    Plan shape: one count agg -> 9-offset explode equi-join (cells
    side bounded by the grid at any data scale) -> grid-bounded
    ranking window.  Nothing after the first agg scales with rows."""
    from ..harness import points_df
    from ..sqlgen import grid_index_expr

    pts = points_df(spark, sf_dir).selectExpr(
        f"{grid_index_expr('lon', _MI_LEVEL)} AS ix",
        f"{grid_index_expr('lat', _MI_LEVEL)} AS iy",
    )
    cells = (
        pts.groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # tiny (grid-bounded); referenced 3x
    )
    tot = cells.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.expr("c * c")).alias("s2"),
    )
    nb = cells.selectExpr(
        "ix", "iy", "c AS c_j", "explode(sequence(0, 8)) AS k"
    ).selectExpr(
        "ix + (k % 3) - 1 AS ix",
        "iy + CAST(FLOOR(k / 3) AS BIGINT) - 1 AS iy",
        "c_j",
    )
    g = cells.join(nb, ["ix", "iy"]).groupBy("ix", "iy").agg(
        F.count(F.lit(1)).alias("w"), F.sum("c_j").alias("wsum")
    )
    z_expr = (
        "CAST(n * wsum - s * w AS DOUBLE) "
        "/ (SQRT(CAST(n * s2 - s * s AS DOUBLE)) "
        "* SQRT(CAST(n * w - w * w AS DOUBLE) / CAST(n - 1 AS DOUBLE)))"
    )
    zs = g.crossJoin(F.broadcast(tot)).selectExpr(
        "ix", "iy", "w", "wsum",
        "n * wsum - s * w AS znum",
        f"CAST(FLOOR(1000.0 * {z_expr}) AS BIGINT) AS z_mils",
    )
    wr = Window.orderBy(F.col("z_mils").desc(), "ix", "iy")
    return (
        zs.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter("rk <= 10")
        .select("rk", "ix", "iy", "w", "wsum", "znum", "z_mils")
    )


# Supercover SPEC (shared with the oracle): level-6 grid; segments
# normalized west-to-east; per x-column k the segment occupies y rows
# gi(ya)..gi(yb) where ya/yb interpolate y at the clipped column span
# (vertical segments span min..max y in their single column).  Both
# engines run the SAME interpolation/FLOOR text, so boundary cells
# agree bit-for-bit.
_SC_LEVEL = 6


def roads_supercover_cells(spark, sf_dir):
    """EXACT SUPERCOVER RASTERIZATION of road polylines — every grid
    cell a segment passes through (the raster<->vector burn primitive,
    exact rather than midpoint-attributed like cells_line_density):
    per segment, explode its x-columns, interpolate the y span inside
    each column, explode the y range — fanout is exactly the number of
    crossed cells.  Per kind: distinct-cell count, visit count, and a
    packed-cell checksum.  Plan: two Generates + one hash agg on
    (kind, cell); nothing is quadratic and the agg output is
    grid-bounded."""
    from ..sqlgen import grid_index_expr

    n = 1 << _SC_LEVEL
    bnd = f"(CAST({{k}} AS DOUBLE) * (CAST(10 AS DOUBLE) / CAST({n} AS DOUBLE)))"
    _images, roads = _fixture_images(spark)
    segs = roads.selectExpr("kind", "coords AS cs").selectExpr(
        "kind",
        "explode(transform(sequence(1, size(cs) - 1), "
        "i -> struct(cs[i - 1].x AS ax, cs[i - 1].y AS ay, "
        "cs[i].x AS bx, cs[i].y AS by))) AS s",
    ).selectExpr(
        "kind",
        "CASE WHEN s.bx < s.ax THEN s.bx ELSE s.ax END AS x1",
        "CASE WHEN s.bx < s.ax THEN s.by ELSE s.ay END AS y1",
        "CASE WHEN s.bx < s.ax THEN s.ax ELSE s.bx END AS x2",
        "CASE WHEN s.bx < s.ax THEN s.ay ELSE s.by END AS y2",
    )
    cols = segs.selectExpr(
        "kind", "x1", "y1", "x2", "y2",
        f"explode(sequence({grid_index_expr('x1', _SC_LEVEL)}, "
        f"{grid_index_expr('x2', _SC_LEVEL)})) AS k",
    ).selectExpr(
        "kind", "k",
        f"GREATEST(x1, {bnd.format(k='k')}) AS xa",
        f"LEAST(x2, {bnd.format(k='k + 1')}) AS xb",
        "x1", "y1", "x2", "y2",
    ).selectExpr(
        "kind", "k",
        "CASE WHEN x2 = x1 THEN LEAST(y1, y2) "
        "ELSE y1 + (y2 - y1) * (xa - x1) / (x2 - x1) END AS ya",
        "CASE WHEN x2 = x1 THEN GREATEST(y1, y2) "
        "ELSE y1 + (y2 - y1) * (xb - x1) / (x2 - x1) END AS yb",
    )
    cells = cols.selectExpr(
        "kind", "k AS ix",
        f"explode(sequence(LEAST({grid_index_expr('ya', _SC_LEVEL)}, "
        f"{grid_index_expr('yb', _SC_LEVEL)}), "
        f"GREATEST({grid_index_expr('ya', _SC_LEVEL)}, "
        f"{grid_index_expr('yb', _SC_LEVEL)}))) AS iy",
    )
    per_cell = cells.groupBy("kind", "ix", "iy").agg(
        F.count(F.lit(1)).alias("visits")
    )
    return per_cell.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("visits").alias("n_visits"),
        F.sum(F.expr(f"ix * {n} + iy")).alias("cell_chk"),
    )


def roads_dissolve(spark, sf_dir):
    """DISSOLVE / merge-touching-features — the vector-overlay
    counterpart to GROUP BY: roads of the SAME kind that share a
    quantized endpoint (0.1-degree node, the road_graph_bfs
    quantization) merge into one feature; per kind the query reports
    feature count before/after and the largest merged chain.  The
    endpoint graph runs through the pointer-jumped min-label
    components primitive (O(log diameter) rounds, kind-scoped node
    keys so components never cross kinds).  Oracle: pruned
    recursive-CTE reachability min over the identical node keys."""
    _images, roads = _fixture_images(spark)
    na = _BFS_NODE.format(
        x="element_at(coords, 1).x", y="element_at(coords, 1).y"
    )
    nb = _BFS_NODE.format(
        x="element_at(coords, size(coords)).x",
        y="element_at(coords, size(coords)).y",
    )
    ends = roads.selectExpr(
        "road_id", "kind",
        f"concat(kind, '|', CAST({na} AS STRING)) AS ka",
        f"concat(kind, '|', CAST({nb} AS STRING)) AS kb",
    ).localCheckpoint()  # endpoints: verts + edges + the label join
    verts = (
        ends.selectExpr("ka AS k")
        .unionByName(ends.selectExpr("kb AS k"))
        .distinct()
    )
    edges = ends.filter("ka <> kb").selectExpr("ka AS src", "kb AS dst")
    labels = _components_jump(edges, verts)
    rl = ends.join(labels, ends.ka == labels.v).select("kind", "road_id", "label")
    per = rl.groupBy("kind", "label").agg(F.count(F.lit(1)).alias("n"))
    return per.groupBy("kind").agg(
        F.sum("n").alias("n_roads"),
        F.count(F.lit(1)).alias("n_components"),
        F.max("n").alias("largest_comp"),
    )


CENTROID_SQL = """
WITH e AS (SELECT * FROM {edges}),
t AS (
  SELECT country_code, i,
         x0 * y1 - x1 * y0 AS cr,
         (x0 + x1) * (x0 * y1 - x1 * y0) AS cxn,
         (y0 + y1) * (x0 * y1 - x1 * y0) AS cyn
  FROM e
),
run AS (
  SELECT country_code, i,
         SUM(cr) OVER (PARTITION BY country_code ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ra,
         SUM(cxn) OVER (PARTITION BY country_code ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rx,
         SUM(cyn) OVER (PARTITION BY country_code ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ry,
         ROW_NUMBER() OVER (PARTITION BY country_code ORDER BY i DESC) AS rn
  FROM t
)
SELECT country_code,
       CAST(FLOOR(1000000.0 * rx / (3.0 * ra)) AS BIGINT) AS cx_microdeg,
       CAST(FLOOR(1000000.0 * ry / (3.0 * ra)) AS BIGINT) AS cy_microdeg
FROM run WHERE rn = 1
"""


def country_centroids(spark, sf_dir):
    """POLYGON CENTROIDS of the country rings via the shoelace-weighted
    formula C = sum((v_i + v_{i+1}) * cross_i) / (3 * 2A) — the label
    point / zonal anchor next to country_areas' area+perimeter.  Float
    parity by construction (the country_areas precedent): BOTH engines
    evaluate the identical VALUES literal and the identical RUNNING
    WINDOW fold in ring-edge order (partial aggregation would
    reassociate the doubles); * - + / and one FLOOR only."""
    from ..harness import edges_values_sql_indexed

    return spark.sql(CENTROID_SQL.format(edges=edges_values_sql_indexed()))


# Shared quantize: exact micro-degree BIGINTs before ANY distance math,
# so every squared distance is integer in both engines.
_VX = "CAST(FLOOR({c}.x * 1000000) AS BIGINT)"
_VY = "CAST(FLOOR({c}.y * 1000000) AS BIGINT)"


def _road_first_cells(roads):
    """``(road_id, cell)``: the 0.1-degree cell of each road's FIRST
    vertex, the blocking key of the road-pair conflation queries
    (COALESCE-wrapped, gotcha 11)."""
    return roads.selectExpr(
        "road_id",
        "COALESCE(CAST(FLOOR(coords[0].x * 10) AS BIGINT) * 100000 "
        "+ CAST(FLOOR(coords[0].y * 10) AS BIGINT), -1) AS cell",
    )


def roads_hausdorff(spark, sf_dir):
    """DIRECTED HAUSDORFF distance h(A -> B) = max_a min_b |a - b| for
    road pairs whose FIRST vertices share a 0.1-degree cell — the
    geometry-similarity operator of a conflation pipeline (is candidate
    A the same road as B?).  Coordinates quantize to micro-degree
    BIGINTs BEFORE any distance math, so the max-min runs entirely on
    exact integer squared distances; one FLOOR(SQRT(·)) at the end.

    Plan shape: the pair candidates come from a CELL-BLOCKED self-join
    (never all-pairs — the road_intersections bucketing argument); the
    vertex fanout per pair is |A| x |B| <= a few hundred rows, grouped
    twice (min over B per a-vertex, then max over a-vertices).  The
    blocking key is COALESCE-wrapped (gotcha 11)."""
    _images, roads = _fixture_images(spark)
    first = _road_first_cells(roads)
    verts = roads.selectExpr(
        "road_id", "posexplode(coords) AS (i, c)"
    ).selectExpr(
        "road_id", "i",
        f"{_VX.format(c='c')} AS x",
        f"{_VY.format(c='c')} AS y",
    )
    pairs = (
        first.selectExpr("road_id AS ra", "cell")
        .join(first.selectExpr("road_id AS rb", "cell"), "cell")
        .filter("ra < rb")
        .select("ra", "rb")
    )
    av = pairs.join(
        verts.selectExpr("road_id AS ra", "i AS ai", "x AS ax", "y AS ay"),
        "ra",
    )
    ab = av.join(
        verts.selectExpr("road_id AS rb", "x AS bx", "y AS by"), "rb"
    ).selectExpr(
        "ra", "rb", "ai",
        "(ax - bx) * (ax - bx) + (ay - by) * (ay - by) AS dsq",
    )
    minb = ab.groupBy("ra", "rb", "ai").agg(F.min("dsq").alias("min_dsq"))
    return minb.groupBy("ra", "rb").agg(
        F.count(F.lit(1)).alias("n_a"),
        F.max("min_dsq").alias("h_sq"),
    ).selectExpr(
        "ra", "rb", "n_a", "h_sq",
        "CAST(FLOOR(SQRT(CAST(h_sq AS DOUBLE))) AS BIGINT) AS h_micro",
    )


def roads_resample_points(spark, sf_dir):
    """POLYLINE RESAMPLING at fixed arc-length fractions t = k/8,
    k = 1..7 (dynamic segmentation — the generalization of
    route_interpolate's midpoint): the same sequential running-sum
    fold (gotcha 8), one half-open segment pick PER TARGET via an
    explode over k, micro-unit snap at the end.  Only + - * / sqrt on
    the float path; `total * k / 8.0` keeps the chain double-first
    (gotcha 17: total is a DOUBLE sqrt sum before any literal joins).

    Plan shape: one hash exchange on road_id (the windows), a 7x
    explode on the segment rows, one filtered projection; per-(kind,k)
    rollup keeps the compare tiny."""
    _images, roads = _fixture_images(spark)
    seg = _road_seg_lengths(roads)
    wall = Window.partitionBy("road_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    picks = (
        seg.withColumn("start", F.expr("cum - slen"))
        .withColumn("total", F.max("cum").over(wall))
        .selectExpr("*", "explode(sequence(1, 7)) AS k")
        .filter(F.expr(
            "total > 0 AND start <= total * k / 8.0"
            " AND total * k / 8.0 < cum"
        ))
        .selectExpr(
            "kind", "CAST(k AS INT) AS k",
            "CAST(FLOOR((x + ((total * k / 8.0 - start) / slen)"
            " * (x2 - x)) * 1000000 + 0.5) AS BIGINT) AS ux",
            "CAST(FLOOR((y + ((total * k / 8.0 - start) / slen)"
            " * (y2 - y)) * 1000000 + 0.5) AS BIGINT) AS uy",
        )
    )
    return picks.groupBy("kind", "k").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("ux").alias("sum_ux"),
        F.sum("uy").alias("sum_uy"),
    )


def roads_frechet(spark, sf_dir):
    """DISCRETE FRECHET DISTANCE for the same cell-blocked road pairs
    as roads_hausdorff — the ORDER-AWARE conflation similarity (the
    dog-leash metric): F(i,j) = max(d_ij, min(F(i-1,j), F(i,j-1),
    F(i-1,j-1))) over micro-quantized integer SQUARED distances (the
    minimax value is order-preserved under squaring; one FLOOR(SQRT)
    at the end).  Engine: Arrow-batched DP kernel per pair (vertex
    counts are bounded, so per-pair work is O(|A| * |B|)).  Oracle: a
    GENUINELY DIFFERENT algorithm — minimax shortest path on the pair
    lattice, Bellman-relaxed with MATERIALIZED unrolled rounds and
    self-loop moves (the events_dtw technique with a max-min
    semiring)."""
    _images, roads = _fixture_images(spark)
    first = _road_first_cells(roads)
    qc = (
        "transform(coords, c -> struct("
        "CAST(FLOOR(c.x * 1000000) AS BIGINT) AS x, "
        "CAST(FLOOR(c.y * 1000000) AS BIGINT) AS y))"
    )
    qroads = roads.selectExpr("road_id", f"{qc} AS q")
    pairs = (
        first.selectExpr("road_id AS ra", "cell")
        .join(first.selectExpr("road_id AS rb", "cell"), "cell")
        .filter("ra < rb")
        .join(qroads.selectExpr("road_id AS ra", "q AS qa"), "ra")
        .join(qroads.selectExpr("road_id AS rb", "q AS qb"), "rb")
        .select("ra", "rb", "qa", "qb")
    )

    def _dp(r):
        inf = 1 << 62
        a = [(int(p["x"]), int(p["y"])) for p in r.qa]
        b = [(int(p["x"]), int(p["y"])) for p in r.qb]
        na, nb = len(a), len(b)
        dpt = [[inf] * nb for _ in range(na)]
        for i in range(na):
            for j in range(nb):
                d = ((a[i][0] - b[j][0]) ** 2
                     + (a[i][1] - b[j][1]) ** 2)
                if i == 0 and j == 0:
                    prev = 0
                else:
                    prev = min(
                        dpt[i - 1][j] if i else inf,
                        dpt[i][j - 1] if j else inf,
                        dpt[i - 1][j - 1] if i and j else inf,
                    )
                dpt[i][j] = max(d, prev)  # every cell reachable
        yield (r.ra, r.rb, na, nb, dpt[na - 1][nb - 1])

    out = map_rows(
        pairs, _dp, "ra bigint, rb bigint, n_a int, n_b int, f_sq bigint"
    )
    return out.selectExpr(
        "ra", "rb", "n_a", "n_b", "f_sq",
        "CAST(FLOOR(SQRT(CAST(f_sq AS DOUBLE))) AS BIGINT) AS f_micro",
    )


_RK_CELL = "CAST(FLOOR({c} * 20) AS BIGINT)"  # 0.05-degree cells
_RK_RADII = (20_000, 50_000)  # micro-degrees; r_max == cell size
_RK_BOUND = 60_000  # point_id bound: constant cost at any SF
# K(r) = A * 2 * pairs / (n (n-1)) over the [0,10)^2 world (A = 100);
# L(r) = sqrt(K/pi).  One double chain per output cell (gotcha 17).
_RK_K = (
    "CAST(FLOOR(1000000.0 * 100.0 * 2.0 * CAST({p} AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * (n - 1))) AS BIGINT)"
)
_RK_L = (
    "CAST(FLOOR(1000000.0 * SQRT(100.0 * 2.0 * CAST({p} AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * (n - 1)) / 3.141592653589793)) AS BIGINT)"
)


def cells_ripley_k(spark, sf_dir):
    """RIPLEY'S K / L point-pattern statistic — the
    clustering-vs-dispersion test of spatial statistics (completes the
    family next to Moran's I and Getis-Ord): exact pair counts within
    r in {0.02, 0.05} degrees, estimated as K(r) = A*2*pairs/(n(n-1)).
    Pairs come from a CELL-BLOCKED self-join at the 0.05-degree grid
    (r_max == cell size, so the 3x3 neighborhood provably covers every
    qualifying pair — never all-pairs); coordinates quantize to
    micro-degree BIGINTs BEFORE the distance math.  The point set is
    bounded to the first 60k point ids (constant cost at any SF,
    spec'd identically in the oracle).

    Plan shape: one 9-offset explode on the (tiny, cell-bounded)
    quantized point table, one equi-join on the blocked cell, one
    map-side-combinable conditional-count agg; the blocking key is
    COALESCE-wrapped (gotcha 11)."""
    from ..harness import points_df

    pts = (
        points_df(spark, sf_dir)
        .filter(f"point_id <= {_RK_BOUND}")
        .selectExpr(
            "point_id AS pid",
            "CAST(FLOOR(lon * 1000000) AS BIGINT) AS x",
            "CAST(FLOOR(lat * 1000000) AS BIGINT) AS y",
            f"COALESCE({_RK_CELL.format(c='lon')} * 1000"
            f" + {_RK_CELL.format(c='lat')}, -1) AS cell",
        )
        .localCheckpoint()  # referenced by both join sides
    )
    nb = pts.selectExpr(
        "pid AS pid2", "x AS x2", "y AS y2", "cell",
        "explode(sequence(0, 8)) AS k",
    ).selectExpr(
        "pid2", "x2", "y2",
        "cell + (k % 3 - 1) * 1000 + CAST(FLOOR(k / 3) AS BIGINT) - 1"
        " AS cell",
    )
    r2 = {r: r * r for r in _RK_RADII}
    pairs = pts.join(nb, "cell").filter("pid < pid2").selectExpr(
        "(x - x2) * (x - x2) + (y - y2) * (y - y2) AS dsq"
    )
    agg = pairs.agg(
        *[
            F.sum(F.expr(f"CASE WHEN dsq <= {rr} THEN 1 ELSE 0 END"))
            .alias(f"p{r}")
            for r, rr in r2.items()
        ]
    )
    n = pts.agg(F.count(F.lit(1)).alias("n"))
    joined = agg.crossJoin(F.broadcast(n))
    out = None
    for r in _RK_RADII:
        leg = joined.selectExpr(
            f"CAST({r} AS BIGINT) AS r_micro",
            f"p{r} AS n_pairs",
            "n",
            f"{_RK_K.format(p=f'p{r}')} AS k_micros",
            f"{_RK_L.format(p=f'p{r}')} AS l_micros",
        )
        out = leg if out is None else out.unionByName(leg)
    return out


# Integer octant of a segment direction (dx, dy) in micro-degrees:
# first-match CASE over signs and |dx| vs |dy| cross-comparisons — the
# image_slope_aspect octant technique on vector data.  0=E-ish (dx
# dominant, dy>=0) counter-clockwise through 7; exhaustive for any
# (dx, dy) != (0, 0).
OCTANT_SQL = (
    "CASE WHEN dy >= 0 AND dx > 0 AND dx >= dy THEN 0 "
    "WHEN dx > 0 AND dy > 0 THEN 1 "
    "WHEN dx <= 0 AND dy > 0 AND dy >= -dx THEN 2 "
    "WHEN dx < 0 AND dy > 0 THEN 3 "
    "WHEN dy <= 0 AND dx < 0 AND -dx >= -dy THEN 4 "
    "WHEN dx < 0 AND dy < 0 THEN 5 "
    "WHEN dx >= 0 AND dy < 0 AND -dy >= dx THEN 6 "
    "ELSE 7 END"
)

_SEG_LEN = "CAST(FLOOR(SQRT(CAST(dx * dx + dy * dy AS DOUBLE))) AS BIGINT)"


def roads_bearing_octants(spark, sf_dir):
    """BEARING OCTANT HISTOGRAM per road kind — the orientation
    profile a road-network QA pipeline publishes (grid-planned cities
    vs organic nets).  Coordinates quantize to micro-degree BIGINTs
    first, the octant is a pure-integer first-match CASE (shared text
    with the oracle), and per-segment length is the one
    FLOOR(SQRT(int64)) float op.

    Plan shape: posexplode + ONE road_id-partitioned lead window
    (vertex fanout linear in polyline length), then a map-side-combined
    hash agg onto the (kind, octant) grid — |kinds| x 8 groups at any
    scale.  The oracle derives segments by direct list indexing (no
    window at all), so the window plumbing is independently checked."""
    _images, roads = _fixture_images(spark)
    verts = roads.selectExpr(
        "road_id", "kind", "posexplode(coords) AS (i, c)"
    ).selectExpr(
        "road_id", "kind", "i",
        "CAST(FLOOR(c.x * 1000000) AS BIGINT) AS x",
        "CAST(FLOOR(c.y * 1000000) AS BIGINT) AS y",
    )
    w = Window.partitionBy("road_id").orderBy("i")
    seg = (
        verts.select(
            "kind", "x", "y",
            F.lead("x").over(w).alias("x2"),
            F.lead("y").over(w).alias("y2"),
        )
        .filter("x2 IS NOT NULL AND NOT (x2 = x AND y2 = y)")
        .selectExpr("kind", "x2 - x AS dx", "y2 - y AS dy")
    )
    return (
        seg.selectExpr(
            "kind", f"{OCTANT_SQL} AS octant", f"{_SEG_LEN} AS seg_len"
        )
        .groupBy("kind", "octant")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("seg_len").alias("len_micros"),
        )
    )


def points_snap_roads(spark, sf_dir):
    """MAP-MATCHING: snap every point to its nearest road segment and
    publish the linear-referencing payload (clamped projection
    parameter t + the snapped on-segment coordinates) — the operator a
    GPS-trace conflation pipeline runs right after kNN.  Same
    cell-pruned candidate join and (dist, road, seg) min(struct)
    argmin as spatial_knn_nearest; the snap is computed once from the
    winning segment's carried intermediates.  Oracle: brute-force
    cross join + rank window over the SAME sqlgen distance steps, with
    the identical t/snap double chain."""
    from ..harness import KNN_CUTOFF_M, points_df, segments_df
    from ..ops import spatial as SP

    near = SP.snap_nearest_road(
        points_df(spark, sf_dir), segments_df(spark, sf_dir),
        KNN_CUTOFF_M, id_col="point_id",
    )
    return near.select(
        "point_id", "road_id", "seg_id",
        F.round("dist_m", 6).alias("dist_m"),
        "t_micros", "snap_x_micro", "snap_y_micro",
    )


def country_clip_area(spark, sf_dir):
    """POLYGON INTERSECTION AREA (vector overlay): every country ring
    clipped against the convex AOI pentagon via Sutherland-Hodgman —
    the polygon∩polygon primitive completing the overlay family
    (segment clip, crossings, dissolve, hull, buffer already exist).
    The clip kernel vectorizes inside tests / intersection points per
    clip edge; the shoelace fold is SEQUENTIAL in ring order (gotcha 8)
    and both areas quantize to nano-deg^2 with one FLOOR.  Oracle:
    committed golden from the pure-SCALAR Sutherland-Hodgman twin in
    make_goldens.py — identical per-element float op order (the
    hillshade rule), different mechanics."""
    import os

    from ..geom import clip_polygon_convex, ring_area_seq
    from ..jobs.rai import fixture_dir

    cdir = os.path.join(fixture_dir(0.01), "countries.parquet")
    countries = spark.read.parquet(cdir)
    aoi = [tuple(p) for p in AOI_RING[:-1]]

    def _clip(r):
        ring = np.array([(p["x"], p["y"]) for p in r.ring])
        if (ring[0] == ring[-1]).all():
            ring = ring[:-1]
        inter = clip_polygon_convex(ring, np.array(aoi))
        a_c = abs(ring_area_seq(ring))
        a_i = abs(ring_area_seq(inter)) if len(inter) >= 3 else 0.0
        yield (
            r.country_code, int(len(ring)), int(len(inter)),
            int(np.floor(a_i * 1e9)), int(np.floor(a_c * 1e9)),
            int(np.floor(a_i / a_c * 1_000_000.0)),
        )

    return map_rows(
        countries, _clip,
        "country_code string, n_in int, n_out int, inter_area_nano "
        "bigint, country_area_nano bigint, frac_micros bigint",
    )


_EPS_M = 100.0  # undershoot gap threshold (meters)
_T_LO, _T_HI = 0.05, 0.95  # strictly-interior projection band


def roads_topology_errors(spark, sf_dir):
    """TOPOLOGY QA: per kind, road ENDPOINTS that land near the
    INTERIOR of another road (within 100 m, projection parameter
    strictly inside (0.05, 0.95)) — the undershoot / T-junction
    detector a road-network conflation pipeline runs before routing.
    Candidates come from a 3x3 cell-block equi-join (segments bucketed
    by FIRST vertex — the roads_hausdorff blocking SPEC, mirrored in
    the oracle); the distance/projection chain is the SAME sqlgen
    steps the kNN family runs.  COALESCE-wrapped keys (gotcha 11).

    Plan shape: endpoint side explodes 9 block keys (tiny), segment
    side buckets once; one equi-join, one per-endpoint MAX(flag) agg,
    one kind rollup."""
    from ..sqlgen import apply_steps, point_seg_dist_steps

    _images, roads = _fixture_images(spark)
    ends = roads.selectExpr(
        "road_id", "kind",
        "explode(array("
        "named_struct('ei', 0, 'px', coords[0].x, 'py', coords[0].y), "
        "named_struct('ei', 1, 'px', element_at(coords, -1).x, "
        "'py', element_at(coords, -1).y))) AS e"
    ).selectExpr("road_id", "kind", "e.ei AS ei", "e.px AS px",
                 "e.py AS py")
    ekeys = ends.selectExpr(
        "road_id", "kind", "ei", "px", "py",
        "explode(array(-1, 0, 1)) AS ox",
    ).selectExpr(
        "road_id", "kind", "ei", "px", "py", "ox",
        "explode(array(-1, 0, 1)) AS oy",
    ).selectExpr(
        "road_id", "kind", "ei", "px", "py",
        "COALESCE((CAST(FLOOR(px * 10) AS BIGINT) + ox) * 100000 "
        "+ CAST(FLOOR(py * 10) AS BIGINT) + oy, -1) AS ck",
    )
    verts = roads.selectExpr("road_id AS rs", "posexplode(coords) AS (i, c)") \
        .selectExpr("rs", "i", "c.x AS vx", "c.y AS vy")
    w = Window.partitionBy("rs").orderBy("i")
    segs = (
        verts.select(
            "rs", F.col("vx").alias("ax"), F.col("vy").alias("ay"),
            F.lead("vx").over(w).alias("bx"),
            F.lead("vy").over(w).alias("by"),
        )
        .filter("bx IS NOT NULL")
        .selectExpr(
            "rs", "ax", "ay", "bx", "by",
            "COALESCE(CAST(FLOOR(ax * 10) AS BIGINT) * 100000 "
            "+ CAST(FLOOR(ay * 10) AS BIGINT), -1) AS ck",
        )
    )
    cand = ekeys.join(segs, "ck").filter("rs <> road_id")
    steps = point_seg_dist_steps("px", "py", "ax", "ay", "bx", "by",
                                 "dist_m")
    cand = apply_steps(cand, steps)
    flagged = (
        cand.selectExpr(
            "road_id", "kind", "ei",
            f"CASE WHEN dist_m <= CAST({_EPS_M} AS DOUBLE) "
            f"AND dist_m_t > CAST({_T_LO} AS DOUBLE) "
            f"AND dist_m_t < CAST({_T_HI} AS DOUBLE) "
            "THEN 1 ELSE 0 END AS flag",
        )
        .groupBy("road_id", "kind", "ei")
        .agg(F.max("flag").alias("hit"))
    )
    n_ends = ends.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_endpoints")
    )
    hits = flagged.filter("hit = 1").groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_undershoots"),
        F.sum(F.expr("road_id * 2 + ei")).alias("chk"),
    )
    return (
        n_ends.join(hits, "kind", "left")
        .selectExpr(
            "kind", "n_endpoints",
            "COALESCE(n_undershoots, 0) AS n_undershoots",
            "COALESCE(chk, 0) AS chk",
        )
    )


def _aoi_halfplane_exprs(by: str = "by") -> tuple[str, str, str]:
    """Shared fragments for clipping segment (ax,ay)-(bx,by) against
    the convex CCW AOI pentagon: per edge k, g_k(t) is linear in t, so
    the inside interval is [lo, hi] = [0,1] tightened by each edge's
    root t* = -g0/(g1-g0) (entering when g rises, leaving when it
    falls); a parallel edge with g0 < 0 kills the segment.  Returns
    (lo_expr, hi_expr, feasible_expr) — identical text in DuckDB."""
    ring = AOI_RING[:-1]
    los, his, feas = ["CAST(0.0 AS DOUBLE)"], ["CAST(1.0 AS DOUBLE)"], []
    for k in range(len(ring)):
        x0, y0 = ring[k]
        x1, y1 = ring[(k + 1) % len(ring)]
        ex, ey = repr(x1 - x0), repr(y1 - y0)
        g0 = f"(({ex}) * (ay - ({y0!r})) - ({ey}) * (ax - ({x0!r})))"
        g1 = f"(({ex}) * ({by} - ({y0!r})) - ({ey}) * (bx - ({x0!r})))"
        t = f"(-({g0}) / (({g1}) - ({g0})))"
        los.append(f"CASE WHEN ({g1}) > ({g0}) THEN {t} "
                   "ELSE CAST(0.0 AS DOUBLE) END")
        his.append(f"CASE WHEN ({g1}) < ({g0}) THEN {t} "
                   "ELSE CAST(1.0 AS DOUBLE) END")
        feas.append(f"NOT (({g1}) = ({g0}) AND ({g0}) < CAST(0.0 AS"
                    " DOUBLE))")
    return (
        "GREATEST(" + ", ".join(los) + ")",
        "LEAST(" + ", ".join(his) + ")",
        " AND ".join(feas),
    )


def roads_in_aoi_length(spark, sf_dir):
    """POLYLINE∩POLYGON LENGTH: per road kind, the exact length of
    road inside the convex AOI pentagon — the overlay statistic
    ("how much highway crosses the study area") complementing
    country_clip_area's polygon∩polygon.  Each segment's inside
    t-interval comes from intersecting the five half-plane constraints
    ANALYTICALLY (linear g_k(t), GREATEST of entering roots / LEAST of
    leaving roots — no iteration, no golden: the oracle runs the
    IDENTICAL fragments live).  Per-segment inside length quantizes to
    micro-degrees BEFORE the fold (FLOOR-before-fold, the
    cells_line_density rule), so sums are exact BIGINTs at any
    partitioning."""
    lo, hi, feas = _aoi_halfplane_exprs()
    _images, roads = _fixture_images(spark)
    verts = roads.selectExpr(
        "road_id", "kind", "posexplode(coords) AS (i, c)"
    ).selectExpr("road_id", "kind", "i", "c.x AS vx", "c.y AS vy")
    w = Window.partitionBy("road_id").orderBy("i")
    seg = (
        verts.select(
            "kind", F.col("vx").alias("ax"), F.col("vy").alias("ay"),
            F.lead("vx").over(w).alias("bx"),
            F.lead("vy").over(w).alias("by"),
        )
        .filter("bx IS NOT NULL")
    )
    clipped = seg.selectExpr(
        "kind",
        "SQRT((bx - ax) * (bx - ax) + (by - ay) * (by - ay)) AS seg_len",
        f"{lo} AS lo", f"{hi} AS hi", f"({feas}) AS feas",
    ).selectExpr(
        "kind",
        "CAST(FLOOR(seg_len * 1000000.0) AS BIGINT) AS len_micros",
        "CASE WHEN feas AND hi > lo THEN "
        "CAST(FLOOR((hi - lo) * seg_len * 1000000.0) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS in_micros",
    )
    return clipped.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.expr("CASE WHEN in_micros > 0 THEN 1 ELSE 0 END"))
        .alias("n_touched"),
        F.sum("len_micros").alias("sum_len_micros"),
        F.sum("in_micros").alias("sum_in_micros"),
    )


def roads_strokes(spark, sf_dir):
    """STROKE GROUPING (perceptual road-network generalization — the
    'good continuation' operator cartographers run before display
    filtering): same-kind segments that meet at an EXACT shared vertex
    and deflect by less than ~30 degrees chain into one stroke.  All
    geometry is integer micro-degrees; the angular gate is the exact
    cross/dot test 1000*|cross| < 577*dot with dot > 0 (tan 30 =
    0.577, no trig anywhere).  Segments come from explode(sequence) +
    element_at (no interpreted lambda, no window — gotcha 16b);
    continuation candidates are NODE-BUCKETED equi-join pairs (fanout
    = node degree, never all-pairs); components run through the
    pointer-jumped min-label primitive (O(log diameter) rounds).
    Stroke lengths fold FLOOR-micro segment lengths (exact BIGINTs).
    Oracle: identical fragments + the pruned recursive-CTE
    reachability min (the dissolve technique) in DuckDB."""
    _images, roads = _fixture_images(spark)
    segs = (
        roads.selectExpr(
            "CAST(road_id AS STRING) AS rid", "kind", "coords",
            "explode(sequence(1, size(coords) - 1)) AS i",
        )
        .selectExpr(
            "concat(rid, ':', CAST(i AS STRING)) AS seg",
            "kind",
            "CAST(FLOOR(element_at(coords, i).x * 1000000) AS BIGINT)"
            " AS x1",
            "CAST(FLOOR(element_at(coords, i).y * 1000000) AS BIGINT)"
            " AS y1",
            "CAST(FLOOR(element_at(coords, i + 1).x * 1000000) AS"
            " BIGINT) AS x2",
            "CAST(FLOOR(element_at(coords, i + 1).y * 1000000) AS"
            " BIGINT) AS y2",
        )
        .localCheckpoint()  # consumers: orientations, verts, lengths
    )
    ori = segs.selectExpr("seg", "kind", "x1", "y1", "x2", "y2") \
        .unionByName(segs.selectExpr(
            "seg", "kind", "x2 AS x1", "y2 AS y1", "x1 AS x2",
            "y1 AS y2",
        ))
    ins = ori.selectExpr(
        "seg AS seg_a",
        "concat(kind, '|', CAST(x2 AS STRING), '|', CAST(y2 AS STRING))"
        " AS nk",
        "x2 - x1 AS ux", "y2 - y1 AS uy",
    )
    outs = ori.selectExpr(
        "seg AS seg_b",
        "concat(kind, '|', CAST(x1 AS STRING), '|', CAST(y1 AS STRING))"
        " AS nk",
        "x2 - x1 AS vx", "y2 - y1 AS vy",
    )
    pairs = ins.join(outs, "nk").filter("seg_a <> seg_b").filter(
        "ux * vx + uy * vy > 0 AND "
        "1000 * abs(ux * vy - uy * vx) < 577 * (ux * vx + uy * vy)"
    )
    edges = pairs.selectExpr("seg_a AS src", "seg_b AS dst").distinct()
    verts = segs.selectExpr("seg AS k")
    labels = _components_jump(edges, verts)
    seg_len = segs.selectExpr(
        "seg", "kind",
        "CAST(FLOOR(sqrt(CAST((x2 - x1) * (x2 - x1) + (y2 - y1) *"
        " (y2 - y1) AS DOUBLE))) AS BIGINT) AS len_u",
    )
    per = (
        seg_len.join(labels, seg_len.seg == labels.v)
        .groupBy("kind", "label")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum("len_u").alias("sum_len"),
        )
    )
    return per.groupBy("kind").agg(
        F.sum("n_segs").alias("n_segments"),
        F.count(F.lit(1)).alias("n_strokes"),
        F.max("n_segs").alias("max_segments"),
        F.max("sum_len").alias("max_len_micros"),
    )


_VW_A2_MIN = 1_000_000  # twice-area threshold in (1e-5 deg)^2 units


def roads_simplify_vw(spark, sf_dir):
    """VISVALINGAM-WHYATT simplification of every fixture road — the
    AREA-based generalizer next to Douglas-Peucker's distance-based
    one (roads_simplify_dp), and the one cartographers prefer for
    shape retention: repeatedly drop the interior vertex whose
    triangle with its CURRENT neighbours has the smallest twice-area,
    until the minimum reaches the threshold.  All-integer on 1e-5-deg
    quantized coords (exact cross products, no float area); engine
    maintains linked prev/next arrays, the golden twin rescans lists
    per step — same removals, different mechanics.  Output carries
    the kept-vertex BITMASK (n_pts <= 42 fits bigint) like the DP
    twin, so one flipped keep decision fails the hash."""
    from ..geom import vw_keep_mask

    _images, roads = _fixture_images(spark)

    def _vw(r):
        q = np.array([
            [int(np.floor(p["x"] * 1e5 + 0.5)),
             int(np.floor(p["y"] * 1e5 + 0.5))]
            for p in r.coords
        ], dtype=np.int64)
        keep, removed = vw_keep_mask(q, _VW_A2_MIN)
        mask = 0
        for k in np.nonzero(keep)[0]:
            mask |= 1 << int(k)
        yield (r.road_id, r.kind, len(q), int(keep.sum()), mask, removed)

    return map_rows(
        roads.select("road_id", "kind", "coords"), _vw,
        "road_id bigint, kind string, n_in bigint, n_kept bigint,"
        " keep_mask bigint, removed_a2 bigint",
    )


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
    "spatial_knn_unbounded": spatial_knn_unbounded,
    "mvt_tile_stats": mvt_tile_stats,
    "osm_qatile_roads": osm_qatile_roads,
    "mvt_pyramid_stats": mvt_pyramid_stats,
    "osm_relation_rings": osm_relation_rings,
    "cells_getis_ord": cells_getis_ord,
    "roads_supercover_cells": roads_supercover_cells,
    "roads_dissolve": roads_dissolve,
    "cells_kde": cells_kde,
    "roads_sinuosity": roads_sinuosity,
    "cells_line_density": cells_line_density,
    "osm_qatile_source": osm_qatile_source,
    "voronoi_assign": voronoi_assign,
    "spatial_dbscan": spatial_dbscan,
    "hilbert_cells": hilbert_cells,
    "geohash_cells": geohash_cells,
    "route_interpolate": route_interpolate,
    "roads_simplify_dp": roads_simplify_dp,
    "mvt_pyramid_simplified": mvt_pyramid_simplified,
    "country_convex_hull": country_convex_hull,
    "roads_buffer_cells": roads_buffer_cells,
    "road_intersections": road_intersections,
    "grid_idw": grid_idw,
    "cells_morans_i": cells_morans_i,
    "country_centroids": country_centroids,
    "roads_hausdorff": roads_hausdorff,
    "roads_resample_points": roads_resample_points,
    "cells_ripley_k": cells_ripley_k,
    "roads_frechet": roads_frechet,
    "roads_bearing_octants": roads_bearing_octants,
    "points_snap_roads": points_snap_roads,
    "country_clip_area": country_clip_area,
    "roads_topology_errors": roads_topology_errors,
    "roads_in_aoi_length": roads_in_aoi_length,
    "roads_strokes": roads_strokes,
    "roads_simplify_vw": roads_simplify_vw,
}
