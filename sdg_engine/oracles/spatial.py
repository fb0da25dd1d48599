"""DuckDB oracle SQL for the spatial queries (:mod:`sdg_engine.queries.spatial`)."""

from __future__ import annotations

import os

from ..harness import (
    AX,
    AY,
    BX,
    BY,
    KNN_CUTOFF_M,
    NODE_X,
    NODE_Y,
    PX,
    PY,
    edges_values_sql,
    edges_values_sql_indexed,
)
from ..queries.spatial import (
    CENTROID_SQL,
    OCTANT_SQL,
    PYR_SIMPLIFY_EPS,
    _DB_IX,
    _DB_IY,
    _DB_MINPTS,
    _SEG_LEN,
    _VOR_Q,
    _VOR_SEEDS,
)
from ..sqlgen import (
    chain_select,
    grid_index_expr,
    hex_cell_steps,
    point_cell_steps,
    point_seg_dist_steps,
)
from ._common import fixture_paths

ORACLES: dict[str, str] = {}


# note: column "by" is reserved-ish in SQL; oracles use "byy"
_PTS = f"SELECT o_orderkey AS point_id, {PX} AS lon, {PY} AS lat FROM orders"
_SEGS = (
    f"SELECT s_suppkey AS road_id, {AX} AS ax, {AY} AS ay, "
    f"{BX} AS bx, {BY} AS byy FROM supplier"
)

_DIST_STEPS = point_seg_dist_steps("lon", "lat", "ax", "ay", "bx", "byy", "dist_m")

_KNN_RANKED = f"""
WITH pts AS ({_PTS}),
segs AS ({_SEGS}),
cand AS (SELECT * FROM pts CROSS JOIN segs),
d AS ({chain_select("SELECT * FROM cand", _DIST_STEPS, ["point_id", "road_id", "dist_m"])}),
hit AS (SELECT * FROM d WHERE dist_m <= CAST({int(KNN_CUTOFF_M)} AS DOUBLE)),
ranked AS (
  SELECT point_id, road_id, dist_m,
         ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY dist_m ASC, road_id ASC) AS rn
  FROM hit
)
"""

SPATIAL_KNN_NEAREST = (
    _KNN_RANKED
    + "SELECT point_id, road_id, ROUND(dist_m, 6) AS dist_m FROM ranked WHERE rn = 1"
)

# J4b top-k: the harness roads are single-segment, so the per-segment
# rank IS the per-road rank; the Spark side's per-road MIN is exercised
# generically and degenerates to identity here.
SPATIAL_KNN_TOPK = (
    _KNN_RANKED
    + "SELECT point_id, road_id, ROUND(dist_m, 6) AS dist_m, "
      "CAST(rn AS INT) AS rnk FROM ranked WHERE rn <= 3"
)

_PIP_CC = f"""
cc AS (
  SELECT point_id, country_code
  FROM (
    SELECT p.point_id, e.country_code,
           SUM(CASE WHEN ((e.y0 <= p.lat) <> (e.y1 <= p.lat))
                     AND ((e.x0 + ((p.lat - e.y0) * (e.x1 - e.x0) / (e.y1 - e.y0))) > p.lon)
                    THEN 1 ELSE 0 END) AS n_cross
    FROM pts p CROSS JOIN {edges_values_sql().replace("AS edges", "AS e")}
    GROUP BY p.point_id, e.country_code
  ) q WHERE n_cross % 2 = 1
)
"""

SPATIAL_PIP_COUNTRY = f"""
WITH pts AS ({_PTS}),
{_PIP_CC.strip().lstrip()}
SELECT point_id, country_code FROM cc
"""

FLAGSHIP_RAI = f"""
WITH pts AS ({_PTS}),
segs AS ({_SEGS}),
cand AS (SELECT * FROM pts CROSS JOIN segs),
d AS ({chain_select("SELECT * FROM cand", _DIST_STEPS, ["point_id", "dist_m"])}),
near AS (SELECT point_id FROM d GROUP BY point_id
         HAVING MIN(dist_m) <= CAST({int(KNN_CUTOFF_M)} AS DOUBLE)),
{_PIP_CC.strip()}
SELECT cc.country_code,
       COUNT(*) AS n_points,
       CAST(SUM(CASE WHEN near.point_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       ROUND(CAST(SUM(CASE WHEN near.point_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS rai
FROM cc LEFT JOIN near ON cc.point_id = near.point_id
GROUP BY cc.country_code
"""

_CELL12_STEPS = point_cell_steps("lon", "lat", 12, "cell_id")

SPATIAL_CELL_COVER = f"""
WITH pts AS ({_PTS}),
cells AS ({chain_select("SELECT * FROM pts", _CELL12_STEPS, ["point_id", "cell_id"])})
SELECT cell_id, COUNT(*) AS n_points FROM cells GROUP BY cell_id
"""


# J2b ad-hoc region query (r04): ray-cast over the SAME pentagon edge
# literals the Spark query embeds (queries.AOI_RING)
def _aoi_edges_sql() -> str:
    from ..queries.spatial import AOI_RING

    rows = ", ".join(
        f"({AOI_RING[k][0]!r}, {AOI_RING[k][1]!r}, "
        f"{AOI_RING[k + 1][0]!r}, {AOI_RING[k + 1][1]!r})"
        for k in range(len(AOI_RING) - 1)
    )
    return f"(VALUES {rows}) AS e(x0, y0, x1, y1)"


def _spatial_region_query_sql() -> str:
    return f"""
WITH pts AS ({_PTS}),
cross_counts AS (
  SELECT p.point_id,
         SUM(CASE WHEN ((e.y0 <= p.lat) <> (e.y1 <= p.lat))
                   AND ((e.x0 + ((p.lat - e.y0) * (e.x1 - e.x0) / (e.y1 - e.y0))) > p.lon)
                  THEN 1 ELSE 0 END) AS n_cross
  FROM pts p CROSS JOIN {_aoi_edges_sql()}
  GROUP BY p.point_id
)
SELECT point_id FROM cross_counts WHERE n_cross % 2 = 1
"""


# C1b pyramid rollup (r04): packed-id parent truncation, bit ops only
SPATIAL_PYRAMID = f"""
WITH pts AS ({_PTS}),
cells AS ({chain_select("SELECT * FROM pts", _CELL12_STEPS, ["point_id", "cell_id"])}),
ex AS (SELECT cell_id, UNNEST([0, 1, 2, 3]) AS s FROM cells),
p AS (
  SELECT CAST(12 - s AS INT) AS level,
         (CAST(12 - s AS BIGINT) << 54)
           | ((cell_id & {(1 << 54) - 1}) >> (2 * s)) AS cell
  FROM ex
)
SELECT level, cell, COUNT(*) AS n_points FROM p GROUP BY 1, 2
"""


# --- C2: distributed compact cover (same ancestor-count formulation the
# Spark op runs: full node = descendant count 4^(L-lvl); compacted =
# full nodes whose parent is not full) --------------------------------------
_CELL7_STEPS = point_cell_steps("lon", "lat", 7, "cell_id")
_CODE_MASK = (1 << 54) - 1

SPATIAL_COMPACT_COVER = f"""
WITH pts AS ({_PTS}),
cells AS ({chain_select("SELECT * FROM pts", _CELL7_STEPS, ["cell_id"])}),
dense AS (SELECT DISTINCT cell_id FROM cells),
anc AS (
  SELECT ((CAST(7 - ks.k AS BIGINT) << 54)
          | ((cell_id & {_CODE_MASK}) >> (2 * ks.k))) AS anc
  FROM dense CROSS JOIN (SELECT UNNEST(range(0, 8)) AS k) ks
),
cnt AS (SELECT anc, COUNT(*) AS n FROM anc GROUP BY anc),
fullset AS (
  SELECT anc FROM cnt
  WHERE n = (CAST(1 AS BIGINT) << (2 * (7 - CAST(anc >> 54 AS INT))))
)
SELECT f.anc AS cell_id, CAST(f.anc >> 54 AS INT) AS level
FROM fullset f
WHERE ((CAST((f.anc >> 54) - 1 AS BIGINT) << 54) | ((f.anc & {_CODE_MASK}) >> 2))
      NOT IN (SELECT anc FROM fullset)
"""


# --- J6: Z-order range join (bin equi-join + range residual) ---------------
# Same compact-cover CTE as SPATIAL_COMPACT_COVER, then the identical
# shift arithmetic the Spark op runs (range_join_compacted): ranges of
# level-12 descendants per cover cell, bins at level 3 on both sides.
_CELL12R_STEPS = point_cell_steps("lon", "lat", 12, "cell_id")

SPATIAL_RANGE_JOIN = f"""
WITH pts AS ({_PTS}),
cells AS ({chain_select("SELECT * FROM pts", _CELL7_STEPS, ["cell_id"])}),
dense AS (SELECT DISTINCT cell_id FROM cells),
anc AS (
  SELECT ((CAST(7 - ks.k AS BIGINT) << 54)
          | ((cell_id & {_CODE_MASK}) >> (2 * ks.k))) AS anc
  FROM dense CROSS JOIN (SELECT UNNEST(range(0, 8)) AS k) ks
),
cnt AS (SELECT anc, COUNT(*) AS n FROM anc GROUP BY anc),
fullset AS (
  SELECT anc FROM cnt
  WHERE n = (CAST(1 AS BIGINT) << (2 * (7 - CAST(anc >> 54 AS INT))))
),
cover AS (
  SELECT f.anc AS cell_id, CAST(f.anc >> 54 AS INT) AS level
  FROM fullset f
  WHERE ((CAST((f.anc >> 54) - 1 AS BIGINT) << 54) | ((f.anc & {_CODE_MASK}) >> 2))
        NOT IN (SELECT anc FROM fullset)
),
bins AS (
  SELECT cell_id, level,
         ((CAST(12 AS BIGINT) << 54)
          | ((cell_id & {_CODE_MASK}) << (2 * (12 - level)))) AS lo,
         ((CAST(12 AS BIGINT) << 54)
          | (((cell_id & {_CODE_MASK}) + 1) << (2 * (12 - level)))) AS hi,
         CASE WHEN level >= 3 THEN ((cell_id & {_CODE_MASK}) >> (2 * (level - 3)))
              ELSE ((cell_id & {_CODE_MASK}) << (2 * (3 - level))) END AS bin_base,
         CASE WHEN level >= 3 THEN CAST(1 AS BIGINT)
              ELSE (CAST(1 AS BIGINT) << (2 * (3 - level))) END AS n_bins
  FROM cover
),
binned AS (
  SELECT cell_id, level, lo, hi, bin_base + ks.i AS bin
  FROM bins, UNNEST(range(0, n_bins)) AS ks(i)
),
p12 AS ({chain_select("SELECT * FROM pts", _CELL12R_STEPS, ["point_id", "cell_id"])}),
probe AS (
  SELECT point_id, cell_id,
         ((cell_id & {_CODE_MASK}) >> (2 * (12 - 3))) AS bin
  FROM p12
)
SELECT b.cell_id AS cell_id, b.level AS level, COUNT(*) AS n_points
FROM probe p JOIN binned b
  ON p.bin = b.bin AND p.cell_id >= b.lo AND p.cell_id < b.hi
GROUP BY b.cell_id, b.level
"""

SPATIAL_HEX_COVER = f"""
WITH pts AS ({_PTS}),
hx AS ({chain_select("SELECT * FROM pts", hex_cell_steps("lon", "lat", 0.05, "hex_id"), ["point_id", "hex_id"])})
SELECT hex_id, COUNT(*) AS n_points, MIN(point_id) AS min_point
FROM hx GROUP BY hex_id
"""


# --- C3 hex variant: ring-1 neighborhood density (axial offsets as
# packed-id integer deltas — same arithmetic as the Spark op) ---------------
SPATIAL_HEX_KRING = f"""
WITH pts AS ({_PTS}),
hx AS ({chain_select("SELECT * FROM pts", hex_cell_steps("lon", "lat", 0.05, "hex_id"), ["point_id", "hex_id"])}),
hist AS (SELECT hex_id, COUNT(*) AS n FROM hx GROUP BY hex_id),
neigh AS (
  SELECT point_id, hex_id + ks.d AS nhex
  FROM hx, UNNEST([0, 16384, -16384, 1, -1, 16383, -16383]) AS ks(d)
)
SELECT ne.point_id, CAST(COALESCE(SUM(h.n), 0) AS BIGINT) AS n_points_r1
FROM neigh ne LEFT JOIN hist h ON ne.nhex = h.hex_id
GROUP BY ne.point_id
"""


# --- S3: way assembly length (independent formulation: window LEAD +
# RUNNING sum in ref order — the running window reproduces Spark's
# left-fold order exactly, so the doubles are bit-identical) ------------------
COUNTRY_AREAS = f"""
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
"""

OSM_WAY_ASSEMBLY = f"""
WITH n AS (
  SELECT s_suppkey AS way_id, ks.i AS pos, {NODE_X} AS x, {NODE_Y} AS y
  FROM supplier CROSS JOIN (SELECT UNNEST(range(0, 4)) AS i) ks
),
seg AS (
  SELECT way_id, pos, x, y,
         LEAD(x) OVER (PARTITION BY way_id ORDER BY pos) AS x2,
         LEAD(y) OVER (PARTITION BY way_id ORDER BY pos) AS y2
  FROM n
),
d AS (
  SELECT way_id, pos,
         SQRT((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y)) AS dist
  FROM seg WHERE x2 IS NOT NULL
),
run AS (
  SELECT way_id, pos,
         SUM(dist) OVER (PARTITION BY way_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs,
         ROW_NUMBER() OVER (PARTITION BY way_id ORDER BY pos DESC) AS rn
  FROM d
)
SELECT way_id, 4 AS n_nodes,
       ROUND(rs * CAST(111320 AS DOUBLE), 6) AS length_m
FROM run WHERE rn = 1
"""


# --- J1 at level 5: segment bbox cover × point cells -----------------------
_CELL5_STEPS = point_cell_steps("lon", "lat", 5, "cell_id")


def _pack_steps_from_idx(ix: str, iy: str, level: int, out: str):
    from ..sqlgen import pack_cell_expr

    return [(out, pack_cell_expr(ix, iy, level))]


_SEG_COVER5 = f"""
segidx AS (
  SELECT road_id,
         {grid_index_expr("LEAST(ax, bx)", 5)} AS ix0,
         {grid_index_expr("LEAST(ay, byy)", 5)} AS iy0,
         {grid_index_expr("GREATEST(ax, bx)", 5)} AS ix1,
         {grid_index_expr("GREATEST(ay, byy)", 5)} AS iy1
  FROM segs
),
segexp AS (
  SELECT road_id, u1.cix AS cix, u2.ciy AS ciy
  FROM segidx, UNNEST(generate_series(ix0, ix1)) AS u1(cix),
       UNNEST(generate_series(iy0, iy1)) AS u2(ciy)
),
segcells AS ({chain_select("SELECT * FROM segexp", _pack_steps_from_idx("cix", "ciy", 5, "cell_id"), ["road_id", "cell_id"])})
"""

SPATIAL_JOIN_CELLS = f"""
WITH pts AS ({_PTS}),
segs AS ({_SEGS}),
{_SEG_COVER5.strip()},
ptcells AS ({chain_select("SELECT * FROM pts", _CELL5_STEPS, ["point_id", "cell_id"])})
SELECT p.cell_id AS cell_id, COUNT(*) AS n_pairs
FROM ptcells p JOIN segcells s ON p.cell_id = s.cell_id
GROUP BY p.cell_id
"""


# --- C3 kring at level 10 ---------------------------------------------------
_PT_IDX10 = f"""
ptidx AS (
  SELECT point_id,
         {grid_index_expr("lon", 10)} AS ix,
         {grid_index_expr("lat", 10)} AS iy
  FROM pts
),
ringexp AS (
  SELECT point_id, ix + u1.dx AS nx, iy + u2.dy AS ny
  FROM ptidx, UNNEST(generate_series(-1, 1)) AS u1(dx),
       UNNEST(generate_series(-1, 1)) AS u2(dy)
  WHERE ix + u1.dx >= 0 AND iy + u2.dy >= 0
    AND ix + u1.dx < 1024 AND iy + u2.dy < 1024
),
ringcells AS ({chain_select("SELECT * FROM ringexp", _pack_steps_from_idx("nx", "ny", 10, "ring_cell_id"), ["point_id", "ring_cell_id"])})
"""

SPATIAL_KRING_CELLS = f"""
WITH pts AS ({_PTS}),
{_PT_IDX10.strip()}
SELECT point_id, COUNT(*) AS n_neighbors, MIN(ring_cell_id) AS min_cell
FROM ringcells GROUP BY point_id
"""


def _knn_unbounded_sql() -> str:
    from ..harness import AX, AY, BX, BY, PX, PY
    from ..sqlgen import chain_select, point_seg_dist_steps

    steps = point_seg_dist_steps("lon", "lat", "ax", "ay", "bx", "byy", "dist_m")
    return f"""
WITH pts AS (SELECT o_orderkey AS point_id, {PX} AS lon, {PY} AS lat FROM orders),
segs AS (SELECT s_suppkey AS road_id, {AX} AS ax, {AY} AS ay, {BX} AS bx, {BY} AS byy FROM supplier),
cand AS (SELECT * FROM pts CROSS JOIN segs),
d AS ({chain_select("SELECT * FROM cand", steps, ["point_id", "road_id", "dist_m"])}),
ranked AS (
  SELECT point_id, road_id, dist_m,
         ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY dist_m ASC, road_id ASC) AS rn
  FROM d
)
SELECT point_id, road_id, ROUND(dist_m, 6) AS dist_m FROM ranked WHERE rn = 1
"""


# --- S7 MVT tile stats: bbox cover + division-free SAT membership (the
# byte-identical twin of geom.segments_intersect_rect — only * - <= on
# doubles, so booleans match bit-for-bit) ------------------------------------
def _mvt_tile_stats_sql(level: int = 4) -> str:
    from ..harness import AX, AY, BX, BY
    from ..sqlgen import grid_index_expr

    s = repr(10.0 / (1 << level))  # tile size (exact binary at level 4)
    return f"""
WITH segs AS (SELECT {AX} AS ax, {AY} AS ay, {BX} AS bx, {BY} AS byy FROM supplier),
idx AS (
  SELECT *, {grid_index_expr("LEAST(ax, bx)", level)} AS ix0,
         {grid_index_expr("LEAST(ay, byy)", level)} AS iy0,
         {grid_index_expr("GREATEST(ax, bx)", level)} AS ix1,
         {grid_index_expr("GREATEST(ay, byy)", level)} AS iy1
  FROM segs
),
expd AS (
  SELECT ax, ay, bx, byy,
         CAST(u1.cix AS INT) AS tx, CAST(u2.ciy AS INT) AS ty,
         (CAST(0 AS DOUBLE) + u1.cix * CAST({s} AS DOUBLE)) AS x0,
         (CAST(0 AS DOUBLE) + u2.ciy * CAST({s} AS DOUBLE)) AS y0
  FROM idx, UNNEST(generate_series(ix0, ix1)) AS u1(cix),
       UNNEST(generate_series(iy0, iy1)) AS u2(ciy)
),
d1 AS (
  SELECT tx, ty, ax, ay, x0, y0,
         (x0 + CAST({s} AS DOUBLE)) AS x1, (y0 + CAST({s} AS DOUBLE)) AS y1,
         (bx - ax) AS dx, (byy - ay) AS dy,
         LEAST(ax, bx) AS sxmin, GREATEST(ax, bx) AS sxmax,
         LEAST(ay, byy) AS symin, GREATEST(ay, byy) AS symax
  FROM expd
),
d2 AS (
  SELECT tx, ty,
         (sxmin <= x1 AND sxmax >= x0 AND symin <= y1 AND symax >= y0) AS bbox,
         (dx * (y0 - ay) - dy * (x0 - ax)) AS s1,
         (dx * (y0 - ay) - dy * (x1 - ax)) AS s2,
         (dx * (y1 - ay) - dy * (x0 - ax)) AS s3,
         (dx * (y1 - ay) - dy * (x1 - ax)) AS s4
  FROM d1
)
SELECT {level} AS z, tx, ty,
       CAST(SUM(CASE WHEN bbox
                      AND LEAST(s1, s2, s3, s4) <= CAST(0 AS DOUBLE)
                      AND GREATEST(s1, s2, s3, s4) >= CAST(0 AS DOUBLE)
                     THEN 1 ELSE 0 END) AS INT) AS n_features
FROM d2 GROUP BY tx, ty
"""


def _mvt_pyramid_sql(z_min: int = 3, z_max: int = 5) -> str:
    """S7b pyramid: per-zoom rollup of the single-zoom tile-stats SQL
    (covered tiles incl. empty layers; SAT-kept feature totals)."""
    legs = [
        f"SELECT z, COUNT(*) AS n_tiles, "
        f"CAST(SUM(n_features) AS BIGINT) AS sum_features "
        f"FROM ({_mvt_tile_stats_sql(z)}) GROUP BY z"
        for z in range(z_min, z_max + 1)
    ]
    return "\nUNION ALL\n".join(legs)


def _qatile_roads_sql(level: int = 4) -> str:
    """S2 QA-tile round trip: same bbox cover + SAT membership as the
    MVT sink oracle, with road ids threaded through; only tiles with a
    kept feature appear (the reader emits FEATURE rows — a tile whose
    cover candidates all SAT-reject holds an empty layer)."""
    from ..harness import AX, AY, BX, BY
    from ..sqlgen import grid_index_expr

    s = repr(10.0 / (1 << level))
    return f"""
WITH segs AS (SELECT s_suppkey AS road_id, {AX} AS ax, {AY} AS ay,
                     {BX} AS bx, {BY} AS byy FROM supplier),
idx AS (
  SELECT *, {grid_index_expr("LEAST(ax, bx)", level)} AS ix0,
         {grid_index_expr("LEAST(ay, byy)", level)} AS iy0,
         {grid_index_expr("GREATEST(ax, bx)", level)} AS ix1,
         {grid_index_expr("GREATEST(ay, byy)", level)} AS iy1
  FROM segs
),
expd AS (
  SELECT road_id, ax, ay, bx, byy,
         CAST(u1.cix AS INT) AS tx, CAST(u2.ciy AS INT) AS ty,
         (CAST(0 AS DOUBLE) + u1.cix * CAST({s} AS DOUBLE)) AS x0,
         (CAST(0 AS DOUBLE) + u2.ciy * CAST({s} AS DOUBLE)) AS y0
  FROM idx, UNNEST(generate_series(ix0, ix1)) AS u1(cix),
       UNNEST(generate_series(iy0, iy1)) AS u2(ciy)
),
d1 AS (
  SELECT road_id, tx, ty, ax, ay, x0, y0,
         (x0 + CAST({s} AS DOUBLE)) AS x1, (y0 + CAST({s} AS DOUBLE)) AS y1,
         (bx - ax) AS dx, (byy - ay) AS dy,
         LEAST(ax, bx) AS sxmin, GREATEST(ax, bx) AS sxmax,
         LEAST(ay, byy) AS symin, GREATEST(ay, byy) AS symax
  FROM expd
),
d2 AS (
  SELECT road_id, tx, ty,
         (sxmin <= x1 AND sxmax >= x0 AND symin <= y1 AND symax >= y0) AS bbox,
         (dx * (y0 - ay) - dy * (x0 - ax)) AS s1,
         (dx * (y0 - ay) - dy * (x1 - ax)) AS s2,
         (dx * (y1 - ay) - dy * (x0 - ax)) AS s3,
         (dx * (y1 - ay) - dy * (x1 - ax)) AS s4
  FROM d1
),
kept AS (
  SELECT road_id, tx, ty FROM d2
  WHERE bbox AND LEAST(s1, s2, s3, s4) <= CAST(0 AS DOUBLE)
            AND GREATEST(s1, s2, s3, s4) >= CAST(0 AS DOUBLE)
)
SELECT {level} AS z, tx, ty,
       CAST(COUNT(*) AS INT) AS n_features,
       CAST(SUM(road_id) AS BIGINT) AS sum_road_id
FROM kept GROUP BY tx, ty
"""


def _grid_idw_sql() -> str:
    from ..harness import PX, PY
    from ..queries.spatial import (
        _IDW_CELL,
        _IDW_DEG,
        _IDW_LEVEL,
        _IDW_RADIUS_M,
        _IDW_W,
    )
    from ..sqlgen import grid_index_expr

    return f"""
WITH pts AS (
  SELECT {PX} AS px, {PY} AS py,
         CAST((o_orderkey % 1000) * 1000 AS BIGINT) AS v_mils
  FROM orders
),
g AS (
  SELECT *, {grid_index_expr(f"px - {_IDW_DEG}", _IDW_LEVEL)} AS ix0,
         {grid_index_expr(f"px + {_IDW_DEG}", _IDW_LEVEL)} AS ix1,
         {grid_index_expr(f"py - {_IDW_DEG}", _IDW_LEVEL)} AS iy0,
         {grid_index_expr(f"py + {_IDW_DEG}", _IDW_LEVEL)} AS iy1
  FROM pts
),
cand AS (
  SELECT px, py, v_mils, u1.ix AS ix, u2.iy AS iy,
         (CAST(0 AS DOUBLE) + (CAST(u1.ix AS DOUBLE) + 0.5)
          * CAST({_IDW_CELL} AS DOUBLE)) AS lon,
         (CAST(0 AS DOUBLE) + (CAST(u2.iy AS DOUBLE) + 0.5)
          * CAST({_IDW_CELL} AS DOUBLE)) AS lat
  FROM g, UNNEST(generate_series(ix0, ix1)) AS u1(ix),
       UNNEST(generate_series(iy0, iy1)) AS u2(iy)
),
d AS (
  SELECT ix, iy, v_mils,
         (SQRT(((lon - px) * (lon - px)) + ((lat - py) * (lat - py)))
          * CAST(111320 AS DOUBLE)) AS dist_m
  FROM cand
),
w AS (
  SELECT ix, iy, v_mils, {_IDW_W} AS w
  FROM d WHERE dist_m <= CAST({_IDW_RADIUS_M!r} AS DOUBLE)
)
SELECT ix, iy, COUNT(*) AS n_pts,
       CAST(FLOOR(CAST(CAST(SUM(w * v_mils) AS BIGINT) AS DOUBLE)
            / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE)) AS BIGINT) AS idw_mils
FROM w GROUP BY ix, iy
"""


def _morans_i_sql() -> str:
    from ..harness import PX, PY
    from ..queries.spatial import _MI_LEVEL
    from ..sqlgen import grid_index_expr

    return f"""
WITH pts AS (
  SELECT {grid_index_expr(PX, _MI_LEVEL)} AS ix,
         {grid_index_expr(PY, _MI_LEVEL)} AS iy
  FROM orders
),
cells AS (SELECT ix, iy, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY ix, iy),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
        FROM cells),
dev AS (SELECT ix, iy, n * c - s AS d, n FROM cells, tot),
nb AS (
  SELECT ix + o.dx AS ix, iy + o.dy AS iy, d AS d_j
  FROM dev, (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) AS o(dx, dy)
),
pairs AS (SELECT dev.d AS d, nb.d_j AS d_j FROM dev JOIN nb USING (ix, iy)),
den AS (SELECT MAX(n) AS n_cells, CAST(SUM(d * d) AS BIGINT) AS sdd FROM dev),
num AS (SELECT COUNT(*) AS w_edges, CAST(SUM(d * d_j) AS BIGINT) AS swdd
        FROM pairs)
SELECT n_cells, w_edges,
       CAST(FLOOR(CAST(n_cells AS DOUBLE) * CAST(swdd AS DOUBLE) * 10000.0
            / (CAST(w_edges AS DOUBLE) * CAST(sdd AS DOUBLE))) AS BIGINT)
         AS morans_i_bp
FROM den, num
"""


def _sinuosity_sql(roads_pq: str) -> str:
    """Identical sequential-fold path length (the route_interpolate
    running-sum window) over endpoint chord, micro-snap at the end."""
    return f"""
WITH r AS (SELECT road_id, kind, coords FROM read_parquet('{roads_pq}')),
verts AS (
  SELECT road_id, kind, u.i AS i,
         coords[u.i].x AS x, coords[u.i].y AS y
  FROM r, UNNEST(generate_series(1, len(coords))) AS u(i)
),
seg0 AS (
  SELECT road_id, i, x, y,
         lead(x) OVER (PARTITION BY road_id ORDER BY i) AS x2,
         lead(y) OVER (PARTITION BY road_id ORDER BY i) AS y2
  FROM verts
),
seg AS (
  SELECT road_id, i,
         SQRT((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y)) AS slen
  FROM seg0 WHERE x2 IS NOT NULL
),
tot AS (
  SELECT road_id, MAX(cum) AS total FROM (
    SELECT road_id,
           SUM(slen) OVER (PARTITION BY road_id ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM seg
  ) GROUP BY 1
),
ends AS (
  SELECT road_id, kind,
         SQRT((coords[len(coords)].x - coords[1].x)
              * (coords[len(coords)].x - coords[1].x)
              + (coords[len(coords)].y - coords[1].y)
              * (coords[len(coords)].y - coords[1].y)) AS chord
  FROM r
),
per AS (
  SELECT e.kind,
         CAST(FLOOR(t.total / e.chord * 1000000 + 0.5) AS BIGINT)
           AS sin_micros
  FROM ends e JOIN tot t USING (road_id)
  WHERE e.chord > 0
)
SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_roads,
       CAST(SUM(sin_micros) AS BIGINT) AS sum_sin_micros,
       CAST(MAX(sin_micros) AS BIGINT) AS max_sin_micros
FROM per GROUP BY 1
"""


def _route_interp_sql(roads_pq: str) -> str:
    """Identical lead/running-sum/half-open-pick construction; the
    running sum is a sequential ordered fold in both engines (gotcha 8:
    never a partial-agg double SUM)."""
    return f"""
WITH r AS (SELECT road_id, kind, coords FROM read_parquet('{roads_pq}')),
verts AS (
  SELECT road_id, kind, u.i AS i,
         coords[u.i].x AS x, coords[u.i].y AS y
  FROM r, UNNEST(generate_series(1, len(coords))) AS u(i)
),
seg0 AS (
  SELECT road_id, kind, i, x, y,
         lead(x) OVER (PARTITION BY road_id ORDER BY i) AS x2,
         lead(y) OVER (PARTITION BY road_id ORDER BY i) AS y2
  FROM verts
),
seg AS (
  SELECT road_id, kind, i, x, y, x2, y2,
         SQRT((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y)) AS slen
  FROM seg0 WHERE x2 IS NOT NULL
),
cums AS (
  SELECT *,
         SUM(slen) OVER (PARTITION BY road_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM seg
),
tot AS (
  SELECT *, cum - slen AS strt,
         MAX(cum) OVER (PARTITION BY road_id) AS total
  FROM cums
),
mid AS (
  SELECT road_id, kind,
         CAST(FLOOR((x + ((total / 2 - strt) / slen) * (x2 - x))
              * 1000000 + 0.5) AS BIGINT) AS mid_ux,
         CAST(FLOOR((y + ((total / 2 - strt) / slen) * (y2 - y))
              * 1000000 + 0.5) AS BIGINT) AS mid_uy
  FROM tot
  WHERE total > 0 AND strt <= total / 2 AND total / 2 < cum
)
SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_roads,
       CAST(SUM(mid_ux) AS BIGINT) AS sum_mid_ux,
       CAST(SUM(mid_uy) AS BIGINT) AS sum_mid_uy
FROM mid GROUP BY kind
"""


def _geohash_cells_sql() -> str:
    from ..harness import PX, PY
    from ..sqlgen import chain_select, geohash_steps

    base = (
        f"SELECT o_orderkey AS point_id, {PX} AS lon, {PY} AS lat FROM orders"
    )
    enc = chain_select(
        base, geohash_steps("lon", "lat", 6, "gh"), ["point_id", "gh", "gh_g"]
    )
    return f"""
WITH enc AS ({enc})
SELECT substring(gh, 1, 4) AS gh4, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COUNT(DISTINCT gh) AS BIGINT) AS n_cells6,
       CAST(SUM(gh_g) AS BIGINT) AS checksum
FROM enc GROUP BY gh4
"""


def _hilbert_cells_sql() -> str:
    """15-layer single-reference CTE chain of the quadrant-rotation
    recurrence — linear in DuckDB (each layer materializes per row);
    the Spark side is the identical recurrence in numpy
    (cells.hilbert_d) because CollapseProject would inline this chain
    exponentially (x' and y' both reference x AND y)."""
    from ..harness import PX, PY
    from ..sqlgen import grid_index_expr

    layers = [
        f"l15 AS (SELECT o_orderkey AS point_id, "
        f"{grid_index_expr(PX, 15)} AS x, {grid_index_expr(PY, 15)} AS y, "
        f"CAST(0 AS BIGINT) AS d FROM orders)"
    ]
    prev = "l15"
    for k in range(14, -1, -1):
        s = 1 << k
        layers.append(
            f"""l{k} AS (
  SELECT point_id,
    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END)
         ELSE x END AS x,
    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END)
         ELSE y END AS y,
    d + {s * s} * (CASE WHEN rx = 0 AND ry = 0 THEN 0 WHEN rx = 0 THEN 1
                        WHEN ry = 1 THEN 2 ELSE 3 END) AS d
  FROM (SELECT point_id, x, y, d, (x >> {k}) & 1 AS rx, (y >> {k}) & 1 AS ry
        FROM {prev}) t{k})"""
        )
        prev = f"l{k}"
    with_sql = ",\n".join(layers)
    return f"""
WITH {with_sql}
SELECT (d >> 18) AS hbucket, CAST(COUNT(*) AS BIGINT) AS n_points,
       MIN(d) AS d_min, MAX(d) AS d_max, CAST(SUM(d) AS BIGINT) AS checksum
FROM l0 GROUP BY 1
"""


# the pinned 2/10 file counts are deterministic by construction: ten
# 50-wide doc_id ranges, one file each; [120, 180] intersects exactly
# the [100,150) and [150,200) zones
def _cells_kde_sql() -> str:
    """Identical KDE construction: same grid fragments as Moran's I,
    25-row VALUES offsets dim, integer triangle kernel, ranking
    window over the cell-sized table."""
    from ..harness import PX, PY
    from ..queries.spatial import _KDE_TOPK, _MI_LEVEL
    from ..sqlgen import grid_index_expr

    offs = ", ".join(
        f"({dx}, {dy}, {(3 - abs(dx)) * (3 - abs(dy))})"
        for dx in range(-2, 3) for dy in range(-2, 3)
    )
    return f"""
WITH pts AS (
  SELECT {grid_index_expr(PX, _MI_LEVEL)} AS ix,
         {grid_index_expr(PY, _MI_LEVEL)} AS iy
  FROM orders
),
cells AS (SELECT ix, iy, CAST(COUNT(*) AS BIGINT) AS c
          FROM pts GROUP BY ix, iy),
contrib AS (
  SELECT ix + o.dx AS ix, iy + o.dy AS iy, c * CAST(o.w AS BIGINT) AS wc
  FROM cells, (VALUES {offs}) AS o(dx, dy, w)
),
kde AS (SELECT ix, iy, CAST(SUM(wc) AS BIGINT) AS kde
        FROM contrib GROUP BY ix, iy)
SELECT ix, iy, kde, rnk FROM (
  SELECT ix, iy, kde,
         CAST(ROW_NUMBER() OVER (ORDER BY kde DESC, ix, iy) AS INT) AS rnk
  FROM kde
) WHERE rnk <= {_KDE_TOPK}
"""


def _line_density_sql(roads_pq: str) -> str:
    """Identical midpoint-attribution construction: same grid
    fragments, FLOOR-before-fold micro lengths."""
    from ..queries.spatial import _MI_LEVEL
    from ..sqlgen import grid_index_expr

    mx = grid_index_expr("(x1 + x2) / 2", _MI_LEVEL)
    my = grid_index_expr("(y1 + y2) / 2", _MI_LEVEL)
    return f"""
WITH cs AS (SELECT coords AS cs FROM read_parquet('{roads_pq}')),
seg AS (SELECT (cs[i]).x AS x1, (cs[i]).y AS y1,
               (cs[i + 1]).x AS x2, (cs[i + 1]).y AS y2
        FROM cs, UNNEST(generate_series(1, len(cs) - 1)) AS u(i)),
mid AS (SELECT {mx} AS ix, {my} AS iy,
               CAST(FLOOR(SQRT((x2 - x1) * (x2 - x1)
                    + (y2 - y1) * (y2 - y1)) * 1000000.0) AS BIGINT)
                 AS len_u
        FROM seg)
SELECT ix, iy, CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(len_u) AS BIGINT) AS len_micro
FROM mid GROUP BY ix, iy
"""


def _getis_ord_sql() -> str:
    from ..harness import PX, PY
    from ..queries.spatial import _MI_LEVEL
    from ..sqlgen import grid_index_expr

    z_expr = (
        "CAST(n * wsum - s * w AS DOUBLE) "
        "/ (SQRT(CAST(n * s2 - s * s AS DOUBLE)) "
        "* SQRT(CAST(n * w - w * w AS DOUBLE) / CAST(n - 1 AS DOUBLE)))"
    )
    return f"""
WITH pts AS (
  SELECT {grid_index_expr(PX, _MI_LEVEL)} AS ix,
         {grid_index_expr(PY, _MI_LEVEL)} AS iy
  FROM orders
),
cells AS (SELECT ix, iy, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY ix, iy),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM cells
),
nb AS (
  SELECT ix + (k.k % 3) - 1 AS ix,
         iy + CAST(FLOOR(k.k / 3) AS BIGINT) - 1 AS iy,
         c AS c_j
  FROM cells, (SELECT unnest(range(0, 9)) AS k) k
),
g AS (
  SELECT cells.ix, cells.iy, CAST(COUNT(*) AS BIGINT) AS w,
         CAST(SUM(c_j) AS BIGINT) AS wsum
  FROM cells JOIN nb ON nb.ix = cells.ix AND nb.iy = cells.iy
  GROUP BY cells.ix, cells.iy
),
zs AS (
  SELECT ix, iy, w, wsum,
         n * wsum - s * w AS znum,
         CAST(FLOOR(1000.0 * {z_expr}) AS BIGINT) AS z_mils
  FROM g, tot
)
SELECT CAST(row_number() OVER (ORDER BY z_mils DESC, ix, iy) AS INT) AS rk,
       ix, iy, w, wsum, znum, z_mils
FROM zs
QUALIFY rk <= 10
"""


def _qatile_source_sql() -> str:
    """osm_qatile_source: per-zoom rollup of the SAME bbox-cover + SAT
    twin that certifies osm_qatile_roads — the DataSource-API read must
    produce the identical feature multiset."""
    return f"""
SELECT z, CAST(COUNT(*) AS INT) AS n_tiles,
       CAST(SUM(n_features) AS BIGINT) AS n_features,
       CAST(SUM(sum_road_id) AS BIGINT) AS sum_road_id
FROM ({_qatile_roads_sql(4)}) GROUP BY z
"""


ORACLES["osm_qatile_source"] = _qatile_source_sql()


def _pyr_simp_leg_sql(z: int, golden: str) -> str:
    """One zoom of the simplified-pyramid oracle: the same bbox-cover +
    division-free SAT tile stats as _mvt_tile_stats_sql,
    with the segment source swapped from `supplier` to the committed
    recursive-DP golden's z-slice."""
    from ..sqlgen import grid_index_expr

    size = repr(10.0 / (1 << z))
    return f"""
WITH segs AS (SELECT ax, ay, bx, byy
              FROM read_parquet('{golden}') WHERE z = {z}),
idx AS (
  SELECT *, {grid_index_expr("LEAST(ax, bx)", z)} AS ix0,
         {grid_index_expr("LEAST(ay, byy)", z)} AS iy0,
         {grid_index_expr("GREATEST(ax, bx)", z)} AS ix1,
         {grid_index_expr("GREATEST(ay, byy)", z)} AS iy1
  FROM segs
),
expd AS (
  SELECT ax, ay, bx, byy,
         CAST(u1.cix AS INT) AS tx, CAST(u2.ciy AS INT) AS ty,
         (CAST(0 AS DOUBLE) + u1.cix * CAST({size} AS DOUBLE)) AS x0,
         (CAST(0 AS DOUBLE) + u2.ciy * CAST({size} AS DOUBLE)) AS y0
  FROM idx, UNNEST(generate_series(ix0, ix1)) AS u1(cix),
       UNNEST(generate_series(iy0, iy1)) AS u2(ciy)
),
d1 AS (
  SELECT tx, ty, ax, ay, x0, y0,
         (x0 + CAST({size} AS DOUBLE)) AS x1, (y0 + CAST({size} AS DOUBLE)) AS y1,
         (bx - ax) AS dx, (byy - ay) AS dy,
         LEAST(ax, bx) AS sxmin, GREATEST(ax, bx) AS sxmax,
         LEAST(ay, byy) AS symin, GREATEST(ay, byy) AS symax
  FROM expd
),
d2 AS (
  SELECT tx, ty,
         (sxmin <= x1 AND sxmax >= x0 AND symin <= y1 AND symax >= y0) AS bbox,
         (dx * (y0 - ay) - dy * (x0 - ax)) AS s1,
         (dx * (y0 - ay) - dy * (x1 - ax)) AS s2,
         (dx * (y1 - ay) - dy * (x0 - ax)) AS s3,
         (dx * (y1 - ay) - dy * (x1 - ax)) AS s4
  FROM d1
)
SELECT CAST({z} AS INT) AS z, tx, ty,
       CAST(SUM(CASE WHEN bbox
                      AND LEAST(s1, s2, s3, s4) <= CAST(0 AS DOUBLE)
                      AND GREATEST(s1, s2, s3, s4) >= CAST(0 AS DOUBLE)
                     THEN 1 ELSE 0 END) AS INT) AS n_features
FROM d2 GROUP BY tx, ty
"""


def _buffer_cells_sql(roads_pq: str) -> str:
    from ..queries.spatial import _BUF_CELL, _BUF_DEG, _BUF_LEVEL, _BUF_M
    from ..sqlgen import chain_select, grid_index_expr, point_seg_dist_steps

    steps = point_seg_dist_steps("lon", "lat", "ax", "ay", "bx", "byy", "dist_m")
    base = f"""
WITH segs AS (
  SELECT kind, c[i].x AS ax, c[i].y AS ay,
         c[i + 1].x AS bx, c[i + 1].y AS byy
  FROM (SELECT kind, coords AS c FROM read_parquet('{roads_pq}')),
       UNNEST(generate_series(1, len(c) - 1)) AS u(i)
),
g AS (
  SELECT kind, ax, ay, bx, byy,
         {grid_index_expr(f"LEAST(ax, bx) - {_BUF_DEG}", _BUF_LEVEL)} AS ix0,
         {grid_index_expr(f"GREATEST(ax, bx) + {_BUF_DEG}", _BUF_LEVEL)} AS ix1,
         {grid_index_expr(f"LEAST(ay, byy) - {_BUF_DEG}", _BUF_LEVEL)} AS iy0,
         {grid_index_expr(f"GREATEST(ay, byy) + {_BUF_DEG}", _BUF_LEVEL)} AS iy1
  FROM segs
),
cand AS (
  SELECT kind, ax, ay, bx, byy, u1.ix AS ix, u2.iy AS iy,
         (CAST(0 AS DOUBLE) + (CAST(u1.ix AS DOUBLE) + 0.5)
          * CAST({_BUF_CELL} AS DOUBLE)) AS lon,
         (CAST(0 AS DOUBLE) + (CAST(u2.iy AS DOUBLE) + 0.5)
          * CAST({_BUF_CELL} AS DOUBLE)) AS lat
  FROM g, UNNEST(generate_series(ix0, ix1)) AS u1(ix),
       UNNEST(generate_series(iy0, iy1)) AS u2(iy)
),
d AS ({chain_select("SELECT * FROM cand", steps, ["kind", "ix", "iy", "dist_m"])}),
cells AS (
  SELECT DISTINCT kind, ix, iy FROM d
  WHERE dist_m <= CAST({_BUF_M!r} AS DOUBLE)
)
SELECT kind, COUNT(*) AS n_cells,
       CAST(SUM(ix * 1000 + iy) AS BIGINT) AS sum_cell
FROM cells GROUP BY kind
"""
    return base


def _road_intersections_sql(roads_pq: str) -> str:
    from ..queries.spatial import _X_LEVEL, _X_TEST
    from ..sqlgen import grid_index_expr

    return f"""
WITH segs AS (
  SELECT road_id, kind, i AS seg_id, c[i].x AS ax, c[i].y AS ay,
         c[i + 1].x AS bx, c[i + 1].y AS by
  FROM (SELECT road_id, kind, coords AS c FROM read_parquet('{roads_pq}')),
       UNNEST(generate_series(1, len(c) - 1)) AS u(i)
),
cov AS (
  SELECT road_id, kind, seg_id, ax, ay, bx, by,
         u1.cix AS cix, u2.ciy AS ciy
  FROM (
    SELECT *, {grid_index_expr("LEAST(ax, bx)", _X_LEVEL)} AS ix0,
           {grid_index_expr("GREATEST(ax, bx)", _X_LEVEL)} AS ix1,
           {grid_index_expr("LEAST(ay, by)", _X_LEVEL)} AS iy0,
           {grid_index_expr("GREATEST(ay, by)", _X_LEVEL)} AS iy1
    FROM segs
  ), UNNEST(generate_series(ix0, ix1)) AS u1(cix),
     UNNEST(generate_series(iy0, iy1)) AS u2(ciy)
),
cand AS (
  SELECT DISTINCT
         a.road_id AS a_rid, a.kind AS a_kind, a.seg_id AS a_sid,
         a.ax AS a_ax, a.ay AS a_ay, a.bx AS a_bx, a.by AS a_by,
         b.road_id AS b_rid, b.kind AS b_kind, b.seg_id AS b_sid,
         b.ax AS b_ax, b.ay AS b_ay, b.bx AS b_bx, b.by AS b_by
  FROM cov a JOIN cov b
    ON a.cix = b.cix AND a.ciy = b.ciy AND a.road_id < b.road_id
),
hits AS (SELECT * FROM cand WHERE {_X_TEST})
SELECT LEAST(a_kind, b_kind) AS kind_lo,
       GREATEST(a_kind, b_kind) AS kind_hi,
       COUNT(*) AS n_crossings
FROM hits GROUP BY kind_lo, kind_hi
"""


def _dissolve_sql(roads_pq: str) -> str:
    """roads_dissolve: identical kind-scoped endpoint keys (shared
    _BFS_NODE quantization); component labels via the pruned
    recursive-CTE reachability min (labels only propagate downhill —
    the component min survives every check, so MIN(lab) is exact)."""
    from ..queries._common import _BFS_NODE

    na = _BFS_NODE.format(x="coords[1].x", y="coords[1].y")
    nb = _BFS_NODE.format(x="coords[len(coords)].x",
                          y="coords[len(coords)].y")
    return f"""
WITH ends AS (
  SELECT road_id, kind,
         concat(kind, '|', CAST({na} AS STRING)) AS ka,
         concat(kind, '|', CAST({nb} AS STRING)) AS kb
  FROM read_parquet('{roads_pq}')
),
verts AS (
  SELECT DISTINCT k FROM (
    SELECT ka AS k FROM ends UNION ALL SELECT kb AS k FROM ends
  )
),
adj AS (
  SELECT ka AS a, kb AS b FROM ends WHERE ka <> kb
  UNION ALL
  SELECT kb AS a, ka AS b FROM ends WHERE ka <> kb
),
w AS (
  WITH RECURSIVE t(v, lab) AS (
    SELECT k, k FROM verts
    UNION
    SELECT adj.b, t.lab FROM t JOIN adj ON adj.a = t.v
    WHERE t.lab < adj.b
  ) SELECT v, MIN(lab) AS label FROM t GROUP BY v
),
rl AS (SELECT e.kind, e.road_id, w.label FROM ends e JOIN w ON w.v = e.ka),
per AS (SELECT kind, label, CAST(COUNT(*) AS BIGINT) AS n
        FROM rl GROUP BY 1, 2)
SELECT kind, CAST(SUM(n) AS BIGINT) AS n_roads,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(MAX(n) AS BIGINT) AS largest_comp
FROM per GROUP BY kind
"""


def _supercover_sql(roads_pq: str) -> str:
    """roads_supercover_cells: the SAME column-sweep supercover SPEC
    (shared grid_index_expr + interpolation text, so FLOOR boundary
    cells agree bit-for-bit); plumbing is unnest/generate_series vs
    explode/sequence."""
    from ..queries.spatial import _SC_LEVEL
    from ..sqlgen import grid_index_expr

    n = 1 << _SC_LEVEL
    bnd = "(CAST({k} AS DOUBLE) * (CAST(10 AS DOUBLE) / CAST(%d AS DOUBLE)))" % n
    gi = grid_index_expr
    return f"""
WITH raw AS (
  SELECT kind, coords AS cs FROM read_parquet('{roads_pq}')
),
segp AS (
  SELECT kind, cs[i].x AS ax, cs[i].y AS ay,
         cs[i + 1].x AS bx, cs[i + 1].y AS by
  FROM (SELECT kind, cs,
               unnest(generate_series(1, len(cs) - 1)) AS i FROM raw)
),
segs AS (
  SELECT kind,
         CASE WHEN bx < ax THEN bx ELSE ax END AS x1,
         CASE WHEN bx < ax THEN by ELSE ay END AS y1,
         CASE WHEN bx < ax THEN ax ELSE bx END AS x2,
         CASE WHEN bx < ax THEN ay ELSE by END AS y2
  FROM segp
),
cols0 AS (
  SELECT kind, x1, y1, x2, y2,
         unnest(generate_series({gi('x1', _SC_LEVEL)},
                                {gi('x2', _SC_LEVEL)})) AS k
  FROM segs
),
colsx AS (
  SELECT kind, k,
         GREATEST(x1, {bnd.format(k='k')}) AS xa,
         LEAST(x2, {bnd.format(k='k + 1')}) AS xb,
         x1, y1, x2, y2
  FROM cols0
),
cols AS (
  SELECT kind, k,
         CASE WHEN x2 = x1 THEN LEAST(y1, y2)
           ELSE y1 + (y2 - y1) * (xa - x1) / (x2 - x1) END AS ya,
         CASE WHEN x2 = x1 THEN GREATEST(y1, y2)
           ELSE y1 + (y2 - y1) * (xb - x1) / (x2 - x1) END AS yb
  FROM colsx
),
cells AS (
  SELECT kind, k AS ix,
         unnest(generate_series(
           LEAST({gi('ya', _SC_LEVEL)}, {gi('yb', _SC_LEVEL)}),
           GREATEST({gi('ya', _SC_LEVEL)}, {gi('yb', _SC_LEVEL)}))) AS iy
  FROM cols
),
per_cell AS (
  SELECT kind, ix, iy, CAST(COUNT(*) AS BIGINT) AS visits
  FROM cells GROUP BY 1, 2, 3
)
SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(visits) AS BIGINT) AS n_visits,
       CAST(SUM(ix * {n} + iy) AS BIGINT) AS cell_chk
FROM per_cell GROUP BY kind
"""


def _ripley_sql() -> str:
    from ..harness import PX, PY
    from ..queries.spatial import _RK_BOUND, _RK_CELL, _RK_K, _RK_L, _RK_RADII

    legs = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS r_micro, p{r} AS n_pairs, n, "
        f"{_RK_K.format(p=f'p{r}')} AS k_micros, "
        f"{_RK_L.format(p=f'p{r}')} AS l_micros FROM joined"
        for r in _RK_RADII
    )
    csums = ", ".join(
        f"CAST(SUM(CASE WHEN dsq <= {r * r} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS p{r}"
        for r in _RK_RADII
    )
    return f"""
WITH pts AS (
  SELECT o_orderkey AS pid,
         CAST(FLOOR({PX} * 1000000) AS BIGINT) AS x,
         CAST(FLOOR({PY} * 1000000) AS BIGINT) AS y,
         COALESCE({_RK_CELL.format(c=PX)} * 1000
                  + {_RK_CELL.format(c=PY)}, -1) AS cell
  FROM orders WHERE o_orderkey <= {_RK_BOUND}
),
nb AS (
  SELECT pid AS pid2, x AS x2, y AS y2,
         cell + (u.k % 3 - 1) * 1000 + CAST(FLOOR(u.k / 3) AS BIGINT) - 1
           AS cell
  FROM pts, UNNEST(range(0, 9)) AS u(k)
),
pairs AS (
  SELECT (p.x - nb.x2) * (p.x - nb.x2)
         + (p.y - nb.y2) * (p.y - nb.y2) AS dsq
  FROM pts p JOIN nb USING (cell) WHERE p.pid < nb.pid2
),
agg AS (SELECT {csums} FROM pairs),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts),
joined AS (SELECT * FROM agg, nn)
{legs}
"""


ORACLES["cells_ripley_k"] = _ripley_sql()


def _frechet_sql(roads_pq: str) -> str:
    """roads_frechet twin — a GENUINELY DIFFERENT algorithm: minimax
    shortest path on the pair lattice (Bellman relaxation with
    GREATEST as the path cost, MIN as the fold), unrolled 80
    MATERIALIZED rounds (max 41 + 41 vertices) with zero-cost
    self-loop moves (the events_dtw technique, max-min semiring)."""
    rounds = 80
    parts = [f"""
WITH first AS (
  SELECT road_id,
         COALESCE(CAST(FLOOR(coords[1].x * 10) AS BIGINT) * 100000
                  + CAST(FLOOR(coords[1].y * 10) AS BIGINT), -1) AS cell
  FROM read_parquet('{roads_pq}')
),
verts AS (
  SELECT road_id, u.i AS i,
         CAST(FLOOR(coords[u.i].x * 1000000) AS BIGINT) AS x,
         CAST(FLOOR(coords[u.i].y * 1000000) AS BIGINT) AS y,
         len(coords) AS nv
  FROM read_parquet('{roads_pq}'),
       UNNEST(generate_series(1, len(coords))) AS u(i)
),
pairs AS (
  SELECT a.road_id AS ra, b.road_id AS rb
  FROM first a JOIN first b USING (cell)
  WHERE a.road_id < b.road_id
),
cost AS MATERIALIZED (
  SELECT p.ra, p.rb, va.i AS i, vb.i AS j,
         (va.x - vb.x) * (va.x - vb.x)
           + (va.y - vb.y) * (va.y - vb.y) AS dsq,
         va.nv AS na, vb.nv AS nb
  FROM pairs p
  JOIN verts va ON va.road_id = p.ra
  JOIN verts vb ON vb.road_id = p.rb
),
moves AS MATERIALIZED (
  SELECT ra, rb, i, j, i AS i2, j AS j2, CAST(0 AS BIGINT) AS mc
  FROM cost
  UNION ALL
  SELECT p.ra, p.rb, p.i, p.j, c.i, c.j, c.dsq
  FROM cost p JOIN cost c ON c.ra = p.ra AND c.rb = p.rb
   AND ((c.i = p.i + 1 AND c.j = p.j)
        OR (c.i = p.i AND c.j = p.j + 1)
        OR (c.i = p.i + 1 AND c.j = p.j + 1))),
b0 AS (SELECT ra, rb, i, j, dsq AS cost FROM cost WHERE i = 1 AND j = 1)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
b{k} AS MATERIALIZED (
  SELECT m.ra, m.rb, m.i2 AS i, m.j2 AS j,
         CAST(MIN(GREATEST(b.cost, m.mc)) AS BIGINT) AS cost
  FROM b{k - 1} b JOIN moves m
    ON m.ra = b.ra AND m.rb = b.rb AND m.i = b.i AND m.j = b.j
  GROUP BY 1, 2, 3, 4)""")
    parts.append(f"""
SELECT b.ra, b.rb, CAST(c.na AS INT) AS n_a, CAST(c.nb AS INT) AS n_b,
       b.cost AS f_sq,
       CAST(FLOOR(SQRT(CAST(b.cost AS DOUBLE))) AS BIGINT) AS f_micro
FROM b{rounds} b
JOIN (SELECT DISTINCT ra, rb, na, nb FROM cost) c
  ON c.ra = b.ra AND c.rb = b.rb
WHERE b.i = c.na AND b.j = c.nb""")
    return "".join(parts)


def _centroid_sql() -> str:
    from ..harness import edges_values_sql_indexed

    return CENTROID_SQL.format(edges=edges_values_sql_indexed())


ORACLES["country_centroids"] = _centroid_sql()


def _resample_sql(roads_pq: str) -> str:
    """roads_resample_points twin: identical running-window fold and
    interpolation text over the same roads parquet (DuckDB windows +
    generate_series in place of posexplode/explode)."""
    return f"""
WITH verts AS (
  SELECT road_id, kind, u.i - 1 AS i, coords[u.i].x AS x, coords[u.i].y AS y
  FROM read_parquet('{roads_pq}'),
       UNNEST(generate_series(1, len(coords))) AS u(i)
),
seg AS (
  SELECT road_id, kind, i, x, y,
         LEAD(x) OVER (PARTITION BY road_id ORDER BY i) AS x2,
         LEAD(y) OVER (PARTITION BY road_id ORDER BY i) AS y2
  FROM verts
  QUALIFY x2 IS NOT NULL
),
sl AS (
  SELECT *, SQRT((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y)) AS slen
  FROM seg
),
cums AS (
  SELECT *,
         SUM(slen) OVER (PARTITION BY road_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(slen) OVER (PARTITION BY road_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - slen AS start,
         SUM(slen) OVER (PARTITION BY road_id) AS total
  FROM sl
),
picks AS (
  SELECT kind, CAST(g.k AS INT) AS k,
         CAST(FLOOR((x + ((total * g.k / 8.0 - start) / slen)
              * (x2 - x)) * 1000000 + 0.5) AS BIGINT) AS ux,
         CAST(FLOOR((y + ((total * g.k / 8.0 - start) / slen)
              * (y2 - y)) * 1000000 + 0.5) AS BIGINT) AS uy
  FROM cums, UNNEST(generate_series(1, 7)) AS g(k)
  WHERE total > 0 AND start <= total * g.k / 8.0
    AND total * g.k / 8.0 < cum
)
SELECT kind, k, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(ux) AS BIGINT) AS sum_ux,
       CAST(SUM(uy) AS BIGINT) AS sum_uy
FROM picks GROUP BY 1, 2
"""


def _snap_sql() -> str:
    """Brute-force map-matching twin: cross join + the SAME sqlgen
    distance steps (keeping the projection intermediates), rank-1 by
    (dist, road_id) — single-segment harness roads make that the full
    (dist, road, seg) tie-break — then the identical t/snap double
    chain (every term already has a DOUBLE operand; gotcha 17)."""
    from ..harness import AX, AY, BX, BY, KNN_CUTOFF_M, PX, PY
    from ..sqlgen import chain_select, point_seg_dist_steps

    pts = f"SELECT o_orderkey AS point_id, {PX} AS lon, {PY} AS lat FROM orders"
    segs = (
        f"SELECT s_suppkey AS road_id, CAST(0 AS INT) AS seg_id, "
        f"{AX} AS ax, {AY} AS ay, {BX} AS bx, {BY} AS byy FROM supplier"
    )
    steps = point_seg_dist_steps("lon", "lat", "ax", "ay", "bx", "byy",
                                 "dist_m")
    d = chain_select(
        "SELECT * FROM cand", steps,
        ["point_id", "road_id", "seg_id", "ax", "ay",
         "dist_m_dx", "dist_m_dy", "dist_m_t", "dist_m"],
    )
    return f"""
WITH pts AS ({pts}),
segs AS ({segs}),
cand AS (SELECT * FROM pts CROSS JOIN segs),
d AS ({d}),
hit AS (SELECT * FROM d WHERE dist_m <= CAST({int(KNN_CUTOFF_M)} AS DOUBLE)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY point_id
            ORDER BY dist_m ASC, road_id ASC) AS rn
  FROM hit
)
SELECT point_id, road_id, seg_id, ROUND(dist_m, 6) AS dist_m,
       CAST(FLOOR(dist_m_t * 1000000.0) AS BIGINT) AS t_micros,
       CAST(FLOOR((ax + dist_m_t * dist_m_dx) * 1000000.0) AS BIGINT)
         AS snap_x_micro,
       CAST(FLOOR((ay + dist_m_t * dist_m_dy) * 1000000.0) AS BIGINT)
         AS snap_y_micro
FROM ranked WHERE rn = 1
"""


def _topology_sql(roads: str) -> str:
    """Topology-QA twin: list-indexed endpoints/segments (vs the
    engine's explode + lead window) through the SAME block keys and
    sqlgen distance steps."""
    from ..queries.spatial import _EPS_M, _T_HI, _T_LO
    from ..sqlgen import chain_select, point_seg_dist_steps

    steps = point_seg_dist_steps("px", "py", "ax", "ay", "bx", "byy",
                                 "dist_m")
    d = chain_select(
        "SELECT * FROM cand", steps,
        ["road_id", "kind", "ei", "dist_m_t", "dist_m"],
    )
    return f"""
WITH ends0 AS (
  SELECT road_id, kind, 0 AS ei, coords[1].x AS px, coords[1].y AS py
  FROM read_parquet('{roads}')
  UNION ALL
  SELECT road_id, kind, 1 AS ei, coords[len(coords)].x,
         coords[len(coords)].y
  FROM read_parquet('{roads}')
),
ekeys AS (
  SELECT road_id, kind, ei, px, py,
         COALESCE((CAST(FLOOR(px * 10) AS BIGINT) + ox.o) * 100000
           + CAST(FLOOR(py * 10) AS BIGINT) + oy.o, -1) AS ck
  FROM ends0, UNNEST([-1, 0, 1]) AS ox(o), UNNEST([-1, 0, 1]) AS oy(o)
),
segs AS (
  SELECT road_id AS rs, coords[i].x AS ax, coords[i].y AS ay,
         coords[i + 1].x AS bx, coords[i + 1].y AS byy,
         COALESCE(CAST(FLOOR(coords[i].x * 10) AS BIGINT) * 100000
           + CAST(FLOOR(coords[i].y * 10) AS BIGINT), -1) AS ck
  FROM read_parquet('{roads}'), UNNEST(range(1, len(coords))) AS r(i)
),
cand AS (SELECT * FROM ekeys JOIN segs USING (ck) WHERE rs <> road_id),
d AS ({d}),
fl AS (
  SELECT road_id, kind, ei,
         MAX(CASE WHEN dist_m <= CAST({_EPS_M} AS DOUBLE)
             AND dist_m_t > CAST({_T_LO} AS DOUBLE)
             AND dist_m_t < CAST({_T_HI} AS DOUBLE)
             THEN 1 ELSE 0 END) AS hit
  FROM d GROUP BY 1, 2, 3
),
ne AS (SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_endpoints
       FROM ends0 GROUP BY 1),
hits AS (
  SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_undershoots,
         CAST(SUM(road_id * 2 + ei) AS BIGINT) AS chk
  FROM fl WHERE hit = 1 GROUP BY 1
)
SELECT ne.kind, n_endpoints, COALESCE(n_undershoots, 0) AS n_undershoots,
       COALESCE(chk, 0) AS chk
FROM ne LEFT JOIN hits ON ne.kind = hits.kind
"""


def _aoi_length_sql(roads: str) -> str:
    """Polyline∩AOI twin: list-indexed segments through the IDENTICAL
    half-plane t-interval fragments (live — no golden)."""
    from ..queries.spatial import _aoi_halfplane_exprs

    lo, hi, feas = _aoi_halfplane_exprs(by="byy")
    return f"""
WITH seg AS (
  SELECT kind, coords[i].x AS ax, coords[i].y AS ay,
         coords[i + 1].x AS bx, coords[i + 1].y AS byy
  FROM read_parquet('{roads}'), UNNEST(range(1, len(coords))) AS r(i)
),
c0 AS (
  SELECT kind,
         SQRT((bx - ax) * (bx - ax) + (byy - ay) * (byy - ay)) AS seg_len,
         {lo} AS lo, {hi} AS hi, ({feas}) AS feas
  FROM seg
),
c1 AS (
  SELECT kind,
         CAST(FLOOR(seg_len * 1000000.0) AS BIGINT) AS len_micros,
         CASE WHEN feas AND hi > lo THEN
           CAST(FLOOR((hi - lo) * seg_len * 1000000.0) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS in_micros
  FROM c0
)
SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN in_micros > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_touched,
       CAST(SUM(len_micros) AS BIGINT) AS sum_len_micros,
       CAST(SUM(in_micros) AS BIGINT) AS sum_in_micros
FROM c1 GROUP BY 1
"""


def _strokes_sql(roads_pq: str) -> str:
    """roads_strokes: identical micro-degree segment extraction and
    cross/dot angular gate; component labels via the pruned
    recursive-CTE reachability min (the dissolve technique)."""
    return f"""
WITH raw AS (
  SELECT CAST(road_id AS VARCHAR) AS rid, kind, coords AS cs
  FROM read_parquet('{roads_pq}')
),
segs AS (
  SELECT concat(rid, ':', CAST(i AS VARCHAR)) AS seg, kind,
         CAST(FLOOR(cs[i].x * 1000000) AS BIGINT) AS x1,
         CAST(FLOOR(cs[i].y * 1000000) AS BIGINT) AS y1,
         CAST(FLOOR(cs[i + 1].x * 1000000) AS BIGINT) AS x2,
         CAST(FLOOR(cs[i + 1].y * 1000000) AS BIGINT) AS y2
  FROM (SELECT rid, kind, cs,
               unnest(generate_series(1, len(cs) - 1)) AS i FROM raw)
),
ori AS (
  SELECT seg, kind, x1, y1, x2, y2 FROM segs
  UNION ALL
  SELECT seg, kind, x2 AS x1, y2 AS y1, x1 AS x2, y1 AS y2 FROM segs
),
ins AS (
  SELECT seg AS seg_a,
         concat(kind, '|', CAST(x2 AS VARCHAR), '|',
                CAST(y2 AS VARCHAR)) AS nk,
         x2 - x1 AS ux, y2 - y1 AS uy
  FROM ori
),
outs AS (
  SELECT seg AS seg_b,
         concat(kind, '|', CAST(x1 AS VARCHAR), '|',
                CAST(y1 AS VARCHAR)) AS nk,
         x2 - x1 AS vx, y2 - y1 AS vy
  FROM ori
),
adj AS (
  SELECT DISTINCT i.seg_a AS a, o.seg_b AS b
  FROM ins i JOIN outs o USING (nk)
  WHERE i.seg_a <> o.seg_b
    AND ux * vx + uy * vy > 0
    AND 1000 * abs(ux * vy - uy * vx) < 577 * (ux * vx + uy * vy)
),
verts AS (SELECT seg AS k FROM segs),
w AS (
  WITH RECURSIVE t(v, lab) AS (
    SELECT k, k FROM verts
    UNION
    SELECT adj.b, t.lab FROM t JOIN adj ON adj.a = t.v
    WHERE t.lab < adj.b
  ) SELECT v, MIN(lab) AS label FROM t GROUP BY v
),
sl AS (
  SELECT seg, kind,
         CAST(FLOOR(sqrt(CAST((x2 - x1) * (x2 - x1) + (y2 - y1) *
           (y2 - y1) AS DOUBLE))) AS BIGINT) AS len_u
  FROM segs
),
per AS (
  SELECT sl.kind, w.label, CAST(COUNT(*) AS BIGINT) AS n_segs,
         CAST(SUM(len_u) AS BIGINT) AS sum_len
  FROM sl JOIN w ON w.v = sl.seg GROUP BY 1, 2
)
SELECT kind, CAST(SUM(n_segs) AS BIGINT) AS n_segments,
       CAST(COUNT(*) AS BIGINT) AS n_strokes,
       CAST(MAX(n_segs) AS BIGINT) AS max_segments,
       CAST(MAX(sum_len) AS BIGINT) AS max_len_micros
FROM per GROUP BY kind
"""


ORACLES.update({
    "flagship_rai": FLAGSHIP_RAI,
    "spatial_cell_cover": SPATIAL_CELL_COVER,
    "spatial_pyramid": SPATIAL_PYRAMID,
    "spatial_region_query": _spatial_region_query_sql(),
    "spatial_knn_nearest": SPATIAL_KNN_NEAREST,
    "spatial_knn_topk": SPATIAL_KNN_TOPK,
    "spatial_pip_country": SPATIAL_PIP_COUNTRY,
    "spatial_compact_cover": SPATIAL_COMPACT_COVER,
    "spatial_range_join": SPATIAL_RANGE_JOIN,
    "osm_way_assembly": OSM_WAY_ASSEMBLY,
    "country_areas": COUNTRY_AREAS,
    "spatial_hex_cover": SPATIAL_HEX_COVER,
    "spatial_hex_kring": SPATIAL_HEX_KRING,
    "spatial_join_cells": SPATIAL_JOIN_CELLS,
    "spatial_kring_cells": SPATIAL_KRING_CELLS,
    "mvt_tile_stats": _mvt_tile_stats_sql(4),
    "osm_qatile_roads": _qatile_roads_sql(4),
    "mvt_pyramid_stats": _mvt_pyramid_sql(3, 5),
    "spatial_knn_unbounded": _knn_unbounded_sql(),
    "cells_getis_ord": _getis_ord_sql(),
    "cells_kde": _cells_kde_sql(),
    "hilbert_cells": _hilbert_cells_sql(),
    "geohash_cells": _geohash_cells_sql(),
    "grid_idw": _grid_idw_sql(),
    "cells_morans_i": _morans_i_sql(),
})


def fixture_oracles() -> dict[str, str]:
    """Oracles that embed the absolute sf0.01 fixture and goldens paths.
    Built on call: building them at import would generate the fixture
    on every import."""
    fdir, roads, img, gdir = fixture_paths()
    countries_pq = os.path.join(fdir, "countries.parquet").replace("'", "''")
    # osm_relation_rings (r04): recompute the stitched-ring invariants
    # from the ORIGINAL country rings (relation_id = dense code order;
    # micro-rounding absorbs the summation-order float delta between
    # the stitched rotation/orientation and the original sequence).
    relation_rings = f"""
WITH c AS (
  SELECT ring,
         CAST(ROW_NUMBER() OVER (ORDER BY country_code) - 1 AS INT)
           AS relation_id
  FROM read_parquet('{countries_pq}')
)
SELECT relation_id,
       CAST(3 + relation_id % 3 AS INT) AS n_members,
       CAST(len(ring) AS INT) AS n_points,
       TRUE AS closed,
       CAST(FLOOR(ABS(0.5 * list_sum(list_transform(
            generate_series(1, len(ring) - 1),
            i -> ring[i].x * ring[i+1].y - ring[i+1].x * ring[i].y)))
            * 1000000 + 0.5) AS BIGINT) AS area_mic,
       CAST(FLOOR(list_sum(list_transform(
            generate_series(1, len(ring) - 1),
            i -> SQRT((ring[i+1].x - ring[i].x) * (ring[i+1].x - ring[i].x)
                    + (ring[i+1].y - ring[i].y) * (ring[i+1].y - ring[i].y))))
            * 1000000 + 0.5) AS BIGINT) AS perim_mic
FROM c
"""
    # roads_simplify_dp: counts/bitmask from the committed recursive-DP
    # golden; kind joins from the fixture parquet so the roads read is
    # load-bearing on BOTH sides.
    dp = f"""
SELECT g.road_id, r.kind, g.n_pts, g.n_kept, g.kept_mask
FROM read_parquet('{gdir}/dp_simplify_sf0.01.parquet') g
JOIN read_parquet('{roads}') r USING (road_id)
"""
    pyr_golden = f"{gdir}/pyramid_simplified_sf0.01.parquet"
    legs = "\nUNION ALL\n".join(
        f"SELECT z, COUNT(*) AS n_tiles, "
        f"CAST(SUM(n_features) AS BIGINT) AS sum_features "
        f"FROM ({_pyr_simp_leg_sql(z, pyr_golden)}) GROUP BY z"
        for z in sorted(PYR_SIMPLIFY_EPS)
    )
    # country_convex_hull: hull size/area from the committed scalar
    # monotone-chain golden; n_points (distinct vertices) recomputed
    # relationally from the same roads parquet (load-bearing explode).
    hull = f"""
WITH v AS (SELECT country_code, u.c.x AS x, u.c.y AS y
           FROM read_parquet('{roads}'), UNNEST(coords) AS u(c)),
d AS (SELECT DISTINCT country_code, x, y FROM v),
n AS (SELECT country_code, CAST(COUNT(*) AS BIGINT) AS n_points
      FROM d GROUP BY country_code)
SELECT g.country_code, n.n_points, g.n_hull, g.area_mils
FROM read_parquet('{gdir}/hull_sf0.01.parquet') g
JOIN n USING (country_code)
"""
    dbscan = f"""
WITH v AS (SELECT u.c.x AS x, u.c.y AS y
           FROM read_parquet('{roads}'), UNNEST(coords) AS u(c)),
g AS (SELECT {_DB_IX} AS ix, {_DB_IY} AS iy FROM v),
cells AS (SELECT ix, iy, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
ncn AS (SELECT c.ix, c.iy, c.cnt, SUM(o.cnt) AS nc
        FROM cells c JOIN cells o
          ON ABS(o.ix - c.ix) <= 1 AND ABS(o.iy - c.iy) <= 1
        GROUP BY 1, 2, 3),
core AS (SELECT ix, iy, ix * 4096 + iy AS k, cnt
         FROM ncn WHERE nc >= {_DB_MINPTS}),
adj AS (SELECT a.k AS ka, b.k AS kb FROM core a JOIN core b
        ON ABS(a.ix - b.ix) <= 1 AND ABS(a.iy - b.iy) <= 1 AND a.k <> b.k),
w AS (
  WITH RECURSIVE t(cell, lab) AS (
    SELECT k, k FROM core
    UNION
    SELECT adj.kb, t.lab FROM t JOIN adj ON adj.ka = t.cell
    WHERE t.lab < adj.kb
  ) SELECT cell, MIN(lab) AS label FROM t GROUP BY cell
),
core_lab AS (SELECT w.label, core.cnt, core.k, CAST(1 AS BIGINT) AS is_core
             FROM core JOIN w ON w.cell = core.k),
noncore AS (SELECT c.ix, c.iy, c.cnt FROM cells c
            WHERE NOT EXISTS (SELECT 1 FROM core
                              WHERE core.ix = c.ix AND core.iy = c.iy)),
battach AS (
  SELECT n.ix * 4096 + n.iy AS k, MAX(n.cnt) AS cnt,
         MIN(w.label) AS label, CAST(0 AS BIGINT) AS is_core
  FROM noncore n JOIN core
    ON ABS(core.ix - n.ix) <= 1 AND ABS(core.iy - n.iy) <= 1
  JOIN w ON w.cell = core.k
  GROUP BY 1
),
allc AS (SELECT label, cnt, k, is_core FROM core_lab
         UNION ALL SELECT label, cnt, k, is_core FROM battach)
SELECT label AS cluster_id, CAST(SUM(is_core) AS BIGINT) AS n_core,
       CAST(SUM(1 - is_core) AS BIGINT) AS n_border,
       CAST(SUM(cnt) AS BIGINT) AS n_points,
       CAST(SUM(k) AS BIGINT) AS checksum
FROM allc GROUP BY 1
"""
    vx = _VOR_Q.format(c="coords[i].x")
    vy = _VOR_Q.format(c="coords[i].y")
    s1x = _VOR_Q.format(c="coords[1].x")
    s1y = _VOR_Q.format(c="coords[1].y")
    vor = f"""
WITH pts AS (SELECT road_id, i, {vx} AS px, {vy} AS py
             FROM read_parquet('{roads}'),
                  UNNEST(generate_series(1, len(coords))) AS u(i)),
seeds AS (SELECT road_id AS seed, {s1x} AS sx, {s1y} AS sy
          FROM read_parquet('{roads}') WHERE road_id < {_VOR_SEEDS}),
cand AS (SELECT road_id, i, seed,
                (px - sx) * (px - sx) + (py - sy) * (py - sy) AS d2
         FROM pts, seeds),
best AS (SELECT road_id, i, seed, d2 FROM cand
         QUALIFY ROW_NUMBER() OVER (PARTITION BY road_id, i
                                    ORDER BY d2, seed) = 1)
SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(d2) AS BIGINT) AS sum_d2
FROM best GROUP BY 1
"""
    return {
        "osm_relation_rings": relation_rings,
            "voronoi_assign": vor,
            "spatial_dbscan": dbscan,
            "roads_supercover_cells": _supercover_sql(roads),
            "roads_dissolve": _dissolve_sql(roads),
            "roads_simplify_dp": dp,
            "mvt_pyramid_simplified": legs,
            "cells_line_density": _line_density_sql(roads),
            "route_interpolate": _route_interp_sql(roads),
            "roads_sinuosity": _sinuosity_sql(roads),
            "roads_buffer_cells": _buffer_cells_sql(roads),
            "road_intersections": _road_intersections_sql(roads),
            "country_convex_hull": hull,
        "roads_resample_points": _resample_sql(roads),
        "roads_frechet": _frechet_sql(roads),
        "roads_hausdorff": f"""
WITH first AS (
  SELECT road_id,
         COALESCE(CAST(FLOOR(coords[1].x * 10) AS BIGINT) * 100000
                  + CAST(FLOOR(coords[1].y * 10) AS BIGINT), -1) AS cell
  FROM read_parquet('{roads}')
),
verts AS (
  SELECT road_id, i,
         CAST(FLOOR(coords[i].x * 1000000) AS BIGINT) AS x,
         CAST(FLOOR(coords[i].y * 1000000) AS BIGINT) AS y
  FROM read_parquet('{roads}'),
       UNNEST(range(1, len(coords) + 1)) AS r(i)
),
pairs AS (
  SELECT a.road_id AS ra, b.road_id AS rb
  FROM first a JOIN first b USING (cell)
  WHERE a.road_id < b.road_id
),
ab AS (
  SELECT p.ra, p.rb, va.i AS ai,
         (va.x - vb.x) * (va.x - vb.x)
           + (va.y - vb.y) * (va.y - vb.y) AS dsq
  FROM pairs p
  JOIN verts va ON va.road_id = p.ra
  JOIN verts vb ON vb.road_id = p.rb
),
minb AS (
  SELECT ra, rb, ai, CAST(MIN(dsq) AS BIGINT) AS min_dsq
  FROM ab GROUP BY 1, 2, 3
)
SELECT ra, rb, CAST(COUNT(*) AS BIGINT) AS n_a,
       CAST(MAX(min_dsq) AS BIGINT) AS h_sq,
       CAST(FLOOR(SQRT(CAST(MAX(min_dsq) AS DOUBLE))) AS BIGINT) AS h_micro
FROM minb GROUP BY 1, 2
""",
        "points_snap_roads": _snap_sql(),
        "roads_topology_errors": _topology_sql(roads),
        "roads_in_aoi_length": _aoi_length_sql(roads),
        "country_clip_area": f"""
SELECT country_code, n_in, n_out, inter_area_nano, country_area_nano,
       frac_micros
FROM read_parquet('{gdir}/clip_area.parquet')
""",
        "roads_bearing_octants": f"""
WITH seg0 AS (
  SELECT kind,
         CAST(FLOOR(coords[i].x * 1000000) AS BIGINT) AS x,
         CAST(FLOOR(coords[i].y * 1000000) AS BIGINT) AS y,
         CAST(FLOOR(coords[i + 1].x * 1000000) AS BIGINT) AS x2,
         CAST(FLOOR(coords[i + 1].y * 1000000) AS BIGINT) AS y2
  FROM read_parquet('{roads}'), UNNEST(range(1, len(coords))) AS r(i)
),
seg AS (
  SELECT kind, x2 - x AS dx, y2 - y AS dy
  FROM seg0 WHERE NOT (x2 = x AND y2 = y)
),
o AS (SELECT kind, {OCTANT_SQL} AS octant, {_SEG_LEN} AS seg_len FROM seg)
SELECT kind, octant, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(seg_len) AS BIGINT) AS len_micros
FROM o GROUP BY 1, 2
""",
        "roads_strokes": _strokes_sql(roads),
        "roads_simplify_vw": f"""
SELECT road_id, kind, n_in, n_kept, keep_mask, removed_a2
FROM read_parquet('{gdir}/vw_sf0.01.parquet')
""",
    }
