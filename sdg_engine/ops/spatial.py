"""Spatial operators as DataFrame builders (SURVEY.md §2.2, §2.4).

Architecture (Spark-first, not a port of the reference's RDD flow):

* geocoding (blake2b image_id -> lon/lat) is the only Python step on
  the image hot path — one Arrow-vectorized pandas UDF;
* ALL cell math (C1 cover, C3 k-ring, Z-order packing) and ALL exact
  geometry (J4 point-segment distance, J2 ray-cast crossings) run as
  generated SQL expressions inside whole-stage codegen (sqlgen.py) —
  zero Python in joins/aggregations;
* joins are plain equi-joins on int64 ``cell_id`` so Catalyst/AQE pick
  broadcast vs shuffled-hash and split skewed cells.

Reference parity: C1 ≈ GeoTrellis ``MapKeyTransform.keysForGeometry``,
J1 ≈ the keyed RDD tile×roads join, J2 ≈ country ``covers(point)``
clip, J4 ≈ the 2 km proximity search (SURVEY.md §2; /root/reference is
empty so loci are the survey's recalled paths, not file:line).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import METERS_PER_DEG, WORLD_MIN, WORLD_SIZE
from .. import cells as C
from ..sqlgen import (
    apply_steps,
    grid_index_expr,
    point_cell_steps,
    point_seg_dist_steps,
)
from ..storage import publish_dir, scratch_root
from ..tablecache import read_table

_LONLAT_SCHEMA = StructType(
    [StructField("lon", DoubleType()), StructField("lat", DoubleType())]
)


@F.pandas_udf(_LONLAT_SCHEMA)
def lonlat_udf(image_id: pd.Series) -> pd.DataFrame:
    """Deterministic geocode: blake2b(image_id) -> lon/lat (FIXTURES.md §1).

    The one pandas UDF on the image hot path (crypto hash has no JVM
    twin we control); Arrow-batched, loop body is C (hashlib).
    """
    n = len(image_id)
    lon = np.empty(n, dtype=np.float64)
    lat = np.empty(n, dtype=np.float64)
    for j, s in enumerate(image_id):
        d = hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest()
        a = int.from_bytes(d[:4], "big")
        b = int.from_bytes(d[4:], "big")
        lo = WORLD_MIN + WORLD_SIZE * a / 2**32
        la = WORLD_MIN + WORLD_SIZE * b / 2**32
        if s.endswith("7"):  # skew: dense urban cell (FIXTURES.md)
            lo = 2.5 + (a % 1000) * 1e-6
            la = 2.5 + (b % 1000) * 1e-6
        lon[j] = lo
        lat[j] = la
    return pd.DataFrame({"lon": lon, "lat": lat})


def with_geo(images: DataFrame) -> DataFrame:
    """Derive lon/lat + footprint quad from image_id (engine spec).

    half-size = 0.004° * (1 + (i % 5)/4) with i parsed from the id —
    JVM-side arithmetic; only the hash is Python.
    """
    df = images.withColumn("_ll", lonlat_udf("image_id"))
    df = df.select("*", F.col("_ll.lon").alias("lon"), F.col("_ll.lat").alias("lat")).drop("_ll")
    i = F.expr("CAST(SUBSTRING(image_id, 4) AS BIGINT)")
    half = (F.lit(0.004) * (F.lit(1.0) + (i % 5).cast("double") / F.lit(4.0))).alias("half")
    return (
        df.withColumn("half", half)
        .withColumn("fp_xmin", F.col("lon") - F.col("half"))
        .withColumn("fp_ymin", F.col("lat") - F.col("half"))
        .withColumn("fp_xmax", F.col("lon") + F.col("half"))
        .withColumn("fp_ymax", F.col("lat") + F.col("half"))
        .drop("half")
    )


def with_point_cell(df: DataFrame, level: int, px: str = "lon", py: str = "lat",
                    out: str = "cell_id", keep_idx: bool = False) -> DataFrame:
    """C1 (point case): add quadtree cell id — pure codegen, no Python.

    ``keep_idx=True`` keeps the integer grid indices ``{out}_ix`` /
    ``{out}_iy`` so downstream k-ring expansion can reuse them instead
    of bit-squeezing the packed id (which would re-inline the whole
    upstream expression per bit and overflow codegen's method limit).

    The packed id is wrapped in ``COALESCE(cell, -1)`` to make the
    column NON-NULLABLE: when a nullable cell id becomes an equi-join
    key, Catalyst infers an ``isnotnull`` filter and pushes it below
    the projection, re-inlining the whole morton chain (measured 33×
    slower on the interior-cell broadcast join).  Values are never
    null, so semantics (and oracle parity) are unchanged.
    """
    steps = point_cell_steps(px, py, level, out)
    df = apply_steps(df, steps)
    df = df.withColumn(out, F.coalesce(F.col(out), F.lit(-1)))
    return df if keep_idx else df.drop(*[n for n, _ in steps[:-1]])


def cover_bbox_cells(
    df: DataFrame,
    level: int,
    xmin: str,
    ymin: str,
    xmax: str,
    ymax: str,
) -> DataFrame:
    """C1 (bbox case): explode every cell intersecting the bbox.

    JVM-side: two ``sequence()`` explosions over grid index ranges,
    then Z-order pack — the keysForGeometry analogue for quads.
    """
    df = (
        df.withColumn("_ix0", F.expr(grid_index_expr(xmin, level)))
        .withColumn("_iy0", F.expr(grid_index_expr(ymin, level)))
        .withColumn("_ix1", F.expr(grid_index_expr(xmax, level)))
        .withColumn("_iy1", F.expr(grid_index_expr(ymax, level)))
        .withColumn("_cix", F.explode(F.expr("sequence(_ix0, _ix1)")))
        .withColumn("_ciy", F.explode(F.expr("sequence(_iy0, _iy1)")))
    )
    from ..sqlgen import pack_cell_expr

    # COALESCE → non-nullable join key (see with_point_cell)
    df = df.withColumn(
        "cell_id",
        F.coalesce(F.expr(pack_cell_expr("_cix", "_ciy", level)), F.lit(-1)),
    )
    df = df.withColumnRenamed("_cix", "cell_id_ix").withColumnRenamed(
        "_ciy", "cell_id_iy"
    )
    return df.drop("_ix0", "_iy0", "_ix1", "_iy1")


def with_kring(df: DataFrame, level: int, k: int, out: str = "ring_cell_id",
               *, idx_cols: tuple[str, str]) -> DataFrame:
    """C3: explode the (2k+1)² Chebyshev neighborhood of each cell.

    JVM-side; out-of-world neighbors are filtered.  Also emits
    ``k_ring`` = Chebyshev distance of each neighbor (used by J4's
    golden output).  The cell is given by its grid indices
    ``idx_cols=(ix, iy)``, which the cell producers keep
    (with_point_cell/cover_bbox_cells do); decoding them from the
    packed id would re-inline the upstream cell expression per bit
    after projection collapse.
    """
    from ..sqlgen import pack_cell_expr

    n = 1 << level
    df = df.withColumn("_vx", F.col(idx_cols[0])).withColumn("_vy", F.col(idx_cols[1]))
    df = (
        df.withColumn("_dx", F.explode(F.expr(f"sequence({-k}, {k})")))
        .withColumn("_dy", F.explode(F.expr(f"sequence({-k}, {k})")))
        .withColumn("_nx", F.expr("_vx + _dx"))
        .withColumn("_ny", F.expr("_vy + _dy"))
        .filter(F.expr(f"_nx >= 0 AND _ny >= 0 AND _nx < {n} AND _ny < {n}"))
        .withColumn("k_ring", F.expr("GREATEST(ABS(_dx), ABS(_dy))").cast("int"))
    )
    # COALESCE → non-nullable join key (see with_point_cell)
    df = df.withColumn(
        out, F.coalesce(F.expr(pack_cell_expr("_nx", "_ny", level)), F.lit(-1))
    )
    return df.drop("_vx", "_vy", "_dx", "_dy", "_nx", "_ny")


def road_segments(roads: DataFrame) -> DataFrame:
    """Explode road polylines into segment rows (JVM-side transform).

    Output: road_id, kind, country_code, seg_id, ax, ay, bx, by.
    """
    segs = roads.withColumn(
        "_seg",
        F.explode(
            F.expr(
                "transform(slice(coords, 1, size(coords) - 1), "
                "(c, i) -> struct(i AS seg_id, c.x AS ax, c.y AS ay, "
                "coords[i + 1].x AS bx, coords[i + 1].y AS by))"
            )
        ),
    )
    return segs.select(
        "road_id",
        "country_code",
        "kind",
        F.col("_seg.seg_id").alias("seg_id"),
        F.col("_seg.ax").alias("ax"),
        F.col("_seg.ay").alias("ay"),
        F.col("_seg.bx").alias("bx"),
        F.col("_seg.by").alias("by"),
    )


def segments_with_cells(segs: DataFrame, level: int) -> DataFrame:
    """Cover each segment's bbox with cells at ``level``.

    The build side of J1 and the MVT tile cover: exploded (cell_id,
    segment) rows, with the grid indices kept as ``cell_id_ix`` /
    ``cell_id_iy``.  The cutoff searches expand this cover by kring(1)
    through :func:`ring_cover`.
    """
    segs = (
        segs.withColumn("_xmin", F.expr("LEAST(ax, bx)"))
        .withColumn("_ymin", F.expr("LEAST(ay, by)"))
        .withColumn("_xmax", F.expr("GREATEST(ax, bx)"))
        .withColumn("_ymax", F.expr("GREATEST(ay, by)"))
    )
    covered = cover_bbox_cells(segs, level, "_xmin", "_ymin", "_xmax", "_ymax")
    return covered.drop("_xmin", "_ymin", "_xmax", "_ymax")


def ring_cover(segs: DataFrame, level: int) -> DataFrame:
    """C3 road side of every cutoff search (J4 kNN/top-k/snap, the
    near-road flag, the burn's halo): each segment expanded to the
    kring(1) of the cells its bbox covers, so a point joins on its
    single cell (completeness proof in knn_nearest_road).

    Output: cell_id (the ring cell), road_id, seg_id, ax, ay, bx, by,
    k_ring (Chebyshev distance from the covering cell).  NOT deduped —
    a segment reaches one ring cell from several covering cells; each
    caller picks its own reduction.
    """
    ring = with_kring(
        segments_with_cells(segs, level), level, 1, "ring_cell_id",
        idx_cols=("cell_id_ix", "cell_id_iy"),
    )
    return ring.select(
        F.col("ring_cell_id").alias("cell_id"),
        "road_id", "seg_id", "ax", "ay", "bx", "by", "k_ring",
    )


def compact_cover(dense_cells: DataFrame, level: int) -> DataFrame:
    """C2 ★ distributed: minimal mixed-level cover of a dense single-level
    cell set (the DataFrame twin of cells.compact).

    Single-pass relational formulation — NO driver loop, no recursion:
    every cell emits its ``level+1`` ancestors (explode), an ancestor at
    level ℓ is FULL iff its descendant count equals 4^(level-ℓ), and the
    compacted cover is exactly the full nodes whose parent is not full.
    Two shuffles total (ancestor groupBy + parent anti-join), both on
    int64 keys — scales to any cover size.  Output: (cell, level)
    mixed-level rows.  Uses shiftleft/shiftright function forms (the
    ``>>`` operator fails to parse inside Spark function-call argument
    lists).
    """
    from ..sqlgen import LEVEL_SHIFT

    mask = (1 << LEVEL_SHIFT) - 1
    anc = dense_cells.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {level}), k -> "
                f"shiftleft(CAST({level} - k AS BIGINT), {LEVEL_SHIFT}) | "
                f"shiftright(cell_id & {mask}, 2 * k))"
            )
        ).alias("anc")
    )
    cnt = anc.groupBy("anc").agg(F.count(F.lit(1)).alias("n"))
    lvl = f"CAST(shiftright(anc, {LEVEL_SHIFT}) AS INT)"
    full = cnt.filter(
        F.expr(f"n = shiftleft(CAST(1 AS BIGINT), 2 * ({level} - {lvl}))")
    ).select("anc")
    parent_of = F.expr(
        f"shiftleft(CAST({lvl} - 1 AS BIGINT), {LEVEL_SHIFT}) | "
        f"shiftright(anc & {mask}, 2)"
    )
    comp = full.withColumn("_p", parent_of).join(
        full.select(F.col("anc").alias("_p")), "_p", "left_anti"
    )
    return comp.select(
        F.col("anc").alias("cell_id"),
        F.expr(f"CAST(shiftright(anc, {LEVEL_SHIFT}) AS INT)").alias("level"),
    )


def range_join_compacted(
    points_cells: DataFrame,
    cover: DataFrame,
    point_level: int,
    bin_level: int = 3,
) -> DataFrame:
    """J6 ★: Z-order RANGE join of fine-level point cells against a
    compacted mixed-level cover — planned as a HASH equi-join, never a
    broadcast-nested-loop.

    A compacted cover cell at level ℓ owns the contiguous id range
    ``[code << 2(L-ℓ), (code+1) << 2(L-ℓ))`` of level-L descendants
    (cells.range_at_level; the Global-Range-Encoding trick, PAPERS.md).
    The naive formulation ``pts.join(cover, lo <= cell AND cell < hi)``
    has no equi-key, so Spark plans a BNLJ/cartesian — the measured
    degradation that kept J6 a documented fallback through r2.

    This version restores an equi-key by BINNING both sides at a coarse
    ``bin_level`` B:

    * probe (points): bin = ancestor code at B — exactly 1 bin/row, a
      pure shift of the already-computed cell id (no explode, no skew
      amplification on the fact table);
    * build (cover): a cell at level ℓ >= B maps to exactly 1 bin (its
      ancestor); a cell at ℓ < B explodes into its 4^(B-ℓ) descendant
      bins at B (bounded by 4^B total — the build side is the small,
      already-compacted one).

    The join is then ``ON probe.bin = build.bin AND lo <= cell < hi``:
    Catalyst hash-partitions (or broadcasts) on ``bin`` and evaluates
    the range predicate as the join residual.  Every point matches at
    most one cover cell (covers are disjoint by construction), so the
    result cardinality equals the contained-point count.  At 10^12
    rows the shape holds: one shuffle (or none, when the cover
    broadcasts) keyed on a coarse cell id, AQE skew-split applies, and
    ``bin_level`` trades build-side duplication (4^(B-ℓ) per coarse
    cell) against per-bin selectivity.

    Output: the point columns + ``cover_cell`` / ``cover_level``.
    """
    from ..sqlgen import LEVEL_SHIFT

    mask = (1 << LEVEL_SHIFT) - 1
    build = (
        cover.withColumn("_code", F.expr(f"(cell_id & {mask})"))
        .withColumn(
            "_lo",
            F.expr(
                f"(CAST({point_level} AS BIGINT) << {LEVEL_SHIFT}) | "
                f"shiftleft(_code, 2 * ({point_level} - level))"
            ),
        )
        .withColumn(
            "_hi",
            F.expr(
                f"(CAST({point_level} AS BIGINT) << {LEVEL_SHIFT}) | "
                f"shiftleft(_code + 1, 2 * ({point_level} - level))"
            ),
        )
        .withColumn(
            "_bin_base",
            F.expr(
                f"CASE WHEN level >= {bin_level} "
                f"THEN shiftright(_code, 2 * (level - {bin_level})) "
                f"ELSE shiftleft(_code, 2 * ({bin_level} - level)) END"
            ),
        )
        .withColumn(
            "_n_bins",
            F.expr(
                f"CASE WHEN level >= {bin_level} THEN CAST(1 AS BIGINT) "
                f"ELSE shiftleft(CAST(1 AS BIGINT), 2 * ({bin_level} - level)) END"
            ),
        )
        .withColumn("_i", F.explode(F.expr("sequence(CAST(0 AS BIGINT), _n_bins - 1)")))
        # COALESCE → non-nullable equi-key (see with_point_cell)
        .withColumn("_bin", F.coalesce(F.expr("_bin_base + _i"), F.lit(-1)))
        .select(
            F.col("cell_id").alias("cover_cell"),
            F.col("level").alias("cover_level"),
            "_lo",
            "_hi",
            "_bin",
        )
    )
    probe = points_cells.withColumn(
        "_bin",
        F.coalesce(
            F.expr(
                f"shiftright(cell_id & {mask}, 2 * ({point_level} - {bin_level}))"
            ),
            F.lit(-1),
        ),
    )
    joined = probe.join(
        build,
        (probe["_bin"] == build["_bin"])
        & (probe["cell_id"] >= build["_lo"])
        & (probe["cell_id"] < build["_hi"]),
        "inner",
    )
    return joined.drop("_bin", "_lo", "_hi")


def spatial_join(images_cells: DataFrame, road_cells: DataFrame) -> DataFrame:
    """J1 ★: the flagship tile×roads equi-join on cell_id.

    Plain shuffled-hash/broadcast equi-join — Catalyst + AQE decide;
    skewed urban cells are split by AQE (skew config in session.py).
    """
    return images_cells.join(road_cells, "cell_id", "inner")


def spatial_join_salted(
    points_cells: DataFrame,
    road_cells: DataFrame,
    target_rows_per_cell: int = 50_000,
) -> DataFrame:
    """J1 ★ skew-hardened: the cell equi-join with EXPLICIT
    cell-frequency salting (A5 → skew.plan_salts), for when a dense
    urban cell exceeds what AQE's skew-split can rebalance (AQE splits
    oversized partitions of a shuffled join, but a broadcast/bucketed
    variant or a downstream per-cell cogroup sees the single hot KEY
    undivided).

    Shape (same as the proven minhash_lsh_pairs salting): a map-side
    histogram finds hot cells; the PROBE side (points — the big one)
    gets ``salt = pmod(xxhash64(id), n_salt(cell))`` and the BUILD side
    (road cover) EXPLODES over all n_salt values, so the join key
    becomes (cell_id, salt), every original pair matches exactly once,
    and a hot cell's work splits n_salt ways.  Cold cells keep salt 0 —
    no replication.  Result set is row-identical to spatial_join
    (pinned in tests).  Cost: one extra map-side-combined count agg
    over the probe side for the histogram.
    """
    from ..skew import cell_histogram, plan_salts, with_salt

    salts = plan_salts(cell_histogram(points_cells), target_rows_per_cell)
    # probe side: the shared salting helper (r03 review: this logic was
    # re-implemented here — pmod(xxhash64(id), n_salt), cold cells 0)
    probe = with_salt(points_cells, salts, "image_id")
    # build side: EXPLODE over all n_salt values so every original pair
    # matches exactly once — the only part with_salt can't express
    build = (
        road_cells.join(
            F.broadcast(salts), road_cells.cell_id == salts["_salt_cell"], "left"
        )
        .drop("_salt_cell")
        .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("salt", F.explode(F.expr("sequence(0, n_salt - 1)")))
        .withColumn("salt", F.col("salt").cast("int"))
        .drop("n_salt")
    )
    return probe.join(build, ["cell_id", "salt"], "inner").drop("salt")


def level_for_cutoff(cutoff_m: float) -> int:
    """Largest level whose cell size still >= cutoff (kring(1) exactness)."""
    cutoff_deg = cutoff_m / METERS_PER_DEG
    level = 0
    while (WORLD_SIZE / (1 << (level + 1))) >= cutoff_deg and level < C.MAX_LEVEL:
        level += 1
    return level


def _within_cutoff(points: DataFrame, cover: DataFrame, level: int,
                   cutoff_m: float, id_col: str) -> DataFrame:
    """(point, segment) pairs within ``cutoff_m``: the point's cell
    equi-joined with a ring_cover, then the exact distance ``dist_m``
    (its ``dist_m_*`` intermediates kept for snap_nearest_road)."""
    probe = with_point_cell(points, level, "lon", "lat", "cell_id")
    joined = probe.select(id_col, "lon", "lat", "cell_id").join(cover, "cell_id", "inner")
    steps = point_seg_dist_steps("lon", "lat", "ax", "ay", "bx", "by", "dist_m")
    joined = apply_steps(joined, steps)
    return joined.filter(F.col("dist_m") <= F.lit(float(cutoff_m)))


def knn_nearest_road(
    images_geo: DataFrame,
    segs: DataFrame,
    cutoff_m: float = 2000.0,
    id_col: str = "image_id",
) -> DataFrame:
    """J4 ★ + W1: nearest road within ``cutoff_m`` per image, exact.

    k-ring-expansion kNN, collapsed to ONE shuffle: at
    ``level_for_cutoff(cutoff_m)`` the cell size is >= cutoff, so every
    segment within cutoff of a point lies in the point's 3×3 cell block
    (proof: |p-q|∞ <= |p-q|₂ < cellsize ⇒ q's cell is a Chebyshev-1
    neighbor).  We pre-expand the *road* side by kring(1) (small side,
    exploded once) and join the image side on its single point cell —
    no probe-side row blowup.
    Exact point→segment distance + (dist, road_id) window tie-break.

    Emits: image_id, road_id, dist_m, k_ring (Chebyshev distance from
    the image's cell to the matched segment's covering cell).
    """
    level = level_for_cutoff(cutoff_m)
    # a segment can reach the same ring cell from several covering
    # cells — keep the MIN Chebyshev distance so k_ring is
    # deterministic (endpoints are constant per (road_id, seg_id))
    cover = (
        ring_cover(segs, level)
        .groupBy("cell_id", "road_id", "seg_id")
        .agg(
            F.min("k_ring").alias("k_ring"),
            F.first("ax").alias("ax"),
            F.first("ay").alias("ay"),
            F.first("bx").alias("bx"),
            F.first("by").alias("by"),
        )
    )
    joined = _within_cutoff(images_geo, cover, level, cutoff_m, id_col)
    # argmin via min(struct(...)): struct comparison is lexicographic, so
    # this reproduces the (dist, road_id, seg_id, k_ring) tie-break of a
    # row_number window — but with MAP-SIDE partial aggregation, so the
    # shuffle carries one pre-reduced row per (partition, point) instead
    # of sorting every candidate pair (the window variant was the
    # scaling bottleneck: ~60 candidates/point all crossed the exchange)
    best = joined.groupBy(id_col).agg(
        F.min(F.struct("dist_m", "road_id", "seg_id", "k_ring")).alias("_b")
    )
    return best.select(
        id_col,
        F.col("_b.road_id").alias("road_id"),
        F.col("_b.dist_m").alias("dist_m"),
        F.col("_b.k_ring").cast("int").alias("k_ring"),
    )


def knn_topk_roads(
    images_geo: DataFrame,
    segs: DataFrame,
    cutoff_m: float = 2000.0,
    k: int = 3,
    id_col: str = "image_id",
) -> DataFrame:
    """J4b (r05): the k NEAREST roads per point within ``cutoff_m``,
    exact, deterministic tie-break (dist, road_id).

    Candidate completeness is the same 3×3-block proof as
    knn_nearest_road (cell size >= cutoff ⇒ every segment within cutoff
    of a point covers one of its Chebyshev-1 neighbor cells), so the
    top-k *roads* among the candidates are the true top-k within the
    cutoff — no ring iteration needed when a cutoff exists.

    Execution shape: candidate equi-join (no probe-side blowup) →
    per-(point, road) MIN over the road's segments (map-side-combined
    partial agg — a multi-segment road contributes its closest segment)
    → per-point rank window over the already-reduced (point, road)
    rows.  Two keyed exchanges, both over pre-reduced data, keys
    uniformly distributed; the window input per point is bounded by the
    road density inside the cutoff disc.  min(struct) can't express
    top-k>1, hence the window — but only AFTER the reduction, so the
    exchange never carries raw candidate pairs.

    Emits: id_col, road_id, dist_m, rnk (1-based, rnk <= k); points
    with fewer than k roads in range emit fewer rows.
    """
    level = level_for_cutoff(cutoff_m)
    # a segment reaches the same ring cell from several covering
    # cells; endpoints are functionally dependent on (road, seg)
    cover = ring_cover(segs, level).dropDuplicates(["cell_id", "road_id", "seg_id"])
    joined = _within_cutoff(images_geo, cover, level, cutoff_m, id_col)
    per_road = joined.groupBy(id_col, "road_id").agg(
        F.min("dist_m").alias("dist_m")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("dist_m").asc(), F.col("road_id").asc()
    )
    return (
        per_road.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
    )


def snap_nearest_road(
    points_geo: DataFrame,
    segs: DataFrame,
    cutoff_m: float = 2000.0,
    id_col: str = "image_id",
) -> DataFrame:
    """MAP-MATCHING snap (J4c): nearest road segment per point WITH the
    linear-referencing payload — the clamped projection parameter t and
    the snapped on-segment coordinates — i.e. the operator a GPS-trace
    conflation pipeline runs after kNN.

    Same candidate construction and 3×3-block completeness proof as
    knn_nearest_road; the difference is the argmin struct carries the
    projection intermediates (t, endpoint, direction) so the snap is
    computed once, AFTER the reduction, from the winning segment only.
    t and the snapped coords quantize to micros with one FLOOR each
    (the double chain is shared text with the DuckDB oracle; every
    term already has a DOUBLE operand per CLAUDE.md gotcha 17).
    """
    level = level_for_cutoff(cutoff_m)
    cover = ring_cover(segs, level).dropDuplicates(["cell_id", "road_id", "seg_id"])
    joined = _within_cutoff(points_geo, cover, level, cutoff_m, id_col)
    # argmin via min(struct): (dist, road, seg) is the deterministic
    # tie-break; the trailing fields are functionally dependent on
    # (road_id, seg_id) so they never influence the comparison
    best = joined.groupBy(id_col).agg(
        F.min(
            F.struct(
                "dist_m", "road_id", "seg_id", "dist_m_t",
                "ax", "ay", "dist_m_dx", "dist_m_dy",
            )
        ).alias("_b")
    )
    return best.selectExpr(
        id_col,
        "_b.road_id AS road_id",
        "_b.seg_id AS seg_id",
        "_b.dist_m AS dist_m",
        "CAST(FLOOR(_b.dist_m_t * 1000000.0) AS BIGINT) AS t_micros",
        "CAST(FLOOR((_b.ax + _b.dist_m_t * _b.dist_m_dx) * 1000000.0)"
        " AS BIGINT) AS snap_x_micro",
        "CAST(FLOOR((_b.ay + _b.dist_m_t * _b.dist_m_dy) * 1000000.0)"
        " AS BIGINT) AS snap_y_micro",
    )


def pip_country_udf(rings: dict[str, np.ndarray]):
    """Arrow-batched exact ray-cast PIP: (lon, lat) -> country or NULL.

    Vectorized numpy even-odd crossing (geom.points_in_polygon) over
    all rings; identical IEEE arithmetic to the oracle's SQL crossing
    sum.  This is assign_countries' stage 2: it decides the
    boundary-cell rows in the same pass as the cell join.  Keeping the
    ray-cast out of the JVM keeps the fused probe stage small (a
    literal multi-ring CASE there blew whole-stage codegen past the JIT
    method limit: 5-20× slowdowns of the WHOLE stage), and the Python
    side is pure vectorized numpy (BASELINE.json:15)."""
    from ..geom import points_in_polygon

    items = list(rings.items())

    @F.pandas_udf("string")
    def _pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        px = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        py = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        out = np.full(len(px), None, dtype=object)
        # callers null-mask inputs for rows already decided JVM-side
        # (interior cells), so the vectorized ray-cast only runs on the
        # ~1% boundary rows — Catalyst extracts UDFs unconditionally,
        # masking is how you keep the Python work proportional
        undecided = ~np.isnan(px)
        for cc, ring in items:
            if not undecided.any():
                break
            inside = points_in_polygon(px[undecided], py[undecided], ring)
            idx = np.flatnonzero(undecided)[inside]
            out[idx] = cc
            undecided[idx] = False
        return pd.Series(out)

    return _pip


def with_near_road_flag(
    points_geo: DataFrame,
    segs: DataFrame,
    cutoff_m: float,
) -> DataFrame:
    """Map-side 'within cutoff of any road' boolean column.

    A correlated ``EXISTS`` subquery over the :func:`ring_cover`, built
    with the DataFrame subquery API (no temp views, nothing written to
    the session catalog).  While the cover fits the broadcast threshold
    Catalyst plans a **BroadcastHashJoin ExistenceJoin** — one
    codegen'd hash probe per point with the exact point→segment
    distance as the extra join predicate, producing a boolean without
    dropping or duplicating rows.  A cover too large to broadcast (a
    planet-scale road network) plans as a **SortMergeJoin
    ExistenceJoin** on the cell key: one shuffle per side, no broadcast
    and no nested loop (pinned in tests/test_plans.py).  (A
    higher-order ``exists()`` lambda over a per-cell array column
    computes the same thing but is evaluated interpreted — measured ~9×
    slower; a left-semi join computes the filter but loses the
    non-matching rows the flagship's n_points still needs.)"""
    from ..sqlgen import point_seg_dist_expr

    level = level_for_cutoff(cutoff_m)
    probe = with_point_cell(points_geo, level, "lon", "lat", "_ncell").alias("p")
    # duplicates (a segment reaching one ring cell via several cover
    # cells) cannot change EXISTS semantics — skipping the dedup saves
    # the build side's only shuffle
    build = ring_cover(segs, level).select(
        F.col("cell_id").alias("rcell"), "ax", "ay", "bx", "by"
    ).alias("s")
    # p.lon / p.lat resolve as outer references once the subquery is
    # analyzed lazily, which the explicit .outer() key below triggers
    dist = F.expr(point_seg_dist_expr("p.lon", "p.lat", "s.ax", "s.ay", "s.bx", "s.by"))
    near = build.where(
        (F.col("s.rcell") == F.col("p._ncell").outer())
        & (dist <= F.lit(float(cutoff_m)))
    ).exists()
    return probe.select(
        *[F.col(f"p.{c}") for c in points_geo.columns], near.alias("near_road")
    )


def knn_ring_iterative(
    points_geo: DataFrame,
    segs: DataFrame,
    level: int = 6,
    id_col: str = "image_id",
) -> DataFrame:
    """J4 ★ unbounded form: literal k-ring-expansion kNN (no cutoff).

    Ring-by-ring driver loop (the north star's "k-ring-expansion kNN to
    nearest road geometry"): at each k the frontier's kring(k) cells
    equi-join the segment cover; a point SETTLES when its best exact
    distance ≤ k·cellsize — any unsearched segment lies in a cell at
    Chebyshev > k, hence at distance ≥ k·cellsize (proof in cells.py
    terms: the gap between a point's cell and a cell k+1 away spans k
    full cells).  Points still unsettled after k = 1, 2, 4 fall back
    to one exact broadcast cross-join (the frontier is tiny by then) —
    bounded work, exact result, deterministic (dist, road_id, seg_id)
    tie-break.
    """
    cellsize_m = WORLD_SIZE / (1 << level) * METERS_PER_DEG
    build = segments_with_cells(segs, level).select(
        F.col("cell_id").alias("rcell"), "road_id", "seg_id", "ax", "ay", "bx", "by"
    )
    steps = point_seg_dist_steps("lon", "lat", "ax", "ay", "bx", "by", "dist_m")
    frontier = with_point_cell(
        points_geo.select(id_col, "lon", "lat"), level, keep_idx=True
    )
    # Persist each ring's frontier: without it, ring k's left-anti chain
    # re-executes rings 1..k-1's joins against the full fact table (the
    # recompute grows quadratically in the schedule length).  Frontiers
    # stay persisted until the RESULT is materialized (the settled
    # parts' lineage references them — unpersisting mid-loop would
    # reintroduce the cascade), then all are dropped.  Frontier size is
    # monotonically shrinking, so peak cache ≈ the ring-1 frontier.
    from pyspark import StorageLevel

    frontier = frontier.persist(StorageLevel.DISK_ONLY)
    to_unpersist = [frontier]
    settled_parts: list[DataFrame] = []

    def _best(cands: DataFrame) -> DataFrame:
        d = apply_steps(cands, steps).drop(*[n for n, _ in steps[:-1]])
        return d.groupBy(id_col).agg(
            F.min(F.struct("dist_m", "road_id", "seg_id")).alias("_b"),
            F.first("lon").alias("lon"),
            F.first("lat").alias("lat"),
        )

    for k in (1, 2, 4):
        ring_cells = with_kring(
            frontier, level, k, "ring_cell_id",
            idx_cols=("cell_id_ix", "cell_id_iy"),
        )
        cands = ring_cells.join(
            build, ring_cells.ring_cell_id == build.rcell, "inner"
        )
        best = _best(cands)
        # STRICT '<': at exact equality dist == k·cellsize an unexplored
        # segment at the same distance (with a smaller tie-break key) can
        # sit just outside the ring, so equality cases stay in the
        # frontier and resolve against the full candidate set later.
        done = best.filter(F.col("_b.dist_m") < F.lit(float(k) * cellsize_m))
        settled_parts.append(
            done.select(
                id_col,
                F.col("_b.road_id").alias("road_id"),
                F.col("_b.dist_m").alias("dist_m"),
                F.lit(int(k)).alias("k_settled"),
            )
        )
        nxt = frontier.join(done.select(id_col), id_col, "left_anti").persist(
            StorageLevel.DISK_ONLY
        )
        to_unpersist.append(nxt)
        empty = nxt.isEmpty()  # driver-side loop control (cheap: persisted)
        frontier = nxt
        if empty:
            frontier = None
            break

    if frontier is not None and not frontier.isEmpty():
        # exact fallback for the residual frontier (tiny): broadcast the
        # frontier (small side) against all segments
        cands = frontier.select(id_col, "lon", "lat").crossJoin(
            segs.select("road_id", "seg_id", "ax", "ay", "bx", "by")
        )
        best = _best(cands)
        settled_parts.append(
            best.select(
                id_col,
                F.col("_b.road_id").alias("road_id"),
                F.col("_b.dist_m").alias("dist_m"),
                F.lit(-1).alias("k_settled"),
            )
        )

    out = settled_parts[0]
    for part in settled_parts[1:]:
        out = out.unionByName(part)
    # materialize the result once, then release every cached frontier —
    # the returned frame no longer depends on them
    out = out.persist(StorageLevel.DISK_ONLY)
    out.count()
    for df in to_unpersist:
        df.unpersist()
    return out


ROAD_KINDS_ALL = [
    "motorway", "trunk", "primary", "secondary", "tertiary",
    "unclassified", "residential", "service", "track",
]
PAVED_SURFACES = ["asphalt", "concrete", "paving_stones", "paved"]
UNPAVED_SURFACES = ["dirt", "gravel", "sand", "unpaved"]
_ALL_SEASON_DEFAULT_KINDS = ["motorway", "trunk", "primary", "secondary"]


def filter_roads(roads: DataFrame) -> DataFrame:
    """F1: keep rows whose highway tag is a road kind (RoadTags filter)."""
    return roads.filter(F.expr("tags['highway']").isin(ROAD_KINDS_ALL))


def with_all_season(roads: DataFrame) -> DataFrame:
    """F2: the SDG 9.1.1 all-season predicate from the surface tag,
    with a road-class default when the surface is unknown."""
    surface = F.expr("tags['surface']")
    return roads.withColumn(
        "all_season",
        F.when(surface.isin(PAVED_SURFACES), F.lit(True))
        .when(surface.isin(UNPAVED_SURFACES), F.lit(False))
        .otherwise(F.col("kind").isin(_ALL_SEASON_DEFAULT_KINDS)),
    )


def forgotten_images(images_geo: DataFrame, nearest: DataFrame) -> DataFrame:
    """J5: images with NO road within cutoff — the 'forgotten' set."""
    return images_geo.join(nearest.select("image_id"), "image_id", "left_anti")


# ---------------------------------------------------------------------------
# J2 ★: cell candidates + exact ray-cast PIP country assignment
# ---------------------------------------------------------------------------


def _country_cells(spark, rings: dict[str, np.ndarray], level: int) -> DataFrame:
    """J2's broadcast side, one ``(icell, _int_cc)`` row per level-``level``
    cell in a ring's bbox that is interior to that ring (``_int_cc`` =
    its code) or crossed by any ring's edge (``_int_cc`` NULL: the
    ray-cast decides its points).

    A driver-side numpy prestage classifies the cells: a cell is
    interior when no edge's bbox-clipped segment intersects its rect
    AND its center is inside the ring (then the whole cell is, by
    Jordan).  It writes them as one tiny parquet file, read back through
    the per-session table memo: a ``createDataFrame`` frame re-runs a
    Python deserialization pass inside every broadcast build, a parquet
    scan is JVM-only.  The directory is published atomically under the
    application's :func:`storage.scratch_root` and named by a hash of
    the layout, ``level`` and every code with its ring's float64 bytes,
    so only equal rings share a table, and a later call in the same
    application that finds it published skips the prestage.  On a real
    cluster this is an Iceberg dim table.

    The file calls the code ``country_code``; the frame renames it
    ``_int_cc`` above the scan.
    """
    h = hashlib.blake2b(repr(("icell,country_code", level)).encode(), digest_size=8)
    for cc in sorted(rings):
        ring = np.ascontiguousarray(rings[cc], dtype=np.float64)
        h.update(repr((cc, ring.shape)).encode())
        h.update(ring.tobytes())

    def _write(tmp: str) -> None:
        cells, codes, crossed = [], [], []
        for cc in sorted(rings):
            ring = rings[cc]
            _row, cids = C.cover_bbox(
                np.array([ring[:, 0].min()]), np.array([ring[:, 1].min()]),
                np.array([ring[:, 0].max()]), np.array([ring[:, 1].max()]),
                level,
            )
            crosses, ctr_in = _ring_cell_test(cids, level, ring)
            crossed.append(cids[crosses])
            cells.append(cids[~crosses][ctr_in])
            codes.append(np.full(len(cells[-1]), cc, dtype=object))
        boundary = np.unique(np.concatenate(crossed))
        cells, codes = np.concatenate(cells), np.concatenate(codes)
        keep = ~np.isin(cells, boundary)
        pq.write_table(
            pa.table({
                "icell": np.concatenate([cells[keep], boundary]),
                "country_code": pa.array(np.concatenate(
                    [codes[keep], np.full(len(boundary), None, dtype=object)]
                ), pa.string()),
            }),
            os.path.join(tmp, "cells.parquet"),
        )

    out = os.path.join(scratch_root(spark), "cells_" + h.hexdigest())
    return read_table(spark, publish_dir(out, _write)).withColumnRenamed(
        "country_code", "_int_cc"
    )


def _ring_cell_test(cids: np.ndarray, level: int, ring: np.ndarray):
    """Vectorized per-ring cell test: (crosses, center_inside_of_noncrossing).

    ``crosses[i]``: some ring edge intersects cell i's rect (Liang-Barsky
    accept, cells × edges broadcast).  ``center_inside``: for the cells
    with no crossing edge, whether the cell CENTER is inside the ring —
    by Jordan, then the whole cell is."""
    from ..geom import points_in_polygon

    size = WORLD_SIZE / (1 << level)
    _lvl, ix, iy = C.unpack(cids)
    x0 = WORLD_MIN + ix * size  # (ncell,)
    y0 = WORLD_MIN + iy * size
    x1 = x0 + size
    y1 = y0 + size
    # r06: loop over the FEW edges with (ncell,) vectors instead of one
    # (ncell × nedge) broadcast — the p coefficients (±dx, ±dy) depend
    # only on the edge, so they are scalars per iteration and the big
    # where()-masked temporaries (~20 × ncell·nedge doubles) disappear.
    # Same elementwise IEEE arithmetic ⇒ bit-identical classification
    # (pinned against a scalar per-cell, per-edge twin by
    # tests/test_cells.py::test_ring_cell_test_matches_scalar_twin).
    # Measured 4.5 s → 0.5 s for an 800k-cell × 10-edge prestage on the
    # r06 host.
    n = len(cids)
    crosses = np.zeros(n, dtype=bool)
    for e in range(len(ring) - 1):
        ax, ay = float(ring[e, 0]), float(ring[e, 1])
        bx, by = float(ring[e + 1, 0]), float(ring[e + 1, 1])
        dx = bx - ax
        dy = by - ay
        t0 = np.zeros(n)
        t1 = np.ones(n)
        ok = np.ones(n, dtype=bool)
        for p, q in ((-dx, ax - x0), (dx, x1 - ax),
                     (-dy, ay - y0), (dy, y1 - ay)):
            if p == 0.0:
                ok &= ~(q < 0.0)
            elif p < 0.0:
                np.maximum(t0, q / p, out=t0)
            else:
                np.minimum(t1, q / p, out=t1)
        crosses |= ok & (t0 <= t1)
    ctr_in = points_in_polygon(
        (x0 + size / 2)[~crosses], (y0 + size / 2)[~crosses], ring
    )
    return crosses, ctr_in


def assign_countries(
    images_geo: DataFrame,
    rings: dict[str, np.ndarray],
    level: int = 7,
    id_col: str = "image_id",
) -> DataFrame:
    """J2 ★: two-stage country assignment (SURVEY.md §2.4), one pass.

    Stage 1 — cell-candidate generation: one broadcast join against
    the level-``level`` cells of ``_country_cells`` tags each point
    with its interior country or NULL (a boundary cell), and drops
    points in neither.
    Stage 2 — the Arrow-batched numpy ray-cast (pip_country_udf) fills
    the NULLs in the same projection.  lon/lat are null-masked for rows
    already decided, so the numpy kernel only works on boundary-cell
    rows.  COALESCE keeps it a single-pass plan: no union, and no
    isolated undecided subset broadcast back (both re-plan and
    recompute the upstream DAG; the subset variant measured slower).

    The UDF is marked nondeterministic so Catalyst keeps the
    ``country_code IS NOT NULL`` filter above the projection.  A
    deterministic UDF is inlined into the pushed-down filter and
    extracted twice, which sends every row across the Arrow boundary
    twice.

    ``id_col`` names the caller's row key; the single-pass plan never
    joins on it.  Output: input columns + country_code.
    """
    cells_df = _country_cells(images_geo.sparkSession, rings, level)
    pts = with_point_cell(images_geo, level, "lon", "lat", "cell_lvl",
                          keep_idx=True)
    joined = pts.join(
        F.broadcast(cells_df), pts.cell_lvl == cells_df.icell, "inner"
    )
    pip = pip_country_udf(rings).asNondeterministic()
    masked_lon = F.when(F.col("_int_cc").isNull(), F.col("lon"))
    masked_lat = F.when(F.col("_int_cc").isNull(), F.col("lat"))
    out = joined.withColumn(
        "country_code", F.coalesce(F.col("_int_cc"), pip(masked_lon, masked_lat))
    )
    return (
        out.filter(F.col("country_code").isNotNull())
        .select(*images_geo.columns, "country_code")
    )
