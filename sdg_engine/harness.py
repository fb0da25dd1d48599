"""Driver-harness helpers: derived spatial inputs over the testdata
tables + the oracle-parity conventions (SURVEY.md §5.1).

The driver's DuckDB oracle can only see the pre-registered views
(region … embeddings), so the spatial operators are verified over
geometry DERIVED from those tables with exact integer arithmetic:

* points   — one per ``orders`` row, lon/lat from o_orderkey
* segments — one per ``supplier`` row ("roads"), endpoints from
  s_suppkey
* country rings — four jittered quadrant polygons whose vertices are
  generated here once and embedded as literals in BOTH the Spark plan
  and the oracle SQL (repr round-trip ⇒ identical doubles)

Every fragment uses only IEEE-exact ops (sqlgen.py policy), so Spark
and DuckDB produce bit-identical values and the driver's value hash
matches without tolerance.
"""

from __future__ import annotations

import numpy as np

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# --- derived points (one per order), lon/lat in [0, 10) -------------------
PX = "(CAST((o_orderkey * 2654435761) % 1000000 AS DOUBLE) / CAST(100000 AS DOUBLE))"
PY = "(CAST((o_orderkey * 2246822519) % 1000000 AS DOUBLE) / CAST(100000 AS DOUBLE))"

# --- derived road segments (one per supplier) ------------------------------
AX = "(CAST((s_suppkey * 131) % 1000 AS DOUBLE) / CAST(100 AS DOUBLE))"
AY = "(CAST((s_suppkey * 211) % 1000 AS DOUBLE) / CAST(100 AS DOUBLE))"
BX = f"({AX} + CAST((s_suppkey * 37) % 41 - 20 AS DOUBLE) / CAST(50 AS DOUBLE))"
BY = f"({AY} + CAST((s_suppkey * 53) % 41 - 20 AS DOUBLE) / CAST(50 AS DOUBLE))"

KNN_CUTOFF_M = 60000.0  # generous cutoff so results are non-vacuous at sf0.01

# --- derived OSM nodes (4 per supplier way; i = position 0..3) --------------
NODE_X = "(CAST((s_suppkey * 131 + i * 17) % 1000 AS DOUBLE) / CAST(100 AS DOUBLE))"
NODE_Y = "(CAST((s_suppkey * 211 + i * 23) % 1000 AS DOUBLE) / CAST(100 AS DOUBLE))"


def points_df(spark, sf_dir: str):
    """Derived point set: (point_id, lon, lat) — pure codegen arithmetic."""
    from pyspark.sql import functions as F

    from .tablecache import read_table

    orders = read_table(spark, f"{sf_dir}/orders.parquet")
    # the local fixture is a single parquet row-group (unsplittable scan)
    # — redistribute so downstream stages parallelize; a production
    # multi-file Iceberg table gets its partitions from the scan instead
    return orders.select(
        F.col("o_orderkey").alias("point_id"),
        F.expr(PX).alias("lon"),
        F.expr(PY).alias("lat"),
    ).repartition(spark.sparkContext.defaultParallelism)


def points_df_scaled(spark, sf_dir: str, mult: int):
    """Derived points multiplied ``mult``× (bench scaling runs).

    Same pipeline and arithmetic as points_df but over a composite key,
    so the scaling measurement exercises real compute volume instead of
    Spark fixed overheads (north rule's N→4N criterion, BASELINE.md).
    """
    from pyspark.sql import functions as F

    from .tablecache import read_table

    orders = read_table(spark, f"{sf_dir}/orders.parquet")
    return (
        orders.select("o_orderkey")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("m", F.explode(F.expr(f"sequence(0, {mult - 1})")))
        .select(
            F.expr("o_orderkey * 97 + m * 31").alias("point_id"),
            F.expr(PX.replace("o_orderkey", "(o_orderkey * 97 + m * 31)")).alias("lon"),
            F.expr(PY.replace("o_orderkey", "(o_orderkey * 97 + m * 31)")).alias("lat"),
        )
    )


def segments_df(spark, sf_dir: str):
    """Derived road segments: (road_id, seg_id, ax, ay, bx, by)."""
    from pyspark.sql import functions as F

    from .tablecache import read_table

    supplier = read_table(spark, f"{sf_dir}/supplier.parquet")
    return supplier.select(
        F.col("s_suppkey").alias("road_id"),
        F.lit(0).alias("seg_id"),
        F.expr(AX).alias("ax"),
        F.expr(AY).alias("ay"),
        F.expr(BX).alias("bx"),
        F.expr(BY).alias("by"),
    )


# --- harness country rings (arithmetic jitter, literal-embeddable) --------


def _jitter(i: int, mult: int) -> float:
    return ((i * mult) % 100 - 50) / 250.0


def harness_rings() -> dict[str, np.ndarray]:
    """Four jittered quadrant polygons covering the world (CCW, closed).

    Vertices are plain Python floats reproduced exactly in SQL via repr
    literals.  Borders are 8-segment polylines so the cell-candidate
    stage alone cannot decide membership — exact ray-cast PIP runs on
    boundary cells (J2's two-stage contract).
    """
    n_seg = 8
    ts = [i * 10.0 / n_seg for i in range(n_seg + 1)]
    vx = [5.0 + _jitter(i, 7919) for i in range(n_seg + 1)]
    hy = [5.0 + _jitter(i, 104729) for i in range(n_seg + 1)]
    vx[0] = vx[-1] = 5.0
    hy[0] = hy[-1] = 5.0
    vx[n_seg // 2] = 5.0
    hy[n_seg // 2] = 5.0
    mid = n_seg // 2
    vert = np.array(list(zip(vx, ts)))  # x≈5 border, bottom→top
    horz = np.array(list(zip(ts, hy)))  # y≈5 border, left→right
    vert_lo, vert_hi = vert[: mid + 1], vert[mid:]
    horz_lo, horz_hi = horz[: mid + 1], horz[mid:]

    def ring(parts):
        pts = np.concatenate(parts)
        keep = np.ones(len(pts), dtype=bool)
        keep[1:] = np.any(np.diff(pts, axis=0) != 0, axis=1)
        pts = pts[keep]
        if not np.array_equal(pts[0], pts[-1]):
            pts = np.concatenate([pts, pts[:1]])
        return pts

    return {
        "AAA": ring([np.array([[0.0, 0.0], [5.0, 0.0]]), vert_lo, horz_lo[::-1],
                     np.array([[0.0, 5.0], [0.0, 0.0]])]),
        "BBB": ring([np.array([[5.0, 0.0], [10.0, 0.0], [10.0, 5.0]]),
                     horz_hi[::-1], vert_lo[::-1]]),
        "CCC": ring([np.array([[0.0, 5.0]]), horz_lo, vert_hi,
                     np.array([[5.0, 10.0], [0.0, 10.0], [0.0, 5.0]])]),
        "DDD": ring([vert_hi[::-1], horz_hi,
                     np.array([[10.0, 5.0], [10.0, 10.0], [5.0, 10.0]])]),
    }


def ring_edge_rows() -> list[tuple[str, float, float, float, float]]:
    rows = []
    for cc, ring in harness_rings().items():
        for i in range(len(ring) - 1):
            rows.append((cc, float(ring[i, 0]), float(ring[i, 1]),
                         float(ring[i + 1, 0]), float(ring[i + 1, 1])))
    return rows


def edges_values_sql() -> str:
    """DuckDB VALUES literal of all country border edges."""
    rows = ", ".join(
        f"('{cc}', {x0!r}, {y0!r}, {x1!r}, {y1!r})"
        for cc, x0, y0, x1, y1 in ring_edge_rows()
    )
    return f"(VALUES {rows}) AS edges(country_code, x0, y0, x1, y1)"


def edges_values_sql_indexed() -> str:
    """Same edges with a per-country ring-order index — lets area/length
    folds run in a FIXED order on both engines (running window)."""
    idx: dict[str, int] = {}
    parts = []
    for cc, x0, y0, x1, y1 in ring_edge_rows():
        i = idx.get(cc, 0)
        idx[cc] = i + 1
        parts.append(f"('{cc}', {i}, {x0!r}, {y0!r}, {x1!r}, {y1!r})")
    rows = ", ".join(parts)
    return f"(VALUES {rows}) AS edges(country_code, i, x0, y0, x1, y1)"
