"""Vectorized geometry kernels (SURVEY.md §2.3 F3, §2.4 J2/J4, §2.8 X6).

From-scratch numpy replacements for the JTS operations the reference
leans on (``geom.intersection(extent)``, ``polygon.covers(point)``,
buffered-geometry distance).  No shapely/JTS available or wanted —
these run inside Arrow-batched pandas UDFs.

Distance convention (documented for oracle parity, SURVEY.md §5):
the world is a 10°×10° plate-carrée patch; distances are Euclidean in
degree space scaled by METERS_PER_DEG (111_320 m/deg).  Only
``+ - * / sqrt floor min max`` are used so the DuckDB oracle computes
bit-identical doubles.
"""

from __future__ import annotations

import numpy as np

from . import METERS_PER_DEG


def point_segment_dist_sq(
    px: np.ndarray,
    py: np.ndarray,
    ax: np.ndarray,
    ay: np.ndarray,
    bx: np.ndarray,
    by: np.ndarray,
) -> np.ndarray:
    """Squared degree-space distance point->segment, fully vectorized.

    Classic projection-clamp: t = clamp(dot(p-a, b-a)/|b-a|², 0, 1).
    Degenerate (a==b) segments fall back to point distance (t=0).
    SURVEY.md J4/X6 — the exact-distance leg of the kNN join.
    """
    dx = bx - ax
    dy = by - ay
    len2 = dx * dx + dy * dy
    # avoid 0/0: where len2 == 0 use t = 0
    t_raw = np.where(len2 > 0.0, ((px - ax) * dx + (py - ay) * dy) / np.where(len2 > 0.0, len2, 1.0), 0.0)
    t = np.minimum(1.0, np.maximum(0.0, t_raw))
    cx = ax + t * dx
    cy = ay + t * dy
    ex = px - cx
    ey = py - cy
    return ex * ex + ey * ey


def point_segment_dist_m(px, py, ax, ay, bx, by) -> np.ndarray:
    """Meters (plate-carrée) point->segment."""
    return np.sqrt(point_segment_dist_sq(px, py, ax, ay, bx, by)) * METERS_PER_DEG


def point_polyline_dist_m(
    px: float, py: float, coords: np.ndarray
) -> float:
    """Min distance from one point to a polyline given as (n,2) array."""
    if len(coords) == 1:
        dx = px - coords[0, 0]
        dy = py - coords[0, 1]
        return float(np.sqrt(dx * dx + dy * dy) * METERS_PER_DEG)
    d2 = point_segment_dist_sq(
        np.float64(px),
        np.float64(py),
        coords[:-1, 0],
        coords[:-1, 1],
        coords[1:, 0],
        coords[1:, 1],
    )
    return float(np.sqrt(d2.min()) * METERS_PER_DEG)


def points_in_polygon(
    px: np.ndarray, py: np.ndarray, ring: np.ndarray
) -> np.ndarray:
    """Even-odd ray-cast PIP: n points vs one closed ring (m,2).

    SURVEY.md J2 ★ "exact ray-casting point-in-polygon".  Casts the
    ray toward +x; a boundary-inclusive convention is NOT promised
    (fixture borders are jittered off the test points).  Vectorized
    n×m: fine for admin-0-sized rings (tens..hundreds of vertices).
    """
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x0 = ring[:-1, 0][None, :]
    y0 = ring[:-1, 1][None, :]
    x1 = ring[1:, 0][None, :]
    y1 = ring[1:, 1][None, :]
    # edge straddles the horizontal line through py (half-open to avoid
    # double-counting vertices)
    straddle = (y0 <= py) != (y1 <= py)
    # x coordinate where the edge crosses the ray's line
    denom = np.where(y1 - y0 == 0.0, 1.0, y1 - y0)
    xcross = x0 + (py - y0) * (x1 - x0) / denom
    crossings = straddle & (xcross > px)
    return (crossings.sum(axis=1) % 2).astype(bool)


def polyline_length_m(coords: np.ndarray) -> float:
    """Total polyline length in meters (X6 geometry length)."""
    d = np.diff(coords, axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum() * METERS_PER_DEG)


def clip_segments_to_rect(
    ax: np.ndarray,
    ay: np.ndarray,
    bx: np.ndarray,
    by: np.ndarray,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Liang-Barsky segment-vs-rect clip, vectorized over n segments.

    SURVEY.md F3 (geometry clip to tile extent).  Returns
    (keep_mask, cax, cay, cbx, cby) — clipped endpoints for segments
    that intersect the rect.
    """
    dx = bx - ax
    dy = by - ay
    t0 = np.zeros_like(ax)
    t1 = np.ones_like(ax)
    keep = np.ones(ax.shape, dtype=bool)
    for p, q in (
        (-dx, ax - xmin),
        (dx, xmax - ax),
        (-dy, ay - ymin),
        (dy, ymax - ay),
    ):
        para_out = (p == 0.0) & (q < 0.0)
        keep &= ~para_out
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(p != 0.0, q / np.where(p != 0.0, p, 1.0), 0.0)
        ent = p < 0.0
        t0 = np.where(ent, np.maximum(t0, r), t0)
        t1 = np.where(~ent & (p > 0.0), np.minimum(t1, r), t1)
    keep &= t0 <= t1
    cax = ax + t0 * dx
    cay = ay + t0 * dy
    cbx = ax + t1 * dx
    cby = ay + t1 * dy
    return keep, cax, cay, cbx, cby


def segments_intersect_rect(
    ax: np.ndarray,
    ay: np.ndarray,
    bx: np.ndarray,
    by: np.ndarray,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
) -> np.ndarray:
    """EXACT segment-vs-rect intersection via separating axes — division
    free, so a DuckDB oracle evaluating the identical ``* - <=``
    expressions gets bit-identical booleans (the Liang-Barsky accept is
    mathematically equal but divides, which an oracle can't reproduce
    exactly).  Axes: x, y (the bbox-overlap test) and the segment's
    normal (all four rect corners strictly one side ⇒ separated).
    Touching counts as intersecting (closed comparisons) — same as the
    LB accept with its q >= 0 boundary rule.
    """
    bbox = (
        (np.minimum(ax, bx) <= xmax)
        & (np.maximum(ax, bx) >= xmin)
        & (np.minimum(ay, by) <= ymax)
        & (np.maximum(ay, by) >= ymin)
    )
    dx = bx - ax
    dy = by - ay
    s1 = dx * (ymin - ay) - dy * (xmin - ax)
    s2 = dx * (ymin - ay) - dy * (xmax - ax)
    s3 = dx * (ymax - ay) - dy * (xmin - ax)
    s4 = dx * (ymax - ay) - dy * (xmax - ax)
    smin = np.minimum(np.minimum(s1, s2), np.minimum(s3, s4))
    smax = np.maximum(np.maximum(s1, s2), np.maximum(s3, s4))
    return bbox & (smin <= 0.0) & (smax >= 0.0)


def seg_bbox_dist_sq(
    ax: np.ndarray,
    ay: np.ndarray,
    bx: np.ndarray,
    by: np.ndarray,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
) -> np.ndarray:
    """Lower bound on each segment's squared distance to a rectangle:
    the squared distance between the segment's bbox and the rectangle
    (0 when they overlap).  Nothing in the engine calls it: kNN prunes
    by growing k-rings of cells (``ops/spatial.knn_ring_iterative``),
    not by this bound."""
    sxmin = np.minimum(ax, bx)
    sxmax = np.maximum(ax, bx)
    symin = np.minimum(ay, by)
    symax = np.maximum(ay, by)
    dx = np.maximum(0.0, np.maximum(xmin - sxmax, sxmin - xmax))
    dy = np.maximum(0.0, np.maximum(ymin - symax, symin - ymax))
    return dx * dx + dy * dy


# ---------------------------------------------------------------------------
# Reprojection (EPSG:4326 ⇄ EPSG:3857 Web Mercator) — the reference
# reprojects WorldPop rasters between CRSs; the engine's derived
# footprints stay in plate carrée, so this is the standalone transform
# operators a user applies at ingest.  Spherical Mercator, public
# formulas.  Transcendentals (log/tan) are NOT cross-engine bit-exact,
# so these are pytest-verified (round-trip < 1e-9 m) rather than
# DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_R_MERC = 6378137.0  # WGS84 spherical radius used by EPSG:3857


def lonlat_to_webmercator(lon: np.ndarray, lat: np.ndarray):
    """(degrees) → EPSG:3857 meters.  |lat| must be < 85.051129."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = _R_MERC * np.radians(lon)
    y = _R_MERC * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def webmercator_to_lonlat(x: np.ndarray, y: np.ndarray):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / _R_MERC)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / _R_MERC)) - np.pi / 2.0)
    return lon, lat


MERC_X_SQL = f"(CAST({_R_MERC!r} AS DOUBLE) * RADIANS({{lon}}))"
MERC_Y_SQL = (
    f"(CAST({_R_MERC!r} AS DOUBLE) * LN(TAN(PI() / CAST(4 AS DOUBLE) "
    f"+ RADIANS({{lat}}) / CAST(2 AS DOUBLE))))"
)


def with_webmercator(df):
    """JVM-side forward transform as generated SQL (codegen; no UDF):
    (lon, lat) → (merc_x, merc_y)."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "merc_x", F.expr(MERC_X_SQL.format(lon="lon"))
    ).withColumn("merc_y", F.expr(MERC_Y_SQL.format(lat="lat")))


# ---------------------------------------------------------------------------
# Douglas-Peucker line simplification (r05) — the vector generalization
# pass a tile pyramid wants before encoding low zooms (GeoTrellis-world
# analogue: geotrellis.vector simplify; spec per FIXTURES.md §DP).
# ---------------------------------------------------------------------------


def dp_keep_mask(pts: np.ndarray, eps: float) -> np.ndarray:
    """Boolean keep-mask of Douglas-Peucker simplification.

    SPEC (the golden twin in scripts/make_goldens.py reimplements this
    recursively with scalar arithmetic — expression ORDER is part of
    the spec so float64 bits match):

    * endpoints always kept; spans of < 3 points are final
    * deviation metric for interior point p of span (a, b):
      - len2 = dx*dx + dy*dy with dx = bx - ax, dy = by - ay
      - if len2 == 0:  m = (px - ax)^2 + (py - ay)^2, threshold eps^2
      - else:          m = (dx*(ay - py) - (ax - px)*dy)^2  (squared
        cross product), threshold eps^2 * len2
    * split at the FIRST maximum (strict > while scanning left->right,
      i.e. numpy argmax) when m_max > threshold, else drop the interior

    Iterative explicit stack (no recursion limit at OSM's 2000-node way
    bound); vectorized per span.
    """
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    if n < 3:
        return keep
    eps2 = eps * eps
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        ax, ay = float(pts[i, 0]), float(pts[i, 1])
        bx, by = float(pts[j, 0]), float(pts[j, 1])
        dx = bx - ax
        dy = by - ay
        len2 = dx * dx + dy * dy
        seg = pts[i + 1 : j]
        if len2 == 0.0:
            m = (seg[:, 0] - ax) ** 2 + (seg[:, 1] - ay) ** 2
            thr = eps2
        else:
            m = (dx * (ay - seg[:, 1]) - (ax - seg[:, 0]) * dy) ** 2
            thr = eps2 * len2
        k = int(np.argmax(m))  # first maximum, matches scalar strict >
        if float(m[k]) > thr:
            mid = i + 1 + k
            keep[mid] = True
            stack.append((i, mid))
            stack.append((mid, j))
    return keep


def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone-chain convex hull, CCW from the lexicographic
    minimum, STRICT turns (collinear boundary points dropped).

    SPEC shared with the golden twin (scripts/make_goldens.py):
    * input points deduplicated by exact float64 equality, sorted
      lexicographically by (x, y)
    * cross(o, a, b) = (ax-ox)*(by-oy) - (ay-oy)*(bx-ox); pop while
      cross <= 0 (strict left turns survive)
    * result = lower[:-1] + upper[:-1] (each endpoint once)
    <= 2 distinct points return as-is.
    """
    u = np.unique(pts, axis=0)  # lexicographic (x, y) sort + dedup
    if len(u) <= 2:
        return u

    def _half(points):
        h: list[np.ndarray] = []
        for p in points:
            while len(h) >= 2:
                ox, oy = h[-2]
                ax, ay = h[-1]
                if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) <= 0.0:
                    h.pop()
                else:
                    break
            h.append(p)
        return h

    lower = _half(u)
    upper = _half(u[::-1])
    return np.array(lower[:-1] + upper[:-1])


def shoelace_area_mils(hull: np.ndarray) -> int:
    """FLOOR(0.5 * shoelace(CCW hull) * 1e6 + 0.5) — the fold runs in
    hull order (deterministic, shared with the golden twin)."""
    if len(hull) < 3:
        return 0
    s = 0.0
    n = len(hull)
    for i in range(n):
        x0, y0 = float(hull[i][0]), float(hull[i][1])
        x1, y1 = float(hull[(i + 1) % n][0]), float(hull[(i + 1) % n][1])
        s = s + (x0 * y1 - x1 * y0)
    return int(np.floor(0.5 * s * 1000000.0 + 0.5))


def clip_polygon_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """SUTHERLAND-HODGMAN polygon clipping against a CONVEX clip ring
    (r05 wave 14) — the polygon∩polygon vector-overlay primitive next
    to Liang-Barsky's segment clip.  SPEC (shared with the golden
    twin's scalar implementation — float expression ORDER is the
    spec, the hillshade precedent):

    - ``clip`` must wind counter-clockwise; inside(p, a, b) is the
      HALF-OPEN test cross = (b.x-a.x)*(p.y-a.y) - (b.y-a.y)*(p.x-a.x)
      >= 0.0;
    - the intersection of edge (s, e) with clip edge (a, b) is
      t = ((a.x-s.x)*(b.y-a.y) - (a.y-s.y)*(a.x-b.x variant below)) —
      concretely: denom = (e.x-s.x)*(b.y-a.y) - (e.y-s.y)*(b.x-a.x),
      tnum = (a.x-s.x)*(b.y-a.y) - (a.y-s.y)*(b.x-a.x), t = tnum/denom,
      point = (s.x + t*(e.x-s.x), s.y + t*(e.y-s.y));
    - open rings (no repeated last vertex) in, open ring out.

    Engine path: per clip edge, the inside tests / intersection
    parameters / intersection points are VECTORIZED over the subject
    edges (identical per-element op order, so the doubles match the
    scalar twin bit-for-bit — the hillshade rule); only the output
    assembly walks sequentially.  The golden twin in
    scripts/make_goldens.py is the pure-scalar loop.

    Returns the clipped ring (possibly empty)."""
    pts = np.asarray(subject, dtype=np.float64).reshape(-1, 2)
    cl = np.asarray(clip, dtype=np.float64)
    n = len(cl)
    for i in range(n):
        if len(pts) == 0:
            break
        ax, ay = float(cl[i][0]), float(cl[i][1])
        bx, by = float(cl[(i + 1) % n][0]), float(cl[(i + 1) % n][1])
        s = np.roll(pts, 1, axis=0)
        e = pts
        s_in = (bx - ax) * (s[:, 1] - ay) - (by - ay) * (s[:, 0] - ax) >= 0.0
        e_in = (bx - ax) * (e[:, 1] - ay) - (by - ay) * (e[:, 0] - ax) >= 0.0
        denom = (e[:, 0] - s[:, 0]) * (by - ay) - (e[:, 1] - s[:, 1]) * (bx - ax)
        tnum = (ax - s[:, 0]) * (by - ay) - (ay - s[:, 1]) * (bx - ax)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = tnum / denom
            ix = s[:, 0] + t * (e[:, 0] - s[:, 0])
            iy = s[:, 1] + t * (e[:, 1] - s[:, 1])
        crossed = e_in != s_in
        out: list = []
        for j in range(len(e)):
            if crossed[j]:
                out.append((ix[j], iy[j]))
            if e_in[j]:
                out.append((e[j, 0], e[j, 1]))
        pts = np.array(out, dtype=np.float64).reshape(-1, 2)
    return pts


def ring_area_seq(ring: np.ndarray) -> float:
    """Shoelace area with the SEQUENTIAL fold order as SPEC (gotcha 8:
    partial sums reassociate doubles) — both the clip kernel and the
    golden twin fold in ring order."""
    s = 0.0
    r = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    n = len(r)
    for i in range(n):
        x0, y0 = float(r[i][0]), float(r[i][1])
        x1, y1 = float(r[(i + 1) % n][0]), float(r[(i + 1) % n][1])
        s = s + (x0 * y1 - x1 * y0)
    return 0.5 * s


def vw_keep_mask(qpts, a2_min: int):
    """Visvalingam-Whyatt simplification keep-mask over QUANTIZED
    integer points (r05 wave 44) — the area-based generalizer next to
    Douglas-Peucker's distance-based one (dp_keep_mask above).

    SPEC (the golden twin reimplements it with a per-step full rescan
    over python lists; this engine version maintains doubly-linked
    prev/next arrays — same removals, different mechanics):

    * endpoints always kept
    * effective area of interior point i = |cross(prev, i, next)|,
      the TWICE-area of the triangle — exact int64 on quantized coords
      (no float area anywhere)
    * repeatedly remove the interior point with the smallest effective
      area (ties -> smallest index) while that minimum is < a2_min;
      neighbours' areas are recomputed after each removal
    * returns (keep mask, sum of removed twice-areas)
    """
    import numpy as np

    q = np.asarray(qpts, dtype=np.int64)
    n = len(q)
    keep = np.ones(n, dtype=bool)
    if n < 3:
        return keep, 0
    prv = np.arange(n, dtype=np.int64) - 1
    nxt = np.arange(n, dtype=np.int64) + 1

    def area2(i: int) -> int:
        a, b, c = prv[i], i, nxt[i]
        return abs(int(
            (q[b, 0] - q[a, 0]) * (q[c, 1] - q[a, 1])
            - (q[c, 0] - q[a, 0]) * (q[b, 1] - q[a, 1])
        ))

    areas = {i: area2(i) for i in range(1, n - 1)}
    removed_sum = 0
    while areas:
        i = min(areas, key=lambda k: (areas[k], k))
        if areas[i] >= a2_min:
            break
        removed_sum += areas.pop(i)
        keep[i] = False
        p, x = int(prv[i]), int(nxt[i])
        nxt[p], prv[x] = x, p
        for j in (p, x):
            if j in areas:
                areas[j] = area2(j)
    return keep, removed_sum
