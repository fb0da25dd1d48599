"""M0 tests for geometry kernels vs brute-force oracles (SURVEY.md §5.3)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sdg_engine import METERS_PER_DEG
from sdg_engine import geom as G

coord = st.floats(min_value=-5.0, max_value=15.0, allow_nan=False, allow_infinity=False)


def _brute_pip(px, py, ring):
    """Slow winding-number oracle (angle sum)."""
    angles = 0.0
    for i in range(len(ring) - 1):
        ax, ay = ring[i] - np.array([px, py])
        bx, by = ring[i + 1] - np.array([px, py])
        cross = ax * by - ay * bx
        dot = ax * bx + ay * by
        angles += np.arctan2(cross, dot)
    return abs(angles) > np.pi


def _random_simple_polygon(rng, n):
    # star-shaped polygon around a center → always simple
    cx, cy = rng.uniform(2, 8, 2)
    angles = np.sort(rng.uniform(0, 2 * np.pi, n))
    radii = rng.uniform(0.5, 4.0, n)
    pts = np.stack([cx + radii * np.cos(angles), cy + radii * np.sin(angles)], axis=1)
    return np.concatenate([pts, pts[:1]])


@settings(max_examples=60)
@given(st.integers(min_value=0, max_value=10_000))
def test_pip_matches_winding_oracle(seed):
    rng = np.random.default_rng(seed)
    ring = _random_simple_polygon(rng, int(rng.integers(3, 12)))
    px = rng.uniform(0, 10, 20)
    py = rng.uniform(0, 10, 20)
    got = G.points_in_polygon(px, py, ring)
    want = np.array([_brute_pip(x, y, ring) for x, y in zip(px, py)])
    assert np.array_equal(got, want)


def test_pip_square():
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    inside = G.points_in_polygon(np.array([2.0, 5.0]), np.array([2.0, 2.0]), ring)
    assert inside.tolist() == [True, False]


@settings(max_examples=80)
@given(coord, coord, coord, coord, coord, coord)
def test_point_segment_dist_vs_sampling(px, py, ax, ay, bx, by):
    d = float(
        G.point_segment_dist_m(
            np.array([px]), np.array([py]), np.array([ax]),
            np.array([ay]), np.array([bx]), np.array([by]),
        )[0]
    )
    t = np.linspace(0, 1, 257)
    sx = ax + t * (bx - ax)
    sy = ay + t * (by - ay)
    sampled = np.sqrt((px - sx) ** 2 + (py - sy) ** 2).min() * METERS_PER_DEG
    assert d <= sampled + 1e-6
    # sampling is a fine upper bound: true min within seg_len/256 of a sample
    seg_len = np.hypot(bx - ax, by - ay) * METERS_PER_DEG
    assert sampled - d <= seg_len / 256 + 1e-6


def test_point_segment_degenerate():
    d = G.point_segment_dist_m(
        np.array([3.0]), np.array([4.0]), np.array([0.0]),
        np.array([0.0]), np.array([0.0]), np.array([0.0]),
    )
    assert abs(d[0] - 5.0 * METERS_PER_DEG) < 1e-6


def test_clip_segments():
    keep, cax, cay, cbx, cby = G.clip_segments_to_rect(
        np.array([-1.0, 5.0, -2.0]),
        np.array([1.0, 5.0, -2.0]),
        np.array([3.0, 6.0, -1.0]),
        np.array([1.0, 5.0, -1.0]),
        0.0, 0.0, 2.0, 2.0,
    )
    assert keep.tolist() == [True, False, False]
    assert cax[0] == 0.0 and cbx[0] == 2.0 and cay[0] == 1.0


def test_polyline_length():
    coords = np.array([[0.0, 0.0], [3.0, 4.0]])
    assert abs(G.polyline_length_m(coords) - 5 * METERS_PER_DEG) < 1e-9


def test_seg_bbox_dist_zero_when_overlap():
    d2 = G.seg_bbox_dist_sq(
        np.array([1.0]), np.array([1.0]), np.array([2.0]), np.array([2.0]),
        0.0, 0.0, 3.0, 3.0,
    )
    assert d2[0] == 0.0


def test_webmercator_roundtrip_and_spark_parity(spark):
    """Forward/inverse round-trip < 1e-9 deg; the Spark JVM expression
    matches numpy to float64 precision on the fixture points."""
    import numpy as np

    from sdg_engine.geom import (
        lonlat_to_webmercator,
        webmercator_to_lonlat,
        with_webmercator,
    )

    rng = np.random.default_rng(3)
    lon = rng.uniform(-179, 179, 2000)
    lat = rng.uniform(-84, 84, 2000)
    x, y = lonlat_to_webmercator(lon, lat)
    lon2, lat2 = webmercator_to_lonlat(x, y)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9
    # known anchor: (0,0) -> (0,0); 180° -> ~20037508.34 m
    ax, _ = lonlat_to_webmercator(np.array([180.0]), np.array([0.0]))
    assert abs(ax[0] - 20037508.342789244) < 1e-6
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got = with_webmercator(df).orderBy("lon").toPandas()
    order = np.argsort(lon)
    assert np.abs(got["merc_x"].to_numpy() - x[order]).max() < 1e-6
    assert np.abs(got["merc_y"].to_numpy() - y[order]).max() < 1e-6


def _snapped_star(rng, cx, cy, n, step):
    """Closed star-shaped ring with vertices snapped to a ``step`` grid —
    snapping makes horizontal/vertical edges and repeated vertices."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
    rad = rng.uniform(0.5, 3.0, n)
    pts = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    pts = np.round(pts / step) * step
    return np.vstack([pts, pts[:1]])


def test_pip_country_udf_matches_duckdb_crossing_rule(spark):
    """Brute-force twin for assign_countries' stage 2: the engine's
    Arrow ray-cast (pip_country_udf) against the DuckDB oracle's own
    crossing-count SQL (oracles.spatial._PIP_CC) on seeded random and
    degenerate rings — points on vertices, on horizontal and vertical
    edges and on collinear vertex runs.  A point inside several rings
    takes the FIRST ring in dict order; NaN-masked rows stay NULL.
    (``spark`` only because building a pandas UDF needs a context.)"""
    import duckdb
    import pandas as pd

    from sdg_engine.harness import edges_values_sql
    from sdg_engine.ops.spatial import pip_country_udf
    from sdg_engine.oracles.spatial import _PIP_CC

    rng = np.random.default_rng(20261017)
    rings = {
        # axis-aligned, every side a collinear run of unit edges
        "AA": np.array([(1, 1), (2, 1), (3, 1), (4, 1), (4, 2), (4, 3), (3, 3),
                        (2, 3), (1, 3), (1, 2), (1, 1)], dtype=np.float64),
        # orthogonal L overlapping AA (first-match decides the overlap)
        "BB": np.array([(2, 2), (6, 2), (6, 5), (4, 5), (4, 4), (2, 4), (2, 2)],
                       dtype=np.float64),
        # collinear run on a sloped edge
        "CC": np.array([(5, 0.5), (6, 1), (7, 1.5), (8, 2), (8, 0.5), (5, 0.5)],
                       dtype=np.float64),
    }
    for k in range(4):
        c = rng.uniform(2.0, 7.0, 2)
        rings[f"R{k}"] = _snapped_star(rng, c[0], c[1], int(rng.integers(5, 14)), 0.25)
    c = rng.uniform(2.0, 7.0, 2)
    rings["F0"] = _snapped_star(rng, c[0], c[1], 9, 1e-9)  # unsnapped floats

    verts = np.vstack([r[:-1] for r in rings.values()])
    mids = np.vstack([(r[:-1] + r[1:]) / 2.0 for r in rings.values()])
    grid = rng.integers(0, 80, (400, 2)) * 0.125  # exact edge/vertex hits
    free = rng.uniform(0.0, 10.0, (400, 2))
    xy = np.vstack([verts, mids, grid, free])
    lon, lat = xy[:, 0].copy(), xy[:, 1].copy()
    masked = rng.random(len(xy)) < 0.1
    lon[masked] = np.nan  # rows a caller already decided JVM-side

    got = pip_country_udf(rings).func(pd.Series(lon), pd.Series(lat))

    edges = pd.DataFrame(
        [(cc, *r[i], *r[i + 1]) for cc, r in rings.items() for i in range(len(r) - 1)],
        columns=["country_code", "x0", "y0", "x1", "y1"],
    )
    pts = pd.DataFrame({"point_id": np.arange(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]})
    src = edges_values_sql().replace("AS edges", "AS e")
    assert src in _PIP_CC
    con = duckdb.connect()
    con.register("edges_in", edges)
    con.register("pts", pts)
    hits = con.execute(
        "WITH " + _PIP_CC.strip().replace(src, "edges_in AS e")
        + " SELECT point_id, country_code FROM cc"
    ).fetchall()
    inside: dict[int, set] = {}
    for pid, cc in hits:
        inside.setdefault(int(pid), set()).add(cc)
    want = [
        None if masked[i]
        else next((cc for cc in rings if cc in inside.get(i, ())), None)
        for i in range(len(xy))
    ]
    assert list(got) == want
    # the cases the twin exists for actually occur
    assert sum(len(v) > 1 for v in inside.values()) > 0  # multi-ring points
    assert sum(w is not None for w in want) > 100
    horiz = [(cc, i) for cc, r in rings.items() for i in range(len(r) - 1)
             if r[i, 1] == r[i + 1, 1] and r[i, 0] != r[i + 1, 0]]
    assert len(horiz) > 4
