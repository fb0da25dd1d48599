"""M0 property + unit tests for the quadtree cell index (SURVEY.md §5.3)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sdg_engine import WORLD_MIN, WORLD_SIZE
from sdg_engine import cells as C


@given(
    st.integers(min_value=0, max_value=C.MAX_LEVEL),
    st.integers(min_value=0, max_value=2**26 - 1),
    st.integers(min_value=0, max_value=2**26 - 1),
)
def test_pack_unpack_roundtrip(level, ix, iy):
    n = 1 << level
    ix %= n
    iy %= n
    cid = C.pack(level, np.array([ix]), np.array([iy]))
    lvl2, ix2, iy2 = C.unpack(cid)
    assert (lvl2[0], ix2[0], iy2[0]) == (level, ix, iy)
    assert cid[0] >= 0  # stays in positive int64 domain


def test_morton_ordering_locality():
    # children of a cell are contiguous in code space
    cid = C.pack(3, np.array([2]), np.array([5]))
    ch = C.children(cid)[0]
    codes = ch & ((np.int64(1) << 54) - 1)
    assert list(codes) == list(range(int(codes[0]), int(codes[0]) + 4))
    for c in ch:
        assert C.parent(np.array([c]))[0] == cid[0]


@given(st.floats(0.0, 9.999999), st.floats(0.0, 9.999999),
       st.integers(min_value=1, max_value=20))
def test_point_cell_contains_point(x, y, level):
    cid = C.point_cell(np.array([x]), np.array([y]), level)
    xmin, ymin, xmax, ymax = C.cell_bounds(cid)
    assert xmin[0] <= x < xmax[0] + 1e-12
    assert ymin[0] <= y < ymax[0] + 1e-12


def test_cover_bbox_exact():
    # bbox spanning exactly 2x3 cells at level 2 (cell size 2.5)
    row, cid = C.cover_bbox(
        np.array([1.0]), np.array([1.0]), np.array([3.0]), np.array([6.0]), 2
    )
    assert (row == 0).all()
    lvl, ix, iy = C.unpack(cid)
    assert sorted(zip(ix.tolist(), iy.tolist())) == [
        (0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)
    ]


def test_cover_bbox_multi_row_offsets():
    row, cid = C.cover_bbox(
        np.array([0.1, 5.1]),
        np.array([0.1, 5.1]),
        np.array([0.2, 9.9]),
        np.array([0.2, 9.9]),
        2,
    )
    assert (np.bincount(row) == [1, 4]).all()


@settings(max_examples=50)
@given(
    st.lists(
        st.tuples(st.floats(0.0, 9.9), st.floats(0.0, 9.9)),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=2, max_value=12),
)
def test_compact_uncompact_roundtrip(points, level):
    xs = np.array([p[0] for p in points])
    ys = np.array([p[1] for p in points])
    base = np.unique(C.point_cell(xs, ys, level))
    comp = C.compact(base)
    back = np.sort(C.uncompact(comp, level))
    assert np.array_equal(back, base)
    assert len(comp) <= len(base)


def test_compact_merges_full_quartet():
    # all 4 children of one parent → compacts to the parent
    par = C.pack(4, np.array([3]), np.array([9]))
    ch = C.children(par)[0]
    comp = C.compact(ch)
    assert np.array_equal(comp, par)


def test_range_at_level_covers_descendants():
    par = C.pack(3, np.array([1]), np.array([2]))
    lo, hi = C.range_at_level(par, 6)
    desc = C.uncompact(par, 6)
    assert desc.min() == lo[0] and desc.max() == hi[0] - 1
    assert len(desc) == 4 ** 3


@given(
    st.integers(min_value=1, max_value=14),
    st.floats(0.0, 9.99),
    st.floats(0.0, 9.99),
    st.integers(min_value=0, max_value=3),
)
def test_kring_symmetry(level, x, y, k):
    a = C.point_cell(np.array([x]), np.array([y]), level)
    _, ring_a = C.kring(a, k)
    for b in ring_a:
        _, ring_b = C.kring(np.array([b]), k)
        assert a[0] in ring_b  # b ∈ kring(a,k) ⇔ a ∈ kring(b,k)


def test_kring_size_interior():
    a = C.point_cell(np.array([5.0]), np.array([5.0]), 10)
    row, cids = C.kring(a, 2)
    assert len(cids) == 25
    assert len(np.unique(cids)) == 25


def test_ring_is_hollow():
    a = C.point_cell(np.array([5.0]), np.array([5.0]), 10)
    _, full = C.kring(a, 2)
    _, inner = C.kring(a, 1)
    _, shell = C.ring(a, 2)
    assert sorted(shell) == sorted(set(full) - set(inner))


def test_kring_clips_world_edge():
    a = C.point_cell(np.array([0.0]), np.array([0.0]), 10)  # corner cell
    _, cids = C.kring(a, 1)
    assert len(cids) == 4  # 2x2 corner neighborhood


def test_hex_cell_nearest_center():
    """Every point's assigned hex center is the nearest hex center
    (within float ties) and within the circumradius."""
    import numpy as np

    from sdg_engine import cells as C

    rng = np.random.default_rng(5)
    size = 0.05
    x = rng.uniform(0, 10, 5000)
    y = rng.uniform(0, 10, 5000)
    h = C.hex_cell(x, y, size)
    cx, cy = C.hex_center(h, size)
    d_own = np.hypot(x - cx, y - cy)
    assert (d_own <= size + 1e-9).all()
    # nearest among the 7-cell neighborhood (own + 6 axial neighbors)
    q = h // 16384 - 8192
    r = h % 16384 - 8192
    best = d_own.copy()
    for dq, dr in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)):
        nid = ((q + dq) + 8192) * 16384 + ((r + dr) + 8192)
        nx, ny = C.hex_center(nid, size)
        best = np.minimum(best, np.hypot(x - nx, y - ny))
    assert (d_own <= best + 1e-9).all()


def test_compact_overlapping_mixed_level_input():
    """r03 review: a parent present ALONGSIDE its own children must not
    be duplicated (and must not inflate the next level's sibling count
    into compacting an incomplete quartet)."""
    import numpy as np

    from sdg_engine import cells as C

    p = C.pack(2, np.array([1]), np.array([1]))  # one level-2 cell
    kids = C.children(p).ravel()
    out = C.compact(np.concatenate([p, kids]))
    assert out.tolist() == sorted(p.tolist())  # just the parent, once

    # parent + children of sibling A, plus siblings B, C (sibling D
    # absent): the cover must NOT merge up to the grandparent
    g = C.pack(1, np.array([0]), np.array([0]))
    a, b, c, _d = C.children(g).ravel()
    a_kids = C.children(np.array([a])).ravel()
    got = C.compact(np.concatenate([[a], a_kids, [b], [c]]))
    assert got.tolist() == sorted([int(a), int(b), int(c)])


def test_pyramid_rollup_conserves_counts(spark):
    """C1b (r04): every pyramid level's per-cell counts must sum to the
    point total, and each level's cell ids must carry that level in the
    packed high bits."""
    from pyspark.sql import functions as F

    from sdg_engine.queries import QUERIES

    df = QUERIES["spatial_pyramid"](spark, "/root/testdata/sf0.001")
    per_level = {
        r["level"]: r["total"]
        for r in df.groupBy("level").agg(F.sum("n_points").alias("total")).collect()
    }
    assert set(per_level) == {9, 10, 11, 12}
    assert len(set(per_level.values())) == 1  # same total at every level
    bad = df.filter(F.expr("(cell >> 54) != level")).count()
    assert bad == 0


def _scalar_edge_hits_rect(ax, ay, bx, by, x0, y0, x1, y1):
    """Textbook Liang-Barsky for one segment vs one closed rect, with
    early rejection."""
    dx, dy = bx - ax, by - ay
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
        if p == 0.0:
            if q < 0.0:
                return False  # parallel to this side and outside it
            continue
        r = q / p
        if p < 0.0:
            if r > t1:
                return False
            t0 = max(t0, r)
        else:
            if r < t0:
                return False
            t1 = min(t1, r)
    return t0 <= t1


def _scalar_point_in_ring(px, py, ring):
    """Even-odd +x ray-cast with the half-open vertex rule, one edge at
    a time."""
    inside = False
    for e in range(len(ring) - 1):
        x0, y0 = float(ring[e, 0]), float(ring[e, 1])
        x1, y1 = float(ring[e + 1, 0]), float(ring[e + 1, 1])
        if (y0 <= py) != (y1 <= py):
            if x0 + (py - y0) * (x1 - x0) / (y1 - y0) > px:
                inside = not inside
    return inside


def _scalar_ring_cell_test(cids, level, ring):
    size = WORLD_SIZE / (1 << level)
    _lvl, ix, iy = C.unpack(cids)
    crosses, ctr_in = [], []
    for i in range(len(cids)):
        x0 = WORLD_MIN + float(ix[i]) * size
        y0 = WORLD_MIN + float(iy[i]) * size
        x1, y1 = x0 + size, y0 + size
        hit = any(
            _scalar_edge_hits_rect(float(ring[e, 0]), float(ring[e, 1]),
                                   float(ring[e + 1, 0]), float(ring[e + 1, 1]),
                                   x0, y0, x1, y1)
            for e in range(len(ring) - 1)
        )
        crosses.append(hit)
        if not hit:
            ctr_in.append(_scalar_point_in_ring(x0 + size / 2, y0 + size / 2, ring))
    return np.array(crosses, dtype=bool), np.array(ctr_in, dtype=bool)


def _cells_around(ring, level, pad=2):
    """Every level-``level`` cell of the ring's bbox grown by ``pad``
    cells (clipped to the world)."""
    size = WORLD_SIZE / (1 << level)
    n = 1 << level
    lo = np.floor((ring.min(axis=0) - WORLD_MIN) / size).astype(int) - pad
    hi = np.floor((ring.max(axis=0) - WORLD_MIN) / size).astype(int) + pad
    lo, hi = np.clip(lo, 0, n - 1), np.clip(hi, 0, n - 1)
    ix, iy = np.meshgrid(np.arange(lo[0], hi[0] + 1), np.arange(lo[1], hi[1] + 1))
    return C.pack(level, ix.ravel(), iy.ravel())


def test_ring_cell_test_matches_scalar_twin():
    """ops.spatial._ring_cell_test (edge-looped, cell-vectorized) agrees
    EXACTLY with a scalar per-cell, per-edge Liang-Barsky and ray-cast
    on seeded random rings and cells, and on degenerate rings: edges on
    cell sides, vertices on cell corners, a diagonal through corners,
    axis-parallel edges off the grid and a zero-length edge."""
    from sdg_engine.ops.spatial import _ring_cell_test

    rng = np.random.default_rng(20260417)
    g = WORLD_SIZE / (1 << 6)  # level-6 grid step
    cases = [
        # rectangle on grid lines: every edge lies on cell sides
        (6, np.array([[10, 10], [14, 10], [14, 13], [10, 13], [10, 10]]) * g),
        # triangle with its vertices on cell corners; the hypotenuse
        # runs exactly through the corners of the diagonal cells
        (6, np.array([[20, 20], [26, 20], [20, 26], [20, 20]]) * g),
        # axis-parallel edges off the grid, and a repeated vertex
        (6, np.array([[3.01, 3.02], [4.33, 3.02], [4.33, 3.02],
                      [4.33, 4.71], [3.01, 4.71], [3.01, 3.02]])),
        # the same grid rectangle seen from a finer level
        (8, np.array([[10, 10], [14, 10], [14, 13], [10, 13], [10, 10]]) * g),
    ]
    for k in range(12):
        level = int(rng.integers(4, 10))
        n = int(rng.integers(3, 11))
        ctr = rng.uniform(2.0, 8.0, 2)
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
        if k % 3 == 2:
            rng.shuffle(ang)  # self-intersecting: even-odd still applies
        rad = rng.uniform(0.2, 1.5, n)
        pts = ctr + np.c_[rad * np.cos(ang), rad * np.sin(ang)]
        if k % 2:
            step = WORLD_SIZE / (1 << level)
            pts = np.round(pts / step) * step  # vertices on cell corners
        cases.append((level, np.vstack([pts, pts[:1]])))

    n_cross = n_in = n_out = 0
    for level, ring in cases:
        ring = np.asarray(ring, dtype=np.float64)
        cids = _cells_around(ring, level)
        got_x, got_in = _ring_cell_test(cids, level, ring)
        want_x, want_in = _scalar_ring_cell_test(cids, level, ring)
        assert got_x.tolist() == want_x.tolist(), (level, ring.tolist())
        assert got_in.tolist() == want_in.tolist(), (level, ring.tolist())
        n_cross += int(want_x.sum())
        n_in += int(want_in.sum())
        n_out += int((~want_in).sum())
    assert n_cross and n_in and n_out  # every outcome is exercised


def _brute_ring_cover(segs: np.ndarray, level: int) -> dict:
    """Reference for ops.spatial.ring_cover (segment i is road i // 2,
    seg i % 2): plain loops over the grid indices ``[ix0-1, ix1+1] ×
    [iy0-1, iy1+1]`` of each segment's bbox, clipped to the world; the
    value is the Chebyshev distance from the cell to the bbox's index
    rectangle."""
    import math

    n = 1 << level

    def index(v: float) -> int:
        return min(max(math.floor((v - WORLD_MIN) / WORLD_SIZE * float(n)), 0), n - 1)

    want = {}
    for i, (ax, ay, bx, by) in enumerate(segs.tolist()):
        ix0, ix1 = index(min(ax, bx)), index(max(ax, bx))
        iy0, iy1 = index(min(ay, by)), index(max(ay, by))
        for gx in range(ix0 - 1, ix1 + 2):
            for gy in range(iy0 - 1, iy1 + 2):
                if not (0 <= gx < n and 0 <= gy < n):
                    continue
                k = max(ix0 - gx, gx - ix1, iy0 - gy, gy - iy1, 0)
                want[(int(C.pack(level, gx, gy)), i // 2, i % 2)] = k
    return want


def test_ring_cover_matches_brute_force(spark):
    """ops.spatial.ring_cover (bbox cover, then kring(1)) against the
    brute-force neighbourhood: the distinct (cell, road, seg) set and
    the min k_ring per triple agree, on seeded random segments and on
    zero-length, axis-parallel, world-edge and many-cell segments."""
    from sdg_engine.ops.spatial import ring_cover

    level = 5
    step = WORLD_SIZE / (1 << level)
    rng = np.random.default_rng(20261017)
    a = rng.uniform(WORLD_MIN, WORLD_MIN + WORLD_SIZE, (60, 2))
    b = a + rng.uniform(-2.5 * step, 2.5 * step, (60, 2))
    hi = WORLD_MIN + WORLD_SIZE
    special = [
        (4.2, 6.1, 4.2, 6.1),  # zero-length
        (7 * step, 9 * step, 7 * step, 9 * step),  # zero-length on a corner
        (1.3, 2.0, 4.9, 2.0),  # horizontal
        (3.0, 0.4, 3.0, 8.8),  # vertical
        (5 * step, 1.0, 5 * step, 2.0),  # vertical on a grid line
        (WORLD_MIN, WORLD_MIN, WORLD_MIN, WORLD_MIN),  # world corner
        (hi, hi, hi - 0.5 * step, hi),  # top edge, clamped index
        (WORLD_MIN - 0.4, 5.0, WORLD_MIN + 0.2, 5.3),  # leaves the world
        (hi - 0.1, WORLD_MIN, hi + 0.3, WORLD_MIN + 0.1),  # right-bottom
        (0.1, 0.2, 9.7, 9.9),  # many cells: nearly the whole world
        (9.9, 0.05, 0.05, 9.9),  # many cells, reversed direction
    ]
    segs = np.vstack([np.c_[a, b], np.array(special)])

    df = spark.createDataFrame(
        [(i // 2, i % 2, *map(float, s)) for i, s in enumerate(segs)],
        "road_id bigint, seg_id int, ax double, ay double, bx double, by double",
    )
    got = ring_cover(df, level).toPandas()
    want = _brute_ring_cover(segs, level)

    got_min = got.groupby(["cell_id", "road_id", "seg_id"])["k_ring"].min()
    assert set(got_min.index) == set(want)
    assert {k: int(v) for k, v in got_min.items()} == want
    # endpoints ride along unchanged
    ends = got[["road_id", "seg_id", "ax", "ay", "bx", "by"]].drop_duplicates()
    assert len(ends) == len(segs)
    ends = ends.sort_values(["road_id", "seg_id"])[["ax", "ay", "bx", "by"]]
    assert np.array_equal(ends.to_numpy(), segs)
    # duplicates exist (a ring cell reached from several covering
    # cells): ring_cover leaves the reduction to its callers
    assert len(got) > len(got_min)


def _brute_knn(pts: np.ndarray, segs: np.ndarray, ids: np.ndarray,
               cutoff: float, level: int) -> dict:
    """Reference for ops.spatial.knn_nearest_road: every point against
    every segment, the same plate-carrée distance as
    ``sqlgen.point_seg_dist_steps`` (same operation order, so equal
    geometry gives bit-equal distances), then the first of the
    (dist, road_id, seg_id) order among segments within ``cutoff``.
    k_ring is the Chebyshev distance from the point's cell to the
    segment's bbox cells.  Point i -> (road_id, dist_m, k_ring)."""
    px, py = pts[:, :1], pts[:, 1:]
    ax, ay, bx, by = (segs[:, j][None, :] for j in range(4))
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    num = (px - ax) * dx + (py - ay) * dy
    t = np.divide(num, len2, out=np.zeros_like(num), where=len2 > 0)
    t = np.minimum(1.0, np.maximum(0.0, t))
    ex = px - (ax + t * dx)
    ey = py - (ay + t * dy)
    dist = np.sqrt(ex * ex + ey * ey) * 111320.0
    pix, piy = C.xy_to_index(pts[:, 0], pts[:, 1], level)
    ix0, iy0 = C.xy_to_index(np.minimum(segs[:, 0], segs[:, 2]),
                             np.minimum(segs[:, 1], segs[:, 3]), level)
    ix1, iy1 = C.xy_to_index(np.maximum(segs[:, 0], segs[:, 2]),
                             np.maximum(segs[:, 1], segs[:, 3]), level)
    want = {}
    for i in range(len(pts)):
        cand = np.flatnonzero(dist[i] <= cutoff)
        if len(cand) == 0:
            continue
        j = cand[np.lexsort((ids[cand, 1], ids[cand, 0], dist[i, cand]))[0]]
        k = max(ix0[j] - pix[i], pix[i] - ix1[j],
                iy0[j] - piy[i], piy[i] - iy1[j], 0)
        want[i] = (int(ids[j, 0]), float(dist[i, j]), int(k))
    return want


def test_knn_nearest_road_matches_brute_force(spark):
    """ops.spatial.knn_nearest_road (kring(1) road cover, cell join,
    min-struct argmin) against a numpy argmin over ALL segments, on
    seeded random points and segments plus: zero-length segments,
    points on cell corners and edges, a point exactly at the cutoff
    (kept) and one ulp past it (dropped), equal-distance ties broken by
    road_id then seg_id, and points with no road in reach (absent)."""
    from sdg_engine.ops.spatial import knn_nearest_road, level_for_cutoff

    rng = np.random.default_rng(20261018)
    qx, qy = 6.0, 6.0  # isolated zero-length segment for the cutoff case
    at = qy + 3000.0 / 111320.0
    cutoff = (at - qy) * 111320.0  # what the engine computes, bit for bit
    level = level_for_cutoff(cutoff)
    step = WORLD_SIZE / (1 << level)

    a = rng.uniform(3.0, 3.5, (150, 2))
    b = a + rng.uniform(-1.5 * step, 1.5 * step, (150, 2))
    b[:15] = a[:15]  # zero-length
    segs = np.vstack([np.c_[a, b], [(qx, qy, qx, qy)]])
    ids = np.array([(i // 3, i % 3) for i in range(len(segs))])
    # exact ties: copies of 20 segments under other (road_id, seg_id)
    # keys, lower or higher than the original's
    dup = rng.choice(150, 20, replace=False)
    dup_ids = [(ids[j, 0], 7) if n % 3 == 0 else (rng.integers(0, 60), 9)
               for n, j in enumerate(dup)]
    segs = np.vstack([segs, segs[dup]])
    ids = np.vstack([ids, dup_ids])

    grid = step * np.arange(int(3.0 / step) + 1, int(3.5 / step) + 1)
    corners = np.array([(x, y) for x in grid[::2] for y in grid[::3]])
    edges = np.c_[grid, rng.uniform(3.0, 3.5, len(grid))]
    pts = np.vstack([
        rng.uniform(2.98, 3.52, (400, 2)),
        corners, edges, edges[:, ::-1],
        # the copies' own endpoints: distance 0, tied with the original
        a[dup], b[dup],
        rng.uniform(8.0, 8.5, (10, 2)),  # no road in reach
        [(qx, at), (qx, np.nextafter(at, np.inf))],
    ])

    df_segs = spark.createDataFrame(
        [(int(i[0]), int(i[1]), *map(float, s)) for i, s in zip(ids, segs)],
        "road_id bigint, seg_id int, ax double, ay double, bx double, by double",
    )
    df_pts = spark.createDataFrame(
        [(f"p{i:05d}", float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "image_id string, lon double, lat double",
    )
    got = knn_nearest_road(df_pts, df_segs, cutoff).toPandas()
    want = _brute_knn(pts, segs, ids, cutoff, level)

    n = len(pts)
    assert n - 2 in want and n - 1 not in want  # the cutoff pair
    assert not any(i in want for i in range(n - 12, n - 2))  # far points
    assert any(k == 1 for _, _, k in want.values())  # found via the halo
    got = {int(r.image_id[1:]): (int(r.road_id), r.dist_m, int(r.k_ring))
           for r in got.itertuples(index=False)}
    assert set(got) == set(want)
    for i, (road, dist, k) in want.items():
        assert got[i][0] == road, i
        assert abs(got[i][1] - dist) <= 1e-6, i
        assert got[i][2] == k, i
