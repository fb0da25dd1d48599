"""Raster↔vector operators over the images table (SURVEY.md §2.5 A1/A2,
§2.2 C4/C5) — the reference's per-tile burn + cost-distance stage.

Graft semantics (documented; the reference burns roads into WorldPop
tiles): each image row IS a raster tile over its georeferenced
footprint; per-pixel "population" is the decoded luminance.  Per tile:

1. **burn** (A1): clip candidate road segments to the footprint
   (Liang-Barsky) and rasterize them onto the image's pixel grid;
2. **cost-distance** (A2): two-pass 3-4 chamfer distance transform
   from the burned mask — the uniform-friction analogue of GeoTrellis
   ``CostDistance`` (SURVEY.md A2);
3. **masked sum**: population within ``cutoff_m`` of a road vs total.

Execution shape (``burn_cost_summaries``): one map-only plan.  The
roads are pre-expanded by kring(1) (``spatial.ring_cover``) so
cross-border segments are present (C3 halo; SURVEY.md §7 hard part 2);
that cover is collected into a cell→segments dict and broadcast, and
the images run through one ``mapInPandas`` that burns each tile against
its cell's segments in one local pass (the per-tile shape of *Raptor*'s
vector-to-raster join).  The cover must fit one driver collect.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import METERS_PER_DEG
from ..codecs import decode_image, luma
from ..geom import clip_segments_to_rect
from ..skew import spread
from .payload import _IMG_COLS, _decode, map_rows
from .spatial import ring_cover, with_point_cell

_NO_SEGS = np.zeros((0, 4))
_SUMMARY_SCHEMA = (
    "image_id string, cell_id bigint, pop_total double, pop_near double, "
    "px_total int, px_near int, n_segs int"
)


def burn_mask(
    w: int,
    h: int,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    segs: np.ndarray,
) -> np.ndarray:
    """A1: rasterize segments (n,4 array ax,ay,bx,by) onto a h×w grid.

    Dense sampling at half-pixel steps along each clipped segment —
    deterministic and gap-free for the mask's purpose."""
    mask = np.zeros((h, w), dtype=bool)
    if len(segs) == 0:
        return mask
    keep, cax, cay, cbx, cby = clip_segments_to_rect(
        segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3], xmin, ymin, xmax, ymax
    )
    if not keep.any():
        return mask
    cax, cay, cbx, cby = cax[keep], cay[keep], cbx[keep], cby[keep]
    pxw = (xmax - xmin) / w
    pxh = (ymax - ymin) / h
    # one flat sample array across ALL segments (a per-segment Python
    # loop was 10.6 ms/tile at 200 candidate segs — 100× this)
    length_px = np.maximum(np.abs(cbx - cax) / pxw, np.abs(cby - cay) / pxh)
    n = np.maximum(2, np.ceil(length_px * 2.0).astype(np.int64) + 1)
    total = int(n.sum())
    seg_of = np.repeat(np.arange(len(n)), n)
    within = np.arange(total) - np.repeat(np.cumsum(n) - n, n)
    t = within / (n[seg_of] - 1)
    xs = cax[seg_of] + t * (cbx - cax)[seg_of]
    ys = cay[seg_of] + t * (cby - cay)[seg_of]
    cs = np.clip(((xs - xmin) / pxw).astype(np.int64), 0, w - 1)
    rs = np.clip(((ymax - ys) / pxh).astype(np.int64), 0, h - 1)
    mask[rs, cs] = True
    return mask


def chamfer_distance(mask: np.ndarray) -> np.ndarray:
    """A2: 3-4 chamfer distance transform (pixel units) from True cells.

    Two sequential passes over rows (each row step vectorized across
    columns via shifted minima) — the classic Borgefors pushbroom, the
    uniform-friction stand-in for cost-distance accumulation."""
    h, w = mask.shape
    big = np.float64(1e18)
    d = np.where(mask, 0.0, big)
    # forward pass
    for r in range(h):
        row = d[r]
        up = d[r - 1] if r > 0 else None
        if up is not None:
            row = np.minimum(row, up + 3.0)
            row[1:] = np.minimum(row[1:], up[:-1] + 4.0)
            row[:-1] = np.minimum(row[:-1], up[1:] + 4.0)
        # left-to-right scan (sequential; cheap C loop via minimum.accumulate
        # on (row - 3*index) trick)
        idx = np.arange(w) * 3.0
        # min_j<=i (row[j] + 3(i-j)) = min-accumulate(row - 3j) + 3i
        row = np.minimum.accumulate(row - idx) + idx
        d[r] = row
    # backward pass
    for r in range(h - 1, -1, -1):
        row = d[r]
        dn = d[r + 1] if r < h - 1 else None
        if dn is not None:
            row = np.minimum(row, dn + 3.0)
            row[1:] = np.minimum(row[1:], dn[:-1] + 4.0)
            row[:-1] = np.minimum(row[:-1], dn[1:] + 4.0)
        idx = np.arange(w) * 3.0
        rev = row[::-1]
        rev = np.minimum.accumulate(rev - idx) + idx
        d[r] = rev[::-1]
    return d / 3.0


def chamfer_distance_batch(masks: np.ndarray) -> np.ndarray:
    """A2 batched: 3-4 chamfer over a (N, h, w) stack of masks.

    Same pushbroom as chamfer_distance but each row step operates on
    (N, w) slabs — per-row numpy call overhead is amortized N× (the
    per-tile variant spends ~0.7 ms/tile at 64×64 mostly on ~800 tiny
    numpy calls).  Values are bit-identical: all ops are elementwise
    minima / accumulates applied per tile independently."""
    n, h, w = masks.shape
    big = np.float64(1e18)
    d = np.where(masks, 0.0, big)
    idx = np.arange(w) * 3.0
    for r in range(h):
        row = d[:, r]
        if r > 0:
            up = d[:, r - 1]
            row = np.minimum(row, up + 3.0)
            row[:, 1:] = np.minimum(row[:, 1:], up[:, :-1] + 4.0)
            row[:, :-1] = np.minimum(row[:, :-1], up[:, 1:] + 4.0)
        row = np.minimum.accumulate(row - idx, axis=1) + idx
        d[:, r] = row
    for r in range(h - 1, -1, -1):
        row = d[:, r]
        if r < h - 1:
            dn = d[:, r + 1]
            row = np.minimum(row, dn + 3.0)
            row[:, 1:] = np.minimum(row[:, 1:], dn[:, :-1] + 4.0)
            row[:, :-1] = np.minimum(row[:, :-1], dn[:, 1:] + 4.0)
        rev = row[:, ::-1]
        rev = np.minimum.accumulate(rev - idx, axis=1) + idx
        d[:, r] = rev[:, ::-1]
    return d / 3.0


def weighted_cost_batch(masks: np.ndarray, frictions: np.ndarray) -> np.ndarray:
    """A2 FULL: cost-distance accumulation over a NON-UNIFORM friction
    surface — the real GeoTrellis ``CostDistance`` semantic the uniform
    chamfer approximated.

    Accumulated cost(p) = min over 8-connected paths from any True cell
    of Σ step·(f(a)+f(b))/2 with step = 1 axial / 4/3 diagonal in pixel
    units (the friction-MEAN edge weight on 3-4 chamfer geometry), so
    ``frictions ≡ 1`` reduces BIT-FOR-BIT to ``chamfer_distance_batch``
    (pinned in tests).  Computed by ITERATED forward/backward weighted
    pushbroom sweeps to fixpoint — Bellman-Ford over scan orders; the
    in-row sequential relaxation uses the prefix-sum identity
    ``min_{j<=i}(d_j + W_i - W_j) = min-accumulate(d_j - W_j) + W_i``
    so every row step stays a vectorized (N, w) slab op.  Uniform and
    smooth surfaces converge in 2 sweeps (the second proves the
    fixpoint); the certified-exact twin is the brute-force Dijkstra in
    tests/test_pipeline_ops.py.  Values are cost/3.0 like the chamfer
    (multiply by metres-per-pixel for metre·friction units).

    Convergence contract (r04 review): sweeps run TO THE FIXPOINT,
    at most 4·(h+w)+8 of them (an optimal path's
    vertical direction changes are what each fwd+bwd pair resolves, and
    a simple path cannot reverse more often than the grid perimeter);
    a pathological surface that still hasn't converged RAISES instead
    of silently returning wrong accessibility numbers (a serpentine
    wall/gap friction contrast needs >16 alternations — measured).
    """
    n, h, w = masks.shape
    max_sweeps = 4 * (h + w) + 8
    f = np.asarray(frictions, dtype=np.float64)
    big = np.float64(1e18)
    d = np.where(masks, 0.0, big)
    # in-row step weights → forward/reverse prefix sums, per row
    wstep = 3.0 * (f[:, :, :-1] + f[:, :, 1:]) / 2.0
    W = np.zeros_like(f)
    np.cumsum(wstep, axis=2, out=W[:, :, 1:])
    Wrev = np.zeros_like(f)
    np.cumsum(wstep[:, :, ::-1], axis=2, out=Wrev[:, :, 1:])
    for _sweep in range(max_sweeps):
        before = d.copy()
        for r in range(h):
            row = d[:, r]
            if r > 0:
                up = d[:, r - 1]
                row = np.minimum(row, up + 3.0 * (f[:, r - 1] + f[:, r]) / 2.0)
                row[:, 1:] = np.minimum(
                    row[:, 1:],
                    up[:, :-1] + 4.0 * (f[:, r - 1, :-1] + f[:, r, 1:]) / 2.0,
                )
                row[:, :-1] = np.minimum(
                    row[:, :-1],
                    up[:, 1:] + 4.0 * (f[:, r - 1, 1:] + f[:, r, :-1]) / 2.0,
                )
            Wr = W[:, r]
            row = np.minimum.accumulate(row - Wr, axis=1) + Wr
            d[:, r] = row
        for r in range(h - 1, -1, -1):
            row = d[:, r]
            if r < h - 1:
                dn = d[:, r + 1]
                row = np.minimum(row, dn + 3.0 * (f[:, r + 1] + f[:, r]) / 2.0)
                row[:, 1:] = np.minimum(
                    row[:, 1:],
                    dn[:, :-1] + 4.0 * (f[:, r + 1, :-1] + f[:, r, 1:]) / 2.0,
                )
                row[:, :-1] = np.minimum(
                    row[:, :-1],
                    dn[:, 1:] + 4.0 * (f[:, r + 1, 1:] + f[:, r, :-1]) / 2.0,
                )
            Wrr = Wrev[:, r]
            rev = row[:, ::-1]
            rev = np.minimum.accumulate(rev - Wrr, axis=1) + Wrr
            d[:, r] = rev[:, ::-1]
        if np.array_equal(before, d):
            break
    else:
        raise ValueError(
            f"weighted cost-distance did not reach its fixpoint within "
            f"{max_sweeps} sweeps, the 4·(h+w)+8 bound for a {h}x{w} "
            "surface (pathological friction alternation)"
        )
    return d / 3.0


def summarize_tile_rows(rows, lut: dict, cutoff: float,
                        friction_from_lum: bool = False):
    """Batched burn kernel: ``rows`` is an iterable of row tuples with
    cell_id, bytes, fmt, w, h and fp_* fields; ``lut`` maps a cell_id to
    its candidate segments (n,4 array ax,ay,bx,by), and a cell missing
    from it has none.

    Decode/burn/sums stay per-tile (bit-identical to tile_summary, the
    golden oracle); the chamfer transform runs BATCHED per (h, w) group.
    ``friction_from_lum=True`` switches A2 to the NON-UNIFORM
    cost-distance (weighted_cost_batch) over the tile's own luminance-
    derived friction surface f = 1 + lum/255 — the graft's stand-in for
    a co-registered friction raster band (denser population ⇒ slower
    traversal), so ``cutoff`` then bounds metre·friction cost.
    Yields (pop_total, pop_near, px_total, px_near, n_segs) per row in
    input order."""
    rows = list(rows)
    lums: list[np.ndarray] = []
    masks: list[np.ndarray] = []
    metas = []
    for row in rows:
        img = decode_image(bytes(row.bytes), row.fmt, int(row.w), int(row.h))
        lum = luma(img)
        segs = lut.get(int(row.cell_id), _NO_SEGS)
        mask = burn_mask(int(row.w), int(row.h),
                         row.fp_xmin, row.fp_ymin, row.fp_xmax, row.fp_ymax,
                         segs)
        lums.append(lum)
        masks.append(mask)
        metas.append((int(row.w), int(row.h),
                      (row.fp_xmax - row.fp_xmin) / int(row.w) * METERS_PER_DEG,
                      len(segs)))
    # batch chamfer per (h, w) shape over tiles with a non-empty mask
    near = [None] * len(rows)
    by_shape: dict[tuple, list[int]] = {}
    for i, m in enumerate(masks):
        if m.any():
            by_shape.setdefault(m.shape, []).append(i)
        else:
            near[i] = np.zeros(m.shape, dtype=bool)
    for shape, idxs in by_shape.items():
        stack = np.stack([masks[i] for i in idxs])
        if friction_from_lum:
            fr = np.stack([1.0 + lums[i] / 255.0 for i in idxs])
            dist = weighted_cost_batch(stack, fr)
        else:
            dist = chamfer_distance_batch(stack)
        for j, i in enumerate(idxs):
            near[i] = dist[j] * metas[i][2] <= cutoff
    for i, row in enumerate(rows):
        lum = lums[i]
        yield (
            float(lum.sum()),
            float(lum[near[i]].sum()),
            int(lum.size),
            int(near[i].sum()),
            metas[i][3],
        )


def tile_summary(
    image_id: str,
    data: bytes,
    fmt: str,
    w: int,
    h: int,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    segs: np.ndarray,
    cutoff_m: float,
) -> tuple[float, float, int, int]:
    """Numpy oracle for one tile: (pop_total, pop_near, px_total, px_near).

    The golden generator's and the tests' reference: summarize_tile_rows
    does the same per-tile math batched, so the Spark tests exercise the
    DISTRIBUTED parts (which segments reach which tile, the halo)."""
    lum = luma(decode_image(data, fmt, w, h))
    mask = burn_mask(w, h, xmin, ymin, xmax, ymax, segs)
    if mask.any():
        dist_px = chamfer_distance(mask)
        px_m = (xmax - xmin) / w * METERS_PER_DEG
        near = dist_px * px_m <= cutoff_m
    else:
        near = np.zeros((h, w), dtype=bool)
    return (
        float(lum.sum()),
        float(lum[near].sum()),
        int(lum.size),
        int(near.sum()),
    )


def burn_cost_summaries(
    images_geo: DataFrame,
    segs: DataFrame,
    cutoff_m: float = 250.0,
    level: int = 6,
    friction_from_lum: bool = False,
) -> DataFrame:
    """A1+A2 distributed: per-image burn/cost-distance/masked-sum.

    One MAP-ONLY plan: the kring(1)-expanded road cover is collected and
    broadcast as a cell→segments dict, the images are spread on
    ``image_id``, and one ``mapInPandas`` runs the per-tile work.  Image
    bytes never shuffle, and peak task memory is one Arrow batch.

    Limit: the cover (about 9× the segment count) must fit one driver
    collect.  Past that the collect fails with Spark's own
    ``spark.driver.maxResultSize`` error; there is no fallback plan.
    Burn one country's roads at a time, as the reference does.

    Correctness constraint: footprint half-size (≤0.008°, FIXTURES.md)
    must be < cell size (0.156° at level 6) for the kring(1) halo to
    cover footprints that straddle the center cell's border — only
    segments CROSSING the footprint affect the burn, and such segments
    lie within half·√2 of the image center.  A coarser level gives each
    tile more candidate segments; a finer one a bigger cover.
    """
    cutoff = float(cutoff_m)
    friction = bool(friction_from_lum)  # plain local for the UDF closure
    pts = with_point_cell(images_geo, level, "lon", "lat", "cell_id")
    # deduped: a segment reaching one ring cell from several covering
    # cells must reach the tile once (n_segs counts them)
    cover = (
        ring_cover(segs, level)
        .dropDuplicates(["road_id", "seg_id", "cell_id"])
        .select("cell_id", "ax", "ay", "bx", "by")
        .toPandas()
    )
    cover_np = cover[["ax", "ay", "bx", "by"]].to_numpy(dtype=np.float64)
    cells = cover["cell_id"].to_numpy(dtype=np.int64)
    order = np.argsort(cells, kind="stable")
    cells, cover_np = cells[order], cover_np[order]
    uniq, first = np.unique(cells, return_index=True)
    bounds = np.append(first, len(cells))
    lut = {
        int(c): cover_np[s:e]
        for c, s, e in zip(uniq, bounds[:-1], bounds[1:])
    }
    # Broadcast lifetime (documented leak, ADVICE r02): the LUT must
    # outlive the RETURNED lazy DataFrame, so it cannot be unpersisted
    # here.  It is released by Spark's ContextCleaner once the frame
    # (and this closure) are garbage-collected; small-heap harness
    # sessions additionally force that GC in queries._common._prep.
    # Callers that loop many distinct road networks through one
    # big-heap session should materialize the result and call
    # ``df._sdg_road_lut_bc.unpersist()`` between iterations.
    bc = images_geo.sparkSession.sparkContext.broadcast(lut)

    def _map_batches(batches):
        for pdf in batches:
            rows = list(pdf.itertuples(index=False))
            if rows:
                sums = summarize_tile_rows(rows, bc.value, cutoff,
                                           friction_from_lum=friction)
                yield pd.DataFrame(
                    [(r.image_id, int(r.cell_id), *t)
                     for r, t in zip(rows, sums)]
                )

    # local fixture files scan as 1-2 partitions — spread them on
    # image_id so the map-only stage uses the cluster; a production
    # multi-file table already has enough partitions and skips it
    result = spread(
        pts.select("cell_id", "image_id", "bytes", "fmt", "w", "h",
                   "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax"),
        "image_id",
    ).mapInPandas(_map_batches, _SUMMARY_SCHEMA)
    result._sdg_road_lut_bc = bc  # explicit cleanup handle (see above)
    return result


# ---------------------------------------------------------------------------
# Region labeling (r05) — connected-component "region group" /
# polygonize-precursor over a thresholded raster (4-connectivity).
# ---------------------------------------------------------------------------


def label_region_stats(mask: np.ndarray) -> tuple[int, int, int]:
    """(n_regions, largest_region_px, n_fg_px) of the True-mask's
    4-connected components — scan-line runs + union-find (two passes,
    O(px) with inverse-Ackermann unions).  The stats are labeling-order
    independent (sizes only), so the golden twin can flood-fill instead.
    """
    h, w = mask.shape
    parent: list[int] = []
    size: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]

    prev_runs: list[tuple[int, int, int]] = []  # (start, end, label)
    n_fg = 0
    for y in range(h):
        row = mask[y]
        runs: list[tuple[int, int, int]] = []
        x = 0
        while x < w:
            if row[x]:
                x0 = x
                while x < w and row[x]:
                    x += 1
                lab = len(parent)
                parent.append(lab)
                size.append(x - x0)
                n_fg += x - x0
                # union with 4-connected overlaps in the previous row
                for p0, p1, pl in prev_runs:
                    if p0 < x and p1 > x0:
                        union(lab, pl)
                runs.append((x0, x, lab))
            else:
                x += 1
        prev_runs = runs
    roots: dict[int, int] = {}
    for lab in range(len(parent)):
        r = find(lab)
        if r == lab:
            roots[r] = size[r]
    if not roots:
        return 0, 0, 0
    return len(roots), max(roots.values()), n_fg


def region_stats(images):
    """Per-image connected-region stats of the (lum >= 128) mask —
    map-only mapInPandas; payload bytes never shuffle.  Cross-TILE
    region stitching at mosaic scale is the kring(1) halo pattern
    (ops/raster burn) + a component merge on border runs — out of
    scope here where tiles are whole images."""
    return map_rows(
        images.select(*_IMG_COLS),
        lambda r: [(r.image_id, *label_region_stats(luma(_decode(r)) >= 128.0))],
        "image_id string, n_regions int, largest_px int, n_fg int",
    )
