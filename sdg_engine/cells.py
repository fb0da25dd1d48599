"""Quadtree cell index (SURVEY.md §2.2 C1-C3, C5) — the engine's spine.

From-scratch S2-style square quadtree over the plate-carrée world
(lon, lat ∈ [WORLD_MIN, WORLD_MIN + WORLD_SIZE)).  This replaces the
reference's ``LayoutDefinition`` / ``SpatialKey`` grid (GeoTrellis
``MapKeyTransform.keysForGeometry``, SURVEY.md C1) and the north
star's "H3/S2 cell encoding".  True hexagonal H3 needs the H3 native
library (absent here); a Z-order quadtree is the honest from-scratch
S2 analogue: hierarchical, prefix-compactable, and contiguous in key
space so that a compacted parent cell covers an int64 *range* of
descendant ids (the Global-Range-Encoding trick, PAPERS.md).

Cell id layout (int64, always positive):

    id = (level << 54) | morton(ix, iy)

* ``level`` ∈ [0, MAX_LEVEL=26]; the world is split into 2^level ×
  2^level cells.
* ``morton`` interleaves ix (even bits) and iy (odd bits) — children
  of a cell are the 4 ids sharing its bit prefix, so descendants of
  ``c`` at level ``l + d`` occupy the contiguous range
  ``[code << 2d, (code+1) << 2d)`` within level ``l + d``.

Everything is vectorized numpy over int64 arrays — these functions run
inside Arrow-batched pandas UDFs (no per-row Python, BASELINE.json:15).
"""

from __future__ import annotations

import numpy as np

from . import WORLD_MIN, WORLD_SIZE

MAX_LEVEL = 26
_LEVEL_SHIFT = 54
_CODE_MASK = (np.int64(1) << _LEVEL_SHIFT) - 1

# ---------------------------------------------------------------------------
# Morton (Z-order) interleave — classic magic-number bit spread, 32→64 bits.
# ---------------------------------------------------------------------------

_SPREAD_MASKS = (
    (np.int64(16), np.int64(0x0000FFFF0000FFFF)),
    (np.int64(8), np.int64(0x00FF00FF00FF00FF)),
    (np.int64(4), np.int64(0x0F0F0F0F0F0F0F0F)),
    (np.int64(2), np.int64(0x3333333333333333)),
    (np.int64(1), np.int64(0x5555555555555555)),
)


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each int64 so bit i moves to bit 2i."""
    v = v.astype(np.int64, copy=True)
    for shift, mask in _SPREAD_MASKS:
        v = (v | (v << shift)) & mask
    return v


_SQUEEZE_STEPS = (
    (np.int64(1), np.int64(0x3333333333333333)),
    (np.int64(2), np.int64(0x0F0F0F0F0F0F0F0F)),
    (np.int64(4), np.int64(0x00FF00FF00FF00FF)),
    (np.int64(8), np.int64(0x0000FFFF0000FFFF)),
    (np.int64(16), np.int64(0x00000000FFFFFFFF)),
)


def _squeeze_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_spread_bits` (keeps even bits, compacts)."""
    v = v & np.int64(0x5555555555555555)
    for shift, mask in _SQUEEZE_STEPS:
        v = (v | (v >> shift)) & mask
    return v


def morton_encode(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return _spread_bits(np.asarray(ix, dtype=np.int64)) | (
        _spread_bits(np.asarray(iy, dtype=np.int64)) << np.int64(1)
    )


def morton_decode(code: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    code = np.asarray(code, dtype=np.int64)
    return _squeeze_bits(code), _squeeze_bits(code >> np.int64(1))


# ---------------------------------------------------------------------------
# Pack / unpack / navigate
# ---------------------------------------------------------------------------


def pack(level: int | np.ndarray, ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """``(level, ix, iy) -> cell_id`` (SURVEY.md C1)."""
    lvl = np.asarray(level, dtype=np.int64)
    return (lvl << np.int64(_LEVEL_SHIFT)) | morton_encode(ix, iy)


def unpack(cell_id: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``cell_id -> (level, ix, iy)``."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    level = cell_id >> np.int64(_LEVEL_SHIFT)
    ix, iy = morton_decode(cell_id & _CODE_MASK)
    return level, ix, iy


def parent(cell_id: np.ndarray) -> np.ndarray:
    """The parent cell (quadtree prefix truncation by one level)."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    level = cell_id >> np.int64(_LEVEL_SHIFT)
    code = cell_id & _CODE_MASK
    return ((level - 1) << np.int64(_LEVEL_SHIFT)) | (code >> np.int64(2))


def children(cell_id: np.ndarray) -> np.ndarray:
    """The 4 children of each cell; shape (n, 4)."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    level = cell_id >> np.int64(_LEVEL_SHIFT)
    code = cell_id & _CODE_MASK
    base = ((level + 1) << np.int64(_LEVEL_SHIFT)) | (code << np.int64(2))
    return base[:, None] + np.arange(4, dtype=np.int64)[None, :]


def range_at_level(cell_id: np.ndarray, target_level: int) -> tuple[np.ndarray, np.ndarray]:
    """Contiguous [lo, hi) morton-code range of descendants at ``target_level``.

    This is what makes compacted covers joinable by range (SURVEY.md
    J6 / C2): a level-l cell's descendants at level L are the codes
    ``[code << 2(L-l), (code+1) << 2(L-l))``.
    Returned as full cell ids at ``target_level``.
    """
    cell_id = np.asarray(cell_id, dtype=np.int64)
    level = cell_id >> np.int64(_LEVEL_SHIFT)
    code = cell_id & _CODE_MASK
    d = (np.int64(target_level) - level) * np.int64(2)
    lo = code << d
    hi = (code + np.int64(1)) << d
    head = np.int64(target_level) << np.int64(_LEVEL_SHIFT)
    return head | lo, head | hi


# ---------------------------------------------------------------------------
# World <-> grid
# ---------------------------------------------------------------------------


def xy_to_index(x: np.ndarray, y: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    """Continuous lon/lat -> integer cell indices at ``level`` (clipped)."""
    n = np.int64(1) << np.int64(level)
    fx = np.floor((np.asarray(x, dtype=np.float64) - WORLD_MIN) / WORLD_SIZE * n)
    fy = np.floor((np.asarray(y, dtype=np.float64) - WORLD_MIN) / WORLD_SIZE * n)
    ix = np.clip(fx, 0, float(n - 1)).astype(np.int64)
    iy = np.clip(fy, 0, float(n - 1)).astype(np.int64)
    return ix, iy


def point_cell(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    """Cell id containing each point (SURVEY.md C1, point case)."""
    ix, iy = xy_to_index(x, y, level)
    return pack(level, ix, iy)


def cell_bounds(cell_id: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(xmin, ymin, xmax, ymax) of each cell in world coordinates."""
    level, ix, iy = unpack(cell_id)
    size = WORLD_SIZE / (np.int64(1) << level).astype(np.float64)
    xmin = WORLD_MIN + ix.astype(np.float64) * size
    ymin = WORLD_MIN + iy.astype(np.float64) * size
    return xmin, ymin, xmin + size, ymin + size


# ---------------------------------------------------------------------------
# cover / compact / kring — the three ★ operators (SURVEY.md C1-C3)
# ---------------------------------------------------------------------------


def cover_bbox(
    xmin: np.ndarray,
    ymin: np.ndarray,
    xmax: np.ndarray,
    ymax: np.ndarray,
    level: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Cells at ``level`` intersecting each axis-aligned bbox.

    Vectorized over n bboxes with per-bbox variable-size covers.
    Returns ``(row_index, cell_id)`` flat arrays — the exploded form a
    pandas UDF feeds straight back to Spark (SURVEY.md C1: the
    keysForGeometry analogue for footprint quads).
    """
    ix0, iy0 = xy_to_index(xmin, ymin, level)
    ix1, iy1 = xy_to_index(xmax, ymax, level)
    nx = (ix1 - ix0 + 1).astype(np.int64)
    ny = (iy1 - iy0 + 1).astype(np.int64)
    counts = nx * ny
    total = int(counts.sum())
    row = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    # local offset within each bbox's (nx*ny) block
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    local = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    nxr = np.repeat(nx, counts)
    dx = local % nxr
    dy = local // nxr
    ix = np.repeat(ix0, counts) + dx
    iy = np.repeat(iy0, counts) + dy
    return row, pack(level, ix, iy)


def compact(cells: np.ndarray) -> np.ndarray:
    """Replace complete sibling quartets with their parent, recursively.

    SURVEY.md C2 (★ "compacted-cell candidate generation"): a dense
    single-level cover becomes a minimal mixed-level cover.  Input may
    contain duplicates; output is sorted, unique, mixed-level, and
    covers exactly the same area.
    """
    cells = np.unique(np.asarray(cells, dtype=np.int64))
    out: list[np.ndarray] = []
    while cells.size:
        level = cells >> np.int64(_LEVEL_SHIFT)
        max_level = int(level.max())
        if max_level == 0:
            out.append(cells)
            break
        cur = cells[level == max_level]
        rest = cells[level != max_level]
        par = parent(cur)
        uniq, counts = np.unique(par, return_counts=True)
        full = uniq[counts == 4]
        if full.size:
            keep_mask = ~np.isin(par, full)
            out.append(cur[keep_mask])
            # re-unique: an OVERLAPPING mixed-level input (parent already
            # present alongside its children) would otherwise duplicate
            # the parent here and inflate the next level's sibling
            # counts, wrongly compacting an incomplete quartet (r03
            # review; pinned in tests/test_cells.py)
            cells = np.unique(np.concatenate([rest, full]))
        else:
            out.append(cur)
            cells = rest
    return np.sort(np.concatenate(out)) if out else cells


def uncompact(cells: np.ndarray, target_level: int) -> np.ndarray:
    """Expand a mixed-level cover back to all cells at ``target_level``."""
    cells = np.asarray(cells, dtype=np.int64)
    lo, hi = range_at_level(cells, target_level)
    counts = (hi - lo).astype(np.int64)
    total = int(counts.sum())
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    offs = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    return np.repeat(lo, counts) + offs


def kring(cell_id: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """All cells within Chebyshev distance ``k`` (the (2k+1)² block).

    SURVEY.md C3 (★ "k-ring expansion") — neighbor keys so distance
    queries see geometry in adjacent tiles.  Returns ``(row_index,
    cell_id)`` exploded arrays; out-of-world neighbors are dropped.
    """
    level, ix, iy = unpack(cell_id)
    n_per = (2 * k + 1) ** 2
    d = np.arange(-k, k + 1, dtype=np.int64)
    ddx, ddy = np.meshgrid(d, d, indexing="xy")
    ddx = ddx.ravel()[None, :]
    ddy = ddy.ravel()[None, :]
    nx = ix[:, None] + ddx
    ny = iy[:, None] + ddy
    lim = (np.int64(1) << level)[:, None]
    valid = (nx >= 0) & (ny >= 0) & (nx < lim) & (ny < lim)
    row = np.repeat(np.arange(len(ix), dtype=np.int64), n_per).reshape(-1, n_per)
    lvl = np.repeat(level, n_per).reshape(-1, n_per)
    return row[valid], pack(lvl[valid], nx[valid], ny[valid])


def ring(cell_id: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Only the hollow ring at exactly Chebyshev distance ``k``.

    Used by the iterative kNN join (SURVEY.md J4) to expand the search
    frontier one ring at a time.
    """
    if k == 0:
        cell_id = np.asarray(cell_id, dtype=np.int64)
        return np.arange(len(cell_id), dtype=np.int64), cell_id.copy()
    level, ix, iy = unpack(cell_id)
    d = np.arange(-k, k + 1, dtype=np.int64)
    ddx, ddy = np.meshgrid(d, d, indexing="xy")
    hollow = (np.abs(ddx) == k) | (np.abs(ddy) == k)
    ddx = ddx[hollow].ravel()[None, :]
    ddy = ddy[hollow].ravel()[None, :]
    n_per = ddx.shape[1]
    nx = ix[:, None] + ddx
    ny = iy[:, None] + ddy
    lim = (np.int64(1) << level)[:, None]
    valid = (nx >= 0) & (ny >= 0) & (nx < lim) & (ny < lim)
    row = np.repeat(np.arange(len(ix), dtype=np.int64), n_per).reshape(-1, n_per)
    lvl = np.repeat(level, n_per).reshape(-1, n_per)
    return row[valid], pack(lvl[valid], nx[valid], ny[valid])


# ---------------------------------------------------------------------------
# Hexagonal index (H3-analogue; numpy twin of sqlgen.hex_cell_steps)
# ---------------------------------------------------------------------------


def hex_cell(x: np.ndarray, y: np.ndarray, size: float) -> np.ndarray:
    """Pointy-top axial hex id via exact cube rounding — the same
    arithmetic as the shared SQL fragments (FLOOR(v+0.5) rounding)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    qf = (np.sqrt(3.0) / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    yf = -qf - rf
    rq = np.floor(qf + 0.5)
    ry = np.floor(yf + 0.5)
    rz = np.floor(rf + 0.5)
    dq, dy, dz = np.abs(rq - qf), np.abs(ry - yf), np.abs(rz - rf)
    c1 = (dq > dy) & (dq > dz)
    q = np.where(c1, -ry - rz, rq)
    r = np.where(~c1 & ~(dy > dz), -rq - ry, rz)
    return ((q.astype(np.int64) + 8192) * 16384 + (r.astype(np.int64) + 8192))


def hex_center(hex_id: np.ndarray, size: float) -> tuple[np.ndarray, np.ndarray]:
    """Inverse: axial (q, r) → hex center (x, y)."""
    hex_id = np.asarray(hex_id, dtype=np.int64)
    q = (hex_id // 16384 - 8192).astype(np.float64)
    r = (hex_id % 16384 - 8192).astype(np.float64)
    x = size * (np.sqrt(3.0) * q + np.sqrt(3.0) / 2.0 * r)
    y = size * (1.5 * r)
    return x, y


def hilbert_d(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    """Hilbert-curve distance of integer grid points (xy→d, level bits
    per axis) — the locality-preserving alternative to the Z-order
    index that modern table formats offer for data clustering.

    Classic quadrant-rotation recurrence (public algorithm, e.g.
    Wikipedia "Hilbert curve"), vectorized across rows; the per-level
    swap/flip state is why this kernel is numpy rather than a SQL step
    chain on the Spark side: x' and y' each reference BOTH x and y, so
    CollapseProject would double the inlined expression per level —
    2^level blowup (CLAUDE.md gotcha 2).  The DuckDB oracle runs the
    identical recurrence as a 15-layer single-reference CTE chain
    (linear there — each layer materializes per row).
    """
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    for k in range(level - 1, -1, -1):
        s = np.int64(1) << k
        rx = (x >> k) & 1
        ry = (y >> k) & 1
        # quad = (3*rx) XOR ry, spelled as arithmetic (oracle twin uses
        # the same CASE — no engine-specific xor operator)
        quad = np.where(rx == 0, np.where(ry == 0, 0, 1), np.where(ry == 1, 2, 3))
        d += s * s * quad
        # rotate: only when ry == 0 (flip when rx == 1, then swap)
        flip = (ry == 0) & (rx == 1)
        nx = np.where(ry == 0, np.where(flip, s - 1 - y, y), x)
        ny = np.where(ry == 0, np.where(flip, s - 1 - x, x), y)
        x, y = nx, ny
    return d
