"""Seeded inputs and per-seed correctness references for the benchmark.

Every input is a pure function of ``(workload, seed)``.  Inputs and the
reference answer are written once per seed under the cache directory and
reused by later runs with the same seed; generating them is never part
of a timed region.

* ``points_rai`` — point table (uniform on the 10°x10° world plus a
  share packed into the (2.5°, 2.5°) hot cell) and short road segments,
  the same number of which pass the hot cell under every seed.
  The reference is an independent numpy even-odd ray-cast against the
  harness country rings plus an exact point-to-segment distance.
* ``image_rai`` — image tiles in the fixture's format and size mix and
  OSM-like road polylines.  The reference per-country summary comes
  from the engine's numpy oracles (``ops.raster.tile_summary``
  and ``fixtures.country_of_points``).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np

# Bumped whenever what a seed generates changes, so that no cache built
# by an older version of this file is reused.
VERSION = 2

# points_rai sizes.  The segment count and cutoff put roughly 60% of the
# points within the cutoff of some road, so both outcomes of the
# near-road flag are common.
N_POINTS = 1_000_000
HOT_SHARE = 0.10
HOT_XY = 2.5  # degrees; corner of the 0.001° hot square
N_SEGMENTS = 1_000
SEG_HALF_SPAN = 0.4  # degrees; segment end = start + U(-span, span)
# The hot square holds a tenth of the points, so what it costs to flag
# them must not hang on how many random roads happen to pass it: no
# random segment's bounding box comes within HOT_CLEAR of it, and
# HOT_SEGMENTS segments start within HOT_START of it (within the cutoff).
HOT_SEGMENTS = 2
HOT_CLEAR = 0.5  # degrees
HOT_START = 0.02  # degrees
CUTOFF_M = 10_000.0
POINTS_LEVEL = 9  # assign_countries cell level, as in the flagship

# image_rai sizes.  One road per tile, and every fifth road starts in the
# hot cell, as streets crowd where images do: the hot tiles burn many
# segments each, most other tiles burn none and are forgotten.
N_TILES = 400
ROADS_PER_TILE = 1.0
HOT_ROAD_EVERY = 5
TILE_SIZES = (32, 64, 128)


def input_dir(cache_root: str, workload: str, seed: int) -> str:
    """Directory holding one seed's inputs and reference; built on demand."""
    out = os.path.join(cache_root, f"{workload}-v{VERSION}-seed{seed}")
    if os.path.isfile(os.path.join(out, "reference.json")):
        return out
    os.makedirs(cache_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{workload}-seed{seed}.tmp.", dir=cache_root)
    try:
        BUILDERS[workload](tmp, seed)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return out


def load_reference(in_dir: str) -> dict:
    with open(os.path.join(in_dir, "reference.json")) as f:
        return json.load(f)


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


# ---------------------------------------------------------------------------
# points_rai
# ---------------------------------------------------------------------------


def _points(seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng([seed, 1])
    n_hot = int(N_POINTS * HOT_SHARE)
    lon = rng.uniform(0.0, 10.0, N_POINTS)
    lat = rng.uniform(0.0, 10.0, N_POINTS)
    # hot cell: a 0.001° square at (2.5, 2.5), scattered through the table
    hot = rng.choice(N_POINTS, n_hot, replace=False)
    lon[hot] = HOT_XY + rng.uniform(0.0, 1e-3, n_hot)
    lat[hot] = HOT_XY + rng.uniform(0.0, 1e-3, n_hot)
    return lon, lat


def _segments_from(rng, start: np.ndarray) -> np.ndarray:
    end = np.clip(start + rng.uniform(-SEG_HALF_SPAN, SEG_HALF_SPAN, start.shape),
                  0.0, 10.0 - 1e-9)
    return np.concatenate([start, end], axis=1)  # ax, ay, bx, by


def _segments(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 2])
    n_rand = N_SEGMENTS - HOT_SEGMENTS
    rand = np.empty((0, 4))
    while len(rand) < n_rand:
        segs = _segments_from(rng, rng.uniform(0.0, 10.0, (n_rand, 2)))
        lo = np.minimum(segs[:, :2], segs[:, 2:])
        hi = np.maximum(segs[:, :2], segs[:, 2:])
        clear = ((lo > HOT_XY + 1e-3 + HOT_CLEAR) | (hi < HOT_XY - HOT_CLEAR)).any(axis=1)
        rand = np.concatenate([rand, segs[clear]])
    hot = _segments_from(
        rng, HOT_XY + rng.uniform(-HOT_START, HOT_START, (HOT_SEGMENTS, 2)))
    return np.concatenate([rand[:n_rand], hot])


def _even_odd_inside(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast toward +x, half-open in y (one edge at a time)."""
    inside = np.zeros(len(px), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        if y0 == y1:
            continue
        straddle = (py >= y0) != (py >= y1)
        xcross = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        inside ^= straddle & (xcross > px)
    return inside


def _near_any_segment(px: np.ndarray, py: np.ndarray, segs: np.ndarray,
                      cutoff_m: float) -> np.ndarray:
    """Exact 'within cutoff_m of any segment', bucketed on a 0.5° grid."""
    from sdg_engine import METERS_PER_DEG

    cell = 0.5
    ncell = int(np.ceil(10.0 / cell))
    pad = cutoff_m / METERS_PER_DEG
    pcx = np.clip((px // cell).astype(np.int64), 0, ncell - 1)
    pcy = np.clip((py // cell).astype(np.int64), 0, ncell - 1)
    near = np.zeros(len(px), dtype=bool)
    order = np.argsort(pcx * ncell + pcy, kind="stable")
    keys = (pcx * ncell + pcy)[order]
    bounds = np.searchsorted(keys, np.arange(ncell * ncell + 1))
    lo = np.floor((np.minimum(segs[:, [0, 1]], segs[:, [2, 3]]) - pad) / cell)
    hi = np.floor((np.maximum(segs[:, [0, 1]], segs[:, [2, 3]]) + pad) / cell)
    for cx in range(ncell):
        for cy in range(ncell):
            idx = order[bounds[cx * ncell + cy]:bounds[cx * ncell + cy + 1]]
            if idx.size == 0:
                continue
            hit = ((lo[:, 0] <= cx) & (hi[:, 0] >= cx)
                   & (lo[:, 1] <= cy) & (hi[:, 1] >= cy))
            x, y = px[idx][:, None], py[idx][:, None]
            ax, ay, bx, by = (segs[hit, k][None, :] for k in range(4))
            dx, dy = bx - ax, by - ay
            len2 = dx * dx + dy * dy
            with np.errstate(invalid="ignore", divide="ignore"):
                t = np.where(len2 > 0.0, np.minimum(
                    1.0, np.maximum(0.0, ((x - ax) * dx + (y - ay) * dy) / len2)), 0.0)
            ex = x - (ax + t * dx)
            ey = y - (ay + t * dy)
            dist = np.sqrt(ex * ex + ey * ey) * METERS_PER_DEG
            near[idx] = (dist <= cutoff_m).any(axis=1)
    return near


def build_points(out_dir: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine.harness import harness_rings

    lon, lat = _points(seed)
    segs = _segments(seed)
    pq.write_table(
        pa.table({"point_id": np.arange(N_POINTS, dtype=np.int64),
                  "lon": lon, "lat": lat}),
        os.path.join(out_dir, "points.parquet"),
        # Spark gives each scan task whole row groups; with ~16 groups for
        # 4 tasks, which task a group lands in hangs on a few bytes of
        # file size, and the busiest task did 4 or 5 groups' work
        # depending on the seed.  Small groups keep the tasks even.
        row_group_size=1 << 13,
    )
    pq.write_table(
        pa.table({"road_id": np.arange(N_SEGMENTS, dtype=np.int64),
                  "seg_id": np.zeros(N_SEGMENTS, dtype=np.int32),
                  "ax": segs[:, 0], "ay": segs[:, 1],
                  "bx": segs[:, 2], "by": segs[:, 3]}),
        os.path.join(out_dir, "segments.parquet"),
    )
    country = np.full(N_POINTS, "", dtype=object)
    for cc, ring in harness_rings().items():
        inside = _even_odd_inside(lon, lat, ring) & (country == "")
        country[inside] = cc
    near = _near_any_segment(lon, lat, segs, CUTOFF_M)
    ref = {}
    for cc in sorted(set(country) - {""}):
        sel = country == cc
        ref[cc] = {"n_points": int(sel.sum()), "n_near": int((sel & near).sum())}
    _write_json(os.path.join(out_dir, "reference.json"),
                {"per_country": ref, "input_rows": N_POINTS,
                 "near_share": float(near.mean())})


# ---------------------------------------------------------------------------
# image_rai
# ---------------------------------------------------------------------------


def _tile_ids(seed: int) -> list[str]:
    # with_geo parses the digits after "img" as the tile index; ids ending
    # in '7' (every tenth) are the engine's hot-cell ids
    return [f"img{seed % 10_000:04d}{i:08d}" for i in range(N_TILES)]


def _roads(seed: int) -> list[dict]:
    from sdg_engine import fixtures as FX

    rng = np.random.default_rng([seed, 3])
    recs = []
    for r in range(int(N_TILES * ROADS_PER_TILE)):
        n_pts = int(rng.integers(2, 41))
        start = rng.uniform(0.0, 10.0, 2)
        if r % HOT_ROAD_EVERY == 0:
            start = 2.5 + rng.uniform(-0.01, 0.01, 2)
        steps = rng.uniform(-0.02, 0.02, size=(n_pts - 1, 2))
        pts = np.clip(np.concatenate([[start], steps]).cumsum(axis=0),
                      0.0, 10.0 - 1e-9)
        if r % 20 == 19 and n_pts >= 4:
            pts = np.concatenate([pts, pts[:1]])  # closed ring
        kind = FX.ROAD_KINDS[r % len(FX.ROAD_KINDS)]
        recs.append({
            "road_id": r,
            "country_code": str(FX.country_of_points(pts[:1, 0], pts[:1, 1])[0]),
            "kind": kind,
            "coords": [{"x": float(x), "y": float(y)} for x, y in pts],
            "tags": {"highway": kind,
                     "surface": FX.SURFACES[r % len(FX.SURFACES)]},
        })
    return recs


def build_images(out_dir: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_engine import fixtures as FX
    from sdg_engine.codecs import encode_image
    from sdg_engine.jobs.rai import CUTOFF_M as TILE_CUTOFF_M
    from sdg_engine.ops.raster import tile_summary
    from sdg_engine.phash import phash64

    roads = _roads(seed)
    segs = np.array([(a["x"], a["y"], b["x"], b["y"])
                     for r in roads for a, b in zip(r["coords"][:-1], r["coords"][1:])])
    fmts = FX.FMTS + ["qnt"]
    recs, lons, lats, pops = [], [], [], []
    for i, image_id in enumerate(_tile_ids(seed)):
        idx = int(image_id[3:])
        lon, lat = FX.lonlat_of(image_id)
        w = h = TILE_SIZES[i % len(TILE_SIZES)]
        fmt = fmts[i % len(fmts)]
        px = FX.make_image_pixels(idx, lon, lat, w, h)
        data = encode_image(px, fmt)
        recs.append((image_id, data, np.int32(w), np.int32(h), fmt,
                     f"synthetic scene {idx} in a seeded world", np.int64(phash64(px))))
        xmin, ymin, xmax, ymax = FX.footprint_of(image_id, idx)
        # only segments whose bbox meets the footprint can burn a pixel
        hit = ((np.minimum(segs[:, 0], segs[:, 2]) <= xmax)
               & (np.maximum(segs[:, 0], segs[:, 2]) >= xmin)
               & (np.minimum(segs[:, 1], segs[:, 3]) <= ymax)
               & (np.maximum(segs[:, 1], segs[:, 3]) >= ymin))
        pop_total, pop_near, _, _ = tile_summary(
            image_id, data, fmt, w, h, xmin, ymin, xmax, ymax, segs[hit],
            TILE_CUTOFF_M)
        lons.append(lon)
        lats.append(lat)
        pops.append((pop_total, pop_near))
    import pandas as pd

    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(
            recs, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]),
            preserve_index=False),
        os.path.join(out_dir, "images.parquet"),
        row_group_size=1024,
    )
    pq.write_table(pa.Table.from_pylist(roads), os.path.join(out_dir, "roads.parquet"))
    country = FX.country_of_points(np.array(lons), np.array(lats))
    ref = {}
    for cc in sorted(set(country)):
        sel = [p for p, c in zip(pops, country) if c == cc]
        pop_total = sum(p[0] for p in sel)
        pop_near = sum(p[1] for p in sel)
        ref[cc] = {"n_images": len(sel), "n_near": sum(1 for p in sel if p[1] > 0),
                   "pop_total": pop_total, "pop_near": pop_near,
                   "rai": pop_near / pop_total}
    _write_json(os.path.join(out_dir, "reference.json"),
                {"per_country": ref, "input_rows": N_TILES,
                 "n_forgotten": sum(1 for p in pops if p[1] == 0)})


BUILDERS = {"points_rai": build_points, "image_rai": build_images}
