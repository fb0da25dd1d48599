"""Deterministic synthetic fixtures (FIXTURES.md; SURVEY.md §5, M0).

Everything derives from ``numpy.random.default_rng(seed=42)`` and
pure hashing of ids — no wall clock, no external data.  The images
table has EXACTLY the driver's hinted shape (BASELINE.json:15):

    images(image_id string, bytes binary, w int32, h int32,
           fmt string, caption string, phash int64)

The georeferenced *footprint* is NOT a column: it derives from
``image_id`` by :func:`footprint_of` (blake2b → lon/lat, FIXTURES.md
§1), so the engine accepts the pure image+caption schema and all geo
columns are engine-derived.
"""

from __future__ import annotations

import hashlib

import numpy as np

from . import WORLD_MIN, WORLD_SIZE
from .codecs import encode_image
from .phash import phash64

SEED = 42
COUNTRY_CODES = ["AAA", "BBB", "CCC", "DDD"]
ROAD_KINDS = [
    "motorway",
    "trunk",
    "primary",
    "secondary",
    "tertiary",
    "unclassified",
    "residential",
    "track",
]
SURFACES = ["asphalt", "concrete", "gravel", "dirt", "unpaved", "paved"]
# jpg joined in SPEC v2 (round 3): a real image+caption table is
# JPEG-dominated, so the lossy gate must cover it (jpeg.py).  tif
# joined in SPEC v3 (round 4): the reference's primary raster input is
# GeoTIFF (tiff.py — deflate strips, lossless).  Bump
# FIXTURE_SPEC_VERSION whenever the generated bytes change — fixture
# caches and goldens are keyed on it.
FMTS = ["png", "ppm", "raw", "jpg", "tif"]
FIXTURE_SPEC_VERSION = 3
HOT_LON, HOT_LAT = 2.5, 2.5  # dense "urban" cell target (skew fixture)


def _sizes(sf: float) -> tuple[int, int]:
    n_images = max(10, int(round(1_000_000 * sf)))  # sf0.001 → 1000
    n_roads = max(4, int(round(200_000 * sf)))  # sf0.001 → 200
    return n_images, n_roads


# ---------------------------------------------------------------------------
# Footprint derivation — part of the ENGINE SPEC (FIXTURES.md §1)
# ---------------------------------------------------------------------------


def lonlat_of(image_id: str) -> tuple[float, float]:
    """blake2b(image_id, 8 bytes) → two u32 halves → lon/lat in [0,10)."""
    d = hashlib.blake2b(image_id.encode("utf-8"), digest_size=8).digest()
    a = int.from_bytes(d[:4], "big")
    b = int.from_bytes(d[4:], "big")
    lon = WORLD_MIN + WORLD_SIZE * a / 2**32
    lat = WORLD_MIN + WORLD_SIZE * b / 2**32
    # skew: ids ending in '7' are remapped near the hot urban cell,
    # keeping a deterministic sub-cell offset so points stay distinct
    if image_id.endswith("7"):
        lon = HOT_LON + (a % 1000) * 1e-6
        lat = HOT_LAT + (b % 1000) * 1e-6
    return lon, lat


def footprint_of(image_id: str, i: int) -> tuple[float, float, float, float]:
    """Axis-aligned quad (xmin, ymin, xmax, ymax) centered on lonlat."""
    lon, lat = lonlat_of(image_id)
    half = 0.004 * (1.0 + (i % 5) / 4.0)
    return lon - half, lat - half, lon + half, lat + half


def lonlat_batch(image_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized-ish batch version (hash loop in C via hashlib)."""
    lons = np.empty(len(image_ids), dtype=np.float64)
    lats = np.empty(len(image_ids), dtype=np.float64)
    for j, s in enumerate(image_ids):
        lons[j], lats[j] = lonlat_of(s)
    return lons, lats


# ---------------------------------------------------------------------------
# Tables
# ---------------------------------------------------------------------------


def make_image_pixels(i: int, lon: float, lat: float, w: int, h: int) -> np.ndarray:
    """Deterministic smooth gradient keyed on (i, lon, lat) + seeded noise."""
    rng = np.random.default_rng(SEED + i)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (
        (xx / max(w - 1, 1)) * (64 + (i * 37) % 128)
        + (yy / max(h - 1, 1)) * (64 + (i * 53) % 128)
        + 16 * np.sin(xx / 7.0 + lon)
        + 16 * np.cos(yy / 9.0 + lat)
    )
    img = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        chan = base + c * 20 + rng.normal(0, 2.0, size=(h, w))
        img[:, :, c] = np.clip(chan, 0, 255).astype(np.uint8)
    return img


def images_pdf(sf: float):
    """pandas.DataFrame of the images table at scale ``sf``."""
    import pandas as pd

    n, n_roads = _sizes(sf)
    fmts = FMTS + ["qnt"]
    recs = []
    size_mix = [64] if sf <= 0.001 else [32, 64, 128]
    for i in range(n):
        image_id = f"img{i:012d}"
        lon, lat = lonlat_of(image_id)
        w = h = size_mix[i % len(size_mix)]
        fmt = fmts[i % len(fmts)]
        px = make_image_pixels(i, lon, lat, w, h)
        data = encode_image(px, fmt)
        cc = COUNTRY_CODES[(i * 7) % len(COUNTRY_CODES)]
        recs.append(
            (
                image_id,
                data,
                np.int32(w),
                np.int32(h),
                fmt,
                f"synthetic scene {i} near road {i % n_roads} in country {cc}",
                np.int64(phash64(px)),
            )
        )
    return pd.DataFrame(
        recs, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def roads_records(sf: float) -> list[dict]:
    """Road polylines: seeded random walks, 1-in-20 closed rings."""
    _, n_roads = _sizes(sf)
    rng = np.random.default_rng(SEED)
    recs = []
    for r in range(n_roads):
        n_pts = int(rng.integers(2, 41))
        x0 = float(rng.uniform(WORLD_MIN, WORLD_MIN + WORLD_SIZE))
        y0 = float(rng.uniform(WORLD_MIN, WORLD_MIN + WORLD_SIZE))
        steps = rng.uniform(-0.02, 0.02, size=(n_pts - 1, 2))
        pts = np.concatenate([[[x0, y0]], steps]).cumsum(axis=0)
        pts = np.clip(pts, WORLD_MIN, WORLD_MIN + WORLD_SIZE - 1e-9)
        if r % 20 == 19 and n_pts >= 4:
            pts = np.concatenate([pts, pts[:1]])  # closed ring
        kind = ROAD_KINDS[r % len(ROAD_KINDS)]
        cc = country_of_points(pts[:1, 0], pts[:1, 1])[0]
        recs.append(
            {
                "road_id": r,
                "country_code": cc,
                "kind": kind,
                "coords": [{"x": float(x), "y": float(y)} for x, y in pts],
                "tags": {"highway": kind, "surface": SURFACES[r % len(SURFACES)]},
            }
        )
    return recs


def country_rings() -> dict[str, np.ndarray]:
    """2×2 tiling of the world with seeded jittered shared borders.

    Borders are polylines (not straight lines) so exact ray-cast PIP
    is required, not just cell lookup (FIXTURES.md §3).  Rings are
    closed CCW (n, 2) arrays.
    """
    rng = np.random.default_rng(SEED + 777)
    n_seg = 16
    t = np.linspace(0.0, 10.0, n_seg + 1)
    # vertical border x ≈ 5 (shared by AAA|BBB and CCC|DDD), jittered per y
    vx = 5.0 + rng.uniform(-0.35, 0.35, size=n_seg + 1)
    vx[0] = 5.0
    vx[-1] = 5.0
    # horizontal border y ≈ 5, jittered per x
    hy = 5.0 + rng.uniform(-0.35, 0.35, size=n_seg + 1)
    hy[0] = 5.0
    hy[-1] = 5.0
    # mid crossing point consistency: force borders to meet at (5,5)
    mid = n_seg // 2
    vx[mid] = 5.0
    hy[mid] = 5.0
    vert = np.stack([vx, t], axis=1)  # bottom→top along x≈5
    horz = np.stack([t, hy], axis=1)  # left→right along y≈5
    vert_lo = vert[: mid + 1]  # y ∈ [0,5]
    vert_hi = vert[mid:]  # y ∈ [5,10]
    horz_lo = horz[: mid + 1]  # x ∈ [0,5]
    horz_hi = horz[mid:]  # x ∈ [5,10]

    def ring(parts: list[np.ndarray]) -> np.ndarray:
        pts = np.concatenate(parts)
        # dedupe consecutive duplicates, close
        keep = np.ones(len(pts), dtype=bool)
        keep[1:] = np.any(np.diff(pts, axis=0) != 0, axis=1)
        pts = pts[keep]
        if not np.array_equal(pts[0], pts[-1]):
            pts = np.concatenate([pts, pts[:1]])
        return pts

    # CCW rings. AAA = SW, BBB = SE, CCC = NW, DDD = NE
    aaa = ring(
        [
            np.array([[0.0, 0.0], [5.0, 0.0]]),
            vert_lo,  # (5,0)… up jittered to (5,5)
            horz_lo[::-1],  # (5,5) back left jittered to (0,5)
            np.array([[0.0, 5.0], [0.0, 0.0]]),
        ]
    )
    bbb = ring(
        [
            np.array([[5.0, 0.0], [10.0, 0.0], [10.0, 5.0]]),
            horz_hi[::-1],  # (10,5)→(5,5) jittered
            vert_lo[::-1],  # (5,5)→(5,0) jittered
        ]
    )
    ccc = ring(
        [
            np.array([[0.0, 5.0]]),
            horz_lo,  # (0,5)→(5,5) jittered
            vert_hi,  # (5,5)→(5,10) jittered
            np.array([[5.0, 10.0], [0.0, 10.0], [0.0, 5.0]]),
        ]
    )
    ddd = ring(
        [
            vert_hi[::-1],  # (5,10)→(5,5)
            horz_hi,  # (5,5)→(10,5)
            np.array([[10.0, 5.0], [10.0, 10.0], [5.0, 10.0]]),
        ]
    )
    return {"AAA": aaa, "BBB": bbb, "CCC": ccc, "DDD": ddd}


_RINGS_CACHE: dict[str, np.ndarray] | None = None


def get_country_rings() -> dict[str, np.ndarray]:
    global _RINGS_CACHE
    if _RINGS_CACHE is None:
        _RINGS_CACHE = country_rings()
    return _RINGS_CACHE


def country_of_points(px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Numpy oracle for PIP country assignment (golden generator)."""
    from .geom import points_in_polygon

    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.array(["???"] * len(px), dtype=object)
    for cc, ring_arr in get_country_rings().items():
        inside = points_in_polygon(px, py, ring_arr)
        out[inside & (out == "???")] = cc
    # boundary fallback (measure-zero): nearest quadrant by center
    unk = out == "???"
    if unk.any():
        qx = np.where(px[unk] < 5.0, 0, 1)
        qy = np.where(py[unk] < 5.0, 0, 2)
        names = np.array(["AAA", "BBB", "CCC", "DDD"], dtype=object)
        out[unk] = names[qx + qy]
    return out


def countries_records() -> list[dict]:
    return [
        {
            "country_code": cc,
            "name": f"Country {cc}",
            "ring": [{"x": float(x), "y": float(y)} for x, y in ring_arr],
        }
        for cc, ring_arr in get_country_rings().items()
    ]


def write_fixture_parquet(out_dir: str, sf: float) -> None:
    """Write images/roads/countries parquet at ``out_dir`` (idempotent).

    ATOMIC publish (r03 review — same class as the dim-table race
    ADVICE r02 fixed): content is written into a private sibling temp
    dir and committed with one ``os.rename``, so two concurrent
    processes (pytest + bench) can never interleave writes into the
    same files or pin a torn fixture; the loser discards its copy (both
    are deterministic functions of the SPEC, so either is correct)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .storage import publish_dir  # lazy: importing fixtures stays Spark-free

    def _write(tmp: str) -> None:
        # small row groups: a single-row-group 185 MB binary-column file
        # is unsplittable and OOMs a default-1g-heap session's scan task
        pq.write_table(
            pa.Table.from_pandas(images_pdf(sf), preserve_index=False),
            os.path.join(tmp, "images.parquet"),
            row_group_size=1024,
        )
        pq.write_table(
            pa.Table.from_pylist(roads_records(sf)),
            os.path.join(tmp, "roads.parquet"),
        )
        pq.write_table(
            pa.Table.from_pylist(countries_records()),
            os.path.join(tmp, "countries.parquet"),
        )

    publish_dir(out_dir, _write)
