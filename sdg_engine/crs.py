"""General CRS reprojection (SURVEY.md §2.8 X6; r04) — the reference
reprojects rasters between arbitrary CRSs via proj4; this module
implements the projection family that covers the WorldPop/OSM workflow
from the PUBLIC formulas (Snyder, "Map Projections — A Working
Manual", USGS PP 1395; EPSG guidance note 7-2):

* EPSG:4326 ⇄ EPSG:3857 web-mercator lives in geom.py (r03).
* Transverse Mercator (ellipsoidal, 6th-order Krüger/Snyder series) —
  the projection behind every UTM zone (EPSG:326xx/327xx).
* Lambert Conformal Conic 2SP (EPSG method 9802).
* A tiny registry + ``transform(src, dst, x, y)`` routing through
  lonlat, and an Arrow-vectorized DataFrame operator.

All numpy-vectorized; transcendental functions are NOT cross-engine
bit-stable, so correctness is pinned by round-trip (< 1e-6 m) and
known-anchor pytest gates rather than DuckDB oracles (the same policy
as the r03 web-mercator transform).  The raster WARP built on top
(ops/payload.warp_to_3857) produces integer pixels, which ARE
hash-stable — its harness query is golden-oracle-checked.
"""

from __future__ import annotations

import numpy as np

# WGS84 ellipsoid (public constants)
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)  # first eccentricity squared


def _asarr(x):
    return np.asarray(x, dtype=np.float64)


# ---------------------------------------------------------------------------
# Transverse Mercator (Snyder 1987, eqs. 8-9..8-17 / 8-18..8-25)
# ---------------------------------------------------------------------------


def _tm_meridian_arc(lat: np.ndarray) -> np.ndarray:
    """Meridian distance from equator, Snyder eq. 3-21 (series in e²)."""
    e2 = WGS84_E2
    e4 = e2 * e2
    e6 = e4 * e2
    return WGS84_A * (
        (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * lat
        - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * np.sin(2 * lat)
        + (15 * e4 / 256 + 45 * e6 / 1024) * np.sin(4 * lat)
        - (35 * e6 / 3072) * np.sin(6 * lat)
    )


# UTM scale factor and false easting; the false northing is 0 (the
# northern-hemisphere convention of the engine's 0..10° world patch).
UTM_K0 = 0.9996
UTM_FALSE_E = 500_000.0


def tmerc_forward(lon, lat, lon0: float):
    """(deg, deg) → (easting, northing) for the UTM Transverse Mercator
    zone centred on ``lon0`` (k0=0.9996, FE=500 km, FN=0)."""
    lon = np.radians(_asarr(lon))
    lat = np.radians(_asarr(lat))
    e2 = WGS84_E2
    ep2 = e2 / (1 - e2)
    sin_lat = np.sin(lat)
    cos_lat = np.cos(lat)
    n = WGS84_A / np.sqrt(1 - e2 * sin_lat * sin_lat)
    t = np.tan(lat) ** 2
    c = ep2 * cos_lat * cos_lat
    a_ = (lon - np.radians(lon0)) * cos_lat
    m = _tm_meridian_arc(lat)
    easting = UTM_FALSE_E + UTM_K0 * n * (
        a_
        + (1 - t + c) * a_**3 / 6
        + (5 - 18 * t + t * t + 72 * c - 58 * ep2) * a_**5 / 120
    )
    northing = UTM_K0 * (
        m
        + n * np.tan(lat) * (
            a_**2 / 2
            + (5 - t + 9 * c + 4 * c * c) * a_**4 / 24
            + (61 - 58 * t + t * t + 600 * c - 330 * ep2) * a_**6 / 720
        )
    )
    return easting, northing


def tmerc_inverse(easting, northing, lon0: float):
    """Inverse UTM Transverse Mercator (Snyder eqs. 8-18..8-25)."""
    x = _asarr(easting) - UTM_FALSE_E
    y = _asarr(northing)
    e2 = WGS84_E2
    ep2 = e2 / (1 - e2)
    e1 = (1 - np.sqrt(1 - e2)) / (1 + np.sqrt(1 - e2))
    m = y / UTM_K0
    mu = m / (WGS84_A * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2**3 / 256))
    lat1 = (
        mu
        + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu)
        + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu)
        + (151 * e1**3 / 96) * np.sin(6 * mu)
        + (1097 * e1**4 / 512) * np.sin(8 * mu)
    )
    sin1 = np.sin(lat1)
    cos1 = np.cos(lat1)
    c1 = ep2 * cos1 * cos1
    t1 = np.tan(lat1) ** 2
    n1 = WGS84_A / np.sqrt(1 - e2 * sin1 * sin1)
    r1 = WGS84_A * (1 - e2) / (1 - e2 * sin1 * sin1) ** 1.5
    d = x / (n1 * UTM_K0)
    lat = lat1 - (n1 * np.tan(lat1) / r1) * (
        d * d / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * ep2) * d**4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * ep2 - 3 * c1 * c1)
        * d**6 / 720
    )
    lon = np.radians(lon0) + (
        d
        - (1 + 2 * t1 + c1) * d**3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * ep2 + 24 * t1 * t1)
        * d**5 / 120
    ) / cos1
    return np.degrees(lon), np.degrees(lat)


def utm_zone(lon) -> np.ndarray | int:
    """UTM zone number for longitude(s) (1..60) — the ONE copy of the
    zone formula (scalar in, int out; array in, int array out)."""
    z = (np.floor((_asarr(lon) + 180.0) / 6.0).astype(np.int64)) % 60 + 1
    return int(z) if z.ndim == 0 else z


def utm_forward(lon, lat, zone: int | None = None):
    """→ (easting, northing, zone).  Northern-hemisphere convention for
    the engine's 0..10° world patch (FN=0).

    ``zone=None`` derives the zone from the data and RAISES if the
    batch spans more than one zone (r04 review: silently projecting a
    straddling batch in the first point's zone puts the others hundreds
    of km off) — pass an explicit zone to project a straddling batch
    into one grid deliberately."""
    lon = _asarr(lon)
    if zone is None:
        zones = np.unique(np.atleast_1d(utm_zone(lon)))
        if len(zones) > 1:
            raise ValueError(
                f"points span UTM zones {zones.tolist()} — pass an "
                "explicit zone to project into a single grid"
            )
        zone = int(zones[0])
    lon0 = zone * 6.0 - 183.0
    e, n = tmerc_forward(lon, _asarr(lat), lon0)
    return e, n, zone


def utm_inverse(easting, northing, zone: int):
    lon0 = zone * 6.0 - 183.0
    return tmerc_inverse(easting, northing, lon0)


# ---------------------------------------------------------------------------
# Lambert Conformal Conic, 2 standard parallels (Snyder eqs. 15-1..15-11;
# EPSG method 9802)
# ---------------------------------------------------------------------------


def _lcc_consts(lat1: float, lat2: float, lat0: float):
    e = np.sqrt(WGS84_E2)

    def m(phi):
        return np.cos(phi) / np.sqrt(1 - WGS84_E2 * np.sin(phi) ** 2)

    def t(phi):
        es = e * np.sin(phi)
        return np.tan(np.pi / 4 - phi / 2) / ((1 - es) / (1 + es)) ** (e / 2)

    p1, p2, p0 = np.radians(lat1), np.radians(lat2), np.radians(lat0)
    if lat1 == lat2:
        n = np.sin(p1)
    else:
        n = (np.log(m(p1)) - np.log(m(p2))) / (np.log(t(p1)) - np.log(t(p2)))
    f = m(p1) / (n * t(p1) ** n)
    rho0 = WGS84_A * f * t(p0) ** n
    return n, f, rho0, e, t


def lcc_forward(lon, lat, lat1: float, lat2: float, lat0: float,
                lon0: float, false_e: float = 0.0, false_n: float = 0.0):
    n, f, rho0, e, t = _lcc_consts(lat1, lat2, lat0)
    phi = np.radians(_asarr(lat))
    es = e * np.sin(phi)
    tv = np.tan(np.pi / 4 - phi / 2) / ((1 - es) / (1 + es)) ** (e / 2)
    rho = WGS84_A * f * tv**n
    theta = n * (np.radians(_asarr(lon)) - np.radians(lon0))
    return (false_e + rho * np.sin(theta),
            false_n + rho0 - rho * np.cos(theta))


def lcc_inverse(x, y, lat1: float, lat2: float, lat0: float,
                lon0: float, false_e: float = 0.0, false_n: float = 0.0):
    n, f, rho0, e, _t = _lcc_consts(lat1, lat2, lat0)
    x = _asarr(x) - false_e
    y = _asarr(y) - false_n
    rho = np.sign(n) * np.sqrt(x * x + (rho0 - y) ** 2)
    theta = np.arctan2(np.sign(n) * x, np.sign(n) * (rho0 - y))
    tv = (rho / (WGS84_A * f)) ** (1.0 / n)
    # iterate phi = pi/2 - 2*atan(t * ((1-e sinφ)/(1+e sinφ))^(e/2))
    phi = np.pi / 2 - 2 * np.arctan(tv)
    for _ in range(8):
        es = e * np.sin(phi)
        phi = np.pi / 2 - 2 * np.arctan(tv * ((1 - es) / (1 + es)) ** (e / 2))
    return np.degrees(theta / n + np.radians(lon0)), np.degrees(phi)


# ---------------------------------------------------------------------------
# Registry + DataFrame operator
# ---------------------------------------------------------------------------

# CRS spec: "EPSG:4326" | "EPSG:3857" | "UTM:<zone>" |
# "LCC:<lat1>,<lat2>,<lat0>,<lon0>"


def _to_lonlat(crs: str, x, y):
    if crs == "EPSG:4326":
        return _asarr(x), _asarr(y)
    if crs == "EPSG:3857":
        from .geom import webmercator_to_lonlat

        return webmercator_to_lonlat(x, y)
    if crs.startswith("UTM:"):
        return utm_inverse(x, y, int(crs[4:]))
    if crs.startswith("LCC:"):
        p = [float(v) for v in crs[4:].split(",")]
        return lcc_inverse(x, y, *p)
    raise ValueError(f"unknown CRS {crs!r}")


def _from_lonlat(crs: str, lon, lat):
    if crs == "EPSG:4326":
        return _asarr(lon), _asarr(lat)
    if crs == "EPSG:3857":
        from .geom import lonlat_to_webmercator

        return lonlat_to_webmercator(lon, lat)
    if crs.startswith("UTM:"):
        e, n, _z = utm_forward(lon, lat, int(crs[4:]))
        return e, n
    if crs.startswith("LCC:"):
        p = [float(v) for v in crs[4:].split(",")]
        return lcc_forward(lon, lat, *p)
    raise ValueError(f"unknown CRS {crs!r}")


def transform(src: str, dst: str, x, y):
    """Point transform src→dst, routed through lonlat (proj4 pipeline
    shape).  Vectorized over numpy arrays."""
    lon, lat = _to_lonlat(src, x, y)
    return _from_lonlat(dst, lon, lat)


def with_transformed(df, src: str, dst: str, x_col: str, y_col: str):
    """DataFrame operator: append (tx, ty) = transform(src→dst).

    Arrow-vectorized pandas UDF (transcendentals → no SQL codegen path;
    one batch-at-a-time numpy call, no per-row Python)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<x: double, y: double>")
    def _tf(xs, ys):  # (Series, Series) -> DataFrame; hints omitted —
        # pyspark's hint-inference rejects the struct-return signature
        tx, ty = transform(src, dst, xs.to_numpy(), ys.to_numpy())
        return pd.DataFrame({"x": tx, "y": ty})

    return (
        df.withColumn("_t", _tf(F.col(x_col), F.col(y_col)))
        .withColumn("tx", F.col("_t.x"))
        .withColumn("ty", F.col("_t.y"))
        .drop("_t")
    )


# ---------------------------------------------------------------------------
# Raster warp (nearest-neighbour) — GeoTrellis tile.reproject analogue
# ---------------------------------------------------------------------------


def warp_tile(px: np.ndarray, bounds_lonlat, dst_crs: str,
              out_w: int, out_h: int) -> np.ndarray:
    """Warp one (h, w, 3) tile from its plate-carrée lonlat footprint to
    a regular ``dst_crs`` grid covering the same footprint's projected
    bbox — nearest-neighbour sampling (integer output ⇒ hash-stable, so
    the harness query over this op IS golden-oracle-checked).

    Per-pixel: target grid centres → inverse transform to lonlat →
    floor-index into the source tile.  Pixels whose inverse image falls
    outside the footprint are zero-filled (NODATA analogue)."""
    h, w, _ = px.shape
    xmin, ymin, xmax, ymax = bounds_lonlat
    # projected bbox from the footprint's corner/edge points
    edge = np.linspace(0.0, 1.0, 9)
    bx = np.concatenate([xmin + (xmax - xmin) * edge,
                         np.full(9, xmax),
                         xmax - (xmax - xmin) * edge,
                         np.full(9, xmin)])
    by = np.concatenate([np.full(9, ymin),
                         ymin + (ymax - ymin) * edge,
                         np.full(9, ymax),
                         ymax - (ymax - ymin) * edge])
    px_x, px_y = _from_lonlat(dst_crs, bx, by)
    pxmin, pxmax = float(px_x.min()), float(px_x.max())
    pymin, pymax = float(px_y.min()), float(px_y.max())
    # target grid centres (row 0 = top = max projected y)
    gx = pxmin + (pxmax - pxmin) * (np.arange(out_w) + 0.5) / out_w
    gy = pymax - (pymax - pymin) * (np.arange(out_h) + 0.5) / out_h
    gxx, gyy = np.meshgrid(gx, gy)
    lon, lat = _to_lonlat(dst_crs, gxx.ravel(), gyy.ravel())
    cs = np.floor((lon - xmin) / (xmax - xmin) * w).astype(np.int64)
    rs = np.floor((ymax - lat) / (ymax - ymin) * h).astype(np.int64)
    inside = (cs >= 0) & (cs < w) & (rs >= 0) & (rs < h)
    out = np.zeros((out_h * out_w, 3), dtype=np.uint8)
    out[inside] = px[rs[inside], cs[inside]]
    return out.reshape(out_h, out_w, 3)
