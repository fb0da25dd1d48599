"""General CRS reprojection (crs.py, r04) — round-trip, anchor, and
independent-integration gates.  Transcendental transforms are pinned
here (not DuckDB-oracle-checked — same policy as web-mercator r03);
the integer-output raster warp IS oracle-checked via its golden."""

import numpy as np
import pytest

from sdg_engine import crs as C


RNG = np.random.default_rng(5)


def _patch_points(n=200, lon_range=(0.5, 6.4)):
    lon = RNG.uniform(*lon_range, n)
    lat = RNG.uniform(0.5, 9.5, n)
    return lon, lat


def test_utm_central_meridian_anchors():
    # on the central meridian: easting exactly FE, northing = k0 * M(lat)
    e, n, zone = C.utm_forward(np.array([3.0]), np.array([0.0]), zone=31)
    assert zone == 31
    assert abs(e[0] - 500_000.0) < 1e-6
    assert abs(n[0]) < 1e-6  # equator
    e2, n2, _ = C.utm_forward(np.array([3.0]), np.array([5.0]), zone=31)
    assert abs(e2[0] - 500_000.0) < 1e-6
    # ~111 km per degree near the equator, scaled by k0
    assert 5 * 110_000 < n2[0] < 5 * 112_000


def test_tm_meridian_arc_vs_numerical_integration():
    """INDEPENDENT check of the series backbone: M(lat) must match the
    numerically integrated meridian arc ∫ a(1−e²)/(1−e²sin²φ)^{3/2} dφ
    to sub-millimetre."""
    for lat_deg in (1.0, 5.0, 9.0, 45.0):
        lat = np.radians(lat_deg)
        phi = np.linspace(0.0, lat, 200_001)
        integrand = (
            C.WGS84_A * (1 - C.WGS84_E2)
            / (1 - C.WGS84_E2 * np.sin(phi) ** 2) ** 1.5
        )
        want = np.trapz(integrand, phi)  # numpy 1.26: trapz (not trapezoid)
        got = C._tm_meridian_arc(np.array([lat]))[0]
        assert abs(got - want) < 1e-3, (lat_deg, got, want)


def test_utm_roundtrip_sub_centimetre():
    lon, lat = _patch_points()
    e, n, _ = C.utm_forward(lon, lat, zone=31)
    lon2, lat2 = C.utm_inverse(e, n, 31)
    # 1e-7 deg ≈ 1 cm
    assert np.abs(lon2 - lon).max() < 1e-7
    assert np.abs(lat2 - lat).max() < 1e-7


def test_lcc_roundtrip_and_parallel_scale():
    p = dict(lat1=3.0, lat2=7.0, lat0=5.0, lon0=5.0)
    lon, lat = _patch_points(lon_range=(0.5, 9.5))
    x, y = C.lcc_forward(lon, lat, **p)
    lon2, lat2 = C.lcc_inverse(x, y, **p)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9
    # on a standard parallel the projection is true to scale: projected
    # distance of a small arc along lat1 == ellipsoidal arc ν·cosφ·dλ
    dlam = 1e-4
    x1, y1 = C.lcc_forward(np.array([5.0]), np.array([3.0]), **p)
    x2, y2 = C.lcc_forward(np.array([5.0 + dlam]), np.array([3.0]), **p)
    proj_d = float(np.hypot(x2 - x1, y2 - y1)[0])
    phi = np.radians(3.0)
    nu = C.WGS84_A / np.sqrt(1 - C.WGS84_E2 * np.sin(phi) ** 2)
    true_d = nu * np.cos(phi) * np.radians(dlam)
    assert abs(proj_d / true_d - 1.0) < 1e-9
    # north orientation: +lat ⇒ +y near the origin parallel
    _x3, y3 = C.lcc_forward(np.array([5.0]), np.array([5.1]), **p)
    _x4, y4 = C.lcc_forward(np.array([5.0]), np.array([5.0]), **p)
    assert y3[0] > y4[0]


def test_transform_routing_composes():
    lon, lat = _patch_points(50)
    x, y = C.transform("EPSG:4326", "EPSG:3857", lon, lat)
    e, n = C.transform("EPSG:3857", "UTM:31", x, y)
    lon2, lat2 = C.transform("UTM:31", "EPSG:4326", e, n)
    assert np.abs(lon2 - lon).max() < 1e-7
    assert np.abs(lat2 - lat).max() < 1e-7
    with pytest.raises(ValueError, match="unknown CRS"):
        C.transform("EPSG:9999", "EPSG:4326", lon, lat)


def test_with_transformed_matches_numpy(spark):
    import pandas as pd

    lon, lat = _patch_points(100)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got = (
        C.with_transformed(df, "EPSG:4326", "UTM:31", "lon", "lat")
        .orderBy("lon")
        .toPandas()
    )
    order = np.argsort(lon)
    e, n, _ = C.utm_forward(lon[order], lat[order], zone=31)
    assert np.abs(got["tx"].to_numpy() - e).max() == 0.0  # same numpy path
    assert np.abs(got["ty"].to_numpy() - n).max() == 0.0


def test_warp_identity_4326():
    from sdg_engine.fixtures import make_image_pixels

    px = make_image_pixels(3, 2.5, 2.5, 48, 32)
    out = C.warp_tile(px, (2.0, 2.0, 3.0, 3.0), "EPSG:4326", 48, 32)
    assert (out == px).all()


def test_warp_3857_preserves_columns_and_fills():
    """x is affine in lon under web-mercator, so with out_w == src_w a
    warped column samples exactly its source column; rows resample."""
    from sdg_engine.fixtures import make_image_pixels

    px = make_image_pixels(9, 5.0, 5.0, 32, 32)
    out = C.warp_tile(px, (4.9, 4.9, 5.1, 5.1), "EPSG:3857", 32, 32)
    assert (out != 0).any(axis=2).mean() > 0.99
    for c_ in (0, 7, 31):
        src_vals = {tuple(v) for v in px[:, c_, :]}
        for r in range(32):
            if (out[r, c_] != 0).any():
                assert tuple(out[r, c_]) in src_vals
