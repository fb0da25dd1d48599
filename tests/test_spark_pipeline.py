"""M1/M2 Spark-pipeline tests: engine operators vs independent numpy
oracles on fixture data, plus the driver-shaped smoke (SURVEY.md §5)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sdg_engine import cells as C
from sdg_engine import fixtures as FX
from sdg_engine.geom import point_polyline_dist_m
from sdg_engine.ops import spatial as SP

N_IMG = 120


@pytest.fixture(scope="module")
def geo(spark):
    ids = [f"img{i:012d}" for i in range(N_IMG)]
    images = spark.createDataFrame(pd.DataFrame({"image_id": ids}))
    return SP.with_geo(images)


@pytest.fixture(scope="module")
def oracle_lonlat():
    ids = np.array([f"img{i:012d}" for i in range(N_IMG)])
    return FX.lonlat_batch(ids)


def test_with_geo_matches_spec(geo, oracle_lonlat):
    pdf = geo.orderBy("image_id").toPandas()
    lons, lats = oracle_lonlat
    assert np.allclose(pdf["lon"].values, lons, atol=0, rtol=0)
    assert np.allclose(pdf["lat"].values, lats, atol=0, rtol=0)
    # footprint half-size rule
    i = np.arange(N_IMG)
    half = 0.004 * (1 + (i % 5) / 4.0)
    assert np.allclose(pdf["fp_xmax"].values - pdf["fp_xmin"].values, 2 * half)


def test_point_cell_matches_numpy(geo, oracle_lonlat):
    lons, lats = oracle_lonlat
    pc = SP.with_point_cell(geo, 12).orderBy("image_id").toPandas()
    assert np.array_equal(pc["cell_id"].values, C.point_cell(lons, lats, 12))


def test_cover_bbox_cells_matches_numpy(geo, oracle_lonlat):
    cov = (
        SP.cover_bbox_cells(geo, 11, "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax")
        .groupBy("image_id")
        .agg(F.sort_array(F.collect_list("cell_id")).alias("cells"))
        .orderBy("image_id")
        .toPandas()
    )
    pdf = geo.orderBy("image_id").toPandas()
    row, cid = C.cover_bbox(
        pdf["fp_xmin"].values, pdf["fp_ymin"].values,
        pdf["fp_xmax"].values, pdf["fp_ymax"].values, 11,
    )
    for j in range(N_IMG):
        want = np.sort(cid[row == j])
        got = np.array(cov["cells"][j])
        assert np.array_equal(got, want), f"row {j}"


def test_kring_matches_numpy(geo, oracle_lonlat):
    lons, lats = oracle_lonlat
    pts = SP.with_point_cell(geo, 9, keep_idx=True)
    ring = (
        SP.with_kring(pts, 9, 2, idx_cols=("cell_id_ix", "cell_id_iy"))
        .groupBy("image_id")
        .agg(F.sort_array(F.collect_list("ring_cell_id")).alias("cells"))
        .orderBy("image_id")
        .toPandas()
    )
    base = C.point_cell(lons, lats, 9)
    row, kc = C.kring(base, 2)
    for j in range(N_IMG):
        want = np.sort(kc[row == j])
        assert np.array_equal(np.array(ring["cells"][j]), want)


def test_knn_exact_vs_brute_force(spark, geo, oracle_lonlat):
    """J4 non-vacuous exactness: cell-pruned kNN == brute force."""
    lons, lats = oracle_lonlat
    recs = FX.roads_records(0.001)
    roads = spark.createDataFrame(recs)
    segs = SP.road_segments(roads)
    cutoff = 60000.0
    near = SP.knn_nearest_road(geo, segs, cutoff).orderBy("image_id").toPandas()
    ids = [f"img{i:012d}" for i in range(N_IMG)]
    oracle = {}
    for j in range(N_IMG):
        best = (1e18, -1)
        for r in recs:
            coords = np.array([[p["x"], p["y"]] for p in r["coords"]])
            d = point_polyline_dist_m(lons[j], lats[j], coords)
            if d < best[0]:
                best = (d, r["road_id"])
        if best[0] <= cutoff:
            oracle[ids[j]] = best
    assert len(near) == len(oracle) > 0
    got = near.set_index("image_id")
    for iid, (od, orid) in oracle.items():
        assert got.loc[iid, "road_id"] == orid
        assert abs(got.loc[iid, "dist_m"] - od) < 1e-6


def test_assign_countries_exact(spark, geo, oracle_lonlat):
    """J2: two-stage (compacted cells + ray-cast) == pure numpy PIP."""
    lons, lats = oracle_lonlat
    cc = (
        SP.assign_countries(geo, FX.get_country_rings(), 7)
        .orderBy("image_id")
        .toPandas()
    )
    want = FX.country_of_points(lons, lats)
    assert len(cc) == N_IMG
    assert list(cc["country_code"]) == list(want)


def test_forgotten_is_complement(spark, geo):
    segs = SP.road_segments(spark.createDataFrame(FX.roads_records(0.001)))
    near = SP.knn_nearest_road(geo, segs, 60000.0)
    forgotten = SP.forgotten_images(geo, near)
    assert near.count() + forgotten.count() == N_IMG


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"country_code", "n_points", "n_near", "rai"} <= cols
    q = E.queries()
    o = E.oracle_sql()
    # EQUALITY since r04: every registered query must have an oracle
    # (zero rows-only) — and no orphan oracles
    assert set(o) == set(q), set(o) ^ set(q)
    assert len(q) >= 20


def test_registry_families():
    """One registry: every query sits in exactly one family module, each
    oracle module holds exactly its own family's oracles, and every
    builder documents itself."""
    import importlib

    from sdg_engine.queries import FAMILIES, FAMILY, QUERIES

    seen: dict[str, str] = {}
    for fam in FAMILIES:
        qmod = importlib.import_module(f"sdg_engine.queries.{fam}")
        omod = importlib.import_module(f"sdg_engine.oracles.{fam}")
        for name in qmod.QUERIES:
            assert name not in seen, (name, seen.get(name), fam)
            seen[name] = fam
        names = set(omod.ORACLES)
        if hasattr(omod, "fixture_oracles"):
            lazy = set(omod.fixture_oracles())
            assert not names & lazy, names & lazy
            names |= lazy
        assert names == set(qmod.QUERIES), (fam, names ^ set(qmod.QUERIES))
    assert seen == FAMILY
    assert set(seen) == set(QUERIES)
    undocumented = [n for n, fn in QUERIES.items() if not (fn.__doc__ or "").strip()]
    assert not undocumented, undocumented


@pytest.mark.parametrize(
    "name",
    [
        "flagship_rai",
        "spatial_knn_nearest",
        "spatial_pip_country",
        "spatial_join_cells",
        "minhash_signatures",
        "ann_cosine_topk",
    ],
)
def test_oracle_parity_subset(spark, sf_dir, name):
    """Driver-shaped compare on the judge-critical queries (full sweep
    runs in paritycheck.check_all; kept to a subset here for runtime)."""
    from sdg_engine.oracles import ORACLES
    from sdg_engine.paritycheck import compare, run_oracle
    from sdg_engine.queries import QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    ok, msg = compare(sdf, run_oracle(ORACLES[name], sf_dir))
    assert ok, msg
