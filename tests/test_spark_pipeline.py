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
    """J2: two-stage (cell candidates + ray-cast) == pure numpy PIP."""
    lons, lats = oracle_lonlat
    cc = (
        SP.assign_countries(geo, FX.get_country_rings(), 7)
        .orderBy("image_id")
        .toPandas()
    )
    want = FX.country_of_points(lons, lats)
    assert len(cc) == N_IMG
    assert list(cc["country_code"]) == list(want)


def test_assign_countries_tells_apart_rings_with_equal_sums(spark):
    """J2's cell table is keyed on the ring bytes: a square and the same
    square shifted by (+d, -d) have one code, one vertex count and one
    coordinate sum, yet each call must assign exactly the points inside
    its own square (numpy brute force)."""
    rng = np.random.default_rng(15)
    lon, lat = rng.uniform(0.0, 10.0, (2, 4000))
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(len(lon)), "lon": lon, "lat": lat}))
    for dx in (0.0, 1.5):
        x0, y0, x1, y1 = 2.0 + dx, 2.0 - dx, 4.0 + dx, 4.0 - dx
        ring = np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)])
        got = SP.assign_countries(pts, {"SQ": ring}, 7, id_col="point_id")
        want = np.flatnonzero((x0 < lon) & (lon < x1) & (y0 < lat) & (lat < y1))
        assert sorted(r.point_id for r in got.collect()) == list(want), dx


def test_country_cells_bind_to_the_calling_session(spark):
    """A newSession() sibling shares the applicationId but gets its own
    J2 cell frame, bound to itself."""
    s2 = spark.newSession()
    rings = FX.get_country_rings()
    assert SP._country_cells(spark, rings, 7).sparkSession is spark
    assert SP._country_cells(s2, rings, 7).sparkSession is s2


def test_country_cells_live_under_the_scratch_root(spark):
    """J2's cell table is published under the application's scratch
    root, which is removed at exit, not under a root nothing reaps."""
    import os
    from urllib.parse import urlparse

    from sdg_engine.storage import scratch_root

    root = os.path.realpath(scratch_root(spark)) + os.sep
    files = SP._country_cells(spark, FX.get_country_rings(), 7).inputFiles()
    assert files
    for f in files:
        assert os.path.realpath(urlparse(f).path).startswith(root), f


@pytest.mark.parametrize("cover", ["random", "coarser_than_bin", "world"])
def test_range_join_matches_nested_loop(spark, cover):
    """J6 brute-force twin: ``range_join_compacted`` returns exactly the
    (point, cover cell) pairs whose cells nest by grid index, on a
    seeded random mixed-level cover, on cells all coarser than
    ``bin_level``, and on the single level-0 cell.  The probe holds
    random cells plus each cover cell's first and last descendant and
    both neighbours, and the first and last cell of every bin."""
    L, B = 8, 3
    rng = np.random.default_rng(6)
    if cover == "world":
        lv = np.zeros(1, dtype=np.int64)
    else:
        hi_lv = B if cover == "coarser_than_bin" else L + 1
        lv = rng.integers(0, hi_lv, 40)
    cover_ids = C.pack(lv, rng.integers(0, 1 << lv), rng.integers(0, 1 << lv))
    code = cover_ids & ((1 << 54) - 1)
    lo, hi = code << 2 * (L - lv), (code + 1) << 2 * (L - lv)
    bins = np.arange(1 << 2 * B) << 2 * (L - B)
    pcodes = np.concatenate([
        rng.integers(0, 1 << 2 * L, 300), lo - 1, lo, hi - 1, hi,
        bins, bins - 1,
    ])
    pcodes = pcodes[(pcodes >= 0) & (pcodes < 1 << 2 * L)]
    pcells = (np.int64(L) << 54) | pcodes
    got = SP.range_join_compacted(
        spark.createDataFrame(pd.DataFrame(
            {"point_id": np.arange(len(pcells)), "cell_id": pcells})),
        spark.createDataFrame(pd.DataFrame({"cell_id": cover_ids, "level": lv})),
        point_level=L, bin_level=B,
    )
    _l, px, py = C.unpack(pcells)
    _l, cx, cy = C.unpack(cover_ids)
    shift = L - lv
    hit = ((px[:, None] >> shift) == cx) & ((py[:, None] >> shift) == cy)
    want = sorted((int(p), int(cover_ids[c]), int(lv[c]))
                  for p, c in zip(*np.nonzero(hit)))
    assert want
    assert sorted(
        (r.point_id, r.cover_cell, r.cover_level) for r in got.collect()
    ) == want


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


def test_scoped_confs_restores_and_unsets(spark):
    """scoped_confs puts a set key back to its previous value and unsets
    a key that had none, also when the body raises."""
    from sdg_engine.session import scoped_confs

    had, fresh = "spark.sql.shuffle.partitions", "spark.sdg_engine.test.scoped"
    before = spark.conf.get(had)
    assert spark.conf.get(fresh, None) is None
    with pytest.raises(RuntimeError):
        with scoped_confs(spark, {had: "3", fresh: "on"}):
            assert (spark.conf.get(had), spark.conf.get(fresh)) == ("3", "on")
            raise RuntimeError
    assert spark.conf.get(had) == before
    assert spark.conf.get(fresh, None) is None


@pytest.mark.parametrize(
    "name",
    [
        "flagship_rai",
        "spatial_knn_nearest",
        "spatial_pip_country",
        "spatial_join_cells",
        "minhash_signatures",
        "ann_cosine_topk",
        "streaming_hourly_closed",
        "streaming_dedup_docs",
        "streaming_dedup_watermarked",
        "streaming_interval_join",
        "streaming_session_window",
        "streaming_static_enrich",
        "streaming_snapshot_sink",
        "streaming_left_join",
        "streaming_user_streaks",
        "streaming_chained_aggs",
        "streaming_dedup_then_window",
        "streaming_pysource_windows",
        "streaming_full_outer_join",
    ],
)
def test_oracle_parity_subset(query_result, sf_dir, name):
    """Driver-shaped compare on the judge-critical queries and on every
    streaming drain (full sweep runs in paritycheck.check_all; kept to a
    subset here for runtime)."""
    from sdg_engine.oracles import ORACLES
    from sdg_engine.paritycheck import compare, run_oracle

    ok, msg = compare(query_result(name), run_oracle(ORACLES[name], sf_dir))
    assert ok, msg
