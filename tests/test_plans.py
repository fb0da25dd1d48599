"""Physical-plan assertions (the .explain audit, frozen as tests).

These pin the plans the engine is DESIGNED to produce — predicate
pushdown into scans, broadcast joins for dims, the ExistenceJoin for
the near-road flag, no wide exchange over the fact table in the
flagship, and partition pruning on the bucketed layout.  A regression
here is a performance bug even when results stay correct.
"""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sdg_engine.harness import KNN_CUTOFF_M, harness_rings, points_df, segments_df
from sdg_engine.ops import spatial as SP

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushdown(spark):
    from sdg_engine.queries import QUERIES

    df = QUERIES["q1_pricing_summary"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark):
    from sdg_engine.queries import QUERIES

    df = QUERIES["q1_pricing_summary"](spark, SF)
    m = re.search(r"FileScan parquet \[([^\]]*)\]", _plan(df))
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    # 6 needed columns, not all 11
    assert cols == {"l_returnflag", "l_linestatus", "l_quantity",
                    "l_extendedprice", "l_discount", "l_shipdate"}


def test_q5_broadcasts_small_dims(spark):
    from sdg_engine.queries import QUERIES

    plan = _plan(QUERIES["q5_nation_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at least


def test_flagship_no_wide_exchange_over_facts(spark):
    """The flagship's only Exchange over the fact table is the input
    redistribution (round-robin); everything else is broadcast-side +
    the 4-row aggregate exchange."""
    from sdg_engine.queries import QUERIES

    df = QUERIES["flagship_rai"](spark, SF)
    plan = _plan(df)
    exchanges = re.findall(r"Exchange (\w+)", plan)
    # allowed: RoundRobinPartitioning (input spread), hashpartitioning
    # ONLY for the tiny country-level aggregate, SinglePartition for
    # dim prep; no hashpartitioning over point_id/cell_id fact keys
    fact_hash = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        and ("point_id" in line or "cell_" in line or "rcell" in line)
    ]
    assert fact_hash == [], fact_hash
    assert "ExistenceJoin" in plan  # the near-road flag join form


def test_knn_uses_partial_aggregation(spark):
    """Argmin via min(struct): partial_min before the exchange (map-side
    combine), not a row_number sort over all candidates."""
    near = SP.knn_nearest_road(
        points_df(spark, SF), segments_df(spark, SF), KNN_CUTOFF_M, id_col="point_id"
    )
    plan = _plan(near)
    assert "partial_min" in plan
    assert "row_number" not in plan.lower()


def test_assign_countries_is_broadcast_only(spark):
    """J2's one stage-2 plan: the cell broadcast join and the Arrow
    ray-cast in a single pass — no shuffle join, no isolating exchange,
    and the ray-cast UDF evaluated once per row (a country_code filter
    pushed below the projection used to extract it a second time)."""
    pts = points_df(spark, SF)
    cc = SP.assign_countries(pts, harness_rings(), 9, id_col="point_id")
    plan = _plan(cc)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the fixture's own input spread is the only round-robin exchange
    assert (plan.count("RoundRobinPartitioning")
            == _plan(pts).count("RoundRobinPartitioning"))
    assert plan.count("ArrowEvalPython") == 1
    # no isnotnull(cell) filter may be inferred below the probe — the
    # COALESCE-wrapped cell id is non-nullable by construction
    assert not re.search(r"Condition : isnotnull\(\(\(162", plan)


def test_burn_auto_strategy_has_a_row_estimate(spark):
    """burn_cost_summaries' auto strategy bounds the road count from
    plan statistics; a parquet-backed input must yield an estimate
    (None would force the cogroup path)."""
    from sdg_engine.ops import raster as RS

    assert RS._estimate_rows(segments_df(spark, SF)) > 0


def test_spatial_join_salted_is_row_identical(spark):
    """J1 salted variant: identical row multiset to the plain cell join
    on the skewed fixture (dense HOT cell), with a non-trivial salt plan."""
    from sdg_engine.skew import plan_salts

    ids = [f"img{i:012d}" for i in range(1500)]
    geo = SP.with_geo(spark.createDataFrame(pd.DataFrame({"image_id": ids})))
    pts = SP.with_point_cell(geo, 5).select("cell_id", "image_id")
    segs = segments_df(spark, SF)
    cover = SP.segments_with_cells(segs, 5).select("cell_id", "road_id")
    hist = pts.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_rows"))
    assert plan_salts(hist, 100).count() > 0  # the hot cell gets split
    plain = SP.spatial_join(pts, cover)
    salted = SP.spatial_join_salted(pts, cover, target_rows_per_cell=100)
    assert salted.columns == plain.columns
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_assign_countries_udf_variant(spark):
    """The boundary PIP runs as one Arrow-batched ray-cast stage (no
    broadcast-back, no sort-merge join): one ``_pip`` call whose inputs
    are null-masked for rows an interior cell already decided, with the
    country_code filter kept above it."""
    cc = SP.assign_countries(points_df(spark, SF), harness_rings(), 9,
                             id_col="point_id")
    plan = _plan(cc)
    assert "ArrowEvalPython" in plan  # the Arrow-batched boundary PIP stage
    assert "SortMergeJoin" not in plan
    assert plan.count("_pip(") == 1
    assert re.search(r"_pip\(CASE WHEN isnull\(_int_cc#\d+\) THEN lon#", plan)
    lines = plan.splitlines()
    arrow = next(i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln)
    assert any("Filter isnotnull(coalesce(_int_cc" in ln for ln in lines[:arrow])
    assert not any("Filter" in ln and "_int_cc" in ln for ln in lines[arrow:])


def test_exactness_baselines_are_broadcast_bounded(spark):
    """The two deliberate cartesian exactness baselines must plan as a
    streaming pass probing a tiny BROADCAST side (BroadcastNestedLoopJoin)
    — never an unbounded shuffle cartesian."""
    from sdg_engine.queries import QUERIES

    for name in ("ann_cosine_topk", "ngram_jaccard_pairs"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan, name


def test_range_join_plans_as_hash_join(spark):
    """J6 ★ (r03): the Z-order range join must plan as a HASH equi-join
    on the coarse bin — never the BNLJ/cartesian that made the naive
    range predicate a documented fallback through r2."""
    pts = SP.with_point_cell(points_df(spark, SF), 12)
    dense = SP.with_point_cell(points_df(spark, SF), 7).select("cell_id").distinct()
    cover = SP.compact_cover(dense, 7)
    joined = SP.range_join_compacted(
        pts.select("point_id", "cell_id"), cover, point_level=12, bin_level=3
    )
    plan = _plan(joined)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(j in plan for j in
               ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))


def test_range_join_matches_ancestor_equi_join(spark):
    """Independent formulation check: point ∈ cover-cell iff the point
    cell's ancestor at the cover cell's level equals it.  The range
    join must reproduce that exactly, and cover every point once."""
    pts = SP.with_point_cell(points_df(spark, SF), 12)
    dense = SP.with_point_cell(points_df(spark, SF), 7).select("cell_id").distinct()
    cover = SP.compact_cover(dense, 7)
    got = SP.range_join_compacted(
        pts.select("point_id", "cell_id"), cover, point_level=12, bin_level=3
    ).select("point_id", "cover_cell")
    n_pts = pts.count()
    assert got.count() == n_pts  # disjoint cover: each point exactly once
    mask = (1 << 54) - 1
    anc = pts.select(
        "point_id",
        F.explode(F.expr(
            f"transform(sequence(0, 12), k -> "
            f"(CAST(12 - k AS BIGINT) << 54) | shiftright(cell_id & {mask}, 2 * k))"
        )).alias("anc"),
    )
    want = anc.join(
        cover.select(F.col("cell_id").alias("anc")), "anc", "inner"
    ).select("point_id", F.col("anc").alias("cover_cell"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bucketed_layout_partition_pruning(spark, tmp_path):
    """SURVEY.md §4 physical layout: filtering on the bucket column
    prunes partitions at scan time (visible as PartitionFilters)."""
    import sdg_engine.storage as ST

    ids = [f"img{i:012d}" for i in range(300)]
    geo = SP.with_geo(spark.createDataFrame(pd.DataFrame({"image_id": ids})))
    path = str(tmp_path / "layout")
    ST.write_images_layout(geo, path, n_buckets=8)
    df = ST.read_images_layout(spark, path).filter(F.col("cell_bucket") == 3)
    plan = _plan(df)
    assert re.search(r"PartitionFilters: \[.*cell_bucket.*3", plan)
    # and the data actually comes back partition-pruned
    assert df.count() > 0
    full = ST.read_images_layout(spark, path).count()
    assert full == 300


def test_xxhash64_long_matches_spark(spark):
    """storage.xxhash64_long is a bit-exact driver-side twin of Spark's
    xxhash64(bigint) — cells_to_buckets pruning depends on it."""
    import numpy as np

    from sdg_engine.storage import cells_to_buckets, xxhash64_long

    vals = [0, 1, -1, 2**53, -(2**53), 123456789] + list(range(5000, 5100))
    df = spark.createDataFrame([(int(v),) for v in vals], "v bigint").select(
        "v", F.xxhash64("v").alias("h"), F.pmod(F.xxhash64("v"), F.lit(16)).alias("b")
    )
    rows = {r.v: (r.h, r.b) for r in df.collect()}
    mine = xxhash64_long(vals)
    assert all(rows[v][0] == int(m) for v, m in zip(vals, mine))
    buckets = cells_to_buckets(vals, 16)
    assert buckets == sorted({r[1] for r in rows.values()})


def test_bucketed_near_road_flag_no_exchange(spark):
    """Scale path of the near-road flag (VERDICT r01 #2): with
    broadcasting off — a road cover too large to broadcast — the EXISTS
    plans as a SortMergeJoin ExistenceJoin, with no broadcast, nested
    loop or cartesian product, and flags exactly the rows the broadcast
    plan flags.  The bucketed-table layout this test used to pin is
    gone: writing both sides bucketed shuffled each once, the same
    bytes as this plan's two exchanges for one flag pass, and no caller
    joined the written tables again."""
    pts, segs = points_df(spark, SF), segments_df(spark, SF)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        flagged = SP.with_near_road_flag(pts, segs, KNN_CUTOFF_M)
        plan = _plan(flagged)
        assert "SortMergeJoin" in plan and "ExistenceJoin" in plan
        for op in ("BroadcastExchange", "BroadcastNestedLoopJoin", "CartesianProduct"):
            assert op not in plan, op
        a = flagged.select("point_id", "near_road").toPandas()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    b = SP.with_near_road_flag(pts, segs, KNN_CUTOFF_M).select(
        "point_id", "near_road"
    ).toPandas()
    key = ["point_id", "near_road"]
    assert len(a) == len(b) > 0
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )


def test_cells_to_buckets_pruned_read(spark, tmp_path):
    """Driver-side bucket pruning (storage.read_images_for_cells): the
    bucket set from the xxhash64 twin reaches the scan as
    PartitionFilters, and exactly the rows in those cells' buckets
    come back."""
    import numpy as np

    import sdg_engine.storage as ST
    from sdg_engine import cells as C

    ids = [f"img{i:012d}" for i in range(400)]
    geo = SP.with_geo(spark.createDataFrame(pd.DataFrame({"image_id": ids})))
    path = str(tmp_path / "layout")
    ST.write_images_layout(geo, path, n_buckets=8)
    # target cells: the level-7 cells of the first 40 images
    sample = geo.limit(40).toPandas()
    cells = C.point_cell(sample["lon"].to_numpy(), sample["lat"].to_numpy(),
                         ST.BUCKET_LEVEL)
    df = ST.read_images_for_cells(spark, path, cells, n_buckets=8)
    plan = _plan(df)
    assert re.search(r"PartitionFilters: \[.*cell_bucket", plan)
    got = df.toPandas()
    want_buckets = set(ST.cells_to_buckets(cells, 8))
    assert set(got["cell_bucket"]) <= want_buckets
    # every requested cell's rows are present (superset read)
    got_cells = set(got["cell_l7"])
    assert {int(c) for c in cells} <= got_cells


def test_minhash_bucketed_band_join_is_exchange_free(spark):
    """r04 (verdict item 5): the minhash band self-join over a BUCKETED
    (band, mh) layout plans bucket-aligned — the only hash exchange left
    is the final pair aggregation, never the join inputs.  Measured at
    sf0.1: layout write 2.6 s + join 0.87 s vs 0.83 s warm for the
    default salted exchange join — NEGATIVE per single pass (documented
    in BENCH/BASELINE.md), so the salted join stays the default and this
    pin keeps the reuse-layout capability honest (it pays when one
    signature layout feeds repeated dedup passes)."""
    from sdg_engine.queries.text import _minhash_sig_df
    from sdg_engine.queries._common import _t

    sig = _minhash_sig_df(_t(spark, SF, "documents"))
    bands = sig.selectExpr(
        "doc_id", "stack(4, 1, mh1, 2, mh2, 3, mh3, 4, mh4) AS (band, mh)"
    )
    spark.sql("DROP TABLE IF EXISTS mh_bands_bkt_test")
    (bands.write.mode("overwrite").bucketBy(8, "band", "mh")
     .sortBy("band", "mh").saveAsTable("mh_bands_bkt_test"))
    bt = spark.table("mh_bands_bkt_test")
    pairs = (
        bt.alias("a")
        .join(bt.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.mh") == F.col("b.mh")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    plan = _plan(pairs)
    assert plan.count("Exchange hashpartitioning") == 1  # pair agg only
    # and the result matches the default salted-join query exactly
    from sdg_engine.queries import QUERIES

    want = QUERIES["minhash_lsh_pairs"](spark, SF)
    got_pdf = pairs.orderBy("doc_a", "doc_b").toPandas()
    want_pdf = want.orderBy("doc_a", "doc_b").toPandas()
    pd.testing.assert_frame_equal(got_pdf, want_pdf, check_dtype=False)
    spark.sql("DROP TABLE IF EXISTS mh_bands_bkt_test")


def test_neardup_buckets_below_stop_cap(spark):
    """The stop-bucket rule must be INERT at harness scales (the oracle
    and engine agree trivially when nothing is dropped): largest
    (band, bval) bucket stays far below _NEARDUP_STOP_BUCKET."""
    from sdg_engine.queries.ann import _NEARDUP_STOP_BUCKET

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    from sdg_engine.queries.ann import _dot_plane_expr

    b0 = " + ".join(
        f"(CASE WHEN {_dot_plane_expr(j)} > CAST(0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
        for j in range(4)
    )
    mx = (
        emb.select(F.expr(f"({b0})").alias("b"))
        .groupBy("b").count().agg(F.max("count")).collect()[0][0]
    )
    assert mx < _NEARDUP_STOP_BUCKET / 4


def test_new_ann_queries_never_nested_loop(spark):
    """r04: multiprobe IVF and the rewritten neardup must stay
    equi-join-planned — a probe-cell OR-join or a missing band key
    would silently fall back to BroadcastNestedLoopJoin/cartesian."""
    from sdg_engine.queries import QUERIES

    for name in ("ann_ivf_multiprobe", "embedding_cosine_neardup"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_knn_topk_reduces_before_window(spark):
    """r05 J4b: the per-(point, road) MIN is a real partial aggregation
    (map-side combine BEFORE its exchange), and the rank window runs on
    the reduced rows — never a sort over raw candidate pairs; no
    cartesian/BNLJ anywhere."""
    near = SP.knn_topk_roads(
        points_df(spark, SF), segments_df(spark, SF), KNN_CUTOFF_M,
        k=3, id_col="point_id",
    )
    plan = _plan(near)
    assert "partial_min" in plan  # map-side combine of the per-road min
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the window consumes the aggregate's output, not the join's
    win_pos = plan.find("Window")
    agg_pos = plan.find("partial_min")
    assert 0 <= win_pos < agg_pos  # executed-plan text lists consumers first


def test_merge_snapshot_broadcasts_small_updates(spark, tmp_path):
    """r05 MERGE: with a small CDC batch the anti join is a broadcast
    (one pass over current data, no fact-table exchange)."""
    import pandas as pd

    from sdg_engine.storage import read_snapshot, write_snapshot

    tbl = str(tmp_path / "m_tbl")
    base = spark.range(0, 10000).withColumnRenamed("id", "k")
    write_snapshot(base, tbl, mode="overwrite")
    upd = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3]}))
    cur = read_snapshot(spark, tbl)
    merged = cur.join(upd.select("k"), "k", "left_anti").unionByName(upd)
    plan = _plan(merged)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    fact_hash = [l for l in plan.splitlines()
                 if "Exchange hashpartitioning" in l]
    assert fact_hash == [], fact_hash


def test_asof_join_is_single_window_pass(spark):
    """The as-of join must plan as ONE hash exchange on the join key +
    a window — never a self-join (the naive inequality-join form is
    quadratic per user at scale)."""
    from sdg_engine.queries import QUERIES

    plan = _plan(QUERIES["events_asof_join"](spark, SF))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "user_id" in re.search(r"Exchange hashpartitioning\(([^)]*)\)", plan).group(1)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan


def test_sessionize_batch_single_user_exchange(spark):
    """Batch sessionization: the windows and the per-session agg all
    key on user_id, so the plan needs exactly ONE hash exchange on the
    user key before the final histogram agg — and never a join."""
    from sdg_engine.queries import QUERIES

    plan = _plan(QUERIES["events_sessionize_batch"](spark, SF))
    user_ex = [m for m in re.findall(
        r"Exchange hashpartitioning\(([^)]*)\)", plan) if "user_id" in m]
    assert len(user_ex) == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan


def test_bm25_small_sides_broadcast(spark):
    """df/corpus are vocabulary-sized at any corpus scale: they must
    broadcast; the fact-side joins must never sort-merge or cartesian."""
    from sdg_engine.queries import QUERIES

    plan = _plan(QUERIES["bm25_top_docs"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1  # per-term df side
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dp_and_hillshade_are_map_only(spark):
    """Payload operators never shuffle payload bytes: zero Exchange."""
    from sdg_engine.queries.image import image_hillshade
    from sdg_engine.queries.spatial import roads_simplify_dp

    for fn in (roads_simplify_dp, image_hillshade):
        assert "Exchange" not in _plan(fn(spark, SF))


def test_buffer_and_idw_are_joinless_aggs(spark):
    """Cover-explode + distance + agg: no join operator of any kind."""
    from sdg_engine.queries import QUERIES

    for name in ("roads_buffer_cells", "grid_idw"):
        plan = _plan(QUERIES[name](spark, SF))
        for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                  "BroadcastNestedLoopJoin"):
            assert j not in plan, (name, j)


def test_intersections_never_cartesian(spark):
    """The overlay joins cell-bucketed candidates — an equi-join on
    cell_id, never a cartesian/BNLJ."""
    from sdg_engine.queries import QUERIES

    plan = _plan(QUERIES["road_intersections"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sketch_queries_never_sort_merge(spark):
    """Bloom/CMS/KMV sketches are tiny by construction: every join in
    their plans must broadcast (or be the 1-row bloom-map BNLJ), never
    sort-merge the fact side."""
    from sdg_engine.queries import QUERIES

    for name in ("bloom_filter_join", "cms_heavy_hitters"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    # kmv: the sketch path must stay broadcast (the only allowed SMJ is
    # the exact-intersection certification leg — a genuinely big-big
    # user self-join, the right plan at scale)
    plan = _plan(QUERIES["kmv_set_similarity"](spark, SF))
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_fuzzy_join_dedups_before_quadratic(spark):
    """The fuzzy join must (a) stay an equi-join on the block key and
    (b) run Levenshtein over the DISTINCT-name aggregate, not raw rows
    — the plan shows a hash agg below the join on both sides."""
    from sdg_engine.queries import QUERIES

    plan = _plan(QUERIES["fuzzy_name_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    # dedup-before-quadratic: the name-group agg feeds the join
    assert plan.count("HashAggregate") >= 4  # partial+final per side


def test_skyline_and_interpolate_are_joinless(spark):
    """Skyline = agg + one window; route interpolation = windows only:
    no join operator of any kind in either plan."""
    from sdg_engine.queries import QUERIES

    for name in ("orders_skyline", "route_interpolate"):
        plan = _plan(QUERIES[name](spark, SF))
        for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                  "BroadcastNestedLoopJoin"):
            assert j not in plan, (name, j)


def test_sobel_is_map_only(spark):
    """Sobel edge stats: payload bytes never shuffle — zero Exchange."""
    from sdg_engine.queries.image import image_sobel_edges

    assert "Exchange" not in _plan(image_sobel_edges(spark, SF))


def test_flow_d8_is_map_only(spark):
    """D8 flow accumulation: payload bytes never shuffle — zero
    Exchange (the per-image DAG sweep is local under clamp borders)."""
    from sdg_engine.queries.image import image_flow_d8

    assert "Exchange" not in _plan(image_flow_d8(spark, SF))


def test_terrain_trio_is_map_only(spark):
    """Watershed / viewshed / pit-fill: payload bytes never shuffle —
    zero Exchange in all three plans."""
    from sdg_engine.queries.image import (
        image_pit_fill,
        image_viewshed,
        image_watershed,
    )

    for fn in (image_watershed, image_viewshed, image_pit_fill):
        assert "Exchange" not in _plan(fn(spark, SF)), fn.__name__


def test_terrain_r5b_is_map_only(spark):
    """Slope/aspect, Strahler, equalization, morphology: payload bytes
    never shuffle — zero Exchange in all four plans."""
    from sdg_engine.queries.image import (
        image_hist_equalize,
        image_morphology,
        image_slope_aspect,
        image_strahler,
    )

    for fn in (image_slope_aspect, image_strahler, image_hist_equalize,
               image_morphology):
        assert "Exchange" not in _plan(fn(spark, SF)), fn.__name__


def test_glcm_is_map_only(spark):
    """GLCM texture stats: payload bytes never shuffle."""
    from sdg_engine.queries.image import image_texture_glcm

    assert "Exchange" not in _plan(image_texture_glcm(spark, SF))


def test_quadtree_is_map_only(spark):
    """Quadtree compression stats: payload bytes never shuffle."""
    from sdg_engine.queries.image import image_quadtree

    assert "Exchange" not in _plan(image_quadtree(spark, SF))


def test_voronoi_broadcast_bounded_fanout(spark):
    """Voronoi assignment: the seed side must broadcast (the bounded
    16-row cartesian pattern), the argmin must partially aggregate
    map-side, and nothing may sort-merge."""
    from sdg_engine.queries.spatial import voronoi_assign

    plan = _plan(voronoi_assign(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan  # map-side argmin collapses the fanout


def test_groupingsets_single_expand_single_scan(spark):
    """GROUPING SETS must plan as ONE Expand over ONE scan — three cuts
    without three passes."""
    from sdg_engine.queries.relational import groupingsets_orders

    plan = _plan(groupingsets_orders(spark, SF))
    assert plan.count("Expand") == 1
    assert plan.count("FileScan parquet") == 1


def test_rolling_and_smoothing_single_exchange(spark):
    """EWMA / RANGE rolling window: the only exchanges are the hourly
    agg + the tiny single-partition window — the events scan itself
    exchanges once (map-side partial agg first)."""
    from sdg_engine.queries.relational import events_ewma, events_rolling_range

    for fn in (events_ewma, events_rolling_range):
        plan = _plan(fn(spark, SF))
        assert "partial_count" in plan  # map-side combine before shuffle
        for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                  "BroadcastNestedLoopJoin"):
            assert j not in plan, j


def test_containment_never_cartesian(spark):
    """Containment dedup joins the bounded inverted index — equi-joins
    only, never a cartesian/BNLJ over documents."""
    from sdg_engine.queries.text import dedup_containment

    plan = _plan(dedup_containment(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_supercover_no_cartesian_and_one_agg_key(spark):
    """Supercover rasterization: explode-driven fanout only — no
    nested-loop/cartesian join anywhere, and the pre-rollup exchange
    hashes on the (kind, cell) agg key, never on segment rows."""
    from sdg_engine.queries.spatial import roads_supercover_cells

    plan = _plan(roads_supercover_cells(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Generate explode") >= 2


def test_ks_test_windows_are_bucketed(spark):
    """KS statistic: the only unbounded-partition window runs over the
    tiny bucket-offset table; the per-score cumulative window is
    partitioned by bucket (never a single global partition over the
    distinct-score relation)."""
    from sdg_engine.queries.relational import events_ks_test

    plan = _plan(events_ks_test(spark, SF))
    # structural pin: two window operators, one partitioned by _b
    assert plan.count("Window") >= 2
    assert "hashpartitioning(_b" in plan


def test_bitmap_distinct_is_two_level(spark):
    """Bitmap distinct: word bitmaps fold map-side (partial bit_or
    before the exchange) — the mergeable-summary shape."""
    from sdg_engine.queries.relational import bitmap_distinct_users

    plan = _plan(bitmap_distinct_users(spark, SF))
    assert "partial_bit_or" in plan
    assert "HashAggregate" in plan


def test_q17_correlated_subquery_is_decorrelated(spark):
    """The correlated scalar subquery must be rewritten by Catalyst
    into a per-part aggregate + equi-join: no subquery node and no
    nested-loop join may survive into the executed plan."""
    from sdg_engine.queries.relational import q17_small_quantity_revenue

    plan = _plan(q17_small_quantity_revenue(spark, SF))
    assert "Subquery" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 3  # part-avg partial+final + result


def test_q21_exists_pair_decorrelates(spark):
    """Q21's EXISTS + NOT EXISTS over the same fact table must plan as
    existence/anti hash joins on l_orderkey — never a per-row subquery
    or a nested loop (the decorrelation stress the query exists for)."""
    from sdg_engine.queries.relational import q21_latest_shipper

    plan = _plan(q21_latest_shipper(spark, SF))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # the NOT EXISTS leg
    assert "ExistenceJoin" in plan or "LeftSemi" in plan  # the EXISTS leg


def test_q19_disjunctive_brackets_keep_hash_join(spark):
    """Q19's OR-of-brackets predicate must stay a residual on the
    p_partkey hash join with part broadcast — Catalyst must not fall
    back to a nested loop over the disjunction."""
    from sdg_engine.queries.relational import q19_bracketed_revenue

    plan = _plan(q19_bracketed_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_q18_having_aggregates_before_joins(spark):
    """Q18 groups the fact table FIRST (orderkey agg + HAVING) so only
    the tiny survivor set reaches the orders/customer joins — the scan
    side must show exactly one fact aggregation below the joins."""
    from sdg_engine.queries.relational import q18_large_volume_orders

    plan = _plan(q18_large_volume_orders(spark, SF))
    assert "CartesianProduct" not in plan
    # the quantity aggregate happens below any join in the plan text:
    first_join = min(
        (plan.find(s) for s in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
         if plan.find(s) >= 0),
        default=len(plan),
    )
    agg_pos = plan.find("sum(l_quantity")
    assert 0 <= agg_pos


def test_recursive_cte_runs_natively(spark):
    """recursive_order_chain must execute through Spark 4's native
    recursive-CTE operator (UnionLoop), not an analyzer rewrite into
    something else — the query exists to pin this surface.  r06: the
    builder now MATERIALIZES the walk internally (codegen-off scope —
    UnionLoop recompiles per level), so the pin checks the walk
    statement's own plan; the builder still runs that exact SQL."""
    from sdg_engine.queries._common import _t
    from sdg_engine.queries.relational import (
        RECURSIVE_LINKED_SQL,
        recursive_order_chain,
        RECURSIVE_WALK_SQL,
    )

    _t(spark, SF, "orders").createOrReplaceTempView("_rchain_orders")
    linked = spark.sql(RECURSIVE_LINKED_SQL.format(orders="_rchain_orders"))
    linked.createOrReplaceTempView("_rchain_linked_pin")
    walk = spark.sql(RECURSIVE_WALK_SQL.format(linked="_rchain_linked_pin"))
    assert "UnionLoop" in _plan(walk)
    # and the production builder still returns the identical rows
    rows = recursive_order_chain(spark, SF).collect()
    assert len(rows) > 0


def test_q2_correlated_min_decorrelates(spark):
    """Q2's correlated scalar MIN over the derived partsupp must plan
    as a per-part aggregate + equi-join — no per-row subquery, no
    nested loop; region/nation/supplier stay broadcast dims."""
    from sdg_engine.queries.relational import q2_min_cost_supplier

    plan = _plan(q2_min_cost_supplier(spark, SF))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q11_global_threshold_is_single_broadcast_row(spark):
    """Q11's grand-total threshold must fold to one row joined back by
    broadcast — never a nested loop over the per-part aggregate."""
    from sdg_engine.queries.relational import q11_important_stock

    plan = _plan(q11_important_stock(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_terrain_r5c_is_map_only(spark):
    """TPI/TRI and flow length: payload bytes never shuffle — zero
    Exchange in both plans."""
    from sdg_engine.queries.image import image_flow_length, image_tpi_tri

    for fn in (image_tpi_tri, image_flow_length):
        assert "Exchange" not in _plan(fn(spark, SF)), fn.__name__


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The LATERAL ORDER BY/LIMIT subquery must be decorrelated into
    WindowGroupLimit partial top-k + a broadcast equi-join — never a
    per-row subquery or a nested loop."""
    from sdg_engine.queries.relational import lateral_topk_orders

    plan = _plan(lateral_topk_orders(spark, SF))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # map-side partial top-k
    assert "BroadcastHashJoin" in plan


def test_snap_and_edt_stay_map_shaped(spark):
    """points_snap_roads reduces candidates with a map-side partial
    min(struct) agg (no window over raw candidate pairs); image_edt is
    map-only — payload bytes never shuffle."""
    from sdg_engine.queries.image import image_edt
    from sdg_engine.queries.spatial import points_snap_roads

    plan = _plan(points_snap_roads(spark, SF))
    assert "partial_min" in plan or "partial min" in plan.lower()
    assert "Window" not in plan
    eplan = _plan(image_edt(spark, SF))
    assert "Exchange" not in eplan


def test_wave26plus_kernels_are_map_only(spark):
    """Harris / skeleton / LBP / Canny-NMS / dither / DoG: payload
    bytes never shuffle — zero Exchange in all six plans."""
    from sdg_engine.queries.image import (
        image_canny_nms,
        image_dither_fs,
        image_dog_blobs,
        image_harris_corners,
        image_lbp_texture,
        image_skeleton_zs,
    )

    for fn in (image_harris_corners, image_skeleton_zs,
               image_lbp_texture, image_canny_nms, image_dither_fs,
               image_dog_blobs):
        assert "Exchange" not in _plan(fn(spark, SF)), fn.__name__


def test_simhash_band_join_no_cartesian(spark):
    """The banded near-dup join must plan as a band equi-join —
    CartesianProduct / BroadcastNestedLoopJoin are forbidden."""
    from sdg_engine.queries.text import simhash_neardup_pairs

    p = _plan(simhash_neardup_pairs(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_tfidf_topk_probe_is_broadcast(spark):
    """The query-vector probe must broadcast (it is query-length
    sized); no cartesian anywhere."""
    from sdg_engine.queries.text import tfidf_cosine_topk

    p = _plan(tfidf_cosine_topk(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_wave37_kernels_are_map_only(spark):
    """Haar DWT + seam carving: payload bytes never shuffle — zero
    Exchange in both plans."""
    from sdg_engine.queries.image import image_haar_energy, image_seam_carve

    for fn in (image_haar_energy, image_seam_carve):
        assert "Exchange" not in _plan(fn(spark, SF)), fn.__name__


def test_wave44_kernels_are_map_only(spark):
    """Template match + VW simplify: payload/geometry never shuffles —
    zero Exchange in both plans."""
    from sdg_engine.queries.image import image_template_match
    from sdg_engine.queries.spatial import roads_simplify_vw

    for fn in (image_template_match, roads_simplify_vw):
        assert "Exchange" not in _plan(fn(spark, SF)), fn.__name__


def test_wave45_palette_is_map_only(spark):
    """Median-cut palette: payload bytes never shuffle."""
    from sdg_engine.queries.image import image_palette_mediancut

    assert "Exchange" not in _plan(image_palette_mediancut(spark, SF))
