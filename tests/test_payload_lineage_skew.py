"""M3/M4: payload invariants (BASELINE.json:15), raster burn goldens,
lineage resume, skew salting, and twins of the shared connected-
components loop and 48-bit md5 fingerprint."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sdg_engine import fixtures as FX
from sdg_engine.ops import payload as PL
from sdg_engine.ops import raster as RS
from sdg_engine.ops import spatial as SP

SF = 0.001


@pytest.fixture(scope="module")
def images(spark):
    from sdg_engine.jobs.rai import fixture_dir

    return spark.read.parquet(os.path.join(fixture_dir(SF), "images.parquet")).limit(200)


def test_decode_stats_all_ok(spark, images):
    stats = PL.decode_stats(images).toPandas()
    assert len(stats) == 200
    assert stats["ok"].all()
    assert (stats["mean_lum"] > 0).all()


def test_transcode_lossless_invariants(spark, images):
    """PNG round-trip: pixels bit-equal (psnr=inf), caption byte-equal,
    phash identical (BASELINE.json:15)."""
    lossless = images.filter(~F.col("fmt").isin("qnt", "jpg"))
    out = PL.transcode(lossless, "png")
    inv = PL.verify_invariants(lossless, out).toPandas()
    assert len(inv) == lossless.count()
    assert (inv["psnr"] >= 1e9).all()  # bit-exact
    assert inv["caption_equal"].all()
    assert (inv["phash_hamming"] == 0).all()


def test_transcode_jpg_rows_decode_preserving(spark, images):
    """jpg fixture rows (SPEC v2): a jpg→png transcode preserves the
    DECODED pixels bit-exactly (psnr=inf) — the decode itself, vs the
    source pixels, is gated ≥40 dB in tests/test_jpeg.py."""
    jpgs = images.filter(F.col("fmt") == "jpg")
    assert jpgs.count() > 0  # the v2 fixture must contain jpg rows
    out = PL.transcode(jpgs, "png")
    inv = PL.verify_invariants(jpgs, out).toPandas()
    assert (inv["psnr"] >= 1e9).all()
    assert inv["caption_equal"].all()


def test_transcode_lossy_psnr_gate(spark, images):
    """qnt path: PSNR >= 40 dB, captions byte-equal."""
    out = PL.transcode(images, "qnt")
    inv = PL.verify_invariants(images, out).toPandas()
    assert (inv["psnr"] >= 40.0).all()
    assert inv["caption_equal"].all()
    # hamming is vs the SOURCE-pixel phash: jpg rows go through TWO lossy
    # steps here (jpg decode, then qnt re-quantize) — measured max 16 on
    # the v2 fixture vs 12 for single-lossy rows
    fmts = images.select("image_id", "fmt").toPandas().set_index("image_id")["fmt"]
    bound = inv["image_id"].map(fmts).map(lambda f: 18 if f == "jpg" else 12)
    assert (inv["phash_hamming"] <= bound).all()


def test_phash_near_dup_pairs(spark, images):
    """A decoded+re-encoded copy must be found as a near-dup of itself."""
    copy = PL.transcode(images.limit(30), "qnt").withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("_copy"))
    )
    both = images.limit(30).unionByName(copy)
    pairs = PL.phash_near_dup_pairs(both, max_hamming=12).toPandas()
    found = {
        (a.replace("_copy", ""), b.replace("_copy", ""))
        for a, b in zip(pairs["id_a"], pairs["id_b"])
    }
    self_pairs = [p for p in found if p[0] == p[1]]
    assert len(self_pairairs_guard := self_pairs) >= 25  # LSH recall on near-identical images


def test_burn_cost_cogroup_matches_oracle(spark, images):
    """Distributed A1+A2 == per-tile numpy oracle with ALL segments
    brute force: checks the road LUT's candidate generation and kring(1)
    halo at level 9, on an in-memory road frame."""
    geo = SP.with_geo(images.limit(60))
    roads = FX.roads_records(SF)
    segs = SP.road_segments(spark.createDataFrame(roads))
    got = (
        RS.burn_cost_summaries(geo, segs, cutoff_m=250.0, level=9)
        .orderBy("image_id")
        .toPandas()
    )
    seg_list = []
    for r in roads:
        pts = np.array([[p["x"], p["y"]] for p in r["coords"]])
        for s in range(len(pts) - 1):
            seg_list.append((pts[s, 0], pts[s, 1], pts[s + 1, 0], pts[s + 1, 1]))
    seg_arr = np.array(seg_list)
    gpdf = geo.orderBy("image_id").toPandas()
    assert len(got) == len(gpdf)
    for g, row in zip(got.itertuples(index=False), gpdf.itertuples(index=False)):
        pop_total, pop_near, px_total, px_near = RS.tile_summary(
            row.image_id, bytes(row.bytes), row.fmt, int(row.w), int(row.h),
            row.fp_xmin, row.fp_ymin, row.fp_xmax, row.fp_ymax, seg_arr, 250.0,
        )
        assert g.image_id == row.image_id
        assert abs(g.pop_total - pop_total) < 1e-6
        assert abs(g.pop_near - pop_near) < 1e-6, g.image_id
        assert g.px_near == px_near


def test_lineage_resume(spark, tmp_path, images):
    """Crash mid-run -> restart completes only missing buckets; final
    data identical to a clean run (north rule resumability)."""
    from sdg_engine.lineage import committed_buckets, read_bucketed, run_bucketed

    geo = SP.with_point_cell(SP.with_geo(images.limit(100)), 9).select(
        "image_id", "cell_id"
    )
    out = str(tmp_path / "lineage_out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_bucketed(spark, geo, out, n_buckets=8, fail_at_bucket=5)
    done_before = committed_buckets(spark, out)
    assert done_before == {0, 1, 2, 3, 4}
    written = run_bucketed(spark, geo, out, n_buckets=8)
    assert sorted(written) == [5, 6, 7]
    back = read_bucketed(spark, out)
    assert back.count() == 100
    assert back.select("image_id").distinct().count() == 100
    # idempotent: a third run does nothing
    assert run_bucketed(spark, geo, out, n_buckets=8) == []


def test_skew_salting_splits_hot_cell(spark):
    """The dense-urban fixture cell (ids ending in 7) must be split by
    the salting planner into bounded groups."""
    from sdg_engine.skew import cell_histogram, plan_salts, with_salt

    ids = [f"img{i:012d}" for i in range(1000)]
    geo = SP.with_geo(spark.createDataFrame(pd.DataFrame({"image_id": ids})))
    pts = SP.with_point_cell(geo, 9)
    hist = cell_histogram(pts).toPandas()
    hot = hist["n_rows"].max()
    assert hot >= 90  # the fixture's hot cell holds ~10% of rows
    salts = plan_salts(cell_histogram(pts), target_rows_per_group=20)
    salted = with_salt(pts, salts, id_col="image_id")
    groups = (
        salted.groupBy("cell_id", "salt").agg(F.count(F.lit(1)).alias("n")).toPandas()
    )
    assert groups["n"].max() <= 40  # hot cell split into ~target-sized groups
    assert groups["n"].sum() == 1000  # nothing lost


def test_connected_components_union_find_oracle(spark):
    """Min-label propagation with pointer jumping (``_components_jump``)
    == classic union-find on the same edge set (seeded random graph with
    shallow clusters)."""
    import numpy as np
    import pandas as pd

    from sdg_engine.queries._common import _components_jump

    rng = np.random.default_rng(11)
    n = 300
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, (250, 2)) if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in range(n)}
    # min-label invariant: find-root compression above keeps min root
    roots = {}
    for v in range(n):
        r = find(v)
        roots.setdefault(r, []).append(v)
    want = {v: min(members) for r, members in roots.items() for v in members}

    e_df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    v_df = spark.createDataFrame(pd.DataFrame({"k": range(n)}))
    got = {r.v: r.label for r in _components_jump(e_df, v_df).collect()}
    assert got == want


def test_h48_matches_int_of_md5_prefix():
    """``_h48`` (the one 48-bit md5 fingerprint fragment, shared by the
    queries and their oracles) evaluated in DuckDB == int(h[:12], 16)
    over seeded random md5 hex strings plus the all-0 / all-f edges."""
    import hashlib
    import random

    import duckdb

    from sdg_engine.queries._common import _h48

    rng = random.Random(48)
    hs = [hashlib.md5(rng.randbytes(16)).hexdigest() for _ in range(500)]
    hs += ["0" * 32, "f" * 32]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"h": hs}))
    got = dict(con.execute(f"SELECT h, {_h48('h')} FROM t").fetchall())
    assert got == {h: int(h[:12], 16) for h in hs}
    assert got["f" * 32] == 2 ** 48 - 1


def test_snapshot_commits_and_time_travel(spark, tmp_path):
    """r04: snapshot protocol — append chains reference parent dirs,
    overwrite starts fresh, as-of reads are immutable, commit ids are
    race-safe (EEXIST retry), and bad as-of raises."""
    import pandas as pd
    import pytest as _pytest

    from sdg_engine.storage import (read_snapshot, read_snapshot_pruned,
                                    snapshot_files_df, snapshot_history,
                                    write_snapshot)

    tbl = str(tmp_path / "snap_tbl")
    df1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2]}))
    df2 = spark.createDataFrame(pd.DataFrame({"k": [3]}))
    df3 = spark.createDataFrame(pd.DataFrame({"k": [9]}))
    assert write_snapshot(df1, tbl, mode="overwrite") == 1
    assert write_snapshot(df2, tbl, mode="append") == 2
    assert snapshot_history(tbl) == [1, 2]
    assert sorted(r.k for r in read_snapshot(spark, tbl, as_of=1).collect()) == [1, 2]
    assert sorted(r.k for r in read_snapshot(spark, tbl).collect()) == [1, 2, 3]
    # overwrite drops history going forward but as-of still sees the past
    assert write_snapshot(df3, tbl, mode="overwrite") == 3
    assert sorted(r.k for r in read_snapshot(spark, tbl).collect()) == [9]
    assert sorted(r.k for r in read_snapshot(spark, tbl, as_of=2).collect()) == [1, 2, 3]
    with _pytest.raises(ValueError, match="not in history"):
        read_snapshot(spark, tbl, as_of=99)
    # the pruned and metadata-table readers resolve as_of the same way
    with _pytest.raises(ValueError, match="not in history"):
        read_snapshot_pruned(spark, tbl, "k", 0, 9, as_of=99)
    with _pytest.raises(ValueError, match="not in history"):
        snapshot_files_df(spark, tbl, as_of=99)
    # commit-race: inject a CONFLICTING manifest between the writer's
    # snapshot_history() read and its os.link commit (r04 review: a
    # pre-written manifest was visible to history already, so the
    # EEXIST retry branch had zero coverage) — the writer must lose
    # id 4, retry against the new head, and commit as 5
    import json
    import os

    import sdg_engine.storage as ST

    mdir = os.path.join(tbl, "manifests")
    real_link = os.link
    fired = {"n": 0}

    def racing_link(src, dst):
        if fired["n"] == 0 and dst.endswith("4.json"):
            fired["n"] += 1
            with open(os.path.join(mdir, "4.json"), "w") as f:
                json.dump({"snapshot_id": 4, "parent": 3,
                           "mode": "overwrite", "dirs": []}, f)
        return real_link(src, dst)

    os.link = racing_link
    try:
        assert write_snapshot(df1, tbl, mode="append") == 5
    finally:
        os.link = real_link
    assert fired["n"] == 1  # the conflict really fired mid-commit
    # the append-after-race chains off the REAL head it observed (4)
    assert snapshot_history(tbl) == [1, 2, 3, 4, 5]
    assert ST._read_manifest(tbl, 5)["parent"] == 4
    # no .tmp manifest left behind
    assert not [n for n in os.listdir(mdir) if n.startswith(".tmp")]


def test_snapshot_schema_evolution(spark, tmp_path):
    """r05: add-column evolution — the append's manifest commits the
    MERGED schema; head reads see pre-evolution files with NULLs for
    the added column; time travel reads old data under its OWN schema
    unless schema_as_of asks for the evolved one; a same-name
    different-type append is a conflict and raises."""
    import pandas as pd
    import pytest as _pytest

    from sdg_engine.storage import read_snapshot, write_snapshot

    tbl = str(tmp_path / "evo_tbl")
    df1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2]}))
    df2 = spark.createDataFrame(
        pd.DataFrame({"k": [3], "tag": ["x"]})
    ).select("k", "tag")
    assert write_snapshot(df1, tbl, mode="overwrite") == 1
    assert write_snapshot(df2, tbl, mode="append") == 2
    # head: merged schema, old rows NULL-filled
    head = read_snapshot(spark, tbl)
    assert head.columns == ["k", "tag"]
    got = {r.k: r.tag for r in head.collect()}
    assert got == {1: None, 2: None, 3: "x"}
    # as-of 1: the old snapshot under its OWN committed schema
    old = read_snapshot(spark, tbl, as_of=1)
    assert old.columns == ["k"]
    # as-of 1 under the evolved schema (Iceberg old-snapshot-current-schema)
    old_new = read_snapshot(spark, tbl, as_of=1, schema_as_of=2)
    assert old_new.columns == ["k", "tag"]
    assert {r.tag for r in old_new.collect()} == {None}
    # type conflict on an existing column name refuses to commit
    bad = spark.createDataFrame(pd.DataFrame({"k": ["not-an-int"]}))
    with _pytest.raises(ValueError, match="conflict"):
        write_snapshot(bad, tbl, mode="append")


def test_partition_pruned_read_applies_deletes_and_renames(spark, tmp_path):
    """The partition-pruned reader reads through the same manifest path
    as read_snapshot: a position delete hides its row and a metadata
    rename surfaces the new column name on the pruned read too."""
    import pandas as pd

    from sdg_engine.storage import (delete_positions_where, read_snapshot,
                                    read_snapshot_partitioned, rename_column,
                                    write_snapshot)

    tbl = str(tmp_path / "part_tbl")
    ids = list(range(10))
    pdf = pd.DataFrame({"id": ids, "k": [i % 2 for i in ids],
                        "v": [10 * i for i in ids]})
    write_snapshot(spark.createDataFrame(pdf), tbl, partition_by=["k"])
    delete_positions_where(spark, tbl, "id = 4")
    assert 4 not in {r.id for r in read_snapshot(spark, tbl).collect()}
    df, n_scan, n_tot = read_snapshot_partitioned(spark, tbl, {"k": 0})
    assert sorted(r.id for r in df.collect()) == [0, 2, 6, 8]
    assert 0 < n_scan < n_tot
    assert {r.k for r in df.collect()} == {0}

    rename_column(tbl, "v", "val")
    df, _, _ = read_snapshot_partitioned(spark, tbl, {"k": 1})
    assert "val" in df.columns and "v" not in df.columns
    assert sorted((r.id, r.val) for r in df.collect()) == [
        (i, 10 * i) for i in (1, 3, 5, 7, 9)
    ]


def test_render_colormap_png(spark):
    """r05 S6b: the colormap render is deterministic, the png decodes
    back to exactly the LUT image (north-up rows, background black),
    and the emitted sums equal the numpy-side expectation."""
    import numpy as np
    import pandas as pd

    from sdg_engine.codecs import decode_png
    from sdg_engine.ops.payload import COLORMAP_RAMP, render_colormap_png

    cells = pd.DataFrame({
        "tx": [0, 0, 0, 1], "ty": [0, 0, 0, 2],
        "px": [0, 7, 3, 1], "py": [0, 7, 2, 4],
        "bin": [0, 7, 3, 5],
    })
    out = {(r.tx, r.ty): r for r in
           render_colormap_png(spark.createDataFrame(cells), 8).collect()}
    assert set(out) == {(0, 0), (1, 2)}
    ramp = np.array(COLORMAP_RAMP, dtype=np.uint8)
    want = np.zeros((8, 8, 3), np.uint8)
    want[7 - 0, 0] = ramp[0]   # py=0 renders on the BOTTOM row
    want[7 - 7, 7] = ramp[7]
    want[7 - 2, 3] = ramp[3]
    got = decode_png(bytes(out[(0, 0)].png))
    assert np.array_equal(got, want)
    r = out[(0, 0)]
    s = want.reshape(-1, 3).astype(np.int64).sum(axis=0)
    assert (r.n_covered, r.sum_r, r.sum_g, r.sum_b) == (3, *map(int, s))
    # determinism: a second render emits byte-identical blobs
    again = {(r.tx, r.ty): bytes(r.png) for r in
             render_colormap_png(spark.createDataFrame(cells), 8).collect()}
    assert again == {k: bytes(v.png) for k, v in out.items()}


def test_snapshot_merge_and_expire(spark, tmp_path):
    """r05: MERGE upsert replaces matched keys / inserts new ones in one
    committed snapshot (time travel preserved); expire_snapshots drops
    old manifests and vacuums unreferenced data dirs while surviving
    snapshots keep reading."""
    import os

    import pandas as pd
    import pytest as _pytest

    from sdg_engine.storage import (expire_snapshots, merge_snapshot,
                                    read_snapshot, snapshot_history,
                                    write_snapshot)

    tbl = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3],
                                               "v": [10, 20, 30]}))
    upd = spark.createDataFrame(pd.DataFrame({"k": [2, 9],
                                              "v": [99, 90]}))
    assert write_snapshot(base, tbl, mode="overwrite") == 1
    assert merge_snapshot(spark, tbl, upd, key="k") == 2
    got = {r.k: r.v for r in read_snapshot(spark, tbl).collect()}
    assert got == {1: 10, 2: 99, 3: 30, 9: 90}
    # pre-merge snapshot still readable
    assert {r.k: r.v for r in read_snapshot(spark, tbl, as_of=1).collect()} \
        == {1: 10, 2: 20, 3: 30}
    # merge with an ADDED column: survivors NULL-fill (schema evolution)
    upd2 = spark.createDataFrame(
        pd.DataFrame({"k": [1], "v": [11], "tag": ["x"]})
    ).select("k", "v", "tag")
    assert merge_snapshot(spark, tbl, upd2, key="k") == 3
    got3 = {r.k: (r.v, r.tag) for r in read_snapshot(spark, tbl).collect()}
    assert got3 == {1: (11, "x"), 2: (99, None), 3: (30, None), 9: (90, None)}
    # expire all but the head: old manifests gone, orphan dirs vacuumed,
    # head unchanged
    n_dirs_before = len(os.listdir(os.path.join(tbl, "data")))
    stats = expire_snapshots(tbl, keep_last=1)
    assert stats["expired"] == 2 and stats["kept"] == 1
    assert stats["orphan_dirs_removed"] >= 1
    assert len(os.listdir(os.path.join(tbl, "data"))) < n_dirs_before
    assert snapshot_history(tbl) == [3]
    assert {r.k: (r.v, r.tag) for r in read_snapshot(spark, tbl).collect()} \
        == got3
    with _pytest.raises(ValueError, match="not in history"):
        read_snapshot(spark, tbl, as_of=1)


def test_map_rows_by_position_explodes_and_empty_partitions(spark):
    """map_rows: fn's tuples land in schema order (no column names in
    the frame), a row may yield 0..k output rows, a partition with no
    input rows or no output rows yields nothing, and an all-NULL
    column converts to its schema type."""

    def _fn(r):
        for j in range(r.id % 3):  # 0, 1 or 2 rows per input row
            yield (f"r{r.id}", r.id * 10 + j, None, j == 1)

    src = spark.range(0, 6, numPartitions=16)  # 10+ empty partitions
    out = PL.map_rows(src, _fn, "name string, v bigint, nil double, odd boolean")
    assert out.columns == ["name", "v", "nil", "odd"]
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        (f"r{i}", i * 10 + j, None, j == 1) for i in range(6) for j in range(i % 3)
    )
    assert got == want
    assert dict(out.dtypes)["nil"] == "double"
    # every input row dropped: still a valid, empty frame
    none = PL.map_rows(src, lambda r: [], "name string, v bigint")
    assert none.count() == 0


def test_read_table_memo_is_per_session(spark):
    """tablecache keeps one handle per session: a sibling session from
    newSession() shares the applicationId but gets its own frame, bound
    to its own SQL conf."""
    from sdg_engine.jobs.rai import fixture_dir
    from sdg_engine.tablecache import read_table

    path = os.path.join(fixture_dir(SF), "images.parquet")
    s2 = spark.newSession()
    a = read_table(spark, path)
    b = read_table(s2, path)
    assert read_table(spark, path) is a
    assert read_table(s2, path) is b
    assert b is not a
    assert b.sparkSession is s2
    s2.conf.set("spark.sql.shuffle.partitions", "3")
    assert b.sparkSession.conf.get("spark.sql.shuffle.partitions") == "3"
    assert a.sparkSession.conf.get("spark.sql.shuffle.partitions") != "3"


def test_forgotten_sink_one_pass_matches_two_pass_sinks(spark, tmp_path):
    """forgotten_sink decodes each forgotten tile once and writes both
    sinks from that pass: its PNG rows equal ``transcode(forgotten,
    "png")`` and its GeoTIFF rows equal ``transcode_geotiff`` byte for
    byte, and the PNG output passes the payload invariants."""
    from sdg_engine.jobs.rai import fixture_dir, forgotten_sink, rai_summaries

    d = fixture_dir(SF)
    images = spark.read.parquet(os.path.join(d, "images.parquet"))
    roads = spark.read.parquet(os.path.join(d, "roads.parquet"))
    per_image, _ = rai_summaries(spark, images, roads)
    forgotten_sink(images, per_image, str(tmp_path))
    forgotten = images.join(
        per_image.filter(F.col("pop_near") == 0).select("image_id"),
        "image_id", "left_semi",
    )

    def rows(df):
        return sorted(tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
                      for r in df.collect())

    png = spark.read.parquet(str(tmp_path / "forgotten_png"))
    png_cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    assert png.columns == png_cols
    got_png = rows(png)
    assert 0 < len(got_png) < images.count()
    assert got_png == rows(PL.transcode(forgotten, "png").select(*png_cols))
    tif = spark.read.parquet(str(tmp_path / "forgotten_geotiff"))
    assert tif.columns == ["image_id", "bytes", "w", "h", "fmt"]
    assert rows(tif) == rows(PL.transcode_geotiff(SP.with_geo(forgotten)))
    inv = PL.verify_invariants(forgotten, png).toPandas()
    assert len(inv) == len(got_png)
    assert (inv["psnr"] >= 40).all()
    assert inv["caption_equal"].all()
