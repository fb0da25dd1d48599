"""§2.10 streaming: watermarked window agg, dedup, interval join and the
exactly-once snapshot sink, each verified against the batch
implementation of the same semantics."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sdg_engine import streaming as STR
from sdg_engine.queries.streaming import _stage_inputs

SF = "/root/testdata/sf0.001"


def _split_events(spark, prefix, n_files=5):
    """Events parquet split into n time-ordered files (micro-batches),
    staged with pinned mtimes in batch order; returns (in_dir, out, ck)."""
    t = pq.read_table(f"{SF}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    step = (t.num_rows + n_files - 1) // n_files
    files = [(f"part{i}.parquet", t.slice(i * step, step))
             for i in range(n_files) if i * step < t.num_rows]
    return _stage_inputs(spark, prefix, files)


def test_stream_hourly_matches_batch_closed_windows(spark):
    in_dir, out, ck = _split_events(spark, "t_hourly_")
    STR.stream_events_hourly(spark, in_dir, out, ck)
    got = spark.read.parquet(out)
    events = spark.read.parquet(f"{SF}/events.parquet")
    want = STR.batch_hourly_closed(spark, events)
    assert got.count() > 0
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0


def test_stream_hourly_checkpoint_incremental(spark):
    """Re-running over the same input with the same checkpoint emits
    nothing new (exactly-once over the file source)."""
    in_dir, out, ck = _split_events(spark, "t_hourly_ck_")
    STR.stream_events_hourly(spark, in_dir, out, ck)
    n1 = spark.read.parquet(out).count()
    STR.stream_events_hourly(spark, in_dir, out, ck)  # no new input
    assert spark.read.parquet(out).count() == n1


def test_stream_dedup_docs_dedupes_across_batches(spark):
    """Streaming dedup: duplicated input files across micro-batches
    yield each (lang, fp) key exactly once, and re-running with the
    same checkpoint (state restored) emits nothing for replayed keys."""
    import shutil

    docs = f"{SF}/documents.parquet"
    in_dir, out, ck = _stage_inputs(spark, "t_dedup_", [
        ("a.parquet", docs),
        ("b.parquet", docs),  # full duplicate batch
    ])
    STR.stream_dedup_docs(spark, in_dir, out, ck)
    got = spark.read.parquet(out)
    n1 = got.count()
    assert n1 == got.select("lang", "fp").distinct().count()  # each key once
    want = (
        spark.read.parquet(docs)
        .select("lang", F.md5("text").alias("fp"))
        .distinct()
        .count()
    )
    assert n1 == want
    # third copy of the same rows: state (restored from checkpoint)
    # suppresses every already-seen key; its mtime follows b's, as the
    # stager would have pinned it
    c = os.path.join(in_dir, "c.parquet")
    shutil.copy(docs, c)
    t_b = os.stat(os.path.join(in_dir, "b.parquet")).st_mtime + 1
    os.utime(c, (t_b, t_b))
    STR.stream_dedup_docs(spark, in_dir, out, ck)
    assert spark.read.parquet(out).count() == n1


def test_stream_interval_join_matches_batch(spark):
    """Stream-stream interval join over micro-batched input equals the
    batch interval join (the 2 h watermark >> 30 min interval means no
    in-range match is evicted before its partner arrives)."""
    in_dir, out, ck = _split_events(spark, "t_ijoin_")
    STR.stream_interval_join(spark, in_dir, out, ck)
    got = spark.read.parquet(out)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"))
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"))
    want = clicks.join(
        views,
        F.expr("c_user = v_user AND v_ts >= c_ts - INTERVAL 1800 SECOND "
               "AND v_ts <= c_ts"),
    ).select(F.col("c_user").alias("user_id"), "click_id", "view_id")
    assert got.count() > 0
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0


def test_stream_dedup_watermarked_state_is_horizon_bounded(spark):
    """r04 (verdict item 7): dropDuplicatesWithinWatermark must (a) drop
    duplicates arriving INSIDE the lateness horizon, and (b) EVICT a
    key's state once the watermark passes its ts + delay — proven by the
    re-emission of a duplicate arriving beyond the horizon (under plain
    dropDuplicates it would still be dropped; state there only grows)."""

    def _docs(rows):
        return pa.table({
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["s"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        })

    in_dir, out, ck = _stage_inputs(spark, "t_dedup_wm_", [
        # batch 1: A first seen at t=1 (NOT t=0 — the initial watermark
        # is 0 and rows at/below it are dropped as late, empirically), B
        # at t=5
        ("a.parquet", _docs([(1, "textA"), (5, "textB")])),
        # batch 2: B duplicate at t=7 (inside the 10 s horizon ->
        # dropped); the t=50 row advances the watermark for LATER
        # batches to 40
        ("b.parquet", _docs([(7, "textB"), (50, "textC")])),
        # batch 3 (filler): state cleanup runs at END of the batch whose
        # eviction watermark (40 s) covers A (1+10) and B (5+10) —
        # eviction is end-of-batch, AFTER input processing, so the
        # re-emission probe must arrive one batch later
        ("c.parquet", _docs([(60, "textD")])),
        # batch 4: A duplicate at t=100 — state evicted, so it RE-EMITS
        ("d.parquet", _docs([(100, "textA")])),
    ])
    STR.stream_dedup_docs_watermarked(
        spark, in_dir, out, ck, watermark="10 seconds", max_files=1
    )
    got = spark.read.parquet(out).toPandas()
    import hashlib

    fp = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
    counts = got.groupby("fp").size().to_dict()
    assert counts[fp("textA")] == 2  # re-emitted beyond the horizon
    assert counts[fp("textB")] == 1  # duplicate inside horizon dropped
    assert counts[fp("textC")] == 1
    assert counts[fp("textD")] == 1


def test_snapshot_sink_exactly_once_under_redelivery(spark):
    """The foreachBatch snapshot sink must be idempotent by batchId:
    wiping the CHECKPOINT (so availableNow re-delivers every batch
    from scratch) while keeping the table's _last_batch marker must
    add ZERO new snapshots and leave the row count unchanged."""
    import shutil

    from sdg_engine.storage import read_snapshot, snapshot_history

    in_dir, table, ck = _split_events(spark, "t_snapshot_", n_files=3)
    STR.stream_snapshot_sink(spark, in_dir, table, ck)
    hist1 = snapshot_history(table)
    n1 = read_snapshot(spark, table).count()
    assert len(hist1) == 3  # one snapshot per input file
    assert n1 == spark.read.parquet(f"{SF}/events.parquet").count()
    # simulate at-least-once redelivery: lose the checkpoint, keep the
    # sink marker -> every batch re-runs, every commit must be skipped
    shutil.rmtree(ck)
    STR.stream_snapshot_sink(spark, in_dir, table, ck)
    hist2 = snapshot_history(table)
    assert hist2 == hist1
    assert read_snapshot(spark, table).count() == n1


def test_stage_inputs_pins_mtimes_in_write_order(tmp_path, monkeypatch):
    """FileStreamSource orders pending files by mtime alone, so the
    drain input stager must give files it writes within one second
    strictly increasing whole-second mtimes, in list order (not name
    order).  Spark-free: a stub stands in for the session."""
    import tempfile
    from types import SimpleNamespace

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    confs = {}
    spark = SimpleNamespace(
        conf=SimpleNamespace(set=confs.__setitem__),
        sparkContext=SimpleNamespace(applicationId="local-stage-test"),
    )
    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.table({"x": [1]}), src)
    names = ["c.parquet", "a.parquet", "b.parquet"]
    in_dir, out, ck = _stage_inputs(
        spark, "stage_",
        [(names[0], src), (names[1], pa.table({"x": [2]})), (names[2], src)],
    )
    assert sorted(os.listdir(in_dir)) == sorted(names)
    mtimes = [os.stat(os.path.join(in_dir, n)).st_mtime for n in names]
    assert all(b - a >= 1 for a, b in zip(mtimes, mtimes[1:])), mtimes
    assert confs == {"spark.sql.session.timeZone": "UTC"}
    assert os.path.dirname(out) == os.path.dirname(ck) == os.path.dirname(in_dir)
