"""Structured Streaming queries: each builder stages its input files
with :func:`_stage_inputs`, drains them with an availableNow trigger
and returns the sink's rows."""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import streaming as STR
from ._common import _drain_confs, _stream_base, _t


def _stage_inputs(spark, prefix: str, files) -> tuple[str, str, str]:
    """Stage one drain's input files under a fresh :func:`_stream_base`
    dir; returns (in_dir, out, ck).  ``files`` lists ``(name, src)`` in
    micro-batch order: a path ``src`` is copied, a pyarrow Table is
    written.  FileStreamSource orders pending files by mtime ONLY (ms
    resolution, no path tie-break), so each file gets a whole-second
    mtime one second after the previous file's — files written within
    one millisecond would otherwise drain in an arbitrary order.  Also
    pins the session time zone to UTC, which the drains' event-time
    windows and timestamp sinks assume."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _stream_base(spark, prefix)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    t0 = int(time.time())
    for i, (name, src) in enumerate(files):
        path = os.path.join(in_dir, name)
        if isinstance(src, str):
            shutil.copy(src, path)
        else:
            pq.write_table(src, path)
        os.utime(path, (t0 + i, t0 + i))
    return in_dir, os.path.join(base, "out"), os.path.join(base, "ck")


def _ntile_chunks(sf_dir, k: int):
    """The events cut into ``k`` chunk files as ``NTILE(k) OVER (ORDER
    BY ts, event_id)`` cuts them: contiguous in (ts, event_id) order,
    the first ``n % k`` chunks one row longer."""
    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.take(pc.sort_indices(
        t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
    ))
    q, r = divmod(t.num_rows, k)
    files, lo = [], 0
    for c in range(k):
        files.append((f"chunk{c}.parquet", t.slice(lo, q + (c < r))))
        lo += q + (c < r)
    return files


def streaming_hourly_closed(spark, sf_dir):
    """§2.10: a REAL Structured Streaming run (file source → watermarked
    hourly window agg → availableNow → parquet sink), returned as the
    sink's contents.  Oracle-checked: the append-mode output is exactly
    the windows closed at the final watermark, which DuckDB computes
    relationally."""
    in_dir, out, ck = _stage_inputs(
        spark, "hourly_", [("events.parquet", f"{sf_dir}/events.parquet")]
    )
    STR.stream_events_hourly(spark, in_dir, out, ck)
    return spark.read.parquet(out).select(
        F.unix_timestamp("hour_start").alias("hour_epoch"),
        "event_type", "n", "sum_value_floor",
    )


def streaming_dedup_docs(spark, sf_dir):
    """Streaming exact dedup (dropDuplicates over the file-source
    stream, availableNow drain): per-language count of distinct
    (lang, md5(text)) keys.  The aggregate is computed batch-side from
    the deduped sink, so the result is independent of stream read
    order and matches the DuckDB COUNT(DISTINCT) oracle exactly."""
    in_dir, out, ck = _stage_inputs(
        spark, "sdedup_",
        [("documents.parquet", f"{sf_dir}/documents.parquet")],
    )
    STR.stream_dedup_docs(spark, in_dir, out, ck)
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


def streaming_dedup_watermarked(spark, sf_dir):
    """Watermark-BOUNDED streaming dedup (r04 verdict item 7):
    ``dropDuplicatesWithinWatermark`` over a deterministic event time
    (ts = epoch + doc_id s) — state lives only inside the lateness
    horizon instead of ∝ all distinct keys (the plain dropDuplicates
    twin documents its unbounded state).  Run here with the 7-day
    horizon ≫ the fixture's doc_id span, where the drained result
    provably equals first-occurrence dedup — so the DuckDB oracle is
    the same COUNT(DISTINCT).  The horizon-crossing behavior
    (re-emission after state eviction) is pinned separately in
    tests/test_streaming.py."""
    in_dir, out, ck = _stage_inputs(
        spark, "sdwm_",
        [("documents.parquet", f"{sf_dir}/documents.parquet")],
    )
    STR.stream_dedup_docs_watermarked(spark, in_dir, out, ck)
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


def streaming_interval_join(spark, sf_dir):
    """Stream-stream interval join (clicks ⋈ same-user views within the
    preceding 30 min), drained with availableNow and aggregated
    batch-side from the emitted pairs — the result is the exact batch
    interval join, independent of micro-batch boundaries (DuckDB
    oracle).  State on both sides is watermark-bounded."""
    in_dir, out, ck = _stage_inputs(
        spark, "sij_", [("events.parquet", f"{sf_dir}/events.parquet")]
    )
    STR.stream_interval_join(spark, in_dir, out, ck)
    return (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("click_id").alias("min_click"),
            F.max("view_id").alias("max_view"),
        )
    )


def _interval_join_files(sf_dir):
    """Input files of the stream-stream outer interval joins.

    Events before 2024-01-11 (DEMO BOUND: join-state churn is per-row
    and the full sf0.1 month ran 125 s in the bench for no extra
    semantic coverage; the oracles apply the same absolute bound), in
    TWO chronological chunks — the drained result depends only on the
    FINAL watermark, so extra chunk boundaries only re-pay per-batch
    fixed cost (~1-1.5 s each) — then two trailing FILLER files (gotcha
    16a: outer-join NULL eviction runs at the end of the batch AFTER
    the watermark crosses the bound).  'signup' filler rows join
    neither side, so they advance the watermark without touching join
    state."""
    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.filter(pc.less(t["ts"], pa.scalar(_dt.datetime(2024, 1, 11))))
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    n = t.num_rows
    filler = t.filter(pc.equal(t["event_type"], "signup")).slice(0, 4)
    files = [(f"chunk-{k:02d}.parquet",
              t.slice(k * n // 2, (k + 1) * n // 2 - k * n // 2))
             for k in range(2)]
    return files + [(f"chunk-9{k}-filler.parquet", filler) for k in range(2)]


def streaming_left_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join drained to parquet: the
    outer-join state-eviction path (NULL emission for clicks the
    watermark proves unmatched).  Input arrives as FOUR time-ordered
    files at one file per trigger, so the watermark advances across
    batches and every bounded click's NULL row flushes before the
    drain ends; the DuckDB oracle is the plain batch left join over
    the same click bound."""
    in_dir, out, ck = _stage_inputs(
        spark, "slj_", _interval_join_files(sf_dir)
    )
    # stateful-join state stores (4 per join) are one per shuffle
    # partition PER BATCH — at 32 partitions that is 128 store commits
    # a batch, pure fixed cost at harness size.  8 is plenty here;
    # _drain_confs also turns codegen off for the drain (r06 — see its
    # docstring) and restores both right after.
    with _drain_confs(spark, nodata=False):
        STR.stream_interval_join(spark, in_dir, out, ck, how="left")
    return (
        spark.read.parquet(out)
        # a full day below the stream cutoff: the final global watermark
        # is throttled by the filtered click side to ~(cutoff - 2 h), so
        # only clicks with c_ts + 30 min safely below it are guaranteed
        # their NULL emission (see the stream_interval_join docstring)
        .filter(F.expr("c_ts < TIMESTAMP '2024-01-09 00:00:00'"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("view_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
            F.sum(F.coalesce("view_id", F.lit(-1))).alias("sum_view"),
        )
    )


def streaming_snapshot_sink(spark, sf_dir):
    """STREAMING → LAKEHOUSE: ingest the events stream into the
    snapshot table exactly-once (one snapshot commit per micro-batch
    via foreachBatch, batchId-idempotent — streaming.stream_snapshot_sink
    documents the retry contract).  The input is split into 4 files
    with maxFilesPerTrigger=1, so the table ends at exactly 4
    snapshots (pinned in the output); the result reads the LATEST
    snapshot back through the time-travel reader and aggregates —
    so stream ingestion, commit protocol, and snapshot read are all
    load-bearing.  Values fold as integer mils (gotcha 8).
    """
    from ..storage import read_snapshot, snapshot_history

    in_dir, table, ck = _stage_inputs(spark, "snapsink_", [])
    # the 4 input files are one round-robin Spark write, not staged
    # chunks (into the fresh, empty in_dir, hence append)
    _t(spark, sf_dir, "events").repartition(4).write.mode("append").parquet(
        in_dir
    )
    with _drain_confs(spark, nodata=False):  # r06: see _drain_confs
        STR.stream_snapshot_sink(spark, in_dir, table, ck)
    n_snaps = len(snapshot_history(table))
    return (
        read_snapshot(spark, table)
        .selectExpr(
            "event_type",
            "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_mils",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_mils").alias("sum_v_mils"),
        )
        .withColumn("n_snapshots", F.lit(n_snaps).cast("int"))
    )


def streaming_static_enrich(spark, sf_dir):
    """STREAM-STATIC broadcast-join enrichment (§2.10) — the canonical
    production dimension join: every micro-batch of the event stream
    inner-joins a static user→tier dimension as a BROADCAST hash join;
    stateless (no watermark, no state stores — the per-batch fixed
    cost of gotcha 16d does not exist here), so availableNow drains at
    scan speed.  The dimension is built from the distinct user set so
    the inner join drops nothing; the aggregate reads the SINK, so a
    broken join (missed or duplicated rows) flips counts or tiers.
    Oracle: the same tier CASE computed relationally from events."""
    in_dir, out, ck = _stage_inputs(
        spark, "senrich_", [("events.parquet", f"{sf_dir}/events.parquet")]
    )
    dim = (
        spark.read.parquet(os.path.join(in_dir, "events.parquet"))
        .select("user_id").distinct()
        .selectExpr(
            "user_id",
            "CASE CAST(user_id % 4 AS INT) WHEN 0 THEN 'bronze' "
            "WHEN 1 THEN 'silver' WHEN 2 THEN 'gold' "
            "ELSE 'platinum' END AS tier",
        )
    )
    with _drain_confs(spark, nodata=False):  # r06: see _drain_confs
        STR.stream_static_enrich(spark, in_dir, out, ck, dim)
    return (
        spark.read.parquet(out)
        .groupBy("tier", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
            .alias("sum_cents"),
        )
    )


def streaming_session_window(spark, sf_dir):
    """NATIVE SESSION WINDOWS in Structured Streaming
    (``F.session_window`` — the built-in merging-session operator, the
    engine's one sessionizer): per-user 30-min-gap sessions over the
    watermarked event stream, append mode, availableNow drain.  The sink
    holds exactly the sessions whose end (last event + gap) cleared the
    final watermark (max event time − 2 h) — the oracle reproduces that
    set with a batch gaps-and-islands CTE plus the closure filter, so
    the watermark semantics themselves are oracle-checked.  Output is
    the one-row session ledger (counts/cents/single-event sessions/max
    padded duration)."""
    in_dir, out, ck = _stage_inputs(
        spark, "sesswin_", [("events.parquet", f"{sf_dir}/events.parquet")]
    )
    with _drain_confs(spark):  # r06: codegen off per drained batch
        STR.stream_sessions_native(spark, in_dir, out, ck)
    sess = spark.read.parquet(out).selectExpr(
        "user_id", "n_events", "sum_cents",
        "unix_micros(CAST(s_end AS TIMESTAMP)) "
        "- unix_micros(CAST(s_start AS TIMESTAMP)) AS dur_us",
    )
    return sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("n_events").alias("sum_events"),
        F.sum("sum_cents").alias("sum_cents"),
        F.sum(F.expr("CAST(n_events = 1 AS BIGINT)")).alias("n_single"),
        F.max("dur_us").alias("max_dur_us"),
    )


def streaming_user_streaks(spark, sf_dir):
    """LONGEST PER-USER EVENT-TYPE STREAK through a REAL streaming run —
    the engine's custom stateful operator, and one no built-in streaming
    aggregate expresses (the fold is order-sensitive).  Input is written
    as 2 time-ordered chunk files (r06: was 4 — the answer is each
    user's FINAL state row, so any chunk count ≥ 2 exercises the
    cross-batch state composition and extra chunks only re-paid
    per-batch fixed cost; parity PASS) and drained with
    maxFilesPerTrigger=1, so micro-batch order equals event-time order
    and the applyInPandasWithState run-length fold composes across batch
    boundaries through its state row.  Each batch emits the running
    state; the final row per user (max n_events — strictly increasing
    per appearance) is the answer.  State-store fixed cost follows gotcha
    16d: the drain runs at 8 shuffle partitions (1 store x partitions x
    2 batches), restored after.  Oracle: the classic batch
    gaps-and-islands run analysis (rn - run ROW_NUMBER grouping),
    earliest-max tie-break."""
    in_dir, out, ck = _stage_inputs(
        spark, "streak_", _ntile_chunks(sf_dir, 2)
    )
    with _drain_confs(spark, nodata=False):
        STR.stream_user_streaks(spark, in_dir, out, ck)
    sink = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("user_id", "n_events", "best_len", "best_type")
    )


def streaming_chained_aggs(spark, sf_dir):
    """§2.10 breadth: TWO stateful windowed aggregations CHAINED in one
    streaming query (Spark 4 multiple-stateful-operator support) —
    15-minute counts per event type re-aggregated into hourly rollups
    by windowing over the first aggregation's window struct.  Append
    mode emits each hourly window exactly once when the cascaded
    watermark passes its end; the DuckDB oracle recomputes both levels
    relationally and applies the same closure rule (hour_end <=
    max(ts) - watermark).  The drain runs at 8 shuffle partitions
    (gotcha 16d: state-store fixed cost = stores x partitions x
    batches — two cascaded stores here)."""
    in_dir, out, ck = _stage_inputs(
        spark, "chained_", [("events.parquet", f"{sf_dir}/events.parquet")]
    )
    with _drain_confs(spark):
        STR.stream_chained_windows(spark, in_dir, out, ck)
    return spark.read.parquet(out).select(
        F.unix_timestamp("hour_start").alias("hour_epoch"),
        "event_type", "n", "n_quarters", "max_quarter",
    )


def streaming_dedup_then_window(spark, sf_dir):
    """MULTI-STATEFUL STREAMING CHAIN #2: watermark-bounded DEDUP
    feeding a windowed count inside one query — the exactly-once
    ingest shape.  The input is DOUBLED (two copies of the events
    file, one per micro-batch), so the dedup state is load-bearing:
    closed windows match the batch twin over DISTINCT events exactly.
    Drained at 8 shuffle partitions (gotcha 16d, two state stores)."""
    events = f"{sf_dir}/events.parquet"
    in_dir, out, ck = _stage_inputs(
        spark, "dedupwin_", [("a.parquet", events), ("b.parquet", events)]
    )
    with _drain_confs(spark, nodata=False):
        STR.stream_dedup_then_window(spark, in_dir, out, ck)
    return spark.read.parquet(out).select(
        F.unix_timestamp("hour_start").alias("hour_epoch"),
        "event_type", "n", "sum_cents",
    )


# SPEC shared verbatim with the DuckDB range() oracle:
_TICK_N = 5000
_TICK_HR = "(1600000000000000 + i * 37000000) DIV 3600000000"
_TICK_CENTS = "(i * 7919) % 100000"


def streaming_pysource_windows(spark, sf_dir):
    """STREAMING PYTHON DATA SOURCE end-to-end (the streaming half of
    the Spark 4 DataSource API, next to the batch mbtiles source): a
    deterministic counter source whose replay is a pure function of
    its offsets feeds an hourly event-time aggregate in COMPLETE mode;
    the drain loop polls the memory sink until all N rows have flowed
    through (5 genuine micro-batches — availableNow falls back to
    single-batch for Python stream sources, so the multi-batch offset
    path is exercised deliberately).  Oracle: the same arithmetic over
    DuckDB range(0, N) — fully live, no golden."""
    import uuid

    spark.dataSource.register(STR.make_ticker_datasource())
    name = f"tick_{uuid.uuid4().hex[:8]}"
    src = spark.readStream.format("ticker").option(
        "n_rows", str(_TICK_N)
    ).option("rows_per_batch", "1000").option("n_splits", "4").load()
    agg = (
        src.selectExpr(
            f"{_TICK_HR} AS hr", f"{_TICK_CENTS} AS cents"
        )
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.max("cents").alias("max_cents"),
        )
    )
    with _drain_confs(spark, nodata=False):  # r06: see _drain_confs
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(processingTime="0 seconds")
            .start()
        )
        try:
            t0 = time.time()
            while time.time() - t0 < 180:
                tot = spark.sql(
                    f"SELECT COALESCE(SUM(n_events), 0) AS s FROM {name}"
                ).collect()[0].s
                if tot == _TICK_N:
                    break
                time.sleep(0.25)
            else:
                raise TimeoutError("ticker stream did not drain in 180 s")
        finally:
            q.stop()
    return spark.table(name)


def streaming_full_outer_join(spark, sf_dir):
    """Stream-stream FULL OUTER interval join drained to parquet — the
    last join mode (inner r03, left r05): both sides evict, so
    watermark-proven-unmatched CLICKS and VIEWS each emit their NULL
    row.  Same chronological-chunk + filler-batch discipline as the
    left join (gotchas 16a/16c); the comparison bound keeps both
    eviction horizons provably under the final global watermark, and
    the oracle is the plain batch FULL JOIN under the same bounds."""
    in_dir, out, ck = _stage_inputs(
        spark, "sfj_", _interval_join_files(sf_dir)
    )
    with _drain_confs(spark, nodata=False):
        STR.stream_interval_join(spark, in_dir, out, ck, how="full")
    return (
        spark.read.parquet(out)
        .filter(F.expr(
            "COALESCE(c_ts, v_ts) < TIMESTAMP '2024-01-09 00:00:00'"
        ))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr(
                "CASE WHEN click_id IS NOT NULL AND view_id IS NOT NULL"
                " THEN 1 ELSE 0 END")).alias("n_matched"),
            F.sum(F.expr(
                "CASE WHEN view_id IS NULL THEN 1 ELSE 0 END"
            )).alias("n_click_only"),
            F.sum(F.expr(
                "CASE WHEN click_id IS NULL THEN 1 ELSE 0 END"
            )).alias("n_view_only"),
            F.sum(F.expr("COALESCE(click_id, 0) + COALESCE(view_id, 0)"))
            .alias("id_chk"),
        )
        .orderBy("user_id")
    )


QUERIES = {
    "streaming_hourly_closed": streaming_hourly_closed,
    "streaming_dedup_docs": streaming_dedup_docs,
    "streaming_dedup_watermarked": streaming_dedup_watermarked,
    "streaming_interval_join": streaming_interval_join,
    "streaming_session_window": streaming_session_window,
    "streaming_static_enrich": streaming_static_enrich,
    "streaming_snapshot_sink": streaming_snapshot_sink,
    "streaming_left_join": streaming_left_join,
    "streaming_user_streaks": streaming_user_streaks,
    "streaming_chained_aggs": streaming_chained_aggs,
    "streaming_dedup_then_window": streaming_dedup_then_window,
    "streaming_pysource_windows": streaming_pysource_windows,
    "streaming_full_outer_join": streaming_full_outer_join,
}
