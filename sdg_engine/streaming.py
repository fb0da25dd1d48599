"""§2.10 Structured Streaming surface (beyond the batch-only reference).

The reference pipeline is batch; its resume story is lineage.py.  This
module declares the same kind of operators as streaming plans, each a
drain built from the same three pieces:

* :func:`_source` — the parquet file-source reader: a fixed schema and
  ``maxFilesPerTrigger`` files per micro-batch.  FileStreamSource
  takes pending files in mtime order, so the order in which the caller
  staged the files is the batch order.
* :func:`_sink` — the availableNow parquet sink with its checkpoint:
  it drains whatever input exists and stops, so the same code is both
  the backfill batch and the live stream (the lakehouse pattern), and
  the checkpoint makes re-runs incremental.
* :func:`stream_interval_join` — the one stream-stream interval join
  (inner, left or full outer) over the click and view sides of the
  events stream.

Between source and sink sit the drains' own operators: watermarked
windows (single and chained), dedup (plain and watermark-bounded),
native session windows, a stream-static broadcast join and the custom
stateful operators (``applyInPandasWithState`` sessionize and streaks,
``transformWithStateInPandas`` running totals).  The exactly-once
snapshot sink keeps its own ``foreachBatch`` sink, and the Python
ticker source feeds a memory sink (Python sources cannot run
availableNow).  Each drain is checked against a batch twin of the same
semantics, in tests or by its DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
# Event-time lateness of the drains; batch_hourly_closed closes its
# windows at the same horizon, so a stream and its batch twin agree.
WATERMARK_S = 7200
WATERMARK = f"{WATERMARK_S // 3600} hours"


def _source(
    spark: SparkSession, in_dir: str, schema: str, max_files: int
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(in_dir)
    )


def _sink(df: DataFrame, out_dir: str, checkpoint: str) -> None:
    (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
        .awaitTermination()
    )


def stream_events_hourly(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
) -> None:
    """Watermarked hourly counts per event_type, file source → parquet
    sink, availableNow trigger (drain-and-stop).

    Watermark bounds state: windows older than max(event time) −
    ``WATERMARK`` are finalized and evicted — late rows beyond it are
    dropped, which is the documented streaming-vs-batch difference.
    Append output mode emits each window exactly once, on close."""
    src = _source(spark, in_dir, EVENTS_SCHEMA, 4)
    agg = (
        src.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.sum("value")).cast("long").alias("sum_value_floor"),
        )
        .select(
            F.col("win.start").alias("hour_start"), "event_type", "n",
            "sum_value_floor",
        )
    )
    _sink(agg, out_dir, checkpoint)


DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def stream_dedup_docs(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint: str
) -> None:
    """Streaming exact dedup: first occurrence per (lang, md5(text))
    key, file source → parquet sink, availableNow trigger.

    ``dropDuplicates`` keeps per-key state in the state store, so the
    same code continues deduplicating across restarts (checkpointed).
    State here is unbounded by design — the harness drains a finite
    backlog; a continuously-running deployment with an event-time
    column bounds it with ``dropDuplicatesWithinWatermark`` instead
    (first-occurrence semantics within the lateness horizon).  Only
    the deterministic key columns are emitted — WHICH duplicate row
    wins depends on read order, so no payload column leaks into the
    sink."""
    src = _source(spark, in_dir, DOCS_SCHEMA, 4)
    deduped = src.select("lang", F.md5("text").alias("fp")).dropDuplicates(
        ["lang", "fp"]
    )
    _sink(deduped, out_dir, checkpoint)


def stream_dedup_docs_watermarked(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    watermark: str = "7 days",
    max_files: int = 4,
) -> None:
    """Streaming dedup with WATERMARK-BOUNDED state (r04, verdict item
    7): ``dropDuplicatesWithinWatermark`` keeps a key's state only until
    the event-time watermark passes its timestamp + delay, so state is
    ∝ keys-within-horizon instead of ∝ all distinct keys ever — the
    shape a continuously-running 100 TB ingest needs (the plain
    ``dropDuplicates`` twin above documents its unbounded state).

    Event time derives deterministically from the row: ts = epoch +
    doc_id seconds.  Semantics: a duplicate arriving within the
    horizon of its first occurrence is dropped; beyond it, the key may
    legitimately be emitted again (state was evicted — pinned in
    tests).  The harness oracle runs with the horizon ≫ the fixture's
    doc_id span, where the drained result provably equals plain
    first-occurrence dedup, so DuckDB can state it relationally."""
    src = _source(spark, in_dir, DOCS_SCHEMA, max_files)
    deduped = (
        src.select(
            "lang",
            F.md5("text").alias("fp"),
            # +1: the initial watermark is epoch 0 and rows at/below it
            # are dropped as late (pinned in tests) — doc_id 0 must not
            # sit exactly on it
            F.timestamp_seconds(F.col("doc_id") + 1).alias("ts"),
        )
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["lang", "fp"])
        .select("lang", "fp")
    )
    _sink(deduped, out_dir, checkpoint)


# Click bound of the outer interval joins (see stream_interval_join);
# the full-join oracle states the same bound.
_OUTER_CLICK_BOUND = "2024-01-10 00:00:00"
_INTERVAL_S = 1800


def stream_interval_join(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    how: str = "inner",
) -> None:
    """Stream-stream INTERVAL join (the canonical two-stream shape):
    click events joined to the same user's view events from the
    preceding ``_INTERVAL_S`` seconds; ``how`` is ``"inner"``,
    ``"left"`` or ``"full"``.

    Both sides carry an event-time watermark and the join condition
    carries the time bound, so each side's state store retains only
    rows inside ``interval + watermark`` — bounded state, the form
    Spark's state cleanup requires for stream-stream joins (and the
    outer joins require outright).  Sink columns per mode:

    * inner — (user_id, click_id, view_id).  Append mode emits every
      (click, view) match exactly once; with the 2 h watermark ≫ the
      30 min interval no in-range match can be evicted before its
      partner arrives, so the drained result equals the batch interval
      join (oracle-checked as ``streaming_interval_join``).
    * left — (user_id, click_id, c_ts, view_id).  An unmatched click is
      also emitted once with a NULL view, when the watermark proves no
      match can still arrive: in a batch AFTER the watermark passes
      ``c_ts + interval`` — the outer-join state-EVICTION semantics the
      inner mode never exercises.
    * full — (user_id, click_id, c_ts, view_id, v_ts), user_id from
      whichever side is present.  An unmatched view also emits a
      NULL-click row when the watermark passes ``v_ts + interval`` (a
      view at v_ts can match clicks up to v_ts + interval, the mirror
      horizon).

    The inner mode reads 4 files per trigger.  The outer modes read one
    file per trigger, so over time-ordered multi-file input the batches
    keep running and the watermark keeps advancing, and they keep only
    clicks with ``ts < _OUTER_CLICK_BOUND``.  The caller must compare
    only rows whose eviction horizon is provably crossed by the FINAL
    global watermark: the global watermark is the MIN over both sides,
    so the filtered click side throttles it to ~(bound − delay), and
    only rows whose ANCHOR timestamp (c_ts when a click is present,
    v_ts otherwise) + interval lies below that are guaranteed flushed
    (measured: the last in-bound click sat 20 min inside the 30-min
    interval and never evicted).  The timestamps are carried through
    the output so the caller can apply that bound; under it the drained
    output equals the batch outer join (oracle-checked)."""
    max_files = 4 if how == "inner" else 1
    clicks = _source(spark, in_dir, EVENTS_SCHEMA, max_files).filter(
        F.col("event_type") == "click"
    )
    if how != "inner":
        clicks = clicks.filter(
            F.expr(f"ts < TIMESTAMP '{_OUTER_CLICK_BOUND}'")
        )
    clicks = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", WATERMARK)
    views = (
        _source(spark, in_dir, EVENTS_SCHEMA, max_files)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", WATERMARK)
    )
    user = F.col("c_user").alias("user_id")
    cols = {
        "inner": [user, "click_id", "view_id"],
        "left": [user, "click_id", "c_ts", "view_id"],
        "full": [F.coalesce("c_user", "v_user").alias("user_id"),
                 "click_id", "c_ts", "view_id", "v_ts"],
    }[how]
    joined = clicks.join(
        views,
        F.expr(
            f"c_user = v_user AND v_ts >= c_ts - INTERVAL {_INTERVAL_S} SECOND "
            f"AND v_ts <= c_ts"
        ),
        how,
    ).select(*cols)
    _sink(joined, out_dir, checkpoint)


_SESSION_STATE_SCHEMA = "start long, last long, n int"
_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events int"
)
GAP_S = 1800


def _sessionize_fn(key, pdfs, state: GroupState):
    """applyInPandasWithState body: fold this batch's events into the
    open session; emit every CLOSED session (gap > 30 min between
    consecutive events, or state timeout at the watermark)."""
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [key[0]],
             "session_start": [pd.Timestamp(start, unit="s")],
             "session_end": [pd.Timestamp(last, unit="s")],
             "n_events": [n]}
        )
        return
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    # normalize to ns first — parquet timestamps may arrive as
    # datetime64[us], whose int64 view is MICROseconds
    ts = rows["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000_000
    out = []
    if state.exists:
        start, last, n = state.get
    else:
        start = last = int(ts.iloc[0])
        n = 0
    for t in ts:
        t = int(t)
        if n > 0 and t - last > GAP_S:
            out.append((key[0], start, last, n))
            n = 0
        if n == 0:
            start = t
        last = t
        n += 1
    state.update((start, last, n))
    # clamp above the current watermark: Spark rejects an event-time
    # timeout <= watermark with IllegalArgumentException (r03 review —
    # reachable when a user's newest event is already older than
    # watermark - GAP_S in a later micro-batch)
    timeout_ms = (last + GAP_S) * 1000
    try:
        wm = state.getCurrentWatermarkMs()
        timeout_ms = max(timeout_ms, wm + 1)
    except Exception:
        pass
    state.setTimeoutTimestamp(timeout_ms)
    yield pd.DataFrame(
        {"user_id": [r[0] for r in out],
         "session_start": [pd.Timestamp(r[1], unit="s") for r in out],
         "session_end": [pd.Timestamp(r[2], unit="s") for r in out],
         "n_events": [r[3] for r in out]}
    )


def stream_sessionize(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
) -> None:
    """Custom stateful streaming operator: per-user sessionization with
    a 30-min gap, state timeout driven by the event-time watermark."""
    src = _source(spark, in_dir, EVENTS_SCHEMA, 4)
    sessions = (
        src.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            _SESSION_OUT_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    _sink(sessions, out_dir, checkpoint)


def stream_static_enrich(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    dim: DataFrame,
) -> None:
    """STREAM-STATIC broadcast-join enrichment — the canonical
    dimension-join shape of production ingest: every micro-batch of
    the event stream inner-joins a STATIC dimension (user → tier).
    Stateless: no watermark, no state store (the static side is just
    re-planned into each micro-batch as a broadcast hash join), so
    the fixed per-batch cost that dominates stateful streams (gotcha
    16d) does not apply here at any partitioning."""
    src = _source(spark, in_dir, EVENTS_SCHEMA, 4)
    joined = src.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "tier", "event_type", "value"
    )
    _sink(joined, out_dir, checkpoint)


def stream_snapshot_sink(
    spark: SparkSession,
    in_dir: str,
    table_path: str,
    checkpoint: str,
) -> None:
    """EXACTLY-ONCE streaming ingestion into the snapshot table (the
    streaming→Iceberg pattern): every micro-batch commits as ONE
    snapshot via ``foreachBatch``, idempotent by batchId.

    Spark guarantees foreachBatch at-LEAST-once — on recovery a batch
    can re-run — so the sink supplies the dedup: a sidecar
    ``_last_batch`` marker inside the table dir records the highest
    committed batchId, a re-delivered batch compares and skips, and
    the marker advances via atomic rename AFTER the snapshot commit.
    (Crash between commit and marker ⇒ the batch re-runs and
    double-appends — same window every Delta/Iceberg foreachBatch
    sink closes by stamping the batchId into the commit itself; the
    shim's manifest has no summary field, so the marker carries it.
    The ordering is still correct-under-retry for the availableNow
    drain used here.)  maxFilesPerTrigger=1 ⇒ one snapshot per input
    file — deterministic snapshot count for the oracle to pin."""
    import os

    from .storage import write_snapshot

    src = _source(spark, in_dir, EVENTS_SCHEMA, 1)
    marker = os.path.join(table_path, "_last_batch")

    def _commit(df: DataFrame, batch_id: int) -> None:
        last = -1
        if os.path.exists(marker):
            last = int(open(marker).read().strip() or "-1")
        if batch_id <= last:
            return  # re-delivered batch: already committed, skip
        if not df.isEmpty():
            write_snapshot(df, table_path, mode="append")
        os.makedirs(table_path, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, marker)

    (
        src.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def batch_hourly_closed(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Batch twin of stream_events_hourly's APPEND output: only windows
    CLOSED at the final watermark (max ts − WATERMARK_S) are emitted."""
    max_ts = events.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    cutoff = max_ts - WATERMARK_S
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.sum("value")).cast("long").alias("sum_value_floor"),
        )
        .filter(F.unix_timestamp(F.col("win.end")) <= cutoff)
        .select(
            F.col("win.start").alias("hour_start"), "event_type", "n",
            "sum_value_floor",
        )
    )


def stream_sessions_native(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
) -> None:
    """NATIVE session windows (``F.session_window`` — Spark's built-in
    merging-session state operator, the declarative counterpart to the
    applyInPandasWithState sessionizer in stream_sessionize): per-user
    gap-merged sessions, watermarked, append mode — each session emits
    exactly once, when the watermark passes its end (last event + gap).
    State is bounded by the watermark exactly like the hourly windows;
    the availableNow drain applies the final watermark before
    terminating, so the sink holds precisely the sessions whose end
    cleared max(event time) − delay."""
    src = _source(spark, in_dir, EVENTS_SCHEMA, 4)
    agg = (
        src.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", f"{GAP_S // 60} minutes").alias("sw"),
                 "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
            ).alias("sum_cents"),
        )
        .select(
            F.col("sw.start").alias("s_start"),
            F.col("sw.end").alias("s_end"),
            "user_id", "n_events", "sum_cents",
        )
    )
    _sink(agg, out_dir, checkpoint)


_STREAK_STATE_SCHEMA = (
    "last_type string, cur_len bigint, best_len bigint, "
    "best_type string, n_events bigint"
)
_STREAK_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, best_len bigint, best_type string"
)


def _streak_fn(key, pdfs, state: GroupState):
    """applyInPandasWithState body: per-user LONGEST EVENT-TYPE STREAK
    — an order-sensitive run-length fold no built-in streaming
    aggregate expresses (the streaming twin of the batch
    gaps-and-islands run analysis).  State carries the open run across
    micro-batch boundaries; ties on best length resolve to the EARLIEST
    run (strict > update), matching the batch oracle's min-start-rank
    tie-break.  Emits the running state each batch; the final row per
    user (max n_events — strictly increasing) is the answer."""
    frames = [p for p in pdfs if len(p)]
    if state.exists:
        last_type, cur, best, best_type, n = state.get
    else:
        last_type, cur, best, best_type, n = None, 0, 0, None, 0
    if frames:
        rows = pd.concat(frames).sort_values(["ts", "event_id"])
        for t in rows["event_type"]:
            n += 1
            if t == last_type:
                cur += 1
            else:
                last_type, cur = t, 1
            if cur > best:
                best, best_type = cur, t
    state.update((last_type, cur, best, best_type, n))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n],
         "best_len": [best], "best_type": [best_type]}
    )


def stream_user_streaks(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint: str
) -> None:
    """Custom stateful operator #2 (next to sessionize): longest
    per-user event-type streak over time-ordered micro-batches
    (maxFilesPerTrigger=1 over ts-chunked input files — batch order =
    event-time order, the property the run-length fold needs)."""
    src = _source(spark, in_dir, EVENTS_SCHEMA, 1)
    streaks = src.groupBy("user_id").applyInPandasWithState(
        _streak_fn,
        _STREAK_OUT_SCHEMA,
        _STREAK_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    _sink(streaks, out_dir, checkpoint)


def stream_chained_windows(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
) -> None:
    """CHAINED STATEFUL AGGREGATIONS (Spark 4 multiple-stateful-operator
    support, §2.10): 15-minute windowed counts re-aggregated into
    hourly rollups INSIDE one streaming query — the second groupBy
    windows over the FIRST aggregation's window struct
    (window(w15, '1 hour')), so two watermarked state stores cascade.
    availableNow's trailing no-data batches flush the cascade: hourly
    windows whose end <= final watermark are emitted exactly once
    (verified empirically — row-identical with the batch twin)."""
    src = _source(spark, in_dir, EVENTS_SCHEMA, 4)
    q15 = (
        src.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type")
        .agg(F.count(F.lit(1)).alias("n15"))
    )
    hourly = (
        q15.groupBy(F.window(F.col("w15"), "1 hour").alias("w60"),
                    "event_type")
        .agg(
            F.sum("n15").alias("n"),
            F.count(F.lit(1)).alias("n_quarters"),
            F.max("n15").alias("max_quarter"),
        )
        .select(
            F.col("w60.start").alias("hour_start"), "event_type", "n",
            "n_quarters", "max_quarter",
        )
    )
    _sink(hourly, out_dir, checkpoint)


def stream_dedup_then_window(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
) -> None:
    """MULTI-STATEFUL CHAIN #2 (§2.10): watermark-bounded streaming
    DEDUP feeding a windowed aggregation inside one query — the
    exactly-once ingest shape (redelivered events collapse in the
    dedup store before ever reaching the counts).  Duplicates arriving
    in later batches are dropped either by the dedup state or as
    late-beyond-watermark — both leave the closed windows identical to
    the batch twin over the DISTINCT events (verified empirically on a
    doubled input)."""
    src = _source(spark, in_dir, EVENTS_SCHEMA, 1)
    dd = (
        src.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    # cents BEFORE the fold (gotcha 8): a streaming state merge sums in
    # a different order than any batch engine — FLOOR(SUM(double))
    # flipped at the boundary on 2 of 3370 windows; exact BIGINT cents
    # are fold-order-free
    agg = (
        dd.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(
                "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
            )).alias("sum_cents"),
        )
        .select(
            F.col("win.start").alias("hour_start"), "event_type", "n",
            "sum_cents",
        )
    )
    _sink(agg, out_dir, checkpoint)


# ---------------------------------------------------------------------------
# Deterministic counter stream as a Spark 4 PYTHON STREAMING DATA
# SOURCE (r05 wave 27) — the streaming half of the DataSource API
# surface (the batch half is osm.make_mbtiles_datasource).  Offsets
# are plain {"i": n} counters: latestOffset() advances one
# rows_per_batch per micro-batch plan, partitions(start, end) splits
# the offset range n_splits ways driver-side, and read() generates
# rows on EXECUTORS from the range alone — a source whose replay is a
# pure function of its offsets, which is exactly the contract
# exactly-once recovery needs (same offsets => same rows).  SPEC for
# the derived columns lives in the query that consumes it
# (queries.streaming.streaming_pysource_windows) and is mirrored verbatim by
# its DuckDB range() oracle.
# ---------------------------------------------------------------------------


def make_ticker_datasource():
    """Built lazily so importing sdg_engine never requires the
    pyspark.sql.datasource module (added in Spark 4)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _Range(InputPartition):
        def __init__(self, lo: int, hi: int):
            self.lo, self.hi = lo, hi

    class _TickerStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self._end = int(options.get("n_rows", "5000"))
            self._batch = int(options.get("rows_per_batch", "1000"))
            self._splits = int(options.get("n_splits", "4"))
            self._cur = 0

        def initialOffset(self):
            return {"i": 0}

        def latestOffset(self):
            # one batch per planning cycle, capped at the end — the
            # cap is what lets a drain loop detect completion
            self._cur = min(self._cur + self._batch, self._end)
            return {"i": self._cur}

        def partitions(self, start, end):
            lo, hi = start["i"], end["i"]
            n = self._splits
            bounds = [lo + (hi - lo) * k // n for k in range(n)] + [hi]
            return [
                _Range(bounds[k], bounds[k + 1])
                for k in range(n)
                if bounds[k] < bounds[k + 1]
            ]

        def read(self, part):
            for i in range(part.lo, part.hi):
                yield (i,)

        def commit(self, end):
            pass

    class TickerDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "ticker"

        def schema(self) -> str:
            return "i bigint"

        def streamReader(self, schema):
            return _TickerStreamReader(self.options)

    return TickerDataSource


# ---------------------------------------------------------------------------
# transformWithStateInPandas (r05 wave 39) — the Spark 4 arbitrary-
# stateful-processing API (SPARK-42931 successor of applyInPandasWith-
# State): a StatefulProcessor object with TYPED state primitives
# (ValueState + MapState here) instead of one opaque state tuple.
# Requires the RocksDB state-store provider; the query builder sets it
# around the drain and restores the previous provider after.
# ---------------------------------------------------------------------------

_TWS_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, cents_total bigint, n_types bigint"
)


def _make_tws_processor():
    """Built lazily so the class body (which subclasses a pyspark ABC)
    ships to workers via the pyfiles zip, not a driver closure."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        """Per-user RUNNING SPEND TOTALS with a per-type seen-count
        map: ValueState carries (cents, n) across micro-batches,
        MapState carries event_type -> count (n_types = its key
        cardinality — the state shape applyInPandasWithState's single
        tuple cannot express without serializing a dict by hand)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tot = handle.getValueState("tot", "cents long, n long")
            self._types = handle.getMapState(
                "types", "t string", "c long"
            )

        def handleInputRows(self, key, rows, timerValues):
            cents = 0
            n = 0
            counts: dict = {}
            for pdf in rows:
                if not len(pdf):
                    continue
                cents += int(pdf["cents"].sum())
                n += len(pdf)
                for t, c in pdf["event_type"].value_counts().items():
                    counts[t] = counts.get(t, 0) + int(c)
            if self._tot.exists():
                pc, pn = self._tot.get()
                cents += int(pc)
                n += int(pn)
            self._tot.update((cents, n))
            for t, c in counts.items():
                if self._types.containsKey((t,)):
                    c += int(self._types.getValue((t,))[0])
                self._types.updateValue((t,), (c,))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {"user_id": [int(key[0])], "n_events": [n],
                 "cents_total": [cents], "n_types": [n_types]}
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def stream_tws_running_totals(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint: str
) -> None:
    """transformWithStateInPandas drain: per-user running totals over
    the ts-chunked file source (maxFilesPerTrigger=1 — each chunk is
    one micro-batch, so every user emits a strictly-growing n_events
    row per batch it appears in)."""
    src = _source(spark, in_dir, EVENTS_SCHEMA, 1).selectExpr(
        "user_id", "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    totals = src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_tws_processor(),
        outputStructType=_TWS_OUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )
    _sink(totals, out_dir, checkpoint)
