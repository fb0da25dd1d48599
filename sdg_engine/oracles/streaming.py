"""DuckDB oracle SQL for the streaming queries (:mod:`sdg_engine.queries.streaming`)."""

from __future__ import annotations

ORACLES: dict[str, str] = {}


STREAMING_INTERVAL_JOIN = """
SELECT a.user_id AS user_id, COUNT(*) AS n_pairs,
       MIN(a.event_id) AS min_click, MAX(b.event_id) AS max_view
FROM events a JOIN events b
  ON a.user_id = b.user_id
WHERE a.event_type = 'click' AND b.event_type = 'view'
  AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
GROUP BY a.user_id
"""


STREAMING_DEDUP_DOCS = """
SELECT lang, COUNT(DISTINCT md5(text)) AS n_unique
FROM documents GROUP BY lang
"""

# watermarked variant: with the 7-day horizon >> the fixture doc_id
# span, dropDuplicatesWithinWatermark provably equals first-occurrence
# dedup (no state eviction during the drain), so the oracle is the
# same relational COUNT(DISTINCT).
STREAMING_DEDUP_WATERMARKED = STREAMING_DEDUP_DOCS


STREAMING_HOURLY_CLOSED = """
WITH mx AS (SELECT MAX(epoch(ts)) AS m FROM events),
agg AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
         event_type,
         COUNT(*) AS n,
         CAST(FLOOR(SUM(value)) AS BIGINT) AS sum_value_floor
  FROM events GROUP BY 1, 2
)
SELECT a.hour_epoch, a.event_type, a.n, a.sum_value_floor
FROM agg a, mx
WHERE a.hour_epoch + 3600 <= mx.m - 7200
"""


STREAMING_LEFT_JOIN = """
WITH c AS (
  SELECT user_id AS cu, event_id AS click_id, ts AS cts
  FROM events
  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-09 00:00:00'
),
v AS (
  SELECT user_id AS vu, event_id AS view_id, ts AS vts
  FROM events WHERE event_type = 'view'
),
j AS (
  SELECT cu, click_id, view_id
  FROM c LEFT JOIN v
    ON vu = cu AND vts >= cts - INTERVAL 30 MINUTE AND vts <= cts
)
SELECT cu AS user_id, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN view_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched,
       CAST(SUM(COALESCE(view_id, -1)) AS BIGINT) AS sum_view
FROM j GROUP BY cu
"""


# stream-static enrich: tier is a pure function of user_id, so the
# relational twin recomputes it straight from events — the streaming
# sink only matches if the broadcast join dropped/duplicated nothing
STREAMING_STATIC_ENRICH = """
SELECT CASE CAST(user_id % 4 AS INT) WHEN 0 THEN 'bronze'
            WHEN 1 THEN 'silver' WHEN 2 THEN 'gold'
            ELSE 'platinum' END AS tier,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events GROUP BY 1, 2
"""


# streaming_session_window: batch gaps-and-islands twin of the NATIVE
# session_window drain.  Boundary semantics pinned empirically: events
# exactly `gap` apart MERGE (break is strictly > gap); append emission
# is end <= watermark with the watermark tracked in WHOLE MILLISECONDS
# (Spark's EventTimeStats), i.e. floor-to-ms of the max event time
# minus the delay.
STREAMING_SESSION_WINDOW = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
mx AS (SELECT (MAX(us) // 1000) * 1000 AS m FROM ev),
lagd AS (
  SELECT user_id, us, cents,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
sess AS (
  SELECT user_id, us, cents,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagd
),
per AS (
  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(cents) AS BIGINT) AS sum_cents,
         MIN(us) AS s0, MAX(us) AS s1
  FROM sess GROUP BY 1, 2
),
closed AS (
  SELECT per.* FROM per, mx
  WHERE s1 + 1800000000 <= m - 7200000000
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS sum_events,
       CAST(SUM(sum_cents) AS BIGINT) AS sum_cents,
       CAST(SUM(CAST(n_events = 1 AS BIGINT)) AS BIGINT) AS n_single,
       CAST(MAX(s1 + 1800000000 - s0) AS BIGINT) AS max_dur_us
FROM closed
"""

ORACLES["streaming_session_window"] = STREAMING_SESSION_WINDOW


# streaming_snapshot_sink: 4 input files x maxFilesPerTrigger=1 ->
# exactly 4 snapshot commits (pinned); the aggregate over the latest
# snapshot must equal the relational aggregate over the source events.
ORACLES["streaming_snapshot_sink"] = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_v_mils,
       CAST(4 AS INT) AS n_snapshots
FROM events GROUP BY 1
"""


ORACLES["streaming_user_streaks"] = """
WITH e AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
runs AS (
  SELECT user_id, event_type, rn,
         rn - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                 ORDER BY rn) AS grp
  FROM e
),
rl AS (
  SELECT user_id, event_type, grp,
         CAST(COUNT(*) AS BIGINT) AS len,
         MIN(rn) AS start_rn
  FROM runs GROUP BY 1, 2, 3
),
best AS (
  SELECT user_id, event_type AS best_type, len AS best_len,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_rn ASC) AS rk
  FROM rl
),
ne AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
)
SELECT b.user_id, n.n_events, b.best_len, b.best_type
FROM best b JOIN ne n USING (user_id) WHERE rk = 1
"""


ORACLES["streaming_chained_aggs"] = """
WITH mx AS (SELECT MAX(epoch(ts)) AS m FROM events),
q AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
         epoch_us(ts) // 900000000 AS qtr, event_type,
         CAST(COUNT(*) AS BIGINT) AS n15
  FROM events GROUP BY 1, 2, 3
),
h AS (
  SELECT hour_epoch, event_type, CAST(SUM(n15) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_quarters,
         CAST(MAX(n15) AS BIGINT) AS max_quarter
  FROM q GROUP BY 1, 2
)
SELECT h.hour_epoch, h.event_type, h.n, h.n_quarters, h.max_quarter
FROM h, mx WHERE h.hour_epoch + 3600 <= mx.m - 7200
"""


ORACLES["streaming_dedup_then_window"] = """
WITH mx AS (SELECT MAX(epoch(ts)) AS m FROM events),
agg AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
         event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_cents
  FROM events GROUP BY 1, 2
)
SELECT a.hour_epoch, a.event_type, a.n, a.sum_cents
FROM agg a, mx WHERE a.hour_epoch + 3600 <= mx.m - 7200
"""


# Streaming python-datasource drain: the same counter arithmetic over
# DuckDB range() — the SPEC fragments are shared module constants.
def _tick_sql() -> str:
    from ..queries.streaming import _TICK_CENTS, _TICK_HR, _TICK_N

    hr = _TICK_HR.replace(" DIV ", " // ")
    return f"""
WITH t AS (
  SELECT {hr} AS hr, {_TICK_CENTS} AS cents
  FROM range(0, {_TICK_N}) r(i)
)
SELECT hr, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM t GROUP BY hr
"""


ORACLES["streaming_pysource_windows"] = _tick_sql()


ORACLES["streaming_full_outer_join"] = """
WITH clicks AS (
  SELECT user_id AS c_user, event_id AS click_id, ts AS c_ts
  FROM events
  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-10 00:00:00'
),
views AS (
  SELECT user_id AS v_user, event_id AS view_id, ts AS v_ts
  FROM events
  WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-11 00:00:00'
),
j AS (
  SELECT COALESCE(c.c_user, v.v_user) AS user_id,
         c.click_id, c.c_ts, v.view_id, v.v_ts
  FROM clicks c
  FULL JOIN views v
    ON c.c_user = v.v_user
   AND v.v_ts >= c.c_ts - INTERVAL 1800 SECOND
   AND v.v_ts <= c.c_ts
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN click_id IS NOT NULL AND view_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN view_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_click_only,
       CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view_only,
       CAST(SUM(COALESCE(click_id, 0) + COALESCE(view_id, 0)) AS BIGINT)
         AS id_chk
FROM j
WHERE COALESCE(c_ts, v_ts) < TIMESTAMP '2024-01-09 00:00:00'
GROUP BY user_id
ORDER BY user_id
"""


ORACLES.update({
    "streaming_dedup_docs": STREAMING_DEDUP_DOCS,
    "streaming_dedup_watermarked": STREAMING_DEDUP_WATERMARKED,
    "streaming_interval_join": STREAMING_INTERVAL_JOIN,
    "streaming_hourly_closed": STREAMING_HOURLY_CLOSED,
    "streaming_static_enrich": STREAMING_STATIC_ENRICH,
    # compaction: content aggregate over the appended range + pinned
    # before/after file counts (5 appends x repartition(4) = 20 -> 2)
    # + snapshot-3 time-travel row count (the first 300 docs)
    "streaming_left_join": STREAMING_LEFT_JOIN,
})
