"""DuckDB oracle SQL for the relational queries (:mod:`sdg_engine.queries.relational`)."""

from __future__ import annotations

from ..queries._common import _b12_cells, _h48
from ..queries.relational import (
    CC,
    CENTS,
    LATERAL_TOPK_TEMPLATE,
    PCT,
    Q11_TEMPLATE,
    Q15_TEMPLATE,
    Q20_TEMPLATE,
    Q21_TEMPLATE,
    Q22_TEMPLATE,
    Q2_TEMPLATE,
    Q4_TEMPLATE,
    Q7_TEMPLATE,
    Q8_TEMPLATE,
    Q9_TEMPLATE,
    RECURSIVE_LINKED_SQL,
    RECURSIVE_WALK_SQL,
    SUM_CC,
    _AMS_SIGN,
    _AMS_SKETCHES,
    _DAY_US,
    _FC_K,
    _FC_MICROS,
    _HLL_M,
    _HLL_NUM,
    _HOLD_US,
    _MIN_US,
    _ORDER_CENTS,
    _RANK_EXPRS,
    _RET_EPOCH_US,
    _RET_WEEK_US,
    _RHO_MICROS,
    _RUNS_Z,
    _WS_K,
    _WS_PRI_SQL,
    _hll_steps,
)

ORACLES: dict[str, str] = {}


Q1_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 0) AS sum_qty,
       ROUND(SUM(l_extendedprice), -2) AS sum_base,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

Q3_BIG_BUILDING_ORDERS = """
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       ROUND(SUM(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)), -2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 400000
GROUP BY o_orderkey, order_year
"""

Q5_NATION_REVENUE = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)), -2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY r_name, n_name
"""

WINDOW_TOP3_ORDERS = """
SELECT o_custkey, o_orderkey, rnk, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rnk
  FROM orders
) t WHERE rnk <= 3
"""

ROLLUP_STATUS_PRIORITY = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), -2) AS total
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""

SETOPS_BRANDS = """
SELECT DISTINCT p_brand FROM (
  (SELECT p_brand FROM part WHERE p_size > 40
   INTERSECT
   SELECT p_brand FROM part WHERE p_size < 5)
  UNION
  (SELECT p_brand FROM part WHERE p_size > 40
   EXCEPT
   SELECT p_brand FROM part WHERE p_retailprice < 1200)
) u
"""

AGG_STATS_ORDERS = """
SELECT o_orderstatus,
       COUNT(*) AS n,
       COUNT(DISTINCT o_custkey) AS n_cust,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders GROUP BY o_orderstatus
"""

EVENTS_HOURLY = """
SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
       COUNT(*) AS n, CAST(FLOOR(SUM(value)) AS BIGINT) AS sum_value_floor
FROM events GROUP BY event_type, hour
"""

SESSIONIZE_USERS = """
SELECT user_id, COUNT(*) AS n_events, CAST(SUM(new_session) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL
                   OR (EXTRACT(EPOCH FROM ts) - EXTRACT(EPOCH FROM prev_ts)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM (
    SELECT user_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
  ) w
) s GROUP BY user_id
"""

JSON_EXTRACT_PROPS = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


WINDOWS_SUITE = """
SELECT o_custkey, o_orderkey,
       CAST(RANK() OVER w AS INT) AS rnk,
       CAST(DENSE_RANK() OVER w AS INT) AS drnk,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       COALESCE(LAG(o_orderkey) OVER w, -1) AS prev_order,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
"""

CUBE_LINEITEM = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n,
       ROUND(SUM(l_quantity), 0) AS sum_qty
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""

STRINGS_PARTS = """
SELECT p_partkey,
       UPPER(p_brand) AS brand_u,
       CAST(regexp_extract(p_brand, '[0-9]+') AS INT) AS brand_num,
       substring(p_type, 1, 5) AS type_prefix,
       CAST(length(p_name) AS INT) AS name_len
FROM part WHERE p_name LIKE '%a%'
"""

DATES_ORDERS = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
       COUNT(*) AS n,
       CAST(datediff('day', MIN(CAST(o_orderdate AS DATE)),
                     MAX(CAST(o_orderdate AS DATE))) AS INT) AS span_days
FROM orders GROUP BY yr, qtr
"""

ANTI_JOIN_CUSTOMERS = """
SELECT c_mktsegment, COUNT(*) AS n_inactive
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
GROUP BY c_mktsegment
"""

SEMI_JOIN_PARTS = """
SELECT p_brand, COUNT(*) AS n_parts
FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
GROUP BY p_brand
"""


EVENTS_ASOF_JOIN = """
WITH w AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
           OVER prior_w AS view_event_id,
         last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
           OVER prior_w AS view_value,
         last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END IGNORE NULLS)
           OVER prior_w AS view_us
  FROM events
  WINDOW prior_w AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       COALESCE(view_event_id, -1) AS view_event_id,
       COALESCE(view_value, -1.0) AS view_value,
       COALESCE(CAST(ts_us - view_us AS BIGINT), -1) AS gap_us
FROM w WHERE event_type = 'click'
"""

EVENTS_FUNNEL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
t1 AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN us END) AS t1
  FROM ev GROUP BY user_id
),
t2 AS (
  SELECT ev.user_id, t1,
         MIN(CASE WHEN event_type = 'click' AND us > t1 THEN us END) AS t2
  FROM ev JOIN t1 USING (user_id) GROUP BY ev.user_id, t1
),
t3 AS (
  SELECT ev.user_id, t1, t2,
         MIN(CASE WHEN event_type = 'purchase' AND us > t2 THEN us END) AS t3
  FROM ev JOIN t2 USING (user_id) GROUP BY ev.user_id, t1, t2
),
staged AS (
  SELECT user_id,
         CAST(CASE WHEN t3 IS NOT NULL THEN 3
                   WHEN t2 IS NOT NULL THEN 2
                   WHEN t1 IS NOT NULL THEN 1
                   ELSE 0 END AS INT) AS stage
  FROM t3
)
SELECT stage, COUNT(*) AS n_users,
       MIN(user_id) AS min_user, MAX(user_id) AS max_user
FROM staged GROUP BY stage
"""

_HLL_SHINGLES_DUCK = """
  SELECT UNNEST(list_transform(
           generate_series(1, GREATEST(len(t) - 2, 1)),
           i -> t[i] || ' ' || t[LEAST(i + 1, len(t))] || ' ' ||
                t[LEAST(i + 2, len(t))])) AS s
  FROM (SELECT string_split(text, ' ') AS t FROM documents)
"""

_HLL_BUCKET, _HLL_RHO = _hll_steps("h")

HLL_DISTINCT = f"""
WITH sh AS (SELECT md5(s) AS h FROM ({_HLL_SHINGLES_DUCK})),
br AS (SELECT {_HLL_BUCKET}, {_HLL_RHO} FROM sh),
regs AS (SELECT bucket, MAX(rho) AS m FROM br GROUP BY bucket),
sk AS (
  SELECT COUNT(*) AS n_regs,
         CAST(SUM(m) AS BIGINT) AS sum_rho,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - m AS INT)) AS BIGINT) AS s_part
  FROM regs
),
ex AS (SELECT COUNT(DISTINCT h) AS exact_distinct FROM sh),
est AS (
  SELECT n_regs, sum_rho,
         CAST(FLOOR({_HLL_NUM} / CAST(s_part +
              ({_HLL_M} - n_regs) * (CAST(1 AS BIGINT) << 53) AS DOUBLE))
              AS BIGINT) AS est_hll,
         exact_distinct
  FROM sk, ex
)
SELECT n_regs, sum_rho, est_hll, exact_distinct,
       CAST(FLOOR(ABS(est_hll - exact_distinct) * 10000.0
            / CAST(exact_distinct AS DOUBLE)) AS BIGINT) AS err_bp
FROM est
"""


SAMPLE_WEIGHTED = """
WITH p AS (SELECT doc_id, n_chars, {pri} AS priority FROM documents),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY priority ASC, doc_id ASC) AS rnk
  FROM p
)
SELECT CAST(rnk AS INT) AS rnk, doc_id, n_chars, priority
FROM ranked WHERE rnk <= {k}
""".format(pri=_WS_PRI_SQL, k=_WS_K)

EVENTS_RETENTION = """
WITH ev AS (
  SELECT user_id,
         CAST(FLOOR((epoch_us(ts) - {e}) / {w}.0) AS BIGINT) AS wk
  FROM events
),
first AS (SELECT user_id, MIN(wk) AS cohort_week FROM ev GROUP BY user_id),
act AS (
  SELECT DISTINCT ev.user_id, cohort_week, wk - cohort_week AS week_offset
  FROM ev JOIN first USING (user_id)
)
SELECT cohort_week, week_offset, COUNT(*) AS n_users
FROM act GROUP BY cohort_week, week_offset
""".format(e=_RET_EPOCH_US, w=_RET_WEEK_US)

PIVOT_ORDERS_STATUS = """
WITH o AS (
  SELECT EXTRACT(month FROM o_orderdate) AS m, o_orderstatus AS st,
         CAST(FLOOR(o_totalprice * 1000 + 0.5) AS BIGINT) AS rev_mils
  FROM orders
)
SELECT CAST(m AS INT) AS m,
       CAST(SUM(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN st = 'O' THEN rev_mils ELSE 0 END) AS BIGINT) AS rev_o,
       CAST(SUM(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN st = 'F' THEN rev_mils ELSE 0 END) AS BIGINT) AS rev_f,
       CAST(SUM(CASE WHEN st = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       CAST(SUM(CASE WHEN st = 'P' THEN rev_mils ELSE 0 END) AS BIGINT) AS rev_p
FROM o GROUP BY m
"""


EVENTS_OUTLIERS = """
WITH ev AS (
  SELECT event_id, event_type,
         CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v
  FROM events
),
st AS (
  SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2
  FROM ev GROUP BY event_type
),
scored AS (
  SELECT ev.event_type, event_id, v,
         CAST(FLOOR(ABS(CAST(v AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(s1 AS DOUBLE)) * 10000.0 / (CAST(n AS DOUBLE)
              * SQRT((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n AS DOUBLE))))
              AS BIGINT) AS z_bp
  FROM ev JOIN st USING (event_type)
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN z_bp > 30000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(FLOOR(MAX(z_bp * 10000000 + event_id) / 10000000.0) AS BIGINT)
         AS max_z_bp,
       CAST(MAX(z_bp * 10000000 + event_id) % 10000000 AS BIGINT)
         AS extreme_event
FROM scored GROUP BY event_type
"""


EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
"""

CUSTOMER_GINI = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 1000 + 0.5) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x ASC, o_custkey ASC) AS BIGINT)
           AS i
  FROM per
)
SELECT COUNT(*) AS n_customers, CAST(SUM(x) AS BIGINT) AS total_mils,
       CAST(FLOOR((2.0 * CAST(CAST(SUM(i * x) AS BIGINT) AS DOUBLE)
            - (CAST(COUNT(1) AS DOUBLE) + 1.0)
            * CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE)) * 10000.0
            / (CAST(COUNT(1) AS DOUBLE)
            * CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE))) AS BIGINT) AS gini_bp
FROM ranked
"""


def _bloom_filter_join_sql() -> str:
    """Identical 4096-bit Bloom construction (shared _b12_cells md5
    fragments); membership probed via three LEFT JOINs to the 64-word
    table (DuckDB has no broadcast-map idiom) — same bits, same
    semantics.  Shift is `<<` here vs shiftleft() in Spark (gotcha 7:
    shift ops don't parse inside Spark function-call argument lists);
    both are exact BIGINT powers of two."""
    c1, c2, c3 = _b12_cells("h", 3)
    bit = "(CAST(1 AS BIGINT) << CAST({c} % 63 AS INT))"
    word = "CAST(FLOOR({c} / 64) AS INT)"
    hit = (
        f"((COALESCE(w{{j}}.m, CAST(0 AS BIGINT)) & "
        + bit.format(c="p.c{j}")
        + ") <> 0)"
    )
    return f"""
WITH seg AS (
  SELECT c_custkey AS k, md5(CAST(c_custkey AS STRING)) AS h
  FROM customer WHERE c_mktsegment = 'BUILDING'
),
cells AS (SELECT unnest([{c1}, {c2}, {c3}]) AS cell FROM seg),
words AS (
  SELECT {word.format(c='cell')} AS w,
         bit_or(CAST(1 AS BIGINT) << CAST(cell % 63 AS INT)) AS m
  FROM cells GROUP BY 1
),
probe AS (
  SELECT o_orderstatus, o_custkey, md5(CAST(o_custkey AS STRING)) AS h
  FROM orders
),
pc AS (
  SELECT o_orderstatus, o_custkey,
         {c1} AS c1, {c2} AS c2, {c3} AS c3
  FROM probe
),
flags AS (
  SELECT p.o_orderstatus,
         ({hit.format(j=1)} AND {hit.format(j=2)} AND {hit.format(j=3)})
           AS pass_bloom,
         CASE WHEN s.k IS NULL THEN 0 ELSE 1 END AS is_true
  FROM pc p
  LEFT JOIN words w1 ON w1.w = {word.format(c='p.c1')}
  LEFT JOIN words w2 ON w2.w = {word.format(c='p.c2')}
  LEFT JOIN words w3 ON w3.w = {word.format(c='p.c3')}
  LEFT JOIN seg s ON s.k = p.o_custkey
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN pass_bloom THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_bloom,
       CAST(SUM(is_true) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN pass_bloom AND is_true = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(FLOOR(SUM(CASE WHEN pass_bloom AND is_true = 0 THEN 1 ELSE 0 END)
            * 10000.0
            / CAST(SUM(CASE WHEN is_true = 0 THEN 1 ELSE 0 END) AS DOUBLE))
            AS BIGINT) AS fp_bp
FROM flags GROUP BY o_orderstatus
"""


def _cms_heavy_hitters_sql() -> str:
    """Same d=4 x w=4096 Count-Min construction over the identical
    md5-chunk cells; posexplode becomes a 4-way UNION ALL (tiny: rows =
    vocabulary)."""
    c1, c2, c3, c4 = _b12_cells("h", 4)
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
tc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks WHERE tok <> '' GROUP BY tok
),
tch AS (SELECT tok, cnt, md5(tok) AS h FROM tc),
cells AS (
  SELECT tok, cnt, 0 AS j, {c1} AS cell FROM tch
  UNION ALL SELECT tok, cnt, 1, {c2} FROM tch
  UNION ALL SELECT tok, cnt, 2, {c3} FROM tch
  UNION ALL SELECT tok, cnt, 3, {c4} FROM tch
),
sketch AS (
  SELECT j, cell, CAST(SUM(cnt) AS BIGINT) AS sc FROM cells GROUP BY j, cell
),
est AS (
  SELECT c.tok, c.cnt, MIN(s.sc) AS est_cms
  FROM cells c JOIN sketch s ON s.j = c.j AND s.cell = c.cell
  GROUP BY c.tok, c.cnt
),
ranked AS (
  SELECT tok, cnt, est_cms,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rk
  FROM est
)
SELECT tok, CAST(rk AS INT) AS rk, cnt AS exact_cnt, est_cms,
       est_cms - cnt AS overestimate
FROM ranked WHERE rk <= 20
"""


def _kmv_set_similarity_sql() -> str:
    """Identical KMV construction: same 48-bit md5 hash (shared _h48
    fragment), same k, same union-sketch CASE when the true union is
    smaller than k."""
    from ..queries.relational import _H48_SCALE, _KMV_K

    h48 = _h48("hm")
    return f"""
WITH ev AS (
  SELECT DISTINCT event_type AS t, user_id AS u FROM events
),
ht AS (
  SELECT t, {h48} AS h
  FROM (SELECT t, md5(CAST(u AS STRING)) AS hm FROM ev)
),
sk AS (
  SELECT t, h FROM (
    SELECT t, h, ROW_NUMBER() OVER (PARTITION BY t ORDER BY h ASC) AS r
    FROM ht
  ) WHERE r <= {_KMV_K}
),
types AS (SELECT DISTINCT t FROM sk),
pairs AS (
  SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b ON a.t < b.t
),
merged AS (
  SELECT COALESCE(a.ta, b.ta) AS ta, COALESCE(a.tb, b.tb) AS tb,
         COALESCE(a.h, b.h) AS h,
         CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
         CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
  FROM (SELECT p.ta, p.tb, s.h FROM pairs p JOIN sk s ON s.t = p.ta) a
  FULL JOIN (SELECT p.ta, p.tb, s.h FROM pairs p JOIN sk s ON s.t = p.tb) b
    ON a.ta = b.ta AND a.tb = b.tb AND a.h = b.h
),
ku AS (
  SELECT * FROM (
    SELECT ta, tb, h, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h ASC) AS r
    FROM merged
  ) WHERE r <= {_KMV_K}
),
est0 AS (
  SELECT ta, tb, MAX(h) AS uk, COUNT(*) AS ks,
         SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS shared
  FROM ku GROUP BY ta, tb
),
est AS (
  SELECT ta, tb, shared, ks,
         CASE WHEN ks < {_KMV_K} THEN ks ELSE
           CAST(FLOOR({_KMV_K - 1} * CAST({_H48_SCALE} AS DOUBLE)
                / CAST(uk AS DOUBLE)) AS BIGINT) END AS est_union
  FROM est0
),
n AS (SELECT t, COUNT(*) AS n FROM ev GROUP BY t),
inter AS (
  SELECT a.t AS ta, b.t AS tb, COUNT(*) AS exact_inter
  FROM ev a JOIN ev b ON a.u = b.u AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT e.ta, e.tb,
       CAST(na.n + nb.n - i.exact_inter AS BIGINT) AS exact_union,
       CAST(e.est_union AS BIGINT) AS est_union,
       CAST(i.exact_inter AS BIGINT) AS exact_inter,
       CAST(FLOOR(CAST(e.shared AS DOUBLE) * CAST(e.est_union AS DOUBLE)
            / CAST(e.ks AS DOUBLE)) AS BIGINT) AS est_inter,
       CAST(FLOOR(CAST(e.shared AS DOUBLE) * 10000.0
            / CAST(e.ks AS DOUBLE)) AS BIGINT) AS est_jaccard_bp
FROM est e
JOIN inter i ON i.ta = e.ta AND i.tb = e.tb
JOIN n na ON na.t = e.ta
JOIN n nb ON nb.t = e.tb
"""


HIST_QUANTILES = """
WITH hist AS (
  SELECT CAST(FLOOR(FLOOR(o_totalprice * 100 + 0.5) / 819200) AS BIGINT)
           AS bin,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1
),
cum AS (
  SELECT bin, SUM(cnt) OVER (ORDER BY bin
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le
  FROM hist
),
tot AS (SELECT SUM(cnt) AS n FROM hist),
pcts AS (
  SELECT pct, CAST(FLOOR((pct * n + 99) / 100) AS BIGINT) AS target_rank
  FROM tot, UNNEST([25, 50, 75, 90, 99]) AS t(pct)
),
hit AS (
  SELECT p.pct, p.target_rank, MIN(c.bin) AS est_bin
  FROM pcts p JOIN cum c ON c.n_le >= p.target_rank
  GROUP BY p.pct, p.target_rank
)
SELECT CAST(h.pct AS INT) AS pct, h.target_rank, h.est_bin,
       h.est_bin * 819200 AS est_lo_cents,
       CAST(c.n_le AS BIGINT) AS n_le
FROM hit h JOIN cum c ON c.bin = h.est_bin
"""


EVENTS_ACF = """
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
stats AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM hourly),
dev AS (SELECT h, n * x - s AS d FROM hourly, stats),
den AS (SELECT SUM(d * d) AS den, COUNT(*) AS n_hours FROM dev),
pairs AS (
  SELECT l.lag, a.d AS d, b.d AS d2
  FROM (SELECT unnest([1, 2, 3]) AS lag) l
  JOIN dev a ON TRUE
  JOIN dev b ON b.h = a.h + l.lag
),
num AS (
  SELECT lag, SUM(d * d2) AS num, COUNT(*) AS n_pairs
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_hours AS BIGINT) AS n_hours,
       CAST(FLOOR(CAST(num AS DOUBLE) * 10000.0
            / CAST(den AS DOUBLE)) AS BIGINT) AS acf_bp
FROM num, den
"""


EVENTS_GAPFILL = """
WITH hourly AS (
  SELECT event_type AS t,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
grid AS (
  SELECT t, gs.h
  FROM (SELECT DISTINCT t FROM hourly),
       bounds, UNNEST(generate_series(h0, h1)) AS gs(h)
),
filled AS (
  SELECT g.t, g.h, hy.v,
         last_value(hy.v IGNORE NULLS) OVER (
           PARTITION BY g.t ORDER BY g.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff
  FROM grid g LEFT JOIN hourly hy ON hy.t = g.t AND hy.h = g.h
)
SELECT t, CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
       CAST(SUM(COALESCE(ff, 0)) AS BIGINT) AS sum_filled,
       CAST(SUM(COALESCE(v, 0)) AS BIGINT) AS sum_observed
FROM filled GROUP BY t
"""


# INDEPENDENT formulation: quadratic NOT-EXISTS dominance over the same
# collapsed (status, price) points — certifies the Spark window rewrite.
ORDERS_SKYLINE = """
WITH pts AS (
  SELECT o_orderstatus AS st,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
         MAX(epoch_us(o_orderdate)) AS date_us
  FROM orders GROUP BY 1, 2
),
sky AS (
  SELECT * FROM pts p
  WHERE NOT EXISTS (
    SELECT 1 FROM pts q
    WHERE q.st = p.st AND q.price_c < p.price_c AND q.date_us >= p.date_us
  )
)
SELECT st, CAST(COUNT(*) AS BIGINT) AS n_skyline,
       CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
       MIN(price_c) AS min_price_c, MAX(date_us) AS max_date_us
FROM sky GROUP BY st
"""


CUSUM_CHANGEPOINT = """
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
stats AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM hourly),
cus AS (
  SELECT h, n,
         SUM(n * x - s) OVER (ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM hourly, stats
),
pk AS (
  SELECT n, MAX(ABS(c) * 1048576 + (1048575 - h % 1048576)) AS packed
  FROM cus GROUP BY n
)
SELECT CAST(n AS BIGINT) AS n_hours,
       CAST(FLOOR(packed / 1048576) AS BIGINT) AS max_abs_cusum,
       CAST(1048575 - packed % 1048576 AS BIGINT) AS cp_hour_mod
FROM pk
"""


EVENTS_TREND = """
WITH daily AS (
  SELECT event_type AS t,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
base AS (SELECT t, MIN(day) AS d0 FROM daily GROUP BY t),
fit AS (
  SELECT daily.t, COUNT(*) AS n,
         SUM(day - d0) AS sx, SUM(y) AS sy,
         SUM((day - d0) * y) AS sxy,
         SUM((day - d0) * (day - d0)) AS sxx
  FROM daily JOIN base ON base.t = daily.t
  GROUP BY daily.t
)
SELECT t, CAST(n AS BIGINT) AS n, CAST(sy AS BIGINT) AS total_events,
       CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * 1000.0
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)
         AS slope_milli_per_day
FROM fit
"""


DRIFT_CHISQ = """
WITH wt AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS wk,
         event_type AS t, CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
rt AS (SELECT wk, SUM(o) AS rt FROM wt GROUP BY wk),
ct AS (SELECT t, SUM(o) AS ct FROM wt GROUP BY t),
nn AS (SELECT SUM(o) AS nn FROM wt),
cell AS (
  SELECT wt.wk, wt.t, o,
         CAST(FLOOR((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
              * (CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) * 1000000.0
              / (CAST(nn AS DOUBLE) * CAST(rt AS DOUBLE)
              * CAST(ct AS DOUBLE))) AS BIGINT) AS chi_part,
         o * nn - rt * ct AS excess,
         CAST(instr('cepsv', substring(wt.t, 1, 1)) AS BIGINT) AS tidx
  FROM wt JOIN rt ON rt.wk = wt.wk JOIN ct ON ct.t = wt.t, nn
),
pk AS (
  SELECT wk, SUM(chi_part) AS chisq_u, COUNT(*) AS n_types,
         MAX(excess * 8 + (7 - tidx)) AS packed
  FROM cell GROUP BY wk
)
SELECT wk, CAST(chisq_u AS BIGINT) AS chisq_u,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(7 - (packed - FLOOR(packed / 8) * 8) AS BIGINT) AS top_tidx
FROM pk
"""


MARKET_BASKET_BRANDS = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS o, p_brand AS brand
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
nb AS (SELECT brand, COUNT(*) AS n_brand FROM ob GROUP BY brand),
no AS (SELECT COUNT(DISTINCT o) AS n_orders FROM ob),
pr AS (
  SELECT x.brand AS a, y.brand AS b, COUNT(*) AS n_both
  FROM ob x JOIN ob y ON x.o = y.o AND x.brand < y.brand
  GROUP BY 1, 2
)
SELECT a AS brand_a, b AS brand_b, CAST(n_both AS BIGINT) AS n_both,
  CAST(FLOOR(1000 * n_both / n_orders) AS BIGINT) AS support_milli,
  CAST(FLOOR(1000.0 * CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE)
       / (CAST(na.n_brand AS DOUBLE) * CAST(nbb.n_brand AS DOUBLE))) AS BIGINT)
    AS lift_milli
FROM pr JOIN nb na ON na.brand = pr.a JOIN nb nbb ON nbb.brand = pr.b, no
WHERE n_both >= 3
"""


# ROW_NUMBER twin of the two-level distributed rank: equal because
# (metric, ck) is a total order and the Spark bucket ids are monotone
# in the metric.
CUSTOMER_RFM = """
WITH per AS (
  SELECT o_custkey AS ck,
         MAX(CAST(FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT)) AS last_d,
         COUNT(*) AS freq,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS mon
  FROM orders GROUP BY 1
),
mx AS (SELECT MAX(last_d) AS maxd FROM per),
base AS (SELECT ck, maxd - last_d AS rec, freq, CAST(mon AS BIGINT) AS mon
         FROM per, mx),
nn AS (SELECT COUNT(*) AS n FROM base),
rk AS (
  SELECT ck, mon,
         ROW_NUMBER() OVER (ORDER BY rec, ck) AS r_rank,
         ROW_NUMBER() OVER (ORDER BY freq, ck) AS f_rank,
         ROW_NUMBER() OVER (ORDER BY mon, ck) AS m_rank
  FROM base
),
sc AS (
  SELECT mon,
         CAST(5 - (FLOOR(4 * (r_rank - 1) / n) + 1) AS BIGINT) AS r_score,
         CAST(FLOOR(4 * (f_rank - 1) / n) + 1 AS BIGINT) AS f_score,
         CAST(FLOOR(4 * (m_rank - 1) / n) + 1 AS BIGINT) AS m_score
  FROM rk, nn
)
SELECT r_score, f_score, m_score, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(mon) AS BIGINT) AS sum_cents
FROM sc GROUP BY 1, 2, 3
"""


def _welch_sql() -> str:
    """Same exact-BIGINT folds, same shared variance fragment, same
    scalar expression order, one FLOOR at the end."""
    from ..queries.relational import _WELCH_V

    v1 = _WELCH_V.format(n="n", s="s", q="q")
    v2 = _WELCH_V.format(n="n2", s="s2", q="q2")
    return f"""
WITH c AS (SELECT event_type,
                  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
           FROM events),
agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS q
        FROM c GROUP BY event_type),
base AS (SELECT n AS n2, s AS s2, q AS q2 FROM agg
         WHERE event_type = 'view')
SELECT event_type, n,
       CAST(FLOOR(CAST(s AS DOUBLE) * 10.0 / CAST(n AS DOUBLE))
            AS BIGINT) AS mean_mils,
       CAST(FLOOR((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
            - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) * 10.0
            / SQRT({v1} / CAST(n AS DOUBLE)
            + {v2} / CAST(n2 AS DOUBLE)) * 1000.0) AS BIGINT) AS t_mils
FROM agg, base
WHERE event_type <> 'view'
"""


def _ewma_sql() -> str:
    from ..queries.relational import _EWMA_DEN, _EWMA_W

    terms = " + ".join(
        f"{wt} * x{k}" if k else f"{wt} * x"
        for k, wt in enumerate(_EWMA_W)
    )
    lags = ",\n         ".join(
        f"lag(x, {k}) OVER (ORDER BY h) AS x{k}" for k in range(1, 8)
    )
    return f"""
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
lagged AS (
  SELECT h, x,
         {lags}
  FROM hourly
)
SELECT h, x, CAST({terms} AS BIGINT) AS ewma_scaled,
       CAST(FLOOR(({terms}) * 1000 / {_EWMA_DEN}) AS BIGINT) AS ewma_mils
FROM lagged WHERE x7 IS NOT NULL
"""


EVENTS_SEASONALITY = """
WITH per_day AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
dowagg AS (
  SELECT d % 7 AS dow, CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM per_day GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS n,
         CAST(SUM(n_days) AS BIGINT) AS days_tot
  FROM dowagg
)
SELECT CAST(dow AS INT) AS dow, n_events, n_days,
       CAST(FLOOR(n_events * days_tot * 10000 / (n_days * n)) AS BIGINT)
         AS idx_bp
FROM dowagg, tot
"""


# batch sessionization: identical gaps-and-islands windows (lag +
# running sum) in DuckDB; epoch_us ties out with unix_micros under
# the UTC session pin; ties break on event_id in both engines
EVENTS_SESSIONIZE_BATCH = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
l AS (
  SELECT user_id, event_id, us,
         us - LAG(us) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS gap
  FROM e
),
s AS (
  SELECT user_id, us,
         SUM(CASE WHEN gap IS NULL OR gap > 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess
  FROM l
),
p AS (
  SELECT user_id, sess, CAST(COUNT(*) AS BIGINT) AS session_len,
         MAX(us) - MIN(us) AS dur_us
  FROM s GROUP BY 1, 2
)
SELECT session_len, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(dur_us) AS BIGINT) AS sum_dur_us
FROM p GROUP BY 1
"""


# exact tie-midrank AUC via the score-group recurrence; DuckDB //
# and Spark DIV are both exact integer floor division (doubles lose
# exactness past 2^53 — gotcha 7/8 territory)
EVENTS_AUC = """
WITH e AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
g AS (
  SELECT s, CAST(SUM(y) AS BIGINT) AS np_s,
         CAST(SUM(1 - y) AS BIGINT) AS nn_s
  FROM e GROUP BY 1
),
c AS (
  SELECT np_s, nn_s,
         CAST(COALESCE(SUM(nn_s) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS BIGINT) AS cum_neg
  FROM g
),
t AS (
  SELECT CAST(SUM(np_s) AS BIGINT) AS n_pos,
         CAST(SUM(nn_s) AS BIGINT) AS n_neg,
         CAST(SUM(np_s * (2 * cum_neg + nn_s)) AS BIGINT) AS u2
  FROM c
)
SELECT n_pos, n_neg, u2,
       CAST((1000000 * u2) // (2 * n_pos * n_neg) AS BIGINT) AS auc_micros
FROM t
"""


EVENTS_KS_TEST = """
WITH ev AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s,
         CAST(event_type = 'view' AS INT) AS a
  FROM events WHERE event_type IN ('view', 'click')
),
g AS (
  SELECT s, CAST(SUM(a) AS BIGINT) AS na_s,
         CAST(SUM(1 - a) AS BIGINT) AS nb_s
  FROM ev GROUP BY s
),
cum AS (
  SELECT CAST(SUM(na_s) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS BIGINT) AS ca,
         CAST(SUM(nb_s) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS BIGINT) AS cb
  FROM g
),
tots AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(1 - a) AS BIGINT) AS n_b
  FROM ev
)
SELECT n_a, n_b, CAST(MAX(ABS(ca * n_b - cb * n_a)) AS BIGINT) AS d_num,
       (1000000 * CAST(MAX(ABS(ca * n_b - cb * n_a)) AS BIGINT))
         // (n_a * n_b) AS ks_micros
FROM cum, tots GROUP BY n_a, n_b
"""


EVENTS_MANN_KENDALL = """
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.x AS x1, b.x AS x2
  FROM hourly a JOIN hourly b ON b.h > a.h
),
s AS (
  SELECT COUNT(*) AS n_pairs,
         CAST(SUM(CAST(x2 > x1 AS BIGINT)
              - CAST(x2 < x1 AS BIGINT)) AS BIGINT) AS s
  FROM pairs
),
n AS (SELECT COUNT(*) AS n_hours FROM hourly)
SELECT CAST(n_hours AS BIGINT) AS n_hours, CAST(n_pairs AS BIGINT) AS n_pairs,
       s,
       CAST(FLOOR(1000000.0 * CAST(s AS DOUBLE)
            / CAST(n_pairs AS DOUBLE)) AS BIGINT) AS tau_micros
FROM n, s
"""


EVENTS_SEQ_TRIGRAMS = """
WITH tri AS (
  SELECT concat(event_type, '>',
                lead(event_type, 1) OVER u, '>',
                lead(event_type, 2) OVER u) AS tri,
         lead(event_type, 2) OVER u AS e3
  FROM events
  WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)
),
cnt AS (
  SELECT tri, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tri WHERE e3 IS NOT NULL GROUP BY tri
)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tri) AS INT) AS rk,
       tri, cnt
FROM cnt
QUALIFY rk <= 10
"""


_REG_DET = (
    "(CAST(c11 AS DOUBLE) * CAST(c22 AS DOUBLE) "
    "- CAST(c12 AS DOUBLE) * CAST(c12 AS DOUBLE))"
)

EVENTS_REGRESSION = f"""
WITH ev AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) % 24 AS x1,
         CAST(FLOOR(CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT)
           / 24) AS BIGINT) AS d,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
  FROM events
),
mind AS (SELECT MIN(d) AS d0 FROM ev),
base AS (SELECT x1, d - d0 AS x2, y FROM ev, mind),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM base
),
c AS (
  SELECT n,
         n * s11 - s1 * s1 AS c11,
         n * s22 - s2 * s2 AS c22,
         n * s12 - s1 * s2 AS c12,
         n * s1y - s1 * sy AS c1y,
         n * s2y - s2 * sy AS c2y
  FROM m
)
SELECT n, c11, c22, c12,
       CAST(FLOOR(1000000.0 * (CAST(c22 AS DOUBLE) * CAST(c1y AS DOUBLE)
         - CAST(c12 AS DOUBLE) * CAST(c2y AS DOUBLE)) / {_REG_DET})
         AS BIGINT) AS b1_micros,
       CAST(FLOOR(1000000.0 * (CAST(c11 AS DOUBLE) * CAST(c2y AS DOUBLE)
         - CAST(c12 AS DOUBLE) * CAST(c1y AS DOUBLE)) / {_REG_DET})
         AS BIGINT) AS b2_micros
FROM c
"""


ORACLES["events_ewma"] = _ewma_sql()


ORACLES["groupingsets_orders"] = """
WITH o AS (
  SELECT o_orderstatus AS status, o_orderpriority AS priority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT COALESCE(status, 'ALL') AS status,
       COALESCE(priority, 'ALL') AS priority,
       CAST(GROUPING(status) * 2 + GROUPING(priority) AS INT) AS gflags,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM o
GROUP BY GROUPING SETS ((status, priority), (status), (priority))
"""

ORACLES["events_rolling_range"] = """
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
)
SELECT h, x,
       CAST(SUM(x) OVER w AS BIGINT) AS roll24,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_obs
FROM hourly
WINDOW w AS (ORDER BY h RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
"""


EVENTS_BENFORD = """
WITH ev AS (
  SELECT CAST(substring(CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
           AS STRING), 1, 1) AS INT) AS d
  FROM events
),
pos AS (SELECT d FROM ev WHERE d > 0),
cnt AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt FROM pos GROUP BY d),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pos),
exp AS (
  SELECT d, micros FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
    (9, 45757)) AS t(d, micros)
)
SELECT cnt.d, cnt.cnt, tot.n,
       (1000000 * cnt.cnt) // tot.n AS obs_micros,
       CAST(exp.micros AS BIGINT) AS exp_micros,
       CAST(abs(1000000 * cnt.cnt - exp.micros * tot.n) AS BIGINT)
         AS dev_scaled
FROM cnt JOIN exp USING (d), tot
ORDER BY cnt.d
"""


BITMAP_DISTINCT_USERS = """
WITH ev AS (
  SELECT event_type, user_id,
         user_id // 63 AS word,
         (CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS bit
  FROM events
),
words AS (
  SELECT event_type, word, bit_or(bit) AS m
  FROM ev GROUP BY event_type, word
),
bm AS (
  SELECT event_type, CAST(SUM(bit_count(m)) AS BIGINT) AS n_distinct_bitmap,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM words GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
           AS n_distinct_exact
  FROM events GROUP BY event_type
)
SELECT bm.event_type, bm.n_distinct_bitmap, bm.n_words, ex.n_distinct_exact
FROM bm JOIN ex USING (event_type)
"""


EVENTS_TWAP = """
WITH ev AS (
  SELECT event_type, event_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_mils
  FROM events
),
seg AS (
  SELECT event_type, v_mils,
         CAST(FLOOR((lead(us) OVER (PARTITION BY event_type
           ORDER BY us, event_id) - us) / 1000000) AS BIGINT) AS dur_s
  FROM ev
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_holds,
         CAST(SUM(dur_s) AS BIGINT) AS sum_dur_s,
         CAST(SUM(v_mils * dur_s) AS BIGINT) AS sum_wv
  FROM seg WHERE dur_s IS NOT NULL GROUP BY event_type
)
SELECT event_type, n_holds, sum_dur_s, sum_wv,
       sum_wv // sum_dur_s AS twap_mils
FROM agg
"""

ORACLES["events_benford"] = EVENTS_BENFORD
ORACLES["bitmap_distinct_users"] = BITMAP_DISTINCT_USERS
ORACLES["events_twap"] = EVENTS_TWAP


Q17_SMALL_QUANTITY_REVENUE = """
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
         AS BIGINT) AS revenue_cents
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#4' AND p_size < 20
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""

ORACLES["q17_small_quantity_revenue"] = Q17_SMALL_QUANTITY_REVENUE

# events_variant_json: the oracle bypasses the JSON/variant round trip
# entirely — same aggregate from the base columns, so Spark's variant
# encode/extract path is what's under test.
ORACLES["events_variant_json"] = """
SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_v_mils
FROM events GROUP BY 1
"""


_BARE = {
    t: t
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
}

ORACLES["q6_revenue_band"] = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({CENTS.format(col='l_extendedprice')} * {PCT}) AS BIGINT)
         AS discount_cc
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND {PCT} BETWEEN 5 AND 7
  AND l_quantity < 24
"""

ORACLES["q10_returned_revenue"] = f"""
WITH rev AS (
  SELECT c_custkey, c_name, n_name, {SUM_CC} AS revenue_cc
  FROM lineitem, orders, customer, nation
  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n_nationkey
    AND l_returnflag = 'R'
    AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
    AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
  GROUP BY c_custkey, c_name, n_name
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY revenue_cc DESC, c_custkey ASC) AS rn
  FROM rev
)
SELECT c_custkey, c_name, n_name, revenue_cc FROM ranked WHERE rn <= 20
"""

ORACLES["q12_priority_lines"] = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem, orders
WHERE l_orderkey = o_orderkey AND year(l_shipdate) = 1997
GROUP BY l_linestatus
"""

ORACLES["q13_order_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""

ORACLES["q14_promo_share"] = f"""
WITH agg AS (
  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {CC} ELSE 0 END)
              AS BIGINT) AS promo_cc,
         {SUM_CC} AS total_cc
  FROM lineitem, part
  WHERE l_partkey = p_partkey
    AND CAST(l_shipdate AS DATE) >= DATE '1996-09-01'
    AND CAST(l_shipdate AS DATE) < DATE '1996-10-01'
)
SELECT promo_cc, total_cc,
       CAST(FLOOR(1000000.0 * promo_cc / total_cc) AS BIGINT) AS promo_micros
FROM agg
"""

ORACLES["q16_part_supplier_variety"] = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND p_brand <> 'Brand#5'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY p_brand, p_type, p_size
"""

ORACLES["q18_large_volume_orders"] = f"""
WITH big AS (
  SELECT l_orderkey, CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 300
)
SELECT c_custkey, c_name, o_orderkey,
       year(o_orderdate) AS o_year,
       {CENTS.format(col='o_totalprice')} AS price_cents,
       total_qty
FROM big, orders, customer
WHERE big.l_orderkey = o_orderkey AND o_custkey = c_custkey
"""

ORACLES["q19_bracketed_revenue"] = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines, {SUM_CC} AS revenue_cc
FROM lineitem, part
WHERE l_partkey = p_partkey AND (
     (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
      AND l_quantity >= 1 AND l_quantity <= 11)
  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
      AND l_quantity >= 10 AND l_quantity <= 20)
  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
      AND l_quantity >= 20 AND l_quantity <= 30))
"""


def _recursive_chain_sql() -> str:
    """Compose the engine's two fragments into ONE WITH RECURSIVE
    statement: ord+linked inline (DuckDB plans CTEs once, so no
    materialization is needed here), walk text identical."""
    linked_body = RECURSIVE_LINKED_SQL.format(orders="orders").strip()
    # RECURSIVE_LINKED_SQL is "WITH ord AS (...) SELECT ..."; rewrap it
    # as CTE members of the recursive WITH.
    assert linked_body.startswith("WITH ord AS")
    ord_and_select = linked_body[len("WITH "):]
    # -> "ord AS (...)\nSELECT ..." ; split at the top-level SELECT
    idx = ord_and_select.index("\nSELECT")
    ord_cte = ord_and_select[:idx].rstrip().rstrip(",")
    linked_select = ord_and_select[idx + 1:]
    walk = RECURSIVE_WALK_SQL.format(linked="linked").strip()
    assert walk.startswith("WITH RECURSIVE walk AS")
    walk_rest = walk[len("WITH RECURSIVE "):]
    return (
        "WITH RECURSIVE " + ord_cte + ",\nlinked AS (" + linked_select
        + "),\n" + walk_rest
    )


ORACLES["unpivot_order_metrics"] = f"""
WITH agg AS (
  SELECT o_orderstatus,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM({_ORDER_CENTS}) AS BIGINT) AS sum_cents,
         CAST(MAX({_ORDER_CENTS}) AS BIGINT) AS max_cents
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS val FROM agg
UNION ALL
SELECT o_orderstatus, 'sum_cents' AS metric, sum_cents AS val FROM agg
UNION ALL
SELECT o_orderstatus, 'max_cents' AS metric, max_cents AS val FROM agg
"""


ORACLES["ams_f2_sketch"] = f"""
WITH cnts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
),
per_sketch AS (
  SELECT j, CAST(SUM(cnt * ({_AMS_SIGN})) AS BIGINT) AS s
  FROM cnts, UNNEST(generate_series(1, 16)) AS u(j)
  GROUP BY j
)
SELECT
  (SELECT CAST(SUM(cnt * cnt) AS BIGINT) FROM cnts) AS f2_exact,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cnts) AS n_users,
  (SELECT CAST(FLOOR(CAST(SUM(s * s) AS BIGINT) / {_AMS_SKETCHES}.0)
               AS BIGINT) FROM per_sketch) AS f2_ams
"""


ORACLES["events_theil_sen"] = """
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY h
),
pairs AS (
  SELECT a.h AS h1, b.h AS h2,
         CAST(FLOOR(1000000.0 * (b.x - a.x) / (b.h - a.h)) AS BIGINT)
           AS slope
  FROM hourly a JOIN hourly b ON b.h > a.h
),
ranked AS (
  SELECT slope, CAST(ROW_NUMBER() OVER (ORDER BY slope, h1, h2) AS BIGINT)
           AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_pairs
  FROM pairs
)
SELECT n_pairs, slope AS median_slope_micros
FROM ranked WHERE rn = CAST(FLOOR((n_pairs + 1) / 2.0) AS BIGINT)
"""


ORACLES["param_sql_revenue"] = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS discount_cc
FROM lineitem
WHERE CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) BETWEEN 3 AND 6
  AND l_quantity < 30
"""


ORACLES["scd2_user_state"] = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
),
flagged AS (
  SELECT user_id, event_type, us,
         CASE WHEN LAG(event_type) OVER
                (PARTITION BY user_id ORDER BY us, event_id)
              IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg,
         event_id
  FROM ev
),
grouped AS (
  SELECT user_id, event_type, us,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
),
iv AS (
  SELECT user_id, grp, MIN(event_type) AS state,
         CAST(MIN(us) AS BIGINT) AS valid_from
  FROM grouped GROUP BY user_id, grp
),
iv2 AS (
  SELECT state, valid_from,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to
  FROM iv
)
SELECT state, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_current,
       CAST(SUM(CASE WHEN valid_to IS NULL THEN 0
                ELSE valid_to - valid_from END) AS BIGINT)
         AS closed_dur_us
FROM iv2 GROUP BY state
"""

ORACLES["events_mad"] = """
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY h
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours FROM hourly),
med AS (
  SELECT x AS median_x, n_hours FROM (
    SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, h) AS BIGINT) AS rn,
           n_hours
    FROM hourly, n
  ) WHERE rn = CAST(FLOOR((n_hours + 1) / 2.0) AS BIGINT)
),
dev AS (
  SELECT h, ABS(x - median_x) AS d, median_x, n_hours FROM hourly, med
)
SELECT n_hours, median_x, d AS mad FROM (
  SELECT d, median_x, n_hours,
         CAST(ROW_NUMBER() OVER (ORDER BY d, h) AS BIGINT) AS rn
  FROM dev
) WHERE rn = CAST(FLOOR((n_hours + 1) / 2.0) AS BIGINT)
"""


ORACLES["events_spearman"] = f"""
WITH hourly0 AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(SUM(CASE WHEN event_type = 'view'
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END)
              AS BIGINT) AS xv,
         CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END)
              AS BIGINT) AS xc
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1
),
hourly AS (SELECT * FROM hourly0 WHERE xv IS NOT NULL AND xc IS NOT NULL),
ranked AS (
  SELECT 2 * RANK() OVER (ORDER BY xv)
           + COUNT(*) OVER (PARTITION BY xv) - 1 AS r2v,
         2 * RANK() OVER (ORDER BY xc)
           + COUNT(*) OVER (PARTITION BY xc) - 1 AS r2c
  FROM hourly
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM((r2v - r2c) * (r2v - r2c)) AS BIGINT) AS sum_d2_sq
  FROM ranked
)
SELECT n_hours, sum_d2_sq, {_RHO_MICROS} AS rho_micros FROM agg
"""

ORACLES["events_runs_test"] = f"""
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
d AS (SELECT h, x - LAG(x) OVER (ORDER BY h) AS d FROM hourly),
s AS (
  SELECT h, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
  FROM d WHERE d IS NOT NULL AND d <> 0
),
r AS (
  SELECT s,
         CASE WHEN LAG(s) OVER (ORDER BY h) IS NULL THEN 1
              WHEN s <> LAG(s) OVER (ORDER BY h) THEN 1 ELSE 0 END AS new_run
  FROM s
),
agg AS (
  SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(SUM(new_run) AS BIGINT) AS n_runs
  FROM r
)
SELECT n_pos, n_neg, n_runs, {_RUNS_Z} AS z_micros FROM agg
"""

ORACLES["events_kruskal"] = """
WITH ev AS (
  SELECT event_type AS g,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
),
cells AS (SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2),
scores AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY 1),
r2 AS (
  SELECT v, t,
         CAST(2 * COALESCE(SUM(t) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + t + 1 AS BIGINT) AS r2
  FROM scores
),
grp AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
         CAST(SUM(c * r2) AS BIGINT) AS r2_g
  FROM cells JOIN r2 USING (v) GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
  FROM r2
),
per_g AS (
  SELECT g, n_g, n, tie_sum, r2_g - n_g * (n + 1) AS dev
  FROM grp CROSS JOIN tot
),
t2 AS (
  SELECT g, n_g, n, tie_sum,
         CAST(FLOOR(3000000.0 * dev * dev
              / (CAST(n_g AS DOUBLE) * n * (n + 1))) AS BIGINT) AS t_micros
  FROM per_g
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(t_micros) AS BIGINT) AS h_micros,
       CAST(FLOOR(1000000.0 - 1000000.0 * MAX(tie_sum)
            / (CAST(MAX(n) AS DOUBLE) * MAX(n) * MAX(n) - MAX(n)))
            AS BIGINT) AS tie_corr_micros
FROM t2
"""


_FC_LAGS = ", ".join(
    f"LAG(x, {j}) OVER (ORDER BY h) AS x{j}" for j in range(1, _FC_K + 1)
)
_FC_SX = " + ".join(f"x{j}" for j in range(1, _FC_K + 1))
_FC_SIX = " + ".join(
    f"{_FC_K + 1 - j} * x{j}" for j in range(1, _FC_K + 1)
)

ORACLES["events_forecast_ols"] = f"""
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
lags AS (SELECT h, x, {_FC_LAGS} FROM hourly),
sums AS (
  SELECT h, x, x1, ({_FC_SX}) AS sx, ({_FC_SIX}) AS six
  FROM lags WHERE x{_FC_K} IS NOT NULL
),
fc AS (
  SELECT h, x, {_FC_MICROS} AS fc_micros, x1 * 1000000 AS naive_micros
  FROM sums
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(ABS(x * 1000000 - fc_micros)) AS BIGINT)
           AS mae_ols_micros,
         CAST(SUM(ABS(x * 1000000 - naive_micros)) AS BIGINT)
           AS mae_naive_micros
  FROM fc
)
SELECT n_obs, mae_ols_micros, mae_naive_micros,
       CAST(FLOOR(1000.0 * CAST(mae_ols_micros AS DOUBLE)
            / mae_naive_micros) AS BIGINT) AS mase_mils
FROM agg
"""

ORACLES["orders_rank_functions"] = f"""
WITH base AS (
  SELECT o_orderstatus AS st, o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT st, cents, {", ".join(_RANK_EXPRS)}
  FROM base
)
SELECT st, quartile, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(SUM(pr_micros) AS BIGINT) AS sum_pr_micros,
       CAST(SUM(cd_micros) AS BIGINT) AS sum_cd_micros
FROM ranked GROUP BY 1, 2
"""


def _bootstrap_sql() -> str:
    from ..queries.relational import _BS_B

    h48 = _h48("md5(concat('bs', b, ':', s))")
    return f"""
WITH hourly AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM hourly
),
slots AS (SELECT i AS s FROM idx),
draws AS (
  SELECT u.b AS b, s, {h48} % 1000000 AS h48
  FROM slots, UNNEST(range(0, {_BS_B})) AS u(b)
),
joined AS (
  SELECT d.b, i.x FROM draws d JOIN idx i ON i.i = d.h48 % i.n
),
reps AS (
  SELECT b, (1000000 * CAST(SUM(x) AS BIGINT)) // COUNT(*) AS mean_micros
  FROM joined GROUP BY 1
),
ranked AS (
  SELECT mean_micros,
         ROW_NUMBER() OVER (ORDER BY mean_micros, b) AS rk
  FROM reps
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
       CAST(MAX(CASE WHEN rk = 2 THEN mean_micros END) AS BIGINT)
         AS lo_micros,
       CAST(MAX(CASE WHEN rk = {_BS_B - 1} THEN mean_micros END) AS BIGINT)
         AS hi_micros,
       CAST(SUM(mean_micros) AS BIGINT) AS sum_mean_micros
FROM ranked
"""


ORACLES["events_bootstrap_ci"] = _bootstrap_sql()


ORACLES["orders_abc_analysis"] = """
WITH rev AS (
  SELECT p_brand,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1
),
cl AS (
  SELECT p_brand, rev,
         COALESCE(CAST(SUM(rev) OVER (ORDER BY rev DESC, p_brand
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
           0) AS cum_before,
         CAST(SUM(rev) OVER () AS BIGINT) AS total
  FROM rev
),
classed AS (
  SELECT rev,
         CASE WHEN cum_before * 100 < total * 80 THEN 'A'
              WHEN cum_before * 100 < total * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM cl
)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_brands,
       CAST(SUM(rev) AS BIGINT) AS sum_cents
FROM classed GROUP BY 1
"""


def _markov_sql() -> str:
    from ..queries.relational import _MK_ROUNDS

    parts = ["""
WITH ev AS (
  SELECT user_id, event_type AS t, epoch_us(ts) AS us, event_id
  FROM events
),
lagged AS (
  SELECT t, LEAD(t) OVER (PARTITION BY user_id
                          ORDER BY us, event_id) AS nxt
  FROM ev
),
tr AS (
  SELECT t, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM lagged WHERE nxt IS NOT NULL GROUP BY 1, 2
),
rs AS (SELECT t, CAST(SUM(c) AS BIGINT) AS r FROM tr GROUP BY 1),
tm AS MATERIALIZED (
  SELECT tr.t, tr.nxt, tr.c, rs.r FROM tr JOIN rs USING (t)),
p0 AS (SELECT t AS s, CAST(1000000 // 5 AS BIGINT) AS pi FROM rs)"""]
    for k in range(1, _MK_ROUNDS + 1):
        parts.append(f""",
p{k} AS (
  SELECT nxt AS s, CAST(SUM((pi * c) // r) AS BIGINT) AS pi
  FROM tm JOIN p{k - 1} ON tm.t = p{k - 1}.s GROUP BY 1)""")
    parts.append(f"""
SELECT s AS event_type, pi AS pi_micros FROM p{_MK_ROUNDS}""")
    return "".join(parts)


ORACLES["events_markov_stationary"] = _markov_sql()


def _dtw_sql() -> str:
    """DTW as shortest path on the banded lattice DAG: Bellman-Ford
    unrolled 2*(28-1) rounds, each round ONE join against a moves
    relation that includes zero-weight SELF-LOOPS (so every round
    references only the previous round once — the
    shortest_path_weighted technique).  The engine runs a genuinely
    different algorithm (row-by-column DP kernel); both are exact
    BIGINT min-plus, so equality is bit-level."""
    from ..queries.relational import _DTW_BAND, _DTW_DAYS

    rounds = 2 * (_DTW_DAYS - 1)
    parts = [f"""
WITH ev AS (
  SELECT event_type AS t,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
st AS (SELECT MIN(day) AS d0 FROM ev),
dd AS MATERIALIZED (
  SELECT LEAST({_DTW_DAYS}, CAST(MAX(day - d0) AS INT) + 1) AS nd
  FROM ev, st),
daily AS (
  SELECT t, day - d0 AS d, CAST(SUM(cents) AS BIGINT) AS v
  FROM ev, st WHERE day - d0 < {_DTW_DAYS} GROUP BY 1, 2),
types AS (SELECT DISTINCT t FROM daily),
grid AS MATERIALIZED (
  SELECT ty.t, g.d, COALESCE(da.v, CAST(0 AS BIGINT)) AS v
  FROM types ty CROSS JOIN dd
       CROSS JOIN UNNEST(range(0, dd.nd)) AS g(d)
  LEFT JOIN daily da ON da.t = ty.t AND da.d = g.d),
base AS (SELECT d, v FROM grid WHERE t = 'view'),
cost AS MATERIALIZED (
  SELECT a.t, a.d AS i, b.d AS j, ABS(a.v - b.v) AS c
  FROM grid a JOIN base b ON ABS(a.d - b.d) <= {_DTW_BAND}
  WHERE a.t <> 'view'),
moves AS MATERIALIZED (
  SELECT t, i, j, i AS i2, j AS j2, CAST(0 AS BIGINT) AS mc FROM cost
  UNION ALL
  SELECT p.t, p.i, p.j, c.i, c.j, c.c
  FROM cost p JOIN cost c ON c.t = p.t
   AND ((c.i = p.i + 1 AND c.j = p.j)
        OR (c.i = p.i AND c.j = p.j + 1)
        OR (c.i = p.i + 1 AND c.j = p.j + 1))),
b0 AS (SELECT t, i, j, c AS cost FROM cost WHERE i = 0 AND j = 0)"""]
    for k in range(1, rounds + 1):
        # every round MATERIALIZED: a 54-deep inlined chain blows up
        # DuckDB's planner (measured: >2 min at sf0.001 inlined,
        # sub-second materialized)
        parts.append(f""",
b{k} AS MATERIALIZED (
  SELECT m.t, m.i2 AS i, m.j2 AS j,
         CAST(MIN(b.cost + m.mc) AS BIGINT) AS cost
  FROM b{k - 1} b JOIN moves m
    ON m.t = b.t AND m.i = b.i AND m.j = b.j
  GROUP BY 1, 2, 3)""")
    parts.append(f"""
SELECT t AS event_type, CAST(dd.nd AS INT) AS n_days, cost AS dtw_cost
FROM b{rounds}, dd WHERE i = dd.nd - 1 AND j = dd.nd - 1""")
    return "".join(parts)


ORACLES["events_dtw"] = _dtw_sql()


ORACLES["events_concurrency"] = f"""
WITH iv AS (
  SELECT epoch_us(ts) AS s, epoch_us(ts) + {_HOLD_US} AS e,
         (epoch_us(ts) // {_DAY_US} + 1) * {_DAY_US} AS dayend
  FROM events
),
bnd0 AS (
  SELECT s // {_DAY_US} AS day, s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT s // {_DAY_US} AS day, LEAST(e, dayend) AS t, -1 AS delta FROM iv
  UNION ALL
  SELECT s // {_DAY_US} + 1 AS day, dayend AS t, 1 AS delta
  FROM iv WHERE e > dayend
  UNION ALL
  SELECT s // {_DAY_US} + 1 AS day, e AS t, -1 AS delta
  FROM iv WHERE e > dayend
),
bnd AS (SELECT day, t, delta, t // {_MIN_US} AS bk FROM bnd0),
bsum AS (
  SELECT day, bk, CAST(SUM(delta) AS BIGINT) AS sb FROM bnd GROUP BY 1, 2
),
boff AS (
  SELECT day, bk,
         CAST(SUM(sb) OVER (PARTITION BY day ORDER BY bk) - sb
              AS BIGINT) AS off
  FROM bsum
),
run AS (
  SELECT day, t, delta,
         off + SUM(delta) OVER (PARTITION BY day, bk ORDER BY t, delta)
           AS run
  FROM bnd JOIN boff USING (day, bk)
),
w AS (
  SELECT day, t, delta, run, MAX(run) OVER (PARTITION BY day) AS mx
  FROM run
)
SELECT day, CAST(MAX(mx) AS BIGINT) AS peak,
       CAST(MIN(CASE WHEN run = mx THEN t END) AS BIGINT) AS first_peak_us,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_opens
FROM w GROUP BY 1
"""

ORACLES["orders_listagg"] = """
WITH pairs AS (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders),
agg AS (
  SELECT o_orderstatus,
         string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
           AS priorities_csv,
         CAST(COUNT(*) AS BIGINT) AS n_priorities
  FROM pairs GROUP BY 1
),
counts AS (
  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT o_orderstatus, n_priorities, priorities_csv, n_orders
FROM agg JOIN counts USING (o_orderstatus)
"""


# identical LATERAL template text (q17 precedent) with the bare table
# names DuckDB pre-registers
ORACLES["lateral_topk_orders"] = LATERAL_TOPK_TEMPLATE.format(
    customer="customer", orders="orders"
)


ORACLES["orders_decision_stump"] = """
WITH o AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) // 10000 AS b,
         o_orderstatus AS s
  FROM orders
),
per AS (SELECT b, s, CAST(COUNT(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
wide AS (
  SELECT b,
         CAST(SUM(CASE WHEN s = 'O' THEN c ELSE 0 END) AS BIGINT) AS co,
         CAST(SUM(CASE WHEN s = 'P' THEN c ELSE 0 END) AS BIGINT) AS cp,
         CAST(SUM(CASE WHEN s = 'F' THEN c ELSE 0 END) AS BIGINT) AS cf
  FROM per GROUP BY 1
),
cum AS (
  SELECT b,
         CAST(SUM(co) OVER (ORDER BY b) AS BIGINT) AS lo,
         CAST(SUM(cp) OVER (ORDER BY b) AS BIGINT) AS lp,
         CAST(SUM(cf) OVER (ORDER BY b) AS BIGINT) AS lf,
         CAST(SUM(co) OVER () AS BIGINT) AS tot_o,
         CAST(SUM(cp) OVER () AS BIGINT) AS tot_p,
         CAST(SUM(cf) OVER () AS BIGINT) AS tot_f
  FROM wide
),
scored0 AS (
  SELECT b AS thr,
         lo + lp + lf AS n_left,
         (tot_o - lo) + (tot_p - lp) + (tot_f - lf) AS n_right,
         (lo * lo + lp * lp + lf * lf) * ((tot_o - lo) + (tot_p - lp)
           + (tot_f - lf)) + ((tot_o - lo) * (tot_o - lo)
           + (tot_p - lp) * (tot_p - lp) + (tot_f - lf) * (tot_f - lf))
           * (lo + lp + lf) AS s_num
  FROM cum
),
scored AS (
  SELECT thr, n_left, n_right, s_num, n_left * n_right AS s_den,
         CAST(FLOOR(CAST(s_num AS DOUBLE) / CAST(n_left * n_right
           AS DOUBLE) * 1000000.0) AS BIGINT) AS score_micros
  FROM scored0 WHERE n_right > 0
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY CAST(s_num AS DOUBLE)
           / CAST(s_den AS DOUBLE) DESC, thr ASC) AS rk
  FROM scored
)
SELECT thr, n_left, n_right, s_num, s_den, score_micros
FROM ranked WHERE rk = 1
"""

ORACLES["events_rolling_wau"] = f"""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
wau AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wau
  FROM (SELECT DISTINCT user_id, day + k AS w
        FROM ud, UNNEST(range(0, 7)) AS r(k))
  GROUP BY 1
),
dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1)
SELECT day, dau, wau,
       CAST(FLOOR(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)
         * 1000000.0) AS BIGINT) AS stickiness_micros
FROM dau JOIN wau ON day = w, span
WHERE day BETWEEN d0 AND d1
"""

ORACLES["supplier_winsorized_mean"] = """
WITH s AS (
  SELECT CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM supplier
),
per AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY 1),
cum AS (
  SELECT cents,
         CAST(SUM(cnt) OVER (ORDER BY cents) AS BIGINT) AS cume,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM per
),
cuts AS (
  SELECT MIN(CASE WHEN cume >= (n - 1) // 10 + 1 THEN cents END) AS lo,
         MIN(CASE WHEN cume >= (9 * (n - 1)) // 10 + 1 THEN cents END)
           AS hi
  FROM cum
),
w AS (SELECT LEAST(GREATEST(cents, lo), hi) AS w, lo, hi
      FROM s, cuts)
SELECT lo, hi, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(w) AS BIGINT) AS sum_w,
       CAST(FLOOR(CAST(SUM(w) AS DOUBLE) / COUNT(*) * 1000.0) AS BIGINT)
         AS wmean_millicents
FROM w GROUP BY 1, 2
"""


ORACLES["events_hourly_peaks"] = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // {3_600_000_000} AS h,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS v
  FROM events GROUP BY 1
),
span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
dense AS (
  SELECT g.h, COALESCE(hourly.v, 0) AS v
  FROM (SELECT UNNEST(range(h0, h1 + 1)) AS h FROM span) g
  LEFT JOIN hourly ON hourly.h = g.h
),
per AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM dense GROUP BY 1),
cum AS (
  SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cume,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM per
),
p90 AS (
  SELECT MIN(CASE WHEN cume >= (9 * (n - 1)) // 10 + 1 THEN v END) AS p90
  FROM cum
),
nb AS (
  SELECT h, v,
         LAG(v, 1) OVER (ORDER BY h) AS lag1,
         LAG(v, 2) OVER (ORDER BY h) AS lag2,
         LAG(v, 3) OVER (ORDER BY h) AS lag3,
         LEAD(v, 1) OVER (ORDER BY h) AS lead1,
         LEAD(v, 2) OVER (ORDER BY h) AS lead2,
         LEAD(v, 3) OVER (ORDER BY h) AS lead3
  FROM dense
)
SELECT h, v, GREATEST(lag1, lag2, lag3, lead1, lead2, lead3) AS nbr_max,
       p90
FROM nb, p90
WHERE lag3 IS NOT NULL AND lead3 IS NOT NULL
  AND v > GREATEST(lag1, lag2, lag3)
  AND v > GREATEST(lead1, lead2, lead3)
  AND v >= p90
"""


ORACLES["events_seasonal_decompose"] = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS v
  FROM events GROUP BY 1
),
span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
dense AS (
  SELECT g.d, COALESCE(daily.v, 0) AS v
  FROM (SELECT UNNEST(range(d0, d1 + 1)) AS d FROM span) g
  LEFT JOIN daily ON daily.d = g.d
),
tr AS (
  SELECT d, v,
         CAST(SUM(v) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3
           FOLLOWING) AS BIGINT) AS s7,
         COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3
           FOLLOWING) AS n7
  FROM dense
),
det AS (
  SELECT d, v, v - s7 // 7 AS det, d % 7 AS dow FROM tr WHERE n7 = 7
),
seas AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(CAST(SUM(det) AS BIGINT) // COUNT(*) AS BIGINT)
           AS seasonal_cents
  FROM det GROUP BY 1
)
SELECT det.dow, seas.n_days, seas.seasonal_cents,
       CAST(SUM((det - seasonal_cents) * (det - seasonal_cents))
            AS BIGINT) AS sum_resid_sq,
       CAST(SUM(det - seasonal_cents) AS BIGINT) AS sum_resid
FROM det JOIN seas ON det.dow = seas.dow
GROUP BY 1, 2, 3
"""


def _hll_union_sql() -> str:
    """Identical HLL algorithm in DuckDB — registers per type, merged
    union registers via per-bucket MAX, same integer harmonic form."""
    from ..queries.relational import _HLL_M, _HLL_NUM, _hll_steps

    steps = ", ".join(_hll_steps("h"))
    item = ("CONCAT(CAST(user_id AS VARCHAR), '|', "
            "CAST(CAST(ts AS DATE) AS VARCHAR))")
    return f"""
WITH ev AS (
  SELECT event_type, md5({item}) AS h
  FROM events WHERE event_type IN ('view', 'click')
),
br AS (SELECT event_type, {steps} FROM ev),
regs AS (SELECT event_type, bucket, MAX(rho) AS m FROM br GROUP BY 1, 2),
merged AS (SELECT 'union' AS event_type, bucket, MAX(m) AS m
           FROM regs GROUP BY 2),
all_regs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
sk AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_regs,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - m AS INT)) AS BIGINT)
           AS s_part
  FROM all_regs GROUP BY 1
),
est AS (
  SELECT event_type, n_regs,
         CAST(FLOOR({_HLL_NUM} / CAST(s_part + ({_HLL_M} - n_regs)
           * (CAST(1 AS BIGINT) << 53) AS DOUBLE)) AS BIGINT) AS est_hll
  FROM sk
),
ue AS (SELECT event_type, {item} AS item FROM events
       WHERE event_type IN ('view', 'click')
       UNION ALL
       SELECT 'union', {item} AS item FROM events
       WHERE event_type IN ('view', 'click')),
ex AS (SELECT event_type, CAST(COUNT(DISTINCT item) AS BIGINT)
         AS exact_distinct FROM ue GROUP BY 1)
SELECT est.event_type, est.n_regs, est.est_hll, ex.exact_distinct,
       CAST(FLOOR(ABS(est_hll - exact_distinct) * 10000.0
         / CAST(exact_distinct AS DOUBLE)) AS BIGINT) AS err_bp
FROM est JOIN ex ON est.event_type = ex.event_type
"""


ORACLES["hll_union_merge"] = _hll_union_sql()


ORACLES["customer_deciles"] = """
WITH per AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS mon
  FROM orders GROUP BY 1
),
rk AS (SELECT ck, mon,
              ROW_NUMBER() OVER (ORDER BY mon, ck) AS rank FROM per),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(mon) AS BIGINT) AS total_cents FROM per),
dec AS (
  SELECT CAST(FLOOR(10 * (rank - 1) / tot.n) + 1 AS BIGINT) AS decile,
         mon, total_cents
  FROM rk, tot
),
pd AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(mon) AS BIGINT) AS sum_cents,
         MAX(total_cents) AS _tc
  FROM dec GROUP BY 1
)
SELECT decile, n_customers, sum_cents,
       CAST(sum_cents * 1000000 // _tc AS BIGINT) AS share_micros,
       CAST(SUM(sum_cents) OVER (ORDER BY decile
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         * 1000000 // _tc AS BIGINT) AS cum_share_micros
FROM pd
"""


ORACLES["quantile_sketch_eval"] = """
WITH cents AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
dist AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM cents GROUP BY 1),
cum AS (
  SELECT cents, SUM(cnt) OVER (ORDER BY cents
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le
  FROM dist
),
hist AS (
  SELECT CAST(FLOOR(cents / 819200) AS BIGINT) AS bin, COUNT(*) AS cnt
  FROM cents GROUP BY 1
),
hcum AS (
  SELECT bin, SUM(cnt) OVER (ORDER BY bin
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le
  FROM hist
),
tot AS (SELECT SUM(cnt) AS n FROM hist),
pcts AS (
  SELECT pct, CAST(FLOOR((pct * n + 99) / 100) AS BIGINT) AS target_rank
  FROM tot, UNNEST([25, 50, 75, 90, 99]) AS t(pct)
),
hit AS (
  SELECT p.pct, p.target_rank,
         CAST(MIN(c.bin) * 819200 AS BIGINT) AS est_lo_cents
  FROM pcts p JOIN hcum c ON c.n_le >= p.target_rank
  GROUP BY 1, 2
),
ex AS (
  SELECT p.pct, p.target_rank, MIN(c.cents) AS exact_cents
  FROM pcts p JOIN cum c ON c.n_le >= p.target_rank
  GROUP BY 1, 2
)
SELECT CAST(ex.pct AS INT) AS pct, ex.target_rank, ex.exact_cents,
       hit.est_lo_cents,
       CAST(ex.exact_cents - hit.est_lo_cents AS BIGINT) AS err_cents,
       CAST(CASE WHEN ex.exact_cents >= hit.est_lo_cents
                  AND ex.exact_cents < hit.est_lo_cents + 819200
            THEN 1 ELSE 0 END AS INT) AS in_bin
FROM ex JOIN hit ON ex.pct = hit.pct AND ex.target_rank = hit.target_rank
"""


ORACLES["events_best_f1_threshold"] = """
WITH ev AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
           AS BIGINT) AS pos
  FROM events
),
dist AS (SELECT cents, CAST(SUM(pos) AS BIGINT) AS p_at,
                CAST(COUNT(*) AS BIGINT) AS n_at
         FROM ev GROUP BY 1),
cum AS (
  SELECT cents, p_at, n_at,
         CAST(SUM(p_at) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS p_le,
         CAST(SUM(n_at) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS n_le
  FROM dist
),
tot AS (SELECT CAST(SUM(p_at) AS BIGINT) AS tp_all,
               CAST(SUM(n_at) AS BIGINT) AS tn_all FROM dist),
sweep AS (
  SELECT cents,
         tp_all - (p_le - p_at) AS tp,
         (tn_all - tp_all) - ((n_le - n_at) - (p_le - p_at)) AS fp,
         tp_all AS p
  FROM cum, tot
),
sc AS (
  SELECT cents, tp, fp, p - tp AS fn,
         CAST(2 * tp * 1000000 // (tp + fp + p) AS BIGINT) AS f1_micros
  FROM sweep
)
SELECT cents AS threshold_cents, CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn, f1_micros
FROM sc ORDER BY f1_micros DESC, cents ASC LIMIT 1
"""


ORACLES["brand_affinity_cf"] = """
WITH cb AS (
  SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
  FROM lineitem li
  JOIN part p ON li.l_partkey = p.p_partkey
  JOIN orders o ON li.l_orderkey = o.o_orderkey
),
nb AS (SELECT brand, COUNT(*) AS n_cust FROM cb GROUP BY brand),
pairs AS (
  SELECT x.brand AS a, y.brand AS b, COUNT(*) AS n_both
  FROM cb x JOIN cb y ON x.cust = y.cust AND x.brand < y.brand
  GROUP BY 1, 2
),
scored AS (
  SELECT a, b, n_both,
         n_both * n_both * 1000000 // (na.n_cust * nbb.n_cust)
           AS cos2_micros
  FROM pairs
  JOIN nb na ON na.brand = pairs.a
  JOIN nb nbb ON nbb.brand = pairs.b
),
sym AS (
  SELECT a AS brand, b AS rec_brand, n_both, cos2_micros FROM scored
  UNION ALL
  SELECT b AS brand, a AS rec_brand, n_both, cos2_micros FROM scored
)
SELECT brand, rec_brand, n_both, CAST(cos2_micros AS BIGINT) AS cos2_micros,
       rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY brand
            ORDER BY cos2_micros DESC, rec_brand ASC) AS rnk
  FROM sym
)
WHERE rnk <= 3
"""

ORACLES["events_wilcoxon"] = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         CAST(SUM(CASE WHEN event_type = 'view'
              THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END)
           AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'click'
              THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END)
           AS BIGINT) AS y
  FROM events GROUP BY 1
),
diffs AS (
  SELECT d, x - y AS diff, ABS(x - y) AS a
  FROM daily WHERE x IS NOT NULL AND y IS NOT NULL AND x <> y
),
dist AS (
  SELECT a, COUNT(*) AS c_eq,
         CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos
  FROM diffs GROUP BY a
),
ranked AS (
  SELECT c_eq, n_pos,
         COALESCE(2 * (SUM(c_eq) OVER (ORDER BY a
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 0)
           + c_eq + 1 AS r2
  FROM dist
)
SELECT CAST(SUM(c_eq) AS BIGINT) AS n_pairs,
       CAST(SUM(r2 * n_pos) AS BIGINT) AS w2_plus,
       CAST(SUM(r2 * (c_eq - n_pos)) AS BIGINT) AS w2_minus
FROM ranked
"""

ORACLES["observe_scan_metrics"] = """
WITH base AS (
  SELECT o_orderstatus AS status,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents,
       CAST(COUNT(DISTINCT status) AS BIGINT) AS n_groups,
       CAST(COUNT(*) AS BIGINT) AS group_rows,
       CAST(SUM(cents) AS BIGINT) AS group_cents
FROM base
"""


def _anova_sql() -> str:
    from ..queries.relational import _EV_TYPES, _anova_f_expr

    per = ",\n         ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_{t},\n         "
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN cents ELSE 0 END)"
        f" AS BIGINT) AS s_{t},\n         "
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN cents * cents"
        f" ELSE 0 END) AS BIGINT) AS q_{t}"
        for t in _EV_TYPES
    )
    cols = ", ".join(f"n_{t}" for t in _EV_TYPES)
    return f"""
WITH ev AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
piv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(cents) AS BIGINT) AS s_all,
         {per}
  FROM ev
)
SELECT n_all, {cols}, {_anova_f_expr()} AS f_micros FROM piv
"""


ORACLES["events_anova"] = _anova_sql()


def _circ_sql() -> str:
    from ..queries.relational import _circ_luts

    cos_e, sin_e = _circ_luts()
    return f"""
WITH ev AS (
  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS h FROM events
),
fp AS (SELECT event_type, {cos_e} AS c1, {sin_e} AS s1 FROM ev),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c1) AS BIGINT) AS c_fp, CAST(SUM(s1) AS BIGINT) AS s_fp
  FROM fp GROUP BY event_type
)
SELECT event_type, n, c_fp, s_fp,
       CAST((c_fp * c_fp + s_fp * s_fp) // (n * n) * 1000000
            // 1048576 AS BIGINT) AS r2_ppm
FROM agg
"""


ORACLES["events_hour_circular"] = _circ_sql()

ORACLES["pipe_syntax_revenue"] = """
WITH base AS (
  SELECT l_returnflag AS rf,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem WHERE l_quantity >= 10
),
agg AS (
  SELECT rf, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sum_cents,
         CAST(SUM(qty) AS BIGINT) AS sum_qty
  FROM base GROUP BY rf
)
SELECT rf, n, sum_cents, sum_qty, sum_cents // n AS avg_cents
FROM agg WHERE n > 0
"""

ORACLES["orders_cohort_ltv"] = """
WITH o AS (
  SELECT o_custkey AS cust,
         CAST(EXTRACT(YEAR FROM o_orderdate) * 12
              + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
first AS (SELECT cust, MIN(m) AS cm FROM o GROUP BY cust),
aged AS (
  SELECT o.cust, f.cm, o.m - f.cm AS age, o.cents
  FROM o JOIN first f ON o.cust = f.cust
),
sz AS (SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM first
       GROUP BY cm),
cell AS (
  SELECT cm, age, CAST(SUM(cents) AS BIGINT) AS cents,
         CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_active
  FROM aged GROUP BY cm, age
),
cum AS (
  SELECT cm, age, n_active,
         CAST(SUM(cents) OVER (PARTITION BY cm ORDER BY age
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cents
  FROM cell
)
SELECT cum.cm, age, n_active, sz.n_cohort,
       cum_cents // sz.n_cohort AS ltv_cents
FROM cum JOIN sz ON cum.cm = sz.cm
"""


ORACLES["events_pinball_eval"] = """
WITH ev AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
gd AS (SELECT cents, COUNT(*) AS c FROM ev GROUP BY cents),
gq AS (
  SELECT CAST(MIN(cents) AS BIGINT) AS pred_global FROM (
    SELECT cents,
           SUM(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS cum,
           SUM(c) OVER () AS n
    FROM gd
  ) WHERE cum >= (3 * n + 3) // 4
),
td AS (SELECT event_type, cents, COUNT(*) AS c FROM ev GROUP BY 1, 2),
tq AS (
  SELECT event_type, CAST(MIN(cents) AS BIGINT) AS pred_type FROM (
    SELECT event_type, cents,
           SUM(c) OVER (PARTITION BY event_type ORDER BY cents ROWS
             BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(c) OVER (PARTITION BY event_type) AS n
    FROM td
  ) WHERE cum >= (3 * n + 3) // 4
  GROUP BY event_type
)
SELECT ev.event_type, gq.pred_global, tq.pred_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN cents >= pred_global
            THEN 3 * (cents - pred_global)
            ELSE pred_global - cents END) AS BIGINT) AS loss4_global,
       CAST(SUM(CASE WHEN cents >= pred_type
            THEN 3 * (cents - pred_type)
            ELSE pred_type - cents END) AS BIGINT) AS loss4_type
FROM ev
JOIN tq ON ev.event_type = tq.event_type
CROSS JOIN gq
GROUP BY 1, 2, 3
"""


_ZTEST_Z = (
    "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))"
)

ORACLES["events_conversion_ztest"] = f"""
WITH ev AS (
  SELECT epoch_us(ts) AS us,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
  FROM events
),
mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
halves AS (
  SELECT CASE WHEN us < mid THEN 0 ELSE 1 END AS half, hit
  FROM ev CROSS JOIN mid
),
piv AS (
  SELECT CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN half = 0 THEN hit ELSE 0 END) AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN half = 1 THEN hit ELSE 0 END) AS BIGINT) AS x2
  FROM halves
)
SELECT n1, x1, n2, x2,
       x1 * 1000000 // n1 AS rate1_ppm,
       x2 * 1000000 // n2 AS rate2_ppm,
       CAST(FLOOR(1000000.0 * ({_ZTEST_Z})) AS BIGINT) AS z_micros
FROM piv
"""

ORACLES["events_hhi_concentration"] = """
WITH per AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS s
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(s) AS BIGINT) AS total_cents,
       CAST(SUM(CAST(s AS HUGEINT) * s)
            // (CAST(SUM(s) AS HUGEINT) * CAST(SUM(s) AS HUGEINT)
                // 1000000) AS BIGINT) AS hhi_ppm
FROM per GROUP BY event_type
"""


ORACLES["events_nelson_aalen"] = """
WITH per_user AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS t0,
         MAX(epoch_us(ts)) AS t_last,
         MIN(CASE WHEN event_type = 'purchase'
                  THEN epoch_us(ts) END) AS t_hit
  FROM events GROUP BY user_id
),
subj AS (
  SELECT CASE WHEN t_hit IS NOT NULL
              THEN (t_hit - t0) // 3600000000
              ELSE (t_last - t0) // 3600000000 END AS dur_hr,
         CASE WHEN t_hit IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM per_user
),
per_dur AS (
  SELECT dur_hr,
         CAST(SUM(event) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM subj GROUP BY dur_hr
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM subj),
risk AS (
  SELECT dur_hr, d,
         n_total - COALESCE(SUM(m) OVER (ORDER BY dur_hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
  FROM per_dur CROSS JOIN tot
),
haz AS (
  SELECT dur_hr, d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
         CAST(d * 1000000000 // n_at_risk AS BIGINT) AS hazard_nanos
  FROM risk WHERE d > 0
)
SELECT dur_hr, d, n_at_risk, hazard_nanos,
       CAST(SUM(hazard_nanos) OVER (ORDER BY dur_hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_hazard_nanos
FROM haz
ORDER BY dur_hr
"""

ORACLES["events_permutation_test"] = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN us < mid THEN -cents ELSE cents END)
              AS BIGINT) AS d
  FROM ev CROSS JOIN mid GROUP BY user_id
),
obs AS (
  SELECT CAST(SUM(d) AS BIGINT) AS t_obs,
         CAST(SUM(abs(d)) AS BIGINT) AS sum_abs_d,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM per_user
),
perms AS (
  SELECT k,
         CAST(SUM((CASE WHEN substring(md5(concat(
                 CAST(user_id AS VARCHAR), ':', CAST(k AS VARCHAR))),
                 1, 1) IN ('0','1','2','3','4','5','6','7')
               THEN 1 ELSE -1 END) * d) AS BIGINT) AS t_k
  FROM per_user
  CROSS JOIN (SELECT CAST(UNNEST(generate_series(0, 199)) AS INT) AS k)
  GROUP BY k
)
SELECT o.t_obs, o.sum_abs_d, o.n_users,
       CAST(SUM(CASE WHEN abs(p.t_k) >= abs(o.t_obs)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       CAST((1 + SUM(CASE WHEN abs(p.t_k) >= abs(o.t_obs)
                     THEN 1 ELSE 0 END)) * 1000 // 201 AS BIGINT)
         AS p_milli
FROM perms p CROSS JOIN obs o
GROUP BY o.t_obs, o.sum_abs_d, o.n_users
"""

ORACLES["orders_holt_linear"] = """
WITH RECURSIVE days AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) - 1 AS t, y
  FROM (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM orders GROUP BY 1
  )
),
holt (t, y, level_milli, trend_milli) AS (
  SELECT d0.t, d0.y,
         d0.y * 1000 AS level_milli,
         (d1.y - d0.y) * 1000 AS trend_milli
  FROM days d0 JOIN days d1 ON d1.t = 1
  WHERE d0.t = 0
  UNION ALL
  SELECT d.t, d.y,
         CAST(FLOOR((d.y * 1000
              + 4 * (h.level_milli + h.trend_milli)) / 5) AS BIGINT),
         CAST(FLOOR((CAST(FLOOR((d.y * 1000
                + 4 * (h.level_milli + h.trend_milli)) / 5) AS BIGINT)
              - h.level_milli + 9 * h.trend_milli) / 10) AS BIGINT)
  FROM holt h JOIN days d ON d.t = h.t + 1
)
SELECT t, y, level_milli, trend_milli,
       CAST(level_milli + trend_milli AS BIGINT) AS forecast_next_milli
FROM holt
ORDER BY t
"""

ORACLES["events_cuped_eval"] = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN us < mid THEN cents ELSE 0 END) AS BIGINT)
           AS pre,
         CAST(SUM(CASE WHEN us >= mid THEN cents ELSE 0 END) AS BIGINT)
           AS post
  FROM ev CROSS JOIN mid GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pre) AS BIGINT) AS sx,
         CAST(SUM(post) AS BIGINT) AS sy,
         CAST(SUM(pre * pre) AS BIGINT) AS sxx,
         CAST(SUM(post * post) AS BIGINT) AS syy,
         CAST(SUM(pre * post) AS BIGINT) AS sxy
  FROM per_user
)
SELECT n, sx, sy, sxx, syy, sxy,
       CAST(FLOOR(1000000.0
            * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            AS BIGINT) AS theta_micros,
       CAST(FLOOR(1000000.0
            * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
            AS BIGINT) AS var_reduction_ppm
FROM m
"""

ORACLES["events_attribution_linear"] = """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         strftime(ts, '%a') AS dow
  FROM events
),
views AS (
  SELECT user_id, event_id AS view_id, us AS v_us, dow
  FROM ev WHERE event_type = 'view'
),
purch AS (
  SELECT user_id, event_id AS purchase_id, us AS p_us
  FROM ev WHERE event_type = 'purchase'
),
pairs AS (
  SELECT v.dow, v.view_id, p.purchase_id
  FROM views v JOIN purch p USING (user_id)
  WHERE v.v_us <= p.p_us AND p.p_us - v.v_us <= 604800000000
),
n_per AS (
  SELECT purchase_id, CAST(COUNT(*) AS BIGINT) AS n_views
  FROM pairs GROUP BY purchase_id
),
credited AS (
  SELECT pr.dow, pr.view_id, pr.purchase_id,
         CAST(1000000 // np.n_views AS BIGINT) AS credit_micros
  FROM pairs pr JOIN n_per np USING (purchase_id)
)
SELECT dow,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT view_id) AS BIGINT) AS n_views,
       CAST(SUM(credit_micros) AS BIGINT) AS credit_micros
FROM credited
GROUP BY dow
ORDER BY dow
"""


ORACLES["sql_udf_revenue"] = """
SELECT l_returnflag AS flag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(FLOOR(CAST(l_extendedprice AS DOUBLE)
                           * (1.0 - l_discount) * 100.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(SUM(CASE WHEN CAST(FLOOR(CAST(l_extendedprice AS DOUBLE)
                                     * l_tax * 100.0 + 0.5) AS BIGINT)
                          * 25
                          > CAST(FLOOR(CAST(l_extendedprice AS DOUBLE)
                                       * (1.0 - l_discount) * 100.0
                                       + 0.5) AS BIGINT)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_tax
FROM lineitem
GROUP BY l_returnflag
ORDER BY flag
"""

ORACLES["session_variable_segments"] = """
WITH thr AS (
  SELECT AVG(CAST(c_acctbal AS DOUBLE)) AS min_bal FROM customer
)
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_above,
       CAST(SUM(CAST(FLOOR(CAST(c_acctbal AS DOUBLE) * 100.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer CROSS JOIN thr
WHERE CAST(c_acctbal AS DOUBLE) > min_bal
GROUP BY c_mktsegment
ORDER BY segment
"""


ORACLES["grouped_agg_user_median"] = """
WITH cents AS (
  SELECT event_type, user_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT event_type, user_id, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                            ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type, user_id) AS cnt
  FROM cents
),
per_user AS (
  SELECT event_type, user_id,
         MAX(CASE WHEN rn = (cnt + 1) // 2 THEN cents END) AS med_cents,
         MAX(cnt) AS n
  FROM ranked
  GROUP BY event_type, user_id
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(med_cents) AS BIGINT) AS sum_medians,
       CAST(MAX(med_cents) AS BIGINT) AS max_median,
       CAST(SUM(n) AS BIGINT) AS n_events
FROM per_user
GROUP BY event_type
ORDER BY event_type
"""


ORACLES.update({
    # spatial_compact_cover: rows-only (compaction is quadtree-recursive,
    # not ANSI-SQL-expressible; property-tested in tests/test_cells.py)
    "q1_pricing_summary": Q1_PRICING_SUMMARY,
    "q3_big_building_orders": Q3_BIG_BUILDING_ORDERS,
    "q5_nation_revenue": Q5_NATION_REVENUE,
    "window_top3_orders": WINDOW_TOP3_ORDERS,
    "rollup_status_priority": ROLLUP_STATUS_PRIORITY,
    "setops_brands": SETOPS_BRANDS,
    "agg_stats_orders": AGG_STATS_ORDERS,
    "events_hourly": EVENTS_HOURLY,
    "sessionize_users": SESSIONIZE_USERS,
    "json_extract_props": JSON_EXTRACT_PROPS,
    "windows_suite": WINDOWS_SUITE,
    "cube_lineitem": CUBE_LINEITEM,
    "strings_parts": STRINGS_PARTS,
    "dates_orders": DATES_ORDERS,
    "anti_join_customers": ANTI_JOIN_CUSTOMERS,
    "semi_join_parts": SEMI_JOIN_PARTS,
    "events_ks_test": EVENTS_KS_TEST,
    "events_mann_kendall": EVENTS_MANN_KENDALL,
    "events_seq_trigrams": EVENTS_SEQ_TRIGRAMS,
    "events_regression": EVENTS_REGRESSION,
    "events_auc": EVENTS_AUC,
    "events_sessionize_batch": EVENTS_SESSIONIZE_BATCH,
    "events_seasonality": EVENTS_SEASONALITY,
    "events_welch_ttest": _welch_sql(),
    "market_basket_brands": MARKET_BASKET_BRANDS,
    "customer_rfm": CUSTOMER_RFM,
    "cusum_changepoint": CUSUM_CHANGEPOINT,
    "events_trend": EVENTS_TREND,
    "drift_chisq": DRIFT_CHISQ,
    "events_acf": EVENTS_ACF,
    "events_gapfill": EVENTS_GAPFILL,
    "orders_skyline": ORDERS_SKYLINE,
    "bloom_filter_join": _bloom_filter_join_sql(),
    "cms_heavy_hitters": _cms_heavy_hitters_sql(),
    "kmv_set_similarity": _kmv_set_similarity_sql(),
    "hist_quantiles": HIST_QUANTILES,
    "events_asof_join": EVENTS_ASOF_JOIN,
    "events_funnel": EVENTS_FUNNEL,
    "hll_distinct": HLL_DISTINCT,
    "sample_weighted": SAMPLE_WEIGHTED,
    "events_retention": EVENTS_RETENTION,
    "pivot_orders_status": PIVOT_ORDERS_STATUS,
    "events_outliers": EVENTS_OUTLIERS,
    "event_transitions": EVENT_TRANSITIONS,
    "customer_gini": CUSTOMER_GINI,
    "q2_min_cost_supplier": Q2_TEMPLATE.format(**_BARE),
    "q11_important_stock": Q11_TEMPLATE.format(**_BARE),
    "q4_late_shipments": Q4_TEMPLATE.format(**_BARE),
    "q7_volume_shipping": Q7_TEMPLATE.format(**_BARE),
    "q8_market_share": Q8_TEMPLATE.format(**_BARE),
    "q9_product_profit": Q9_TEMPLATE.format(**_BARE),
    "q15_top_supplier": Q15_TEMPLATE.format(**_BARE),
    "q20_promo_suppliers": Q20_TEMPLATE.format(**_BARE),
    "q21_latest_shipper": Q21_TEMPLATE.format(**_BARE),
    "q22_dormant_customers": Q22_TEMPLATE.format(**_BARE),
    "recursive_order_chain": _recursive_chain_sql(),
})
