"""Relational queries over orders, events, customers and the TPC-H-adapted
suite: joins, windows, grouping sets, sketches and statistics."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..ops.payload import map_rows
from ._common import _TS_US, _b12_cells, _drain_confs, _h48, _t


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: per (returnflag, linestatus), quantity and price
    sums and the average discount over lines shipped by 1998-09-02."""
    # ROUND(avg, 6) here is a DELIBERATE exception to gotcha 8's
    # "never ROUND(avg, k) on few-decimal data": l_discount doubles are
    # binary-INEXACT (0.0x has no exact float64 form), so group
    # averages carry full-mantissa noise ~1e-16 that cannot land on a
    # 5e-7 rounding boundary; groups are thousands of rows.  Stable
    # across every driver run since r1.  (Same argument for
    # agg_stats_orders' ROUND(avg, 2).)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 0).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), -2).alias("sum_base"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q3_big_building_orders(spark, sf_dir):
    """TPC-H Q3 shape: revenue per order and order year for BUILDING-
    segment customers' orders over 400,000, customers broadcast."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                -2,
            ).alias("revenue")
        )
    )


def q5_nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape: revenue and line count per (region, nation) for
    ASIA and EUROPE over a five-way join; nation and region broadcast."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                -2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def window_top3_orders(spark, sf_dir):
    """Each customer's three largest orders by total price (ties broken
    by order key) via ROW_NUMBER over a per-customer window."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk", "o_totalprice")
    )


def rollup_status_priority(spark, sf_dir):
    """ROLLUP over (order status, priority): order count and rounded
    total per level, with the rolled-up keys reported as 'ALL'."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), -2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
    )


def setops_brands(spark, sf_dir):
    """Set operations on part brands: (big ∩ small) ∪ (big − cheap),
    distinct — the intersect / except / union surface."""
    part = _t(spark, sf_dir, "part")
    big = part.filter(F.col("p_size") > 40).select("p_brand").distinct()
    small = part.filter(F.col("p_size") < 5).select("p_brand").distinct()
    cheap = part.filter(F.col("p_retailprice") < 1200).select("p_brand").distinct()
    # (big ∩ small) ∪ (big \ cheap) — intersect/except/union surface (O4)
    return big.intersect(small).union(big.exceptAll(cheap)).distinct()


def agg_stats_orders(spark, sf_dir):
    """Per order status: row count, distinct customers, min/max price
    and the average price rounded to cents."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_custkey").alias("n_cust"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


def events_hourly(spark, sf_dir):
    """Per (event type, UTC hour): event count and the floored sum of
    values."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    # FLOOR(SUM) instead of ROUND(AVG, k): the value column has few
    # decimal digits, so rounded averages can land exactly on a decimal
    # boundary where engines' sum order flips the last ulp.
    return ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum("value")).cast("long").alias("sum_value_floor"),
    )


def sessionize_users(spark, sf_dir):
    """Analytic chain: lag → gap flag → cumulative session id (W2)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "prev_ts", F.lag("ts").over(w)
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
            1,
        ).otherwise(0),
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_session").alias("n_sessions"),
    )


def json_extract_props(spark, sf_dir):
    """JSON path extraction: the integer ``$.k`` of each event's props,
    summed per event type with the event count."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k_val", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.sum("k_val").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def windows_suite(spark, sf_dir):
    """rank/dense_rank/lag/ntile/running-sum over orders per customer."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.coalesce(F.lag("o_orderkey").over(w), F.lit(-1)).alias("prev_order"),
        F.round(F.sum("o_totalprice").over(wsum), 2).alias("running_total"),
    )


def cube_lineitem(spark, sf_dir):
    """CUBE over (returnflag, linestatus): line count and quantity sum
    for every key combination, rolled-up keys reported as 'ALL'."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 0).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


def strings_parts(spark, sf_dir):
    """String functions over parts whose name contains 'a': upper-cased
    brand, the brand's number (regexp), a type prefix and the name
    length."""
    part = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper(F.col("p_brand")).alias("brand_u"),
        F.regexp_extract("p_brand", "[0-9]+", 0).cast("int").alias("brand_num"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
    )


def dates_orders(spark, sf_dir):
    """Date functions: per (year, quarter) of the order date, the order
    count and the day span between the first and last order."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn("d", F.col("o_orderdate").cast("date"))
        .groupBy(
            F.year("d").alias("yr"),
            F.quarter("d").cast("int").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.datediff(F.max("d"), F.min("d")).cast("int").alias("span_days"),
        )
    )


def anti_join_customers(spark, sf_dir):
    """Customers with no 'P'-status orders (left_anti ≡ NOT EXISTS;
    the status filter keeps the result non-vacuous — every customer in
    the fixture has at least one order)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


def semi_join_parts(spark, sf_dir):
    """Parts that appear in at least one lineitem (left_semi ≡ EXISTS)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


def events_asof_join(spark, sf_dir):
    """AS-OF JOIN: for every click, the most recent STRICTLY-PRIOR view
    by the same user (tie-break: (ts, event_id) total order).

    Spark has no asof-join operator; the scalable form is a single
    window pass — partition by user, order by (ts, event_id),
    last(ignorenulls) over ROWS UNBOUNDED PRECEDING..1 PRECEDING — one
    shuffle on user_id, state O(1) per row, no self-join.  At 100 TB
    the same plan holds: one hash exchange on the join key, then a
    linear scan per partition (vs the naive inequality self-join's
    quadratic blowup).  Timestamps compare as unix micros (exact
    BIGINT) so engines can't disagree on sub-second ordering.
    """
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_view = F.col("event_type") == "view"
    return (
        ev.withColumn(
            "view_event_id",
            F.last(F.when(is_view, F.col("event_id")), ignorenulls=True).over(w),
        )
        .withColumn(
            "view_value",
            F.last(F.when(is_view, F.col("value")), ignorenulls=True).over(w),
        )
        .withColumn(
            "view_us",
            F.last(F.when(is_view, F.expr(_TS_US)), ignorenulls=True).over(w),
        )
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.coalesce("view_event_id", F.lit(-1)).alias("view_event_id"),
            F.coalesce("view_value", F.lit(-1.0)).alias("view_value"),
            F.coalesce(
                (F.expr(_TS_US) - F.col("view_us")).cast("long"), F.lit(-1)
            ).alias("gap_us"),
        )
    )


def events_funnel(spark, sf_dir):
    """Ordered-sequence funnel: per user, earliest view, then earliest
    click AFTER that view, then earliest purchase AFTER that click;
    users counted at the deepest stage reached (0..3).

    MATCH_RECOGNIZE-style pattern matching as three chained conditional
    MIN aggregations — each stage is one hash agg + one equi-join on
    user_id (all map-side-combinable; the per-user agg rows are tiny at
    any scale, so the joins hash-partition on user_id and never touch
    the fact table twice in the same stage).  Stage times are unix
    micros (BIGINT MIN — fold-order exact).
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(_TS_US).alias("us")
    )
    t1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("t1")
    )
    t2 = (
        ev.join(t1, "user_id")
        .groupBy("user_id", "t1")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("us") > F.col("t1")),
                    F.col("us"),
                )
            ).alias("t2")
        )
    )
    t3 = (
        ev.join(t2, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("us") > F.col("t2")),
                    F.col("us"),
                )
            ).alias("t3")
        )
    )
    staged = t3.select(
        "user_id",
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("stage"),
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )


_HLL_P = 8  # 2^8 = 256 registers
_HLL_M = 1 << _HLL_P
# alpha_256 = 0.7213 / (1 + 1.079/256), truncated to 6 decimals so both
# engines see the same literal; numerator folded in Python so the SQL
# carries ONE exact double literal (no cross-engine fold ambiguity).
_HLL_NUM = repr(0.718273 * float(_HLL_M * _HLL_M) * float(1 << 53))

# hex digit -> int via strpos (DuckDB has no conv(); instr/strpos agree
# 1-based in both engines).  {c} is a single-char column expression.
_HEXVAL = "(instr('0123456789abcdef', {c}) - 1)"


def _hll_steps(h: str) -> list[str]:
    """Shared Spark/DuckDB SQL steps: md5-hex column {h} -> (bucket, rho).

    bucket = first 2 hex digits (8 bits); rho = 1 + number of leading
    zero BITS of the next 52 bits (13 hex digits), computed without any
    float log: leading zero hex digits via regexp '^0*' + a 4-way CASE
    on the first non-zero digit.  rho in 1..53.
    """
    d1 = _HEXVAL.format(c=f"substring({h}, 1, 1)")
    d2 = _HEXVAL.format(c=f"substring({h}, 2, 1)")
    tail = f"substring({h}, 3, 13)"
    zeros = f"length(regexp_extract({tail}, '^0*', 0))"
    first = _HEXVAL.format(c=f"substring({tail}, {zeros} + 1, 1)")
    lz = (
        f"(CASE WHEN {first} >= 8 THEN 0 WHEN {first} >= 4 THEN 1 "
        f"WHEN {first} >= 2 THEN 2 ELSE 3 END)"
    )
    return [
        f"CAST({d1} * 16 + {d2} AS BIGINT) AS bucket",
        f"CAST(CASE WHEN {zeros} >= 13 THEN 53 "
        f"ELSE {zeros} * 4 + {lz} + 1 END AS BIGINT) AS rho",
    ]


def hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch over all 3-shingles of the
    corpus — DETERMINISTIC (md5-derived registers, no RNG), so the
    DuckDB oracle runs the identical algorithm and matches exactly.

    The sketch is two hash aggregations (bucket -> max(rho) over 256
    registers, then one row) — at 100 TB this is the mergeable
    cardinality path: partial max per partition, 256-row shuffle,
    nothing proportional to the data crosses the wire.  The harmonic
    sum folds as SUM(2^(53-rho)) in BIGINT (each term a power of two —
    integer-exact, fold-order-free); the only float op is the final
    one-row division.  exact_distinct rides along so the test can
    assert the estimate lands within HLL's expected error band.
    """
    docs = _t(spark, sf_dir, "documents")
    # shingles via explode(sequence) + element_at, NOT transform(...):
    # the lambda HOF is interpreted (gotcha 4) and measured 6.6 s at
    # sf0.1 where this codegen'd form is 0.3 s (20x).  Same shingle
    # values; the exact leg counts DISTINCT md5s (mirrored verbatim in
    # the oracle, so parity is exact).
    sh = (
        docs.selectExpr("split(text, ' ') AS w")
        .selectExpr("explode(sequence(1, greatest(size(w) - 2, 1))) AS i", "w")
        .selectExpr(
            "md5(concat(element_at(w, i), ' ', "
            "element_at(w, least(i + 1, size(w))), ' ', "
            "element_at(w, least(i + 2, size(w))))) AS h"
        )
    )
    br = sh.selectExpr(*_hll_steps("h"))
    regs = br.groupBy("bucket").agg(F.max("rho").alias("m"))
    sketch = regs.agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum("m").alias("sum_rho"),
        F.sum(F.expr("CAST(1 AS BIGINT) << CAST(53 - m AS INT)")).alias("s_part"),
    ).selectExpr(
        "n_regs",
        "sum_rho",
        f"CAST(FLOOR({_HLL_NUM} / CAST(s_part + "
        f"({_HLL_M} - n_regs) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)) AS BIGINT)"
        " AS est_hll",
    )
    exact = sh.agg(F.countDistinct("h").alias("exact_distinct"))
    return sketch.crossJoin(F.broadcast(exact)).selectExpr(
        "n_regs",
        "sum_rho",
        "est_hll",
        "exact_distinct",
        # absolute relative error in basis points, integer-exact
        "CAST(FLOOR(ABS(est_hll - exact_distinct) * 10000.0 "
        "/ CAST(exact_distinct AS DOUBLE)) AS BIGINT) AS err_bp",
    )


# Deterministic weighted sampling (Duffield-Lund-Thorup priority
# sampling): priority = FLOOR(hash / weight); take the k SMALLEST
# priorities.  Content-derived md5 key -> reproducible across runs,
# partitionings, and engines; heavier docs draw proportionally more.
_WS_K = 25
_WS_PRI_SQL = (
    f"CAST(FLOOR(CAST({_h48('md5(text)')} AS DOUBLE)"
    " / CAST(n_chars AS DOUBLE)) AS BIGINT)"
)


def sample_weighted(spark, sf_dir):
    """Weighted sample WITHOUT replacement (priority sampling): k=25
    docs drawn with probability ~ n_chars, deterministically.

    At 10^12 rows the same draw is a per-partition TakeOrdered(k) on
    priority merged on the driver (no global sort); here it's one
    window rank.  The hex->int path avoids conv() (absent in DuckDB):
    4 strpos digits x 12 bits each, same fragment both engines.
    """
    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy(F.col("priority").asc(), F.col("doc_id").asc())
    return (
        docs.selectExpr("doc_id", "n_chars", f"{_WS_PRI_SQL} AS priority")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _WS_K)
        .select("rnk", "doc_id", "n_chars", "priority")
    )


# weekly retention cohorts over the events stream — one shared integer
# time grid (micros since the fixture epoch, 7-day buckets)
_RET_EPOCH_US = 1704067200000000  # 2024-01-01T00:00:00Z
_RET_WEEK_US = 7 * 24 * 3600 * 1000000
_RET_WEEK = (
    f"CAST(FLOOR((us - {_RET_EPOCH_US}) / {_RET_WEEK_US}.0) AS BIGINT)"
)


def events_retention(spark, sf_dir):
    """Cohort RETENTION: users grouped by first-activity week; for each
    (cohort_week, week_offset >= 0), how many of the cohort were active
    — the standard product-analytics triangle.  Two hash aggs + one
    user_id equi-join; the per-user first-week agg is map-side
    combinable and the cohort triangle is tiny at any scale."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr(_TS_US).alias("us")
    ).selectExpr("user_id", f"{_RET_WEEK} AS wk")
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        ev.join(first, "user_id")
        .selectExpr("user_id", "cohort_week", "wk - cohort_week AS week_offset")
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def pivot_orders_status(spark, sf_dir):
    """PIVOT: order counts + revenue mils by month x status (explicit
    value list O/F/P so the schema is static).  One hash agg; the
    pivot is a projection, not a shuffle."""
    orders = _t(spark, sf_dir, "orders").selectExpr(
        "month(o_orderdate) AS m",
        "o_orderstatus AS st",
        "CAST(FLOOR(o_totalprice * 1000 + 0.5) AS BIGINT) AS rev_mils",
    )
    return (
        orders.groupBy("m")
        .pivot("st", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rev_mils").alias("rev"),
        )
        .selectExpr(
            "CAST(m AS INT) AS m",
            "coalesce(O_n, 0) AS n_o", "coalesce(O_rev, 0) AS rev_o",
            "coalesce(F_n, 0) AS n_f", "coalesce(F_rev, 0) AS rev_f",
            "coalesce(P_n, 0) AS n_p", "coalesce(P_rev, 0) AS rev_p",
        )
    )


def events_outliers(spark, sf_dir):
    """Z-score anomaly detection per event type, integer-exact variance:
    values snap to mils (BIGINT), variance from the (n·Σx² − (Σx)²)
    identity — every aggregate folds in exact integers; the only floats
    are one sqrt + one division per GROUP (IEEE-identical cross-engine).
    Output: per type, the count of |z| > 3 outliers and the extreme
    event (deterministic tie-break by event_id)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v",
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.expr("v * v")).alias("s2"),
    )
    # z in basis points: (v*n - s1) * 10000 / (n * sqrt((n*s2 - s1*s1)/n))
    # = (v - mean) / stddev_pop, scaled; FLOOR of ABS for the threshold
    z_bp = (
        "CAST(FLOOR(ABS(CAST(v AS DOUBLE) * CAST(n AS DOUBLE) "
        "- CAST(s1 AS DOUBLE)) * 10000.0 / (CAST(n AS DOUBLE) "
        "* SQRT((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n AS DOUBLE)))) "
        "AS BIGINT)"
    )
    scored = ev.join(F.broadcast(stats), "event_type").selectExpr(
        "event_type", "event_id", "v", f"{z_bp} AS z_bp"
    )
    # packed-integer argmax (z_bp * 1e7 + event_id): identical
    # lexicographic (z_bp, event_id) tie-break in BOTH engines without
    # struct-comparison semantics differences
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("z_bp") > 30000, 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        F.max(F.expr("z_bp * 10000000 + event_id")).alias("packed"),
    )
    return agg.selectExpr(
        "event_type",
        "n_events",
        "n_outliers",
        "CAST(FLOOR(packed / 10000000.0) AS BIGINT) AS max_z_bp",
        "packed % 10000000 AS extreme_event",
    )


def event_transitions(spark, sf_dir):
    """Markov TRANSITION counts over per-user event sequences: one lag
    window in (ts, event_id) order -> (prev_type, type) histogram — the
    sequence-mining primitive behind next-event prediction features.
    One hash exchange on user_id, like the as-of join."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def customer_gini(spark, sf_dir):
    """GINI COEFFICIENT of customer spend — the inequality statistic,
    integer-exact: spend in mils (BIGINT), one global rank window over
    the per-customer aggregate (tiny at any scale: rows = customers,
    not orders), Gini from the rank identity
    G = (2*SUM(i*x) - (n+1)*SUM(x)) / (n*SUM(x)) in basis points."""
    orders = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "CAST(FLOOR(o_totalprice * 1000 + 0.5) AS BIGINT) AS mils",
    )
    per = orders.groupBy("o_custkey").agg(F.sum("mils").alias("x"))
    w = Window.orderBy(F.col("x").asc(), F.col("o_custkey").asc())
    ranked = per.withColumn("i", F.row_number().over(w).cast("long"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("x").alias("total_mils"),
        F.expr(
            "CAST(FLOOR((2.0 * CAST(SUM(i * x) AS DOUBLE) "
            "- (CAST(COUNT(1) AS DOUBLE) + 1.0) * CAST(SUM(x) AS DOUBLE)) "
            "* 10000.0 / (CAST(COUNT(1) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))) "
            "AS BIGINT)"
        ).alias("gini_bp"),
    )


def bloom_filter_join(spark, sf_dir):
    """BLOOM-FILTER SEMI-JOIN REDUCTION — the classic shuffle-avoidance
    pattern: instead of shuffling the fact table against a key set, ship
    a 4032-bit Bloom filter (64 BIGINT words x 63 usable bits, k=3
    md5-derived hashes) of the BUILDING-segment customer keys and
    pre-filter orders with three codegen'd bitwise tests.
    DETERMINISTIC (md5 bit positions, no RNG) so the DuckDB oracle
    builds the identical filter and the false-positive counts match
    exactly.  Bit position is cell % 63, not % 64: DuckDB's `<<` is
    range-checked and raises on 1<<63 (Spark's shiftleft wraps), so
    bit 63 is unusable cross-engine.

    Plan shape: the filter is a 64-row aggregate folded to ONE broadcast
    map row (map_from_entries) — at 100 TB the fact side is a map-only
    scan + broadcast probe, nothing proportional to orders crosses the
    wire; the exact-membership leg (broadcast semi-join on the real key
    set) rides along only to certify the FP accounting.  Per
    o_orderstatus: orders, bloom passes, true members, false positives,
    and the FP rate over true negatives in basis points.
    """
    cust = _t(spark, sf_dir, "customer")
    seg = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .selectExpr("c_custkey AS k", "md5(CAST(c_custkey AS STRING)) AS h")
    )
    cells = seg.selectExpr(
        f"explode(array({', '.join(_b12_cells('h', 3))})) AS cell"
    )
    words = cells.groupBy(
        F.expr("CAST(FLOOR(cell / 64) AS INT)").alias("w")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(cell % 63 AS INT)))"
        ).alias("m")
    )
    bloom = words.agg(
        F.expr("map_from_entries(collect_list(struct(w, m)))").alias("bm")
    )
    probe = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "md5(CAST(o_custkey AS STRING)) AS h",
    )
    c1, c2, c3 = _b12_cells("h", 3)
    hit = (
        "((COALESCE(element_at(bm, CAST(FLOOR({c} / 64) AS INT)), "
        "CAST(0 AS BIGINT)) "
        "& shiftleft(CAST(1 AS BIGINT), CAST({c} % 63 AS INT))) <> 0)"
    )
    flagged = (
        probe.crossJoin(F.broadcast(bloom))
        .withColumn(
            "pass_bloom",
            F.expr(
                " AND ".join(hit.format(c=c) for c in (c1, c2, c3))
            ),
        )
        .join(
            seg.select(F.col("k").alias("o_custkey"), F.lit(1).alias("is_mem")),
            "o_custkey",
            "left",
        )
        .withColumn("is_true", F.coalesce("is_mem", F.lit(0)))
    )
    return flagged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(pass_bloom AS INT)")).alias("n_pass_bloom"),
        F.sum("is_true").alias("n_true"),
        F.sum(F.expr("CAST(pass_bloom AND is_true = 0 AS INT)")).alias(
            "n_false_pos"
        ),
        F.expr(
            "CAST(FLOOR(SUM(CAST(pass_bloom AND is_true = 0 AS INT)) * 10000.0 "
            "/ CAST(SUM(CAST(is_true = 0 AS INT)) AS DOUBLE)) AS BIGINT)"
        ).alias("fp_bp"),
    )


def cms_heavy_hitters(spark, sf_dir):
    """COUNT-MIN SKETCH heavy hitters over document tokens: d=4 hash
    rows x w=4096 counters (disjoint 12-bit md5 chunks — deterministic,
    order-independent since counters are SUMS), point estimate =
    least-of-4, reported for the top-20 tokens alongside the exact count
    so the one-sided overestimate guarantee (est >= exact) is visible
    and oracle-checked.

    Plan shape: the sketch is a (4, cell) hash agg capped at 16384 rows
    — the mergeable map-side-combinable path: at 100 TB each partition
    folds its tokens into <=16k partial counters and only those cross
    the wire.  The estimate probe is a BROADCAST join of the tiny sketch
    back to per-token cells; top-20 via a rank window over the per-token
    aggregate (rows = vocabulary, not corpus).
    """
    toks = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS tok")
        .filter(F.col("tok") != "")
    )
    tc = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.md5("tok"))
    )
    cells = tc.selectExpr(
        "tok", "cnt",
        "posexplode(array("
        + ", ".join(_b12_cells("h", 4))
        + ")) AS (j, cell)",
    )
    sketch = cells.groupBy("j", "cell").agg(F.sum("cnt").alias("sc"))
    est = (
        cells.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("tok", "cnt")
        .agg(F.min("sc").alias("est_cms"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    return (
        est.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .selectExpr(
            "tok", "CAST(rk AS INT) AS rk", "cnt AS exact_cnt", "est_cms",
            "est_cms - cnt AS overestimate",
        )
    )


_KMV_K = 64
_H48_SCALE = 281474976710656  # 2^48, the hash value space


def kmv_set_similarity(spark, sf_dir):
    """KMV/THETA SKETCH set similarity between per-event-type user
    sets: k=64 minimum 48-bit md5 hash values per set; for every type
    pair the union sketch is the k smallest of the merged hash sets
    (U_k = its max), est_union = FLOOR((k-1)*2^48 / U_k), and the
    fraction of union-sketch hashes present in BOTH input sketches
    estimates Jaccard => est_inter.  DETERMINISTIC (md5, no RNG), so
    the DuckDB oracle rebuilds the identical sketches; exact
    union/intersection ride along to make the error visible.  When the
    true union has fewer than k members the sketch IS the set and the
    estimate switches to the exact count (same CASE in both engines).

    Plan shape: per-partition partial = each partition's k smallest
    hashes (the rank window reduces ~|users| rows to k per type — at
    100 TB a TakeOrdered-per-type); everything after the sketch is
    O(types^2 * k) rows.  The exact legs are hash aggs over the
    distinct (type, user) projection — the only full-width pass.
    """
    ev = (
        _t(spark, sf_dir, "events")
        .selectExpr("event_type AS t", "user_id AS u")
        .distinct()
    )
    ht = ev.selectExpr(
        "t", "u", "md5(CAST(u AS STRING)) AS hm"
    ).selectExpr("t", f"{_h48('hm')} AS h")
    wt = Window.partitionBy("t").orderBy(F.col("h").asc())
    sk = (
        ht.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= _KMV_K)
        .select("t", "h")
        .localCheckpoint()  # tiny (types*k rows); referenced per pair side
    )
    types = sk.select("t").distinct()
    pairs = (
        types.selectExpr("t AS ta")
        .join(types.selectExpr("t AS tb"), F.col("ta") < F.col("tb"))
    )
    # merge the two sketch sides by union + groupBy, NOT a full outer
    # join: Spark can't broadcast a both-sided outer (it would
    # sort-merge), while this form stays broadcast joins + one tiny
    # hash agg; sk is localCheckpointed so the two branches don't
    # recompute upstream (gotcha 3).
    ska = pairs.join(sk.selectExpr("t AS ta", "h"), "ta").selectExpr(
        "ta", "tb", "h", "1 AS in_a", "0 AS in_b"
    )
    skb = pairs.join(sk.selectExpr("t AS tb", "h"), "tb").selectExpr(
        "ta", "tb", "h", "0 AS in_a", "1 AS in_b"
    )
    merged = (
        ska.unionByName(skb)
        .groupBy("ta", "tb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("ta", "tb").orderBy(F.col("h").asc())
    ku = merged.withColumn("r", F.row_number().over(wu)).filter(
        F.col("r") <= _KMV_K
    )
    est = ku.groupBy("ta", "tb").agg(
        F.max("h").alias("uk"),
        F.count(F.lit(1)).alias("ks"),
        F.sum(F.expr("CAST(in_a = 1 AND in_b = 1 AS INT)")).alias("shared"),
    ).selectExpr(
        "ta", "tb", "shared",
        f"CASE WHEN ks < {_KMV_K} THEN ks ELSE "
        f"CAST(FLOOR({_KMV_K - 1} * CAST({_H48_SCALE} AS DOUBLE) "
        "/ CAST(uk AS DOUBLE)) AS BIGINT) END AS est_union",
        "ks",
    ).selectExpr(
        "ta", "tb", "est_union",
        "CAST(FLOOR(CAST(shared AS DOUBLE) * CAST(est_union AS DOUBLE) "
        "/ CAST(ks AS DOUBLE)) AS BIGINT) AS est_inter",
        "CAST(FLOOR(CAST(shared AS DOUBLE) * 10000.0 "
        "/ CAST(ks AS DOUBLE)) AS BIGINT) AS est_jaccard_bp",
    )
    n = ev.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        ev.selectExpr("t AS ta", "u")
        .join(ev.selectExpr("t AS tb", "u"), "u")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return (
        est.join(inter, ["ta", "tb"])
        .join(n.selectExpr("t AS ta", "n AS na"), "ta")
        .join(n.selectExpr("t AS tb", "n AS nb"), "tb")
        .selectExpr(
            "ta", "tb",
            "na + nb - exact_inter AS exact_union", "est_union",
            "exact_inter", "est_inter", "est_jaccard_bp",
        )
    )


def hist_quantiles(spark, sf_dir):
    """HISTOGRAM-SKETCH approximate quantiles of o_totalprice: one
    equi-width histogram (8192-dollar bins over integer cents — a
    ~62-row mergeable map-side-combinable agg), then nearest-rank
    percentile estimates (p25/50/75/90/99) read off the cumulative
    counts: est = first bin whose running count reaches
    CEIL(p*n/100).  Complements the EXACT distributed quantiles query
    (r4): this is the single-pass sketch you run at 100 TB when ±1 bin
    is acceptable — nothing after the scan exceeds the bin count.

    Deterministic integer arithmetic end-to-end (cents snap, FLOOR
    division); the DuckDB oracle rebuilds the identical histogram.
    """
    BIN_CENTS = 819200  # $8192 bins in integer cents
    hist = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "CAST(FLOOR(FLOOR(o_totalprice * 100 + 0.5) "
            f"/ {BIN_CENTS}) AS BIGINT) AS bin"
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # ~62 rows; referenced by cum + total branches
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("n_le", F.sum("cnt").over(wc)).select("bin", "n_le")
    tot = hist.agg(F.sum("cnt").alias("n"))
    pcts = tot.selectExpr(
        "explode(array(25, 50, 75, 90, 99)) AS pct", "n"
    ).selectExpr(
        "pct", "CAST(FLOOR((pct * n + 99) / 100) AS BIGINT) AS target_rank"
    )
    return (
        pcts.join(cum, cum.n_le >= pcts.target_rank)
        .groupBy("pct", "target_rank")
        .agg(F.min(F.struct("bin", "n_le")).alias("s"))
        .selectExpr(
            "CAST(pct AS INT) AS pct", "target_rank",
            "s.bin AS est_bin",
            f"s.bin * {BIN_CENTS} AS est_lo_cents",
            "s.n_le AS n_le",
        )
    )


_HOUR_US = 3_600_000_000


def _hourly_counts(spark, sf_dir):
    """The hourly event series ``(h, x)``: event count per observed
    hour h (epoch micros DIV one hour).  One map-side-combinable hash
    agg, so everything after it runs over observed hours, never rows."""
    return (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
    )


def events_acf(spark, sf_dir):
    """AUTOCORRELATION (ACF) of the hourly event-count series at lags
    1..3 — the seasonality probe of a time-series pipeline.  Integer-
    exact through the fold (CLAUDE.md gotcha 8): with n observed hours
    and S the total count, scaled deviations D_t = n*x_t - S are exact
    BIGINTs, r_k = sum(D_t * D_{t+k}) / sum(D_t^2) reported in basis
    points via one FLOOR at the very end.  Pairs where either hour is
    unobserved are excluded (spec'd identically in the oracle).

    Plan shape: ONE hash agg over events (map-side combinable) reduces
    the corpus to observed-hour rows; stats fold to a single broadcast
    row; the lag joins are equi-joins on hour over the tiny hourly
    series.  Nothing after the first agg is proportional to events.
    """
    # tiny (observed hours); referenced 3x below
    hourly = _hourly_counts(spark, sf_dir).localCheckpoint()
    stats = hourly.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = (
        hourly.crossJoin(F.broadcast(stats))
        .selectExpr("h", "n * x - s AS d")
        .localCheckpoint()  # both lag-join sides
    )
    den = dev.agg(
        F.sum(F.expr("d * d")).alias("den"), F.count(F.lit(1)).alias("n_hours")
    )
    lagged = dev.selectExpr("explode(array(1, 2, 3)) AS lag", "h", "d")
    pairs = lagged.join(
        dev.selectExpr("h AS h2", "d AS d2"),
        F.col("h2") == F.col("h") + F.col("lag"),
    )
    num = pairs.groupBy("lag").agg(
        F.sum(F.expr("d * d2")).alias("num"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    return num.crossJoin(F.broadcast(den)).selectExpr(
        "CAST(lag AS INT) AS lag", "n_pairs", "n_hours",
        "CAST(FLOOR(CAST(num AS DOUBLE) * 10000.0 "
        "/ CAST(den AS DOUBLE)) AS BIGINT) AS acf_bp",
    )


def events_gapfill(spark, sf_dir):
    """GAP-FILL + FORWARD-FILL: regularize the per-type hourly value
    series onto the full [min_hour, max_hour] grid, then carry the last
    observation forward across gaps (last ignorenulls window) — the
    standard sensor/feed repair step before any rolling computation.
    Values fold as integer mils (per-row snap, then SUM — exact in both
    engines).

    Plan shape: one hash agg over events -> observed (type, hour) rows;
    the dense grid is types x sequence(min,max) generated, never
    scanned; forward fill is one window partitioned by type (hash
    exchange on type only).  Output stays per-type (summary), so
    nothing proportional to the grid leaves the stage.
    """
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.selectExpr(
            "event_type AS t",
            f"CAST(FLOOR({_TS_US} / {_HOUR_US}) AS BIGINT) AS h",
            "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_mils",
        )
        .groupBy("t", "h")
        .agg(F.sum("v_mils").alias("v"))
        .localCheckpoint()  # observed rows; referenced by grid + join
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        hourly.select("t").distinct()
        .crossJoin(F.broadcast(bounds))
        .selectExpr("t", "explode(sequence(h0, h1)) AS h")
    )
    wf = (
        Window.partitionBy("t")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        grid.join(hourly, ["t", "h"], "left")
        .withColumn("ff", F.last("v", ignorenulls=True).over(wf))
    )
    return filled.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.expr("CAST(v IS NULL AS INT)")).alias("n_gaps"),
        F.sum(F.coalesce("ff", F.lit(0))).alias("sum_filled"),
        F.sum(F.coalesce("v", F.lit(0))).alias("sum_observed"),
    )


def orders_skyline(spark, sf_dir):
    """SKYLINE / PARETO FRONTIER per order status: the orders no other
    same-status order beats on BOTH (lower price, later date).  The
    scalable 2D form: collapse to one row per (status, price_cents)
    keeping max date — a mergeable hash agg that bounds the window
    input by distinct prices — then one running-max window ordered by
    price: a point survives iff its date strictly exceeds every
    cheaper point's best date.  The oracle is an INDEPENDENT
    formulation (quadratic NOT EXISTS dominance) over the same
    collapsed points, so the window rewrite itself is what's checked.
    Output: per-status frontier size + price/date checksums.
    """
    pts = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderstatus AS st",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c",
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS date_us",
        )
        .groupBy("st", "price_c")
        .agg(F.max("date_us").alias("date_us"))
    )
    wp = (
        Window.partitionBy("st")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = pts.withColumn(
        "best_prior", F.max("date_us").over(wp)
    ).filter(
        F.col("date_us") > F.coalesce(F.col("best_prior"), F.lit(-1))
    )
    return sky.groupBy("st").agg(
        F.count(F.lit(1)).alias("n_skyline"),
        F.sum("price_c").alias("sum_price_c"),
        F.min("price_c").alias("min_price_c"),
        F.max("date_us").alias("max_date_us"),
    )


def cusum_changepoint(spark, sf_dir):
    """CUSUM CHANGEPOINT detection on the hourly event-count series:
    cumulative sum of scaled deviations D_t = n*x_t - S (exact BIGINTs,
    same device as events_acf), changepoint = the hour maximizing
    |CUSUM| — the classic mean-shift locator.  The argmax uses the
    packed-integer idiom (events_outliers precedent): |C| * 2^20 +
    (2^20 - 1 - h mod 2^20) picks the largest |C| with the SMALLEST
    hour on ties, identically in both engines, no struct-comparison
    semantics.

    Plan shape: one map-side-combined hourly agg; one sequential
    running-sum window over the tiny series; one final 1-row agg.
    """
    # tiny; stats + cusum branches
    hourly = _hourly_counts(spark, sf_dir).localCheckpoint()
    stats = hourly.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    wc = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    cus = (
        hourly.crossJoin(F.broadcast(stats))
        .selectExpr("h", "n * x - s AS dd", "n")
        .withColumn("c", F.sum("dd").over(wc))
    )
    return cus.selectExpr(
        "n", "ABS(c) AS ac", "h"
    ).groupBy("n").agg(
        F.max(
            F.expr("ac * 1048576 + (1048575 - h % 1048576)")
        ).alias("packed")
    ).selectExpr(
        "n AS n_hours",
        "CAST(FLOOR(packed / 1048576) AS BIGINT) AS max_abs_cusum",
        "CAST(1048575 - packed % 1048576 AS BIGINT) AS cp_hour_mod",
    )


def events_trend(spark, sf_dir):
    """TREND DETECTION: per-type OLS slope of the daily event-count
    series, integer-exact through the closed form — slope =
    (n*Σxy - Σx*Σy) / (n*Σx² - (Σx)²) where x is the day index and y
    the daily count, every Σ a BIGINT; one FLOOR at the end reports
    slope in milli-events/day.  The pattern behind per-key metric
    trend monitors: ONE map-side-combined agg over events, then a
    per-type fold over the tiny daily series — nothing after the first
    agg is proportional to events.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "event_type AS t",
            f"CAST(FLOOR({_TS_US} / {_HOUR_US * 24}) AS BIGINT) AS day",
        )
        .groupBy("t", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    base = daily.groupBy("t").agg(F.min("day").alias("d0"))
    fit = (
        daily.join(F.broadcast(base), "t")
        .selectExpr("t", "day - d0 AS x", "y")
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("x * y")).alias("sxy"),
            F.sum(F.expr("x * x")).alias("sxx"),
        )
    )
    return fit.selectExpr(
        "t", "n", "sy AS total_events",
        "CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * 1000.0 "
        "/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT) "
        "AS slope_milli_per_day",
    )


def drift_chisq(spark, sf_dir):
    """DISTRIBUTION DRIFT detection (data-quality monitoring): weekly
    event-type mix vs the global mix, scored by the chi-square
    statistic — Σ (o - e)² / e over the type cells, log-free (PMI
    precedent: rational arithmetic only, so the oracle is exact).
    Expected counts keep a closed integer form: e_scaled = row_total *
    col_total (over grand total N), and χ²·1e6 = Σ FLOOR((o*N -
    rt*ct)² * 1e6 / (N * rt * ct)) — every term a FLOOR of an exact
    integer ratio.  Plan: ONE (week,type) hash agg over events, two
    tiny rollups broadcast back, per-week fold.  Output: per week the
    scaled χ² and the dominant-excess type (packed argmax).
    """
    wt = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            f"CAST(FLOOR({_TS_US} / {_HOUR_US * 24 * 7}) AS BIGINT) AS wk",
            "event_type AS t",
        )
        .groupBy("wk", "t")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint()  # tiny; three rollup branches
    )
    rt = wt.groupBy("wk").agg(F.sum("o").alias("rt"))
    ct = wt.groupBy("t").agg(F.sum("o").alias("ct"))
    nn = wt.agg(F.sum("o").alias("nn"))
    cell = (
        wt.join(F.broadcast(rt), "wk")
        .join(F.broadcast(ct), "t")
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "wk", "t", "o",
            # (o*N - rt*ct)^2 * 1e6 / (N*rt*ct), floored per cell
            "CAST(FLOOR((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE) "
            "- CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) "
            "* (CAST(o AS DOUBLE) * CAST(nn AS DOUBLE) "
            "- CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) * 1000000.0 "
            "/ (CAST(nn AS DOUBLE) * CAST(rt AS DOUBLE) "
            "* CAST(ct AS DOUBLE))) AS BIGINT) AS chi_part",
            # signed excess o*N - rt*ct for the dominant-type argmax
            "o * nn - rt * ct AS excess",
        )
    )
    # packed argmax over excess: largest excess, smallest type
    # lexicographically on ties via a deterministic type index
    tidx = (
        "CAST(instr('cepsv', substring(t, 1, 1)) AS BIGINT)"
    )
    return cell.groupBy("wk").agg(
        F.sum("chi_part").alias("chisq_u"),
        F.count(F.lit(1)).alias("n_types"),
        F.max(F.expr(f"excess * 8 + (7 - {tidx})")).alias("packed"),
    ).selectExpr(
        "wk", "chisq_u", "n_types",
        f"CAST(7 - (packed - FLOOR(packed / 8) * 8) AS BIGINT) AS top_tidx",
    )


def market_basket_brands(spark, sf_dir):
    """ASSOCIATION-RULE MINING (market basket): brand co-occurrence
    within orders, scored by support and lift.  The baskets are the
    distinct (order, brand) pairs; the pair join is an equi-join on
    the order key whose fanout is bounded by the brand-vocabulary size
    (≤ |brands|² pairs per order, |brands| = 25) — never all-pairs
    across orders.  Brand totals and the order count ride back as
    broadcast one-row/25-row aggregates (no eager count; the TF-IDF N
    lesson).  lift·1000 = n_both · n_orders / (n_a · n_b), FLOORed —
    counts only, so the oracle is exact.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .selectExpr("l_orderkey AS o", "p_brand AS brand")
        .distinct()
        .localCheckpoint()  # three consumers: brand counts, both pair sides
    )
    nb = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n_brand"))
    n_orders = ob.agg(F.countDistinct("o").alias("n_orders"))
    pairs = (
        ob.selectExpr("o", "brand AS a")
        .join(ob.selectExpr("o", "brand AS b"), "o")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        pairs.join(F.broadcast(nb.selectExpr("brand AS a", "n_brand AS n_a")), "a")
        .join(F.broadcast(nb.selectExpr("brand AS b", "n_brand AS n_b")), "b")
        .crossJoin(F.broadcast(n_orders))
        .filter(F.col("n_both") >= 3)
        .selectExpr(
            "a AS brand_a",
            "b AS brand_b",
            "n_both",
            "CAST(FLOOR(1000 * n_both / n_orders) AS BIGINT) AS support_milli",
            "CAST(FLOOR(1000.0 * CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE)"
            " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS BIGINT) AS lift_milli",
        )
    )


def _rank2(base, col: str, bucket_expr: str):
    """Exact global rank of ``col`` (tie-break: ck) WITHOUT a global
    sort: rank within value-range buckets in parallel, then a tiny
    bucket-count prefix window broadcast back (the pack_sequences
    two-level trick).  Identical to ROW_NUMBER() OVER (ORDER BY col,
    ck) because bucket ids are monotone in ``col``."""
    b = base.selectExpr("ck", col, f"{bucket_expr} AS _b")
    wb = Window.partitionBy("_b").orderBy(col, "ck")
    local = b.withColumn("_rn", F.row_number().over(wb).cast("long"))
    btot = b.groupBy("_b").agg(F.count(F.lit(1)).alias("_bt"))
    wo = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(wo), F.lit(0)).cast("long")
    ).select("_b", "_off")
    return local.join(F.broadcast(offs), "_b").selectExpr(
        "ck", "_rn + _off AS rank"
    )


def customer_rfm(spark, sf_dir):
    """RFM SEGMENTATION: per-customer Recency / Frequency / Monetary
    quartile scores, aggregated to segment counts.  Quartiles come
    from EXACT global ranks — computed distributed (two-level bucket
    rank, never a single-partition window over customers) — with the
    closed formula score = FLOOR(4·(rank−1)/n)+1, which both engines
    evaluate identically (the oracle uses a plain ROW_NUMBER; the
    two forms are equal because (metric, ck) is a total order).
    Monetary sums fold as BIGINT cents (gotcha 8).
    """
    od = _t(spark, sf_dir, "orders")
    day = (
        "CAST(FLOOR(unix_micros(CAST(o_orderdate AS TIMESTAMP)) "
        "/ 86400000000) AS BIGINT)"
    )
    per = (
        od.selectExpr(
            "o_custkey AS ck",
            f"{day} AS d",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("ck")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("cents").alias("mon"),
        )
    )
    maxd = per.agg(F.max("last_d").alias("maxd"))
    base = (
        per.crossJoin(F.broadcast(maxd))
        .selectExpr("ck", "maxd - last_d AS rec", "freq", "mon")
        .localCheckpoint()  # four consumers: n + three rank passes
    )
    n_df = base.agg(F.count(F.lit(1)).alias("n"))
    rr = _rank2(base, "rec", "CAST(FLOOR(rec / 64) AS BIGINT)").selectExpr(
        "ck", "rank AS r_rank"
    )
    fr = _rank2(base, "freq", "CAST(FLOOR(freq / 4) AS BIGINT)").selectExpr(
        "ck", "rank AS f_rank"
    )
    mr = _rank2(base, "mon", "CAST(FLOOR(mon / 1048576) AS BIGINT)").selectExpr(
        "ck", "rank AS m_rank"
    )
    scored = (
        base.join(rr, "ck")
        .join(fr, "ck")
        .join(mr, "ck")
        .crossJoin(F.broadcast(n_df))
        .selectExpr(
            "mon",
            # recency: most recent (small rec, low rank) = best score 4
            "CAST(5 - (FLOOR(4 * (r_rank - 1) / n) + 1) AS BIGINT) AS r_score",
            "CAST(FLOOR(4 * (f_rank - 1) / n) + 1 AS BIGINT) AS f_score",
            "CAST(FLOOR(4 * (m_rank - 1) / n) + 1 AS BIGINT) AS m_score",
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("mon").alias("sum_cents"),
    )


# truncated integer EWMA (alpha = 1/4): term k of alpha*(1-alpha)^k,
# scaled by 4^8 so every weight is an exact BIGINT — 3^k * 4^(7-k).
_EWMA_W = [3 ** k * 4 ** (7 - k) for k in range(8)]
_EWMA_DEN = sum(_EWMA_W)  # 4^8 - 3^8 = 58975
_DAY_US = 86_400_000_000


def events_ewma(spark, sf_dir):
    """EXPONENTIAL SMOOTHING of the hourly event-count series: EWMA
    with alpha = 1/4 truncated to the last 8 observations, which makes
    it an exact-integer FIR filter — weight of lag k is 3^k * 4^(7-k)
    (the geometric tail beyond lag 7 carries < 10% of the mass and is
    the truncation spec, mirrored in the oracle).  ewma_mils is the
    weighted mean in integer mils: one FLOOR at the very end
    (gotcha 8); everything before it is BIGINT.

    Plan shape: ONE map-side-combinable hash agg reduces events to the
    observed-hour series; the lag window runs over that tiny series
    (length ∝ time span, not data volume) — the single-partition
    window is over hours, never rows.  Rows without 7 priors are
    excluded (spec'd identically in both engines).
    """
    hourly = _hourly_counts(spark, sf_dir)
    w = Window.orderBy("h")
    lagged = hourly.select(
        "h",
        "x",
        *[F.lag("x", k).over(w).alias(f"x{k}") for k in range(1, 8)],
    )
    terms = " + ".join(
        f"{wt} * x{k}" if k else f"{wt} * x"
        for k, wt in enumerate(_EWMA_W)
    )
    return lagged.filter("x7 IS NOT NULL").selectExpr(
        "h",
        "x",
        f"CAST({terms} AS BIGINT) AS ewma_scaled",
        f"CAST(FLOOR(({terms}) * 1000 / {_EWMA_DEN}) AS BIGINT) AS ewma_mils",
    )


def events_seasonality(spark, sf_dir):
    """DAY-OF-WEEK SEASONAL INDEX of event volume — the seasonality
    decomposition a feed-monitoring pipeline runs before alerting on
    raw counts.  dow is epoch-day mod 7 (pure BIGINT arithmetic — no
    calendar functions, which the two engines disagree on for week
    starts); the index compares each dow's per-day rate to the global
    per-day rate, in basis points with one FLOOR at the end.

    Plan shape: one (day) hash agg over events (map-side combinable),
    then a 7-row rollup; the totals ride back as a broadcast one-row
    aggregate.  Nothing after the first agg is proportional to events.
    """
    per_day = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US} / {_DAY_US}) AS BIGINT) AS d")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dowagg = (
        per_day.selectExpr("d % 7 AS dow", "c")
        .groupBy("dow")
        .agg(F.sum("c").alias("n_events"), F.count(F.lit(1)).alias("n_days"))
    )
    tot = dowagg.agg(
        F.sum("n_events").alias("n"), F.sum("n_days").alias("days_tot")
    )
    return dowagg.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(dow AS INT) AS dow",
        "n_events",
        "n_days",
        "CAST(FLOOR(n_events * days_tot * 10000 / (n_days * n)) AS BIGINT)"
        " AS idx_bp",
    )


def groupingsets_orders(spark, sf_dir):
    """GROUPING SETS (the general form cube/rollup specialize): the
    three analyst cuts (status × priority, status, priority) in ONE
    Expand+agg pass over orders — not three scans — with GROUPING()
    markers disambiguating real NULL keys from subtotal rows.  Price
    folds as exact integer cents (gotcha 8: never SUM raw doubles on
    an oracle-checked path).
    """
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderstatus AS status",
        "o_orderpriority AS priority",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    o.createOrReplaceTempView("orders_gs_tmp")
    return spark.sql(
        """
        SELECT COALESCE(status, 'ALL') AS status,
               COALESCE(priority, 'ALL') AS priority,
               CAST(GROUPING(status) * 2 + GROUPING(priority) AS INT)
                 AS gflags,
               COUNT(*) AS n,
               SUM(cents) AS sum_cents
        FROM orders_gs_tmp
        GROUP BY GROUPING SETS ((status, priority), (status), (priority))
        """
    )


def events_rolling_range(spark, sf_dir):
    """RANGE-frame rolling window (value-based, not row-based): the
    trailing 24-HOUR event count over the hourly series — `RANGE
    BETWEEN 23 PRECEDING AND CURRENT ROW` on the integer hour key, so
    gaps in the series genuinely shrink the window (a ROWS frame would
    silently span them; n_obs exposes the difference).  The standard
    rolling-metric shape for irregular time series.

    Plan shape: one map-side-combinable hash agg reduces events to the
    observed-hour series; both range windows run over that tiny series
    (length ∝ time span, not data volume).
    """
    hourly = _hourly_counts(spark, sf_dir)
    w = Window.orderBy("h").rangeBetween(-23, 0)
    return hourly.select(
        "h",
        "x",
        F.sum("x").over(w).alias("roll24"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_obs"),
    )


def events_variant_json(spark, sf_dir):
    """SEMI-STRUCTURED VARIANT path (Spark 4's shredded-JSON type):
    events round-trip through a NESTED JSON document — to_json →
    parse_json (VariantType) → typed variant_get extraction on nested
    paths — then aggregate per type.  The oracle computes the same
    aggregate straight from the base columns, so the variant encoder,
    path navigation, and type coercion are all load-bearing: any
    mis-extraction flips a sum.  At scale VARIANT beats per-query
    get_json_object re-parsing: the document parses ONCE into the
    binary shredded form, every extraction is a cheap path walk.
    """
    ev = _t(spark, sf_dir, "events")
    j = ev.selectExpr(
        "to_json(named_struct("
        "  'meta', named_struct("
        "     't', event_type,"
        "     'k', CAST(get_json_object(props, '$.k') AS INT)),"
        "  'v', value)) AS js"
    )
    v = j.selectExpr("parse_json(js) AS var").selectExpr(
        "variant_get(var, '$.meta.t', 'string') AS t",
        "variant_get(var, '$.meta.k', 'int') AS k",
        "variant_get(var, '$.v', 'double') AS val",
    )
    return v.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("k").cast("long")).alias("sum_k"),
        F.sum(F.expr("CAST(FLOOR(val * 1000 + 0.5) AS BIGINT)")).alias(
            "sum_v_mils"
        ),
    )


def events_sessionize_batch(spark, sf_dir):
    """BATCH SESSIONIZATION (gaps-and-islands, the batch twin of the
    native streaming session windows in streaming_session_window): a new
    session starts at every >30-minute gap in a user's event stream —
    lag + running-sum windows partitioned by user_id (ONE hash exchange
    on the user key; per-partition state is O(1) per row, so the same
    plan holds at 10^12 events), then per-session aggregates rolled into
    a session-length histogram with exact BIGINT durations in unix
    micros (engines cannot disagree on sub-second ordering; ties break
    on event_id)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", f"{_TS_US} AS us"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    sess = (
        ev.withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > F.lit(1_800_000_000)), 1)
            .otherwise(0),
        )
        .withColumn(
            "sess",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    per = sess.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("session_len"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )
    return per.groupBy("session_len").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("dur_us").alias("sum_dur_us"),
    )


def events_auc(spark, sf_dir):
    """EXACT AUC / Mann-Whitney U of `value` as a purchase classifier
    — the ML-eval primitive next to ann_recall_eval, computed WITHOUT
    a global sort: group rows by distinct integer score (cents), take
    the cumulative negative count below each score via the two-level
    bucket prefix (local running sums + a broadcast bucket-offset
    window over the tiny bucket table — the _rank2 trick on the
    score-GROUP table, so the windowed relation is |distinct scores|,
    never |rows|), then 2U = Σ_s n_pos(s)·(2·cum_neg(s) + n_neg(s))
    handles ties as midranks EXACTLY in integers.  Final division is
    integer DIV (both engines floor identically; doubles would lose
    exactness past 2^53)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
    )
    g = ev.groupBy("s").agg(
        F.sum("y").alias("np_s"),
        F.sum(F.expr("1 - y")).alias("nn_s"),
    )
    b = g.withColumn("_b", F.expr("CAST(FLOOR(s / 4096) AS BIGINT)"))
    wb = (Window.partitionBy("_b").orderBy("s")
          .rowsBetween(Window.unboundedPreceding, -1))
    local = b.withColumn(
        "cum_local", F.coalesce(F.sum("nn_s").over(wb), F.lit(0))
    )
    btot = b.groupBy("_b").agg(F.sum("nn_s").alias("_bt"))
    wo = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(wo), F.lit(0))
    ).select("_b", "_off")
    cum = local.join(F.broadcast(offs), "_b").selectExpr(
        "np_s", "nn_s", "cum_local + _off AS cum_neg"
    )
    tot = cum.agg(
        F.sum("np_s").alias("n_pos"),
        F.sum("nn_s").alias("n_neg"),
        F.sum(F.expr("np_s * (2 * cum_neg + nn_s)")).alias("u2"),
    )
    return tot.selectExpr(
        "n_pos", "n_neg", "u2",
        "(1000000 * u2) DIV (2 * n_pos * n_neg) AS auc_micros",
    )


# Welch variance from exact integer sums, all-double scalar math with
# a SHARED textual expression (gotcha 8: only + - * / sqrt floor on
# oracle paths; the fold is over BIGINTs, the formula is scalar)
_WELCH_V = (
    "((CAST({n} AS DOUBLE) * CAST({q} AS DOUBLE) "
    "- CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE)) "
    "/ (CAST({n} AS DOUBLE) * (CAST({n} AS DOUBLE) - 1.0)))"
)


def events_welch_ttest(spark, sf_dir):
    """WELCH'S t-TEST of each event type's value against the 'view'
    baseline — the A/B-test primitive of an events pipeline.  Values
    are cents-exact (2-decimal fixture), so n, Σv, Σv² fold as exact
    BIGINTs (one map-side-combined agg over the fact table); the t
    statistic is then a CLOSED-FORM scalar over six integers —
    (m₁−m₂)/√(v₁/n₁+v₂/n₂) — evaluated in identical textual order on
    both engines with one FLOOR at the end (the events_trend
    precedent).  The baseline row rides as a broadcast one-row
    aggregate; no second scan, no shuffle beyond the 5-group agg.
    Output per non-baseline type: n, mean (mils), t (mils).
    """
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c",
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.expr("c * c")).alias("q"),
    )
    base = agg.filter("event_type = 'view'").selectExpr(
        "n AS n2", "s AS s2", "q AS q2"
    )
    v1 = _WELCH_V.format(n="n", s="s", q="q")
    v2 = _WELCH_V.format(n="n2", s="s2", q="q2")
    return (
        agg.filter("event_type <> 'view'")
        .crossJoin(F.broadcast(base))
        .selectExpr(
            "event_type",
            "n",
            "CAST(FLOOR(CAST(s AS DOUBLE) * 10.0 / CAST(n AS DOUBLE)) "
            "AS BIGINT) AS mean_mils",
            "CAST(FLOOR((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) "
            "- CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) * 10.0 "
            f"/ SQRT({v1} / CAST(n AS DOUBLE) "
            f"+ {v2} / CAST(n2 AS DOUBLE)) * 1000.0) AS BIGINT) "
            "AS t_mils",
        )
    )


def events_ks_test(spark, sf_dir):
    """Two-sample KOLMOGOROV-SMIRNOV test of the `value` distribution,
    'view' vs 'click' — the standard drift/split-sanity check before
    trusting an A/B bucket.  Exact integers end to end: scores are
    cents, ECDFs are cumulative counts, and the statistic is
    D_num = max |ca(s)*n_b - cb(s)*n_a| over distinct scores, so the
    comparison never touches a float.  Reported as ks_micros =
    (1e6 * D_num) DIV (n_a * n_b) — integer division, exact while
    n_a*n_b < 2^63/1e6 (≈3M rows per class; past that, rescale or
    accept double rounding — the two-pass structure is unchanged).

    Plan shape: ONE hash agg collapses the corpus to distinct-score
    rows; cumulatives come from the two-level bucket prefix (local
    running sums inside 4096-wide score buckets + a broadcast
    bucket-offset window over the tiny bucket table) — the windowed
    relation is |distinct scores|, never |rows|, and no partition is
    global."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .selectExpr(
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s",
            "CAST(event_type = 'view' AS INT) AS a",
        )
    )
    g = ev.groupBy("s").agg(
        F.sum("a").alias("na_s"), F.sum(F.expr("1 - a")).alias("nb_s")
    )
    b = g.withColumn("_b", F.expr("CAST(FLOOR(s / 4096) AS BIGINT)"))
    wb = (
        Window.partitionBy("_b").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = b.withColumn("ca_l", F.sum("na_s").over(wb)).withColumn(
        "cb_l", F.sum("nb_s").over(wb)
    )
    btot = b.groupBy("_b").agg(
        F.sum("na_s").alias("_ba"), F.sum("nb_s").alias("_bb")
    )
    wo = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        btot.withColumn("_oa", F.coalesce(F.sum("_ba").over(wo), F.lit(0)))
        .withColumn("_ob", F.coalesce(F.sum("_bb").over(wo), F.lit(0)))
        .select("_b", "_oa", "_ob")
    )
    cum = local.join(F.broadcast(offs), "_b").selectExpr(
        "ca_l + _oa AS ca", "cb_l + _ob AS cb"
    )
    tots = ev.agg(
        F.sum("a").alias("n_a"), F.sum(F.expr("1 - a")).alias("n_b")
    )
    d = cum.crossJoin(F.broadcast(tots)).selectExpr(
        "abs(ca * n_b - cb * n_a) AS dnum", "n_a", "n_b"
    )
    return d.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("dnum").alias("d_num"),
    ).selectExpr(
        "n_a", "n_b", "d_num",
        "(1000000 * d_num) DIV (n_a * n_b) AS ks_micros",
    )


def events_mann_kendall(spark, sf_dir):
    """MANN-KENDALL monotone-trend test on the hourly event-count
    series — the non-parametric companion to events_trend's OLS slope:
    S = sum over hour pairs i<j of sign(x_j - x_i), tau = S / C(n,2).
    All-integer S; tau reported in micros via one FLOOR of a double
    ratio (|S| bounded by the pair count, far inside 2^53).

    Plan shape: one map-side-combined hash agg reduces the corpus to
    observed hours; the pair join is over the TIME GRID (bounded by
    the observation window — 720 rows for a month of hours — never by
    event volume), the same boundedness argument as events_acf's lag
    join.  Nothing after the first agg scales with the data."""
    # tiny (observed hours); both join sides
    hourly = _hourly_counts(spark, sf_dir).localCheckpoint()
    pairs = hourly.selectExpr("h AS h1", "x AS x1").join(
        hourly.selectExpr("h AS h2", "x AS x2"), F.col("h2") > F.col("h1")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.expr("CAST(x2 > x1 AS BIGINT) - CAST(x2 < x1 AS BIGINT)")
        ).alias("s"),
    )
    n = hourly.agg(F.count(F.lit(1)).alias("n_hours"))
    return n.crossJoin(F.broadcast(s)).selectExpr(
        "n_hours", "n_pairs", "s",
        "CAST(FLOOR(1000000.0 * CAST(s AS DOUBLE) "
        "/ CAST(n_pairs AS DOUBLE)) AS BIGINT) AS tau_micros",
    )


def events_seq_trigrams(spark, sf_dir):
    """SEQUENTIAL-PATTERN MINING: the 10 most common per-user
    event-type trigrams (ordered 3-step paths) — the n-gram
    generalization of event_transitions' Markov pairs.  Two lead
    windows over (user_id, ts, event_id) produce each user's ordered
    path in ONE exchange on user_id; the count table is bounded by
    |event_types|^3, so the ranking window is vocabulary-sized, never
    corpus-sized.  Deterministic top-10: count desc, trigram asc."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .filter(F.col("e3").isNotNull())
        .selectExpr("concat(event_type, '>', e2, '>', e3) AS tri")
    )
    cnt = tri.groupBy("tri").agg(F.count(F.lit(1)).alias("cnt"))
    wr = Window.orderBy(F.col("cnt").desc(), "tri")
    return (
        cnt.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter("rk <= 10")
        .select("rk", "tri", "cnt")
    )


def events_regression(spark, sf_dir):
    """TWO-FEATURE OLS via the normal equations — value (cents) on
    hour-of-day and day-index: b = C^-1 c with the 2x2 centered-moment
    matrix built from exact BIGINT raw sums (C11 = n*S11 - S1^2 ...),
    then the closed-form solve in doubles over textually identical
    expressions (only * - / on both engines).  Day index is shifted to
    start at 0 (one broadcast min) so the scaled moments stay far from
    2^63; at extreme row counts the same two-pass shape centers on the
    broadcast means instead — the plan is unchanged.

    Plan shape: one broadcast min, ONE map-side-combined agg over the
    corpus folding all 9 moments, then a one-row projection.  No
    shuffle is proportional to events."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        f"FLOOR({_TS_US} / {_HOUR_US}) AS ht",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y",
    ).selectExpr(
        "CAST(ht % 24 AS BIGINT) AS x1",
        "CAST(FLOOR(ht / 24) AS BIGINT) AS d",
        "y",
    )
    mind = ev.agg(F.min("d").alias("d0"))
    base = ev.join(F.broadcast(mind)).selectExpr("x1", "d - d0 AS x2", "y")
    m = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x1 * x1")).alias("s11"),
        F.sum(F.expr("x2 * x2")).alias("s22"),
        F.sum(F.expr("x1 * x2")).alias("s12"),
        F.sum(F.expr("x1 * y")).alias("s1y"),
        F.sum(F.expr("x2 * y")).alias("s2y"),
    )
    det = (
        "(CAST(c11 AS DOUBLE) * CAST(c22 AS DOUBLE) "
        "- CAST(c12 AS DOUBLE) * CAST(c12 AS DOUBLE))"
    )
    return m.selectExpr(
        "n",
        "n * s11 - s1 * s1 AS c11",
        "n * s22 - s2 * s2 AS c22",
        "n * s12 - s1 * s2 AS c12",
        "n * s1y - s1 * sy AS c1y",
        "n * s2y - s2 * sy AS c2y",
    ).selectExpr(
        "n", "c11", "c22", "c12",
        "CAST(FLOOR(1000000.0 * (CAST(c22 AS DOUBLE) * CAST(c1y AS DOUBLE) "
        f"- CAST(c12 AS DOUBLE) * CAST(c2y AS DOUBLE)) / {det}) AS BIGINT) "
        "AS b1_micros",
        "CAST(FLOOR(1000000.0 * (CAST(c11 AS DOUBLE) * CAST(c2y AS DOUBLE) "
        f"- CAST(c12 AS DOUBLE) * CAST(c1y AS DOUBLE)) / {det}) AS BIGINT) "
        "AS b2_micros",
    )


# Benford expected first-digit shares, integer micros of log10(1+1/d)
# (public mathematical constants, embedded as literals so no log()
# ever runs on an oracle-checked path).
_BENFORD_MICROS = (301030, 176091, 124939, 96910, 79181,
                   66947, 57992, 51153, 45757)


def events_benford(spark, sf_dir):
    """BENFORD'S-LAW first-digit audit of `value` — the classic
    anomaly/fraud screen a data-quality pipeline runs over monetary
    columns.  The leading digit comes from the STRING form of the
    cents integer (no log10 anywhere — gotcha 8), expected shares are
    embedded integer-micro constants, and the per-digit deviation
    |1e6*cnt - exp*n| stays in exact BIGINTs.  One hash agg over
    events + a broadcast total; output is 9 rows."""
    exp_case = "CASE d " + " ".join(
        f"WHEN {d + 1} THEN {m}" for d, m in enumerate(_BENFORD_MICROS)
    ) + " END"
    ev = _t(spark, sf_dir, "events").selectExpr(
        "CAST(substring(CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) "
        "AS STRING), 1, 1) AS INT) AS d"
    ).filter("d > 0")
    cnt = ev.groupBy("d").agg(F.count(F.lit(1)).alias("cnt"))
    tot = ev.agg(F.count(F.lit(1)).alias("n"))
    return cnt.crossJoin(F.broadcast(tot)).selectExpr(
        "d", "cnt", "n",
        "(1000000 * cnt) DIV n AS obs_micros",
        f"{exp_case} AS exp_micros",
        f"abs(1000000 * cnt - {exp_case} * n) AS dev_scaled",
    ).orderBy("d")


def bitmap_distinct_users(spark, sf_dir):
    """EXACT DISTINCT via 63-bit WORD BITMAPS — the roaring-bitmap-lite
    mergeable summary for COUNT(DISTINCT) over a bounded id domain
    (the pattern OLAP engines use to make distinct counts partial-agg
    mergeable instead of a two-level shuffle): set bit (user_id % 63)
    in word (user_id DIV 63) with bit_or (63 bits per word — DuckDB
    range-checks bit 63, same convention as bloom_filter_join), then
    popcount-sum the words.  The exact COUNT(DISTINCT) rides along so
    the equality is VISIBLE in the oracle-checked output."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "user_id",
        "user_id DIV 63 AS word",
        "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)) AS bit",
    )
    words = ev.groupBy("event_type", "word").agg(
        F.expr("bit_or(bit)").alias("m")
    )
    bm = words.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(m)")).alias("n_distinct_bitmap"),
        F.count(F.lit(1)).alias("n_words"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_distinct_exact")
    )
    return bm.join(ex, "event_type")


def events_twap(spark, sf_dir):
    """TIME-WEIGHTED AVERAGE value (TWAP) per event type — each
    observation holds until the type's next event (lead window), so
    irregular sampling doesn't bias the mean toward bursts.  Durations
    snap to whole seconds and values to mils BEFORE the product fold
    (exact BIGINTs; at extreme scale the same shape re-buckets the
    products per day first).  One exchange on event_type; final ratio
    is integer DIV (both operands positive — floor == trunc in both
    engines)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "event_id",
        f"{_TS_US} AS us",
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_mils",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    seg = (
        ev.withColumn("nxt", F.lead("us").over(w))
        .filter(F.col("nxt").isNotNull())
        .selectExpr(
            "event_type", "v_mils",
            "CAST(FLOOR((nxt - us) / 1000000) AS BIGINT) AS dur_s",
        )
    )
    return seg.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_holds"),
        F.sum("dur_s").alias("sum_dur_s"),
        F.sum(F.expr("v_mils * dur_s")).alias("sum_wv"),
    ).selectExpr(
        "event_type", "n_holds", "sum_dur_s", "sum_wv",
        "sum_wv DIV sum_dur_s AS twap_mils",
    )


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape — CORRELATED SCALAR SUBQUERY surface: revenue
    from lineitems whose quantity is below 20% of their part's average
    quantity, for one brand / small sizes.  Written as the correlated
    subquery ON PURPOSE so Catalyst's decorrelation does the rewrite
    (per-part aggregate + equi-join — never a per-row subquery
    execution; pinned in tests/test_plans.py).  Revenue folds as exact
    cents; the quantity threshold 0.2*AVG is one multiply over an
    exactly-representable average (integer-valued quantities), so both
    engines compare identical doubles."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_q17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("_q17_part")
    return spark.sql("""
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
         AS BIGINT) AS revenue_cents
FROM _q17_lineitem, _q17_part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#4' AND p_size < 20
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity)
    FROM _q17_lineitem l2 WHERE l2.l_partkey = p_partkey
  )
""")


# Exact-integer money fragments — the SINGLE source of truth shared by
# the engine (via F.expr / format into spark.sql) and the DuckDB
# oracles (via format in oracles/relational.py).  gotcha 7: FLOOR, never
# CAST(double AS INT).
CENTS = "CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)"
PCT = CENTS.format(col="l_discount")
CC = f"({CENTS.format(col='l_extendedprice')} * (100 - {PCT}))"
SUM_CC = f"CAST(SUM({CC}) AS BIGINT)"


def _views(spark: SparkSession, sf_dir: str, prefix: str, tables) -> dict:
    """Register per-query temp views; returns the {{table: view}} map
    used to format the shared SQL template (the oracle formats the
    same template with the bare table names DuckDB pre-registers)."""
    names = {}
    for t in tables:
        v = f"_{prefix}_{t}"
        _t(spark, sf_dir, t).createOrReplaceTempView(v)
        names[t] = v
    return names


Q4_TEMPLATE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM {orders}
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM {lineitem}
    WHERE l_orderkey = o_orderkey
      AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30)
GROUP BY o_orderpriority
"""

Q7_TEMPLATE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       {SUM_CC} AS revenue_cc,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM {{supplier}}, {{lineitem}}, {{orders}}, {{customer}},
     {{nation}} n1, {{nation}} n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
  AND c_nationkey = n2.n_nationkey
  AND n1.n_name <> n2.n_name
  AND year(l_shipdate) IN (1996, 1997)
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""

Q8_TEMPLATE = f"""
WITH rev AS (
  SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
         {SUM_CC} AS rev_cc
  FROM {{part}}, {{supplier}}, {{lineitem}}, {{orders}}, {{customer}},
       {{nation}} n1, {{nation}} n2, {{region}}
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
    AND p_type = 'PROMO'
    AND year(o_orderdate) IN (1996, 1997)
  GROUP BY year(o_orderdate), n2.n_name
)
SELECT o_year, supp_nation, rev_cc,
       CAST(FLOOR(1000000.0 * rev_cc
                  / SUM(rev_cc) OVER (PARTITION BY o_year))
            AS BIGINT) AS share_micros
FROM rev
"""

Q9_TEMPLATE = f"""
SELECT n_name AS supp_nation, year(o_orderdate) AS o_year,
       CAST(SUM({CC}
                - {CENTS.format(col='p_retailprice')}
                  * CAST(FLOOR(l_quantity) AS BIGINT) * 50)
            AS BIGINT) AS profit_cc,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM {{part}}, {{supplier}}, {{lineitem}}, {{orders}}, {{nation}}
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
"""

Q15_TEMPLATE = f"""
WITH srev AS (
  SELECT l_suppkey, {SUM_CC} AS total_cc
  FROM {{lineitem}}
  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_cc
FROM srev, {{supplier}}
WHERE s_suppkey = l_suppkey
  AND total_cc = (SELECT MAX(total_cc) FROM srev)
"""

Q20_TEMPLATE = """
SELECT s_suppkey, s_name, n_name
FROM {supplier}, {nation}
WHERE s_nationkey = n_nationkey
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM {lineitem}, {part}
    WHERE p_partkey = l_partkey AND p_type = 'PROMO'
      AND year(l_shipdate) = 1997
    GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 400)
"""

Q21_TEMPLATE = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM {supplier}, {lineitem} l1, {orders}
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM {lineitem} l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM {lineitem} l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate >= l1.l_shipdate)
GROUP BY s_name
"""

Q22_TEMPLATE = f"""
WITH bal AS (
  SELECT CAST(SUM({CENTS.format(col='c_acctbal')}) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {{customer}} WHERE c_acctbal > 0.0
)
SELECT c_nationkey % 5 AS cust_group,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM({CENTS.format(col='c_acctbal')}) AS BIGINT) AS total_cents
FROM {{customer}}, bal
WHERE {CENTS.format(col='c_acctbal')} * n > s
  AND NOT EXISTS (
    SELECT 1 FROM {{orders}}
    WHERE o_custkey = c_custkey
      AND CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
GROUP BY c_nationkey % 5
"""


def q4_late_shipments(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): count orders per
    priority that had at least one LATE line.  Adapted: lineitem has no
    commitdate/receiptdate, so "late" = shipped more than 30 days after
    the order date.  The correlated EXISTS is the surface — Catalyst
    rewrites it to a left-semi join on o_orderkey (the date predicate
    rides along as the join condition's residual), never a per-row
    probe."""
    v = _views(spark, sf_dir, "q4", ["orders", "lineitem"])
    return spark.sql(Q4_TEMPLATE.format(**v))


def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 (volume shipping): cross-border revenue by (supplier
    nation, customer nation, ship year).  Adapted: instead of one fixed
    nation pair (the 10-supplier sf0.001 fixture may miss any given
    nation), ALL cross-border pairs group — same join tree, denser
    output.  nation joins twice under different roles; both sides are
    broadcast dims."""
    v = _views(spark, sf_dir, "q7",
               ["supplier", "lineitem", "orders", "customer", "nation"])
    return spark.sql(Q7_TEMPLATE.format(**v))


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share): for PROMO parts sold to ASIA
    customers, each supplier nation's revenue share per order year.
    Adapted: emits every supplier nation's share (the reference pins
    one nation; the fixture's supplier set is too small to guarantee
    any single one), so the window total replaces the scalar divide —
    share_micros = floor(1e6 * rev / sum(rev) OVER year), an identical
    double chain in both engines."""
    v = _views(spark, sf_dir, "q8",
               ["part", "supplier", "lineitem", "orders", "customer",
                "nation", "region"])
    return spark.sql(Q8_TEMPLATE.format(**v))


def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation x year).  Adapted:
    no partsupp means no ps_supplycost, so cost is proxied at 50% of
    p_retailprice (retail_cents * qty * 50 in centi-cents — still an
    exact-integer fold); the part filter keeps Q9's p_name LIKE form.
    Join tree (part ⋈ supplier ⋈ lineitem ⋈ orders ⋈ nation) and the
    group-by are the reference shape."""
    v = _views(spark, sf_dir, "q9",
               ["part", "supplier", "lineitem", "orders", "nation"])
    return spark.sql(Q9_TEMPLATE.format(**v))


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): revenue per supplier over one quarter,
    returning the max-revenue supplier(s) via a scalar subquery over
    the same CTE — exactly the reference's view-then-max shape.
    Catalyst evaluates the scalar MAX once (single-row broadcast), not
    per row; ties return multiple rows as in the spec."""
    v = _views(spark, sf_dir, "q15", ["lineitem", "supplier"])
    return spark.sql(Q15_TEMPLATE.format(**v))


def q20_promo_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): suppliers who moved
    > 400 units of PROMO parts in 1997.  Adapted: no partsupp, so the
    availability check (agg > threshold inside an IN-subquery) runs
    over shipped lineitem quantity instead of stock.  The IN-subquery
    over a grouped HAVING is the surface — planned as an aggregate +
    left-semi join."""
    v = _views(spark, sf_dir, "q20",
               ["supplier", "nation", "lineitem", "part"])
    return spark.sql(Q20_TEMPLATE.format(**v))


def q21_latest_shipper(spark, sf_dir):
    """TPC-H Q21 shape (suppliers kept waiting): per supplier, count
    finished multi-supplier orders where THIS supplier's line shipped
    strictly later than every other supplier's.  Adapted: "late" uses
    l_shipdate order (no receipt/commit dates).  The EXISTS + NOT
    EXISTS pair over the same fact table is the classic decorrelation
    stress — Catalyst plans existence + left-anti joins on l_orderkey
    (pinned: no per-row subquery, tests/test_plans.py)."""
    v = _views(spark, sf_dir, "q21", ["supplier", "lineitem", "orders"])
    return spark.sql(Q21_TEMPLATE.format(**v))


def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balance and no recent orders, grouped into
    5 buckets.  Adapted: no c_phone, so the country-code substring
    becomes c_nationkey % 5.  The above-average test is EXACT-INTEGER:
    cents*n > sum_cents replaces acctbal > AVG(...) (identical
    semantics, no float average on the comparison path); the no-orders
    test is a correlated NOT EXISTS → left-anti join."""
    v = _views(spark, sf_dir, "q22", ["customer", "orders"])
    return spark.sql(Q22_TEMPLATE.format(**v))


# Derived partsupp: the observed (partkey, suppkey) pairs from lineitem
# with supplycost/availqty as deterministic integer functions of the
# keys — the IDENTICAL text runs as a CTE in both engines, so the
# relation is reproducible anywhere and nothing external is faked.
PARTSUPP_TEMPLATE = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST((l_partkey * 7 + l_suppkey * 13) % 90000 + 10000 AS BIGINT)
           AS ps_supplycost_cents,
         CAST((l_partkey * 31 + l_suppkey * 17) % 9991 + 10 AS BIGINT)
           AS ps_availqty
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM {lineitem}) ps0
"""

Q2_TEMPLATE = f"""
WITH partsupp AS ({PARTSUPP_TEMPLATE})
SELECT {CENTS.format(col='s_acctbal')} AS s_acctbal_cents,
       s_name, n_name, p_partkey, p_brand, ps_supplycost_cents
FROM partsupp, {{part}}, {{supplier}}, {{nation}}, {{region}}
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size = 15
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost_cents = (
    SELECT MIN(ps2.ps_supplycost_cents)
    FROM partsupp ps2, {{supplier}} s2, {{nation}} n2, {{region}} r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
"""

# Above-1.2x-mean threshold kept ALL-INTEGER by cross-multiplying
# (group_value * n_groups * 5 > grand_total * 6) — selectivity is
# scale-free, unlike TPC-H's 0.0001/SF literal.
Q11_TEMPLATE = f"""
WITH partsupp AS ({PARTSUPP_TEMPLATE}),
nat AS (
  SELECT ps_partkey,
         CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cc
  FROM partsupp, {{supplier}}, {{nation}}
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name IN ('NATION_3', 'NATION_7')
  GROUP BY ps_partkey
),
tot AS (
  SELECT CAST(SUM(value_cc) AS BIGINT) AS total_cc,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM nat
)
SELECT ps_partkey, value_cc
FROM nat, tot
WHERE value_cc * n_parts * 5 > total_cc * 6
"""


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier): for size-15 parts, the
    EUROPE supplier(s) achieving the minimum supply cost, via the
    classic correlated scalar subquery.  partsupp is DERIVED
    (PARTSUPP_TEMPLATE — deterministic integer cost/qty over the
    observed lineitem pairs; identical text in both engines).  The
    surface is the decorrelation: Catalyst rewrites the correlated MIN
    to a per-part aggregate + equi-join (no per-row subquery); part /
    supplier / nation / region are broadcast dims, so the only wide
    work is the distinct over lineitem's (partkey, suppkey) pairs."""
    v = _views(spark, sf_dir, "q2",
               ["lineitem", "part", "supplier", "nation", "region"])
    return spark.sql(Q2_TEMPLATE.format(**v))


def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 (important stock identification): per-part inventory
    value within a nation group, kept where the part's value exceeds
    1.2x the mean part value — the group-vs-global-scalar-threshold
    shape, held ALL-INTEGER by cross-multiplying instead of TPC-H's
    float fraction (scale-free selectivity; gotcha 8: no float
    compare on the oracle-checked path).  partsupp is DERIVED
    (PARTSUPP_TEMPLATE).  The global total folds to ONE broadcast row;
    nothing joins wider than the per-part aggregate."""
    v = _views(spark, sf_dir, "q11", ["lineitem", "supplier", "nation"])
    return spark.sql(Q11_TEMPLATE.format(**v))


def q6_revenue_band(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): one scan, band filters,
    exact discount-revenue fold (cents x pct BIGINTs).  The discount
    band compares the SNAPPED pct integer (5..7), not raw doubles —
    0.05/0.07 have no exact float64 form and a raw BETWEEN would be
    epsilon-fragile across engines.  Fully pushdown-able scan-side
    filters; single partial-aggregated global sum."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.expr("CAST(l_shipdate AS DATE) >= DATE '1996-01-01'"))
        .filter(F.expr("CAST(l_shipdate AS DATE) < DATE '1997-01-01'"))
        .filter(F.expr(f"{PCT} BETWEEN 5 AND 7"))
        .filter(F.col("l_quantity") < 24)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr(
                f"CAST(SUM({CENTS.format(col='l_extendedprice')} * {PCT})"
                " AS BIGINT)"
            ).alias("discount_cc"),
        )
    )


def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    on RETURNED lines for orders placed in 1996H1.  Deterministic
    top-k: rank by (revenue desc, custkey asc) — a total order, so the
    LIMIT set is engine-independent.  nation broadcasts; the ranking
    window runs over the customer-sized aggregate, never the fact
    table."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("CAST(o_orderdate AS DATE) >= DATE '1996-01-01'")
    ).filter(F.expr("CAST(o_orderdate AS DATE) < DATE '1996-07-01'"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(SUM_CC).alias("revenue_cc"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("revenue_cc").desc(), F.col("c_custkey").asc())
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("c_custkey", "c_name", "n_name", "revenue_cc")
    )


def q12_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority gauge): per line status,
    how many 1997-shipped lines belong to high- vs low-priority orders.
    Adapted: lineitem has no l_shipmode, so l_linestatus is the
    grouping dimension; the CASE-sum pair over o_orderpriority is the
    reference's exact aggregation form."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.expr("year(l_shipdate) = 1997")
    )
    hi = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN {hi} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("high_line_count"),
            F.expr(
                f"CAST(SUM(CASE WHEN {hi} THEN 0 ELSE 1 END) AS BIGINT)"
            ).alias("low_line_count"),
        )
    )


def q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    customer→orders with the filter IN THE JOIN CONDITION (the Q13
    signature — a WHERE would turn the outer join inner and lose the
    zero-order customers), then a two-level aggregate: orders per
    customer, customers per order-count.  Adapted: the excluded-comment
    predicate becomes o_orderpriority <> '5-LOW'."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q14_promo_share(spark, sf_dir):
    """TPC-H Q14 (promotion effect): PROMO revenue share of one month,
    in exact centi-cents plus a micros ratio (identical double chain
    both sides).  part broadcasts into the fact scan; one global
    aggregate row."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.expr(
            "CAST(l_shipdate AS DATE) >= DATE '1996-09-01'"
            " AND CAST(l_shipdate AS DATE) < DATE '1996-10-01'"
        )
    )
    part = _t(spark, sf_dir, "part")
    promo_cc = f"CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {CC} ELSE 0 END) AS BIGINT)"
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.expr(promo_cc).alias("promo_cc"),
            F.expr(SUM_CC).alias("total_cc"),
        )
        .select(
            "promo_cc",
            "total_cc",
            F.expr(
                "CAST(FLOOR(1000000.0 * promo_cc / total_cc) AS BIGINT)"
            ).alias("promo_micros"),
        )
    )


def q16_part_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship): distinct
    suppliers per (brand, type, size), excluding one brand and a size
    set.  Adapted: supplier-part pairs come from shipped lineitem (no
    partsupp); the distinct-count aggregation + exclusion filters are
    the reference shape.  part broadcasts; COUNT(DISTINCT) shuffles
    once on the 3-column group key."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q18_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds 300, with customer and year.  The HAVING aggregate runs
    BEFORE the joins (orderkey-grouped fact scan, then the small
    survivor set joins orders/customer) — the reference's
    IN-(grouped-subquery) shape, planned as agg → broadcast-able tiny
    side."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr("CAST(FLOOR(SUM(l_quantity)) AS BIGINT)").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.expr("year(o_orderdate)").alias("o_year"),
            F.expr(CENTS.format(col="o_totalprice")).alias("price_cents"),
            "total_qty",
        )
    )


def q19_bracketed_revenue(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, disjunctive brackets): three
    brand x size x quantity brackets OR-ed inside one join predicate.
    Adapted: no container/shipmode/shipinstruct legs — brand+size+qty
    carry the bracket structure.  The surface is the disjunctive
    join condition: Catalyst keeps the p_partkey equi-key (hash join,
    brackets as residual filter), never a nested loop; part
    broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bracket = (
        "(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10"
        " AND l_quantity >= 1 AND l_quantity <= 11)"
        " OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20"
        " AND l_quantity >= 10 AND l_quantity <= 20)"
        " OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30"
        " AND l_quantity >= 20 AND l_quantity <= 30)"
    )
    return joined.filter(F.expr(bracket)).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr(SUM_CC).alias("revenue_cc"),
    )


_ORDER_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"


# Shared recursive-chain fragments — the ORACLE composes them into one
# WITH RECURSIVE statement; the ENGINE materializes the linked list
# first (Spark's UnionLoop re-plans every non-recursive CTE per
# iteration — the window+self-join re-ran ~25 times, measured 34 s at
# sf0.1 → 7 s with the pointer table checkpointed once) and recurses
# over the checkpointed view with the IDENTICAL walk text.  The walk is
# depth-capped at 12 (the first 12 orders per customer), the standard
# recursive-CTE bound: rounds are fixed by the CAP, not by the data's
# longest chain, so the iteration count survives any scale-up.
_CHAIN_DEPTH = 12

RECURSIVE_LINKED_SQL = f"""
WITH ord AS (
  SELECT o_custkey, o_orderkey, {_ORDER_CENTS} AS cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
              AS BIGINT) AS rn
  FROM {{orders}}
)
SELECT a.o_custkey AS ck, a.o_orderkey AS ok, a.cents AS cents,
       a.rn AS rn, b.o_orderkey AS nxt
FROM ord a LEFT JOIN ord b
  ON a.o_custkey = b.o_custkey AND b.rn = a.rn + 1
"""

RECURSIVE_WALK_SQL = f"""
WITH RECURSIVE walk AS (
  SELECT ck, ok, nxt, CAST(1 AS BIGINT) AS depth, cents AS run_cents
  FROM {{linked}} WHERE rn = 1
  UNION ALL
  SELECT l.ck, l.ok, l.nxt, w.depth + 1, w.run_cents + l.cents
  FROM walk w JOIN {{linked}} l ON l.ok = w.nxt
  WHERE w.depth < {_CHAIN_DEPTH}
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_chains,
       CAST(SUM(run_cents) AS BIGINT) AS sum_run_cents,
       CAST(SUM(ok) AS BIGINT) AS ok_checksum
FROM walk GROUP BY depth
"""


def recursive_order_chain(spark, sf_dir):
    """NATIVE WITH RECURSIVE (new in Spark 4): per-customer order
    chains walked as a linked list — depth index + running spend
    computed by the recursion (capped at 12 hops), then aggregated per
    depth.  The pointers (next order of the same customer) are a
    window + self-join, MATERIALIZED once (localCheckpoint) because
    UnionLoop replans non-recursive CTEs every iteration; the
    recursive step is then a pure equi-join on the pointer per round.
    DuckDB runs the identical fragments composed into one statement.
    The window-function route would compute the same result in one
    pass — the recursion is the deliberate surface, mirroring
    hierarchy/BOM walks that windows cannot express."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_rchain_orders")
    linked = spark.sql(
        RECURSIVE_LINKED_SQL.format(orders="_rchain_orders")
    ).localCheckpoint()
    linked.createOrReplaceTempView("_rchain_linked")
    # r06: the recursion MATERIALIZES here under _drain_confs —
    # UnionLoop replans AND recompiles whole-stage codegen for every
    # one of the 12 levels (gotcha 18's cost driver), so codegen-off
    # for the walk measured 9.5 s → 2.6 s first-plan (2.8 → 2.5 warm).
    # The WITH RECURSIVE surface is unchanged; only where the action
    # runs moved (inside the builder, like every streaming drain).
    with _drain_confs(spark):
        return spark.sql(
            RECURSIVE_WALK_SQL.format(linked="_rchain_linked")
        ).localCheckpoint()


def unpivot_order_metrics(spark, sf_dir):
    """UNPIVOT / melt (relational breadth O-family): wide per-status
    aggregates rotated into (status, metric, value) rows via the
    native DataFrame unpivot (Expand, one pass, no join/union re-scan).
    All three measures are BIGINT so the melted value column needs no
    widening; the oracle is the classic UNION ALL rotation."""
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(f"CAST(SUM({_ORDER_CENTS}) AS BIGINT)").alias("sum_cents"),
            F.expr(f"MAX({_ORDER_CENTS})").alias("max_cents"),
        )
    )
    return agg.unpivot(
        ["o_orderstatus"], ["n_orders", "sum_cents", "max_cents"],
        "metric", "val",
    )


# AMS sign: md5 hex digit j of the stringified user id, high bit →
# ±1.  The repo's hex→int fragment (instr over the hex alphabet) —
# conv() is absent in DuckDB.
_AMS_SKETCHES = 16
_AMS_SIGN = (
    "CASE WHEN instr('0123456789abcdef',"
    " substr(md5(CAST(user_id AS STRING)), j, 1)) - 1 >= 8"
    " THEN 1 ELSE -1 END"
)


def ams_f2_sketch(spark, sf_dir):
    """AMS (Alon-Matias-Szegedy) F2 second-moment sketch over the
    events user-frequency vector, 16 estimators: est_j = (Σ_u cnt_u ·
    sign_j(u))², signs from md5 hex digits — deterministic, no RNG
    (hll_distinct precedent).  Everything BIGINT; the exact F2 =
    Σ cnt² rides along so the sketch's accuracy is visible in the
    output.  Scale shape: one user-keyed agg (the same agg any
    distinct-count needs), then a 16-way explode over the USER table
    and a 16-row reduce — mergeable across partitions by construction."""
    cnts = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_sketch = (
        cnts.selectExpr("user_id", "cnt", "explode(sequence(1, 16)) AS j")
        .selectExpr("j", f"cnt * ({_AMS_SIGN}) AS signed")
        .groupBy("j")
        .agg(F.expr("CAST(SUM(signed) AS BIGINT) AS s"))
    )
    exact = cnts.agg(
        F.expr("CAST(SUM(cnt * cnt) AS BIGINT) AS f2_exact"),
        F.count(F.lit(1)).alias("n_users"),
    )
    est = per_sketch.agg(
        F.expr(
            f"CAST(FLOOR(CAST(SUM(s * s) AS BIGINT) / {_AMS_SKETCHES}.0)"
            " AS BIGINT) AS f2_ams"
        )
    )
    return exact.crossJoin(F.broadcast(est))


def events_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend estimator over the hourly event-count
    series: the MEDIAN of all pairwise slopes (h1 < h2).  Slopes are
    micro-snapped via one shared FLOOR over an identical double divide;
    the median is the lower-median ROW_NUMBER pick over the total order
    (slope, h1, h2) — deterministic in both engines.  Scale shape: ONE
    map-side-combined hash agg reduces events to observed hours; the
    pair join and the ranking window run over the TIME-GRID-bounded
    pair set (~260k rows for a 720-hour grid — fixed by the calendar,
    not the data size; the events_acf boundedness argument)."""
    # tiny; both pair-join sides
    hourly = _hourly_counts(spark, sf_dir).localCheckpoint()
    pairs = (
        hourly.selectExpr("h AS h1", "x AS x1")
        .join(hourly.selectExpr("h AS h2", "x AS x2"),
              F.col("h2") > F.col("h1"))
        .selectExpr(
            "h1", "h2",
            "CAST(FLOOR(1000000.0 * (x2 - x1) / (h2 - h1)) AS BIGINT)"
            " AS slope",
        )
    )
    w = Window.orderBy("slope", "h1", "h2")
    ranked = pairs.withColumn(
        "rn", F.row_number().over(w).cast("bigint")
    )
    n = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .filter(F.expr("rn = CAST(FLOOR((n_pairs + 1) / 2.0) AS BIGINT)"))
        .selectExpr("n_pairs", "slope AS median_slope_micros")
    )


def param_sql_revenue(spark, sf_dir):
    """NAMED-PARAMETER SQL (spark.sql(..., args=...), new API in Spark
    3.4+/4): the revenue band scan parameterized with :min_pct /
    :max_pct / :max_qty instead of inlined literals — the
    injection-safe programmatic form.  Parameter binding happens at
    parse time, so the executed plan is identical to the literal form;
    the oracle runs the literal-substituted text."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_psql_lineitem")
    return spark.sql(
        f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({CENTS.format(col='l_extendedprice')} * {PCT}) AS BIGINT)
         AS discount_cc
FROM _psql_lineitem
WHERE {PCT} BETWEEN :min_pct AND :max_pct
  AND l_quantity < :max_qty
""",
        args={"min_pct": 3, "max_pct": 6, "max_qty": 30},
    )


def scd2_user_state(spark, sf_dir):
    """SCD TYPE-2 dimension build (the lakehouse dimension-modelling
    primitive): per-user event-type state intervals with
    valid_from/valid_to — consecutive same-type runs collapse
    (gaps-and-islands: change flag -> running sum -> group), valid_to =
    next interval's valid_from (lead), open intervals flagged current.
    ONE user-key exchange carries all three windows (lag, running sum,
    lead — same partitioning, Catalyst reuses the sort).  Output: the
    per-type interval ledger (counts, open rows, closed-duration sums
    in exact micros)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", f"{_TS_US} AS us", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "chg",
        F.expr(
            "CASE WHEN LAG(event_type) OVER"
            " (PARTITION BY user_id ORDER BY us, event_id)"
            " IS DISTINCT FROM event_type THEN 1 ELSE 0 END"
        ),
    )
    grouped = flagged.withColumn(
        "grp", F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    iv = grouped.groupBy("user_id", "grp").agg(
        F.min("event_type").alias("state"),
        F.min("us").alias("valid_from"),
    )
    w_iv = Window.partitionBy("user_id").orderBy("valid_from")
    iv2 = iv.withColumn("valid_to", F.lead("valid_from").over(w_iv))
    return iv2.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.expr("CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_current"),
        F.expr("CAST(SUM(CASE WHEN valid_to IS NULL THEN 0"
               " ELSE valid_to - valid_from END) AS BIGINT)")
        .alias("closed_dur_us"),
    )


def events_mad(spark, sf_dir):
    """Median absolute deviation of the hourly event-count series —
    the robust-scale companion to events_theil_sen.  Both medians are
    lower-median ROW_NUMBER picks over the TIME-GRID-bounded hourly
    relation (deterministic total orders: (x, h) then (dev, h));
    everything BIGINT."""
    # median pick + deviation branch
    hourly = _hourly_counts(spark, sf_dir).localCheckpoint()
    n = hourly.agg(F.count(F.lit(1)).alias("n_hours"))
    w1 = Window.orderBy("x", "h")
    med = (
        hourly.withColumn("rn", F.row_number().over(w1).cast("bigint"))
        .crossJoin(F.broadcast(n))
        .filter(F.expr("rn = CAST(FLOOR((n_hours + 1) / 2.0) AS BIGINT)"))
        .selectExpr("x AS median_x", "n_hours")
    )
    dev = hourly.crossJoin(F.broadcast(med)).selectExpr(
        "h", "ABS(x - median_x) AS d", "median_x", "n_hours"
    )
    w2 = Window.orderBy("d", "h")
    return (
        dev.withColumn("rn", F.row_number().over(w2).cast("bigint"))
        .filter(F.expr("rn = CAST(FLOOR((n_hours + 1) / 2.0) AS BIGINT)"))
        .selectExpr("n_hours", "median_x", "d AS mad")
    )


# 2x-scaled midrank: integer-exact under ties (2r = 2*minrank + t - 1).
_R2 = "2 * RANK() OVER (ORDER BY {col}) + COUNT(*) OVER (PARTITION BY {col}) - 1"

# rho = 1 - 6*sum(d^2) / (n(n^2-1)); with d at 2x scale sum(d2^2) = 4*sum(d^2)
# so the micro-scaled statistic is one shared float division + FLOOR.
# Explicit CAST AS DOUBLE on an operand of every term: Spark parses
# decimal-point literals as DECIMAL (not double), and a decimal chain
# rounds at a different scale than DuckDB's doubles — FLOOR flips at
# the boundary (measured on events_forecast_ols: 160 rows off by 1).
_RHO_MICROS = (
    "CAST(FLOOR(1000000.0 - (1500000.0 * CAST(sum_d2_sq AS DOUBLE))"
    " / (CAST(n_hours AS DOUBLE) * (n_hours * n_hours - 1))) AS BIGINT)"
)


def events_spearman(spark, sf_dir):
    """SPEARMAN RANK CORRELATION between the hourly 'view' and 'click'
    spend series — the monotone-association twin of events_regression's
    Pearson OLS.  Midranks are exact BIGINTs at 2x scale (2r =
    2*RANK() + ties - 1, the AUC midrank identity), d = r2x - r2y stays
    integer, and rho lands in micros via ONE shared FLOOR division
    (sum d2^2 = 4 sum d^2 folds into the 6/(n(n^2-1)) constant).

    Plan shape: ONE map-side-combinable hash agg reduces events to the
    observed-hour series (length ∝ time span, never rows); the two
    ranking windows run over that tiny series.  Only hours where both
    series are observed enter (spec'd identically in the oracle).
    """
    hourly = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .selectExpr(
            f"CAST(FLOOR({_TS_US} / {_HOUR_US}) AS BIGINT) AS h",
            "event_type",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("h")
        .agg(
            F.sum(F.expr("CASE WHEN event_type = 'view' THEN cents END"))
            .alias("xv"),
            F.sum(F.expr("CASE WHEN event_type = 'click' THEN cents END"))
            .alias("xc"),
        )
        .filter("xv IS NOT NULL AND xc IS NOT NULL")
    )
    ranked = hourly.selectExpr(
        "h",
        f"{_R2.format(col='xv')} AS r2v",
        f"{_R2.format(col='xc')} AS r2c",
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.expr("(r2v - r2c) * (r2v - r2c)")).alias("sum_d2_sq"),
    ).selectExpr("n_hours", "sum_d2_sq", f"{_RHO_MICROS} AS rho_micros")


# z = (R - mu)/sigma with mu = 1 + 2ab/n, var = 2ab(2ab-n)/(n^2(n-1));
# a=n_pos, b=n_neg, n=a+b.  Exact integers in, one shared float chain out.
_RUNS_Z = (
    "CAST(FLOOR(1000000.0 * (CAST(n_runs AS DOUBLE)"
    " - (1.0 + 2.0 * CAST(n_pos AS DOUBLE) * n_neg / (n_pos + n_neg)))"
    " / SQRT(2.0 * CAST(n_pos AS DOUBLE) * n_neg"
    " * (2.0 * CAST(n_pos AS DOUBLE) * n_neg - (n_pos + n_neg))"
    " / (CAST(n_pos + n_neg AS DOUBLE) * (n_pos + n_neg)"
    " * (n_pos + n_neg - 1)))) AS BIGINT)"
)


def events_runs_test(spark, sf_dir):
    """WALD-WOLFOWITZ RUNS TEST on the sign sequence of hour-to-hour
    count deltas — the nonparametric randomness check of a monitoring
    pipeline (too few runs = trending, too many = oscillating).  Signs
    come from a lag window over consecutive OBSERVED hours; zero deltas
    are excluded (the classical treatment, spec'd identically in the
    oracle).  R, n_pos, n_neg are exact integers; z lands in micros via
    one shared + - * / sqrt floor chain.

    Plan shape: one hash agg to the hourly series, two lag windows over
    that tiny series, one global fold.  Nothing after the first agg
    scales with rows."""
    hourly = _hourly_counts(spark, sf_dir)
    w = Window.orderBy("h")
    signs = (
        hourly.withColumn("d", F.col("x") - F.lag("x").over(w))
        .filter("d IS NOT NULL AND d <> 0")
        .selectExpr("h", "CASE WHEN d > 0 THEN 1 ELSE -1 END AS s")
    )
    runs = signs.withColumn(
        "new_run",
        F.expr(
            "CASE WHEN LAG(s) OVER (ORDER BY h) IS NULL THEN 1 "
            "WHEN s <> LAG(s) OVER (ORDER BY h) THEN 1 ELSE 0 END"
        ),
    )
    return runs.agg(
        F.sum(F.expr("CASE WHEN s = 1 THEN 1 ELSE 0 END")).alias("n_pos"),
        F.sum(F.expr("CASE WHEN s = -1 THEN 1 ELSE 0 END")).alias("n_neg"),
        F.sum("new_run").alias("n_runs"),
    ).selectExpr("n_pos", "n_neg", "n_runs", f"{_RUNS_Z} AS z_micros")


def events_kruskal(spark, sf_dir):
    """KRUSKAL-WALLIS H test of value distributions across event types
    — the k-group extension of the AUC/Mann-Whitney machinery.  Global
    midranks at 2x scale come from the SAME two-level technique as
    events_auc: the windowed relation is the DISTINCT cents scores
    (bounded by value resolution), never the rows; per-row 2r = 2*cum_lt
    + t + 1 attaches back by an equi-join on the score.  H uses the
    DEVIATION form H = 3/(N(N+1)) * sum_g dev_g^2/n_g with dev_g =
    R2_g - n_g*(N+1) (exact BIGINT — the 2x-scaled gap between the
    group's rank sum and its null expectation, which stays small where
    the raw rank sum would square past int64); each group's term is
    FLOORed to BIGINT micros through a shared + * / floor chain and the
    cross-group fold is an exact integer SUM (gotcha 8 — never a
    multi-row double sum).  Tie correction 1 - sum(t^3-t)/(N^3-N) is
    reported separately in micros so the uncorrected H stays headline.

    Plan shape: one hash agg to (score, type) cells, one window over
    distinct scores, one broadcast fold.  Nothing after the first agg
    is proportional to events."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v",
    )
    cells = ev.groupBy("v", "g").agg(F.count(F.lit(1)).alias("c"))
    scores = cells.groupBy("v").agg(F.sum("c").alias("t"))
    wcum = (
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    )
    r2 = scores.withColumn(
        "cum_lt", F.coalesce(F.sum("t").over(wcum), F.lit(0))
    ).selectExpr("v", "t", "2 * cum_lt + t + 1 AS r2")
    grp = (
        cells.join(r2.select("v", "r2"), "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.expr("c * r2")).alias("r2_g"),
        )
    )
    tot = r2.agg(
        F.sum("t").alias("n"),
        F.sum(F.expr("t * t * t - t")).alias("tie_sum"),
    )
    # FLOOR-per-group micro term (shared chain text with the oracle):
    # dev_g exact BIGINT, then ONE double chain + FLOOR per group.
    per_g = grp.crossJoin(F.broadcast(tot)).selectExpr(
        "g", "n_g", "n", "tie_sum",
        "r2_g - n_g * (n + 1) AS dev",
    ).selectExpr(
        "g", "n_g", "n", "tie_sum",
        "CAST(FLOOR(3000000.0 * dev * dev"
        " / (CAST(n_g AS DOUBLE) * n * (n + 1))) AS BIGINT) AS t_micros",
    )
    return per_g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.max("n").alias("n"),
        F.sum("t_micros").alias("h_micros"),
        F.max("tie_sum").alias("tie_sum"),
    ).selectExpr(
        "n_groups",
        "n",
        "h_micros",
        "CAST(FLOOR(1000000.0 - 1000000.0 * tie_sum"
        " / (CAST(n AS DOUBLE) * n * n - n)) AS BIGINT) AS tie_corr_micros",
    )


_DTW_DAYS = 28
_DTW_BAND = 3


def events_dtw(spark, sf_dir):
    """DYNAMIC TIME WARPING distance between each event type's daily
    cents series and the 'view' baseline — the shape-similarity metric
    of a time-series pipeline (is the purchase curve a lagged copy of
    the view curve?).  Classic band-limited DTW: Sakoe-Chiba band 3,
    first _DTW_DAYS days from the corpus min (both bounds are the
    SPEC, mirrored in the oracle), costs |a_i - b_j| in exact cents so
    the min-plus DP is pure BIGINT — parity is exact.

    Plan shape: ONE map-side-combinable hash agg reduces events to the
    (type, day) grid; series assemble as bounded arrays (length <= 28
    by construction); the DP runs as an Arrow-batched kernel over the
    4-row pair table — per-pair work is O(days * band), independent of
    corpus size.  Oracle: a GENUINELY DIFFERENT algorithm — the DTW
    lattice as a shortest-path DAG, Bellman-Ford unrolled 54 rounds
    with zero-weight self-loop moves (single back-reference per round,
    the shortest_path_weighted technique)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS t",
        f"CAST(FLOOR({_TS_US} / {_DAY_US}) AS BIGINT) AS day",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    st = ev.agg(F.min("day").alias("d0"))
    dd = (
        ev.crossJoin(F.broadcast(st))
        .agg(F.expr(
            f"LEAST({_DTW_DAYS}, CAST(MAX(day - d0) AS INT) + 1) AS nd"
        ))
    )
    daily = (
        ev.crossJoin(F.broadcast(st))
        .selectExpr("t", "day - d0 AS d", "cents")
        .filter(f"d < {_DTW_DAYS}")
        .groupBy("t", "d")
        .agg(F.sum("cents").alias("v"))
    )
    grid = (
        daily.select("t").distinct()
        .crossJoin(F.broadcast(dd))
        .selectExpr("t", "explode(sequence(0, nd - 1)) AS d")
        .join(daily, ["t", "d"], "left")
        .selectExpr("t", "d", "COALESCE(v, CAST(0 AS BIGINT)) AS v")
    )
    arrs = grid.groupBy("t").agg(F.expr(
        "transform(sort_array(collect_list(struct(d, v))), s -> s.v) AS vs"
    ))
    base = arrs.filter("t = 'view'").selectExpr("vs AS bs")
    pairs = arrs.filter("t <> 'view'").crossJoin(F.broadcast(base))

    def _dp(r):
        inf = 1 << 62
        a = [int(x) for x in r.vs]
        b = [int(x) for x in r.bs]
        n = len(a)
        dpt = [[inf] * n for _ in range(n)]
        for i in range(n):
            lo = max(0, i - _DTW_BAND)
            hi = min(n, i + _DTW_BAND + 1)
            for j in range(lo, hi):
                c = abs(a[i] - b[j])
                if i == 0 and j == 0:
                    best = 0
                else:
                    best = min(
                        dpt[i - 1][j] if i else inf,
                        dpt[i][j - 1] if j else inf,
                        dpt[i - 1][j - 1] if i and j else inf,
                    )
                dpt[i][j] = c + best
        yield (r.t, n, dpt[n - 1][n - 1])

    return map_rows(
        pairs, _dp, "event_type string, n_days int, dtw_cost bigint"
    )


# Rolling-OLS one-step forecast: shared integer window sums (k = 12
# trailing hours), closed-form line fit, FLOOR-per-row micro forecast.
_FC_K = 12
_FC_SI = _FC_K * (_FC_K + 1) // 2
_FC_SII = _FC_K * (_FC_K + 1) * (2 * _FC_K + 1) // 6
_FC_DET = _FC_K * _FC_SII - _FC_SI * _FC_SI
# forecast at i = k+1: f = sx/k + b*(k+1 - si/k) with b = (k*six -
# si*sx)/det — ONE double chain + FLOOR, text shared with the oracle
_FC_MICROS = (
    f"CAST(FLOOR(1000000.0 * (CAST(sx AS DOUBLE) / {_FC_K}.0"
    f" + CAST({_FC_K} * six - {_FC_SI} * sx AS DOUBLE)"
    f" * ({_FC_K + 1} - {_FC_SI} / {_FC_K}.0)"
    f" / {_FC_DET}.0)) AS BIGINT)"
)

# shared analytic-function block (identical window text in both
# engines; o_orderkey tiebreak makes NTILE bucket boundaries a TOTAL
# order — cents ties would otherwise split buckets engine-dependently)
_RANK_EXPRS = (
    "CAST(FLOOR(1000000.0 * PERCENT_RANK() OVER "
    "(PARTITION BY st ORDER BY cents, o_orderkey)) AS BIGINT) AS pr_micros",
    "CAST(FLOOR(1000000.0 * CUME_DIST() OVER "
    "(PARTITION BY st ORDER BY cents, o_orderkey)) AS BIGINT) AS cd_micros",
    "CAST(NTILE(4) OVER (PARTITION BY st ORDER BY cents, o_orderkey)"
    " AS INT) AS quartile",
)


def events_forecast_ols(spark, sf_dir):
    """ROLLING-REGRESSION FORECAST BACKTEST: at every hour, fit an OLS
    line to the previous 12 observed hours (rolling BIGINT sums — n,
    sum i, sum i^2, sum x, sum i*x over the window), forecast one step
    ahead in closed form, and score the backtest against both the
    naive last-value forecast (MAE ratio in mils).  With the regular
    i = 1..k index the normal equations have integer determinant, so
    the per-row forecast is ONE double chain + FLOOR (shared text);
    the MAEs fold as exact BIGINT micro sums.

    Plan shape: one hash agg to the hourly series; two lag-window
    passes over that tiny series (windowed relation = observed hours,
    never rows); one global fold."""
    hourly = _hourly_counts(spark, sf_dir)
    k = _FC_K
    w = Window.orderBy("h").rowsBetween(-k, -1)
    wl = Window.orderBy("h")
    # regular index i = 1..k over the trailing window: sums of i and
    # i^2 are constants; sum_x and sum_ix come from the lag columns
    lags = hourly.select(
        "h", "x",
        *[F.lag("x", j).over(wl).alias(f"x{j}") for j in range(1, k + 1)],
    ).filter(f"x{k} IS NOT NULL")
    # x{j} is the value j hours back -> index i = k + 1 - j
    sum_x = " + ".join(f"x{j}" for j in range(1, k + 1))
    sum_ix = " + ".join(f"{k + 1 - j} * x{j}" for j in range(1, k + 1))
    fc = lags.selectExpr(
        "h", "x", "x1",
        f"({sum_x}) AS sx",
        f"({sum_ix}) AS six",
    ).selectExpr(
        "h", "x",
        f"{_FC_MICROS} AS fc_micros",
        "x1 * 1000000 AS naive_micros",
    )
    return fc.agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.expr("ABS(x * 1000000 - fc_micros)")).alias("mae_ols_micros"),
        F.sum(F.expr("ABS(x * 1000000 - naive_micros)"))
        .alias("mae_naive_micros"),
    ).selectExpr(
        "n_obs", "mae_ols_micros", "mae_naive_micros",
        "CAST(FLOOR(1000.0 * CAST(mae_ols_micros AS DOUBLE)"
        " / mae_naive_micros) AS BIGINT) AS mase_mils",
    )


def orders_rank_functions(spark, sf_dir):
    """ANALYTIC-FUNCTION BREADTH: percent_rank / cume_dist / ntile
    over order prices within status — the remaining ranking-family
    surface next to window_top3/skyline.  Both engines evaluate the
    identical window text; the float percent_rank/cume_dist snap to
    micros per row (FLOOR, gotcha 8) before the integer rollup."""
    orders = _t(spark, sf_dir, "orders")
    ranked = orders.selectExpr(
        "o_orderstatus AS st",
        "o_orderkey",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    ).selectExpr("st", "cents", *_RANK_EXPRS)
    return ranked.groupBy("st", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.sum("pr_micros").alias("sum_pr_micros"),
        F.sum("cd_micros").alias("sum_cd_micros"),
    )


def orders_abc_analysis(spark, sf_dir):
    """ABC / PARETO CLASSIFICATION of brands by revenue — the
    inventory-management classic (A = first 80% of cumulative revenue,
    B = next 15%, C = tail), kept ALL-INTEGER by cross-multiplying the
    cumulative share against the grand total (cum_before * 100 <
    total * 80 — no float share ever materializes).  Ranking and the
    running sum are windows over the BRAND-sized relation (bounded by
    the catalog, never by lineitem).

    Plan shape: fact-table hash agg on brand (map-side combinable),
    broadcast total, one brand-sized window, 3-row rollup."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == part.p_partkey)
        .selectExpr(
            "p_brand",
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("p_brand")
        .agg(F.sum("cents").alias("rev"))
    )
    w = Window.orderBy(F.col("rev").desc(), "p_brand")
    wc = w.rowsBetween(Window.unboundedPreceding, -1)
    classed = rev.select(
        "p_brand", "rev",
        F.coalesce(F.sum("rev").over(wc), F.lit(0)).alias("cum_before"),
        F.sum("rev").over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
        ).alias("total"),
    ).selectExpr(
        "p_brand", "rev",
        "CASE WHEN cum_before * 100 < total * 80 THEN 'A' "
        "WHEN cum_before * 100 < total * 95 THEN 'B' ELSE 'C' END AS abc",
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_brands"),
        F.sum("rev").alias("sum_cents"),
    )


# Markov stationary distribution: integer power method over the
# event-type transition matrix, micros state, FLOOR per term (the
# pagerank recipe on the 5-type chain).
_MK_ROUNDS = 8


def events_markov_stationary(spark, sf_dir):
    """STATIONARY DISTRIBUTION of the per-user event-type Markov chain
    — the long-run state mix implied by event_transitions' counts:
    integer power method, pi'(j) = sum_i FLOOR(pi(i) * c_ij / r_i)
    over micros states (FLOOR per term is the spec, mirrored exactly),
    8 fixed rounds from the uniform start.  The chain itself is the
    (prev, next) lag-window histogram; everything after the first agg
    runs on the TYPE x TYPE table (25 rows at any scale).

    Plan shape: one lag window on user_id, one hash agg, then 8
    25-row joins (localCheckpointed — gotcha 15); oracle is the
    identical recurrence as an unrolled linear CTE chain."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type AS t", f"{_TS_US} AS us", "event_id"
    )
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    trans = (
        ev.withColumn("nxt", F.lead("t").over(wo))
        .filter("nxt IS NOT NULL")
        .groupBy("t", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    rowsum = trans.groupBy("t").agg(F.sum("c").alias("r"))
    tm = trans.join(rowsum, "t").localCheckpoint()
    # r06: loop under _drain_confs (codegen off + 8 partitions,
    # restored) — per-round plan churn, the _components_jump lesson
    with _drain_confs(spark):
        pi = rowsum.selectExpr(
            "t AS s", "CAST(1000000 DIV 5 AS BIGINT) AS pi"
        ).localCheckpoint()
        for _ in range(_MK_ROUNDS):
            pi = (
                tm.join(pi, tm.t == pi.s)
                .selectExpr("nxt AS s2", "(pi * c) DIV r AS term")
                .groupBy("s2")
                .agg(F.sum("term").alias("pi"))
                .selectExpr("s2 AS s", "pi")
                .localCheckpoint()
            )
    return pi.selectExpr("s AS event_type", "pi AS pi_micros")


_BS_B = 32


def events_bootstrap_ci(spark, sf_dir):
    """DETERMINISTIC BOOTSTRAP CI for the mean hourly event count:
    B=32 resamples of the hourly series with replacement, indices
    drawn by a 48-bit md5 hash of (replicate, slot) — content-derived,
    so the draw is identical across partitionings, runs, AND engines
    (the sample_weighted determinism argument; no RNG anywhere).  The
    interval is the 2nd-smallest / 2nd-largest replicate mean
    (~93.75% coverage at B=32, spec'd as rank picks).

    Plan shape: one hash agg to the hourly series; the B x n resample
    explode is bounded by B * observed hours (never rows); replicate
    means are exact integer DIV micros; the rank picks run over the
    32-row replicate table."""
    hourly = _hourly_counts(spark, sf_dir)
    idx = hourly.selectExpr(
        "x",
        "CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS BIGINT) AS i",
        "CAST(COUNT(*) OVER () AS BIGINT) AS n",
    )
    key = "concat('bs', b, ':', s)"
    draws = (
        idx.selectExpr("i AS slot_i", "x", "n")
        .join(
            idx.selectExpr("i AS s", "n AS n2")
            .selectExpr("s", f"explode(sequence(0, {_BS_B - 1})) AS b")
            .selectExpr("b", "s", f"{_h48(f'md5({key})')} % 1000000 AS h48"),
            F.expr("slot_i = h48 % n"),
        )
        .groupBy("b")
        .agg(
            F.sum("x").alias("sum_x"),
            F.count(F.lit(1)).alias("n_slots"),
        )
        .selectExpr(
            "b", "(1000000 * sum_x) DIV n_slots AS mean_micros"
        )
    )
    ranked = draws.selectExpr(
        "mean_micros",
        "ROW_NUMBER() OVER (ORDER BY mean_micros, b) AS rk",
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.max(F.expr("CASE WHEN rk = 2 THEN mean_micros END"))
        .alias("lo_micros"),
        F.max(F.expr(f"CASE WHEN rk = {_BS_B - 1} THEN mean_micros END"))
        .alias("hi_micros"),
        F.sum("mean_micros").alias("sum_mean_micros"),
    )


_HOLD_US = 1_800_000_000  # 30-minute hold per event


_MIN_US = 60_000_000


def events_concurrency(spark, sf_dir):
    """PEAK CONCURRENCY per day — the classic interval-overlap sweep
    (every event holds a resource for 30 min; how many are held at
    once?).  Each interval is clipped at the midnight it may cross
    (30 min < 24 h ⇒ at most two day-segments), so day partitions are
    self-contained: crossing intervals re-open with a +1 boundary at
    exactly day*DAY and the previous day closes them at the same
    instant.

    Scale shape: the running sum NEVER runs over a raw day partition —
    boundaries bucket by minute, a minute-bounded (≤1440-row) window
    computes per-bucket prefix offsets, and the within-bucket running
    sum is minute-local (the events_auc / sequence-packing two-level
    prefix).  Ties are deterministic: ORDER BY (t, delta) under the
    default RANGE frame gives every peer the tie-group-end value, and
    -1 sorts before +1 so half-open intervals never overlap at a
    shared endpoint.
    """
    iv = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"{_TS_US} AS s")
        .selectExpr("s", f"s + {_HOLD_US} AS e",
                    f"(s DIV {_DAY_US} + 1) * {_DAY_US} AS dayend")
    )
    st = "named_struct('day', {day}, 't', {t}, 'delta', {d})"
    bnd = (
        iv.selectExpr(
            "explode(array("
            + st.format(day=f"s DIV {_DAY_US}", t="s", d="1") + ", "
            + st.format(day=f"s DIV {_DAY_US}", t="LEAST(e, dayend)",
                        d="-1") + ", "
            + "CASE WHEN e > dayend THEN "
            + st.format(day=f"s DIV {_DAY_US} + 1", t="dayend", d="1")
            + " END, "
            + "CASE WHEN e > dayend THEN "
            + st.format(day=f"s DIV {_DAY_US} + 1", t="e", d="-1")
            + " END)) AS b"
        )
        .filter("b IS NOT NULL")
        .selectExpr("b.day AS day", "b.t AS t", "b.delta AS delta",
                    f"b.t DIV {_MIN_US} AS bk")
    )
    bsum = bnd.groupBy("day", "bk").agg(F.sum("delta").alias("sb"))
    boff = bsum.selectExpr(
        "day", "bk",
        "SUM(sb) OVER (PARTITION BY day ORDER BY bk) - sb AS off",
    )
    run = (
        bnd.join(boff, ["day", "bk"])
        .selectExpr(
            "day", "t", "delta",
            "off + SUM(delta) OVER (PARTITION BY day, bk"
            " ORDER BY t, delta) AS run",
        )
    )
    w = run.selectExpr(
        "day", "t", "delta", "run",
        "MAX(run) OVER (PARTITION BY day) AS mx",
    )
    return (
        w.groupBy("day")
        .agg(
            F.max("mx").alias("peak"),
            F.min(F.expr("CASE WHEN run = mx THEN t END"))
            .alias("first_peak_us"),
            F.sum(F.expr("CASE WHEN delta = 1 THEN 1 ELSE 0 END"))
            .alias("n_opens"),
        )
        .selectExpr("day", "CAST(peak AS BIGINT) AS peak",
                    "first_peak_us",
                    "CAST(n_opens AS BIGINT) AS n_opens")
    )


def orders_listagg(spark, sf_dir):
    """Spark 4 LISTAGG ... WITHIN GROUP (ORDER BY ...) — the
    ordered-set string aggregate (DuckDB twin: string_agg with an
    ORDER BY clause).  Deterministic by construction: the aggregate
    runs over the DISTINCT (status, priority) pairs under a total
    order, so both engines fold the same sequence.  The pair relation
    is vocabulary-sized (|status| x |priority|); the per-status order
    counts ride along from a map-side-combined hash agg."""
    o = _t(spark, sf_dir, "orders")
    pairs = o.select("o_orderstatus", "o_orderpriority").distinct()
    agg = pairs.groupBy("o_orderstatus").agg(
        F.expr(
            "listagg(o_orderpriority, ',')"
            " WITHIN GROUP (ORDER BY o_orderpriority)"
        ).alias("priorities_csv"),
        F.count(F.lit(1)).alias("n_priorities"),
    )
    counts = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return agg.join(counts, "o_orderstatus").select(
        "o_orderstatus", "n_priorities", "priorities_csv", "n_orders"
    )


# Identical text runs in both engines (the q17 precedent): Spark
# decorrelates the correlated ORDER BY ... LIMIT into WindowGroupLimit
# (map-side partial top-k) + ONE exchange + a broadcast join — never a
# per-row subquery (plan-pinned).
LATERAL_TOPK_TEMPLATE = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.cents
FROM {customer} c, LATERAL (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM {orders} o WHERE o.o_custkey = c.c_custkey
  ORDER BY cents DESC, o_orderkey LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
"""


def lateral_topk_orders(spark, sf_dir):
    """Spark 4 LATERAL correlated subquery — per BUILDING customer,
    their top-2 orders by exact cents (deterministic o_orderkey tie).
    The SQL-surface demo next to q17's correlated scalar subquery:
    Catalyst decorrelates the LATERAL ORDER BY/LIMIT into
    WindowGroupLimit partial top-k + one hash exchange + a broadcast
    join (plan-pinned — no BroadcastNestedLoopJoin, no per-row
    subquery).  DuckDB runs the identical template text."""
    v = _views(spark, sf_dir, "lat", ["customer", "orders"])
    return spark.sql(LATERAL_TOPK_TEMPLATE.format(**v))


def orders_decision_stump(spark, sf_dir):
    """DECISION STUMP: the best single Gini split of order price
    predicting order status — the depth-1 tree-learning primitive, run
    relationally.  Minimizing weighted Gini impurity is equivalent to
    maximizing S(t) = sumL(c^2)*nR + sumR(c^2)*nL over nL*nR; both
    numerator and denominator are EXACT BIGINTs from cumulative class
    counts, and only the final ratio divides as a shared-text double
    (gotcha 8 ops).  Smallest-threshold tie via the rank window.

    Scale shape: one hash agg reduces orders to (bucket, status)
    counts; every window runs over the DISTINCT-BUCKET relation (the
    events_auc bounded-window argument — thresholds, never rows)."""
    o = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DIV 10000 AS b",
        "o_orderstatus AS s",
    )
    per = o.groupBy("b", "s").agg(F.count(F.lit(1)).alias("c"))
    wide = per.groupBy("b").agg(
        F.sum(F.expr("CASE WHEN s = 'O' THEN c ELSE 0 END")).alias("co"),
        F.sum(F.expr("CASE WHEN s = 'P' THEN c ELSE 0 END")).alias("cp"),
        F.sum(F.expr("CASE WHEN s = 'F' THEN c ELSE 0 END")).alias("cf"),
    )
    cum = wide.selectExpr(
        "b",
        "SUM(co) OVER (ORDER BY b) AS lo",
        "SUM(cp) OVER (ORDER BY b) AS lp",
        "SUM(cf) OVER (ORDER BY b) AS lf",
        "SUM(co) OVER () AS tot_o",
        "SUM(cp) OVER () AS tot_p",
        "SUM(cf) OVER () AS tot_f",
    )
    scored = cum.selectExpr(
        "b AS thr",
        "lo + lp + lf AS n_left",
        "(tot_o - lo) + (tot_p - lp) + (tot_f - lf) AS n_right",
        "(lo * lo + lp * lp + lf * lf) * ((tot_o - lo) + (tot_p - lp)"
        " + (tot_f - lf)) + ((tot_o - lo) * (tot_o - lo)"
        " + (tot_p - lp) * (tot_p - lp) + (tot_f - lf) * (tot_f - lf))"
        " * (lo + lp + lf) AS s_num",
    ).filter("n_right > 0").selectExpr(
        "thr", "n_left", "n_right", "s_num",
        "n_left * n_right AS s_den",
        "CAST(FLOOR(CAST(s_num AS DOUBLE) / CAST(n_left * n_right"
        " AS DOUBLE) * 1000000.0) AS BIGINT) AS score_micros",
    )
    w = Window.orderBy(
        (F.col("s_num").cast("double") / F.col("s_den").cast("double"))
        .desc(),
        F.col("thr").asc(),
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("thr", "n_left", "n_right", "s_num", "s_den",
                "score_micros")
    )


def events_rolling_wau(spark, sf_dir):
    """ROLLING 7-DAY ACTIVE USERS (exact sliding COUNT DISTINCT — the
    WAU metric): each distinct (user, day) pair explodes to the <=7
    trailing windows it belongs to, then one hash agg counts distinct
    users per window-end day.  Exact at any scale: the fanout is a
    fixed 7x over the ALREADY-DEDUPED (user, day) relation, and
    distinctness shuffles on (window, user) — never a per-day state
    scan.  DAU rides along for the ratio."""
    ud = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"user_id", f"{_TS_US} DIV {_DAY_US} AS day")
        .distinct()
    )
    span = ud.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    wau = (
        ud.selectExpr(
            "user_id", "explode(sequence(day, day + 6)) AS w"
        )
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, dau.day == wau.w)
        .crossJoin(F.broadcast(span))
        .filter("day BETWEEN d0 AND d1")
        .selectExpr(
            "day", "dau", "wau",
            "CAST(FLOOR(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)"
            " * 1000000.0) AS BIGINT) AS stickiness_micros",
        )
    )


def supplier_winsorized_mean(spark, sf_dir):
    """WINSORIZED MEAN of supplier balances (clip at the exact p10/p90
    order statistics, then average) — the robust-metrics companion to
    MAD and the exact-quantiles family.  The clip thresholds are exact
    rank picks over the DISTINCT-cents relation (two-level bounded
    windows — never a row-level sort); the clipped sum stays a pure
    BIGINT and the mean divides once as a shared double."""
    s = _t(spark, sf_dir, "supplier").selectExpr(
        "CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS cents"
    )
    # exact order statistics via the cumulative distribution over the
    # DISTINCT-cents relation (the exact-quantiles technique): windows
    # run over distinct values, never rows; rank indices are pure
    # integers ((n-1) DIV 10, 9(n-1) DIV 10 — zero-based nearest-rank)
    per = s.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    cum = per.selectExpr(
        "cents",
        "SUM(cnt) OVER (ORDER BY cents) AS cume",
        "SUM(cnt) OVER () AS n",
    )
    cuts = cum.groupBy().agg(
        F.min(F.expr(
            "CASE WHEN cume >= (n - 1) DIV 10 + 1 THEN cents END"
        )).alias("lo"),
        F.min(F.expr(
            "CASE WHEN cume >= (9 * (n - 1)) DIV 10 + 1 THEN cents END"
        )).alias("hi"),
    )
    return (
        s.crossJoin(F.broadcast(cuts))
        .selectExpr(
            "LEAST(GREATEST(cents, lo), hi) AS w", "lo", "hi"
        )
        .groupBy("lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").alias("sum_w"),
            F.expr(
                "CAST(FLOOR(CAST(SUM(w) AS DOUBLE) / COUNT(*)"
                " * 1000.0) AS BIGINT)"
            ).alias("wmean_millicents"),
        )
    )


def events_hourly_peaks(spark, sf_dir):
    """PEAK DETECTION on the hourly spend series: strict local maxima
    over a +-3-hour neighborhood that also clear the exact p90 of the
    hourly values (prominence floor) — the alerting primitive on a
    metric series.  Neighborhood tests are lag/lead windows over the
    time-grid-bounded hourly relation; interior hours only (both
    3-neighborhoods fully observed on the dense grid) so the edge
    semantics are spec'd identically in the oracle; p90 is the exact
    nearest-rank pick over the DISTINCT-value cumulative distribution
    (the winsorize technique)."""
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            f"{_TS_US} DIV {_HOUR_US} AS h",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("h")
        .agg(F.sum("cents").alias("v"))
    )
    # dense grid: missing hours count as 0 (gap-fill spec'd both sides)
    span = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    dense = (
        span.selectExpr("explode(sequence(h0, h1)) AS h")
        .join(hourly, "h", "left")
        .selectExpr("h", "COALESCE(v, 0) AS v")
    )
    per = dense.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    cum = per.selectExpr(
        "v", "SUM(cnt) OVER (ORDER BY v) AS cume", "SUM(cnt) OVER () AS n"
    )
    p90 = cum.groupBy().agg(
        F.min(F.expr(
            "CASE WHEN cume >= (9 * (n - 1)) DIV 10 + 1 THEN v END"
        )).alias("p90")
    )
    nb = dense.selectExpr(
        "h", "v",
        *[f"LAG(v, {k}) OVER (ORDER BY h) AS lag{k}" for k in (1, 2, 3)],
        *[f"LEAD(v, {k}) OVER (ORDER BY h) AS lead{k}" for k in (1, 2, 3)],
    )
    return (
        nb.crossJoin(F.broadcast(p90))
        .filter(
            "lag3 IS NOT NULL AND lead3 IS NOT NULL"
            " AND v > GREATEST(lag1, lag2, lag3)"
            " AND v > GREATEST(lead1, lead2, lead3)"
            " AND v >= p90"
        )
        .selectExpr(
            "h", "v", "GREATEST(lag1, lag2, lag3, lead1, lead2, lead3)"
            " AS nbr_max", "p90",
        )
    )


def events_seasonal_decompose(spark, sf_dir):
    """CLASSICAL SEASONAL DECOMPOSITION of the daily spend series:
    trend = centered 7-day moving average (integer DIV over FULL
    windows only), seasonal = per-day-of-week truncating mean of the
    detrended values, residual = detrended - seasonal; emits the
    7-row seasonal profile with exact residual power.  All-integer
    (DIV <-> // verified for negatives); every window runs over the
    gap-filled dense DAY grid (time-bounded, never rows)."""
    daily = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            f"{_TS_US} DIV {_DAY_US} AS d",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("v"))
    )
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    dense = (
        span.selectExpr("explode(sequence(d0, d1)) AS d")
        .join(daily, "d", "left")
        .selectExpr("d", "COALESCE(v, 0) AS v")
    )
    tr = dense.selectExpr(
        "d", "v",
        "SUM(v) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3"
        " FOLLOWING) AS s7",
        "COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3"
        " FOLLOWING) AS n7",
    ).filter("n7 = 7").selectExpr(
        "d", "v", "v - s7 DIV 7 AS det", "d % 7 AS dow"
    )
    seas = tr.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("SUM(det) DIV COUNT(*)").alias("seasonal_cents"),
    )
    return (
        tr.join(seas, "dow")
        .selectExpr("dow", "n_days", "seasonal_cents",
                    "det - seasonal_cents AS r")
        .groupBy("dow", "n_days", "seasonal_cents")
        .agg(
            F.sum(F.expr("r * r")).alias("sum_resid_sq"),
            F.sum("r").alias("sum_resid"),
        )
    )


def hll_union_merge(spark, sf_dir):
    """HLL SKETCH MERGE — the property that makes sketches the 100 TB
    cardinality path: per-type register tables for 'view' and 'click'
    USER-DAYS (user_id x activity date — thousands per type at sf0.01,
    comfortably above the raw-estimator small-range knee of ~2.5m; raw
    HLL has no LinearCounting here by design, it would need a
    transcendental on the oracle path), then the UNION sketch =
    per-bucket MAX of the two register sets (no rescan of either
    input), each estimated with the same integer harmonic form as
    hll_distinct.  Exact distincts ride along per type and for the
    union, so mergeability is oracle-visible: est('union') comes from
    merged registers yet lands within the error band of
    |view ∪ click|.  The only float op is the final one-row division
    per sketch."""
    item = ("CONCAT(CAST(user_id AS STRING), '|', "
            "CAST(CAST(ts AS DATE) AS STRING))")
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .selectExpr("event_type", f"md5({item}) AS h")
    )
    br = ev.selectExpr("event_type", *_hll_steps("h"))
    regs = (
        br.groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m"))
        .localCheckpoint()  # union branches below must not re-scan
    )
    merged = regs.groupBy("bucket").agg(F.max("m").alias("m")) \
        .selectExpr("'union' AS event_type", "bucket", "m")
    all_regs = regs.unionByName(merged)
    sketch = (
        all_regs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_regs"),
            F.sum(F.expr("CAST(1 AS BIGINT) << CAST(53 - m AS INT)"))
            .alias("s_part"),
        )
        .selectExpr(
            "event_type", "n_regs",
            f"CAST(FLOOR({_HLL_NUM} / CAST(s_part + "
            f"({_HLL_M} - n_regs) * (CAST(1 AS BIGINT) << 53) AS DOUBLE))"
            " AS BIGINT) AS est_hll",
        )
    )
    ue = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    exact = (
        ue.selectExpr("event_type", f"{item} AS item")
        .unionByName(
            ue.selectExpr("'union' AS event_type", f"{item} AS item")
        )
        .groupBy("event_type")
        .agg(F.countDistinct("item").alias("exact_distinct"))
    )
    return sketch.join(exact, "event_type").selectExpr(
        "event_type", "n_regs", "est_hll", "exact_distinct",
        "CAST(FLOOR(ABS(est_hll - exact_distinct) * 10000.0 "
        "/ CAST(exact_distinct AS DOUBLE)) AS BIGINT) AS err_bp",
    )


def customer_deciles(spark, sf_dir):
    """REVENUE-CONCENTRATION DECILES (the Lorenz-curve table behind
    customer_gini): per-customer BIGINT-cents spend, EXACT global rank
    via the two-level bucket rank (never a single-partition window
    over customers — gotcha: the rank window runs inside value-range
    buckets, the offsets ride back broadcast), decile by the closed
    formula FLOOR(10*(rank-1)/n)+1, then per-decile share and
    cumulative share in integer millionths (cents*1e6 must fit int64 —
    fine to ~$9e10 total; past that, widen to the decimal path).  The
    only window over data-sized input is bucket-local; the cumulative
    window runs over the 10-row decile relation."""
    od = _t(spark, sf_dir, "orders")
    per = (
        od.selectExpr(
            "o_custkey AS ck",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("ck")
        .agg(F.sum("cents").alias("mon"))
        .localCheckpoint()  # three consumers: totals + rank + join-back
    )
    tot = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mon").alias("total_cents"),
    )
    mr = _rank2(per, "mon", "CAST(FLOOR(mon / 1048576) AS BIGINT)")
    dec = (
        per.join(mr, "ck")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(FLOOR(10 * (rank - 1) / n) + 1 AS BIGINT) AS decile",
            "mon", "total_cents",
        )
    )
    per_dec = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("mon").alias("sum_cents"),
        F.max("total_cents").alias("_tc"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_dec.withColumn(
        "cum_cents", F.sum("sum_cents").over(w)
    ).selectExpr(
        "decile", "n_customers", "sum_cents",
        "CAST(sum_cents * 1000000 DIV _tc AS BIGINT) AS share_micros",
        "CAST(cum_cents * 1000000 DIV _tc AS BIGINT) AS cum_share_micros",
    )


def quantile_sketch_eval(spark, sf_dir):
    """SKETCH-QUALITY EVAL for the histogram quantile sketch — the
    eval stage before trusting the single-pass p25..p99 at 100 TB
    (the ann_recall_eval pattern applied to quantiles): the certified
    hist_quantiles estimates joined against the EXACT nearest-rank
    order statistics at the same target ranks, per-percentile error in
    cents and the ±1-bin containment flag (provably always 1: the
    first bin whose cumulative count reaches the rank IS the bin of
    the exact value).  Exact side: cumulative distribution over the
    DISTINCT-cents relation with a TWO-LEVEL bucket prefix (the
    bucket-local window + broadcast offsets trick — never a
    single-partition window over row-scale input)."""
    from pyspark.sql import Window

    BIN = 819200
    sk = hist_quantiles(spark, sf_dir).select(
        "pct", "target_rank", "est_lo_cents"
    )
    dist = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents"
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .selectExpr(
            "cents", "cnt",
            f"CAST(FLOOR(cents / {BIN}) AS BIGINT) AS b",
        )
        .localCheckpoint()  # consumers: local window + bucket totals
    )
    wl = Window.partitionBy("b").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    loc = dist.withColumn("loc_cum", F.sum("cnt").over(wl))
    btot = dist.groupBy("b").agg(F.sum("cnt").alias("bt"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.withColumn(
        "off", F.coalesce(F.sum("bt").over(wo), F.lit(0))
    ).select("b", "off")
    cum = loc.join(F.broadcast(offs), "b").selectExpr(
        "cents", "loc_cum + off AS n_le"
    )
    exact = (
        cum.join(F.broadcast(sk), cum.n_le >= F.col("target_rank"))
        .groupBy("pct", "target_rank", "est_lo_cents")
        .agg(F.min("cents").alias("exact_cents"))
    )
    return exact.selectExpr(
        "pct", "target_rank", "exact_cents", "est_lo_cents",
        "exact_cents - est_lo_cents AS err_cents",
        f"CAST(CASE WHEN exact_cents >= est_lo_cents AND exact_cents"
        f" < est_lo_cents + {BIN} THEN 1 ELSE 0 END AS INT) AS in_bin",
    )


def events_best_f1_threshold(spark, sf_dir):
    """EXACT OPERATING-POINT SELECTION — sweep every distinct score
    threshold and pick the best F1 of value-as-classifier for the
    'purchase' class (the threshold-tuning step after events_auc's
    ranking eval).  Counts come from ONE cumulative pass over the
    DISTINCT-cents relation (two-level bucket prefix — windows never
    see row-scale input): at threshold t, TP = P - pos_lt(t),
    FP = N - neg_lt(t); F1 compared at micro resolution
    (f1_micros = 2*TP*1e6 DIV (TP+FP+P), integer-exact in both
    engines), argmax via ONE max(struct) aggregation — max F1 then the
    smallest threshold, no ranking window anywhere."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").selectExpr(
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        " AS BIGINT) AS pos",
    )
    dist = (
        ev.groupBy("cents")
        .agg(
            F.sum("pos").alias("p_at"),
            F.count(F.lit(1)).alias("n_at"),
        )
        .selectExpr(
            "cents", "p_at", "n_at",
            "CAST(FLOOR(cents / 819200) AS BIGINT) AS b",
        )
        .localCheckpoint()  # consumers: local window + bucket totals
    )
    wl = Window.partitionBy("b").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    loc = dist.withColumn("p_le", F.sum("p_at").over(wl)) \
        .withColumn("n_le", F.sum("n_at").over(wl))
    btot = dist.groupBy("b").agg(
        F.sum("p_at").alias("bp"), F.sum("n_at").alias("bn")
    )
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.select(
        "b",
        F.coalesce(F.sum("bp").over(wo), F.lit(0)).alias("p_off"),
        F.coalesce(F.sum("bn").over(wo), F.lit(0)).alias("n_off"),
    )
    tot = dist.agg(
        F.sum("p_at").alias("tp_all"), F.sum("n_at").alias("tn_all")
    )
    sweep = (
        loc.join(F.broadcast(offs), "b")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "cents",
            # predictions positive at score >= t: subtract the counts
            # STRICTLY BELOW t (inclusive-cum minus the at-t row)
            "tp_all - (p_le + p_off - p_at) AS tp",
            "(tn_all - tp_all) - ((n_le + n_off - n_at)"
            " - (p_le + p_off - p_at)) AS fp",
            "tp_all AS p",
        )
        .selectExpr(
            "cents", "tp", "fp", "p - tp AS fn",
            "CAST(2 * tp * 1000000 DIV (tp + fp + p) AS BIGINT)"
            " AS f1_micros",
        )
    )
    best = sweep.agg(
        F.max(
            F.struct(
                F.col("f1_micros"),
                (-F.col("cents")).alias("neg_c"),
                "tp", "fp", "fn",
            )
        ).alias("s")
    )
    return best.selectExpr(
        "-s.neg_c AS threshold_cents", "s.tp AS tp", "s.fp AS fp",
        "s.fn AS fn", "s.f1_micros AS f1_micros",
    )


def brand_affinity_cf(spark, sf_dir):
    """ITEM-BASED COLLABORATIVE FILTERING (the classic item-item
    recommender): brands as items, customers as the binary rating
    dimension, cosine similarity on co-purchase sets — cos² in exact
    integer micros (n_both² · 1e6 DIV (n_a · n_b), counts only, no
    sqrt).  The pair join keys on the customer and its fanout is
    bounded by the 25-brand vocabulary (≤ |brands|² pairs per
    customer, never all-pairs across customers); brand totals ride
    back as a broadcast 25-row aggregate.  Output: top-3 most-similar
    brands per brand, deterministic (cos² desc, brand asc) rank."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cb = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .selectExpr("o_custkey AS cust", "p_brand AS brand")
        .distinct()
        .localCheckpoint()  # three consumers: totals + both pair sides
    )
    nb = cb.groupBy("brand").agg(F.count(F.lit(1)).alias("n_cust"))
    pairs = (
        cb.selectExpr("cust", "brand AS a")
        .join(cb.selectExpr("cust", "brand AS b"), "cust")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    scored = (
        pairs.join(F.broadcast(nb.selectExpr("brand AS a", "n_cust AS n_a")), "a")
        .join(F.broadcast(nb.selectExpr("brand AS b", "n_cust AS n_b")), "b")
        .selectExpr(
            "a", "b", "n_both",
            "n_both * n_both * 1000000 DIV (n_a * n_b) AS cos2_micros",
        )
    )
    sym = scored.selectExpr(
        "a AS brand", "b AS rec_brand", "n_both", "cos2_micros"
    ).unionByName(
        scored.selectExpr(
            "b AS brand", "a AS rec_brand", "n_both", "cos2_micros"
        )
    )
    return (
        sym.withColumn(
            "rnk",
            F.expr(
                "ROW_NUMBER() OVER (PARTITION BY brand "
                "ORDER BY cos2_micros DESC, rec_brand ASC)"
            ),
        )
        .filter(F.col("rnk") <= 3)
        .select("brand", "rec_brand", "n_both", "cos2_micros", "rnk")
    )


def events_wilcoxon(spark, sf_dir):
    """WILCOXON SIGNED-RANK test statistic on PAIRED samples — the
    nonparametric paired twin of events_welch_ttest (unpaired) and
    events_auc (rank-sum): per day, pair x = view-spend vs
    y = click-spend (days with both present), d = x − y, drop zeros,
    rank |d| with midranks.  Everything stays integral via the
    TWICE-midrank trick (2·midrank = 2·cnt_lt + cnt_eq + 1 — the
    events_spearman convention), and the cumulative rank runs over the
    DISTINCT |d| relation, never raw days.  Emits W+·2, W−·2, n and
    the identity check W+ + W− = n(n+1)/2 is oracle-visible
    (w2_plus + w2_minus = n·(n+1))."""
    daily = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            f"{_TS_US} DIV {_DAY_US} AS d",
            "event_type",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("d")
        .agg(
            F.sum(F.expr("CASE WHEN event_type = 'view' THEN cents END"))
            .alias("x"),
            F.sum(F.expr("CASE WHEN event_type = 'click' THEN cents END"))
            .alias("y"),
        )
        .filter("x IS NOT NULL AND y IS NOT NULL AND x <> y")
        .selectExpr("d", "x - y AS diff", "ABS(x - y) AS a")
    )
    dist = daily.groupBy("a").agg(
        F.count(F.lit(1)).alias("c_eq"),
        F.sum(F.expr("CASE WHEN diff > 0 THEN 1 ELSE 0 END")).alias("n_pos"),
    )
    ranked = dist.selectExpr(
        "a", "c_eq", "n_pos",
        "2 * (SUM(c_eq) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND 1 PRECEDING)) AS lt2",
    ).selectExpr(
        "c_eq", "n_pos",
        "COALESCE(lt2, 0) + c_eq + 1 AS r2",
    )
    return ranked.agg(
        F.sum("c_eq").alias("n_pairs"),
        F.sum(F.expr("r2 * n_pos")).alias("w2_plus"),
        F.sum(F.expr("r2 * (c_eq - n_pos)")).alias("w2_minus"),
    )


def observe_scan_metrics(spark, sf_dir):
    """PIPELINE OBSERVABILITY via ``df.observe`` (the Observation API —
    Spark's mechanism for collecting dataset metrics as a side effect
    of the job that already runs, instead of a second scan): the
    orders scan is instrumented with count / sum / max accumulators, a
    downstream per-status aggregate is executed, and the returned row
    is built FROM the observed metrics plus the aggregate's totals —
    the observe path is load-bearing, not decorative.  At 100 TB this
    is how ingest validation rides the ingest job for free.  The one
    materialization is the documented materialize-inside-builder
    pattern (observation results only exist after an action)."""
    from pyspark.sql import Observation

    obs = Observation("orders_scan")
    base = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderstatus AS status",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
            F.max("cents").alias("max_cents"),
        )
    )
    groups = (
        base.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
        .collect()
    )
    m = obs.get
    return spark.createDataFrame(
        [(
            int(m["n_rows"]), int(m["sum_cents"]), int(m["max_cents"]),
            len(groups),
            int(sum(r["n"] for r in groups)),
            int(sum(r["c"] for r in groups)),
        )],
        "n_rows bigint, sum_cents bigint, max_cents bigint, "
        "n_groups bigint, group_rows bigint, group_cents bigint",
    )


# The five fixture event types, pivoted to literal columns so the
# across-group folds have a FIXED literal order (aggregate fold order
# is partition-dependent; a 5-term left-associated expression is not).
_EV_TYPES = ("click", "error", "purchase", "signup", "view")


def _anova_f_expr() -> str:
    """Shared Spark/DuckDB fragment: F in micros from the 15 exact
    BIGINT moments (n_t, s_t, q_t per type).  Every division casts one
    operand to DOUBLE explicitly (gotcha 17) and the five-term sums
    are left-associated literal text, so both engines run the same
    IEEE chain."""
    gm = "(CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE))"
    parts_b, parts_w = [], []
    for t in _EV_TYPES:
        m = f"(CAST(s_{t} AS DOUBLE) / CAST(n_{t} AS DOUBLE))"
        parts_b.append(
            f"(CAST(n_{t} AS DOUBLE) * ({m} - {gm}) * ({m} - {gm}))"
        )
        parts_w.append(
            f"(CAST(q_{t} AS DOUBLE) - {m} * CAST(s_{t} AS DOUBLE))"
        )
    ssb = "(" + " + ".join(parts_b) + ")"
    ssw = "(" + " + ".join(parts_w) + ")"
    k = len(_EV_TYPES)
    return (
        f"CAST(FLOOR(1000000.0 * ({ssb} / CAST({k - 1} AS DOUBLE))"
        f" / ({ssw} / CAST(n_all - {k} AS DOUBLE))) AS BIGINT)"
    )


def events_anova(spark, sf_dir):
    """ONE-WAY ANOVA F statistic of spend across the five event types —
    the parametric k-group companion to events_kruskal (rank-based)
    and events_welch_ttest (two-group): one map-side-combined pass
    collects the 15 exact BIGINT moments (n, Σv, Σv² per type), the
    F ratio is a single closed-form double chain over them with
    literal fold order, shared verbatim with the oracle."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    aggs = [
        F.count(F.lit(1)).alias("n_all"),
        F.sum("cents").alias("s_all"),
    ]
    for t in _EV_TYPES:
        aggs += [
            F.sum(F.expr(
                f"CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END"
            )).alias(f"n_{t}"),
            F.sum(F.expr(
                f"CASE WHEN event_type = '{t}' THEN cents ELSE 0 END"
            )).alias(f"s_{t}"),
            F.sum(F.expr(
                f"CASE WHEN event_type = '{t}' THEN cents * cents"
                " ELSE 0 END"
            )).alias(f"q_{t}"),
        ]
    piv = ev.agg(*aggs)
    return piv.selectExpr(
        "n_all",
        *[f"n_{t}" for t in _EV_TYPES],
        f"{_anova_f_expr()} AS f_micros",
    )


def _circ_luts() -> tuple[str, str]:
    """24-entry fixed-point cos/sin CASE fragments over column ``h``
    (fp10 literals — the Hough-table technique), shared verbatim by
    both engines so every trig value is an integer literal, never a
    runtime transcendental."""
    import math

    cos_c = " ".join(
        f"WHEN h = {h} THEN {round(math.cos(2 * math.pi * h / 24) * 1024)}"
        for h in range(24)
    )
    sin_c = " ".join(
        f"WHEN h = {h} THEN {round(math.sin(2 * math.pi * h / 24) * 1024)}"
        for h in range(24)
    )
    return f"(CASE {cos_c} END)", f"(CASE {sin_c} END)"


def events_hour_circular(spark, sf_dir):
    """CIRCULAR STATISTICS of activity time — hour-of-day is an angle,
    so 23:00 and 01:00 are 2 h apart, not 22: per event type, the
    resultant vector (C, S) of the 24-point circle in fp10 integers
    (literal cos/sin tables — no runtime trig), and the squared mean
    resultant length in ppm: R²_ppm = ((C² + S²) DIV n²) · 1e6 DIV
    1024² — an exact-integer concentration measure (1e6·ppm = uniform
    0, point mass ~1).  One hash agg; every op BIGINT."""
    cos_e, sin_e = _circ_luts()
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        f"({_TS_US} DIV 3600000000) % 24 AS h",
    )
    return (
        ev.selectExpr(
            "event_type", f"{cos_e} AS c1", f"{sin_e} AS s1"
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c1").alias("c_fp"),
            F.sum("s1").alias("s_fp"),
        )
        .selectExpr(
            "event_type", "n", "c_fp", "s_fp",
            "(c_fp * c_fp + s_fp * s_fp) DIV (n * n) * 1000000"
            " DIV 1048576 AS r2_ppm",
        )
    )


def orders_cohort_ltv(spark, sf_dir):
    """COHORT LTV TRIANGLE — the cumulative companion to
    events_retention's counting triangle: customers cohorted by first
    order month, spend accumulated by cohort age in months, LTV =
    cumulative cents DIV cohort size (exact integer).  One customer
    exchange for the cohort assignment; the running sum windows over
    the months-sized (cohort, age) relation, never over orders."""
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey AS cust",
        "CAST(EXTRACT(YEAR FROM o_orderdate) * 12"
        " + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    first = o.groupBy("cust").agg(F.min("m").alias("cm"))
    aged = o.join(first, "cust").selectExpr("cust", "cm", "m - cm AS age",
                                            "cents")
    size = first.groupBy("cm").agg(F.count(F.lit(1)).alias("n_cohort"))
    cell = aged.groupBy("cm", "age").agg(
        F.sum("cents").alias("cents"),
        F.countDistinct("cust").alias("n_active"),
    )
    return (
        cell.selectExpr(
            "cm", "age", "n_active",
            "SUM(cents) OVER (PARTITION BY cm ORDER BY age"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS cum_cents",
        )
        .join(F.broadcast(size), "cm")
        .selectExpr(
            "cm", "age", "n_active", "n_cohort",
            "cum_cents DIV n_cohort AS ltv_cents",
        )
    )


def pipe_syntax_revenue(spark, sf_dir):
    """SQL PIPE SYNTAX (Spark 4.0 `|>` operators — the composable
    SQL surface next to the VARIANT / LATERAL / UDTF demos): a
    filter → project → aggregate → having → project chain written as
    pipes, semantically identical to the ANSI form the oracle runs.
    Exact integer cents; the pipe path is load-bearing (the engine
    text IS pipe syntax)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pipe")
    return spark.sql("""
      FROM lineitem_pipe
      |> WHERE l_quantity >= 10
      |> SELECT l_returnflag AS rf,
                CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
                CAST(l_quantity AS BIGINT) AS qty
      |> AGGREGATE COUNT(*) AS n, SUM(cents) AS sum_cents,
                   SUM(qty) AS sum_qty GROUP BY rf
      |> WHERE n > 0
      |> SELECT rf, n, sum_cents, sum_qty, sum_cents DIV n AS avg_cents
    """)


def events_pinball_eval(spark, sf_dir):
    """QUANTILE-FORECAST EVALUATION by pinball loss — the eval metric
    behind every quantile forecaster (the companion to events_auc /
    events_best_f1_threshold on the regression side): two p75
    predictors (global vs per-type, exact nearest-rank over the
    DISTINCT-cents relation: smallest v with cum >= (3n+3) DIV 4) are
    scored at q = 3/4, where 4*loss = 3*(y-yhat)+ + (yhat-y)+ stays an
    exact BIGINT.  The conditioned predictor must win or tie per type
    — oracle-visible.  Windows run over distinct values, never rows."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    ).localCheckpoint()  # two consumers: quantile build + loss scan
    # global p75 over distinct cents
    gd = ev.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    gq = (
        gd.selectExpr(
            "cents",
            "SUM(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND CURRENT ROW) AS cum",
            "SUM(c) OVER () AS n",
        )
        .filter("cum >= (3 * n + 3) DIV 4")
        .agg(F.min("cents").alias("pred_global"))
    )
    # per-type p75 over distinct cents within type
    td = ev.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    tq = (
        td.selectExpr(
            "event_type", "cents",
            "SUM(c) OVER (PARTITION BY event_type ORDER BY cents ROWS"
            " BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
            "SUM(c) OVER (PARTITION BY event_type) AS n",
        )
        .filter("cum >= (3 * n + 3) DIV 4")
        .groupBy("event_type")
        .agg(F.min("cents").alias("pred_type"))
    )
    return (
        ev.join(F.broadcast(tq), "event_type")
        .crossJoin(F.broadcast(gq))
        .selectExpr(
            "event_type", "pred_global", "pred_type",
            "CASE WHEN cents >= pred_global THEN 3 * (cents - pred_global)"
            " ELSE pred_global - cents END AS lg",
            "CASE WHEN cents >= pred_type THEN 3 * (cents - pred_type)"
            " ELSE pred_type - cents END AS lt",
        )
        .groupBy("event_type", "pred_global", "pred_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("lg").alias("loss4_global"),
            F.sum("lt").alias("loss4_type"),
        )
    )


def events_conversion_ztest(spark, sf_dir):
    """TWO-PROPORTION Z-TEST of conversion drift — did the purchase
    share of events change between the first and second half of the
    timeline?  The A/B-test primitive next to events_welch_ttest
    (means) and drift_chisq (whole distributions): four exact BIGINT
    counts (x1, n1, x2, n2) from one map-side-combined pass (the epoch
    midpoint is a broadcast one-row aggregate), then z from the pooled
    estimator as a single shared double chain (only + - * / sqrt;
    explicit DOUBLE casts per gotcha 17).  Emits z_micros and the
    per-half rates in exact ppm."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        f"{_TS_US} AS us",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit",
    )
    mid = ev.agg(
        F.expr("(MIN(us) + MAX(us)) DIV 2 AS mid")
    )
    counts = ev.crossJoin(F.broadcast(mid)).selectExpr(
        "CASE WHEN us < mid THEN 0 ELSE 1 END AS half", "hit"
    ).groupBy("half").agg(
        F.count(F.lit(1)).alias("n"), F.sum("hit").alias("x")
    )
    piv = counts.agg(
        F.sum(F.expr("CASE WHEN half = 0 THEN n ELSE 0 END")).alias("n1"),
        F.sum(F.expr("CASE WHEN half = 0 THEN x ELSE 0 END")).alias("x1"),
        F.sum(F.expr("CASE WHEN half = 1 THEN n ELSE 0 END")).alias("n2"),
        F.sum(F.expr("CASE WHEN half = 1 THEN x ELSE 0 END")).alias("x2"),
    )
    z = (
        "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        " / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
        " * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
        " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))"
    )
    return piv.selectExpr(
        "n1", "x1", "n2", "x2",
        "x1 * 1000000 DIV n1 AS rate1_ppm",
        "x2 * 1000000 DIV n2 AS rate2_ppm",
        f"CAST(FLOOR(1000000.0 * ({z})) AS BIGINT) AS z_micros",
    )


def events_hhi_concentration(spark, sf_dir):
    """HERFINDAHL-HIRSCHMAN concentration of spend across users, per
    event type — the long-tail-vs-whale diagnostic next to
    customer_gini (inequality) and doc_word_diversity (Simpson; HHI is
    its complement on shares): per-(type, user) cents totals, then
    HHI_ppm = Σ s_u² DIV FLOOR(S² / 1e6).  The squares, their sum and
    S² / 1e6 run in DECIMAL(38,0) (ANSI is off engine-wide, so BIGINT
    products would wrap silently once S passes ~3.04e9 cents, and
    Spark's DIV returns a BIGINT), so the result is exact for any BIGINT
    total; hhi_ppm is cast back to BIGINT.  Two hash aggs, map-side
    combined."""
    per = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "event_type", "user_id",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("cents").alias("s"))
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("s").alias("total_cents"),
            F.sum(F.expr("CAST(s AS DECIMAL(38,0)) * s")).alias("sum_sq"),
        )
        .selectExpr(
            "event_type", "n_users", "total_cents",
            "CAST(sum_sq DIV FLOOR(CAST(total_cents AS DECIMAL(38,0))"
            " * total_cents / 1000000) AS BIGINT) AS hhi_ppm",
        )
    )


def sql_udf_revenue(spark, sf_dir):
    """SQL SCALAR UDFs (Spark 4 ``CREATE FUNCTION ... RETURN expr``):
    the declarative cousin of every pandas UDF in this repo — the body
    is a SQL expression, so Catalyst INLINES it (codegen, pushdown,
    no Python round-trip; the plan is identical to writing the
    expression in place, which is exactly what the oracle does).
    Two functions: ``disc_cents`` (per-row discounted price in exact
    BIGINT cents — FLOOR per row keeps the sum associative, gotcha 8)
    and a boolean ``is_high_tax`` that COMPOSES the first one in its
    own body; revenue and high-tax-line share per return flag."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("li_sqludf")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_cents("
        "p DOUBLE, d DOUBLE) RETURNS BIGINT "
        "RETURN CAST(FLOOR(CAST(p AS DOUBLE) * (1.0 - d) * 100.0 + 0.5)"
        " AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION is_high_tax("
        "t DOUBLE, p DOUBLE, d DOUBLE) RETURNS BOOLEAN "
        "RETURN CAST(FLOOR(CAST(p AS DOUBLE) * t * 100.0 + 0.5) AS BIGINT)"
        " * 25 > disc_cents(p, d)"
    )
    return spark.sql(
        """
        SELECT l_returnflag AS flag,
               COUNT(*) AS n_lines,
               SUM(disc_cents(l_extendedprice, l_discount))
                 AS revenue_cents,
               SUM(CASE WHEN is_high_tax(l_tax, l_extendedprice,
                                         l_discount)
                        THEN 1 ELSE 0 END) AS n_high_tax
        FROM li_sqludf
        GROUP BY l_returnflag
        ORDER BY flag
        """
    )


def session_variable_segments(spark, sf_dir):
    """SESSION VARIABLES (``DECLARE VARIABLE`` / ``SET VAR``) driving
    both a predicate AND a late-bound table name via ``IDENTIFIER()``
    — the parameterized-deployment surface (one SQL text, per-run
    bindings) next to param_sql_revenue's client-side named
    parameters.  The threshold variable is itself COMPUTED by a SQL
    statement (the mean balance), so the binding round-trips through
    the variable store rather than the Python driver.  Per-segment
    counts and cents over customers above the mean balance."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("cust_sessvar")
    spark.sql("DECLARE OR REPLACE VARIABLE sv_tbl STRING")
    spark.sql("SET VAR sv_tbl = 'cust_sessvar'")
    spark.sql("DECLARE OR REPLACE VARIABLE sv_min_bal DOUBLE")
    spark.sql(
        "SET VAR sv_min_bal = (SELECT AVG(CAST(c_acctbal AS DOUBLE))"
        " FROM IDENTIFIER(sv_tbl))"
    )
    return spark.sql(
        """
        SELECT c_mktsegment AS segment,
               COUNT(*) AS n_above,
               SUM(CAST(FLOOR(CAST(c_acctbal AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS bal_cents
        FROM IDENTIFIER(sv_tbl)
        WHERE CAST(c_acctbal AS DOUBLE) > sv_min_bal
        GROUP BY c_mktsegment
        ORDER BY segment
        """
    )


def grouped_agg_user_median(spark, sf_dir):
    """GROUPED-AGGREGATE pandas UDF (``groupBy().agg(pandas_udf)``) —
    exact nearest-rank-lower median spend per (event_type, user):
    the group is one user's events of one type (BOUNDED per user at
    any corpus size — the honest unit for a whole-group-in-memory
    API; the unbounded-group exact-median scale path is the two-level
    bucket rank in customer_deciles/hist_quantiles), then a plain JVM
    rollup of those medians per event type."""

    @F.pandas_udf("bigint")
    def med_lower(v: pd.Series) -> int:
        # r06: np.partition (O(n) selection) instead of a full
        # sort_values + reset_index — same nearest-rank-lower element
        a = v.to_numpy()
        k = (len(a) + 1) // 2 - 1
        return int(np.partition(a, k)[k])

    cents = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "user_id",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    # r06: Spark forbids mixing grouped-agg pandas UDFs with JVM
    # aggregates in one agg(), and the old workaround (a second pandas
    # aggregate just to count rows) DOUBLED the per-group Python calls
    # — the query's cost is ~2 Arrow round-trips per group, not the
    # median math.  The count now runs as a plain map-side-combined JVM
    # aggregate joined back on the group key (guide §4: only the work
    # that needs Python crosses the boundary).  len(group) ==
    # COUNT(1) per (event_type, user_id) exactly; result identical.
    # r06 review fix: NULL-SAFE join keys — a plain equi-join would
    # silently drop a NULL-keyed group that both aggregates (and the
    # DuckDB oracle's GROUP BY) keep.  Vacuous on the fixture (no NULL
    # keys) but the old single-groupBy shape never had the hazard.
    cnt = (
        cents.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumnRenamed("event_type", "_et")
        .withColumnRenamed("user_id", "_uid")
    )
    per_user = (
        cents.groupBy("event_type", "user_id")
        .agg(med_lower(F.col("cents")).alias("med_cents"))
        .join(
            cnt,
            F.col("event_type").eqNullSafe(F.col("_et"))
            & F.col("user_id").eqNullSafe(F.col("_uid")),
        )
        .drop("_et", "_uid")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("med_cents").alias("sum_medians"),
            F.max("med_cents").alias("max_median"),
            F.sum("n").alias("n_events"),
        )
        .orderBy("event_type")
    )


def events_nelson_aalen(spark, sf_dir):
    """NELSON-AALEN cumulative hazard of time-to-first-purchase — the
    survival-analysis primitive (the sum-form twin of Kaplan-Meier,
    chosen BECAUSE it is a sum: per-term ``d_i*1e9 DIV n_i`` floors to
    BIGINT nanos, so the cumulative hazard is an associative BIGINT
    running sum — no float product chain anywhere).  Subjects are
    users; duration = hours from a user's first event to their first
    purchase, right-CENSORED at their last event when no purchase
    occurs (the censor keeps n_at_risk honest).  One hash agg to the
    per-user relation, then windows over the DISTINCT-DURATIONS
    relation (bounded by the time range, the best_f1 precedent — never
    a window over raw events)."""
    per_user = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "user_id", f"{_TS_US} AS us",
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit",
        )
        .groupBy("user_id")
        .agg(
            F.expr("MIN(us)").alias("t0"),
            F.expr("MAX(us)").alias("t_last"),
            F.expr("MIN(CASE WHEN hit = 1 THEN us END)").alias("t_hit"),
        )
        .selectExpr(
            "CASE WHEN t_hit IS NOT NULL"
            " THEN (t_hit - t0) DIV 3600000000"
            " ELSE (t_last - t0) DIV 3600000000 END AS dur_hr",
            "CASE WHEN t_hit IS NOT NULL THEN 1 ELSE 0 END AS event",
        )
    )
    per_dur = per_user.groupBy("dur_hr").agg(
        F.sum("event").alias("d"),
        F.count(F.lit(1)).alias("m"),
    )
    w = (
        "SUM(m) OVER (ORDER BY dur_hr"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    total = per_user.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        per_dur.crossJoin(F.broadcast(total))
        .selectExpr(
            "dur_hr", "d", "m",
            f"n_total - COALESCE({w}, 0) AS n_at_risk",
        )
        .filter("d > 0")
        .selectExpr(
            "dur_hr", "d", "n_at_risk",
            "d * 1000000000 DIV n_at_risk AS hazard_nanos",
        )
        .selectExpr(
            "dur_hr", "d", "n_at_risk", "hazard_nanos",
            "SUM(hazard_nanos) OVER (ORDER BY dur_hr"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS cum_hazard_nanos",
        )
        .orderBy("dur_hr")
    )


_PERM_K = 200  # deterministic sign-flip permutations

_PERM_SIGN = (
    "CASE WHEN substring(md5(concat(CAST(user_id AS STRING), ':',"
    " CAST(k AS STRING))), 1, 1)"
    " IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END"
)


def events_permutation_test(spark, sf_dir):
    """PAIRED SIGN-FLIP PERMUTATION TEST of spend drift — the
    distribution-free companion of events_conversion_ztest: per-user
    paired difference d_u = second-half cents − first-half cents, test
    statistic T = Σ d_u, and 200 DETERMINISTIC permutations whose
    sign for (user, k) is the first hex digit of md5(user_id:k) — the
    md5-draw discipline of sample_stratified, so both engines flip
    identical signs without any RNG.  Everything is an associative
    BIGINT sum (users × 200 rows, a bounded constant multiplier at any
    scale); p = (1 + #extreme) / (K + 1) in exact millis."""
    per_user = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "user_id", f"{_TS_US} AS us",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .crossJoin(F.broadcast(
            _t(spark, sf_dir, "events")
            .selectExpr(f"{_TS_US} AS us")
            .agg(F.expr("(MIN(us) + MAX(us)) DIV 2 AS mid"))
        ))
        .selectExpr(
            "user_id",
            "CASE WHEN us < mid THEN -cents ELSE cents END AS signed",
        )
        .groupBy("user_id")
        .agg(F.sum("signed").alias("d"))
        .localCheckpoint()  # feeds T_obs and all 200 permutations
    )
    t_obs = per_user.agg(
        F.sum("d").alias("t_obs"),
        F.sum(F.expr("abs(d)")).alias("sum_abs_d"),
        F.count(F.lit(1)).alias("n_users"),
    )
    perms = (
        per_user.crossJoin(
            F.broadcast(
                spark.range(_PERM_K).selectExpr("CAST(id AS INT) AS k")
            )
        )
        .selectExpr("k", f"{_PERM_SIGN} * d AS sd")
        .groupBy("k")
        .agg(F.sum("sd").alias("t_k"))
    )
    return (
        perms.crossJoin(F.broadcast(t_obs))
        .agg(
            F.max("t_obs").alias("t_obs"),
            F.max("sum_abs_d").alias("sum_abs_d"),
            F.max("n_users").alias("n_users"),
            F.sum(F.expr(
                "CASE WHEN abs(t_k) >= abs(t_obs) THEN 1 ELSE 0 END"
            )).alias("n_extreme"),
        )
        .selectExpr(
            "t_obs", "sum_abs_d", "n_users", "n_extreme",
            f"(1 + n_extreme) * 1000 DIV ({_PERM_K} + 1) AS p_milli",
        )
    )


def orders_holt_linear(spark, sf_dir):
    """HOLT LINEAR (double exponential) SMOOTHING of daily order
    counts — the trend-forecast primitive next to events_ewma (level
    only) and events_forecast_ols (global fit).  The recurrence is
    inherently sequential, and the series relation is DAYS-sized
    (bounded by the calendar at any corpus size), so the engine folds
    it in ONE applyInPandas task over the aggregated relation — a
    per-day recursive CTE was measured first and rejected: Spark's
    UnionLoop replans every level, and ~2400 day-levels ran minutes
    (vs 12 capped hops in recursive_order_chain; the DuckDB oracle
    KEEPS the WITH RECURSIVE form, where levels are cheap).  Integer
    milli-state, alpha=1/5, beta=1/10, python floor division — exact
    floor, the same value the oracle's FLOOR(x / 5) computes (integer
    DIV would hit the negative-trend floor-vs-truncate split,
    gotcha 7)."""
    days = (
        _t(spark, sf_dir, "orders")
        .selectExpr("CAST(o_orderdate AS DATE) AS day")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("y"))
        .selectExpr(
            "CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) - 1 AS t",
            "y",
        )
    )

    def _fold(pdf):
        pdf = pdf.sort_values("t").reset_index(drop=True)
        y = [int(v) for v in pdf["y"]]
        lv = [y[0] * 1000]
        tr = [(y[1] - y[0]) * 1000]
        for i in range(1, len(y)):
            l_new = (y[i] * 1000 + 4 * (lv[-1] + tr[-1])) // 5
            tr.append((l_new - lv[-1] + 9 * tr[-1]) // 10)
            lv.append(l_new)
        return pd.DataFrame({
            "t": pdf["t"], "y": pdf["y"],
            "level_milli": lv, "trend_milli": tr,
            "forecast_next_milli": [a + b for a, b in zip(lv, tr)],
        })

    return (
        days.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            _fold,
            "t bigint, y bigint, level_milli bigint, trend_milli bigint,"
            " forecast_next_milli bigint",
        )
        .orderBy("t")
    )


def events_cuped_eval(spark, sf_dir):
    """CUPED VARIANCE REDUCTION — the experimentation-platform adjunct
    of the z-test/permutation pair: pre = first-half cents, post =
    second-half cents per user; θ = cov(pre,post)/var(pre) and the
    variance-reduction factor ρ² from FIVE exact BIGINT moments in one
    map-side-combined pass (the covariance products exceed int64 at
    real N, so θ and ρ² run as DOUBLE chains with the identical op
    shape in the oracle — the chi² precedent — then FLOOR to
    micros/ppm)."""
    moments = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "user_id", f"{_TS_US} AS us",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .crossJoin(F.broadcast(
            _t(spark, sf_dir, "events")
            .selectExpr(f"{_TS_US} AS us")
            .agg(F.expr("(MIN(us) + MAX(us)) DIV 2 AS mid"))
        ))
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("CASE WHEN us < mid THEN cents ELSE 0 END"))
            .alias("pre"),
            F.sum(F.expr("CASE WHEN us >= mid THEN cents ELSE 0 END"))
            .alias("post"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pre").alias("sx"),
            F.sum("post").alias("sy"),
            F.sum(F.expr("pre * pre")).alias("sxx"),
            F.sum(F.expr("post * post")).alias("syy"),
            F.sum(F.expr("pre * post")).alias("sxy"),
        )
    )
    cov = ("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
           " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))")
    vx = ("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
    vy = ("(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")
    return moments.selectExpr(
        "n", "sx", "sy", "sxx", "syy", "sxy",
        f"CAST(FLOOR(1000000.0 * {cov} / {vx}) AS BIGINT)"
        " AS theta_micros",
        f"CAST(FLOOR(1000000.0 * {cov} * {cov} / ({vx} * {vy}))"
        " AS BIGINT) AS var_reduction_ppm",
    )


_7D_US = 7 * 86_400_000_000


def events_attribution_linear(spark, sf_dir):
    """LINEAR (equal-credit) MARKETING ATTRIBUTION — each purchase
    splits 1e6 micros of credit equally across the SAME USER's view
    events in the preceding 7 days (inclusive): the multi-touch
    companion of events_funnel's single-path conversion.  The
    view-purchase pair join is an equi-join on user_id with a range
    residual (per-user bounded at any scale — the events_concurrency
    interval discipline); credit = 1e6 DIV n_views is exact BIGINT, so
    per-purchase credit sums to 1e6 - (1e6 mod n) and every rollup is
    associative.  Rolled up by the VIEW's day-of-week (when did the
    credited touch happen)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", "event_type", f"{_TS_US} AS us",
        "CAST(date_format(CAST(ts AS TIMESTAMP), 'E') AS STRING) AS dow",
    )
    views = ev.filter("event_type = 'view'").selectExpr(
        "user_id", "event_id AS view_id", "us AS v_us", "dow"
    )
    purch = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id", "event_id AS purchase_id", "us AS p_us"
    )
    pairs = views.join(purch, "user_id").filter(
        f"v_us <= p_us AND p_us - v_us <= {_7D_US}"
    )
    n_per = pairs.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_views")
    )
    credited = pairs.join(n_per, "purchase_id").selectExpr(
        "dow", "view_id", "purchase_id",
        "1000000 DIV n_views AS credit_micros",
    )
    return (
        credited.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.countDistinct("view_id").alias("n_views"),
            F.sum("credit_micros").alias("credit_micros"),
        )
        .orderBy("dow")
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_big_building_orders": q3_big_building_orders,
    "q5_nation_revenue": q5_nation_revenue,
    "window_top3_orders": window_top3_orders,
    "rollup_status_priority": rollup_status_priority,
    "setops_brands": setops_brands,
    "agg_stats_orders": agg_stats_orders,
    "events_hourly": events_hourly,
    "sessionize_users": sessionize_users,
    "json_extract_props": json_extract_props,
    "windows_suite": windows_suite,
    "cube_lineitem": cube_lineitem,
    "strings_parts": strings_parts,
    "dates_orders": dates_orders,
    "anti_join_customers": anti_join_customers,
    "semi_join_parts": semi_join_parts,
    "events_ks_test": events_ks_test,
    "events_mann_kendall": events_mann_kendall,
    "events_seq_trigrams": events_seq_trigrams,
    "events_regression": events_regression,
    "events_benford": events_benford,
    "bitmap_distinct_users": bitmap_distinct_users,
    "events_twap": events_twap,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "events_sessionize_batch": events_sessionize_batch,
    "events_auc": events_auc,
    "events_welch_ttest": events_welch_ttest,
    "events_variant_json": events_variant_json,
    "groupingsets_orders": groupingsets_orders,
    "events_rolling_range": events_rolling_range,
    "events_ewma": events_ewma,
    "events_seasonality": events_seasonality,
    "market_basket_brands": market_basket_brands,
    "customer_rfm": customer_rfm,
    "bloom_filter_join": bloom_filter_join,
    "cms_heavy_hitters": cms_heavy_hitters,
    "kmv_set_similarity": kmv_set_similarity,
    "hist_quantiles": hist_quantiles,
    "events_acf": events_acf,
    "events_gapfill": events_gapfill,
    "orders_skyline": orders_skyline,
    "cusum_changepoint": cusum_changepoint,
    "events_trend": events_trend,
    "drift_chisq": drift_chisq,
    "events_asof_join": events_asof_join,
    "events_funnel": events_funnel,
    "hll_distinct": hll_distinct,
    "sample_weighted": sample_weighted,
    "events_retention": events_retention,
    "pivot_orders_status": pivot_orders_status,
    "events_outliers": events_outliers,
    "event_transitions": event_transitions,
    "customer_gini": customer_gini,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_stock": q11_important_stock,
    "q4_late_shipments": q4_late_shipments,
    "q6_revenue_band": q6_revenue_band,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_revenue": q10_returned_revenue,
    "q12_priority_lines": q12_priority_lines,
    "q13_order_distribution": q13_order_distribution,
    "q14_promo_share": q14_promo_share,
    "q16_part_supplier_variety": q16_part_supplier_variety,
    "q15_top_supplier": q15_top_supplier,
    "q18_large_volume_orders": q18_large_volume_orders,
    "q19_bracketed_revenue": q19_bracketed_revenue,
    "q20_promo_suppliers": q20_promo_suppliers,
    "q21_latest_shipper": q21_latest_shipper,
    "q22_dormant_customers": q22_dormant_customers,
    "recursive_order_chain": recursive_order_chain,
    "unpivot_order_metrics": unpivot_order_metrics,
    "ams_f2_sketch": ams_f2_sketch,
    "events_theil_sen": events_theil_sen,
    "param_sql_revenue": param_sql_revenue,
    "scd2_user_state": scd2_user_state,
    "events_mad": events_mad,
    "events_spearman": events_spearman,
    "events_runs_test": events_runs_test,
    "events_kruskal": events_kruskal,
    "events_dtw": events_dtw,
    "events_forecast_ols": events_forecast_ols,
    "orders_rank_functions": orders_rank_functions,
    "events_bootstrap_ci": events_bootstrap_ci,
    "orders_abc_analysis": orders_abc_analysis,
    "events_markov_stationary": events_markov_stationary,
    "events_concurrency": events_concurrency,
    "orders_listagg": orders_listagg,
    "lateral_topk_orders": lateral_topk_orders,
    "orders_decision_stump": orders_decision_stump,
    "events_rolling_wau": events_rolling_wau,
    "supplier_winsorized_mean": supplier_winsorized_mean,
    "events_hourly_peaks": events_hourly_peaks,
    "events_seasonal_decompose": events_seasonal_decompose,
    "hll_union_merge": hll_union_merge,
    "customer_deciles": customer_deciles,
    "quantile_sketch_eval": quantile_sketch_eval,
    "events_best_f1_threshold": events_best_f1_threshold,
    "brand_affinity_cf": brand_affinity_cf,
    "events_wilcoxon": events_wilcoxon,
    "observe_scan_metrics": observe_scan_metrics,
    "events_anova": events_anova,
    "events_hour_circular": events_hour_circular,
    "orders_cohort_ltv": orders_cohort_ltv,
    "pipe_syntax_revenue": pipe_syntax_revenue,
    "events_pinball_eval": events_pinball_eval,
    "events_conversion_ztest": events_conversion_ztest,
    "events_hhi_concentration": events_hhi_concentration,
    "events_attribution_linear": events_attribution_linear,
    "events_cuped_eval": events_cuped_eval,
    "events_permutation_test": events_permutation_test,
    "orders_holt_linear": orders_holt_linear,
    "events_nelson_aalen": events_nelson_aalen,
    "sql_udf_revenue": sql_udf_revenue,
    "session_variable_segments": session_variable_segments,
    "grouped_agg_user_median": grouped_agg_user_median,
}
