"""Skew handling: cell-frequency histogram + salting planner
(SURVEY.md §2.5 A5, §4; north star: "cell-frequency salting,
range-partitioned shuffles, AQE skew-split").

Three layers, used together:
1. AQE skew-join split — config, session.py (free);
2. ``DataFrame.repartitionByRange`` on cell_id for range-local
   shuffles — the Z-order key makes ranges spatially coherent;
3. explicit SALTING for grouped/cogrouped per-cell work (where AQE
   can't split a single group): a driver-side histogram finds hot
   cells (the dense-urban fixture cell), and the group key becomes
   (cell_id, salt) with ``salt = pmod(xxhash64(id), s(cell))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, key: str) -> DataFrame:
    """Underparallelism fix for small inputs (guide §2.5 "input skew ...
    repartition immediately after the read"): a small table arrives as
    one or two parquet splits, so every expensive per-row stage chained
    on the scan runs in that many tasks while the other cores idle.
    Hash-repartition on ``key`` ONLY when the plan has fewer partitions
    than the session's parallelism — a 100 TB scan already has
    thousands of splits and comes back untouched (no extra exchange).
    A hash key, never round-robin: round-robin either sorts every
    partition first (spark.sql.execution.sortBeforeRepartition) or
    breaks under task retry (SPARK-38388); rows are unchanged.  The
    partition probe plans ``df`` once on the driver."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, F.col(key))
    return df


def cell_histogram(df: DataFrame) -> DataFrame:
    """A5: per-cell row counts (drives the salting plan)."""
    return df.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_rows"))


def plan_salts(
    hist: DataFrame, target_rows_per_group: int, cell_col: str = "cell_id"
) -> DataFrame:
    """Salt factor per hot cell: ceil(n_rows / target); 1 elsewhere.

    Only cells above target are returned (the salt dimension stays a
    tiny broadcast)."""
    return (
        hist.filter(F.col("n_rows") > target_rows_per_group)
        .select(
            F.col(cell_col).alias("_salt_cell"),
            F.ceil(F.col("n_rows") / target_rows_per_group).cast("int").alias("n_salt"),
        )
    )


def with_salt(
    df: DataFrame,
    salts: DataFrame,
    id_col: str,
) -> DataFrame:
    """Add deterministic salt: pmod(xxhash64(id), s(cell)) (0 if cold).

    Group/cogroup on (cell_id, salt) afterwards; the build/static side
    of a join must be EXPANDED to all salt values (explode) — see
    salted_group_demo in tests for the pattern."""
    joined = df.join(
        F.broadcast(salts), df["cell_id"] == salts["_salt_cell"], "left"
    ).drop("_salt_cell")
    return joined.withColumn(
        "salt",
        F.when(
            F.col("n_salt").isNotNull(),
            F.pmod(F.xxhash64(F.col(id_col)), F.col("n_salt")).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("n_salt")
