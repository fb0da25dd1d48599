"""Per-partition lineage + checkpoint/resume (north rule: "resumable
from checkpoint with per-partition lineage + metrics"; SURVEY.md §2.10,
§4).

The reference has no resume story (failed countries rerun); the north
rule upgrades it: every committed unit of work emits a lineage record
(input snapshot id, cell range, row count, checksum), and a restarted
job anti-joins committed units so only missing work runs.

Local implementation: work is chunked by CELL BUCKET (hash of the
level-L cell id).  Each bucket's output is written to
``<out>/bucket=<b>/`` followed by one lineage row appended to
``<out>/_lineage/``.  The lineage row is written AFTER the data —
a crash between the two leaves an uncommitted bucket that simply
reruns (idempotent overwrite).  On Iceberg the same records would be
table properties / snapshot summary entries; this layout is the
parquet-only stand-in (SURVEY.md §0 — no Iceberg jars in the sandbox).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import scoped_confs

# wall_sec is PASS-level (the wall time of the single partitionBy pass
# that committed this bucket's data), not per-bucket — all buckets
# written by one pass share the value.
LINEAGE_SCHEMA = (
    "bucket int, snapshot_id string, cell_min bigint, cell_max bigint, "
    "n_rows bigint, checksum bigint, wall_sec double"
)


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    path = os.path.join(out_dir, "_lineage")
    if not os.path.exists(path):
        return set()
    rows = spark.read.schema(LINEAGE_SCHEMA).parquet(path).select("bucket").collect()
    return {r.bucket for r in rows}


def run_bucketed(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    cell_col: str = "cell_id",
    n_buckets: int = 8,
    fail_at_bucket: int | None = None,
) -> list[int]:
    """Write ``df`` bucketed by ``pmod(hash(cell_col))`` with lineage.

    SINGLE input-DAG execution: all missing buckets are written in ONE
    ``partitionBy("bucket")`` pass (dynamic partition overwrite, so
    already-committed bucket directories are untouched), then the
    per-bucket stats are computed by READING BACK the just-written
    parquet — the lineage checksum attests exactly the committed files,
    not a recomputation (the previous per-bucket loop executed the full
    upstream DAG 2×n_buckets times).  Lineage rows are appended after
    the data, one per bucket: a crash between the two leaves
    uncommitted buckets that simply rerun (idempotent overwrite).

    Already-committed buckets are skipped (resume).  ``fail_at_bucket``
    injects a crash BEFORE that bucket's data is written: only the
    buckets preceding it commit (data + lineage), everything from the
    failure point on is left with NO data on disk — so the resume test
    proves recovery against genuinely uncommitted work, not just a
    missing lineage row (ADVICE r02).  Returns the buckets written this
    run.
    """
    os.makedirs(out_dir, exist_ok=True)
    done = committed_buckets(spark, out_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return []
    inject = fail_at_bucket is not None and fail_at_bucket in todo
    if inject:
        todo = [b for b in todo if b < fail_at_bucket]
    t0 = time.time()
    bucketed = df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(cell_col)), F.lit(n_buckets)).cast("int")
    ).filter(F.col("bucket").isin(todo))
    if not todo:
        raise RuntimeError(f"injected failure before bucket {fail_at_bucket}")
    with scoped_confs(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        bucketed.write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
    wall = round(time.time() - t0, 3)

    committed = read_bucketed(spark, out_dir)
    data_cols = [c for c in committed.columns if c != "bucket"]
    stats = {
        r["bucket"]: r
        for r in committed.filter(F.col("bucket").isin(todo))
        .groupBy("bucket")
        .agg(
            F.min(cell_col).alias("cell_min"),
            F.max(cell_col).alias("cell_max"),
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum(F.xxhash64(*data_cols)), F.lit(0)).alias("checksum"),
        )
        .collect()
    }
    # ONE batched append for all buckets committed by this pass (ADVICE
    # r02 / VERDICT #5: the per-bucket driver loop was a serial
    # bottleneck + small-files generator at thousands of buckets).
    # Records exist only for buckets whose DATA the pass above already
    # committed, so the crash-consistency contract is unchanged: lineage
    # strictly after data.
    recs = [
        (
            b,
            "local-parquet",
            stats[b].cell_min if b in stats else None,
            stats[b].cell_max if b in stats else None,
            stats[b].n_rows if b in stats else 0,
            stats[b].checksum if b in stats else 0,
            wall,
        )
        for b in todo
    ]
    spark.createDataFrame(recs, LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(out_dir, "_lineage"))
    if inject:
        raise RuntimeError(f"injected failure before bucket {fail_at_bucket}")
    return list(todo)


def read_bucketed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every committed bucket of ``out_dir``, with its ``bucket``
    partition column."""
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "bucket=*")
    )
