"""SparkSession factory with the engine's scale-oriented defaults.

These are the confs we'd ship to a 1000-executor cluster (AQE for
runtime re-planning + skew-join splitting, Arrow for the UDF boundary);
locally they run on local[N].  SURVEY.md §4.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

# Directory that makes ``import sdg_engine`` resolve — exported to the
# worker-daemon subprocess (spark_daemon preload) via executorEnv.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENGINE_CONFS = {
    # Spark 4 defaults to ANSI mode, where every bigint +/* runs through
    # overflow-checked MathUtils.addExact — measured 10.7x slower on the
    # morton-packing hot path.  Engine arithmetic is proven
    # non-overflowing (cell ids <= 2^59, harness keys <= 2^54), so IEEE
    # wraparound semantics are safe and DuckDB-parity is unaffected.
    "spark.sql.ansi.enabled": "false",
    # Catalyst/AQE: runtime re-plan, coalesce small partitions, split
    # skewed ones (dense urban cells, SURVEY.md §4 skew row)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16m",
    # r06 guide §2.2/§2.5: AQE's 1m default floor coalesced CPU-DENSE
    # tiny-byte stages to a handful of tasks (dedup_containment's
    # array_intersect verify: 7.5 CPU-s squeezed into 4 tasks, 2 s
    # wall → 0.25 s at full width).  Shingle/ngram verify stages carry
    # kilobytes per row but burn milliseconds per row — bytes are the
    # wrong width signal for them.  64k only affects post-shuffle
    # partitions already under 64 KB; at production scale such
    # partitions are degenerate and the cost of not merging them is a
    # few extra no-op tasks.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Align Spark's whole-stage-codegen fallback with the JVM JIT's
    # DontCompileHugeMethods limit (8000 bytecodes): a fused stage whose
    # generated method exceeds it is NEVER JIT-compiled and silently runs
    # 10-20× slower in the bytecode interpreter (measured 25 s → 2.9 s on
    # the flag+assign_countries composition).  With this conf Spark falls
    # back to Volcano mode for just that stage instead.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    # Arrow boundary for pandas UDFs (BASELINE.json:15 vectorized-only)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # r06: per-DataFrame-call Python stack capture (error context) costs
    # ~20 ms/call on this host and lazily imports IPython mid-build;
    # measurement sessions don't need origin-decorated errors.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # at 100 TB these become cluster-level; locally keep shuffle small
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}

# r06 guide §4.5, LOCAL-MASTER ONLY (review fix: on YARN/k8s the
# executors don't share the driver's filesystem, so pointing the
# worker daemon at a driver path would fail every Python stage —
# import-defensiveness inside the module can't save module RESOLUTION
# itself; remote deployments ship the engine via their own image/
# archive and keep the stock daemon): fork Python workers from a
# daemon that has already imported numpy/pandas/pyarrow/sdg_engine
# (COW) — the first Python-evaluated stage of a session otherwise
# forks local[N] workers that EACH pay the import burst (measured
# 6.1 s → 3.0 s for a 32-task first Arrow stage on the r06 host).
# The daemon also removes a cost every Python task paid (zip directory
# re-reads, a gc walk of the preloaded heap); see its docstring.
# executorEnv extends the daemon subprocess's PYTHONPATH so the
# preload module resolves (same machine in local mode by definition).
LOCAL_ENGINE_CONFS = {
    "spark.python.daemon.module": "sdg_engine.spark_daemon",
    "spark.executorEnv.PYTHONPATH": _PKG_ROOT
    + ((os.pathsep + os.environ["PYTHONPATH"])
       if os.environ.get("PYTHONPATH") else ""),
}


def get_spark(app: str = "sdg_engine", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app).master(m)
    confs = dict(ENGINE_CONFS)
    if m.startswith("local"):  # a remote executor never sees a driver path
        confs.update(LOCAL_ENGINE_CONFS)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict):
    """Set runtime SQL confs for the ``with`` body.  On exit each key
    gets its previous value back; a key that had no value before is
    unset, so it falls back to Spark's default again."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
