"""Helpers shared by more than one query family: the table reader, the
session prep, the image-fixture and streaming-drain set-up."""

from __future__ import annotations

import contextlib
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..tablecache import read_table

    return read_table(spark, f"{sf_dir}/{name}.parquet")


def _prep(spark: SparkSession) -> None:
    """Engine session prep for driver-owned sessions: non-ANSI arithmetic
    (see session.py — 10x on morton packing; semantics identical for the
    engine's proven-non-overflowing expressions) + ship the engine
    package to executor Python workers (deploy.ensure_pyfiles)."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # SMALL-HEAP hygiene (driver-owned default-1g sessions only): drop
    # caches left by PREVIOUS queries (persisted LSH bands, kNN
    # frontiers, component rounds, …) and force a JVM GC so the
    # ContextCleaner actually releases their blocks and the accumulated
    # broadcasts (cleanup is weak-reference-driven — without a GC the
    # blocks linger).  A 50-query sweep in a 1g session otherwise
    # accumulates a few hundred MB and the heavy queries OOM (measured).
    # Runs before this query builds any cache of its own, so nothing
    # live is lost.  Skipped on big-heap engine sessions, where a
    # forced full GC would only add latency.
    try:
        jvm = spark.sparkContext._jvm
        if jvm.java.lang.Runtime.getRuntime().maxMemory() < 2 * 1024**3:
            # Cap Arrow batches for SMALL-HEAP sessions only (ADVICE r02:
            # the unconditional cap silently quartered pandas-UDF batch
            # size on 8g engine sessions, which keep session.py's 4096).
            # At the default 10000 rows/batch, 8 concurrent image-bytes
            # batches (~18 KB/row) hold ~1.4 GB on-heap and OOM a 1g
            # sweep; 1024 keeps peak per-task memory ~18 MB.
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
            spark.catalog.clearCache()
            jvm.System.gc()
    except Exception:
        pass
    from ..deploy import ensure_pyfiles

    ensure_pyfiles(spark)


@contextlib.contextmanager
def _drain_confs(spark, parts: str = "8", nodata: bool = True):
    """Scoped confs for a streaming drain or tiny-relation iterative
    loop (saved/restored): shuffle partitions down to ``parts``
    (gotcha 16d — state stores / loop fixed cost = partitions ×
    batches) and whole-stage codegen OFF (r06: every micro-batch's
    incremental plan compiles FRESH janino classes — measured
    12.6 s → 5.4 s first-run on streaming_left_join, 5.7 → 5.1 warm;
    the drained relations are micro-batch-sized, so interpreted row
    processing is the right trade at any scale, while fact-table
    batch stages elsewhere keep codegen).

    ``nodata=False`` additionally disables Spark's post-availableNow
    no-data micro-batches (r06): a drain whose watermark advancement
    comes ENTIRELY from explicit filler FILES (gotchas 16a/16c — its
    eviction horizons are proven against the final DATA-batch
    watermark) only re-pays the per-batch fixed cost (incremental plan
    + state-store commit round) in those extra batches.  Measured
    ~0.5-1.1 s per drain, row-identical output (parity PASS for the
    four filler-driven drains).  Drains whose results DO flush in a
    no-data batch (native session windows, chained aggs — measured
    FAIL with the conf off) keep the default."""
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_wscg = spark.conf.get("spark.sql.codegen.wholeStage")
    old_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    )
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    if not nodata:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "false"
        )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.codegen.wholeStage", old_wscg)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", old_nodata
        )


def _spread(df, key: str = "doc_id"):
    """Scale-ADAPTIVE underparallelism fix (r06, guide §2.5 "input
    skew ... repartition immediately after the read"): a small corpus
    arrives as ONE parquet split, so every expensive projection chained
    on the scan (interpreted shingle HOFs, md5 chains) runs in a single
    task while the other cores idle.  Hash-repartition on the row key
    ONLY when the scan has fewer partitions than the session's
    parallelism — a 100 TB scan already has thousands of splits and
    takes the `df` branch untouched (no extra exchange of the corpus).
    Deterministic key (never round-robin: rand-keyed repartition breaks
    under task retry, SPARK-38388) and row-identity is trivially
    preserved."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, F.col(key))
    return df


def _fixture_sf(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.001


def _fixture_images(spark, sf_dir, pin_sf: float | None = None):
    """Image fixture tables.  ``pin_sf`` pins a FIXED scale factor
    regardless of sf_dir — required for the golden-backed oracle-checked
    image queries, whose DuckDB oracles and committed goldens embed the
    sf0.01 fixture (r03 review: following sf_dir made Spark and oracle
    read different fixtures at any other scale)."""
    import os

    from ..jobs.rai import fixture_dir

    d = fixture_dir(pin_sf if pin_sf is not None else _fixture_sf(sf_dir))
    from ..tablecache import read_table

    return (
        read_table(spark, os.path.join(d, "images.parquet")),
        read_table(spark, os.path.join(d, "roads.parquet")),
    )


_STREAM_ROOTS: set = set()


def _stream_base(spark, prefix: str) -> str:
    """Private temp dir for one streaming invocation (input copy +
    checkpoint + sink), under a per-(user, Spark-app) root that is
    deleted at interpreter exit — so streaming builders can return
    their sink DataFrames LAZILY (r04 verdict item 8: the old
    _drain_and_cleanup collect()ed every streaming result into the
    driver, silently capping result size; no queries() builder calls
    .collect() anymore).  Stale sibling roots from dead sessions are
    reaped opportunistically after 7 days — never the current session's
    root, whose mtime heartbeats on every call — bounding /tmp growth
    the same way the dim-table publish does."""
    import atexit
    import os
    import shutil
    import tempfile
    import time

    # r06 guide §6: these dirs hold ONLY ephemeral per-invocation state
    # (input copy, micro-batch checkpoint, sink) deleted at exit — on
    # the bench host the HDFS-backed state stores fsync+rename a delta
    # file per store per partition per batch, which on a slow-syscall
    # ext4 /tmp is the dominant drain cost.  Prefer tmpfs when present
    # ($TMPDIR still wins); a production deployment configures durable
    # checkpoint locations through its own conf, never this helper.
    tmp = tempfile.gettempdir()
    if tmp == "/tmp" and os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ):
        try:
            # r06 review fix: containers commonly mount /dev/shm at
            # 64 MB — only prefer it with real headroom (≥ 4 GB free),
            # else the drains would ENOSPC where /tmp worked.
            sv = os.statvfs("/dev/shm")
            if sv.f_bavail * sv.f_frsize >= 4 << 30:
                tmp = "/dev/shm"
        except OSError:
            pass
    base = os.path.join(tmp, f"sdg_stream_u{os.getuid()}")
    os.makedirs(base, exist_ok=True)
    root = os.path.join(
        base, spark.sparkContext.applicationId.replace("/", "_")
    )
    os.makedirs(root, exist_ok=True)
    os.utime(root)  # heartbeat: a live session keeps its root fresh
    now = time.time()
    for name in os.listdir(base):
        p = os.path.join(base, name)
        # NEVER the current session's root (r04 review: an idle-then-
        # resumed session used to reap its OWN sink files out from
        # under lazily-returned DataFrames); 7-day TTL + the heartbeat
        # above keeps the cross-session window theoretical
        if p == root:
            continue
        try:
            if os.path.isdir(p) and now - os.path.getmtime(p) > 7 * 86400:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # concurrent reaper / permission race — best effort
    if root not in _STREAM_ROOTS:
        _STREAM_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


# node id of a polyline vertex at 0.1-degree cells — shared fragment
# with the DuckDB oracle (FLOOR(x*10+0.5): round-half-up both engines)
_BFS_NODE = (
    "(CAST(FLOOR({x} * 10 + 0.5) AS BIGINT) + 100) * 1000 "
    "+ (CAST(FLOOR({y} * 10 + 0.5) AS BIGINT) + 100)"
)


# 12-bit cell from 3 hex digits of a precomputed md5 column {h} at
# 1-based positions {a}..{c} — the same conv()-free hex->int idiom as
# the 48-bit sampling hashes; shared verbatim with the oracle.
_B12_CELL = (
    "(CAST((instr('0123456789abcdef', substring({h}, {a}, 1)) - 1) * 256 "
    "+ (instr('0123456789abcdef', substring({h}, {b}, 1)) - 1) * 16 "
    "+ (instr('0123456789abcdef', substring({h}, {c}, 1)) - 1) AS BIGINT))"
)


def _b12_cells(h: str, k: int) -> list[str]:
    """k disjoint 12-bit cells from consecutive 3-hex-digit chunks."""
    return [
        _B12_CELL.format(h=h, a=3 * j + 1, b=3 * j + 2, c=3 * j + 3)
        for j in range(k)
    ]


def _components_jump(edges, verts_k, max_iter: int = 12,
                     n_parts: int = 8):
    """Min-label connected components WITH POINTER JUMPING:
    label ← min(label, min-neighbor-label), then label ← label(label).
    The jump halves the remaining label-tree depth each round, so
    convergence is O(log diameter) instead of O(diameter) — road
    corridors form chain-shaped components whose diameter would cost
    one join round per cell under plain propagation
    (connected_components), but 12 jump rounds cover diameter 2^12.
    Same persisted-frontier discipline (gotcha 15); converge-or-raise
    like the plain variant.

    The loop runs at ``n_parts`` shuffle partitions (saved/restored):
    the label table is CELLS, orders of magnitude smaller than the
    vertex input, and the iterative fixed cost is partitions × rounds
    × stages (the gotcha-16d shape — measured 6.9 s -> 3.6 s at sf0.1
    with 8 vs the session's 32).  At real scale size n_parts to the
    core-cell count, not the fact-table width.
    """
    spark = edges.sparkSession
    # r06 (review consolidation): one shared scoped-conf helper —
    # shuffle partitions down to n_parts AND whole-stage codegen OFF
    # for the loop: every round plans fresh tiny jobs over the label
    # relation, so janino compile time dominates and never amortizes —
    # measured 17.9 s -> 6.6 s first-invocation on mst_roads (which
    # nests this per Boruvka round), warm 7.1 -> 6.0.  The label
    # relation is the SMALL side by construction (cells / component
    # ids), so interpreted row processing is the right trade at any
    # scale; fact-table stages elsewhere keep codegen.
    with _drain_confs(spark, parts=str(n_parts)):
        return _components_jump_inner(edges, verts_k, max_iter)


def _components_jump_inner(edges, verts_k, max_iter: int):
    # r06 job-count reduction (these iterative loops are pure
    # fixed-cost: ~20 ms stages, so ACTIONS per round dominate —
    # measured via event-log stage attribution on mst_roads):
    #  * step and jump fold into ONE localCheckpoint per round — the
    #    step side is referenced twice by the jump self-join and is
    #    recomputed inside that single job (two parallel branches off
    #    the checkpointed labels) instead of paying a second
    #    materialization action;
    #  * the convergence probe rides ON the checkpointed frame as a
    #    `changed` flag, so the old join-against-previous-labels job
    #    becomes a filter+isEmpty scan of already-local blocks.
    # Labels produced are identical (LEAST chain unchanged).
    und = edges.unionByName(
        edges.selectExpr("dst AS src", "src AS dst")
    ).localCheckpoint()
    labels = verts_k.selectExpr("k AS v", "k AS label").localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            und.join(labels, und.src == labels.v)
            .groupBy("dst")
            .agg(F.min("label").alias("nl"))
        )
        stepped = (
            labels.join(nbr, labels.v == nbr.dst, "left")
            .selectExpr(
                "v",
                "label AS old",
                "LEAST(label, COALESCE(nl, label)) AS label",
            )
        )
        j = stepped.selectExpr("v AS lv", "label AS l2")
        jumped = (
            stepped.join(j, stepped.label == j.lv)
            .selectExpr(
                "v",
                "LEAST(label, l2) AS label",
                "LEAST(label, l2) < old AS changed",
            )
            .localCheckpoint()
        )
        done = jumped.filter("changed").isEmpty()
        labels = jumped.select("v", "label")
        if done:
            break
    else:
        raise RuntimeError(
            f"_components_jump did not converge in {max_iter} rounds"
        )
    return labels


_TS_US = "unix_micros(CAST(ts AS TIMESTAMP))"
