"""Per-session memo of base-table DataFrame handles (guide §1/§7.3:
driver-side fixed costs).

``spark.read.parquet`` on an ALREADY-ANALYZED immutable fixture table
costs ~0.2-1.2 s of py4j round-trips + schema/file-listing per call on
the r06 bench host, and the harness re-reads the same handful of
parquet paths for every one of 347 queries.  The returned DataFrame is
immutable, so one analyzed handle per (session, path) is semantically
identical — this memo only ever serves the SAME logical plan the fresh
read would produce.

Scope guard: callers pass only immutable paths: the fixture tables
under sf_dir, and content-keyed dirs that ``storage.publish_dir``
publishes once under a hash of the inputs that fix their content
(J2's country cell table).  Mutable engine outputs (lakehouse snapshot
dirs, streaming sinks) must keep calling ``spark.read`` directly —
their file listing changes between reads.  The memo lives on the
session object itself, so a handle is only ever served to the session
that read it (sibling sessions from ``newSession()`` share an
applicationId but not their SQL conf) and is dropped with its session.
"""

from __future__ import annotations


def read_table(spark, path: str):
    """Memoized ``spark.read.parquet(path)`` for immutable paths."""
    memo = spark.__dict__.setdefault("_sdg_tables", {})
    df = memo.get(path)
    if df is None:
        df = memo[path] = spark.read.parquet(path)
    return df
