"""Spans around the engine's public functions, and JVM-side probes.

Tracing is switched on only in the traced child process.  It replaces
each traced public function, wherever an ``sdg_engine`` module holds a
reference to it, with a wrapper that records a span: name, start, end,
parent span and the label of the execution it ran in.  Spans stay in
memory and are written with the child's result.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time

TRACED = [
    ("sdg_engine.session", "get_spark"),
    ("sdg_engine.ops.spatial", "with_near_road_flag"),
    ("sdg_engine.ops.spatial", "assign_countries"),
    ("sdg_engine.ops.spatial", "with_geo"),
    ("sdg_engine.ops.spatial", "road_segments"),
    ("sdg_engine.ops.raster", "burn_cost_summaries"),
    ("sdg_engine.ops.payload", "transcode"),
    ("sdg_engine.ops.payload", "transcode_geotiff"),
    ("sdg_engine.lineage", "run_bucketed"),
    ("sdg_engine.jobs.rai", "rai_summaries"),
    ("sdg_engine.jobs.rai", "forgotten_sink"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.label = "setup"
        self._stack: list[int] = []

    def span(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = len(self.spans)
            rec = {"name": name, "run": self.label,
                   "parent": self._stack[-1] if self._stack else None,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                rec["end"] = time.perf_counter()

        return wrapper

    def install(self) -> None:
        for mod_name, attr in TRACED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self.span(f"{mod_name[len('sdg_engine.'):]}.{attr}", orig)
            for other in list(sys.modules.values()):
                if (getattr(other, "__name__", "").startswith("sdg_engine")
                        and getattr(other, attr, None) is orig):
                    setattr(other, attr, wrapped)
        # sinks: one span per DataFrame write, named after its output dir
        from pyspark.sql.readwriter import DataFrameWriter

        for method in ("parquet", "json"):
            orig = getattr(DataFrameWriter, method)

            def write(writer, path, *args, _orig=orig, **kwargs):
                name = "write:" + os.path.basename(os.path.normpath(path))
                return self.span(name, _orig)(writer, path, *args, **kwargs)

            setattr(DataFrameWriter, method, write)


def span_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """{run label: {span name: summed duration}}."""
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        if s["end"] is None:
            continue
        per = out.setdefault(s["run"], {})
        per[s["name"]] = per.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


# ---------------------------------------------------------------------------
# JVM probes (py4j)
# ---------------------------------------------------------------------------


def codegen_snapshot(spark) -> tuple[int, float]:
    """(janino compiles so far, estimated compile seconds so far).

    The compile-time histogram keeps a sample reservoir, so the time is
    its sample mean times the exact count."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    hist = cm.METRIC_COMPILATION_TIME()
    n = int(hist.getCount())
    return n, (float(hist.getSnapshot().getMean()) * n / 1000.0) if n else 0.0


def planning_phases(df) -> dict[str, float]:
    """Catalyst QueryPlanningTracker phases (seconds) of an executed frame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = int(kv._2().durationMs()) / 1000.0
    return out


def executed_plan(df) -> str:
    return str(df._jdf.queryExecution().executedPlan().toString())


def plan_row_estimate(df) -> float:
    """The optimized-plan row estimate the engine's strategy picks use:
    rowCount when known, else sizeInBytes / 64."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    if stats.rowCount().isDefined():
        return float(str(stats.rowCount().get()))
    return float(str(stats.sizeInBytes())) / 64.0


def decisions(final_frame, assign_input, id_col: str) -> dict:
    """Runtime strategy choices read from the physical plan of the job's
    summary frame, with the row estimates that drove them."""
    plan = executed_plan(final_frame)
    out = {
        "stage2": "arrow" if "_pip(" in plan else "case",
        "est_rows": plan_row_estimate(assign_input),
        "est_rows_lower": plan_row_estimate(assign_input.select(id_col, "lon", "lat")),
    }
    if "_map_batches" in plan or "MapInPandas" in plan:
        out["burn"] = "broadcast"
    elif "FlatMapCoGroupsInPandas" in plan:
        out["burn"] = "cogroup"
    else:
        out["burn"] = "none"
    return out
