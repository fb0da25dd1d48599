"""The per-layer split of a traced run.

Inputs are the sessions of one traced run: untraced and traced on
``local[nproc]`` with the same executions, and, for a workload with
``scaling``, a traced prefix-only session on ``local[1]``.  Every metric
is reported for every workload; a layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics

import spans

# exec layers per workload, in composition order (see jobs.prefixes)
EXEC_LAYERS = [
    "harness.scan",
    "ops.spatial.with_near_road_flag",
    "ops.spatial.with_geo",
    "ops.raster.burn_cost_summaries",
    "ops.spatial.assign_countries",
    "points_rai.aggregate",
    "jobs.rai.joinback_agg",
]
# the layers of the workload whose traced run also measures local[1]
SCALED_LAYERS = [
    "harness.scan",
    "ops.spatial.with_near_road_flag",
    "ops.spatial.assign_countries",
    "points_rai.aggregate",
]
CALL_LAYERS = [
    "ops.spatial.with_near_road_flag",
    "ops.spatial.assign_countries",
    "ops.spatial.with_geo",
    "ops.raster.burn_cost_summaries",
]
# sinks timed directly: metric name -> span name
SINKS = {
    "lineage.run_bucketed_s": "lineage.run_bucketed",
    "jobs.rai.summary_json_s": "write:summary_json",
    "ops.payload.transcode_png_s": "write:forgotten_png",
    "ops.payload.transcode_geotiff_s": "write:forgotten_geotiff",
}
SPARK = {  # metric -> (event-log field, unit)
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.exec.run_s": ("run_s", "s"),
    "spark.exec.cpu_s": ("cpu_s", "s"),
    "spark.exec.gc_s": ("gc_s", "s"),
    "spark.shuffle.write_mb": ("shuffle_write_mb", "MB"),
    "spark.shuffle.read_mb": ("shuffle_read_mb", "MB"),
    "spark.python.rows_in": ("python_rows", "rows"),
    "spark.python.mb_to_python": ("mb_to_python", "MB"),
    "spark.python.mb_from_python": ("mb_from_python", "MB"),
    "spark.broadcast.count": ("broadcast_count", "count"),
    "spark.broadcast.mb": ("broadcast_mb", "MB"),
}


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def per_layer(workload: str, cores: int, plain: dict, traced: dict,
              narrow: dict | None) -> dict:
    """{metric: (value, unit)} from the three sessions."""
    warm_labels = [e["label"] for e in traced["warm"]]
    totals = spans.span_totals(traced["spans"])
    spark = traced.get("spark", {})
    layers = traced["prefix_layers"]
    dec = traced["warm"][-1].get("decisions") or {}
    m: dict[str, tuple[float, str]] = {}

    def warm_span(name: str) -> float:
        return _median(totals.get(lbl, {}).get(name, 0.0) for lbl in warm_labels)

    def warm_spark(field: str) -> float:
        return _median(spark.get(lbl, {}).get(field, 0.0) for lbl in warm_labels)

    m["session.get_spark_s"] = (traced["get_spark_s"], "s")
    for layer in EXEC_LAYERS:
        m[f"{layer}.exec_s"] = (layers.get(layer, 0.0), "s")
    for layer in CALL_LAYERS:
        m[f"{layer}.call_s"] = (warm_span(layer), "s")
    for metric, span in SINKS.items():
        m[metric] = (warm_span(span), "s")

    rows = traced["input_rows"]
    m["ops.spatial.assign_countries.stage2_arrow"] = (
        float(dec.get("stage2") == "arrow"), "flag")
    m["ops.spatial.assign_countries.est_rows"] = (dec.get("est_rows", 0.0), "rows")
    m["ops.spatial.assign_countries.est_rows_lower"] = (
        dec.get("est_rows_lower", 0.0), "rows")
    m["ops.spatial.assign_countries.raycast_frac"] = (
        warm_spark("raycast_rows") / rows, "ratio")
    m["ops.raster.burn_cost_summaries.broadcast"] = (
        float(dec.get("burn") == "broadcast"), "flag")
    m["ops.raster.burn_cost_summaries.passes_per_tile"] = (
        warm_spark("burn_rows") / rows, "ratio")

    for metric, (field, unit) in SPARK.items():
        m[metric] = (warm_spark(field), unit)
    m["spark.python.workers_started"] = (float(traced["workers_started"]), "count")
    m["spark.codegen.compiles"] = (float(traced["cold"]["compiles"]), "count")
    m["spark.codegen.compile_s"] = (traced["cold"]["compile_s"], "s")
    m["spark.codegen.warm_compiles"] = (
        _median(e["compiles"] for e in traced["warm"]), "count")
    plan = traced["planning"]
    m["spark.planning.analysis_s"] = (plan["analysis"], "s")
    m["spark.planning.optimization_s"] = (plan["optimization"], "s")
    m["spark.planning.physical_s"] = (plan["planning"], "s")

    warm_plain = _median(e["s"] for e in plain["warm"])
    warm_traced = _median(e["s"] for e in traced["warm"])
    m["trace.overhead_frac"] = (warm_traced / warm_plain - 1.0, "ratio")
    # what the layers account for: the prefix layers telescope to one
    # summary pass; the image job adds its sinks, each timed directly
    covered = sum(layers.values()) if workload == "points_rai" else (
        warm_span("jobs.rai.rai_summaries")
        + sum(warm_span(s) for s in ("lineage.run_bucketed", "write:summary_json",
                                     "jobs.rai.forgotten_sink")))
    m["trace.layer_sum_frac"] = (covered / warm_plain, "ratio")

    if narrow is not None:
        # throughput of the whole job (its last prefix) at local[1] and at
        # local[cores], both timed in a traced session's prefix phase
        last = list(traced["prefix_s"])[-1]
        m["scaling.eff_1_to_4"] = (
            narrow["prefix_s"][last] / (cores * traced["prefix_s"][last]), "ratio")
        narrow_layers = narrow["prefix_layers"]
    else:
        m["scaling.eff_1_to_4"] = (0.0, "ratio")
        narrow_layers = {}
    for layer in SCALED_LAYERS:
        m[f"scaling.local1.{layer}.exec_s"] = (narrow_layers.get(layer, 0.0), "s")
    return m
