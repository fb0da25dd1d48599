"""One benchmark session in a fresh process: set up, run the job cold,
then untimed warm-ups, then warm until the deadline, then optionally
time the layer prefixes; optionally traced.

Usage: python3 perfbench/child.py SPEC.json

SPEC holds the workload, input and work directories, core count, the
parent's launch timestamp and deadlines.  The result is written to
``SPEC["result_path"]`` as JSON.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import jobs  # noqa: E402
import procs  # noqa: E402
import spans  # noqa: E402


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    tracer = spans.Tracer() if spec["trace"] else None
    # the same engine modules are imported before the session in every
    # mode, so traced and untraced set-up do the same work
    import sdg_engine.jobs.rai  # noqa: F401
    import sdg_engine.lineage  # noqa: F401
    import sdg_engine.ops.payload  # noqa: F401
    from sdg_engine import session

    if tracer:
        tracer.install()
    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{spec['workload']}", f"local[{spec['cores']}]")
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    wl = jobs.WORKLOADS[spec["workload"]](spark, spec["in_dir"], spec["work_dir"])
    setup_s = time.time() - spec["t_launch"]
    pid = os.getpid()

    def execute(label: str) -> dict:
        if tracer:
            tracer.label = label
        sc.setJobDescription(label)
        cg0 = spans.codegen_snapshot(spark)
        c0 = procs.tree_cpu_s(pid)
        t = time.perf_counter()
        try:
            result = wl.run()
            err = None
        except Exception:  # noqa: BLE001 — a failed execution is counted, not fatal
            result, err = None, traceback.format_exc()
        dt = time.perf_counter() - t
        cpu = procs.tree_cpu_s(pid) - c0
        cg1 = spans.codegen_snapshot(spark)
        rec = {"label": label, "s": dt, "cpu_s": cpu, "ok": False,
               "compiles": cg1[0] - cg0[0], "compile_s": cg1[1] - cg0[1]}
        if err:
            sys.stderr.write(err)
            return rec
        if tracer:
            tracer.label = "decisions"
        sc.setJobDescription("decisions")
        try:
            rec["ok"] = wl.check(result)
            rec["decisions"] = spans.decisions(*wl.decision_frames())
        except Exception:  # noqa: BLE001 — counted as a failed execution
            sys.stderr.write(traceback.format_exc())
            rec["ok"] = False
        return rec

    cold, warmup, warm = None, [], []
    if spec["executions"]:
        cold = execute("cold")
        # untimed: the JIT keeps speeding the job up over its first few
        # warm executions
        warmup = [execute(f"warmup:{i}") for i in range(spec["warmup"])]
        while len(warm) < spec["min_warm"] or (
                time.time() < spec["warm_until"] and len(warm) < spec["max_warm"]):
            warm.append(execute(f"warm:{len(warm)}"))

    extra = {}
    if spec["prefix_reps"]:
        # rep 0 compiles each prefix's new plan shapes and is not timed
        times: dict[str, list[float]] = {}
        phases: list[dict] = []
        for rep in range(spec["prefix_reps"] + 1):
            prefixes = wl.prefixes()
            for k, (name, build) in enumerate(prefixes):
                label = f"prefix:{name}:{rep}"
                if tracer:
                    tracer.label = label
                sc.setJobDescription(label)
                t = time.perf_counter()
                frame = build()
                if k < len(prefixes) - 1:
                    frame = jobs.hash_frame(frame)
                frame.collect()
                if rep:
                    times.setdefault(name, []).append(time.perf_counter() - t)
            if rep:
                # planning phases of the full composition's action
                phases.append(spans.planning_phases(frame))
        extra["prefix_s"] = {k: statistics.median(v) for k, v in times.items()}
        extra["prefix_layers"] = wl.prefix_layers(extra["prefix_s"])
        extra["planning"] = {k: statistics.median(p.get(k, 0.0) for p in phases)
                             for k in ("analysis", "optimization", "planning")}
    if tracer:
        extra["spans"] = tracer.spans
    sc.setJobDescription(None)
    spark.stop()
    out = {"setup_s": setup_s, "get_spark_s": get_spark_s, "cold": cold,
           "warmup": warmup, "warm": warm, "input_rows": wl.input_rows, **extra}
    with open(spec["result_path"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1])
