#!/usr/bin/env python
"""Per-query profiler (guide §1): times one registered query with the
noop sink N times, then attributes wall time to stages by parsing the
Spark event log.  NOT part of the frozen bench contract — bench.py
stays the measurement artifact.

Usage: python scripts/profile_query.py <query_name> [reps]
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    logdir = f"/tmp/sparklogs_{name}"
    shutil.rmtree(logdir, ignore_errors=True)
    os.makedirs(logdir)

    from pyspark.sql import SparkSession

    from sdg_engine.session import ENGINE_CONFS, LOCAL_ENGINE_CONFS

    b = SparkSession.builder.appName(f"profile_{name}").master(f"local[{cpus}]")
    for k, v in {**ENGINE_CONFS, **LOCAL_ENGINE_CONFS}.items():
        b = b.config(k, v)
    b = (
        b.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", logdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from sdg_engine.queries import QUERIES

    sc = spark.sparkContext
    times = []
    for rep in range(reps):
        t0 = time.time()
        sc.setJobDescription(f"REP{rep}")
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        times.append(dt)
        print(f"rep {rep}: {dt:.3f} s", flush=True)
    spark.stop()

    # parse event log: stage submit->complete wall, run/cpu totals
    path = glob.glob(f"{logdir}/*")[0]
    if os.path.isdir(path):  # rolling event-log layout
        path = sorted(glob.glob(f"{path}/events_*"))[0]
    stage_job = {}
    job_desc = {}
    rows = []
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except Exception:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_desc[jid] = ev.get("Properties", {}).get(
                    "spark.job.description", ""
                )
                for si in ev.get("Stage Infos", []):
                    stage_job[si["Stage ID"]] = jid
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                wall = (comp - sub) / 1e3 if sub and comp else 0.0
                acc = {
                    a["Name"]: a.get("Value", 0)
                    for a in si.get("Accumulables", [])
                    if isinstance(a.get("Value"), (int, float))
                }
                rows.append(
                    (
                        wall,
                        sid,
                        job_desc.get(stage_job.get(sid, -1), ""),
                        si.get("Number of Tasks", 0),
                        acc.get("internal.metrics.executorRunTime", 0),
                        acc.get("internal.metrics.executorCpuTime", 0) / 1e6,
                        si.get("Stage Name", "")[:90],
                    )
                )
    rows.sort(key=lambda r: -r[0])
    print("\n==== top stages by stage wall (s) ====")
    print("wall_s  stage job          tasks   runtime_ms cpu_ms  name")
    for wall, sid, desc, nt, rt, cpu, sn in rows[:30]:
        print(
            f"{wall:6.2f}  {sid:5d} {desc[:12]:12s} {nt:5d} {rt:10.0f} {cpu:8.0f}  {sn}"
        )
    tot_by_rep: dict[str, float] = {}
    for wall, _, desc, *_ in rows:
        tot_by_rep[desc] = tot_by_rep.get(desc, 0.0) + wall
    print("\nstage-wall totals per rep label:", {k: round(v, 2) for k, v in sorted(tot_by_rep.items())})
    print(f"times: {[round(t, 3) for t in times]}")


if __name__ == "__main__":
    main()
