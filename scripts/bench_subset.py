#!/usr/bin/env python
"""Timing harness for a subset of registered queries with optional conf
overrides (guide §1 iteration loop; bench.py stays the frozen artifact).

Usage:
  python scripts/bench_subset.py q1,q2,... [k=v k=v ...]
Each query timed min-of-REPS (SPARK_GRAFT_REPS, default 2) with the
noop sink in ONE session (bench.py methodology).
"""
from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    names = sys.argv[1].split(",")
    overrides = dict(a.split("=", 1) for a in sys.argv[2:])
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "2"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    from sdg_engine.session import ENGINE_CONFS, LOCAL_ENGINE_CONFS

    b = SparkSession.builder.appName("bench_subset").master(f"local[{cpus}]")
    for k, v in {**ENGINE_CONFS, **LOCAL_ENGINE_CONFS, **overrides}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from sdg_engine.queries import QUERIES

    out = {}
    for name in names:
        ts = []
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"{name}#{rep}")
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.time() - t0, 3))
        out[name] = ts
        print(f"{name}: {ts}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
