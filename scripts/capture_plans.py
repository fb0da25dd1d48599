#!/usr/bin/env python
"""Capture .explain("formatted") for a list of queries into plans/r06/.

Usage: PYTHONPATH=<tree> python <tree>/scripts/capture_plans.py <suffix> q1,q2,... [out_dir]
Writes <query>_<suffix>.txt (suffix = before|after) into ``out_dir``,
by default the plans/r06/ of the checkout this script sits in, so a
clone of the parent commit captures into its own tree.
"""
from __future__ import annotations

import os
import sys


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2].split(",")
    out_dir = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06"
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from sdg_engine.session import get_spark

    spark = get_spark("plans", "local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    from sdg_engine.queries import QUERIES

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # side-effecting builders may need runs
            plan = f"(capture failed: {e})"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(name, "->", f"{name}_{suffix}.txt", len(plan), "chars")
    spark.stop()


if __name__ == "__main__":
    main()
