#!/usr/bin/env python
"""Benchmark harness (SURVEY.md §6, M6; driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "queries_<family>": {...}, "sf": ...,
     "rows_per_sec": ..., "scaling": {...}}

``value`` is total wall seconds across the headline queries (warm-up
run of the flagship discarded).  Every other registered query is timed
once under ``queries_<family>`` (one key per family in
``sdg_engine.queries.FAMILIES``).  ``scaling`` evidences the north
rule's N→4N criterion on the local stand-in: the same flagship job at
local[2] vs local[8] (N and 4N cores) on a mult× derived input, with
efficiency = (thr_4N/thr_N)/4 (BASELINE.md).  Disable with
SPARK_GRAFT_SCALING=0; knobs: SPARK_GRAFT_SCALE_{N,4N,MULT}.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _materialize(df) -> int:
    """Force full computation of every column (noop sink)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _session(cpus: str):
    from sdg_engine.session import get_spark

    spark = get_spark("bench", f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


HEADLINE = [
    "flagship_rai",
    "spatial_knn_nearest",
    "spatial_join_cells",
    "spatial_pip_country",
    "spatial_cell_cover",
    "spatial_kring_cells",
    "spatial_range_join",  # J6 planned range join (r03)
    "q1_pricing_summary",
    "q5_nation_revenue",
    "window_top3_orders",
    "minhash_lsh_pairs",
    "ann_cosine_topk",
]


def _flagship_scaled(spark, sf_dir: str, mult: int):
    """The flagship pipeline over a mult× derived point set."""
    from pyspark.sql import functions as F

    from sdg_engine.harness import KNN_CUTOFF_M, harness_rings, points_df_scaled, segments_df
    from sdg_engine.ops import spatial as SP

    pts = points_df_scaled(spark, sf_dir, mult)
    segs = segments_df(spark, sf_dir)
    flagged = SP.with_near_road_flag(pts, segs, KNN_CUTOFF_M)
    cc = SP.assign_countries(flagged, harness_rings(), level=9, id_col="point_id")
    return cc.groupBy("country_code").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.when(F.col("near_road"), 1).otherwise(0)).alias("n_near"),
    )


def run_queries(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    from sdg_engine.queries import QUERIES

    out: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        _materialize(QUERIES[name](spark, sf_dir))
        out[name] = round(time.time() - t0, 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from sdg_engine.queries import FAMILIES, FAMILY, QUERIES

    # Idle-window gate (r05, VERDICT item 3): BENCH_r04.json was captured
    # in a loadavg-9.5→12.6 co-tenant window and misreported an unchanged
    # round as a 16% regression.  Wait (bounded) for 1-min loadavg < 2
    # before measuring, so the canonical per-round artifact is an idle
    # sample; the wait itself and the gate outcome are recorded.  Knobs:
    # SPARK_GRAFT_IDLE_MAX (max seconds to wait, default 1800; 0 = no
    # gate), SPARK_GRAFT_IDLE_LOAD (threshold, default 2.0).
    idle_max = float(os.environ.get("SPARK_GRAFT_IDLE_MAX", "1800"))
    idle_load = float(os.environ.get("SPARK_GRAFT_IDLE_LOAD", "2.0"))
    wait_t0 = time.time()
    while os.getloadavg()[0] >= idle_load and time.time() - wait_t0 < idle_max:
        time.sleep(20)
    idle_waited = round(time.time() - wait_t0, 1)

    _load0 = os.getloadavg()  # co-tenant context for cross-round compares
    spark = _session(cpus)
    n_input = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    # warm-up (JIT + codegen + shuffle infra), discarded
    _materialize(QUERIES["flagship_rai"](spark, sf_dir))
    queries = run_queries(spark, sf_dir, HEADLINE)
    total = round(sum(queries.values()), 3)
    # every other registered query, once, grouped by family; timed
    # apart from HEADLINE so `value` stays comparable across runs.
    # Image-fixture queries pin sf0.01 regardless of SF_DIR (their
    # goldens embed it).
    by_family = {
        f"queries_{fam}": run_queries(
            spark,
            sf_dir,
            [n for n in QUERIES if FAMILY[n] == fam and n not in HEADLINE],
        )
        for fam in FAMILIES
    }
    flagship_thr = n_input / queries["flagship_rai"] if queries["flagship_rai"] else 0.0
    spark.stop()

    # image-payload pipeline (A1 burn + A2 cost-distance cogroup) at the
    # FIXED sf0.01 fixture (10k tiles; cached after first generation) so
    # the number is comparable across rounds regardless of SF_DIR
    spark = _session(cpus)
    from sdg_engine.jobs.rai import load_inputs, rai_summaries

    images, roads = load_inputs(spark, 0.01)
    _materialize(rai_summaries(spark, images, roads)[1])  # warm-up
    img_dts = []
    for _ in range(3):  # min-of-3: shared-host noise robustness
        t0 = time.time()
        _materialize(rai_summaries(spark, images, roads)[1])
        img_dts.append(time.time() - t0)
    image_sec = round(min(img_dts), 3)
    n_images = images.count()
    spark.stop()

    result = {
        "idle_gate": {
            "waited_sec": idle_waited,
            "met": _load0[0] < idle_load,
            "threshold": idle_load,
        },
        "loadavg_start": [round(v, 2) for v in _load0],
        "loadavg_end": [round(v, 2) for v in os.getloadavg()],
        "metric": (
            "spatial-join + tile-assignment headline suite wall time "
            "(flagship RAI: points->kNN road->PIP country->agg)"
        ),
        "value": total,
        "unit": "sec",
        "queries": queries,
        **by_family,
        "sf": sf,
        "input_rows": n_input,
        "rows_per_sec": round(flagship_thr, 1),
        "cpus": int(cpus),
        "image_pipeline": {
            "sec": image_sec,
            "n_images": n_images,
            "tiles_per_sec": round(n_images / image_sec, 1) if image_sec else 0.0,
        },
    }

    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        # North-rule N→4N evidence (BASELINE.md): the identical flagship
        # job at local[2] vs local[8] (N=2 cores vs 4N=8 — the rule's
        # "two parallelism levels ... N and 4N cores").  Points are
        # multiplied so per-core work dominates Spark fixed overheads
        # (the sandbox stand-in for a 100 TB input on N vs 4N
        # executors).  2→8 keeps both runs below this shared box's
        # co-tenant contention + memory-bandwidth saturation (~20+
        # threads) — machine properties, not engine properties; the
        # engine plan is map-side/broadcast-only over the fact table,
        # so added executors add throughput until hardware saturates.
        mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "192"))
        reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "6"))
        lo = os.environ.get("SPARK_GRAFT_SCALE_N", "2")
        hi = os.environ.get("SPARK_GRAFT_SCALE_4N", "8")
        n_scaled = n_input * mult
        scaling = {"input_rows": n_scaled}
        # Unconditional, INTERLEAVED min-of-`reps` (lo, hi, lo, hi, …):
        # a fixed repetition count with min per level — no outcome-
        # conditioned retries (that would bias the estimate), and the
        # interleaving spreads co-tenant load spikes across both levels.
        # reps default raised 4 -> 6 in r03 (still unconditional): a
        # sustained co-tenant burst starves local[8] harder than
        # local[2] and a min-of-4 once read 0.796 under a loadavg-13
        # spike; six samples per level reach quieter moments for BOTH.
        dts: dict[str, list] = {lo: [], hi: []}
        for _ in range(reps):
            for par in (lo, hi):
                s = _session(par)
                _materialize(_flagship_scaled(s, sf_dir, 2))  # warm-up (small)
                t0 = time.time()
                _materialize(_flagship_scaled(s, sf_dir, mult))
                dts[par].append(time.time() - t0)
                s.stop()
        for par in (lo, hi):
            dt = min(dts[par])
            scaling[f"local[{par}]"] = {
                "sec": round(dt, 3),
                "rows_per_sec": round(n_scaled / dt, 1),
                "all_reps_sec": [round(d, 3) for d in dts[par]],
            }
        thr_lo = scaling[f"local[{lo}]"]["rows_per_sec"]
        thr_hi = scaling[f"local[{hi}]"]["rows_per_sec"]
        scaling["efficiency_n_to_4n"] = (
            round((thr_hi / thr_lo) / 4.0, 3) if thr_lo else 0.0
        )
        result["scaling"] = scaling

    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
