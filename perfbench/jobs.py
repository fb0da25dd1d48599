"""The two benchmark jobs, built only from the engine's public functions.

Each workload class registers its inputs in a session, runs one job
execution, checks the result against the per-seed reference (outside any
timed region) and lists the layer prefixes of its composition for the
traced split.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import inputs


def hash_frame(df):
    """Terminal that consumes every column of ``df`` into one row: the sum
    of xxhash64 over all columns.

    Unlike the noop sink, Catalyst cannot prune any column away, and the
    result is one row, so a prefix costs what computing its output costs.
    """
    from pyspark.sql import functions as F

    return df.agg(F.sum(F.xxhash64(*df.columns)).alias("h"))


class PointsRai:
    """near-road flag -> country assignment -> per-country aggregate."""

    name = "points_rai"
    # untimed warm-ups and timed warm executions per untraced run; warm
    # executions per session of a traced run; timed prefix repetitions per
    # traced session.  The job speeds up over its first warm executions
    # (JIT), so a count that --seconds could cut short would move the
    # warm median with the host's load: the counts are fixed.
    warmup, min_warm, max_warm, trace_warm, prefix_reps = 2, 5, 5, 2, 1
    scaling = True  # the traced run also measures local[1]

    def __init__(self, spark, in_dir: str, work_dir: str):
        self.spark = spark
        self.points = spark.read.parquet(os.path.join(in_dir, "points.parquet"))
        self.segs = spark.read.parquet(os.path.join(in_dir, "segments.parquet"))
        self.ref = inputs.load_reference(in_dir)
        self.input_rows = self.ref["input_rows"]

    def _flagged(self):
        from sdg_engine.ops import spatial as SP

        return SP.with_near_road_flag(self.points, self.segs, inputs.CUTOFF_M)

    def _countries(self, flagged):
        from sdg_engine.harness import harness_rings
        from sdg_engine.ops import spatial as SP

        return SP.assign_countries(flagged, harness_rings(),
                                   level=inputs.POINTS_LEVEL, id_col="point_id")

    def _aggregate(self, cc):
        from pyspark.sql import functions as F

        return cc.groupBy("country_code").agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.when(F.col("near_road"), 1).otherwise(0)).alias("n_near"),
        )

    def final_frame(self):
        return self._aggregate(self._countries(self._flagged()))

    def run(self):
        flagged = self._flagged()
        final = self._aggregate(self._countries(flagged))
        self._last = (final, flagged)
        return final.collect()

    def decision_frames(self):
        """(summary frame of the last execution, the frame it fed to
        assign_countries, that frame's id column)."""
        return (*self._last, "point_id")

    def check(self, result) -> bool:
        got = {r["country_code"]: {"n_points": int(r["n_points"]),
                                   "n_near": int(r["n_near"])} for r in result}
        return got == self.ref["per_country"]

    def prefixes(self):
        """[(layer, build)]: build() returns prefix k of the composition;
        the last one is the job's own summary frame."""
        return [
            ("harness.scan", lambda: self.points),
            ("ops.spatial.with_near_road_flag", self._flagged),
            ("ops.spatial.assign_countries", lambda: self._countries(self._flagged())),
            ("points_rai.aggregate", self.final_frame),
        ]

    def prefix_layers(self, t: dict) -> dict:
        names = [n for n, _ in self.prefixes()]
        out, prev = {}, 0.0
        for n in names:
            out[n] = t[n] - prev
            prev = t[n]
        return out


class ImageRai:
    """jobs.rai as its main() runs it: summaries plus the three sinks."""

    name = "image_rai"
    # one execution costs ~10 s warm and ~25 s cold on 4 cores
    warmup, min_warm, max_warm, trace_warm, prefix_reps = 0, 1, 1, 1, 1
    scaling = False

    def __init__(self, spark, in_dir: str, work_dir: str):
        self.spark = spark
        self.images = spark.read.parquet(os.path.join(in_dir, "images.parquet"))
        self.roads = spark.read.parquet(os.path.join(in_dir, "roads.parquet"))
        self.ref = inputs.load_reference(in_dir)
        self.input_rows = self.ref["input_rows"]
        self.out_dir = os.path.join(work_dir, "rai_out")

    def run(self):
        from sdg_engine.jobs import rai
        from sdg_engine.lineage import run_bucketed

        # run_bucketed resumes from committed buckets: start every
        # execution from an empty output directory
        shutil.rmtree(self.out_dir, ignore_errors=True)
        per_image, per_country = rai.rai_summaries(self.spark, self.images, self.roads)
        run_bucketed(self.spark, per_image, os.path.join(self.out_dir, "per_image"),
                     cell_col="cell_id", n_buckets=8)
        per_country.orderBy("country_code").write.mode("overwrite").json(
            os.path.join(self.out_dir, "summary_json"))
        rai.forgotten_sink(self.images, per_image, self.out_dir)
        self._last = per_country
        return self.out_dir

    def decision_frames(self):
        # rai_summaries feeds assign_countries with_geo(images)
        return self._last, self._geo(), "image_id"

    def check(self, out_dir) -> bool:
        import pyarrow.parquet as pq

        rows = []
        for path in sorted(glob.glob(os.path.join(out_dir, "summary_json", "*.json"))):
            with open(path) as f:
                rows += [json.loads(line) for line in f if line.strip()]
        ref = self.ref["per_country"]
        if sorted(r["country_code"] for r in rows) != sorted(ref):
            return False
        for r in rows:
            e = ref[r["country_code"]]
            if (r["n_images"], r["n_near"]) != (e["n_images"], e["n_near"]):
                return False
            for k, tol in (("pop_total", 1e-2), ("pop_near", 1e-2), ("rai", 2e-6)):
                if abs(r[k] - e[k]) > tol:
                    return False

        def n_rows(pattern):
            return sum(pq.read_metadata(p).num_rows
                       for p in glob.glob(os.path.join(out_dir, pattern)))

        return (n_rows("per_image/bucket=*/*.parquet") == self.input_rows
                and n_rows("forgotten_png/*.parquet") == self.ref["n_forgotten"]
                and n_rows("forgotten_geotiff/*.parquet") == self.ref["n_forgotten"])

    # -- traced split -------------------------------------------------------

    def _geo(self):
        from sdg_engine.ops import spatial as SP

        return SP.with_geo(self.images)

    def _tiles(self, geo):
        from sdg_engine.jobs.rai import CUTOFF_M
        from sdg_engine.ops import raster as RS
        from sdg_engine.ops import spatial as SP

        # the same call rai_summaries makes
        return RS.burn_cost_summaries(
            geo.select("image_id", "lon", "lat", "bytes", "fmt",
                       "w", "h", "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax"),
            SP.road_segments(self.roads), cutoff_m=CUTOFF_M)

    def _countries(self, geo):
        from sdg_engine import fixtures as FX
        from sdg_engine.ops import spatial as SP

        return SP.assign_countries(geo, FX.get_country_rings(), level=9)

    def final_frame(self):
        from sdg_engine.jobs import rai

        return rai.rai_summaries(self.spark, self.images, self.roads)[1]

    def prefixes(self):
        return [
            ("harness.scan", lambda: self.images),
            ("ops.spatial.with_geo", self._geo),
            ("ops.raster.burn_cost_summaries", lambda: self._tiles(self._geo())),
            ("ops.spatial.assign_countries",
             lambda: self._countries(self._geo()).select("image_id", "country_code")),
            ("jobs.rai.joinback_agg", self.final_frame),
        ]

    def prefix_layers(self, t: dict) -> dict:
        # scan -> geo -> burn is a chain; the country branch hangs off geo;
        # join-back + aggregate is what the full summary adds to both.
        geo = t["ops.spatial.with_geo"]
        burn = t["ops.raster.burn_cost_summaries"]
        assign = t["ops.spatial.assign_countries"] - geo
        return {
            "harness.scan": t["harness.scan"],
            "ops.spatial.with_geo": geo - t["harness.scan"],
            "ops.raster.burn_cost_summaries": burn - geo,
            "ops.spatial.assign_countries": assign,
            "jobs.rai.joinback_agg": t["jobs.rai.joinback_agg"] - burn - assign,
        }


WORKLOADS = {c.name: c for c in (PointsRai, ImageRai)}
