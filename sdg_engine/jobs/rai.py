"""The flagship batch job over the IMAGES fixture: Rural Access Index
per country + forgotten set (SURVEY.md §3.2, M3) — the full graft of
the reference's PopulationNearRoadsJob.

Pipeline (all operators from ops/):
  images ──with_geo──▶ lon/lat + footprint     (pandas UDF geocode)
         ──assign_countries──▶ country          (J2: cells + ray-cast)
         ──burn_cost_summaries──▶ per-tile pop  (A1 burn + A2 chamfer)
         ──join country on image_id──▶ per-image summary
         ──groupBy(country)──▶ RAI summary      (A3)
  forgotten = images with pop_near == 0         (J5)
         ──transcode_png_geotiff──▶ PNG sink    (S6; invariants hold)
                                └─▶ GeoTIFF sink (S6; footprint grid tags)

One job computes the per-image summary once: rai_summaries returns it
local-checkpointed, so the bucketed write, the JSON summary and the
forgotten set all read that one pass of decode, burn, chamfer and
ray-cast.  The forgotten sink decodes each forgotten tile once and
writes both encodings from that decode.

Run standalone:  spark-submit --py-files sdg_engine.zip -m sdg_engine.jobs.rai
(or `python -m sdg_engine.jobs.rai [sf] [out_dir]` locally).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures as FX
from ..lineage import run_bucketed
from ..ops import payload as PL
from ..ops import raster as RS
from ..ops import spatial as SP
from ..session import scoped_confs

CUTOFF_M = 250.0  # sub-footprint cutoff so the burn mask is non-trivial
# next to this checkout's package, so separate checkouts keep separate caches
FIXTURE_CACHE = str(Path(__file__).resolve().parents[2] / ".fixture_cache")


def fixture_dir(sf: float, base: str = FIXTURE_CACHE) -> str:
    # version-keyed: a fixture-SPEC change (e.g. the v2 jpg fmt mix) must
    # invalidate cached parquet — the _DONE marker alone would pin stale data
    out = os.path.join(base, f"v{FX.FIXTURE_SPEC_VERSION}", f"sf{sf:g}")
    FX.write_fixture_parquet(out, sf)
    return out


def load_inputs(spark: SparkSession, sf: float):
    d = fixture_dir(sf)
    images = spark.read.parquet(os.path.join(d, "images.parquet"))
    roads = spark.read.parquet(os.path.join(d, "roads.parquet"))
    return images, roads


def rai_summaries(
    spark: SparkSession, images: DataFrame, roads: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Returns (per_image, per_country) summary DataFrames.

    ``per_image`` is local-checkpointed and ``per_country`` aggregates
    that checkpoint, so every sink of one job shares one pass of
    decode, burn, chamfer and ray-cast.  The call itself is not lazy:
    under AQE, ``localCheckpoint(eager=False)`` still runs the plan's
    shuffle and broadcast stages (burn, ray-cast, join-back) before it
    returns, so a caller that only builds or inspects the frames pays
    for most of the upstream.  Each call checkpoints a new frame, so
    no call reads an earlier call's results; the blocks are freed when
    the frame is garbage-collected.  Trade-off: checkpoint blocks live
    only on the executors, so losing an executor fails the job instead
    of recomputing the lost blocks.  Re-running the job resumes from
    the buckets ``run_bucketed`` already committed."""
    geo = SP.with_geo(images)
    cc = SP.assign_countries(geo, FX.get_country_rings(), level=9)
    segs = SP.road_segments(roads)
    # The country is JOINED back by image_id after the burn: carrying it
    # into the burn puts the byte-heavy burn and J2's broadcast dims in
    # ONE stage, and the combined heap peak OOMs a default-1g driver
    # session (measured).  The join-back keeps the heavy pass dim-free;
    # the country pass is column-pruned (no bytes) and cheap.
    tiles = RS.burn_cost_summaries(
        geo.select("image_id", "lon", "lat", "bytes", "fmt",
                   "w", "h", "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax"),
        segs,
        cutoff_m=CUTOFF_M,
    )
    per_image = tiles.join(
        cc.select("image_id", "country_code"), "image_id", "inner"
    ).localCheckpoint(eager=False)
    per_country = (
        per_image.groupBy("country_code")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.when(F.col("pop_near") > 0, 1).otherwise(0)).alias("n_near"),
            F.round(F.sum("pop_total"), 3).alias("pop_total"),
            F.round(F.sum("pop_near"), 3).alias("pop_near"),
        )
        .withColumn(
            "rai",
            F.round(F.col("pop_near") / F.col("pop_total"), 6),
        )
    )
    return per_image, per_country


def forgotten_sink(
    images: DataFrame, per_image: DataFrame, out_dir: str
) -> DataFrame:
    """J5 + S6: images with no nearby road, re-encoded to PNG and to
    GeoTIFF (the reference's raster sink: grid tags derived from the
    footprint) and written; returns the PNG frame.

    Each forgotten tile is decoded once: one pass emits both encodings
    and is persisted while the two sinks are written.  The re-encode
    exercises the X2 sink path; invariants (PSNR/caption) are asserted
    by the test gate via ops.payload.verify_invariants."""
    forgotten_ids = per_image.filter(F.col("pop_near") == 0).select("image_id")
    forgotten = images.join(forgotten_ids, "image_id", "left_semi")
    # A cached plan may not change its output partitioning unless this
    # is on, so AQE neither coalesces the semi-join's 32 shuffle
    # partitions nor turns it into a broadcast join, and each partition
    # runs the Python passes: 7.2 s vs 1.8 s for both sinks (358 tiles,
    # local[4]).  Nothing downstream reads that partitioning.
    with scoped_confs(
        images.sparkSession,
        {"spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true"},
    ):
        both = PL.transcode_png_geotiff(SP.with_geo(forgotten)).persist()
    try:
        out = both.drop("tif")
        out.write.mode("overwrite").parquet(os.path.join(out_dir, "forgotten_png"))
        both.select(
            "image_id", F.col("tif").alias("bytes"), "w", "h",
            F.lit("tif").alias("fmt"),
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "forgotten_geotiff"))
    finally:
        both.unpersist()
    return out


def run_job(spark: SparkSession, images: DataFrame, roads: DataFrame,
            out_dir: str) -> DataFrame:
    """The whole job: summaries, the checkpointed, lineage-tracked
    bucketed write of the per-image rows, the JSON summary and the
    forgotten sinks, all under ``out_dir``.  Returns per_country."""
    per_image, per_country = rai_summaries(spark, images, roads)
    run_bucketed(spark, per_image, os.path.join(out_dir, "per_image"),
                 cell_col="cell_id", n_buckets=8)
    per_country.orderBy("country_code").write.mode("overwrite").json(
        os.path.join(out_dir, "summary_json")
    )
    forgotten_sink(images, per_image, out_dir)
    return per_country


def main(sf: float = 0.001, out_dir: str = "/tmp/rai_out") -> None:
    from ..session import get_spark

    spark = get_spark("rai-job")
    spark.sparkContext.setLogLevel("ERROR")
    images, roads = load_inputs(spark, sf)
    per_country = run_job(spark, images, roads, out_dir)
    print(per_country.orderBy("country_code").toPandas().to_string(index=False))
    spark.stop()


if __name__ == "__main__":
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.001
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/rai_out"
    main(sf, out)
