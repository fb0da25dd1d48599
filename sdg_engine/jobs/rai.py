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
         ──transcode──▶ PNG sink                (S6; invariants hold)
         ──transcode_geotiff──▶ GeoTIFF sink    (S6; footprint grid tags)

Run standalone:  spark-submit --py-files sdg_engine.zip -m sdg_engine.jobs.rai
(or `python -m sdg_engine.jobs.rai [sf] [out_dir]` locally).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures as FX
from ..lineage import run_bucketed
from ..ops import payload as PL
from ..ops import raster as RS
from ..ops import spatial as SP

CUTOFF_M = 250.0  # sub-footprint cutoff so the burn mask is non-trivial


def fixture_dir(sf: float, base: str = "/root/repo/.fixture_cache") -> str:
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
    cutoff_m: float = CUTOFF_M,
) -> tuple[DataFrame, DataFrame]:
    """Returns (per_image, per_country) summary DataFrames."""
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
        cutoff_m=cutoff_m,
    )
    per_image = tiles.join(
        cc.select("image_id", "country_code"), "image_id", "inner"
    )
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
    """J5 + S6: images with no nearby road, re-encoded to PNG and written.

    The re-encode exercises the X2 sink path; invariants (PSNR/caption)
    are asserted by the test gate via ops.payload.verify_invariants."""
    forgotten_ids = per_image.filter(F.col("pop_near") == 0).select("image_id")
    forgotten = images.join(forgotten_ids, "image_id", "left_semi")
    out = PL.transcode(forgotten, "png")
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "forgotten_png"))
    # S6 full (r04): the reference's raster sink is GEOREFERENCED TIFF —
    # same tiles with GeoTIFF grid tags derived from the footprint
    PL.transcode_geotiff(SP.with_geo(forgotten)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "forgotten_geotiff")
    )
    return out


def main(sf: float = 0.001, out_dir: str = "/tmp/rai_out") -> None:
    from ..session import get_spark

    spark = get_spark("rai-job")
    spark.sparkContext.setLogLevel("ERROR")
    images, roads = load_inputs(spark, sf)
    per_image, per_country = rai_summaries(spark, images, roads)
    # checkpointed, lineage-tracked write of the per-image summaries
    run_bucketed(spark, per_image, os.path.join(out_dir, "per_image"),
                 cell_col="cell_id", n_buckets=8)
    per_country.orderBy("country_code").write.mode("overwrite").json(
        os.path.join(out_dir, "summary_json")
    )
    forgotten_sink(images, per_image, out_dir)
    print(per_country.orderBy("country_code").toPandas().to_string(index=False))
    spark.stop()


if __name__ == "__main__":
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.001
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/rai_out"
    main(sf, out)
