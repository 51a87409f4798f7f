"""spark-submit entry point for the flagship pipeline.

Usage (north_rule launch shape):

    cd <repo root> && zip -qr /tmp/cuspatial_spark.zip cuspatial_spark
    spark-submit --master local[32] \
        --py-files /tmp/cuspatial_spark.zip \
        tools/run_flagship.py \
        --pages 1000000 --output /tmp/flagship_out --buckets 8

Runs: synthetic web-pages source -> geotag -> distributed
tile-filtered point-in-polygon join -> checkpointed bucketed write
with lineage manifest + kernel metrics.  Re-running with the same
--output resumes, skipping completed buckets.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", type=int, default=1000000)
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=8)
    p.add_argument("--tile-level", type=int, default=5)
    p.add_argument("--max-depth", type=int, default=12)
    args = p.parse_args()

    spark = SparkSession.builder.appName("cuspatial-spark-flagship").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # imports resolve from --py-files when submitted to a cluster
    from cuspatial_spark.geometry import PolygonArrays
    from cuspatial_spark.ops import CheckpointedJob, KernelMetrics
    from cuspatial_spark.plans import point_in_polygon_join
    from cuspatial_spark.sources import geotag_points, synth_webpages

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as E

    polygons = PolygonArrays(E.POLY_OFFSETS, E.RING_OFFSETS, E.POLY_X, E.POLY_Y)
    pages = geotag_points(synth_webpages(spark, args.pages), 0, 8, 0, 8)

    metrics = KernelMetrics.create(spark)
    job = CheckpointedJob(
        spark, args.output, key_col="url", n_buckets=args.buckets,
        input_fingerprint=f"synth_webpages(n={args.pages}, seed=deterministic)",
    )

    def transform(bucket_df):
        return point_in_polygon_join(
            bucket_df, polygons, x_min=0, x_max=8, y_min=0, y_max=8,
            max_depth=args.max_depth, tile_level=args.tile_level,
            keep_columns=["url", "warc_ts", "text", "lang"],
        )

    result = job.run(pages, transform, metrics=metrics)
    print(json.dumps({"ran": result["ran"], "skipped": result["skipped"],
                      "manifest": result["manifest"]}))
    spark.stop()


if __name__ == "__main__":
    main()
