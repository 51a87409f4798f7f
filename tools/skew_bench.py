"""Hot-tile skew demonstration for the shuffle spatial join.

Web geotags cluster in cities: here 85% of points land inside ONE
tile.  The shuffle join keys on tile, so that tile's candidates all
hit a single reducer — the straggler the north_rule's "salting for hot
H3 cells" exists to fix.  This tool measures the same job unsalted vs
salted (AQE disabled so Spark's own skew mitigation doesn't mask the
mechanism; on a real cluster you'd run salting AND AQE).  It runs the
shuffle join's own candidate stage (``_shuffle_candidates``), so the
salting it measures is the join's.

Prints one JSON line with both times and the speedup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_POINTS = int(os.environ.get("SKEW_N_POINTS", "4000000"))
HOT_FRACTION = 0.85


def main() -> None:
    import numpy as np
    from pyspark.sql import SparkSession, functions as F

    from cuspatial_spark.geometry import PolygonArrays
    from cuspatial_spark.plans.shuffle_join import _shuffle_candidates

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "false")  # isolate the salting effect
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")  # shuffle the join
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "250000")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # 85% of points in the "city" cell [0,1)^2, the rest uniform over [0,8)^2
    ids = F.col("id")
    hot = (ids % 100) < int(HOT_FRACTION * 100)
    u1 = (ids * 2654435761 % 104729) / 104729.0
    u2 = (ids * 97003 % 999983) / 999983.0
    pts = (
        spark.range(0, N_POINTS, 1, 128)
        .select(
            ids.alias("point_id"),
            F.when(hot, u1).otherwise(u1 * 8.0).alias("x"),
            F.when(hot, u2).otherwise(u2 * 8.0).alias("y"),
        )
        .cache()
    )
    pts.count()

    # polygon layer as a DataFrame (shuffle path): 64 squares tiling the
    # city cell plus a few spread over the rest of the AOI
    sx, sy = np.array([0.0, 1, 1, 0, 0]), np.array([0.0, 0, 1, 1, 0])
    x0 = np.r_[np.repeat(np.arange(8) / 8.0, 8), 2.0 + 1.5 * np.arange(4)]
    y0 = np.r_[np.tile(np.arange(8) / 8.0, 8), np.full(4, 4.0)]
    size = np.r_[np.full(64, 1 / 8.0), np.ones(4)]
    polys = PolygonArrays(
        np.arange(69), 5 * np.arange(69),
        (x0[:, None] + size[:, None] * sx).ravel(),
        (y0[:, None] + size[:, None] * sy).ravel(),
    )
    poly_df = spark.createDataFrame(polys.to_arrow()).cache()
    poly_df.count()

    # hot tiles at level 3: the city cell [0,1)^2 = tile (0,0) -> morton 0
    #
    # NOTE on methodology: the polygon-tile side must be shuffled
    # (broadcast joins are off in this session) — Catalyst would
    # broadcast a layer this small and there'd be no shuffle to skew.
    # The tool counts the join's candidates per reducer, before the
    # refine: the demonstrable effect of salting is reducer balance —
    # max-candidates-per-reducer drops by the salt factor, which on a
    # real multi-executor cluster is exactly the straggler salting
    # removes.
    results = {}
    scale = 8.0 / ((1 << 12) + 2)
    for label, salt, hot_tiles in (
        ("unsalted", 0, None),
        ("salted", 16, [0]),
    ):
        cand = _shuffle_candidates(
            pts, poly_df, "x", "y", 0.0, 8.0, 0.0, 8.0, scale, 12, 3,
            ["point_id", "x", "y"], salt, hot_tiles, "polygon_id", "ring_offsets", "xy",
        ).select("point_id")
        sizes = (
            cand.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .agg(F.max("count").alias("max"), F.expr("percentile(count, 0.5)").alias("p50"),
                 F.sum("count").alias("total"), F.count("*").alias("n_parts"))
            .collect()[0]
        )
        results[label] = {
            "max_reducer_rows": int(sizes["max"]),
            "median_reducer_rows": int(sizes["p50"]),
            "total_candidates": int(sizes["total"]),
            "reducers": int(sizes["n_parts"]),
        }

    out = {
        "job": "hot-tile shuffle PIP join (85% of points in one tile)",
        "rows": N_POINTS,
        **results,
        "max_reducer_reduction": round(
            results["unsalted"]["max_reducer_rows"] / results["salted"]["max_reducer_rows"], 2
        ),
        "match": results["unsalted"]["total_candidates"] == results["salted"]["total_candidates"],
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
