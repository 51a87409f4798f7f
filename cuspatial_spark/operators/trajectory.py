"""Trajectory operators — pure Window/groupBy built-ins.

Reference: core/trajectory.py:20-236.  The reference's sort + segmented
reduce maps exactly onto Spark's partitioned window functions; partial
aggregation (map-side combine) comes free from Catalyst.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def derive_trajectories(
    df: DataFrame,
    object_id: str = "object_id",
    x: str = "x",
    y: str = "y",
    timestamp: str = "timestamp",
) -> tuple[DataFrame, DataFrame]:
    """Sort by (object_id, timestamp); return (sorted objects,
    offsets) where offsets[i] = start row of trajectory i in the
    sorted frame (reference core/trajectory.py:20-89).

    The prefix sum over per-trajectory counts is computed two-level
    (the scale-safe shape, same pattern as raster.vectorize_cells):
    counts range-partition on object_id, each partition cumsums under
    a PARTITIONED window, and the per-partition base offsets — one row
    per partition, bounded by parallelism, not by data — are combined
    on the driver and broadcast back.  An unpartitioned
    Window.orderBy would funnel every trajectory through one task."""
    objects = df.orderBy(object_id, timestamp)
    counts = (
        df.groupBy(object_id)
        .agg(F.count("*").alias("n"))
        .repartitionByRange(object_id)
        .withColumn("__pid", F.spark_partition_id())
        # pin the partition assignment: __pid must not change between
        # the totals pass and the window pass
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("__pid").agg(F.sum("n").alias("t")).toArrow().sort_by("__pid")
    t = totals["t"].to_numpy()
    base_df = df.sparkSession.createDataFrame(
        pa.table({"__pid": totals["__pid"], "__base": np.cumsum(t) - t}),
        schema="__pid: int, __base: long",
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(object_id)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        counts.withColumn("__local", F.coalesce(F.sum("n").over(w), F.lit(0)))
        .join(F.broadcast(base_df), on="__pid")
        .select(object_id, (F.col("__base") + F.col("__local")).alias("offset"))
        .orderBy(object_id)
    )
    return objects, offsets


def trajectory_distances_and_speeds(
    df: DataFrame,
    object_id: str = "object_id",
    x: str = "x",
    y: str = "y",
    timestamp: str = "timestamp",
) -> DataFrame:
    """Per trajectory: total meters and m/s over the full time span.

    Reference core/trajectory.py:171-236: consecutive-pair step
    distances (km -> m via *1000); speed = total_m / total_seconds.
    Implemented with lag windows + groupBy agg (shuffles once on
    object_id; both window and agg share that partitioning).
    """
    w = Window.partitionBy(object_id).orderBy(timestamp)
    dx = F.col(x) - F.lag(x).over(w)
    dy = F.col(y) - F.lag(y).over(w)
    step = F.sqrt(dx * dx + dy * dy)
    # TIMESTAMP_NTZ can't cast straight to double; route via TIMESTAMP
    # (session tz; keep it UTC for engine-portable epochs)
    ts_sec = F.col(timestamp).cast("timestamp").cast("double")
    stepped = df.withColumn("__step", step).withColumn("__ts", ts_sec)
    return (
        stepped.groupBy(object_id)
        .agg(
            (F.sum("__step") * F.lit(1000.0)).alias("distance"),
            (F.max("__ts") - F.min("__ts")).alias("__dur"),
        )
        .withColumn(
            "speed",
            F.when(F.col("__dur") > 0, F.col("distance") / F.col("__dur")).otherwise(
                F.lit(0.0)
            ),
        )
        .select(object_id, "distance", "speed")
    )


def trajectory_summary(
    df: DataFrame,
    object_id: str = "object_id",
    x: str = "x",
    y: str = "y",
    timestamp: str = "timestamp",
) -> DataFrame:
    """Bounding box + total distance + speed per trajectory in ONE
    object_id shuffle.

    Fuses trajectory_bounding_boxes (reference core/trajectory.py:
    92-135) and trajectory_distances_and_speeds (171-236): the lag
    window and the min/max/sum aggregate share the same hash
    partitioning, so Catalyst plans a single Exchange — where running
    the two reference-parity operators and joining costs two scans,
    three shuffles and a join.  Use this form in pipelines; the
    separate operators remain for API parity."""
    w = Window.partitionBy(object_id).orderBy(timestamp)
    dx = F.col(x) - F.lag(x).over(w)
    dy = F.col(y) - F.lag(y).over(w)
    step = F.sqrt(dx * dx + dy * dy)
    ts_sec = F.col(timestamp).cast("timestamp").cast("double")
    stepped = df.withColumn("__step", step).withColumn("__ts", ts_sec)
    return (
        stepped.groupBy(object_id)
        .agg(
            F.min(x).alias("minx"),
            F.min(y).alias("miny"),
            F.max(x).alias("maxx"),
            F.max(y).alias("maxy"),
            (F.coalesce(F.sum("__step"), F.lit(0.0)) * F.lit(1000.0)).alias("distance"),
            (F.max("__ts") - F.min("__ts")).alias("__dur"),
        )
        .withColumn(
            "speed",
            F.when(F.col("__dur") > 0, F.col("distance") / F.col("__dur")).otherwise(
                F.lit(0.0)
            ),
        )
        .drop("__dur")
    )
