"""Raster <-> vector conversion over a regular grid.

The north rule names "raster<->vector" as a first-class capability of
the tiling engine.  Both directions are expressed Spark-first:

- ``rasterize_polygons`` burns a (broadcastable) polygon layer into a
  regular grid by testing each **cell center** against the layer with
  the same tile-filtered point-in-polygon join the flagship query
  uses (plans/tile_join.py) — the grid is generated distributed with
  ``spark.range`` (no driver-side data), so a continent-sized raster
  at metre resolution is just a bigger range.  Output: one row per
  (cell, covering polygon).

- ``vectorize_cells`` converts a (i, j, value) cell table back into
  maximal axis-aligned rectangles with the classic two-pass
  run-length decomposition, written entirely as window functions:
  pass 1 merges horizontal runs per (value, row) with the
  gaps-and-islands trick (i - row_number() is constant inside a run),
  pass 2 merges vertically adjacent runs with identical [i0, i1]
  extent the same way.  Two window shuffles total, both on bounded
  keys — scales to any raster that fits its own cell table.

The rectangle cover is exact (disjoint rectangles whose union is the
input cell set), deterministic, and engine-portable — the driver
oracle replays the identical window SQL in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..geometry import PolygonArrays
from ..plans.tile_join import point_in_polygon_join


def grid_cells(
    spark: SparkSession,
    width: int,
    height: int,
    x_min: float,
    y_min: float,
    cell_size: float,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed (i, j, cx, cy) grid of cell centers — pure
    ``spark.range``, no driver-side materialization."""
    df = (
        spark.range(0, width * height, 1, partitions)
        if partitions
        else spark.range(width * height)
    )
    i = (F.col("id") % width).cast("long")
    j = F.floor(F.col("id") / width).cast("long")
    return df.select(
        i.alias("i"),
        j.alias("j"),
        (F.lit(float(x_min)) + (i + F.lit(0.5)) * F.lit(float(cell_size))).alias("cx"),
        (F.lit(float(y_min)) + (j + F.lit(0.5)) * F.lit(float(cell_size))).alias("cy"),
    )


def rasterize_polygons(
    spark: SparkSession,
    polygons: PolygonArrays,
    width: int,
    height: int,
    x_min: float,
    y_min: float,
    cell_size: float,
    max_depth: int = 7,
    tile_level: int = 2,
) -> DataFrame:
    """(i, j, polygon_id) for every grid cell whose center is inside a
    polygon (center-sampling rasterization, the GDAL default).  The
    polygon layer is broadcast; the grid is the distributed side."""
    cells = grid_cells(spark, width, height, x_min, y_min, cell_size)
    span_x = width * cell_size
    span_y = height * cell_size
    return point_in_polygon_join(
        cells,
        polygons,
        x="cx",
        y="cy",
        x_min=x_min,
        x_max=x_min + span_x,
        y_min=y_min,
        y_max=y_min + span_y,
        max_depth=max_depth,
        tile_level=tile_level,
        keep_columns=["i", "j"],
    ).select("i", "j", "polygon_id")


def vectorize_cells(
    cells: DataFrame,
    value_col: str = "polygon_id",
    i_col: str = "i",
    j_col: str = "j",
    x_min: float = 0.0,
    y_min: float = 0.0,
    cell_size: float = 1.0,
) -> DataFrame:
    """Exact rectangle decomposition of a cell set, per value.

    Returns (value, x0, y0, x1, y1) world-coordinate rectangles; for
    each value the rectangles are disjoint and their union is exactly
    the input cells.  Two window passes (gaps-and-islands), both
    partitioned on bounded composite keys.
    """
    v, i, j = F.col(value_col), F.col(i_col), F.col(j_col)

    # pass 1: horizontal runs per (value, row)
    w1 = Window.partitionBy("value", "j").orderBy("i")
    runs = (
        cells.select(v.alias("value"), i.alias("i"), j.alias("j"))
        .withColumn("grp", F.col("i") - F.row_number().over(w1))
        .groupBy("value", "j", "grp")
        .agg(F.min("i").alias("i0"), F.max("i").alias("i1"))
    )

    # pass 2: merge vertically adjacent runs with identical extent
    w2 = Window.partitionBy("value", "i0", "i1").orderBy("j")
    rects = (
        runs.withColumn("vgrp", F.col("j") - F.row_number().over(w2))
        .groupBy("value", "i0", "i1", "vgrp")
        .agg(F.min("j").alias("j0"), F.max("j").alias("j1"))
    )

    cs = F.lit(float(cell_size))
    ox, oy = F.lit(float(x_min)), F.lit(float(y_min))
    return rects.select(
        "value",
        (ox + F.col("i0") * cs).alias("x0"),
        (oy + F.col("j0") * cs).alias("y0"),
        (ox + (F.col("i1") + 1) * cs).alias("x1"),
        (oy + (F.col("j1") + 1) * cs).alias("y1"),
    )
