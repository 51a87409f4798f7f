"""Distributed k-nearest-neighbor join over points (bounded radius).

The north-star operator set includes kNN.  At cluster scale the
practical formulation is radius-bounded kNN: for each query point,
the k nearest data points within a given radius.  The radius bounds
the tile neighborhood each query must examine, turning the quadratic
all-pairs problem into a neighborhood equi-join:

  1. both sides keep only in-AOI points (``inside_aoi``, the tile
     joins' test), then data points get their tile id (JVM Morton expr)
  2. each QUERY point explodes to the 3x3 block of tiles around its
     own tile at a tile level chosen so tile_size >= radius —
     guaranteeing every data point within `radius` shares one of those
     tiles (this is the quadtree filter phase re-expressed; same move
     as the bbox expansion in the reference's nearest-linestring join,
     join.py:265-355)
  3. shuffle/broadcast equi-join on tile
  4. codegen distance + radius filter + per-query row_number window

Everything except the final window is whole-stage codegen; the window
shuffles once on the query id.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expressions import (
    _dilate2_sql,
    inside_aoi,
    morton_key_expr,
    tile_expr,
)


def _undilate_expr(c):
    """Inverse bit-dilation (gather even bits) as JVM bit ops."""
    x = c.cast("bigint").bitwiseAND(F.lit(0x55555555))
    x = x.bitwiseOR(F.shiftright(x, 1)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftright(x, 2)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftright(x, 4)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftright(x, 8)).bitwiseAND(F.lit(0x0000FFFF))
    return x


def _neighbor_tiles_expr(tx: str, ty: str, tile_level: int):
    """The 3x3 Morton-tile neighborhood from the (tx, ty) cell-coordinate
    columns NAMED ``tx`` and ``ty``, as one SQL text (callers must
    materialize tx/ty as named columns first — inlining long chains
    here duplicates them across the 9 branches)."""
    n = (1 << tile_level) - 1

    def cell(c: str, d: int) -> str:
        return f"greatest(least({c} + {d}, {n}), 0)"

    tiles = [
        f"(shiftleft({_dilate2_sql(cell(ty, dy))}, 1) | {_dilate2_sql(cell(tx, dx))})"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ]
    return F.expr(f"array_distinct(array({', '.join(tiles)}))")


def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    radius: float = None,
    x: str = "x",
    y: str = "y",
    id_col: str = "point_id",
    query_id_col: str = "query_id",
    x_min: float = 0.0,
    x_max: float = 1.0,
    y_min: float = 0.0,
    y_max: float = 1.0,
    max_depth: int = 15,
    broadcast_queries: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, distance, rank) for the k nearest data
    points within `radius` of each query point (the query point itself
    excluded when ids collide).  Completeness contract: neighbors
    beyond `radius` are not considered — choose radius from the data
    density (or run again with a larger radius for starved queries).
    Points outside the AOI, or with a null or NaN coordinate, join
    nothing on either side.
    """
    if radius is None:
        radius = max(x_max - x_min, y_max - y_min) / 64.0
    span = max(x_max - x_min, y_max - y_min)
    scale = span / ((1 << max_depth) + 2)
    # tile size >= radius so the 3x3 neighborhood covers the disk
    tile_level = max(0, min(max_depth, int(np.floor(np.log2(span / radius)))))

    # both sides keep only in-AOI points, so no point reaches the join
    # with the sentinel key, which lands in the top-right tile
    aoi = inside_aoi(x, y, x_min, x_max, y_min, y_max)
    tile = tile_expr(
        morton_key_expr(x, y, x_min, x_max, y_min, y_max, scale, max_depth),
        max_depth, tile_level,
    )
    d = data.where(aoi).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(x).alias("__dx"), F.col(y).alias("__dy"),
        tile.alias("tile"),
    )
    # materialize the tile as a named column BEFORE building the 9-way
    # neighborhood — inlining would duplicate the whole Morton chain
    # into every branch and blow the expression tree up exponentially
    q = queries.where(aoi).select(
        F.col(id_col).alias(query_id_col),
        F.col(x).alias("__qx"), F.col(y).alias("__qy"),
        tile.alias("__qtile"),
    )
    q = q.select(
        query_id_col, "__qx", "__qy",
        _undilate_expr(F.col("__qtile")).alias("__tx"),
        _undilate_expr(F.shiftright(F.col("__qtile"), 1)).alias("__ty"),
    )
    q = q.select(
        query_id_col, "__qx", "__qy",
        F.explode(
            _neighbor_tiles_expr("__tx", "__ty", tile_level)
        ).alias("tile"),
    )
    if broadcast_queries:
        q = F.broadcast(q)
    cand = d.join(q, on="tile")
    dist = F.sqrt(
        (F.col("__dx") - F.col("__qx")) * (F.col("__dx") - F.col("__qx"))
        + (F.col("__dy") - F.col("__qy")) * (F.col("__dy") - F.col("__qy"))
    )
    scored = (
        cand.withColumn("distance", dist)
        .where((F.col("distance") <= radius) & (F.col(query_id_col) != F.col("neighbor_id")))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "distance", "rank")
    )
