"""Tiled / z-ordered table writer.

Writes a points table spatially clustered: rows hash-distributed by
their coarse tile id (Spark's REBALANCE hint, which under AQE also
coalesces small tiles and splits skewed ones), directory-partitioned
by that tile, and sorted inside each task by ``(tile, key)`` where the
key is the full-depth curve key (the batch analogue of the reference's
Morton sort, detail/index/construction/phase_1.cuh).  A tile is an
aligned quadrant, which is one contiguous range of either curve, so
every written file holds one tile's rows in curve order.  Readers then
get:

- partition pruning for `points_in_spatial_window` and tile joins
  (the tile is a directory key);
- intra-file locality for any per-tile refine (rows of one quadrant
  are adjacent, ordered along the curve).

The distribution samples nothing: the write is one shuffle and one
write stage, with no range-bounds job re-running the caller's plan
(the ``hash`` write distribution Iceberg uses for partitioned tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import inside_aoi, morton_key_expr, tile_expr


def write_tiled(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    max_depth: int = 15,
    tile_level: int = 6,
    scale: float | None = None,
    mode: str = "overwrite",
    cluster: str = "morton",
) -> None:
    """cluster='morton' (default) sorts each file by the quadtree key,
    so a file's key range is its quadrant and aligns exactly with the
    tile join.  cluster='hilbert' sorts by the S2-style Hilbert key
    instead: consecutive rows stay spatially connected (no Z-order
    diagonal jumps), so parquet row-group min/max stats stay tight for
    window/kNN scans.  Either way the directory `tile` key is
    Morton-derived, so partition pruning is unchanged.

    Rows outside the AOI, or with a null, NaN or infinite coordinate,
    are filed under tile -1.  Their Morton key is the sentinel, whose
    top bits are the real top-right tile: filed there, they would
    widen that tile's file bounds to wherever they lie.

    The sort is on ``(tile, key)``: the partitioned writer needs its
    input ordered by ``tile``, and with ``tile`` as the leading sort
    key Spark keeps this sort instead of replacing it with its own
    ``tile``-only one."""
    if scale is None:
        scale = max(x_max - x_min, y_max - y_min) / ((1 << max_depth) + 2)
    key = morton_key_expr(x, y, x_min, x_max, y_min, y_max, scale, max_depth)
    out = df.withColumn("morton_key", key).withColumn(
        "tile",
        F.when(inside_aoi(x, y, x_min, x_max, y_min, y_max),
               tile_expr(F.col("morton_key"), max_depth, tile_level)).otherwise(F.lit(-1)),
    )
    if cluster == "hilbert":
        from ..functions.expressions import with_hilbert_key

        # clamp BOTH sides: a point below x_min/y_min would otherwise
        # yield a negative cell index whose Hilbert key is garbage and
        # gets persisted into the files (morton_key_expr maps
        # out-of-AOI points to a sentinel; here they clamp to the AOI
        # edge cell, keeping the key valid and the sort order sane)
        cmax = (1 << max_depth) - 1
        out = out.withColumn(
            "__hi",
            F.greatest(
                F.least(F.floor((F.col(x) - x_min) / scale), F.lit(cmax)), F.lit(0)
            ).cast("long"),
        ).withColumn(
            "__hj",
            F.greatest(
                F.least(F.floor((F.col(y) - y_min) / scale), F.lit(cmax)), F.lit(0)
            ).cast("long"),
        )
        out = with_hilbert_key(out, "__hi", "__hj", max_depth, key_col="hilbert_key")
        out = out.drop("__hi", "__hj")
        sort_key = "hilbert_key"
    elif cluster == "morton":
        sort_key = "morton_key"
    else:
        raise ValueError(f"unknown cluster curve: {cluster!r}")
    (
        out.hint("rebalance", "tile")
        .sortWithinPartitions("tile", sort_key)
        .write.mode(mode)
        .partitionBy("tile")
        .parquet(path)
    )


def read_tiled(spark, path: str) -> DataFrame:
    """Read back a tiled table; `tile` is a partition column, so tile
    predicates prune directories."""
    return spark.read.parquet(path)
