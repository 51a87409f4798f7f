"""Shuffle-path spatial join for polygon layers too large to broadcast.

The broadcast plan in ``tile_join.py`` is the default (points >>
polygons).  When the polygon layer itself is huge (millions of
geometries), it becomes a DataFrame of per-feature geometry arrays,
the row format of ``PolygonArrays.to_arrow``:

    polygons_df: (polygon_id:long, ring_offsets:array<int>,
                  xy:array<double>)   -- one row/polygon, ring offsets
                                         local to the polygon

The plan is the broadcast join's, with a shuffle in place of the
broadcast:
  1. one mapInArrow over the polygon rows: each Arrow batch becomes a
     ``PolygonArrays`` (offset arithmetic on the list buffers) and
     leaves as the broadcast join's own table, ``_polygon_tiles``:
     ``(tile, polygon_id, __inside, __edge, __segs)``, one row per
     covered tile holding its sub-cell masks and the polygon's edges
     that meet the tile row's y-band;
  2. optional SALTING of hot tiles: every point gets
     salt = pmod(hash(x, y), n_salt); hot-tile polygon rows are
     replicated n_salt times so the shuffle key (tile, salt) splits a
     skewed tile across n_salt reducers (web geotags cluster in
     cities — this is the expected case, AQE skew-join is the backstop)
  3. join the points inside the AOI (the broadcast join's filter)
     with the polygon-tiles on (tile[, salt]);
  4. the broadcast default's refine: the point's sub-cell masks, and
     in an edge sub-cell the JVM ray cast over ``__segs``.

Points never cross into Python, and the rows are the broadcast
default's (``edge_exact=False``), including a point exactly on an edge,
whose membership follows the crossing parity.

Output: point keep-columns + polygon_id for containment pairs.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geometry import PolygonArrays
from ..functions.expressions import inside_aoi
from .tile_join import _pip_jvm_hit_expr, _polygon_tiles, assign_tiles, _pip_table_schema


def _shuffle_candidates(
    points: DataFrame,
    polygons_df: DataFrame,
    x: str,
    y: str,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int,
    tile_level: int,
    need: list[str],
    salt: int,
    hot_tiles: list[int] | None,
    id_col: str,
    ring_offsets_col: str,
    xy_col: str,
) -> DataFrame:
    """The join before its refine: the ``need`` point columns of every
    (point, polygon) pair that shares a tile, with ``id_col`` and the
    polygon's ``__inside``, ``__edge`` and ``__segs``."""

    def polygon_tiles(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            polygons = PolygonArrays.from_arrow(batch, id_col, ring_offsets_col, xy_col)
            yield from _polygon_tiles(
                polygons, x_min, y_min, scale, max_depth, tile_level, id_col
            ).to_batches()

    ptiles = polygons_df.mapInArrow(polygon_tiles, _pip_table_schema(id_col))
    pts = assign_tiles(
        points.where(inside_aoi(x, y, x_min, x_max, y_min, y_max)).select(*need),
        x, y, x_min, x_max, y_min, y_max, scale, max_depth, tile_level,
    )

    join_keys = ["tile"]
    if salt > 0:
        salts = F.array(*[F.lit(s) for s in range(salt)])
        if hot_tiles is not None:
            hot = F.col("tile").isin([int(t) for t in hot_tiles])
            ptiles = ptiles.withColumn(
                "salt", F.explode(F.when(hot, salts).otherwise(F.array(F.lit(-1))))
            )
            pts = pts.withColumn(
                "salt",
                F.when(hot, F.pmod(F.hash(F.col(x), F.col(y)), F.lit(salt))).otherwise(F.lit(-1)),
            )
        else:
            ptiles = ptiles.withColumn("salt", F.explode(salts))
            pts = pts.withColumn("salt", F.pmod(F.hash(F.col(x), F.col(y)), F.lit(salt)))
        join_keys.append("salt")

    return pts.join(ptiles, on=join_keys, how="inner")


def point_in_polygon_join_shuffle(
    points: DataFrame,
    polygons_df: DataFrame,
    x: str = "x",
    y: str = "y",
    x_min: float = 0.0,
    x_max: float = 1.0,
    y_min: float = 0.0,
    y_max: float = 1.0,
    scale: float | None = None,
    max_depth: int = 15,
    tile_level: int = 8,
    keep_columns: list[str] | None = None,
    salt: int = 0,
    hot_tiles: list[int] | None = None,
    id_col: str = "polygon_id",
    ring_offsets_col: str = "ring_offsets",
    xy_col: str = "xy",
) -> DataFrame:
    """Shuffle-join variant of ``point_in_polygon_join``: the same rows
    as its default (``edge_exact=False``) refine, from a polygon layer
    held as DataFrame rows.

    ``salt`` > 0 replicates polygon-tile rows for ``hot_tiles`` (or
    all tiles when hot_tiles is None) across ``salt`` buckets and adds
    pmod(hash(x,y),salt) on the point side so one hot tile no longer
    lands on a single reducer.
    """
    if scale is None:
        scale = max(x_max - x_min, y_max - y_min) / ((1 << max_depth) + 2)
    keep = keep_columns if keep_columns is not None else list(points.columns)
    cand = _shuffle_candidates(
        points, polygons_df, x, y, x_min, x_max, y_min, y_max, scale, max_depth,
        tile_level, list(dict.fromkeys(keep + [x, y])), salt, hot_tiles, id_col,
        ring_offsets_col, xy_col,
    )
    hit = _pip_jvm_hit_expr("morton_key", x, y, max_depth, tile_level)
    return cand.where(hit).select(*keep, id_col)
