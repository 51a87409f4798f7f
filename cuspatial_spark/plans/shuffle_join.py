"""Shuffle-path spatial join for polygon layers too large to broadcast.

The broadcast plan in ``tile_join.py`` is the default (points >>
polygons).  When the polygon layer itself is huge (millions of
geometries), it becomes a DataFrame of per-feature geometry arrays:

    polygons_df: (polygon_id:long, ring_offsets:array<int>,
                  xy:array<double>)   -- GeoArrow-flat, one row/polygon

The plan:
  1. polygons -> bbox (vectorized) -> explode to covered tiles
  2. optional SALTING of hot tiles: every point gets
     salt = pmod(hash(point id), n_salt); hot-tile polygon rows are
     replicated n_salt times so the shuffle key (tile, salt) splits a
     skewed tile across n_salt reducers (web geotags cluster in
     cities — this is the expected case, AQE skew-join is the backstop)
  3. shuffle hash join points x polygon-tiles on (tile[, salt])
  4. vectorized PIP refine per Arrow batch, polygon geometry carried
     inline in the joined rows

Output: point keep-columns + polygon_id for containment pairs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..kernels.pip import point_in_polygon_pairs
from .tile_join import assign_tiles, tiles_covering_bboxes


def polygon_tiles_df(
    polygons_df: DataFrame,
    x_min: float,
    y_min: float,
    scale: float,
    max_depth: int,
    tile_level: int,
    xy_col: str = "xy",
) -> DataFrame:
    """Explode each polygon row to the tiles its bbox covers (the same
    cover as the broadcast plan, ``tiles_covering_bboxes``).
    Vectorized per Arrow batch; output carries the geometry inline so
    the refine needs no second join."""
    out_schema = StructType(
        [StructField("tile", LongType(), False)] + polygons_df.schema.fields
    )

    def explode_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xy = pdf[xy_col]
            row_idx, tiles = tiles_covering_bboxes(
                np.array([np.min(v[::2]) for v in xy]),
                np.array([np.min(v[1::2]) for v in xy]),
                np.array([np.max(v[::2]) for v in xy]),
                np.array([np.max(v[1::2]) for v in xy]),
                x_min, y_min, scale, max_depth, tile_level,
            )
            out = pdf.iloc[row_idx].reset_index(drop=True)
            out.insert(0, "tile", tiles)
            yield out

    return polygons_df.mapInPandas(explode_tiles, schema=out_schema)


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
    """Shuffle-join variant of ``point_in_polygon_join``.

    ``salt`` > 0 replicates polygon-tile rows for ``hot_tiles`` (or
    all tiles when hot_tiles is None) across ``salt`` buckets and adds
    pmod(hash(x,y),salt) on the point side so one hot tile no longer
    lands on a single reducer.
    """
    if scale is None:
        scale = max(x_max - x_min, y_max - y_min) / ((1 << max_depth) + 2)
    keep = keep_columns if keep_columns is not None else list(points.columns)

    ptiles = polygon_tiles_df(
        polygons_df, x_min, y_min, scale, max_depth, tile_level, xy_col
    )
    pts = assign_tiles(points, x, y, x_min, x_max, y_min, y_max, scale, max_depth, tile_level)
    need = list(dict.fromkeys(keep + [x, y]))
    pts = pts.select(*need, "tile")

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
                F.when(
                    F.col("tile").isin([int(t) for t in hot_tiles]),
                    F.pmod(F.hash(F.col(x), F.col(y)), F.lit(salt)),
                ).otherwise(F.lit(-1)),
            )
        else:
            ptiles = ptiles.withColumn("salt", F.explode(salts))
            pts = pts.withColumn("salt", F.pmod(F.hash(F.col(x), F.col(y)), F.lit(salt)))
        join_keys.append("salt")

    cand = pts.join(ptiles, on=join_keys, how="inner")

    out_schema = StructType(
        [points.schema[c] for c in keep] + [StructField(id_col, LongType(), False)]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # compact per-batch polygon table: one entry per distinct
            # polygon present; points map to it via unique's inverse
            ids, first_idx, inv = np.unique(
                pdf[id_col].to_numpy(), return_index=True, return_inverse=True
            )
            ring_offsets = [0]
            poly_offsets = [0]
            px_parts, py_parts = [], []
            for j in first_idx:  # loop over DISTINCT polygons only
                ro = np.asarray(pdf[ring_offsets_col].iloc[j], dtype=np.int64)
                xy = np.asarray(pdf[xy_col].iloc[j], dtype=np.float64)
                for ri in range(len(ro) - 1):
                    ring_offsets.append(ring_offsets[-1] + (ro[ri + 1] - ro[ri]))
                poly_offsets.append(len(ring_offsets) - 1)
                px_parts.append(xy[::2])
                py_parts.append(xy[1::2])
            px = np.concatenate(px_parts) if px_parts else np.zeros(0)
            py = np.concatenate(py_parts) if py_parts else np.zeros(0)
            hits = point_in_polygon_pairs(
                pdf[x].to_numpy(), pdf[y].to_numpy(), inv,
                np.asarray(poly_offsets), np.asarray(ring_offsets), px, py,
            )
            out = pdf.loc[hits, keep].copy()
            out[id_col] = pdf[id_col].to_numpy()[hits]
            yield out

    return cand.mapInPandas(refine, schema=out_schema)
