"""quadtree_on_points — partition-local quadtree construction.

Reference: core/spatial/indexing.py:15-199 + detail/point_quadtree.cuh.
Each input partition builds its own flat quadtree (the
"partition-local quadtree refinement" of the target design); the
returned DataFrame carries a part_id so callers can reassemble or
join per-partition.  For the global coarse index use
``cuspatial_spark.functions.morton_key_expr`` / ``tile_expr`` —
pure-JVM columns that partition the data before any tree is built.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from ..kernels.quadtree import build_quadtree
from .join import QUADTREE_SCHEMA

POINT_ORDER_SCHEMA = StructType(
    [
        StructField("part_id", LongType(), False),
        StructField("sorted_pos", LongType(), False),
        StructField("point_index", LongType(), False),
    ]
)


def quadtree_on_points(
    points: DataFrame,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int,
    max_size: int,
    x: str = "x",
    y: str = "y",
) -> tuple[DataFrame, DataFrame]:
    """Returns (key_to_point, quadtree) DataFrames.

    key_to_point: (part_id, sorted_pos, point_index) — the stable
    Morton-sort permutation per partition (reference `key_to_point`).
    quadtree: (part_id, key, level, is_internal_node, length, offset).
    """

    def run_tree(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        if len(pdf) == 0:
            return
        _, qt = build_quadtree(
            pdf[x].to_numpy(), pdf[y].to_numpy(),
            x_min, x_max, y_min, y_max, scale, max_depth, max_size,
        )
        part = int(pdf["part_id"].iloc[0]) if "part_id" in pdf else 0
        yield pd.DataFrame(
            {
                "part_id": np.full(len(qt.key), part, dtype=np.int64),
                "key": qt.key.astype(np.int64),
                "level": qt.level.astype(np.int64),
                "is_internal_node": qt.is_internal_node,
                "length": qt.length.astype(np.int64),
                "offset": qt.offset.astype(np.int64),
            }
        )

    def run_order(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        if len(pdf) == 0:
            return
        order, _ = build_quadtree(
            pdf[x].to_numpy(), pdf[y].to_numpy(),
            x_min, x_max, y_min, y_max, scale, max_depth, max_size,
        )
        part = int(pdf["part_id"].iloc[0]) if "part_id" in pdf else 0
        yield pd.DataFrame(
            {
                "part_id": np.full(len(order), part, dtype=np.int64),
                "sorted_pos": np.arange(len(order), dtype=np.int64),
                "point_index": order.astype(np.int64),
            }
        )

    return (
        points.mapInPandas(run_order, schema=POINT_ORDER_SCHEMA),
        points.mapInPandas(run_tree, schema=QUADTREE_SCHEMA),
    )


def quadtree_on_points_global(
    points: DataFrame,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int,
    max_size: int,
    x: str = "x",
    y: str = "y",
    max_driver_cells: int = 2_000_000,
):
    """GLOBAL quadtree over an arbitrarily large distributed table.

    The construction only consumes per-cell point counts, so the wide
    part is exactly one aggregation: groupBy(full-depth Morton key)
    count — Morton keys are pure-JVM expressions, partial aggregation
    bounds shuffle volume by the number of OCCUPIED cells (<= 4^depth),
    and the node table (also <= occupied-cell count) is built on the
    driver with the identical NumPy construction the goldens verify.

    Depth guard: at deep ``max_depth`` the occupied-cell count
    approaches the point count, which would OOM the driver collect.
    If more than ``max_driver_cells`` cells are occupied, the build is
    CLAMPED to the deepest level whose occupied-cell count fits (a
    coarser but valid quadtree — leaves may exceed ``max_size``), with
    a warning.  The level walk re-aggregates the *persisted cell
    table* (never the points), so each probe shuffles at most the
    occupied-cell rows.

    Returns a pandas DataFrame with the reference's 5 columns (key,
    level, is_internal_node, length, offset); offsets index the global
    Morton-sorted point order, which is well-defined without ever
    materializing a global sort (position = rank of key).
    """
    import warnings

    import pandas as pd
    from pyspark.sql import functions as F

    from ..functions.expressions import morton_key_expr
    from ..kernels.quadtree import build_quadtree_from_cell_counts, clamp_scale

    x_min, x_max, y_min, y_max, scale = clamp_scale(
        x_min, x_max, y_min, y_max, scale, max_depth
    )
    key = morton_key_expr(x, y, x_min, x_max, y_min, y_max, scale, max_depth)
    cells_df = points.select(key.alias("cell")).groupBy("cell").count()
    depth = max_depth
    try:
        cells_df.persist()
        n_cells = cells_df.count()
        if n_cells > max_driver_cells:
            # each level up merges 4 children; the out-of-AOI sentinel
            # (all-ones key) shifts onto the coarser sentinel, so a
            # plain right-shift re-keys correctly
            while depth > 0:
                depth -= 1
                shift = 2 * (max_depth - depth)
                n = (
                    cells_df.select(F.shiftright("cell", shift).alias("c"))
                    .distinct()
                    .count()
                )
                if n <= max_driver_cells:
                    break
            warnings.warn(
                f"quadtree_on_points_global: {n_cells} occupied cells at depth "
                f"{max_depth} exceed max_driver_cells={max_driver_cells}; "
                f"clamping build to depth {depth}"
            )
            shift = 2 * (max_depth - depth)
            cells = (
                cells_df.groupBy(F.shiftright("cell", shift).alias("cell"))
                .agg(F.sum("count").alias("count"))
                .orderBy("cell")
                .toPandas()
            )
        else:
            cells = cells_df.orderBy("cell").toPandas()
    finally:
        cells_df.unpersist()
    qt = build_quadtree_from_cell_counts(
        cells["cell"].to_numpy(), cells["count"].to_numpy(), depth, max_size
    )
    return pd.DataFrame(
        {
            "key": qt.key.astype(np.int64),
            "level": qt.level.astype(np.int64),
            "is_internal_node": qt.is_internal_node,
            "length": qt.length.astype(np.int64),
            "offset": qt.offset.astype(np.int64),
        }
    )
