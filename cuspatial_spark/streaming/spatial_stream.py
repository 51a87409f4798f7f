"""Structured Streaming spatial operators.

The reference has no streaming surface (no watermarks/state anywhere
under /root/reference/python) — this module is the Spark-native
extension for continuous ingestion of geotagged pages/events:

- ``streaming_tile_counts``: watermarked sliding-window occupancy per
  Morton tile (the streaming form of quadtree leaf counts);
- ``streaming_pip_join``: the broadcast tile-filter + PIP refine plan
  applied to a stream (stateless — safe under any trigger);
- ``streaming_trajectory_state``: per-object running trajectory stats
  via ``applyInPandasWithState`` (custom stateful operator: cumulative
  distance, last position, point count).

All three return unstarted streaming DataFrames/queries so callers
choose sink + trigger.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.expressions import morton_key_expr, tile_expr
from ..geometry import PolygonArrays


def streaming_tile_counts(
    stream: DataFrame,
    x: str,
    y: str,
    ts: str,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int,
    tile_level: int,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Events per (time window, tile): watermark bounds state, the
    groupBy is the only shuffle, partial aggregation is map-side."""
    key = morton_key_expr(x, y, x_min, x_max, y_min, y_max, scale, max_depth)
    tiled = stream.withColumn("tile", tile_expr(key, max_depth, tile_level))
    win = F.window(F.col(ts), window, slide) if slide else F.window(F.col(ts), window)
    return (
        tiled.withWatermark(ts, watermark)
        .groupBy(win.alias("window"), "tile")
        .agg(F.count("*").alias("n_points"))
    )


def streaming_pip_join(
    stream: DataFrame,
    polygons: PolygonArrays,
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
) -> DataFrame:
    """The batch tile-join plan is stateless, so it applies to a
    streaming DataFrame unchanged (broadcast join + mapInPandas are
    both streaming-compatible)."""
    from ..plans.tile_join import point_in_polygon_join

    return point_in_polygon_join(
        stream, polygons, x=x, y=y, x_min=x_min, x_max=x_max,
        y_min=y_min, y_max=y_max, scale=scale, max_depth=max_depth,
        tile_level=tile_level, keep_columns=keep_columns,
    )


TRAJ_STATE_SCHEMA = StructType(
    [
        StructField("n_points", LongType(), False),
        StructField("total_distance", DoubleType(), False),
        StructField("last_x", DoubleType(), False),
        StructField("last_y", DoubleType(), False),
    ]
)

TRAJ_OUT_SCHEMA = StructType(
    [
        StructField("object_id", LongType(), False),
        StructField("n_points", LongType(), False),
        StructField("total_distance", DoubleType(), False),
    ]
)


def streaming_trajectory_state(
    stream: DataFrame,
    object_id: str = "object_id",
    x: str = "x",
    y: str = "y",
    ts: str = "timestamp",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Running per-object trajectory accumulator (count + cumulative
    step distance), the streaming analogue of
    trajectory_distances_and_speeds (reference core/trajectory.py:171-236)."""

    def update(key, pdfs, state: GroupState):
        total = 0.0
        n = 0
        last_x = last_y = None
        if state.exists:
            n, total, last_x, last_y = state.get
        for pdf in pdfs:
            pdf = pdf.sort_values(ts, kind="stable")
            xs = pdf[x].to_numpy(dtype=np.float64)
            ys = pdf[y].to_numpy(dtype=np.float64)
            if len(xs) == 0:
                continue
            if last_x is not None:
                xs = np.concatenate(([last_x], xs))
                ys = np.concatenate(([last_y], ys))
                steps = np.hypot(np.diff(xs), np.diff(ys))
                n += len(xs) - 1
            else:
                steps = np.hypot(np.diff(xs), np.diff(ys))
                n += len(xs)
            total += float(steps.sum())
            last_x, last_y = float(xs[-1]), float(ys[-1])
        state.update((n, total, last_x, last_y))
        yield pd.DataFrame(
            {"object_id": [key[0]], "n_points": [n], "total_distance": [total]}
        )

    return (
        stream.withWatermark(ts, watermark)
        .groupBy(object_id)
        .applyInPandasWithState(
            update,
            outputStructType=TRAJ_OUT_SCHEMA,
            stateStructType=TRAJ_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_trajectory_sessions(
    stream: DataFrame,
    object_id: str = "object_id",
    x: str = "x",
    y: str = "y",
    ts: str = "timestamp",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Idle-gap sessionization of trajectories: an object's pings
    group into sessions separated by >= ``gap`` of silence, emitting
    per-session point count, bounding box, and start/end — the
    streaming sessionized form of derive_trajectories +
    trajectory_bounding_boxes (reference core/trajectory.py:14-100,
    spatial/bounding.py) with Spark's native ``session_window`` state
    (watermark-bounded, merged incrementally — no custom state code).
    Works identically on a batch DataFrame (no watermark applied
    there by Spark's semantics)."""
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.col(object_id), F.session_window(F.col(ts), gap).alias("session"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min(x).alias("x_min"),
            F.max(x).alias("x_max"),
            F.min(y).alias("y_min"),
            F.max(y).alias("y_max"),
        )
        .select(
            object_id,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_points", "x_min", "x_max", "y_min", "y_max",
        )
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming form of textops.exact_duplicates: keep the first
    arrival of each exact text within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` (Spark 3.5+) bounds state by the
    watermark instead of keeping every key forever — the only
    state-size-safe shape for an unbounded crawl.  Dedup key is
    md5(text), so state rows are 16-byte digests, not documents.
    """
    return (
        stream.withColumn("__h", F.md5(F.col(text_col).cast("binary")))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def streaming_url_dedup(
    stream: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming form of textops.urls.url_dedup: keep the first
    arrival of each CANONICAL url within the watermark horizon — the
    crawl front-end's dedup stage (tracking params, case, www, default
    ports, fragments collapse to one key before any content work).

    Same state-size-safe shape as streaming_exact_dedup:
    dropDuplicatesWithinWatermark on the md5 of the canonical url, so
    state rows are 16-byte digests bounded by the watermark."""
    from ..textops.urls import canonical_url_expr

    return (
        stream.withColumn("__h", F.md5(canonical_url_expr(F.col(url_col))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )
