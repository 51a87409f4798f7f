"""Seeded input generators.  The engine receives only what these build:
a polygon layer, a road (linestring) layer, uniformly geotagged pages,
and a per-seed page-id offset.  The same seed gives the same inputs."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuspatial_spark.geometry import LinestringArrays, PolygonArrays
from cuspatial_spark.sources import geotag_points, synth_webpages

# Area of interest and tile grid shared by every workload: an 8 x 8
# square, 4096 cells per side, 32 x 32 tiles of 0.25 x 0.25.
X_MIN, X_MAX, Y_MIN, Y_MAX = 0.0, 8.0, 0.0, 8.0
AOI = dict(x_min=X_MIN, x_max=X_MAX, y_min=Y_MIN, y_max=Y_MAX)
MAX_DEPTH = 12
TILE_LEVEL = 5


# Pages are generated in SLICES equal partitions, of which a seed keeps
# PARTS (see ``pages``): room for every offset ``page_offset`` picks.
PARTS = 4
SLICES = 2 * PARTS - 1


def page_offset(seed: int, n: int) -> int:
    """First page id of this seed's ``n`` pages (ids are what urls, text
    and geotags derive from): a whole number of n / PARTS slices."""
    return int(np.random.default_rng([seed, 1]).integers(0, PARTS)) * (n // PARTS)


def polygon_layer(seed: int, n: int = 400, vertices: int = 12) -> PolygonArrays:
    """n star-shaped 12-gons (sorted angles, so every ring is simple),
    radii 0.1-0.3, centres uniform over the AOI."""
    rng = np.random.default_rng([seed, 2])
    cx = rng.uniform(X_MIN + 0.3, X_MAX - 0.3, n)
    cy = rng.uniform(Y_MIN + 0.3, Y_MAX - 0.3, n)
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, (n, vertices)), axis=1)
    rad = rng.uniform(0.1, 0.3, (n, vertices))
    x = (cx[:, None] + rad * np.cos(ang)).ravel()
    y = (cy[:, None] + rad * np.sin(ang)).ravel()
    ring_offsets = np.arange(0, n * vertices + 1, vertices)
    return PolygonArrays(np.arange(n + 1), ring_offsets, x, y)


# Road grid: horizontal roads every GRID_SPACING, so every point in the
# AOI is within GRID_SPACING / 2 + JITTER of a road; ROAD_RADIUS is the
# nearest-linestring expansion radius, larger than that bound, so the
# join's answer is the global nearest road for every point.
GRID_SPACING = 1.0
JITTER = 0.05
ROAD_RADIUS = 0.6


def road_layer(seed: int, n_random: int = 120, steps: int = 6) -> LinestringArrays:
    """Horizontal grid roads (jittered, one vertex per unit of x) plus
    ``n_random`` short random-walk roads."""
    rng = np.random.default_rng([seed, 3])
    xs, ys, offsets = [], [], [0]
    for k in range(int((Y_MAX - Y_MIN) / GRID_SPACING)):
        vx = np.arange(X_MIN, X_MAX + 1e-9, 1.0)
        vy = Y_MIN + (k + 0.5) * GRID_SPACING + rng.uniform(-JITTER, JITTER, len(vx))
        xs.append(vx), ys.append(vy), offsets.append(offsets[-1] + len(vx))
    for _ in range(n_random):
        x0, y0 = rng.uniform(X_MIN + 1, X_MAX - 1, 2)
        vx = x0 + np.concatenate(([0.0], np.cumsum(rng.uniform(-0.2, 0.2, steps))))
        vy = y0 + np.concatenate(([0.0], np.cumsum(rng.uniform(-0.2, 0.2, steps))))
        xs.append(vx), ys.append(vy), offsets.append(offsets[-1] + len(vx))
    return LinestringArrays(offsets, np.concatenate(xs), np.concatenate(ys))


def pages(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """Pages ``offset .. offset + n - 1`` of the synthetic web-pages
    source, with their page id as ``doc_id``.  Every seed generates the
    same SLICES slices of n / PARTS pages, one per partition, and keeps
    its own PARTS of them; so set-up does the same work whatever the
    seed, and the kept pages sit in PARTS equal partitions."""
    if n % PARTS:
        raise ValueError(f"page count {n} is not a multiple of {PARTS}")
    offset = page_offset(seed, n)
    df = synth_webpages(spark, SLICES * (n // PARTS), SLICES)
    doc_id = F.substring_index(F.col("url"), "/", -1).cast("long")
    return df.withColumn("doc_id", doc_id).where(
        (F.col("doc_id") >= offset) & (F.col("doc_id") < offset + n))


def uniform_points(df: DataFrame) -> DataFrame:
    return geotag_points(df, X_MIN, X_MAX, Y_MIN, Y_MAX)
