"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is implemented with the cuspatial_spark
library operators; ``oracle_sql()`` holds the ANSI-SQL equivalent for
DuckDB over the same parquet views.  Column names/aliases match
exactly on both sides; floating results that depend on libm trig are
rounded identically on both sides, everything else is emitted raw
(IEEE arithmetic in identical expression order is byte-exact across
engines).

Geotag derivation (shared by all spatial queries): deterministic
integer arithmetic over event_id mapped into the [0,8)^2 AOI.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------- fixtures

AOI = dict(x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0)
MAX_DEPTH = 8
TILE_LEVEL = 4

# the reference test-suite polygon layer (4 polygons / 19 vertices,
# test_spatial_join.py:14-63) — also used as the linestring layer
POLY_OFFSETS = [0, 1, 2, 3, 4]
RING_OFFSETS = [0, 4, 10, 14, 19]
POLY_X = [2.488450, 1.333584, 3.460720, 2.488450, 5.039823, 5.561707,
          7.103516, 7.190674, 5.998939, 5.039823, 5.998939, 5.573720,
          6.703534, 5.998939, 2.088115, 1.034892, 2.415080, 3.208660, 2.088115]
POLY_Y = [5.856625, 5.008840, 4.586599, 5.856625, 4.229242, 1.825073,
          1.503906, 4.025879, 5.653384, 4.229242, 1.235638, 0.197808,
          0.086693, 1.235638, 4.541529, 3.530299, 2.896937, 3.745936, 4.541529]


# synthetic single-segment linestring layer with integer coordinates
# (exact in f64) engineered to exercise every ls-ls relationship vs L0:
# L0 horizontal base, L1 proper cross, L2 endpoint touch, L3 collinear
# partial overlap, L4 disjoint/parallel
TL_OFFSETS = [0, 2, 4, 6, 8, 10]
TL_X = [0.0, 4.0, 1.0, 1.0, 4.0, 6.0, 2.0, 6.0, 0.0, 4.0]
TL_Y = [0.0, 0.0, -1.0, 1.0, 0.0, 2.0, 0.0, 0.0, 3.0, 3.0]


def _tlines():
    from cuspatial_spark.geometry import LinestringArrays

    return LinestringArrays(TL_OFFSETS, TL_X, TL_Y)


def _tl_values() -> str:
    """tl(line_id, ax, ay, bx, by) VALUES rows for the synthetic
    single-segment layer."""
    rows = []
    for i in range(5):
        rows.append(
            f"({i}, CAST({TL_X[2*i]!r} AS DOUBLE), CAST({TL_Y[2*i]!r} AS DOUBLE), "
            f"CAST({TL_X[2*i+1]!r} AS DOUBLE), CAST({TL_Y[2*i+1]!r} AS DOUBLE))"
        )
    return ",\n".join(rows)


# second synthetic single-segment layer aimed at the fixture polygons:
# M0 strictly inside polygon 1, M1 crosses polygon 1, M2 outside all
TL2_OFFSETS = [0, 2, 4, 6]
TL2_X = [6.0, 6.4, 4.0, 8.0, 0.0, 1.0]
TL2_Y = [3.0, 3.2, 3.0, 3.0, 7.0, 7.0]


def _tlines2():
    from cuspatial_spark.geometry import LinestringArrays

    return LinestringArrays(TL2_OFFSETS, TL2_X, TL2_Y)


def _tl2_values() -> str:
    rows = []
    for i in range(3):
        rows.append(
            f"({i}, CAST({TL2_X[2*i]!r} AS DOUBLE), CAST({TL2_Y[2*i]!r} AS DOUBLE), "
            f"CAST({TL2_X[2*i+1]!r} AS DOUBLE), CAST({TL2_Y[2*i+1]!r} AS DOUBLE))"
        )
    return ",\n".join(rows)


def _polygons():
    from cuspatial_spark.geometry import PolygonArrays

    return PolygonArrays(POLY_OFFSETS, RING_OFFSETS, POLY_X, POLY_Y)


# multi-part layers (integer coordinates, exact in f64): 4
# multilinestrings of 2 parts each (a 3-point chain + a 2-point
# segment) and 4 multipolygons of 2 triangle parts each
def _mls():
    from cuspatial_spark.geometry import MultiLinestringArrays

    part_offsets, xs, ys = [0], [], []
    for g in range(4):
        xs += [g, g + 1, g + 2]; ys += [0, 1, 0]
        part_offsets.append(part_offsets[-1] + 3)
        xs += [g, g + 1]; ys += [4, 5]
        part_offsets.append(part_offsets[-1] + 2)
    return MultiLinestringArrays.from_linestrings_xy(
        np.asarray([v for p in zip(xs, ys) for v in p], dtype=np.float64),
        part_offsets, [0, 2, 4, 6, 8],
    )


def _mpoly():
    from cuspatial_spark.geometry import MultiPolygonArrays

    ring_offsets, xs, ys = [0], [], []
    for g in range(4):
        xs += [g, g + 2, g + 1, g]; ys += [g, g, g + 2, g]
        ring_offsets.append(ring_offsets[-1] + 4)
        xs += [g + 4, g + 6, g + 5, g + 4]; ys += [g, g, g + 2, g]
        ring_offsets.append(ring_offsets[-1] + 4)
    return MultiPolygonArrays.from_polygons_xy(
        np.asarray([v for p in zip(xs, ys) for v in p], dtype=np.float64),
        ring_offsets, list(range(9)), [0, 2, 4, 6, 8],
    )


def _mls_seg_values() -> str:
    """mlsegs(geom_id, ax, ay, bx, by): all part segments per
    multilinestring geometry."""
    mls = _mls()
    po = mls.parts.part_offsets
    rows = []
    for g in range(len(mls)):
        for p in range(mls.geometry_offsets[g], mls.geometry_offsets[g + 1]):
            for i in range(int(po[p]), int(po[p + 1]) - 1):
                rows.append(
                    f"({g}, CAST({mls.parts.x[i]!r} AS DOUBLE), CAST({mls.parts.y[i]!r} AS DOUBLE), "
                    f"CAST({mls.parts.x[i+1]!r} AS DOUBLE), CAST({mls.parts.y[i+1]!r} AS DOUBLE))"
                )
    return ",\n".join(rows)


def _mpoly_seg_values() -> str:
    """mpsegs(geom_id, part_id, ax, ay, bx, by): ring segments per
    multipolygon part, kernel orientation (prev -> current swapped to
    (current, prev) like segs)."""
    mp = _mpoly()
    po, ro = mp.parts.part_offsets, mp.parts.ring_offsets
    px, py = mp.parts.x, mp.parts.y
    rows = []
    for g in range(len(mp)):
        for p in range(mp.geometry_offsets[g], mp.geometry_offsets[g + 1]):
            for r in range(int(po[p]), int(po[p + 1])):
                s, e = int(ro[r]), int(ro[r + 1])
                for i in range(s, e):
                    prev = e - 1 if i == s else i - 1
                    if px[i] == px[prev] and py[i] == py[prev]:
                        continue
                    rows.append(
                        f"({g}, {p}, CAST({px[i]!r} AS DOUBLE), CAST({py[i]!r} AS DOUBLE), "
                        f"CAST({px[prev]!r} AS DOUBLE), CAST({py[prev]!r} AS DOUBLE))"
                    )
    return ",\n".join(rows)


def _linestrings():
    from cuspatial_spark.geometry import LinestringArrays

    return LinestringArrays(RING_OFFSETS, POLY_X, POLY_Y)


def _spread(df: DataFrame) -> DataFrame:
    """The driver's testdata parquet files are single row-group (one
    scan partition), which would serialize per-row compute onto one
    core.  Spread them once after the scan; at production scale the
    scan is already split and this becomes a no-op choice.

    r6 (guide §2.2/§2.5): HASH-partition on the table's id column at
    defaultParallelism instead of round-robin at 2x.  Round-robin
    pays a local sort of the (single) input partition
    (spark.sql.execution.sortBeforeRepartition, SPARK-23207) — a
    serial sort of the whole table before any parallelism exists —
    while a deterministic hash needs none.  Halving the map-task
    count also halves every downstream shuffle's M x R block count
    (this box charges ~0.4 ms per block), and ops later keyed on the
    same id (groupBy doc_id joins etc.) reuse the partitioning
    outright instead of re-exchanging.  Ids are unique, so the hash
    spread is uniform by construction — no skew risk."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, df[df.columns[0]])


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _points_unspread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_points hash-partitioned by USER — for the trajectory queries,
    whose every downstream operator (lag window, summary groupBy,
    last-fix aggregate) is keyed on user_id: the single explicit
    exchange establishes the partitioning ONCE and every consumer
    reuses it (guide §2.4), where the previous unspread form ran each
    consumer's partial aggregation serially over the one-row-group
    scan (r6 A/B at sf1.0: 0.98 s -> 0.78 s).  A round-robin spread
    here instead LOSES ~4x (r5 measurement at sf0.1: 3.9 s vs 0.85 s)
    because none of its exchanges are reusable."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = e.select(
        "event_id",
        "user_id",
        "ts",
        ((F.col("event_id") * 2654435761 % 1000003) / 1000003.0 * 8.0).alias("x"),
        ((F.col("event_id") * 40503 % 999983) / 999983.0 * 8.0).alias("y"),
    )
    return pts.repartition(spark.sparkContext.defaultParallelism, "user_id")


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + derived (x, y) geotags — exact integer arithmetic."""
    e = _events(spark, sf_dir)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        ((F.col("event_id") * 2654435761 % 1000003) / 1000003.0 * 8.0).alias("x"),
        ((F.col("event_id") * 40503 % 999983) / 999983.0 * 8.0).alias("y"),
    )

POINTS_SQL = """
SELECT event_id, user_id, ts,
       (event_id * 2654435761 % 1000003) / 1000003.0 * 8.0 AS x,
       (event_id * 40503 % 999983) / 999983.0 * 8.0 AS y
FROM events
"""

# segments of every polygon ring (closing segment included) as a SQL
# VALUES table: (poly_id, ax, ay, bx, by) — mirrors kernels/pip.py
def _segments_values(offsets=None) -> str:
    ro = np.asarray(RING_OFFSETS)
    po = np.asarray(POLY_OFFSETS)
    rows = []
    for p in range(len(po) - 1):
        for r in range(po[p], po[p + 1]):
            s, e = ro[r], ro[r + 1]
            for i in range(s, e):
                prev = e - 1 if i == s else i - 1
                rows.append(
                    f"({p}, CAST({POLY_X[i]!r} AS DOUBLE), CAST({POLY_Y[i]!r} AS DOUBLE), "
                    f"CAST({POLY_X[prev]!r} AS DOUBLE), CAST({POLY_Y[prev]!r} AS DOUBLE))"
                )
    return ",\n".join(rows)


def _poly_bbox_values() -> str:
    """(bbox_id, minx, miny, maxx, maxy) of the fixture polygon layer,
    embedded with full-precision repr (identical arrays feed the
    kernel)."""
    minx, miny, maxx, maxy = _polygons().bounding_boxes()
    return ",\n".join(
        f"({i}, CAST({minx[i]!r} AS DOUBLE), CAST({miny[i]!r} AS DOUBLE), "
        f"CAST({maxx[i]!r} AS DOUBLE), CAST({maxy[i]!r} AS DOUBLE))"
        for i in range(len(minx))
    )


def _mode_multipoint_values() -> str:
    """(mp_id, px, py) vertex rows of the _mode_multipoints fixture."""
    mps = _mode_multipoints()
    rows = []
    for m in range(len(mps.part_offsets) - 1):
        for i in range(int(mps.part_offsets[m]), int(mps.part_offsets[m + 1])):
            rows.append(
                f"({m}, CAST({mps.x[i]!r} AS DOUBLE), CAST({mps.y[i]!r} AS DOUBLE))"
            )
    return ",\n".join(rows)


def _line_segments_values() -> str:
    """(line_id, seg_id, ax, ay, bx, by) consecutive-vertex segments."""
    ro = np.asarray(RING_OFFSETS)
    rows = []
    for li in range(len(ro) - 1):
        for k, i in enumerate(range(ro[li], ro[li + 1] - 1)):
            rows.append(
                f"({li}, {k}, CAST({POLY_X[i]!r} AS DOUBLE), CAST({POLY_Y[i]!r} AS DOUBLE), "
                f"CAST({POLY_X[i+1]!r} AS DOUBLE), CAST({POLY_Y[i+1]!r} AS DOUBLE))"
            )
    return ",\n".join(rows)


def _dilate_sql(col: str) -> str:
    """The z_order.py shift-mask dilation as SQL text."""
    x = f"CAST({col} AS BIGINT)"
    x = f"(({x} | ({x} << 8)) & 16711935)"
    x = f"(({x} | ({x} << 4)) & 252645135)"
    x = f"(({x} | ({x} << 2)) & 858993459)"
    x = f"(({x} | ({x} << 1)) & 1431655765)"
    return x


def _morton_sql(xcol: str, ycol: str, scale: float, max_depth: int) -> str:
    cmax = (1 << max_depth) - 1
    ux = f"LEAST(FLOOR(({xcol} - 0.0) / {scale!r}), {cmax})"
    uy = f"LEAST(FLOOR(({ycol} - 0.0) / {scale!r}), {cmax})"
    key = f"(({_dilate_sql(uy)} << 1) | {_dilate_sql(ux)})"
    sentinel = (1 << (2 * max_depth)) - 1
    return (
        f"CASE WHEN {xcol} < 0.0 OR {xcol} > 8.0 OR {ycol} < 0.0 OR {ycol} > 8.0 "
        f"THEN {sentinel} ELSE {key} END"
    )


_SCALE = 8.0 / ((1 << MAX_DEPTH) + 2)  # clamped min scale for the AOI


def _raster_grid_sql() -> str:
    """The distributed cell-center grid of operators/raster.py as a
    DuckDB CTE (range table function).  Every center coordinate is an
    exact multiple of cell_size/2, representable in both decimal and
    binary floating point, so the CAST chain is lossless and the
    ray-cast comparisons match Spark bit-for-bit."""
    w, h = RASTER["width"], RASTER["height"]
    cs, ox, oy = RASTER["cell_size"], RASTER["x_min"], RASTER["y_min"]
    return (
        f"g AS (SELECT CAST(t.v % {w} AS BIGINT) AS i, "
        f"CAST(t.v // {w} AS BIGINT) AS j, "
        f"CAST({ox!r} + (CAST(t.v % {w} AS BIGINT) + 0.5) * {cs!r} AS DOUBLE) AS cx, "
        f"CAST({oy!r} + (CAST(t.v // {w} AS BIGINT) + 0.5) * {cs!r} AS DOUBLE) AS cy "
        f"FROM range(0, {w * h}) t(v))"
    )


# ---------------------------------------------------------------- queries


def q_spatial_window(spark, sf_dir):
    from cuspatial_spark.operators import points_in_spatial_window

    return points_in_spatial_window(
        _points(spark, sf_dir).select("event_id", "x", "y"), 1.0, 7.0, 1.0, 7.0
    )


def q_tile_assign(spark, sf_dir):
    from cuspatial_spark.plans import assign_tiles

    pts = _points(spark, sf_dir).select("event_id", "x", "y")
    return assign_tiles(
        pts, "x", "y", **AOI, scale=_SCALE, max_depth=MAX_DEPTH, tile_level=TILE_LEVEL
    ).select("event_id", "morton_key", "tile")


def q_pip_join(spark, sf_dir):
    from cuspatial_spark.plans import point_in_polygon_join

    pts = _points(spark, sf_dir).select("event_id", "x", "y")
    return point_in_polygon_join(
        pts, _polygons(), **AOI, max_depth=MAX_DEPTH, tile_level=TILE_LEVEL,
        keep_columns=["event_id"],
    ).select("event_id", "polygon_id")


def q_pip_shuffle(spark, sf_dir):
    """The SALTED SHUFFLE scale path of the flagship join (the plan
    for non-broadcastable polygon layers, plans/shuffle_join.py):
    polygon features travel as DataFrame rows exploded to covered
    tiles with their segment lists, the join shuffles on (tile, salt),
    and the refine is the broadcast plan's JVM ray cast.  Must produce
    the identical pair set as the broadcast pip_join — same oracle."""
    from cuspatial_spark.plans.shuffle_join import point_in_polygon_join_shuffle

    poly_df = spark.createDataFrame(_polygons().to_arrow())
    pts = _points(spark, sf_dir).select("event_id", "x", "y")
    return point_in_polygon_join_shuffle(
        pts, poly_df, **AOI, max_depth=MAX_DEPTH, tile_level=TILE_LEVEL,
        keep_columns=["event_id"], salt=4,
    ).select("event_id", "polygon_id")


def q_pip_edge_exact(spark, sf_dir):
    """The flagship join forced onto the Arrow KERNEL refine
    (edge_exact=True): the reference's ULP on-edge exclusion exactly
    (is_point_in_polygon.cuh edge rule).  The ray-cast SQL oracle
    replicates the kernel's crossing formula operation-for-operation,
    so this path must hash-match it — the golden-parity plan now has
    its own hard driver signal alongside the default JVM path."""
    from cuspatial_spark.plans import point_in_polygon_join

    pts = _points(spark, sf_dir).select("event_id", "x", "y")
    return point_in_polygon_join(
        pts, _polygons(), **AOI, max_depth=MAX_DEPTH, tile_level=TILE_LEVEL,
        keep_columns=["event_id"], edge_exact=True,
    ).select("event_id", "polygon_id")


def q_pip_bits(spark, sf_dir):
    from cuspatial_spark.operators import point_in_polygon

    pts = _points(spark, sf_dir).select("event_id", "x", "y")
    return point_in_polygon(pts, _polygons(), result_prefix="in_poly_").select(
        "event_id", "in_poly_0", "in_poly_1", "in_poly_2", "in_poly_3"
    )


def q_nearest_linestring(spark, sf_dir):
    from cuspatial_spark.plans import point_to_nearest_linestring_join

    pts = _points(spark, sf_dir).select("event_id", "x", "y")
    return point_to_nearest_linestring_join(
        pts, _linestrings(), expansion_radius=16.0, **AOI,
        max_depth=MAX_DEPTH, tile_level=3, keep_columns=["event_id"],
    ).select("event_id", "linestring_id", "distance")


def q_nearest_progressive(spark, sf_dir):
    """nearest_linestring under the radius widening the join always
    runs (plans/tile_join.py: inside each Arrow batch, rounds at tile,
    2*tile, ... up to the expansion radius over the still-unresolved
    points — the 100-TB candidate bound).  Widening is
    semantics-preserving: a point resolves in round r only when its
    round minimum is provably global, so the output must hash-match
    the single-shot oracle exactly."""
    from cuspatial_spark.plans import point_to_nearest_linestring_join

    pts = _points(spark, sf_dir).select("event_id", "x", "y")
    return point_to_nearest_linestring_join(
        pts, _linestrings(), expansion_radius=16.0, **AOI,
        max_depth=MAX_DEPTH, tile_level=3, keep_columns=["event_id"],
    ).select("event_id", "linestring_id", "distance")


def q_quadtree(spark, sf_dir):
    """The GLOBAL quadtree node table (op #1) over the events geotags:
    one distributed groupBy(full-depth Morton key) count, node table
    built from the histogram (operators/indexing.py:95).  The oracle
    re-derives the identical 5-column table in SQL: per-level count
    rollups, top-down internal pruning, leaf offsets as an exclusive
    scan over flattened-key order, internal offsets as an exclusive
    scan over (level, key) table order seeded with the level-0 node
    count — the same construction as kernels/quadtree.py:99-192."""
    from cuspatial_spark.operators.indexing import quadtree_on_points_global

    pts = _points(spark, sf_dir).select("x", "y")
    pdf = quadtree_on_points_global(
        pts, 0.0, 8.0, 0.0, 8.0, scale=0.0, max_depth=4, max_size=60
    )
    pdf = pdf.astype(
        {"key": "int64", "level": "int64", "is_internal_node": "bool",
         "length": "int64", "offset": "int64"}
    )
    return spark.createDataFrame(pdf)


def q_quadtree_bbox_join(spark, sf_dir):
    """Filter phase of the spatial join (op #5): the global quadtree's
    leaves BFS-matched against the fixture polygon bboxes
    (kernels/quadtree.py join_quadtree_and_bounding_boxes).  Because a
    leaf rectangle nests exactly inside its ancestors (power-of-two
    scalings are exact in f64), the BFS prune never removes a leaf
    whose own rectangle overlaps — so the oracle is the closed form:
    every (bbox, leaf) rectangle-overlap pair, with the kernel's exact
    strict comparison chain and node positions in (level, key) table
    order."""
    import pandas as pd

    from cuspatial_spark.kernels.quadtree import (
        Quadtree,
        join_quadtree_and_bounding_boxes,
    )
    from cuspatial_spark.operators.indexing import quadtree_on_points_global

    pts = _points(spark, sf_dir).select("x", "y")
    pdf = quadtree_on_points_global(
        pts, 0.0, 8.0, 0.0, 8.0, scale=0.0, max_depth=4, max_size=60
    )
    qt = Quadtree(
        key=pdf["key"].to_numpy(np.uint32),
        level=pdf["level"].to_numpy(np.uint8),
        is_internal_node=pdf["is_internal_node"].to_numpy(bool),
        length=pdf["length"].to_numpy(np.uint32),
        offset=pdf["offset"].to_numpy(np.uint32),
    )
    minx, miny, maxx, maxy = _polygons().bounding_boxes()
    bb, qq = join_quadtree_and_bounding_boxes(
        qt, minx, miny, maxx, maxy, 0.0, 8.0, 0.0, 8.0, 0.0, 4
    )
    return spark.createDataFrame(
        pd.DataFrame(
            {"bbox_offset": bb.astype("int64"), "quad_offset": qq.astype("int64")}
        )
    )


def q_haversine(spark, sf_dir):
    from cuspatial_spark.operators import haversine_distance

    pts = _points(spark, sf_dir)
    df = pts.select(
        "event_id",
        (F.col("x") * 10.0 - 40.0).alias("lon1"),
        (F.col("y") * 5.0 - 20.0).alias("lat1"),
        F.lit(2.0).alias("lon2"),
        F.lit(2.0).alias("lat2"),
    )
    return haversine_distance(df, "lon1", "lat1", "lon2", "lat2").select(
        "event_id", F.round("haversine_km", 4).alias("hav_km")
    )


def q_sinusoidal(spark, sf_dir):
    from cuspatial_spark.operators import sinusoidal_projection

    pts = _points(spark, sf_dir).select(
        "event_id",
        (F.col("x") * 10.0 - 40.0).alias("lon"),
        (F.col("y") * 5.0 - 20.0).alias("lat"),
    )
    out = sinusoidal_projection(pts, 0.0, 0.0, out_x="px", out_y="py")
    return out.select(
        "event_id", F.round("px", 4).alias("px"), F.round("py", 4).alias("py")
    )


def q_hausdorff(spark, sf_dir):
    from cuspatial_spark.operators import directed_hausdorff_distance

    pts = (
        _points(spark, sf_dir)
        .where(F.col("event_id") < 300)
        .withColumn("space_id", F.col("event_id") % 10)
    )
    out = directed_hausdorff_distance(pts, space="space_id")
    return out.select("space_i", "space_j", "distance")


def q_exact_dedup(spark, sf_dir):
    from cuspatial_spark.textops import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


def q_minhash(spark, sf_dir):
    from cuspatial_spark.textops import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir), num_hashes=4, shingle_k=8)


def q_lsh_pairs(spark, sf_dir):
    from cuspatial_spark.textops import lsh_candidate_pairs

    return lsh_candidate_pairs(
        _docs(spark, sf_dir), num_hashes=4, band_size=2, shingle_k=8
    )


def q_lsh_canonical(spark, sf_dir):
    """LSH canonical mode — the hot-bucket-capped 100-TB shape: each
    doc pairs only with its bucket's MINIMUM doc id (O(m) star pairs
    per bucket instead of m^2 allpairs; connected components
    identical).  Oracle replays the banding + per-bucket min in SQL."""
    from cuspatial_spark.textops import lsh_candidate_pairs

    return lsh_candidate_pairs(
        _docs(spark, sf_dir), num_hashes=4, band_size=2, shingle_k=8,
        mode="canonical",
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS + leakage-safe train/val/test split: LSH
    candidate pairs -> distributed connected components ->
    (doc_id, canonical_id, split), where the split is drawn from an
    arithmetic hash of the CANONICAL id so near-duplicates can never
    straddle train and eval (operators/graph.py leakage_safe_split).
    The oracle replays the same pair derivation, resolves components
    with a recursive CTE, and applies the identical hash arithmetic."""
    from cuspatial_spark.operators.graph import leakage_safe_split
    from cuspatial_spark.textops import lsh_candidate_pairs

    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(docs, num_hashes=4, band_size=2, shingle_k=8)
    return leakage_safe_split(docs, pairs).orderBy("doc_id")


def q_ngram_jaccard(spark, sf_dir):
    from cuspatial_spark.textops import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).where(F.col("id_b") < 100)
    return ngram_jaccard_pairs(docs, pairs).select(
        "id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard"
    )


def q_simhash(spark, sf_dir):
    from cuspatial_spark.textops import simhash

    return simhash(_docs(spark, sf_dir)).select("doc_id", "simhash_hi", "simhash_lo")


def q_text_signals(spark, sf_dir):
    """Round-5 consolidation of the token_count + quality queries
    (both long-green, same doc_id key) to stay within the driver's
    50-oracle cap while adding dup_ngrams."""
    from cuspatial_spark.textops import quality_score, token_count

    out = token_count(_docs(spark, sf_dir))
    return quality_score(out).select(
        "doc_id", "n_tokens", "n_tokens_bpe", "n_tokens_bpe_est", "quality"
    )


def q_dup_ngrams(spark, sf_dir):
    """Exact-substring (windowed) duplicate detection: Lee et al.
    2022-style duplicated n-gram spans, two uniform-hash shuffles."""
    from cuspatial_spark.textops.spans import duplicated_ngram_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return duplicated_ngram_spans(docs, n=8).select(
        "doc_id", "n_windows", "n_dup_windows", "n_spans", "n_dup_tokens"
    )


def q_decontam(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 17 == 0 play the
    held-out eval set; every remaining doc is checked for any shared
    8-token window (broadcast semi-join of the eval set's distinct
    window hashes — textops/decontam.py).  The oracle replays the
    window derivation with md5 keys and an IN-subquery semi-join."""
    from cuspatial_spark.textops.decontam import decontaminate

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 17 == 0)
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    return decontaminate(corpus, ev, n=8)


def q_langid(spark, sf_dir):
    from cuspatial_spark.textops import language_id

    return language_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def q_fingerprint(spark, sf_dir):
    from cuspatial_spark.textops import document_fingerprint

    return document_fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "fingerprint", "fingerprint_robust"
    )


def q_ann_topk(spark, sf_dir):
    from cuspatial_spark.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("score", 6).alias("score")
    )


def q_ann_ivf(spark, sf_dir):
    """IVF-bucketed ANN with nprobe = n_centroids: probing every
    bucket makes the candidate set complete, so the result is EXACTLY
    brute-force top-k — which gives the IVF code path (centroid
    assignment, bucket equi-join, per-bucket rank) a hard SQL oracle
    instead of a recall-only pytest bound.  Centroids are a fixed
    deterministic matrix (no data-dependent k-means in the oracle
    path)."""
    import numpy as np

    from cuspatial_spark.similarity.ann import ivf_topk

    cts = np.array(
        [[((i * 13 + j * 7) % 21 - 10) / 10.0 for j in range(64)] for i in range(8)]
    )
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, cts, k=5, nprobe=8)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("score", 6).alias("score")
    )


def q_utm(spark, sf_dir):
    """WGS84 -> UTM zone 31N over event-derived lon/lat (cuProj parity
    transformer, pure Catalyst expressions)."""
    from cuspatial_spark.functions.cuproj import Transformer

    pts = _points(spark, sf_dir).select(
        "event_id",
        (F.col("x") * 0.75).alias("lon"),
        (F.col("y") * 10.0 - 40.0).alias("lat"),
    )
    out = Transformer.from_crs("epsg:4326", "epsg:32631").transform(
        pts, "lon", "lat", "easting", "northing"
    )
    return out.select(
        "event_id",
        F.round("easting", 1).alias("easting"),
        F.round("northing", 1).alias("northing"),
    )


def _utm_oracle_sql(pts_cte: str, zone: int = 31) -> str:
    """The same Krüger forward series as functions/cuproj.py, with
    hyperbolics via exp/ln (DuckDB has none built in); round(1) m
    absorbs libm leaf differences (~1e-8 m)."""
    from cuspatial_spark.functions.cuproj import (
        A_BAR,
        ALPHA,
        FALSE_EASTING,
        K0,
        _E2SQRT,
        utm_central_meridian,
    )

    lam0 = utm_central_meridian(zone)
    terms_e, terms_n = [], []
    for j, a in enumerate(ALPHA, start=1):
        w = 2.0 * j
        cosh = f"((exp({w!r} * etap) + exp(-({w!r} * etap))) / 2)"
        sinh = f"((exp({w!r} * etap) - exp(-({w!r} * etap))) / 2)"
        terms_n.append(f"+ {a!r} * sin({w!r} * xip) * {cosh}")
        terms_e.append(f"+ {a!r} * cos({w!r} * xip) * {sinh}")
    return f"""
        WITH {pts_cte},
        b AS (SELECT event_id, x * 0.75 AS lon, y * 10.0 - 40.0 AS lat FROM pts),
        c1 AS (SELECT event_id, radians(lat) AS phi, radians(lon - {lam0!r}) AS dlam FROM b),
        c2 AS (SELECT event_id, sin(phi) AS s, cos(dlam) AS cd, sin(dlam) AS sd FROM c1),
        c3 AS (SELECT *, (0.5 * ln((1 + s) / (1 - s)))
                       - {_E2SQRT!r} * (0.5 * ln((1 + {_E2SQRT!r} * s) / (1 - {_E2SQRT!r} * s))) AS q
               FROM c2),
        c4 AS (SELECT *, (exp(q) - exp(-q)) / 2 AS t FROM c3),
        c5 AS (SELECT *, atan2(t, cd) AS xip,
                      ln(sd / sqrt(t * t + cd * cd)
                         + sqrt((sd / sqrt(t * t + cd * cd)) * (sd / sqrt(t * t + cd * cd)) + 1)) AS etap
               FROM c4),
        c6 AS (SELECT event_id,
                      etap {' '.join(terms_e)} AS eta,
                      xip {' '.join(terms_n)} AS xi
               FROM c5)
        SELECT event_id,
               round({FALSE_EASTING!r} + {K0 * A_BAR!r} * eta, 1) AS easting,
               round({K0 * A_BAR!r} * xi, 1) AS northing
        FROM c6
    """


def q_cosine_near_dup(spark, sf_dir):
    from cuspatial_spark.similarity import cosine_near_dup_pairs

    emb = _emb(spark, sf_dir)
    out = cosine_near_dup_pairs(emb, threshold=0.4)
    return out.select("id_a", "id_b", F.round("score", 6).alias("score"))


def q_cosine_ivf(spark, sf_dir):
    """IVF-bucketed cosine near-dup with nprobe = n_centroids: probing
    every bucket makes the candidate set complete, so the bucket-join
    scale path must reproduce the exact all-pairs result — same oracle
    as cosine_near_dup.  Deterministic fixed centroid matrix."""
    import numpy as np

    from cuspatial_spark.similarity import cosine_near_dup_pairs

    cts = np.array(
        [[((i * 13 + j * 7) % 21 - 10) / 10.0 for j in range(64)] for i in range(8)]
    )
    emb = _emb(spark, sf_dir)
    out = cosine_near_dup_pairs(emb, threshold=0.4, centroids=cts, nprobe=8)
    return out.select("id_a", "id_b", F.round("score", 6).alias("score"))


def q_point_polygon_distance(spark, sf_dir):
    from cuspatial_spark.operators.pairwise import pairwise_point_polygon_distance

    pts = _points(spark, sf_dir).select(
        "event_id", "x", "y", (F.col("event_id") % 4).alias("polygon_index")
    )
    return pairwise_point_polygon_distance(pts, _polygons()).select(
        "event_id", "distance"
    )


def q_nearest_points(spark, sf_dir):
    from cuspatial_spark.operators.pairwise import (
        pairwise_point_linestring_nearest_points,
    )

    pts = _points(spark, sf_dir).select(
        "event_id", "x", "y", (F.col("event_id") % 4).alias("linestring_index")
    )
    return pairwise_point_linestring_nearest_points(pts, _linestrings()).select(
        "event_id", "segment_id", "nearest_x", "nearest_y"
    )


def q_multipart_distance(spark, sf_dir):
    """Point -> multilinestring and point -> multipolygon distances:
    the multi-part pairwise family (geometry_offset level expanded to
    parts by a broadcast join, min-reduced per pair)."""
    # r6 (guide §4.1): ONE Arrow boundary crossing computing both
    # distances per batch, instead of chaining the two operators'
    # mapInPandas stages (which shipped every row JVM->Python->JVM
    # twice).  Same kernels, same part expansion, same min-reduce —
    # values identical (oracle-checked).
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from cuspatial_spark.kernels import geom_distance as gk
    from cuspatial_spark.kernels.segment import point_linestring_distance_pairs
    from cuspatial_spark.operators.pairwise import (
        _min_by_row,
        _part_pairs,
        _split_parts,
    )

    pts = _points(spark, sf_dir).select(
        "event_id", "x", "y",
        (F.col("event_id") % 4).alias("linestring_index"),
        ((F.col("event_id") + 1) % 4).alias("polygon_index"),
    )
    mls, go_l = _split_parts(_mls())
    lo, lx, ly = mls.part_offsets, mls.x, mls.y
    mpoly, go_p = _split_parts(_mpoly())
    po, ro, px, py = mpoly.part_offsets, mpoly.ring_offsets, mpoly.x, mpoly.y
    schema = StructType(
        [pts.schema["event_id"]]
        + [
            StructField("mls_dist", DoubleType(), False),
            StructField("mpoly_dist", DoubleType(), True),
        ]
    )

    def both(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            xs = pdf["x"].to_numpy()
            ys = pdf["y"].to_numpy()
            li = pdf["linestring_index"].to_numpy(dtype=np.int64)
            pi = pdf["polygon_index"].to_numpy(dtype=np.int64)
            row, _, rp = _part_pairs(li, li, None, go_l)
            dl = point_linestring_distance_pairs(
                xs[row], ys[row], rp, lo, lx, ly
            )
            out = pd.DataFrame({"event_id": pdf["event_id"].to_numpy()})
            out["mls_dist"] = _min_by_row(len(pdf), row, dl)
            row, _, rp = _part_pairs(pi, pi, None, go_p)
            dp = gk.pairwise_point_polygon_distance(
                xs[row], ys[row], rp, po, ro, px, py
            )
            out["mpoly_dist"] = _min_by_row(len(pdf), row, dp)
            yield out

    return pts.mapInPandas(both, schema=schema)


def q_spherical_pip(spark, sf_dir):
    """Geodesic point-in-polygon over a polar-cap polygon (reference
    is_point_in_polygon.cuh:153-185 semantics).  The oracle replays
    the same unit-vector crossings test in SQL: polygon-side constants
    (segment arcs, their cross-product normals, the reference
    midpoint) are precomputed with the IDENTICAL numpy ops the kernel
    uses, and the per-point dot/cross arithmetic is spelled out in the
    kernel's operation order (_spherical_oracle_sql)."""
    from cuspatial_spark.geometry import PolygonArrays
    from cuspatial_spark.operators.pairwise import (
        pairwise_point_in_polygon_spherical,
    )

    cap = PolygonArrays(
        [0, 1], [0, 13],
        [float(v) for v in range(0, 360, 30)] + [0.0],
        [60.0] * 13,
    )
    pts = _points(spark, sf_dir).select(
        "event_id",
        (F.col("x") * 45.0 - 180.0).alias("lon"),
        (F.col("y") * 7.5 + 25.0).alias("lat"),  # 25..85 -> straddles 60N
        F.lit(0).alias("polygon_index"),
    )
    return pairwise_point_in_polygon_spherical(pts, cap).select(
        "event_id", "in_polygon"
    )


def q_linestring_distance(spark, sf_dir):
    from cuspatial_spark.operators.pairwise import pairwise_linestring_distance

    lines = _linestrings()
    pts = _points(spark, sf_dir).select(
        "event_id",
        (F.col("event_id") % 4).alias("lhs_index"),
        ((F.col("event_id") + 1) % 4).alias("rhs_index"),
    )
    return pairwise_linestring_distance(pts, lines, lines).select(
        "event_id", "distance"
    )


def q_knn(spark, sf_dir):
    from cuspatial_spark.plans.knn_join import knn_join

    pts = _points(spark, sf_dir).select("event_id", "x", "y").withColumnRenamed(
        "event_id", "point_id"
    )
    queries = pts.where(F.col("point_id") < 50)
    out = knn_join(
        pts, queries, k=5, radius=1.0, **AOI, max_depth=10,
    )
    return out.select("query_id", "neighbor_id", "distance", "rank")


def q_binpreds(spark, sf_dir):
    from cuspatial_spark.operators import binpreds as bp

    pts = _points(spark, sf_dir).select(
        "event_id", "x", "y", (F.col("event_id") % 4).alias("polygon_index")
    )
    out = bp.polygon_contains_properly_point(pts, _polygons())
    out = bp.polygon_intersects_point(out, _polygons())
    out = bp.polygon_disjoint_point(out, _polygons())
    return out.select("event_id", "contains_properly", "intersects", "disjoint")


def _mode_multipoints():
    """40 deterministic multipoints (3-5 vertices each) in the AOI —
    the rhs fixture of the contains mode=basic_count query."""
    from cuspatial_spark.geometry import MultipointArrays

    off, xs, ys = [0], [], []
    for m in range(40):
        for j in range(3 + m % 3):
            xs.append(((m * 7 + j * 13) % 80) / 10.0)
            ys.append(((m * 11 + j * 17) % 80) / 10.0)
        off.append(len(xs))
    return MultipointArrays(off, xs, ys)


def q_contains_count(spark, sf_dir):
    """GeoSeries.contains(mode="basic_count") kernel path (reference
    contains_geometry_processor.py:160-240): per event, how many
    vertices of its multipoint are STRICTLY inside its polygon
    (ray-cast parity, boundary excluded)."""
    from cuspatial_spark.operators.binpreds import polygon_contains_properly_count

    mps = _mode_multipoints()
    po, mx, my = mps.part_offsets, mps.x, mps.y

    def verts_of(m: int):
        s, e = int(po[m]), int(po[m + 1])
        return mx[s:e], my[s:e]

    pts = _points(spark, sf_dir).select(
        "event_id",
        (F.col("event_id") % 4).alias("polygon_index"),
        (F.col("event_id") % 40).alias("rhs_row"),
    )
    return polygon_contains_properly_count(
        pts, _polygons(), verts_of, result="n_inside"
    ).select("event_id", "n_inside")


def q_url_canon(spark, sf_dir):
    """URL canonicalization + URL-keyed dedup over synthetic crawl
    URLs derived per document (north-rule pages are keyed on url).
    Messy inputs exercise every rule: case, www, default port,
    tracking params, fragments, trailing slashes.  Host-level crawl
    aggregates (urls.py host_stats, computed over the PRE-dedup
    canonical table) are joined back onto the surviving rows — the
    domain-share / recrawl-factor signals a sampling stage reads —
    and host_sample then applies the domain-balance cap (3 docs per
    host, earliest doc_id wins; salted two-phase top-k)."""
    from cuspatial_spark.textops.mixture import mixture_rates, sample_mixture
    from cuspatial_spark.textops.urls import (
        canonical_url,
        host_expr,
        host_sample,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.Site"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".Example.COM:443/Page/"),
            (F.col("doc_id") % 200).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=feed&keep="),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&fbclid=xyz#section"),
        ).alias("url"),
    )
    # r6 optimization (guide §2.3/§2.4): ONE corpus pass instead of
    # three.  The canon chain used to run twice (dedup window branch +
    # host_stats branch, each with its own scan), the dedup was a full
    # row_number window shuffle, and host_urls a two-phase
    # countDistinct.  All three collapse into a single partial-
    # aggregated groupBy(canonical_url): the keeper IS min(doc_id)
    # (row_number orderBy doc_id == min), the per-canonical row count
    # rides along, and since host is a function of canonical_url,
    # host_rows = sum of per-canonical counts and host_urls = count of
    # canonical rows — a window over the tiny per-URL table, not the
    # corpus.  Byte-identical output to host_stats + url_dedup + join.
    from pyspark.sql import Window as W

    per_url = (
        canonical_url(docs)
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("__n"))
        .withColumn("host", host_expr(F.col("canonical_url")))
    )
    hw = W.partitionBy("host")
    joined = per_url.select(
        "doc_id",
        "canonical_url",
        "host",
        F.sum("__n").over(hw).alias("host_rows"),
        F.count(F.lit(1)).over(hw).alias("host_urls"),
    )
    sampled = host_sample(joined, cap=3, order_col="doc_id").select(
        "doc_id", "canonical_url", "host", "host_rows", "host_urls",
        "host_rank",
    )
    # round-5e: temperature-weighted mixture sampling over the balanced
    # corpus (textops/mixture.py).  The domain key is a deliberately
    # SKEWED tier (sqrt buckets of doc_id) so rates spread across
    # <1 (Bernoulli drops) and >1 (multi-copy fan-out) — alpha=0.5
    # upsamples the tail tiers; the oracle replays the rate math
    # (round-9 pinned) and the md5-uniform Bernoulli exactly
    sampled = sampled.withColumn(
        "mix_domain",
        F.concat(
            F.lit("t"),
            F.floor(F.sqrt(F.col("doc_id") % 100)).cast("int").cast("string"),
        ),
    )
    rates = mixture_rates(sampled, "mix_domain", alpha=0.5, max_rate=4.0)
    return sample_mixture(
        sampled, rates, "mix_domain", id_col="doc_id", seed=11
    ).select(
        "doc_id", "canonical_url", "host", "host_rows", "host_urls",
        "host_rank", "mix_domain", "copy",
    )


def q_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021
    §A1.1, frequency-weighted variant): duplicate line fractions +
    word-bigram repetition fractions, all pure codegen row-local
    lambdas — zero shuffles at any corpus scale.  Oracle recomputes
    every signal relationally in DuckDB (unnest + window counts)."""
    from cuspatial_spark.textops.repetition import repetition_signals

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return repetition_signals(docs).select(
        "doc_id",
        "dup_line_frac",
        "dup_line_char_frac",
        "top_bigram_frac",
        "dup_bigram_frac",
    )


def q_bpe_tokens(spark, sf_dir):
    """REAL merge-table BPE token counting + sequence packing: the
    committed 64-merge table (trained with textops.bpe.train_bpe on
    the sf0.001 corpus) applied as a pure-codegen replace chain — no
    Python stage, no shuffle — then the counts packed GPT-style into
    512-token training sequences (concat-and-chunk, scale-safe
    two-level prefix sum — textops/packing.py).  The oracle replays
    the IDENTICAL replace chain in DuckDB (bpe_chain_sql) and the
    packing as one SUM-OVER window, so merge order, overlap
    semantics, pre-tokenization AND every start/seq assignment are
    all hash-checked."""
    from cuspatial_spark.textops.bpe import DEFAULT_MERGES, bpe_tokenize
    from cuspatial_spark.textops.packing import pack_sequences

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    counts = bpe_tokenize(docs, DEFAULT_MERGES).select(
        "doc_id", F.col("bpe_n_tokens")
    )
    return pack_sequences(counts, seq_len=512, weight_col="bpe_n_tokens")


def q_multimodal_decode(spark, sf_dir):
    """REAL image decode end-to-end: synth_images builds genuine
    PGM/PPM/BMP/PNG byte payloads per document (closed-form pixel law:
    flat pixel i of image g is (g*31 + i*7) % 251), image_features
    decodes them with the dependency-free codec (imagecodec.py) and
    emits dims + pixel stats — which the DuckDB oracle re-derives
    straight from the pixel law, so every byte of header parsing,
    unfiltering and raster layout is hash-checked.  r6: the synth and
    decode stages run fused in ONE Python crossing
    (synth_image_features) — payload bytes never ship across the JVM
    boundary; features are row-identical to the chained operators."""
    from cuspatial_spark.multimodal import synth_image_features

    docs = _docs(spark, sf_dir).select("doc_id")
    feats = synth_image_features(docs, id_col="doc_id").select(
        "doc_id",
        "image_format",
        "width",
        "height",
        "channels",
        "px_mean",
        "px_min",
        "px_max",
    )
    # binary_metadata consolidated into this slot (driver 50-cap):
    # magic sniff / md5 / size over the text payloads, joined back on
    # doc_id so both ops stay independently hash-checked
    return feats.join(q_binary_metadata(spark, sf_dir), "doc_id")


def q_binary_metadata(spark, sf_dir):
    from cuspatial_spark.multimodal import binary_metadata

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return binary_metadata(docs).select(
        "doc_id", "payload_bytes", "payload_md5", "payload_format"
    )


def q_pip_pairwise(spark, sf_dir):
    from cuspatial_spark.operators.pairwise import pairwise_point_in_polygon

    pts = _points(spark, sf_dir).select(
        "event_id", "x", "y", (F.col("event_id") % 4).alias("polygon_index")
    )
    return pairwise_point_in_polygon(pts, _polygons()).select("event_id", "in_polygon")


def q_lspoly_distance(spark, sf_dir):
    from cuspatial_spark.operators.pairwise import pairwise_linestring_polygon_distance

    rows = _points(spark, sf_dir).select(
        "event_id",
        (F.col("event_id") % 5).alias("linestring_index"),
        (F.col("event_id") % 4).alias("polygon_index"),
    )
    return pairwise_linestring_polygon_distance(rows, _tlines(), _polygons()).select(
        "event_id", "distance"
    )


def q_polygon_distance(spark, sf_dir):
    from cuspatial_spark.operators.pairwise import pairwise_polygon_distance

    rows = _points(spark, sf_dir).select(
        "event_id",
        (F.col("event_id") % 4).alias("lhs_index"),
        ((F.col("event_id") + 1) % 4).alias("rhs_index"),
    )
    return pairwise_polygon_distance(rows, _polygons(), _polygons()).select(
        "event_id", "distance"
    )


def q_intersection(spark, sf_dir):
    from cuspatial_spark.operators.intersection import (
        pairwise_linestring_intersection,
    )

    rows = _points(spark, sf_dir).select(
        "event_id",
        (F.col("event_id") % 5).alias("lhs_index"),
        ((F.col("event_id") + 1 + 2 * (F.col("event_id") % 2)) % 5).alias("rhs_index"),
    )
    out = pairwise_linestring_intersection(rows, _tlines(), _tlines())
    return out.select(
        "event_id",
        "lhs_index",
        "rhs_index",
        F.col("kind").cast("int").alias("kind"),
        F.round(F.get("coords", 0), 6).alias("c1"),
        F.round(F.get("coords", 1), 6).alias("c2"),
        F.round(F.get("coords", 2), 6).alias("c3"),
        F.round(F.get("coords", 3), 6).alias("c4"),
        "lhs_segment_id",
        "rhs_segment_id",
    )


def q_binpreds_ls(spark, sf_dir):
    from cuspatial_spark.operators import binpreds as bp
    from cuspatial_spark.operators.intersection import (
        linestring_overlaps_linestring,
        linestring_touches_linestring,
    )

    tl = _tlines()
    rows = _points(spark, sf_dir).select(
        "event_id",
        F.lit(0).cast("long").alias("lhs_index"),
        (F.col("event_id") % 5).alias("rhs_index"),
    )
    out = bp.linestring_intersects_linestring(rows, tl, tl)
    out = bp.linestring_crosses_linestring(out, tl, tl)
    out = linestring_touches_linestring(out, tl, tl)
    out = linestring_overlaps_linestring(out, tl, tl)
    return out.select("event_id", "intersects", "crosses", "touches", "overlaps")


def q_multipoint_equals(spark, sf_dir):
    """Multipoint g = points of events [10g, 10g+10); rhs multipoint g
    = points of events [10g+5, 10g+15) — 5 shared points per pair."""
    from cuspatial_spark.operators.pairwise import pairwise_multipoint_equals_count

    pts = (
        _points(spark, sf_dir)
        .where(F.col("event_id") < 205)
        .orderBy("event_id")
        .toPandas()
    )
    lhs = pts[pts.event_id < 200]
    rhs = pts[pts.event_id >= 5]
    lo = np.arange(0, 201, 10)
    ro = np.arange(0, 201, 10)
    rows = (
        _events(spark, sf_dir)
        .where(F.col("event_id") < 200)
        .select(F.floor(F.col("event_id") / 10).alias("group_id"))
        .distinct()
        .withColumn("lhs_index", F.col("group_id"))
        .withColumn("rhs_index", F.col("group_id"))
    )
    out = pairwise_multipoint_equals_count(
        rows,
        lo, lhs.x.to_numpy(), lhs.y.to_numpy(),
        ro, rhs.x.to_numpy(), rhs.y.to_numpy(),
    )
    return out.select("group_id", "equals_count")


def q_binpreds2(spark, sf_dir):
    from cuspatial_spark.operators import binpreds as bp

    pts = _points(spark, sf_dir).select(
        "event_id", "x", "y", (F.col("event_id") % 4).alias("polygon_index")
    )
    out = bp.polygon_contains_point(pts, _polygons())
    out = bp.polygon_covers_point(out, _polygons())
    out = bp.point_within_polygon(out, _polygons())
    return out.select("event_id", "contains", "covers", "within")


def q_geom_equals(spark, sf_dir):
    """Point event_id vs point (event_id - event_id%2): equal exactly
    for even ids (same derived coordinates)."""
    from cuspatial_spark.operators.binpreds import multipoint_geom_equals

    pts = (
        _points(spark, sf_dir)
        .where(F.col("event_id") < 200)
        .orderBy("event_id")
        .toPandas()
    )
    n = len(pts)
    offsets = np.arange(n + 1)
    rows = _events(spark, sf_dir).where(F.col("event_id") < 200).select(
        "event_id",
        F.col("event_id").alias("lhs_index"),
        (F.col("event_id") - F.col("event_id") % 2).alias("rhs_index"),
    )
    out = multipoint_geom_equals(
        rows,
        offsets, pts.x.to_numpy(), pts.y.to_numpy(),
        offsets, pts.x.to_numpy(), pts.y.to_numpy(),
    )
    return out.select("event_id", "geom_equals")


def q_multipoint_distance(spark, sf_dir):
    """Min set distance between multipoint g (events [10g,10g+10)) and
    shifted multipoint g (events [10g+25, 10g+35)) — nonzero values."""
    from cuspatial_spark.geometry import MultipointArrays
    from cuspatial_spark.operators.pairwise import pairwise_multipoint_distance

    pts = (
        _points(spark, sf_dir)
        .where(F.col("event_id") < 235)
        .orderBy("event_id")
        .toPandas()
    )
    lhs = MultipointArrays(
        np.arange(0, 201, 10),
        pts[pts.event_id < 200].x.to_numpy(),
        pts[pts.event_id < 200].y.to_numpy(),
    )
    rhs_pts = pts[pts.event_id >= 25]
    rhs = MultipointArrays(
        np.arange(0, 201, 10), rhs_pts.x.to_numpy(), rhs_pts.y.to_numpy()
    )
    rows = (
        _events(spark, sf_dir)
        .where(F.col("event_id") < 200)
        .select(F.floor(F.col("event_id") / 10).alias("group_id"))
        .distinct()
        .withColumn("lhs_index", F.col("group_id"))
        .withColumn("rhs_index", F.col("group_id"))
    )
    return pairwise_multipoint_distance(rows, lhs, rhs).select(
        "group_id", "distance"
    )


def q_multipoint_ops(spark, sf_dir):
    """Consolidated multipoint pairwise kernels in one driver slot
    (round-4 lesson: the driver's correctness harness caps at 50
    queries): equals-count and set-distance joined on group_id, both
    still independently hash-checked by the combined oracle."""
    eq = q_multipoint_equals(spark, sf_dir)
    dist = q_multipoint_distance(spark, sf_dir)
    return eq.join(dist, "group_id").select(
        "group_id", "equals_count", "distance"
    )


def q_video_features(spark, sf_dir):
    """REAL video decode end-to-end: synth_videos builds genuine Y4M
    (Cmono/C444) and uncompressed-AVI byte payloads per document
    (closed-form sample law: flat sample i of the (n, h, w, c) clip
    array of id g is (g*29 + i*13) % 247), video_features decodes them
    with the dependency-free codec (videocodec.py) and emits
    fps/frame-count/dims/pixel-stats/motion-energy — which the DuckDB
    oracle re-derives straight from the sample law, so stream-header
    parsing, FRAME records, RIFF list walking, bottom-up DIB row
    order, BGR swap and 4-byte stride padding are all hash-checked."""
    from cuspatial_spark.multimodal import synth_videos, video_features

    docs = _docs(spark, sf_dir).select("doc_id")
    clips = synth_videos(docs, id_col="doc_id")
    return video_features(clips, id_cols=("doc_id",)).select(
        "doc_id", "video_format", "fps", "n_frames", "width", "height",
        "channels", "px_mean", "px_min", "px_max", "motion_mean",
    )


def q_radius_join(spark, sf_dir):
    """Geodesic distance join: globe-spanning page coords vs a small
    POI layer, all pairs within 500 great-circle km.  The library path
    is the 3D chord-grid equi-join (plans/spherical_join.py — unit
    sphere embed, cell = chord(500 km), 27-neighbor broadcast fan-out,
    exact haversine refine); the oracle is the brute cross join with
    the same haversine arithmetic, so the grid's candidate set is
    proven lossless."""
    from cuspatial_spark.plans import haversine_radius_join

    pts = _points(spark, sf_dir)
    pages = pts.select(
        "event_id",
        (F.col("x") * 45.0 - 180.0).alias("lon"),
        (F.col("y") * 20.0 - 80.0).alias("lat"),
    )
    pois = pts.where(F.col("event_id") < 40).select(
        F.col("event_id").alias("poi_id"),
        (F.col("y") * 45.0 - 180.0).alias("lon"),
        (F.col("x") * 20.0 - 80.0).alias("lat"),
    )
    out = haversine_radius_join(
        pages, pois, 500.0,
        keep_left=("event_id",), keep_right=("poi_id",),
    )
    return out.select(
        "event_id", "poi_id", F.round("distance_km", 4).alias("distance_km")
    )


def q_trajectory_stats(spark, sf_dir):
    """Consolidates trajectory_bboxes + trajectory_speeds (driver
    50-cap) via the fused trajectory_summary operator: bbox + distance
    + speed in ONE object-id shuffle (the reference-parity pair of
    operators joined costs two scans and three shuffles).  Round-5e
    folds in the AS-OF JOIN (operators/asof.py): each user's last fix
    is matched to the most recent row of a per-user daily beacon grid
    (union-and-carry window, one key shuffle); the oracle replays it
    with DuckDB's native ASOF LEFT JOIN."""
    from cuspatial_spark.operators import asof_join, trajectory_summary

    pts = _points_unspread(spark, sf_dir).withColumnRenamed("ts", "timestamp")
    out = trajectory_summary(pts, object_id="user_id")
    last_ts = pts.groupBy("user_id").agg(F.max("timestamp").alias("last_ts"))
    beacons = last_ts.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(29))).alias("j")
    ).select(
        "user_id",
        F.timestamp_seconds(
            F.lit(1704067200)
            + F.col("j") * 86400
            + F.pmod(F.col("user_id"), F.lit(24)) * 3600
        ).alias("bts"),
        (F.col("j") * 10 + F.pmod(F.col("user_id"), F.lit(5)))
        .cast("double")
        .alias("beacon_v"),
    )
    enr = asof_join(
        last_ts, beacons, on="user_id", left_time="last_ts", right_time="bts"
    )
    return out.join(enr, "user_id").select(
        "user_id", "minx", "miny", "maxx", "maxy",
        F.round("distance", 5).alias("distance"),
        F.round("speed", 5).alias("speed"),
        F.col("right_bts").cast("long").alias("beacon_ts"),
        F.col("right_beacon_v").alias("beacon_v"),
    )


def q_audio_features(spark, sf_dir):
    """REAL WAV decode end-to-end: synth_audio builds genuine
    RIFF/PCM-16 payloads per document (closed-form sample law: flat
    interleaved sample i of clip g is ((g*37 + i*11) % 65521) - 32760;
    every 5th clip carries a junk LIST chunk), audio_features decodes
    them with the dependency-free codec (audiocodec.py) and emits
    rate/duration/amplitude/rms/zero-crossing stats — which the DuckDB
    oracle re-derives straight from the sample law, so header parsing,
    chunk walking and interleaved frame layout are all hash-checked.
    r6: synth and decode run fused in ONE Python crossing
    (synth_audio_features) — row-identical to the chained operators."""
    from cuspatial_spark.multimodal import synth_audio_features

    docs = _docs(spark, sf_dir).select("doc_id")
    return synth_audio_features(docs, id_col="doc_id").select(
        "doc_id", "sample_rate", "channels", "n_frames", "duration_s",
        "amp_mean", "amp_min", "amp_max", "rms", "zero_crossings",
    )


def q_clean_text(spark, sf_dir):
    """C4-style page cleaning + PII scrubbing end-to-end:
    synth_messy_pages builds deterministic multi-line pages (emails,
    IPv4s, phone numbers, javascript notices, lorem-ipsum and brace
    lines injected by closed-form doc_id rules), c4_clean applies the
    Raffel-et-al line/page filters and pii_scrub redacts — all pure
    codegen, zero shuffles.  The DuckDB oracle replays the identical
    synthesis, filters and regex chain (Java-regex/RE2 common
    subset), so the full cleaned text is string-exact-checked."""
    from cuspatial_spark.textops.clean import (
        c4_clean,
        pii_scrub,
        synth_messy_pages,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pages = synth_messy_pages(docs).select("doc_id", "page")
    out = c4_clean(pages, text_col="page")
    out = pii_scrub(out, text_col="c4_text", result="clean_text")
    return out.select(
        "doc_id", "c4_n_lines_kept", "c4_page_keep",
        "n_emails", "n_ips", "n_phones", "clean_text",
    )


SEMDEDUP_CENTROIDS = [
    [((i * 13 + j * 7) % 21 - 10) / 10.0 for j in range(64)] for i in range(8)
]


def q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic near-dup pruning (similarity/semdedup
    .py): fixed 8x64 centroid grid pins the quantizer, so the DuckDB
    oracle replays the exact squared-L2 argmin assignment (empirical
    min margin 3.8e-4 at sf0.01 — 8 orders above FP divergence), the
    within-cluster i<j cosine sweep, and the star keep-rule.  The
    0.3 threshold drops 267/500 vectors at sf0.01; nearest pair sim
    to the threshold is 6.9e-5 away, so the kept flag cannot flip on
    rounding."""
    import numpy as np

    from cuspatial_spark.similarity import semantic_dedup

    out = semantic_dedup(
        _emb(spark, sf_dir),
        centroids=np.array(SEMDEDUP_CENTROIDS),
        threshold=0.3,
    )
    return out.select(
        "vec_id",
        "cluster",
        F.round("nn_smaller_sim", 6).alias("nn_smaller_sim"),
        "is_kept",
    )


def q_s2_cells(spark, sf_dir):
    """True spherical cell ids: S2 cube-face projection + quadratic
    st transform + Morton in-face ordering, all pure codegen
    (functions/expressions.py with_s2_cell).  Events are mapped onto
    globe-spanning lon/lat so all six cube faces are exercised."""
    from cuspatial_spark.functions import with_s2_cell

    pts = _points(spark, sf_dir).select(
        "event_id",
        (F.col("x") * 45.0 - 180.0).alias("lon"),
        (F.col("y") * 20.0 - 80.0).alias("lat"),
    )
    return with_s2_cell(pts, "lon", "lat", 12).select(
        "event_id",
        "s2_cell",
        F.shiftright("s2_cell", 24).alias("s2_face"),
    )


def q_curve_keys(spark, sf_dir):
    """Space-filling-curve key triple per event (driver 50-cap
    consolidation of tile_assign + hilbert + s2_cells): the planar
    Morton/quadtree tile key, the Hilbert key, and the spherical
    S2-style cell id, joined on event_id so each stays independently
    hash-checked.

    r6 note: fusing the three projections into ONE pass was measured
    3x SLOWER (2.18 s vs 0.68 s at sf1.0) — the combined Morton +
    per-level Hilbert rotate chain + S2 face/uv/dilation chain in a
    single WholeStageCodegen span exceeds JIT method limits, while the
    join form runs three separately-compiled pipelines and its two
    event_id joins reuse the spread partitioning (sorts only, no
    exchange).  Kept the join form deliberately."""
    return (
        q_tile_assign(spark, sf_dir)
        .join(q_hilbert(spark, sf_dir), "event_id")
        .join(q_s2_cells(spark, sf_dir), "event_id")
    )


def q_geo_knn(spark, sf_dir):
    """Exact geodesic kNN: 5 nearest of 30 globe-scattered POIs per
    page (plans/spherical_join.py geodesic_knn_join).  30 POIs is
    under the dense threshold, so this runs the dense path: one Arrow
    crossing over the pages against the collected POIs.  The oracle is
    the brute cross join + row_number."""
    from cuspatial_spark.plans import geodesic_knn_join

    pts = _points(spark, sf_dir)
    pages = pts.select(
        F.col("event_id").alias("query_id"),
        (F.col("x") * 45.0 - 180.0).alias("lon"),
        (F.col("y") * 20.0 - 80.0).alias("lat"),
    )
    pois = pts.where(F.col("event_id") < 30).select(
        F.col("event_id").alias("poi_id"),
        (F.col("y") * 45.0 - 180.0).alias("lon"),
        (F.col("x") * 20.0 - 80.0).alias("lat"),
    )
    out = geodesic_knn_join(
        pois, pages, k=5, id_col="poi_id", query_id_col="query_id",
        initial_radius_km="auto",
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("distance_km", 4).alias("distance_km"), "rank",
    )


def q_binpreds3(spark, sf_dir):
    """Extended binpred matrix: polygon x polygon, point x linestring,
    linestring x polygon combos (+ the linestring x linestring matrix
    of the former binpreds_ls query, joined on event_id — 50-cap)."""
    from cuspatial_spark.operators import binpreds as bp

    polys = _polygons()
    rows = _points(spark, sf_dir).select(
        "event_id", "x", "y",
        (F.col("event_id") % 4).alias("lhs_index"),
        ((F.col("event_id") + 1) % 4).alias("rhs_index"),
        (F.col("event_id") % 5).alias("linestring_index"),
        (F.col("event_id") % 3).alias("li2"),
        (F.col("event_id") % 4).alias("polygon_index"),
    )
    out = bp.polygon_intersects_polygon(rows, polys, polys, result="pp_intersects")
    out = bp.polygon_disjoint_polygon(out, polys, polys, result="pp_disjoint")
    out = bp.polygon_contains_polygon(out, polys, polys, result="pp_contains")
    out = bp.point_intersects_linestring(out, _tlines(), result="ptls_intersects")
    out = bp.point_disjoint_linestring(out, _tlines(), result="ptls_disjoint")
    out = bp.linestring_within_polygon(
        out, _tlines2(), polys, line_idx="li2", result="ls_within"
    )
    out = bp.linestring_crosses_polygon(
        out, _tlines2(), polys, line_idx="li2", result="ls_crosses"
    )
    wide = out.select(
        "event_id", "pp_intersects", "pp_disjoint", "pp_contains",
        "ptls_intersects", "ptls_disjoint", "ls_within", "ls_crosses",
    )
    wide = wide.join(q_binpreds_ls(spark, sf_dir), "event_id")
    # geom_equals folded in (50-cap, freeing a slot for decontam):
    # left join — the equals fixture is defined for event_id < 200;
    # rows outside it report false (nulls would hash-mismatch)
    return wide.join(q_geom_equals(spark, sf_dir), "event_id", "left").withColumn(
        "geom_equals", F.coalesce("geom_equals", F.lit(False))
    )


def q_derive_traj(spark, sf_dir):
    from cuspatial_spark.operators import derive_trajectories

    pts = _points_unspread(spark, sf_dir).withColumnRenamed("ts", "timestamp")
    _, offsets = derive_trajectories(pts, object_id="user_id")
    return offsets.select("user_id", F.col("offset").alias("traj_offset"))


def q_extract_text(spark, sf_dir):
    """North-rule invariant: byte-identical extracted text per url.
    The documents table is wrapped into adversarial HTML (entities,
    comments, script/style subtrees) and extracted back; the oracle is
    the ORIGINAL text column, so the value-hash match proves the
    extractor inverts real markup byte-for-byte."""
    from cuspatial_spark.textops.extract import extract_text, wrap_html

    pages = wrap_html(_docs(spark, sf_dir), text_col="text", id_col="doc_id")
    return extract_text(pages, "html").select(
        "doc_id", F.col("extracted_text").alias("text")
    )


# raster grid shared by q_rasterize / q_vectorize and their oracles
RASTER = dict(width=64, height=64, x_min=0.0, y_min=0.0, cell_size=0.125)


def q_rasterize(spark, sf_dir):
    from cuspatial_spark.operators.raster import rasterize_polygons

    return rasterize_polygons(
        spark, _polygons(), max_depth=MAX_DEPTH, tile_level=TILE_LEVEL, **RASTER
    )


def q_vectorize(spark, sf_dir):
    from cuspatial_spark.operators.raster import rasterize_polygons, vectorize_cells

    cells = rasterize_polygons(
        spark, _polygons(), max_depth=MAX_DEPTH, tile_level=TILE_LEVEL, **RASTER
    )
    return vectorize_cells(
        cells,
        x_min=RASTER["x_min"],
        y_min=RASTER["y_min"],
        cell_size=RASTER["cell_size"],
    )


def _binpred_pts(spark, sf_dir):
    """Points engineered onto/off the integer test geometries: exact
    integer-derived halves/quarters so every coordinate is binary- and
    decimal-exact in both engines."""
    e = _events(spark, sf_dir)
    m = F.col("event_id") % 4
    x = (F.col("event_id") % 9) * F.lit(0.5)
    x = F.when(m == 2, (F.col("event_id") % 2) * F.lit(4.0)).otherwise(x)
    y = (
        F.when(m == 0, F.lit(0.0))
        .when(m == 1, F.lit(1.0))
        .when(m == 2, F.lit(0.0))
        .otherwise(F.lit(-0.5))
    )
    return e.select("event_id", x.alias("x"), y.alias("y"))


_BINPRED_PTS_SQL = """
SELECT event_id,
       CASE WHEN event_id % 4 = 2 THEN (event_id % 2) * 4.0
            ELSE (event_id % 9) * 0.5 END AS x,
       CASE WHEN event_id % 4 = 0 THEN 0.0
            WHEN event_id % 4 = 1 THEN 1.0
            WHEN event_id % 4 = 2 THEN 0.0
            ELSE -0.5 END AS y
FROM events
"""


def q_binpreds4(spark, sf_dir):
    """Dispatcher point-vs-linestring sweep: covers / within / touches
    against test linestring L0 ((0,0)-(4,0)) via the full binpred
    dispatch (operators/binpred_dispatch.py)."""
    from cuspatial_spark.operators.binpred_dispatch import binpred

    pts = _binpred_pts(spark, sf_dir).withColumn("linestring_index", F.lit(0))
    out = binpred(pts, "covers", "linestring", "point", lhs_layer=_tlines(), result="pt_covers")
    out = binpred(out, "within", "point", "linestring", rhs_layer=_tlines(), result="pt_within")
    out = binpred(out, "touches", "point", "linestring", rhs_layer=_tlines(), result="pt_touches")
    return out.select("event_id", "pt_covers", "pt_within", "pt_touches")


# integer unit-square polygon layer for exact boundary predicates
def _square_polys():
    from cuspatial_spark.geometry import PolygonArrays

    return PolygonArrays([0, 1], [0, 5], [0.0, 4.0, 4.0, 0.0, 0.0],
                         [0.0, 0.0, 4.0, 4.0, 0.0])


def q_binpreds5(spark, sf_dir):
    """Dispatcher point-vs-polygon boundary sweep: touches / covers
    against an integer square — boundary membership is exact in both
    engines, unlike ray-cast parity on vertical edges."""
    from cuspatial_spark.operators.binpred_dispatch import binpred

    pts = _binpred_pts(spark, sf_dir).withColumn("polygon_index", F.lit(0))
    out = binpred(pts, "touches", "point", "polygon", rhs_layer=_square_polys(), result="pt_touches")
    out = binpred(out, "covers", "polygon", "point", lhs_layer=_square_polys(), result="pt_covers")
    return out.select("event_id", "pt_touches", "pt_covers")


HILBERT_ORDER = 8
_HSCALE = 8.0 / (1 << HILBERT_ORDER)  # exact binary fraction


def q_hilbert(spark, sf_dir):
    """S2-style Hilbert cell key per point (locality-preserving
    alternative to the Morton key; see kernels/hilbert.py)."""
    from cuspatial_spark.functions import with_hilbert_key

    cmax = (1 << HILBERT_ORDER) - 1
    cells = _points(spark, sf_dir).select(
        "event_id",
        F.least(F.floor(F.col("x") / _HSCALE), F.lit(cmax)).cast("long").alias("i"),
        F.least(F.floor(F.col("y") / _HSCALE), F.lit(cmax)).cast("long").alias("j"),
    )
    return with_hilbert_key(cells, "i", "j", HILBERT_ORDER).select(
        "event_id", "i", "j", "hilbert_key"
    )


def _hilbert_sql() -> str:
    """The with_hilbert_key projection chain as DuckDB CTE text — one
    CTE per curve level, identical rotate-and-accumulate arithmetic
    (all integer, so hash-exact across engines)."""
    cmax = (1 << HILBERT_ORDER) - 1
    # CTE h{2s} feeds level s; the base (untransformed cells) is h{2^order}
    ctes = [
        f"h{1 << HILBERT_ORDER} AS (SELECT event_id, "
        f"CAST(LEAST(FLOOR(x / {_HSCALE!r}), {cmax}) AS BIGINT) AS hx, "
        f"CAST(LEAST(FLOOR(y / {_HSCALE!r}), {cmax}) AS BIGINT) AS hy, "
        f"CAST(LEAST(FLOOR(x / {_HSCALE!r}), {cmax}) AS BIGINT) AS i, "
        f"CAST(LEAST(FLOOR(y / {_HSCALE!r}), {cmax}) AS BIGINT) AS j, "
        f"CAST(0 AS BIGINT) AS hd FROM pts)"
    ]
    s = 1 << (HILBERT_ORDER - 1)
    while s > 0:
        prev = f"h{2 * s}"
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        quadrant = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
            f"WHEN {rx} = 0 AND {ry} = 1 THEN 1 "
            f"WHEN {rx} = 1 AND {ry} = 1 THEN 2 ELSE 3 END)"
        )
        ctes.append(
            f"h{s} AS (SELECT event_id, i, j, "
            f"CASE WHEN {ry} = 0 AND {rx} = 1 THEN {s - 1} - hy "
            f"WHEN {ry} = 0 THEN hy ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 AND {rx} = 1 THEN {s - 1} - hx "
            f"WHEN {ry} = 0 THEN hx ELSE hy END AS hy, "
            f"hd + {s * s} * {quadrant} AS hd FROM {prev})"
        )
        s >>= 1
    return ",\n".join(ctes)


# ------------------------------------------------- consolidated queries
#
# The driver's correctness harness checks at most 50 queries; round 4
# outgrew that cap (58 entries left the 8 newest without a hard-signal
# row).  These combined queries join/union families that share a key
# or schema — each constituent keeps its own Spark plan and its own
# SQL truth, composed into one driver row, so ALL oracles stay inside
# the cap with headroom.


def q_projections(spark, sf_dir):
    """haversine + sinusoidal + cuProj UTM over the same event keys,
    joined one-row-per-event (each projection keeps its own plan and
    oracle arithmetic)."""
    return (
        q_haversine(spark, sf_dir)
        .join(q_sinusoidal(spark, sf_dir), "event_id")
        .join(q_utm(spark, sf_dir), "event_id")
    )


def q_pip_variants(spark, sf_dir):
    """The two alternate flagship-join plans — the salted SHUFFLE scale
    path and the Arrow-kernel edge_exact refine — variant-tagged and
    unioned; both must reproduce the broadcast plan's exact pair set."""
    a = q_pip_shuffle(spark, sf_dir).select(
        F.lit("shuffle").alias("variant"), "event_id", "polygon_id"
    )
    b = q_pip_edge_exact(spark, sf_dir).select(
        F.lit("edge_exact").alias("variant"), "event_id", "polygon_id"
    )
    return a.unionByName(b)


def q_pairwise_distances(spark, sf_dir):
    """The four non-point pairwise distance kernels (point-polygon,
    linestring-linestring, linestring-polygon, polygon-polygon) joined
    one-row-per-event."""
    a = q_point_polygon_distance(spark, sf_dir).withColumnRenamed(
        "distance", "pt_poly_dist"
    )
    b = q_linestring_distance(spark, sf_dir).withColumnRenamed(
        "distance", "ls_ls_dist"
    )
    c = q_lspoly_distance(spark, sf_dir).withColumnRenamed(
        "distance", "ls_poly_dist"
    )
    d = q_polygon_distance(spark, sf_dir).withColumnRenamed(
        "distance", "poly_poly_dist"
    )
    # nearest_points folded in (50-cap, round 5): same event_id key
    e = q_nearest_points(spark, sf_dir).select(
        "event_id",
        F.col("segment_id").alias("np_segment_id"),
        F.col("nearest_x").alias("np_x"),
        F.col("nearest_y").alias("np_y"),
    )
    return (
        a.join(b, "event_id").join(c, "event_id")
        .join(d, "event_id").join(e, "event_id")
    )


def q_binpreds_pt_poly(spark, sf_dir):
    """The six point-vs-polygon binary predicates (contains_properly /
    intersects / disjoint + contains / covers / within) over the same
    (point, polygon_index) rows."""
    return q_binpreds(spark, sf_dir).join(q_binpreds2(spark, sf_dir), "event_id")


def q_binpreds_boundary(spark, sf_dir):
    """Dispatcher boundary sweeps: point-vs-linestring covers/within/
    touches and point-vs-polygon touches/covers over the exact
    integer-derived probe points."""
    a = q_binpreds4(spark, sf_dir)
    b = (
        q_binpreds5(spark, sf_dir)
        .withColumnRenamed("pt_touches", "poly_pt_touches")
        .withColumnRenamed("pt_covers", "poly_pt_covers")
    )
    return a.join(b, "event_id")


def q_doc_signatures(spark, sf_dir):
    """Per-document codegen signatures: language id + md5/rolling-hash
    fingerprints + simhash, joined one-row-per-doc."""
    return (
        q_langid(spark, sf_dir)
        .join(q_fingerprint(spark, sf_dir), "doc_id")
        .join(q_simhash(spark, sf_dir), "doc_id")
    )


def q_cosine_dup(spark, sf_dir):
    """Embedding cosine near-dup: exact all-pairs path and the
    IVF-bucketed scale path (nprobe = n_centroids makes it exact),
    variant-tagged and unioned — the bucket join must reproduce the
    all-pairs pair set."""
    a = q_cosine_near_dup(spark, sf_dir).select(
        F.lit("brute").alias("variant"), "id_a", "id_b", "score"
    )
    b = q_cosine_ivf(spark, sf_dir).select(
        F.lit("ivf").alias("variant"), "id_a", "id_b", "score"
    )
    return a.unionByName(b)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed tile-filtered point-in-polygon join of
    geotagged events against the reference polygon layer at sf0.001."""
    return q_pip_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # newest / least-recently-driver-verified first; consolidated
    # queries (q_projections etc.) keep the total within the driver's
    # 50-query correctness cap so EVERY oracle gets a hard-signal row
    return {
        # round-5e: benchmark decontamination (n-gram overlap vs an
        # eval set — broadcast semi-join); bpe_tokens gained sequence
        # packing; geom_equals folded into binpreds3 to stay at 50
        "decontam": q_decontam,
        # round-5: real multimodal decode (imagecodec.py) + real BPE
        "radius_join": q_radius_join,
        "video_features": q_video_features,
        "semdedup": q_semdedup,
        "clean_text": q_clean_text,
        "audio_features": q_audio_features,
        "multimodal_decode": q_multimodal_decode,
        "bpe_tokens": q_bpe_tokens,
        "repetition": q_repetition,
        "dup_ngrams": q_dup_ngrams,
        "text_signals": q_text_signals,
        # round-5 consolidations of round-1..4 queries
        "pip_variants": q_pip_variants,
        "projections": q_projections,
        "pairwise_distances": q_pairwise_distances,
        "binpreds_pt_poly": q_binpreds_pt_poly,
        "binpreds_boundary": q_binpreds_boundary,
        "doc_signatures": q_doc_signatures,
        "cosine_dup": q_cosine_dup,
        # round-4 queries the r4 harness never reached
        "dedup_clusters": q_dedup_clusters,
        "multipart_distance": q_multipart_distance,
        "spherical_pip": q_spherical_pip,
        "contains_count": q_contains_count,
        "ann_ivf": q_ann_ivf,
        "url_canon": q_url_canon,
        # long-green queries
        "spatial_window": q_spatial_window,
        "curve_keys": q_curve_keys,
        "pip_join": q_pip_join,
        "pip_bits": q_pip_bits,
        "nearest_linestring": q_nearest_linestring,
        "nearest_progressive": q_nearest_progressive,
        "quadtree": q_quadtree,
        "quadtree_bbox_join": q_quadtree_bbox_join,
        "trajectory_stats": q_trajectory_stats,
        "hausdorff": q_hausdorff,
        "exact_dedup": q_exact_dedup,
        "minhash": q_minhash,
        "lsh_pairs": q_lsh_pairs,
        "lsh_canonical": q_lsh_canonical,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_topk": q_ann_topk,
        "knn": q_knn,
        "geo_knn": q_geo_knn,
        "pip_pairwise": q_pip_pairwise,
        "intersection": q_intersection,
        "multipoint_ops": q_multipoint_ops,
        "binpreds3": q_binpreds3,
        "derive_traj": q_derive_traj,
        "extract_text": q_extract_text,
        "rasterize": q_rasterize,
        "vectorize": q_vectorize,
    }


# ---------------------------------------------------------------- oracles


def _dup_ngrams_oracle() -> str:
    from cuspatial_spark.textops.spans import duplicated_ngram_oracle_sql

    return duplicated_ngram_oracle_sql(n=8)


def _decontam_oracle() -> str:
    from cuspatial_spark.textops.decontam import decontaminate_oracle_sql

    return decontaminate_oracle_sql(
        n=8,
        corpus_where="doc_id % 17 <> 0",
        eval_where="doc_id % 17 = 0",
    )


def _repetition_oracle() -> str:
    from cuspatial_spark.textops.repetition import repetition_oracle_sql

    return repetition_oracle_sql()


def _semdedup_oracle() -> str:
    """SQL replay of similarity/semdedup.py with the fixed centroid
    grid: per-centroid squared-L2 distance as literal expressions,
    argmin via (dist, cid) ordering (numpy argmin first-index
    tie-break), then the within-cluster i<j cosine sweep and star
    keep-rule."""
    arms = []
    for cid, c in enumerate(SEMDEDUP_CENTROIDS):
        expr = " + ".join(
            f"(CAST(embedding[{j + 1}] AS DOUBLE) - ({c[j]}))"
            f" * (CAST(embedding[{j + 1}] AS DOUBLE) - ({c[j]}))"
            for j in range(64)
        )
        arms.append(
            f"SELECT vec_id, embedding, CAST({cid} AS BIGINT) AS cid,"
            f" {expr} AS dist FROM embeddings"
        )
    union = " UNION ALL ".join(arms)
    return f"""
        WITH dists AS ({union}),
        assign AS (
          SELECT vec_id, embedding, cid AS cluster
          FROM (SELECT *, row_number() OVER
                  (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                FROM dists)
          WHERE rn = 1
        ),
        scored AS (
          SELECT b.vec_id AS id_b,
                 ({_dot_sql('a.embedding', 'b.embedding')})
                 / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}) AS s
          FROM assign a JOIN assign b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        ),
        nn AS (SELECT id_b AS vec_id, max(s) AS m FROM scored GROUP BY id_b)
        SELECT a.vec_id, a.cluster, round(nn.m, 6) AS nn_smaller_sim,
               (coalesce(nn.m, -2) < 0.3) AS is_kept
        FROM assign a LEFT JOIN nn USING (vec_id)
    """


def _clean_text_oracle() -> str:
    from cuspatial_spark.textops.clean import clean_text_oracle_sql

    return clean_text_oracle_sql()


def _bpe_oracle() -> str:
    """DuckDB replay of the committed BPE replace chain + the
    concat-and-chunk sequence packing window."""
    from cuspatial_spark.textops.bpe import DEFAULT_MERGES, bpe_chain_sql
    from cuspatial_spark.textops.packing import pack_oracle_suffix_sql

    expr = bpe_chain_sql(DEFAULT_MERGES, "text")
    counts = f"SELECT doc_id, {expr} AS bpe_n_tokens FROM documents"
    suffix = pack_oracle_suffix_sql(
        "counts", seq_len=512, weight_col="bpe_n_tokens", id_col="doc_id"
    )
    return f"WITH counts AS ({counts}), {suffix}"


def _crossing_sql(px: str = "p.x", py: str = "p.y", s: str = "s") -> str:
    """Ray-cast crossing indicator for a (point, segment) row —
    identical formula/order to kernels/pip.py."""
    return (
        f"CASE WHEN ({s}.ay > {py}) != ({s}.by > {py}) "
        f"AND ((({px} - {s}.ax) * ({s}.by - {s}.ay)) < (({s}.bx - {s}.ax) * ({py} - {s}.ay))) "
        f"!= ({s}.ay > {py}) THEN 1 ELSE 0 END"
    )


def _psd_sql(px: str, py: str, ax: str, ay: str, bx: str, by: str) -> str:
    """Squared point-to-segment distance (projection-clamped), same op
    order as kernels/segment.py, fully parameterized."""
    l2 = f"(({bx} - {ax}) * ({bx} - {ax}) + ({by} - {ay}) * ({by} - {ay}))"
    r = f"(({px} - {ax}) * ({bx} - {ax}) + ({py} - {ay}) * ({by} - {ay}))"
    dac = f"(({px} - {ax}) * ({px} - {ax}) + ({py} - {ay}) * ({py} - {ay}))"
    dbc = f"(({px} - {bx}) * ({px} - {bx}) + ({py} - {by}) * ({py} - {by}))"
    qx = f"({ax} + {r} / {l2} * ({bx} - {ax}))"
    qy = f"({ay} + {r} / {l2} * ({by} - {ay}))"
    din = f"(({px} - {qx}) * ({px} - {qx}) + ({py} - {qy}) * ({py} - {qy}))"
    return (
        f"CASE WHEN {l2} = 0 THEN {dac} "
        f"WHEN {r} <= 0 OR {r} >= {l2} THEN LEAST({dac}, {dbc}) "
        f"ELSE {din} END"
    )


def _seg_dist_sql() -> str:
    """Squared point-to-segment distance for (p, s)-aliased rows."""
    return _psd_sql("p.x", "p.y", "s.ax", "s.ay", "s.bx", "s.by")


def _proper_sql(ax, ay, bx, by, cx, cy, dx, dy) -> str:
    """Proper segment intersection ab x cd — same d1..d4 formulation as
    kernels/geom_distance.py::_segments_intersect."""
    d1 = f"(({bx} - {ax}) * ({cy} - {ay}) - (({by} - {ay}) * ({cx} - {ax})))"
    d2 = f"(({bx} - {ax}) * ({dy} - {ay}) - (({by} - {ay}) * ({dx} - {ax})))"
    d3 = f"(({dx} - {cx}) * ({ay} - {cy}) - (({dy} - {cy}) * ({ax} - {cx})))"
    d4 = f"(({dx} - {cx}) * ({by} - {cy}) - (({dy} - {cy}) * ({bx} - {cx})))"
    return f"({d1} * {d2} < 0 AND {d3} * {d4} < 0)"


def _segseg_d2_sql(a0x, a0y, a1x, a1y, b0x, b0y, b1x, b1y) -> str:
    """Min of the 4 endpoint-to-segment squared distances — the
    non-intersecting branch of _min_dist_segments_to_segments."""
    return (
        "LEAST("
        + ", ".join(
            [
                _psd_sql(a0x, a0y, b0x, b0y, b1x, b1y),
                _psd_sql(a1x, a1y, b0x, b0y, b1x, b1y),
                _psd_sql(b0x, b0y, a0x, a0y, a1x, a1y),
                _psd_sql(b1x, b1y, a0x, a0y, a1x, a1y),
            ]
        )
        + ")"
    )


def _poly_first_vertex_values() -> str:
    """pv(poly_id, fx, fy): first ring vertex per polygon — the vertex
    the polygon-distance kernel uses for its containment test."""
    ro = np.asarray(RING_OFFSETS)
    po = np.asarray(POLY_OFFSETS)
    rows = []
    for p in range(len(po) - 1):
        v = ro[po[p]]
        rows.append(
            f"({p}, CAST({POLY_X[v]!r} AS DOUBLE), CAST({POLY_Y[v]!r} AS DOUBLE))"
        )
    return ",\n".join(rows)


def _ls_intersection_calc_sql(li_expr: str, ri_expr: str) -> str:
    """CTE chain computing the single-segment intersection of
    tl[li] x tl[ri] per event — mirrors
    kernels/intersection.py::_segment_pair_intersection (non-degenerate
    segments; integer coordinates make every comparison exact).
    Produces relation `kinds` with k (0 none / 1 point / 2 segment),
    point/segment params, and segment-length columns."""
    return f"""
    rows AS (SELECT p.event_id, {li_expr} AS li, {ri_expr} AS ri FROM pts p),
    geo AS (
      SELECT r.event_id, r.li, r.ri,
             a.ax, a.ay, a.bx, a.by,
             c.ax AS cx, c.ay AS cy, c.bx AS dx, c.by AS dy
      FROM rows r
      JOIN tl a ON a.line_id = r.li
      JOIN tl c ON c.line_id = r.ri
    ),
    calc AS (
      SELECT *, (bx - ax) AS rx, (by - ay) AS ry,
             (dx - cx) AS sx, (dy - cy) AS sy,
             (cx - ax) AS acx, (cy - ay) AS acy
      FROM geo
    ),
    calc2 AS (
      SELECT *, rx * sy - ry * sx AS denom,
             acx * ry - acy * rx AS cross_ac_r,
             rx * rx + ry * ry AS rr
      FROM calc
    ),
    calc3 AS (
      SELECT *,
             (acx * rx + acy * ry) / rr AS t0,
             (acx * rx + acy * ry) / rr + (sx * rx + sy * ry) / rr AS t1,
             CASE WHEN denom != 0 THEN (acx * sy - acy * sx) / denom END AS t,
             CASE WHEN denom != 0 THEN (acx * ry - acy * rx) / denom END AS u
      FROM calc2
    ),
    calc4 AS (
      SELECT *, greatest(least(t0, t1), 0.0) AS lo, least(greatest(t0, t1), 1.0) AS hi
      FROM calc3
    ),
    kinds AS (
      SELECT *,
             CASE WHEN denom = 0 THEN
                    CASE WHEN cross_ac_r != 0 THEN 0
                         WHEN lo > hi THEN 0
                         WHEN lo = hi THEN 1
                         ELSE 2 END
                  ELSE
                    CASE WHEN t >= 0 AND t <= 1 AND u >= 0 AND u <= 1 THEN 1 ELSE 0 END
             END AS k,
             CASE WHEN denom != 0 THEN ax + t * rx ELSE ax + lo * rx END AS px,
             CASE WHEN denom != 0 THEN ay + t * ry ELSE ay + lo * ry END AS py,
             ax + hi * rx AS qx, ay + hi * ry AS qy
      FROM calc4
    )
    """


_SHINGLE_SQL = """
shingles AS (
  SELECT DISTINCT d.doc_id, substr(d.text, gs.i, 8) AS shingle
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 7, 1))) AS i) gs
)
"""


def _minhash_sql(num_hashes: int = 4, shingle_k: int = 8) -> str:
    """One md5 per shingle position, 32-bit prefix as integer, k affine
    permutations mod 2^61-1 — mirrors textops/dedup.py exactly.  (No
    DISTINCT: min over duplicate shingles equals min over distinct.)"""
    from cuspatial_spark.textops.dedup import MINHASH_P, minhash_params

    a, b = minhash_params(num_hashes)
    aggs = ", ".join(
        f"min(({a[i]} * h + {b[i]}) % {MINHASH_P}) AS mh{i}"
        for i in range(num_hashes)
    )
    return f"""
    WITH sh AS (
      SELECT d.doc_id,
             CAST(concat('0x', substr(md5(substr(d.text, gs.i, {shingle_k})), 1, 8)) AS BIGINT) % {MINHASH_P} AS h
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - {shingle_k - 1}, 1))) AS i) gs
    )
    SELECT doc_id, {aggs} FROM sh GROUP BY doc_id
    """


def _simhash_sql() -> str:
    """Token-exploded SimHash mirroring textops/dedup.py: per-token
    md5 -> (hi, lo) 32-bit halves, per-bit +1/-1 votes, bit=1 iff
    votes >= 0, packed per half."""
    vlo = ", ".join(
        f"sum(CASE WHEN (lo >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS vlo{j}"
        for j in range(32)
    )
    vhi = ", ".join(
        f"sum(CASE WHEN (hi >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS vhi{j}"
        for j in range(32)
    )
    pack_lo = " + ".join(
        f"(CASE WHEN v.vlo{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    pack_hi = " + ".join(
        f"(CASE WHEN v.vhi{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    return f"""
    WITH toks AS (
      SELECT d.doc_id, t.tok
      FROM documents d,
           LATERAL (SELECT unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS tok) t
      WHERE t.tok != ''
    ),
    th AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
             CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
      FROM toks
    ),
    v AS (SELECT doc_id, {vlo}, {vhi} FROM th GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE({pack_hi}, 0) AS simhash_hi,
           COALESCE({pack_lo}, 0) AS simhash_lo
    FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
    """


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    return " + ".join(
        f"CAST({a}[{i+1}] AS DOUBLE) * CAST({b}[{i+1}] AS DOUBLE)" for i in range(dim)
    )


def _norm_sql(a: str, dim: int = 64) -> str:
    return (
        "SQRT("
        + " + ".join(f"CAST({a}[{i+1}] AS DOUBLE) * CAST({a}[{i+1}] AS DOUBLE)" for i in range(dim))
        + ")"
    )


def _spherical_oracle_sql(pts: str) -> str:
    """SQL replay of kernels/spherical.py for q_spherical_pip's fixed
    polar cap (single closed ring, 12 segments at lat 60N).

    The kernel's loop for a closed single-ring polygon reduces to:
    left_check from segment (v11, v0) (also defines the reference
    midpoint cp), crossing parity over segments (v[s-1], v[s]) for
    s = 1..11 (the closing segment is skipped), answer =
    (parity == left_check).  All polygon-side quantities — segment
    endpoints b/a, their is_left normals ns = cross(-b, a-b), the
    constant p4left = is_left(b, a, cp) — are computed here with the
    exact numpy ops the kernel runs, then embedded as full-precision
    literals; the per-point terms (tp from lon/lat, the arc normal
    cross(-tp, cp-tp), the dot products) are written out in the
    kernel's operation order so the sign decisions agree."""
    import numpy as np

    from cuspatial_spark.kernels.spherical import lonlat_to_xyz

    lons = [float(v) for v in range(0, 360, 30)] + [0.0]
    ring = lonlat_to_xyz(lons, [60.0] * 13)
    b0, a0 = ring[11], ring[0]
    # left_check normal: is_left_seg(b=v11, a=v0, tp)
    nlc = np.cross(-b0, a0 - b0)
    c = a0 + b0
    cp = c / np.sqrt(c @ c)

    r = repr  # shortest round-trip float literal

    rows = []
    for s in range(1, 12):
        b, a = ring[s - 1], ring[s]
        ns = np.cross(-b, a - b)
        p4left = bool(((cp - b) @ ns) > 0.0)
        rows.append(
            f"({r(b[0])}, {r(b[1])}, {r(b[2])}, "
            f"{r(a[0])}, {r(a[1])}, {r(a[2])}, "
            f"{r(ns[0])}, {r(ns[1])}, {r(ns[2])}, {p4left})"
        )
    arcs = ",\n              ".join(rows)

    cpx, cpy, cpz = r(cp[0]), r(cp[1]), r(cp[2])

    def left_of_arc(qx: str, qy: str, qz: str) -> str:
        """is_left of point (qx,qy,qz) for the arc (tp -> cp): the
        kernel's cross(-tp, cp - tp) then dot with (q - tp)."""
        nx = f"((-t.ty) * ({cpz} - t.tz) - (-t.tz) * ({cpy} - t.ty))"
        ny = f"((-t.tz) * ({cpx} - t.tx) - (-t.tx) * ({cpz} - t.tz))"
        nz = f"((-t.tx) * ({cpy} - t.ty) - (-t.ty) * ({cpx} - t.tx))"
        return (
            f"({nx} * ({qx} - t.tx) + {ny} * ({qy} - t.ty)"
            f" + {nz} * ({qz} - t.tz) > 0.0)"
        )

    hit = (
        "CASE WHEN (t.tx * a.bx + t.ty * a.by + t.tz * a.bz > 0.0) AND "
        f"({left_of_arc('a.bx', 'a.by', 'a.bz')} != "
        f"{left_of_arc('a.ax', 'a.ay', 'a.az')}) AND "
        "((a.nsx * (t.tx - a.bx) + a.nsy * (t.ty - a.by)"
        " + a.nsz * (t.tz - a.bz) > 0.0) != a.p4left) "
        "THEN 1 ELSE 0 END"
    )
    lc = (
        f"({r(nlc[0])} * (t.tx - {r(b0[0])}) + {r(nlc[1])} * (t.ty - {r(b0[1])})"
        f" + {r(nlc[2])} * (t.tz - {r(b0[2])}) > 0.0)"
    )
    return f"""
        WITH {pts},
        tp AS (
          SELECT event_id,
                 cos(radians(y * 7.5 + 25.0)) * cos(radians(x * 45.0 - 180.0)) AS tx,
                 cos(radians(y * 7.5 + 25.0)) * sin(radians(x * 45.0 - 180.0)) AS ty,
                 sin(radians(y * 7.5 + 25.0)) AS tz
          FROM pts
        ),
        arcs(bx, by, bz, ax, ay, az, nsx, nsy, nsz, p4left) AS (VALUES
              {arcs}),
        par AS (
          SELECT t.event_id, SUM({hit}) % 2 AS w
          FROM tp t CROSS JOIN arcs a
          GROUP BY t.event_id
        )
        SELECT t.event_id, ((par.w = 1) = {lc}) AS in_polygon
        FROM par JOIN tp t ON par.event_id = t.event_id
    """


def oracle_sql() -> dict[str, str]:
    pts = f"pts AS ({POINTS_SQL})"
    segs = f"segs(poly_id, ax, ay, bx, by) AS (VALUES {_segments_values()})"
    lsegs = f"lsegs(line_id, seg_id, ax, ay, bx, by) AS (VALUES {_line_segments_values()})"
    tl = f"tl(line_id, ax, ay, bx, by) AS (VALUES {_tl_values()})"

    lang_scores = []
    from cuspatial_spark.textops.analysis import LANG_MARKERS

    for code, toks in sorted(LANG_MARKERS.items()):
        parts = " + ".join(
            f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {t} ', ''))) / {len(t) + 2} AS BIGINT)"
            for t in toks
        )
        lang_scores.append(f"({parts}) AS s_{code}")
    lang_cols = ", ".join(lang_scores)
    langs = sorted(LANG_MARKERS)
    lang_rows = ", ".join(f"('{c}', s_{c})" for c in langs)

    o = {
        "spatial_window": f"""
            WITH {pts}
            SELECT event_id, x, y FROM pts
            WHERE x > 1.0 AND x < 7.0 AND y > 1.0 AND y < 7.0
        """,
        "tile_assign": f"""
            WITH {pts}
            SELECT event_id,
                   {_morton_sql('x', 'y', _SCALE, MAX_DEPTH)} AS morton_key,
                   ({_morton_sql('x', 'y', _SCALE, MAX_DEPTH)}) >> {2 * (MAX_DEPTH - TILE_LEVEL)} AS tile
            FROM pts
        """,
        "pip_join": f"""
            WITH {pts}, {segs}
            SELECT p.event_id, s.poly_id AS polygon_id
            FROM pts p, segs s
            GROUP BY p.event_id, s.poly_id, p.x, p.y
            HAVING sum({_crossing_sql()}) % 2 = 1
        """,
        "pip_shuffle": f"""
            WITH {pts}, {segs}
            SELECT p.event_id, s.poly_id AS polygon_id
            FROM pts p, segs s
            GROUP BY p.event_id, s.poly_id, p.x, p.y
            HAVING sum({_crossing_sql()}) % 2 = 1
        """,
        "pip_edge_exact": f"""
            WITH {pts}, {segs}
            SELECT p.event_id, s.poly_id AS polygon_id
            FROM pts p, segs s
            GROUP BY p.event_id, s.poly_id, p.x, p.y
            HAVING sum({_crossing_sql()}) % 2 = 1
        """,
        "pip_bits": f"""
            WITH {pts}, {segs},
            hits AS (
              SELECT p.event_id, s.poly_id
              FROM pts p, segs s
              GROUP BY p.event_id, s.poly_id, p.x, p.y
              HAVING sum({_crossing_sql()}) % 2 = 1
            )
            SELECT p.event_id,
                   COALESCE(max(h.poly_id = 0), false) AS in_poly_0,
                   COALESCE(max(h.poly_id = 1), false) AS in_poly_1,
                   COALESCE(max(h.poly_id = 2), false) AS in_poly_2,
                   COALESCE(max(h.poly_id = 3), false) AS in_poly_3
            FROM pts p LEFT JOIN hits h ON p.event_id = h.event_id
            GROUP BY p.event_id
        """,
        "nearest_linestring": f"""
            WITH {pts}, {lsegs},
            d AS (
              SELECT p.event_id, s.line_id,
                     SQRT(min({_seg_dist_sql()})) AS dist
              FROM pts p, lsegs s
              GROUP BY p.event_id, s.line_id
            ),
            ranked AS (
              SELECT event_id, line_id, dist,
                     row_number() OVER (PARTITION BY event_id ORDER BY dist, line_id) AS rn
              FROM d
            )
            SELECT event_id, line_id AS linestring_id, dist AS distance
            FROM ranked WHERE rn = 1
        """,
        "quadtree": f"""
            WITH {pts},
            cells AS (
              SELECT {_morton_sql('x', 'y', 8.0 / 18.0, 4)} AS key,
                     COUNT(*) AS pcount
              FROM pts GROUP BY 1
            ),
            l3 AS (SELECT key, pcount, 0 AS ccount FROM cells),
            l2 AS (SELECT key >> 2 AS key, SUM(pcount) AS pcount, COUNT(*) AS ccount FROM l3 GROUP BY key >> 2),
            l1 AS (SELECT key >> 2 AS key, SUM(pcount) AS pcount, COUNT(*) AS ccount FROM l2 GROUP BY key >> 2),
            l0 AS (SELECT key >> 2 AS key, SUM(pcount) AS pcount, COUNT(*) AS ccount FROM l1 GROUP BY key >> 2),
            k0 AS (SELECT key, pcount, ccount, 0 AS level, pcount > 60 AS internal FROM l0),
            k1 AS (SELECT t.key, t.pcount, t.ccount, 1 AS level, t.pcount > 60 AS internal
                   FROM l1 t JOIN k0 p ON (t.key >> 2) = p.key AND p.internal),
            k2 AS (SELECT t.key, t.pcount, t.ccount, 2 AS level, t.pcount > 60 AS internal
                   FROM l2 t JOIN k1 p ON (t.key >> 2) = p.key AND p.internal),
            k3 AS (SELECT t.key, t.pcount, t.ccount, 3 AS level, FALSE AS internal
                   FROM l3 t JOIN k2 p ON (t.key >> 2) = p.key AND p.internal),
            nodes AS (
              SELECT * FROM k0 UNION ALL SELECT * FROM k1
              UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3
            ),
            leafoff AS (
              SELECT key, level,
                     COALESCE(SUM(pcount) OVER (
                       ORDER BY key << (2 * (3 - level))
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
              FROM nodes WHERE NOT internal
            ),
            tord AS (
              SELECT key, level, pcount, ccount, internal,
                     COALESCE(SUM(CASE WHEN internal THEN ccount ELSE 0 END) OVER (
                       ORDER BY level, key
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              FROM nodes
            )
            SELECT t.key, t.level, t.internal AS is_internal_node,
                   CAST(CASE WHEN t.internal THEN t.ccount ELSE t.pcount END AS BIGINT) AS length,
                   CAST(CASE WHEN t.internal
                        THEN (SELECT COUNT(*) FROM k0) + t.cum
                        ELSE lo.off END AS BIGINT) AS offset
            FROM tord t
            LEFT JOIN leafoff lo ON t.key = lo.key AND t.level = lo.level
        """,
        "quadtree_bbox_join": f"""
            WITH {pts},
            cells AS (
              SELECT {_morton_sql('x', 'y', 8.0 / 18.0, 4)} AS key,
                     COUNT(*) AS pcount
              FROM pts GROUP BY 1
            ),
            l3 AS (SELECT key, pcount, 0 AS ccount FROM cells),
            l2 AS (SELECT key >> 2 AS key, SUM(pcount) AS pcount, COUNT(*) AS ccount FROM l3 GROUP BY key >> 2),
            l1 AS (SELECT key >> 2 AS key, SUM(pcount) AS pcount, COUNT(*) AS ccount FROM l2 GROUP BY key >> 2),
            l0 AS (SELECT key >> 2 AS key, SUM(pcount) AS pcount, COUNT(*) AS ccount FROM l1 GROUP BY key >> 2),
            k0 AS (SELECT key, pcount, ccount, 0 AS level, pcount > 60 AS internal FROM l0),
            k1 AS (SELECT t.key, t.pcount, t.ccount, 1 AS level, t.pcount > 60 AS internal
                   FROM l1 t JOIN k0 p ON (t.key >> 2) = p.key AND p.internal),
            k2 AS (SELECT t.key, t.pcount, t.ccount, 2 AS level, t.pcount > 60 AS internal
                   FROM l2 t JOIN k1 p ON (t.key >> 2) = p.key AND p.internal),
            k3 AS (SELECT t.key, t.pcount, t.ccount, 3 AS level, FALSE AS internal
                   FROM l3 t JOIN k2 p ON (t.key >> 2) = p.key AND p.internal),
            nodes AS (
              SELECT * FROM k0 UNION ALL SELECT * FROM k1
              UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3
            ),
            pos AS (
              SELECT key, level, internal,
                     row_number() OVER (ORDER BY level, key) - 1 AS quad_offset
              FROM nodes
            ),
            leaves AS (
              SELECT t.quad_offset,
                     CAST((((t.key) & 1) | (((t.key) >> 1) & 2) | (((t.key) >> 2) & 4) | (((t.key) >> 3) & 8)) AS DOUBLE) AS kx, CAST((((t.key >> 1) & 1) | (((t.key >> 1) >> 1) & 2) | (((t.key >> 1) >> 2) & 4) | (((t.key >> 1) >> 3) & 8)) AS DOUBLE) AS ky,
                     (0.4444444444444444 * CAST(1 << (3 - t.level) AS DOUBLE)) AS ls
              FROM pos t WHERE NOT t.internal
            ),
            bbs(bbox_offset, bminx, bminy, bmaxx, bmaxy) AS (VALUES {_poly_bbox_values()})
            SELECT b.bbox_offset, l.quad_offset
            FROM leaves l CROSS JOIN bbs b
            WHERE NOT (
              (0.0 + l.kx * l.ls) > b.bmaxx OR (0.0 + (l.kx + 1) * l.ls) < b.bminx
              OR (0.0 + l.ky * l.ls) > b.bmaxy OR (0.0 + (l.ky + 1) * l.ls) < b.bminy
            )
        """,
        "nearest_progressive": f"""
            WITH {pts}, {lsegs},
            d AS (
              SELECT p.event_id, s.line_id,
                     SQRT(min({_seg_dist_sql()})) AS dist
              FROM pts p, lsegs s
              GROUP BY p.event_id, s.line_id
            ),
            ranked AS (
              SELECT event_id, line_id, dist,
                     row_number() OVER (PARTITION BY event_id ORDER BY dist, line_id) AS rn
              FROM d
            )
            SELECT event_id, line_id AS linestring_id, dist AS distance
            FROM ranked WHERE rn = 1
        """,
        "haversine": f"""
            WITH {pts},
            ll AS (
              SELECT event_id, x * 10.0 - 40.0 AS lon1, y * 5.0 - 20.0 AS lat1,
                     2.0 AS lon2, 2.0 AS lat2 FROM pts
            )
            SELECT event_id,
                   round(2.0 * 6371.0 * asin(sqrt(
                     sin((radians(lat2) - radians(lat1)) / 2) * sin((radians(lat2) - radians(lat1)) / 2)
                     + sin((radians(lon2) - radians(lon1)) / 2) * sin((radians(lon2) - radians(lon1)) / 2)
                       * (cos(radians(lat1)) * cos(radians(lat2)))
                   )), 4) AS hav_km
            FROM ll
        """,
        "sinusoidal": f"""
            WITH {pts},
            ll AS (SELECT event_id, x * 10.0 - 40.0 AS lon, y * 5.0 - 20.0 AS lat FROM pts)
            SELECT event_id,
                   round((0.0 - lon) * {40000.0 / 360.0!r} * cos(radians((0.0 + lat) / 2)), 4) AS px,
                   round((0.0 - lat) * {40000.0 / 360.0!r}, 4) AS py
            FROM ll
        """,
        "utm": _utm_oracle_sql(pts),
        "trajectory_stats": f"""
            WITH {pts},
            boxes AS (
              SELECT user_id, min(x) AS minx, min(y) AS miny, max(x) AS maxx, max(y) AS maxy
              FROM pts GROUP BY user_id
            ),
            stepped AS (
              SELECT user_id,
                     sqrt((x - lag(x) OVER w) * (x - lag(x) OVER w)
                        + (y - lag(y) OVER w) * (y - lag(y) OVER w)) AS step,
                     epoch(ts) AS tsec
              FROM pts
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            speeds AS (
              SELECT user_id,
                     round(COALESCE(sum(step), 0) * 1000.0, 5) AS distance,
                     round(CASE WHEN max(tsec) - min(tsec) > 0
                           THEN COALESCE(sum(step), 0) * 1000.0 / (max(tsec) - min(tsec))
                           ELSE 0.0 END, 5) AS speed
              FROM stepped GROUP BY user_id
            ),
            -- as-of enrichment replay (operators/asof.py): per-user
            -- daily beacon grid, DuckDB's native ASOF LEFT JOIN
            lastt AS (SELECT user_id, max(ts) AS last_ts FROM pts GROUP BY user_id),
            beacons AS (
              SELECT user_id,
                     make_timestamp((1704067200 + u.j * 86400
                                     + (user_id % 24) * 3600) * 1000000) AS bts,
                     CAST(u.j * 10 + user_id % 5 AS DOUBLE) AS beacon_v
              FROM lastt, UNNEST(range(0, 30)) AS u(j)
            ),
            enr AS (
              SELECT l.user_id,
                     CAST(epoch(b.bts) AS BIGINT) AS beacon_ts,
                     b.beacon_v
              FROM lastt l ASOF LEFT JOIN beacons b
                ON l.user_id = b.user_id AND l.last_ts >= b.bts
            )
            SELECT boxes.*, speeds.distance, speeds.speed,
                   enr.beacon_ts, enr.beacon_v
            FROM boxes JOIN speeds USING (user_id) JOIN enr USING (user_id)
        """,
        "hausdorff": f"""
            WITH {pts},
            sp AS (SELECT event_id % 10 AS space_id, x, y FROM pts WHERE event_id < 300),
            pairmin AS (
              SELECT a.space_id AS space_i, b.space_id AS space_j, a.x AS ax, a.y AS ay,
                     min(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))) AS mind
              FROM sp a, sp b
              GROUP BY a.space_id, b.space_id, a.x, a.y
            )
            SELECT space_i, space_j,
                   CASE WHEN space_i = space_j THEN 0.0 ELSE max(mind) END AS distance
            FROM pairmin
            GROUP BY space_i, space_j
        """,
        "exact_dedup": """
            SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
            FROM documents
        """,
        "minhash": _minhash_sql(4),
        "lsh_pairs": f"""
            WITH sig AS ({_minhash_sql(4)}),
            bands AS (
              SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR) AS bucket FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR) AS bucket FROM sig
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
            WHERE a.doc_id < b.doc_id
        """,
        "lsh_canonical": f"""
            WITH sig AS ({_minhash_sql(4)}),
            bands AS (
              SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR) AS bucket FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR) AS bucket FROM sig
            ),
            star AS (
              SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bucket) AS id_a
              FROM bands
            )
            SELECT DISTINCT id_a, doc_id AS id_b FROM star WHERE id_a < doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE sig AS ({_minhash_sql(4)}),
            bands AS (
              SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR) AS bucket FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR) AS bucket FROM sig
            ),
            prs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
              WHERE a.doc_id < b.doc_id
            ),
            und AS (SELECT id_a AS a, id_b AS b FROM prs
                    UNION SELECT id_b AS a, id_a AS b FROM prs),
            reach(v, l) AS (
              SELECT DISTINCT a AS v, a AS l FROM und
              UNION
              SELECT u.b AS v, r.l FROM reach r JOIN und u ON u.a = r.v
            ),
            comp AS (
              SELECT v AS doc_id, min(l) AS canonical_id
              FROM reach GROUP BY v
            ),
            assigned AS (
              SELECT d.doc_id,
                     COALESCE(c.canonical_id, d.doc_id) AS canonical_id
              FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
            )
            SELECT doc_id, canonical_id,
                   CASE WHEN (canonical_id % 1000003) * 2654435761 % 1000003
                             / 1000003.0 < 0.9 THEN 'train'
                        WHEN (canonical_id % 1000003) * 2654435761 % 1000003
                             / 1000003.0 < 0.95 THEN 'val'
                        ELSE 'test' END AS split
            FROM assigned
        """,
        "simhash": _simhash_sql(),
        "ngram_jaccard": f"""
            WITH {_SHINGLE_SQL},
            sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
            pairs AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents WHERE doc_id + 1 < 100),
            inter AS (
              SELECT p.id_a, p.id_b, count(*) AS n_inter
              FROM pairs p
              JOIN shingles sa ON sa.doc_id = p.id_a
              JOIN shingles sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
              GROUP BY p.id_a, p.id_b
            )
            SELECT p.id_a, p.id_b,
                   COALESCE(i.n_inter, 0) AS n_inter,
                   na.n AS n_a, nb.n AS n_b,
                   COALESCE(i.n_inter, 0) / (na.n + nb.n - COALESCE(i.n_inter, 0)) AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
            JOIN sizes na ON na.doc_id = p.id_a
            JOIN sizes nb ON nb.doc_id = p.id_b
        """,
        "text_signals": """
            WITH q AS (
              SELECT doc_id, text,
                     length(text) AS n,
                     length(text) - length(replace(text, ' ', '')) AS n_space,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                     CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT)
                   + CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ''))) / 3 AS BIGINT)
                   + CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) / 4 AS BIGINT)
                   + CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5 AS BIGINT)
                   + CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) / 4 AS BIGINT)
                     AS stop_hits
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), ' +')) END AS n_tokens,
                   CAST(len(regexp_extract_all(trim(text), ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT) AS n_tokens_bpe,
                   CAST(ceil(length(trim(text)) / 4.0) AS BIGINT) AS n_tokens_bpe_est,
                   CAST(n >= 100 AND n <= 20000 AS DOUBLE) * 0.4
                 + least((n_alpha / n) / 0.7, 1.0) * 0.3
                 + least(CAST(stop_hits AS DOUBLE) / 5.0, 1.0) * 0.2
                 + CAST((n - n_space) / (n_space + 1) >= 3 AND (n - n_space) / (n_space + 1) <= 10 AS DOUBLE) * 0.1
                   AS quality
            FROM q
        """,
        "dup_ngrams": _dup_ngrams_oracle(),
        "decontam": _decontam_oracle(),
        "langid": f"""
            WITH scored AS (SELECT doc_id, {lang_cols} FROM documents),
            unrolled AS (
              SELECT doc_id, lang, score FROM scored,
              LATERAL (SELECT * FROM (VALUES {lang_rows}) AS t(lang, score)) u
            ),
            ranked AS (
              SELECT doc_id, lang, score,
                     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
              FROM unrolled
            )
            SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
            FROM ranked WHERE rn = 1
        """,
        "fingerprint": """
            WITH w AS (
              SELECT d.doc_id,
                     min(md5(substr(d.text, gs.i, 16))) AS robust
              FROM documents d,
                   LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 15, 1), 4)) AS i) gs
              GROUP BY d.doc_id
            )
            SELECT d.doc_id, md5(d.text) AS fingerprint, w.robust AS fingerprint_robust
            FROM documents d JOIN w ON d.doc_id = w.doc_id
        """,
        "ann_topk": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, v.vec_id AS neighbor_id,
                     ({_dot_sql('v.embedding', 'q.qv')})
                     / ({_norm_sql('v.embedding')} * {_norm_sql('q.qv')}) AS s
              FROM embeddings v, q
              WHERE v.vec_id != q.query_id
            ),
            ranked AS (
              SELECT query_id, neighbor_id, s,
                     row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(s, 6) AS score
            FROM ranked WHERE rank <= 5
        """,
        "cosine_near_dup": f"""
            WITH scored AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ({_dot_sql('a.embedding', 'b.embedding')})
                     / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}) AS s
              FROM embeddings a, embeddings b
              WHERE a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(s, 6) AS score
            FROM scored WHERE s >= 0.4
        """,
        "cosine_ivf": f"""
            WITH scored AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ({_dot_sql('a.embedding', 'b.embedding')})
                     / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}) AS s
              FROM embeddings a, embeddings b
              WHERE a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(s, 6) AS score
            FROM scored WHERE s >= 0.4
        """,
        "point_polygon_distance": f"""
            WITH {pts}, {segs},
            cand AS (
              SELECT p.event_id, p.x, p.y, s.ax, s.ay, s.bx, s.by
              FROM pts p JOIN segs s ON s.poly_id = p.event_id % 4
            ),
            agg AS (
              SELECT event_id,
                     sum({_crossing_sql('x', 'y', 'cand')}) AS ncross,
                     -- kernel ring segments run prev->current; segs VALUES
                     -- store (current, prev), so swap endpoints for bit parity
                     min({_psd_sql('x', 'y', 'cand.bx', 'cand.by', 'cand.ax', 'cand.ay')}) AS mind2
              FROM cand
              GROUP BY event_id, x, y
            )
            SELECT event_id,
                   CASE WHEN ncross % 2 = 1 THEN 0.0 ELSE sqrt(mind2) END AS distance
            FROM agg
        """,
        "nearest_points": f"""
            WITH {pts}, {lsegs},
            cand AS (
              SELECT p.event_id, p.x, p.y, s.seg_id, s.ax, s.ay, s.bx, s.by,
                     LEAST(GREATEST(
                       ((p.x - s.ax) * (s.bx - s.ax) + (p.y - s.ay) * (s.by - s.ay))
                       / ((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay)), 0.0), 1.0) AS t
              FROM pts p JOIN lsegs s ON s.line_id = p.event_id % 4
            ),
            proj AS (
              SELECT event_id, seg_id,
                     (ax + t * (bx - ax)) AS qx, (ay + t * (by - ay)) AS qy,
                     (x - (ax + t * (bx - ax))) * (x - (ax + t * (bx - ax)))
                   + (y - (ay + t * (by - ay))) * (y - (ay + t * (by - ay))) AS d2
              FROM cand
            ),
            ranked AS (
              SELECT event_id, seg_id, qx, qy,
                     row_number() OVER (PARTITION BY event_id ORDER BY d2, seg_id) AS rn
              FROM proj
            )
            SELECT event_id, seg_id AS segment_id, qx AS nearest_x, qy AS nearest_y
            FROM ranked WHERE rn = 1
        """,
        "linestring_distance": f"""
            WITH {pts}, {lsegs},
            pairdist AS (
              SELECT a.line_id AS l1, b.line_id AS l2,
                     CASE WHEN bool_or(
                       (((a.bx - a.ax) * (b.ay - a.ay) - (a.by - a.ay) * (b.ax - a.ax))
                      * ((a.bx - a.ax) * (b.by - a.ay) - (a.by - a.ay) * (b.bx - a.ax)) < 0)
                       AND
                       (((b.bx - b.ax) * (a.ay - b.ay) - (b.by - b.ay) * (a.ax - b.ax))
                      * ((b.bx - b.ax) * (a.by - b.ay) - (b.by - b.ay) * (a.bx - b.ax)) < 0)
                     ) THEN 0.0
                     ELSE sqrt(min(LEAST(
                       {_psd_sql('a.ax', 'a.ay', 'b.ax', 'b.ay', 'b.bx', 'b.by')},
                       {_psd_sql('a.bx', 'a.by', 'b.ax', 'b.ay', 'b.bx', 'b.by')},
                       {_psd_sql('b.ax', 'b.ay', 'a.ax', 'a.ay', 'a.bx', 'a.by')},
                       {_psd_sql('b.bx', 'b.by', 'a.ax', 'a.ay', 'a.bx', 'a.by')}
                     ))) END AS dist
              FROM lsegs a, lsegs b
              GROUP BY a.line_id, b.line_id
            )
            SELECT p.event_id, pd.dist AS distance
            FROM pts p JOIN pairdist pd
              ON pd.l1 = p.event_id % 4 AND pd.l2 = (p.event_id + 1) % 4
        """,
        "binpreds": f"""
            WITH {pts}, {segs},
            cand AS (
              SELECT p.event_id, p.x, p.y, s.ax, s.ay, s.bx, s.by
              FROM pts p JOIN segs s ON s.poly_id = p.event_id % 4
            ),
            agg AS (
              SELECT event_id,
                     sum({_crossing_sql('x', 'y', 'cand')}) AS ncross,
                     min({_psd_sql('x', 'y', 'cand.bx', 'cand.by', 'cand.ax', 'cand.ay')}) AS mind2
              FROM cand
              GROUP BY event_id, x, y
            )
            SELECT event_id,
                   ncross % 2 = 1 AS contains_properly,
                   (ncross % 2 = 1) OR (sqrt(mind2) = 0.0) AS intersects,
                   NOT ((ncross % 2 = 1) OR (sqrt(mind2) = 0.0)) AS disjoint
            FROM agg
        """,
        "knn": f"""
            WITH {pts},
            q AS (SELECT event_id AS query_id, x AS qx, y AS qy FROM pts WHERE event_id < 50),
            scored AS (
              SELECT q.query_id, p.event_id AS neighbor_id,
                     sqrt((p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)) AS distance
              FROM q, pts p
              WHERE p.event_id != q.query_id
            ),
            ranked AS (
              SELECT query_id, neighbor_id, distance,
                     row_number() OVER (PARTITION BY query_id ORDER BY distance, neighbor_id) AS rank
              FROM scored
              WHERE distance <= 1.0
            )
            SELECT query_id, neighbor_id, distance, rank FROM ranked WHERE rank <= 5
        """,
        "bpe_tokens": _bpe_oracle(),
        "repetition": _repetition_oracle(),
        "clean_text": _clean_text_oracle(),
        "semdedup": _semdedup_oracle(),
        "video_features": """
            -- Re-derives the synth_videos closed-form sample law
            -- (flat sample i of the (n, h, w, c) clip array of id g =
            -- (g*29 + i*13) % 247) so the Spark side's REAL decode of
            -- real Y4M / uncompressed-AVI bytes is checked
            -- header-to-raster against first principles.  Motion =
            -- mean |v(i) - v(i - h*w*c)| over i >= h*w*c (temporally
            -- adjacent samples); all sums are exact integers < 2^53
            -- so the float divisions are bit-identical to numpy's.
            WITH clips AS (
              SELECT doc_id AS g,
                     2 + doc_id % 5 AS n_frames,
                     4 + doc_id % 9 AS width,
                     3 + doc_id % 7 AS height,
                     CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS BIGINT) AS channels,
                     CAST(CASE doc_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 20
                          WHEN 2 THEN 25 ELSE 50 END AS DOUBLE) AS fps,
                     CASE WHEN doc_id % 3 = 2 THEN 'avi' ELSE 'y4m' END AS video_format
              FROM documents
            ),
            samp AS (
              SELECT g, n_frames, width, height, channels, fps, video_format, t.i,
                     (g * 29 + t.i * 13) % 247 AS v
              FROM clips, UNNEST(range(0, n_frames * width * height * channels)) AS t(i)
            ),
            agg AS (
              SELECT g, video_format, fps, n_frames, width, height, channels,
                     CAST(sum(v) AS DOUBLE) / count(*) AS px_mean,
                     min(v) AS px_min, max(v) AS px_max
              FROM samp
              GROUP BY g, video_format, fps, n_frames, width, height, channels
            ),
            mot AS (
              SELECT a.g,
                     CAST(sum(abs(a.v - b.v)) AS DOUBLE) / count(*) AS motion_mean
              FROM samp a JOIN samp b
                ON b.g = a.g AND b.i = a.i - a.height * a.width * a.channels
              GROUP BY a.g
            )
            SELECT agg.g AS doc_id, video_format, fps, n_frames, width, height,
                   channels, px_mean, px_min, px_max,
                   COALESCE(mot.motion_mean, 0.0) AS motion_mean
            FROM agg LEFT JOIN mot ON mot.g = agg.g
        """,
        "audio_features": """
            -- Re-derives the synth_audio closed-form sample law
            -- (flat interleaved sample i of clip g =
            -- ((g*37 + i*11) % 65521) - 32760) so the Spark side's
            -- REAL decode of real RIFF/PCM-16 bytes is checked
            -- header-to-frames against first principles.  All sums
            -- run over exact integers < 2^53, so the float division
            -- and sqrt are bit-identical to numpy's.
            WITH clips AS (
              SELECT doc_id AS g,
                     40 + doc_id % 97 AS n_frames,
                     CAST(1 + doc_id % 2 AS BIGINT) AS channels,
                     CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate
              FROM documents
            ),
            samp AS (
              SELECT g, n_frames, channels, sample_rate, t.i,
                     ((g * 37 + t.i * 11) % 65521) - 32760 AS s
              FROM clips, UNNEST(range(0, n_frames * channels)) AS t(i)
            ),
            agg AS (
              SELECT g, n_frames, channels, sample_rate,
                     CAST(sum(s) AS DOUBLE) / count(*) AS amp_mean,
                     min(s) AS amp_min, max(s) AS amp_max,
                     sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)) AS rms
              FROM samp
              GROUP BY g, n_frames, channels, sample_rate
            ),
            zc AS (
              SELECT a.g,
                     count(*) FILTER (WHERE a.s * b.s < 0) AS zero_crossings
              FROM samp a JOIN samp b
                ON b.g = a.g AND b.i = a.i + a.channels
              GROUP BY a.g
            )
            SELECT agg.g AS doc_id, sample_rate, channels, n_frames,
                   CAST(n_frames AS DOUBLE) / sample_rate AS duration_s,
                   amp_mean, amp_min, amp_max, rms,
                   COALESCE(zc.zero_crossings, 0) AS zero_crossings
            FROM agg LEFT JOIN zc ON zc.g = agg.g
        """,
        "multimodal_decode": """
            -- Re-derives the synth_images closed-form pixel law
            -- (flat pixel i of image g = (g*31 + i*7) % 251) so the
            -- Spark side's REAL decode of real PGM/PPM/BMP/PNG bytes
            -- is checked header-to-raster against first principles.
            WITH imgs AS (
              SELECT doc_id AS g,
                     4 + doc_id % 13 AS width,
                     3 + doc_id % 11 AS height,
                     CAST(CASE WHEN doc_id % 6 IN (0, 3, 4) THEN 1 ELSE 3 END AS BIGINT) AS channels,
                     CASE doc_id % 6 WHEN 0 THEN 'pgm' WHEN 1 THEN 'ppm'
                          WHEN 2 THEN 'bmp' WHEN 3 THEN 'bmp'
                          ELSE 'png' END AS image_format
              FROM documents
            )
            , feats AS (
              SELECT g AS doc_id, image_format, width, height, channels,
                     avg((g * 31 + t.i * 7) % 251) AS px_mean,
                     min((g * 31 + t.i * 7) % 251) AS px_min,
                     max((g * 31 + t.i * 7) % 251) AS px_max
              FROM imgs, UNNEST(range(0, width * height * channels)) AS t(i)
              GROUP BY g, image_format, width, height, channels
            ),
            -- binary_metadata consolidated into this slot (50-cap)
            meta AS (
              SELECT doc_id,
                     CAST(length(text) AS BIGINT) AS payload_bytes,
                     md5(text) AS payload_md5,
                     CASE WHEN text LIKE '<htm%' OR text LIKE '<!do%' THEN 'html'
                          WHEN text LIKE 'GIF8%' THEN 'gif'
                          WHEN text LIKE 'RIFF%' THEN 'riff'
                          WHEN text LIKE 'P5%' THEN 'pgm'
                          WHEN text LIKE 'P6%' THEN 'ppm'
                          WHEN text LIKE 'BM%' THEN 'bmp'
                          ELSE 'unknown' END AS payload_format
              FROM documents
            )
            SELECT feats.*, meta.payload_bytes, meta.payload_md5,
                   meta.payload_format
            FROM feats JOIN meta USING (doc_id)
        """,
        "pip_pairwise": f"""
            WITH {pts}, {segs},
            agg AS (
              SELECT p.event_id, sum({_crossing_sql()}) AS ncross
              FROM pts p JOIN segs s ON s.poly_id = p.event_id % 4
              GROUP BY p.event_id, p.x, p.y
            )
            SELECT event_id, ncross % 2 = 1 AS in_polygon FROM agg
        """,
        "lspoly_distance": f"""
            WITH {pts}, {segs}, {tl},
            -- kernel: 0 if line start inside polygon OR any proper
            -- segment intersection, else min 4-endpoint distance over
            -- (line seg x ring seg); ring segments run prev->current
            -- = (s.bx,s.by)->(s.ax,s.ay)
            agg AS (
              SELECT p.event_id,
                     sum({_crossing_sql('t.ax', 't.ay', 's')}) AS ncross,
                     bool_or({_proper_sql('t.ax', 't.ay', 't.bx', 't.by',
                                          's.bx', 's.by', 's.ax', 's.ay')}) AS hit,
                     min({_segseg_d2_sql('t.ax', 't.ay', 't.bx', 't.by',
                                         's.bx', 's.by', 's.ax', 's.ay')}) AS mind2
              FROM pts p
              JOIN tl t ON t.line_id = p.event_id % 5
              JOIN segs s ON s.poly_id = p.event_id % 4
              GROUP BY p.event_id
            )
            SELECT event_id,
                   CASE WHEN ncross % 2 = 1 OR hit THEN 0.0 ELSE sqrt(mind2) END AS distance
            FROM agg
        """,
        "polygon_distance": f"""
            WITH {pts}, {segs}, pv(poly_id, fx, fy) AS (VALUES {_poly_first_vertex_values()}),
            rows AS (SELECT event_id, event_id % 4 AS lp, (event_id + 1) % 4 AS rp FROM pts),
            lc AS (
              SELECT r.event_id, sum({_crossing_sql('v.fx', 'v.fy', 's')}) AS nl
              FROM rows r JOIN pv v ON v.poly_id = r.lp JOIN segs s ON s.poly_id = r.rp
              GROUP BY r.event_id
            ),
            rc AS (
              SELECT r.event_id, sum({_crossing_sql('v.fx', 'v.fy', 's')}) AS nr
              FROM rows r JOIN pv v ON v.poly_id = r.rp JOIN segs s ON s.poly_id = r.lp
              GROUP BY r.event_id
            ),
            dd AS (
              SELECT r.event_id,
                     bool_or({_proper_sql('sa.bx', 'sa.by', 'sa.ax', 'sa.ay',
                                          'sb.bx', 'sb.by', 'sb.ax', 'sb.ay')}) AS hit,
                     min({_segseg_d2_sql('sa.bx', 'sa.by', 'sa.ax', 'sa.ay',
                                         'sb.bx', 'sb.by', 'sb.ax', 'sb.ay')}) AS mind2
              FROM rows r JOIN segs sa ON sa.poly_id = r.lp JOIN segs sb ON sb.poly_id = r.rp
              GROUP BY r.event_id
            )
            SELECT lc.event_id,
                   CASE WHEN lc.nl % 2 = 1 OR rc.nr % 2 = 1 OR dd.hit
                        THEN 0.0 ELSE sqrt(dd.mind2) END AS distance
            FROM lc JOIN rc ON rc.event_id = lc.event_id
                    JOIN dd ON dd.event_id = lc.event_id
        """,
        "intersection": f"""
            WITH {pts}, {tl},
            {_ls_intersection_calc_sql('p.event_id % 5',
                                       '(p.event_id + 1 + 2 * (p.event_id % 2)) % 5')}
            SELECT event_id, li AS lhs_index, ri AS rhs_index,
                   CASE WHEN k = 1 THEN 0 ELSE 1 END AS kind,
                   round(px, 6) AS c1, round(py, 6) AS c2,
                   CASE WHEN k = 2 THEN round(qx, 6) END AS c3,
                   CASE WHEN k = 2 THEN round(qy, 6) END AS c4,
                   CAST(0 AS BIGINT) AS lhs_segment_id,
                   CAST(0 AS BIGINT) AS rhs_segment_id
            FROM kinds WHERE k != 0
        """,
        "binpreds_ls": f"""
            WITH {pts}, {tl},
            {_ls_intersection_calc_sql('0', 'p.event_id % 5')}
            SELECT event_id,
                   ({_proper_sql('ax', 'ay', 'bx', 'by', 'cx', 'cy', 'dx', 'dy')})
                   OR ({_segseg_d2_sql('ax', 'ay', 'bx', 'by', 'cx', 'cy', 'dx', 'dy')} = 0.0)
                     AS intersects,
                   {_proper_sql('ax', 'ay', 'bx', 'by', 'cx', 'cy', 'dx', 'dy')} AS crosses,
                   k = 1 AND ((px = ax AND py = ay) OR (px = bx AND py = by)
                           OR (px = cx AND py = cy) OR (px = dx AND py = dy)) AS touches,
                   k = 2
                   AND sqrt((qx - px) * (qx - px) + (qy - py) * (qy - py))
                       < sqrt(rx * rx + ry * ry) - 1e-12
                   AND sqrt((qx - px) * (qx - px) + (qy - py) * (qy - py))
                       < sqrt(sx * sx + sy * sy) - 1e-12
                     AS overlaps
            FROM kinds
        """,
        "multipoint_ops": f"""
            WITH {pts},
            l AS (SELECT CAST(floor(event_id / 10) AS BIGINT) AS g, x, y
                  FROM pts WHERE event_id < 200),
            r5 AS (SELECT CAST(floor((event_id - 5) / 10) AS BIGINT) AS g, x, y
                   FROM pts WHERE event_id >= 5 AND event_id < 205),
            r25 AS (SELECT CAST(floor((event_id - 25) / 10) AS BIGINT) AS g, x, y
                    FROM pts WHERE event_id >= 25 AND event_id < 225),
            eq AS (
              SELECT l.g, count(m.x) AS equals_count
              FROM l LEFT JOIN (SELECT DISTINCT g, x, y FROM r5) m
                ON m.g = l.g AND m.x = l.x AND m.y = l.y
              GROUP BY l.g
            ),
            dist AS (
              SELECT l.g,
                     sqrt(min((l.x - r25.x) * (l.x - r25.x)
                              + (l.y - r25.y) * (l.y - r25.y))) AS distance
              FROM l JOIN r25 ON r25.g = l.g
              GROUP BY l.g
            )
            SELECT eq.g AS group_id, eq.equals_count, dist.distance
            FROM eq JOIN dist ON dist.g = eq.g
        """,
        "binpreds2": f"""
            WITH {pts}, {segs},
            cand AS (
              SELECT p.event_id, p.x, p.y, s.ax, s.ay, s.bx, s.by
              FROM pts p JOIN segs s ON s.poly_id = p.event_id % 4
            ),
            agg AS (
              SELECT event_id,
                     sum({_crossing_sql('x', 'y', 'cand')}) AS ncross,
                     min({_psd_sql('x', 'y', 'cand.bx', 'cand.by', 'cand.ax', 'cand.ay')}) AS mind2
              FROM cand
              GROUP BY event_id, x, y
            )
            SELECT event_id,
                   (ncross % 2 = 1) OR (sqrt(mind2) = 0.0) AS contains,
                   (ncross % 2 = 1) OR (sqrt(mind2) = 0.0) AS covers,
                   ncross % 2 = 1 AS within
            FROM agg
        """,
        "geom_equals": f"""
            WITH {pts},
            l AS (SELECT event_id, x, y FROM pts WHERE event_id < 200),
            r AS (SELECT event_id, x, y FROM pts WHERE event_id < 200)
            SELECT l.event_id, (l.x = r.x AND l.y = r.y) AS geom_equals
            FROM l JOIN r ON r.event_id = l.event_id - (l.event_id % 2)
        """,
        "binpreds3": f"""
            WITH {pts}, {segs}, {tl},
            tl2(line_id, ax, ay, bx, by) AS (VALUES {_tl2_values()}),
            rows AS (
              SELECT event_id, x, y, event_id % 4 AS lp, (event_id + 1) % 4 AS rp,
                     event_id % 5 AS lsi, event_id % 3 AS li2, event_id % 4 AS pi
              FROM pts
            ),
            pv(poly_id, fx, fy) AS (VALUES {_poly_first_vertex_values()}),
            lc AS (
              SELECT r.event_id, sum({_crossing_sql('v.fx', 'v.fy', 's')}) AS nl
              FROM rows r JOIN pv v ON v.poly_id = r.lp JOIN segs s ON s.poly_id = r.rp
              GROUP BY r.event_id
            ),
            rc AS (
              SELECT r.event_id, sum({_crossing_sql('v.fx', 'v.fy', 's')}) AS nr
              FROM rows r JOIN pv v ON v.poly_id = r.rp JOIN segs s ON s.poly_id = r.lp
              GROUP BY r.event_id
            ),
            dd AS (
              SELECT r.event_id,
                     bool_or({_proper_sql('sa.bx', 'sa.by', 'sa.ax', 'sa.ay',
                                          'sb.bx', 'sb.by', 'sb.ax', 'sb.ay')}) AS hit,
                     min({_segseg_d2_sql('sa.bx', 'sa.by', 'sa.ax', 'sa.ay',
                                         'sb.bx', 'sb.by', 'sb.ax', 'sb.ay')}) AS mind2
              FROM rows r JOIN segs sa ON sa.poly_id = r.lp JOIN segs sb ON sb.poly_id = r.rp
              GROUP BY r.event_id
            ),
            cva AS (
              SELECT r.event_id, sv.ax AS vx, sv.ay AS vy,
                     sum({_crossing_sql('sv.ax', 'sv.ay', 's')}) AS nc,
                     min({_psd_sql('sv.ax', 'sv.ay', 's.bx', 's.by', 's.ax', 's.ay')}) AS md2
              FROM rows r JOIN segs sv ON sv.poly_id = r.rp JOIN segs s ON s.poly_id = r.lp
              GROUP BY r.event_id, sv.ax, sv.ay
            ),
            cv AS (
              SELECT event_id, bool_and(nc % 2 = 1 OR md2 = 0) AS allin
              FROM cva GROUP BY event_id
            ),
            ptd AS (
              SELECT r.event_id,
                     {_psd_sql('r.x', 'r.y', 't.ax', 't.ay', 't.bx', 't.by')} AS d2
              FROM rows r JOIN tl t ON t.line_id = r.lsi
            ),
            wp AS (
              SELECT r.event_id,
                     sum({_crossing_sql('m.ax', 'm.ay', 's')}) AS na,
                     sum({_crossing_sql('m.bx', 'm.by', 's')}) AS nb,
                     min({_psd_sql('m.ax', 'm.ay', 's.bx', 's.by', 's.ax', 's.ay')}) AS da2,
                     min({_psd_sql('m.bx', 'm.by', 's.bx', 's.by', 's.ax', 's.ay')}) AS db2,
                     bool_or({_proper_sql('m.ax', 'm.ay', 'm.bx', 'm.by',
                                          's.bx', 's.by', 's.ax', 's.ay')}) AS hit
              FROM rows r JOIN tl2 m ON m.line_id = r.li2 JOIN segs s ON s.poly_id = r.pi
              GROUP BY r.event_id
            )
            SELECT r.event_id,
                   (lc.nl % 2 = 1) OR (rc.nr % 2 = 1) OR dd.hit OR dd.mind2 = 0 AS pp_intersects,
                   NOT ((lc.nl % 2 = 1) OR (rc.nr % 2 = 1) OR dd.hit OR dd.mind2 = 0) AS pp_disjoint,
                   cv.allin AND NOT dd.hit AS pp_contains,
                   ptd.d2 = 0 AS ptls_intersects,
                   NOT (ptd.d2 = 0) AS ptls_disjoint,
                   (wp.na % 2 = 1 OR wp.da2 = 0) AND (wp.nb % 2 = 1 OR wp.db2 = 0)
                     AND NOT wp.hit AS ls_within,
                   wp.hit
                     OR ((wp.na % 2 = 1 AND wp.da2 > 0) AND (wp.nb % 2 = 0 AND wp.db2 > 0))
                     OR ((wp.nb % 2 = 1 AND wp.db2 > 0) AND (wp.na % 2 = 0 AND wp.da2 > 0))
                     AS ls_crosses
            FROM rows r
            JOIN lc ON lc.event_id = r.event_id
            JOIN rc ON rc.event_id = r.event_id
            JOIN dd ON dd.event_id = r.event_id
            JOIN cv ON cv.event_id = r.event_id
            JOIN ptd ON ptd.event_id = r.event_id
            JOIN wp ON wp.event_id = r.event_id
        """,
        "derive_traj": """
            WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
            SELECT user_id,
                   CAST(COALESCE(sum(n) OVER (ORDER BY user_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                     AS traj_offset
            FROM c
        """,
        # the oracle is the ORIGINAL text column: the Spark query wraps
        # it into adversarial HTML and extracts it back, so hash match
        # == byte-identical extraction per document (north-rule
        # invariant).
        "extract_text": "SELECT doc_id, text FROM documents",
        "hilbert": f"""
            WITH {pts},
            {_hilbert_sql()}
            SELECT event_id, i, j, hd AS hilbert_key FROM h1
        """,
        # independent closed-form oracles for the engineered points vs
        # L0 = segment (0,0)-(4,0) and the integer square (0,0)-(4,4)
        "binpreds4": f"""
            WITH bp AS ({_BINPRED_PTS_SQL})
            SELECT event_id,
                   (y = 0.0 AND x >= 0.0 AND x <= 4.0) AS pt_covers,
                   (y = 0.0 AND x > 0.0 AND x < 4.0) AS pt_within,
                   (y = 0.0 AND (x = 0.0 OR x = 4.0)) AS pt_touches
            FROM bp
        """,
        "binpreds5": f"""
            WITH bp AS ({_BINPRED_PTS_SQL})
            SELECT event_id,
                   (((x = 0.0 OR x = 4.0) AND y >= 0.0 AND y <= 4.0)
                    OR ((y = 0.0 OR y = 4.0) AND x >= 0.0 AND x <= 4.0)) AS pt_touches,
                   (x >= 0.0 AND x <= 4.0 AND y >= 0.0 AND y <= 4.0) AS pt_covers
            FROM bp
        """,
        "rasterize": f"""
            WITH {segs}, {_raster_grid_sql()}
            SELECT g.i, g.j, s.poly_id AS polygon_id
            FROM g, segs s
            GROUP BY g.i, g.j, s.poly_id, g.cx, g.cy
            HAVING sum({_crossing_sql(px='g.cx', py='g.cy')}) % 2 = 1
        """,
        "vectorize": f"""
            WITH {segs}, {_raster_grid_sql()},
            cells AS (
              SELECT g.i, g.j, s.poly_id AS value
              FROM g, segs s
              GROUP BY g.i, g.j, s.poly_id, g.cx, g.cy
              HAVING sum({_crossing_sql(px='g.cx', py='g.cy')}) % 2 = 1
            ),
            runs AS (
              SELECT value, j, i,
                     i - row_number() OVER (PARTITION BY value, j ORDER BY i) AS grp
              FROM cells
            ),
            hruns AS (
              SELECT value, j, min(i) AS i0, max(i) AS i1
              FROM runs GROUP BY value, j, grp
            ),
            vruns AS (
              SELECT value, i0, i1, j,
                     j - row_number() OVER (PARTITION BY value, i0, i1 ORDER BY j) AS vgrp
              FROM hruns
            ),
            rects AS (
              SELECT value, i0, i1, min(j) AS j0, max(j) AS j1
              FROM vruns GROUP BY value, i0, i1, vgrp
            )
            SELECT value,
                   CAST({RASTER['x_min']!r} + i0 * {RASTER['cell_size']!r} AS DOUBLE) AS x0,
                   CAST({RASTER['y_min']!r} + j0 * {RASTER['cell_size']!r} AS DOUBLE) AS y0,
                   CAST({RASTER['x_min']!r} + (i1 + 1) * {RASTER['cell_size']!r} AS DOUBLE) AS x1,
                   CAST({RASTER['y_min']!r} + (j1 + 1) * {RASTER['cell_size']!r} AS DOUBLE) AS y1
            FROM rects
        """,
        "multipart_distance": f"""
            WITH {pts},
            mlsegs(geom_id, ax, ay, bx, by) AS (VALUES {_mls_seg_values()}),
            mpsegs(geom_id, part_id, ax, ay, bx, by) AS (VALUES {_mpoly_seg_values()}),
            mld AS (
              SELECT p.event_id,
                     min({_psd_sql('p.x', 'p.y', 's.ax', 's.ay', 's.bx', 's.by')}) AS d2
              FROM pts p JOIN mlsegs s ON s.geom_id = p.event_id % 4
              GROUP BY p.event_id
            ),
            mpd_part AS (
              SELECT p.event_id, s.part_id,
                     sum({_crossing_sql('p.x', 'p.y', 's')}) AS ncross,
                     -- segments stored (current, prev); swap for ray-cast
                     -- parity like the point_polygon_distance oracle
                     min({_psd_sql('p.x', 'p.y', 's.bx', 's.by', 's.ax', 's.ay')}) AS mind2
              FROM pts p JOIN mpsegs s ON s.geom_id = (p.event_id + 1) % 4
              GROUP BY p.event_id, s.part_id, p.x, p.y
            ),
            mpd AS (
              SELECT event_id,
                     min(CASE WHEN ncross % 2 = 1 THEN 0.0 ELSE sqrt(mind2) END) AS mpoly_dist
              FROM mpd_part GROUP BY event_id
            )
            SELECT m.event_id, sqrt(m.d2) AS mls_dist, d.mpoly_dist
            FROM mld m JOIN mpd d ON m.event_id = d.event_id
        """,
        "spherical_pip": _spherical_oracle_sql(pts),
        # full-probe IVF is exactly brute-force top-k: same oracle
        "ann_ivf": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, v.vec_id AS neighbor_id,
                     ({_dot_sql('v.embedding', 'q.qv')})
                     / ({_norm_sql('v.embedding')} * {_norm_sql('q.qv')}) AS s
              FROM embeddings v, q
              WHERE v.vec_id != q.query_id
            ),
            ranked AS (
              SELECT query_id, neighbor_id, s,
                     row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(s, 6) AS score
            FROM ranked WHERE rank <= 5
        """,
        "contains_count": f"""
            WITH {pts}, {segs},
            mpv(mp_id, px, py) AS (VALUES {_mode_multipoint_values()}),
            cand AS (
              SELECT p.event_id, v.px, v.py, s.ax, s.ay, s.bx, s.by
              FROM pts p
              JOIN mpv v ON v.mp_id = p.event_id % 40
              JOIN segs s ON s.poly_id = p.event_id % 4
            ),
            per_v AS (
              SELECT event_id, px, py,
                     sum({_crossing_sql('px', 'py', 'cand')}) AS ncross,
                     min({_psd_sql('px', 'py', 'cand.bx', 'cand.by', 'cand.ax', 'cand.ay')}) AS mind2
              FROM cand GROUP BY event_id, px, py
            )
            SELECT event_id,
                   CAST(sum(CASE WHEN ncross % 2 = 1 AND mind2 <> 0.0
                            THEN 1 ELSE 0 END) AS INT) AS n_inside
            FROM per_v GROUP BY event_id
        """,
        "url_canon": r"""
            WITH docs AS (
              SELECT doc_id,
                     'HTTPS://WWW.Site' || CAST(doc_id % 40 AS VARCHAR)
                     || '.Example.COM:443/Page/' || CAST(doc_id % 200 AS VARCHAR)
                     || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                     || '?utm_source=feed&keep=' || CAST(doc_id % 5 AS VARCHAR)
                     || '&fbclid=xyz#section' AS url
              FROM documents
            ),
            c AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM docs),
            parts AS (
              SELECT doc_id,
                     lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
              FROM c
            ),
            hp AS (
              SELECT doc_id, scheme,
                     lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
                     regexp_replace(rest, '^[^/?]*', '') AS pathq
              FROM parts
            ),
            h2 AS (
              SELECT doc_id, scheme, pathq,
                     regexp_replace(
                       CASE WHEN scheme = 'https' AND hostport LIKE '%:443'
                              THEN regexp_replace(hostport, ':443$', '')
                            WHEN scheme = 'http' AND hostport LIKE '%:80'
                              THEN regexp_replace(hostport, ':80$', '')
                            ELSE hostport END,
                       '^(www\.)+', '') AS host
              FROM hp
            ),
            pq AS (
              SELECT doc_id, scheme, host,
                     regexp_extract(pathq, '^([^?]*)', 1) AS path,
                     regexp_extract(pathq, '\?(.*)$', 1) AS query
              FROM h2
            ),
            filt AS (
              SELECT doc_id, scheme, host,
                     CASE WHEN path = '' THEN '/'
                          WHEN path <> '/' THEN regexp_replace(path, '/$', '')
                          ELSE path END AS npath,
                     array_to_string(
                       list_filter(string_split(query, '&'),
                         p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=.*)?$')),
                       '&') AS newq
              FROM pq
            ),
            canon AS (
              SELECT doc_id,
                     scheme || '://' || host || npath
                     || CASE WHEN newq <> '' THEN '?' || newq ELSE '' END AS canonical_url
              FROM filt
            ),
            ranked AS (
              SELECT doc_id, canonical_url,
                     row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) AS rn
              FROM canon
            ),
            stats AS (
              SELECT regexp_extract(canonical_url, '^[a-z0-9+.-]+://([^/?]*)', 1) AS host,
                     count(*) AS host_rows,
                     count(DISTINCT canonical_url) AS host_urls
              FROM canon GROUP BY 1
            ),
            joined AS (
              SELECT r.doc_id, r.canonical_url, s.host, s.host_rows, s.host_urls
              FROM ranked r
              JOIN stats s
                ON regexp_extract(r.canonical_url, '^[a-z0-9+.-]+://([^/?]*)', 1) = s.host
              WHERE r.rn = 1
            ),
            -- host_sample: domain-balance cap, 3 per host by doc_id
            capped AS (
              SELECT *, row_number() OVER (PARTITION BY host ORDER BY doc_id)
                        AS host_rank
              FROM joined
            ),
            samp AS (
              SELECT doc_id, canonical_url, host, host_rows, host_urls, host_rank,
                     't' || CAST(CAST(floor(sqrt(doc_id % 100)) AS INT) AS VARCHAR)
                       AS mix_domain
              FROM capped WHERE host_rank <= 3
            ),
            -- mixture sampling replay (textops/mixture.py): alpha=0.5
            -- temperature rates over the skewed sqrt-bucket tiers
            -- (round-9 pinned on both engines), md5-uniform Bernoulli,
            -- UNNEST copy fan-out
            mix_c AS (
              SELECT mix_domain AS domain, CAST(count(*) AS DOUBLE) AS c
              FROM samp GROUP BY mix_domain
            ),
            mix_t AS (SELECT sum(c) AS n, sum(pow(c, 0.5)) AS z FROM mix_c),
            mix_rates AS (
              SELECT domain,
                     round(least(t.n * pow(c, 0.5) / t.z / c, 4.0), 9) AS rate
              FROM mix_c, mix_t t
            ),
            mixn AS (
              SELECT s.*, CAST(floor(r.rate) AS INT)
                     + CASE WHEN CAST(('0x' || substring(md5('11:' || CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                                 / 4294967296.0 < r.rate - floor(r.rate)
                            THEN 1 ELSE 0 END AS __n
              FROM samp s JOIN mix_rates r ON s.mix_domain = r.domain
            )
            SELECT doc_id, canonical_url, host, host_rows, host_urls,
                   host_rank, mix_domain, CAST(u.c AS INT) AS copy
            FROM mixn, UNNEST(range(0, __n)) AS u(c)
            WHERE __n > 0
        """,
    }
    # ------------------------------------------- consolidated oracles
    # each combined query joins/unions the constituent oracles exactly
    # as the Spark side joins/unions the constituent plans (see the
    # q_* consolidation block): the SQL truth per operator is unchanged
    o["projections"] = f"""
        WITH c0 AS ({o.pop("haversine")}),
             c1 AS ({o.pop("sinusoidal")}),
             c2 AS ({o.pop("utm")})
        SELECT c0.event_id, c0.hav_km, c1.px, c1.py, c2.easting, c2.northing
        FROM c0 JOIN c1 USING (event_id) JOIN c2 USING (event_id)
    """
    o["pip_variants"] = f"""
        SELECT 'shuffle' AS variant, * FROM ({o.pop("pip_shuffle")})
        UNION ALL
        SELECT 'edge_exact' AS variant, * FROM ({o.pop("pip_edge_exact")})
    """
    o["pairwise_distances"] = f"""
        WITH c0 AS ({o.pop("point_polygon_distance")}),
             c1 AS ({o.pop("linestring_distance")}),
             c2 AS ({o.pop("lspoly_distance")}),
             c3 AS ({o.pop("polygon_distance")}),
             c4 AS ({o.pop("nearest_points")})
        SELECT c0.event_id, c0.distance AS pt_poly_dist, c1.distance AS ls_ls_dist,
               c2.distance AS ls_poly_dist, c3.distance AS poly_poly_dist,
               c4.segment_id AS np_segment_id, c4.nearest_x AS np_x,
               c4.nearest_y AS np_y
        FROM c0 JOIN c1 USING (event_id) JOIN c2 USING (event_id)
                JOIN c3 USING (event_id) JOIN c4 USING (event_id)
    """
    o["binpreds_pt_poly"] = f"""
        WITH c0 AS ({o.pop("binpreds")}), c1 AS ({o.pop("binpreds2")})
        SELECT c0.event_id, c0.contains_properly, c0.intersects, c0.disjoint,
               c1.contains, c1.covers, c1.within
        FROM c0 JOIN c1 USING (event_id)
    """
    o["binpreds_boundary"] = f"""
        WITH c0 AS ({o.pop("binpreds4")}), c1 AS ({o.pop("binpreds5")})
        SELECT c0.event_id, c0.pt_covers, c0.pt_within, c0.pt_touches,
               c1.pt_touches AS poly_pt_touches, c1.pt_covers AS poly_pt_covers
        FROM c0 JOIN c1 USING (event_id)
    """
    # s2_cells: replay of functions/expressions.py with_s2_cell — the
    # standard S2 cube-face projection (s2coords.h face/uv tables),
    # quadratic uv->st transform, level-12 quantization, and the
    # 16-bit Morton dilation chain, all as DuckDB arithmetic.  Every
    # float op (cos/sin/divide/sqrt/floor) is IEEE-double on both
    # sides, so cell ids match bit-for-bit away from cell boundaries
    # (boundary-hit probability ~ulp x grid ~ 4e-13 per row).
    s2_sql = f"""
        WITH {pts},
        ll AS (SELECT event_id, x * 45.0 - 180.0 AS lon, y * 20.0 - 80.0 AS lat FROM pts),
        xyz AS (
          SELECT event_id,
                 cos(radians(lat)) * cos(radians(lon)) AS px,
                 cos(radians(lat)) * sin(radians(lon)) AS py,
                 sin(radians(lat)) AS pz
          FROM ll
        ),
        fc AS (
          SELECT event_id, px, py, pz,
                 CASE WHEN abs(pz) >= abs(px) AND abs(pz) >= abs(py)
                      THEN CASE WHEN pz > 0 THEN 2 ELSE 5 END
                      WHEN abs(py) >= abs(px)
                      THEN CASE WHEN py > 0 THEN 1 ELSE 4 END
                      ELSE CASE WHEN px > 0 THEN 0 ELSE 3 END END AS face
          FROM xyz
        ),
        uv AS (
          SELECT event_id, face,
                 CASE face WHEN 0 THEN py/px WHEN 1 THEN -px/py WHEN 2 THEN -px/pz
                      WHEN 3 THEN pz/px WHEN 4 THEN pz/py ELSE -py/pz END AS u,
                 CASE face WHEN 0 THEN pz/px WHEN 1 THEN pz/py WHEN 2 THEN -py/pz
                      WHEN 3 THEN py/px WHEN 4 THEN -px/py ELSE -px/pz END AS v
          FROM fc
        ),
        ij AS (
          SELECT event_id, face,
                 greatest(0, least(CAST(floor(
                   (CASE WHEN u >= 0 THEN sqrt(1 + 3*u)*0.5
                         ELSE 1 - sqrt(1 - 3*u)*0.5 END) * 4096) AS BIGINT), 4095)) AS i,
                 greatest(0, least(CAST(floor(
                   (CASE WHEN v >= 0 THEN sqrt(1 + 3*v)*0.5
                         ELSE 1 - sqrt(1 - 3*v)*0.5 END) * 4096) AS BIGINT), 4095)) AS j
          FROM uv
        ),
        d0 AS (SELECT event_id, face, (i | (i << 8)) & 16711935 AS di,
                      (j | (j << 8)) & 16711935 AS dj FROM ij),
        d1 AS (SELECT event_id, face, (di | (di << 4)) & 252645135 AS di,
                      (dj | (dj << 4)) & 252645135 AS dj FROM d0),
        d2 AS (SELECT event_id, face, (di | (di << 2)) & 858993459 AS di,
                      (dj | (dj << 2)) & 858993459 AS dj FROM d1),
        d3 AS (SELECT event_id, face, (di | (di << 1)) & 1431655765 AS di,
                      (dj | (dj << 1)) & 1431655765 AS dj FROM d2)
        SELECT event_id,
               CAST(face AS BIGINT) * 16777216 + ((dj << 1) | di) AS s2_cell,
               CAST(face AS BIGINT) AS s2_face
        FROM d3
    """
    o["curve_keys"] = f"""
        WITH c0 AS ({o.pop("tile_assign")}), c1 AS ({o.pop("hilbert")}),
             c2 AS ({s2_sql})
        SELECT c0.event_id, c0.morton_key, c0.tile,
               c1.i, c1.j, c1.hilbert_key, c2.s2_cell, c2.s2_face
        FROM c0 JOIN c1 USING (event_id) JOIN c2 USING (event_id)
    """
    # binpreds_ls folded into binpreds3 (50-cap): same event_id key
    o["binpreds3"] = f"""
        WITH c0 AS ({o["binpreds3"]}), c1 AS ({o.pop("binpreds_ls")})
        SELECT c0.*, c1.intersects, c1.crosses, c1.touches, c1.overlaps
        FROM c0 JOIN c1 USING (event_id)
    """
    # geom_equals folded into binpreds3 too (frees the decontam slot);
    # LEFT join — the equals fixture exists only for event_id < 200
    o["binpreds3"] = f"""
        WITH b3 AS ({o["binpreds3"]}), ge AS ({o.pop("geom_equals")})
        SELECT b3.*, coalesce(ge.geom_equals, FALSE) AS geom_equals
        FROM b3 LEFT JOIN ge USING (event_id)
    """
    # geo_knn: brute cross join + row_number over the same haversine
    # arithmetic; the self-id exclusion mirrors the planar knn_join
    o["geo_knn"] = f"""
        WITH {pts},
        pages AS (
          SELECT event_id AS query_id, x * 45.0 - 180.0 AS lon,
                 y * 20.0 - 80.0 AS lat
          FROM pts
        ),
        pois AS (
          SELECT event_id AS poi_id, y * 45.0 - 180.0 AS plon,
                 x * 20.0 - 80.0 AS plat
          FROM pts WHERE event_id < 30
        ),
        pairs AS (
          SELECT query_id, poi_id,
                 2.0 * 6371.0 * asin(sqrt(
                     sin((radians(lat) - radians(plat)) / 2)
                       * sin((radians(lat) - radians(plat)) / 2)
                   + sin((radians(lon) - radians(plon)) / 2)
                       * sin((radians(lon) - radians(plon)) / 2)
                       * cos(radians(plat)) * cos(radians(lat))
                 )) AS d
          FROM pages, pois
          WHERE poi_id != query_id
        ),
        ranked AS (
          SELECT query_id, poi_id AS neighbor_id, d,
                 row_number() OVER (PARTITION BY query_id ORDER BY d, poi_id) AS rank
          FROM pairs
        )
        SELECT query_id, neighbor_id, round(d, 4) AS distance_km, rank
        FROM ranked WHERE rank <= 5
    """
    # radius_join: brute-force cross join with the SAME haversine
    # arithmetic (op-for-op: half-angle of the radians difference,
    # sin^2 terms, cos scale, 2R asin sqrt) — proves the 3D chord-grid
    # candidate set loses no pair at the 500 km cutoff
    o["radius_join"] = f"""
        WITH {pts},
        pages AS (
          SELECT event_id, x * 45.0 - 180.0 AS lon, y * 20.0 - 80.0 AS lat
          FROM pts
        ),
        pois AS (
          SELECT event_id AS poi_id, y * 45.0 - 180.0 AS plon,
                 x * 20.0 - 80.0 AS plat
          FROM pts WHERE event_id < 40
        ),
        pairs AS (
          SELECT event_id, poi_id,
                 2.0 * 6371.0 * asin(sqrt(
                     sin((radians(plat) - radians(lat)) / 2)
                       * sin((radians(plat) - radians(lat)) / 2)
                   + sin((radians(plon) - radians(lon)) / 2)
                       * sin((radians(plon) - radians(lon)) / 2)
                       * cos(radians(lat)) * cos(radians(plat))
                 )) AS d
          FROM pages, pois
        )
        SELECT event_id, poi_id, round(d, 4) AS distance_km
        FROM pairs WHERE d <= 500.0
    """
    o["doc_signatures"] = f"""
        WITH c0 AS ({o.pop("langid")}),
             c1 AS ({o.pop("fingerprint")}),
             c2 AS ({o.pop("simhash")})
        SELECT c0.doc_id, c0.lang_pred, c1.fingerprint, c1.fingerprint_robust,
               c2.simhash_hi, c2.simhash_lo
        FROM c0 JOIN c1 USING (doc_id) JOIN c2 USING (doc_id)
    """
    o["cosine_dup"] = f"""
        SELECT 'brute' AS variant, * FROM ({o.pop("cosine_near_dup")})
        UNION ALL
        SELECT 'ivf' AS variant, * FROM ({o.pop("cosine_ivf")})
    """
    return o
