"""Distributed spatial join: tile equi-join filter + vectorized refine.

This is the scale path that replaces the reference's single-GPU BFS
(detail/join/quadtree_bbox_filtering.cuh) with a plan Catalyst can
optimize end-to-end:

  points:   morton tile key (pure-JVM bit expr, codegen)  ->  tile col
  polygons: bbox -> set of covered tiles (driver-side NumPy, tiny)
  filter:   points ⋈ exploded polygon-tile table
            - polygon side small  -> broadcast hash join (NO shuffle)
            - polygon side large  -> shuffle hash join on tile, with
              optional salting for hot tiles
  refine:   vectorized ray-cast PIP over each Arrow batch of candidate
            pairs (kernels.pip.point_in_polygon_pairs)

Each point carries exactly one tile, so a (point, polygon) pair is
produced at most once — no post-join dedup is needed.  A polygon is
replicated only to the tiles its bbox covers (the quadtree filter
phase's job, done as an equi-join).

At 100 TB the only wide operation is the optional shuffle join; the
broadcast path is shuffle-free: scan -> codegen filter/keys ->
broadcast join -> mapInPandas -> sink.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.expressions import morton_key_expr, tile_expr
from ..geometry import LinestringArrays, PolygonArrays
from ..kernels.pip import point_in_polygon_pairs
from ..kernels.segment import point_linestring_distance_pairs
from ..kernels.zorder import z_order


def assign_tiles(
    points: DataFrame,
    x: str,
    y: str,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int,
    tile_level: int,
    key_col: str = "morton_key",
    tile_col: str = "tile",
) -> DataFrame:
    """Adds the full-depth Morton key and the coarse tile id (top
    2*tile_level bits) as JVM-side columns."""
    key = morton_key_expr(F.col(x), F.col(y), x_min, x_max, y_min, y_max, scale, max_depth)
    df = points.withColumn(key_col, key)
    return df.withColumn(tile_col, tile_expr(F.col(key_col), max_depth, tile_level))


def tiles_covering_bboxes(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    x_min: float,
    y_min: float,
    scale: float,
    max_depth: int,
    tile_level: int,
) -> tuple[np.ndarray, np.ndarray]:
    """For each bbox, the Morton tile ids (at tile_level) its rectangle
    covers.  Returns (bbox_index, tile) flat arrays.  Vectorized per
    bbox over the covered cell grid; cells are clipped to the AOI grid
    range so out-of-AOI bbox area is ignored (out-of-AOI points carry
    the sentinel key and can never match)."""
    tile_scale = scale * (1 << (max_depth - tile_level))
    n_cells = 1 << tile_level
    tx0 = np.clip(np.floor((minx - x_min) / tile_scale).astype(np.int64), 0, n_cells - 1)
    tx1 = np.clip(np.floor((maxx - x_min) / tile_scale).astype(np.int64), 0, n_cells - 1)
    ty0 = np.clip(np.floor((miny - y_min) / tile_scale).astype(np.int64), 0, n_cells - 1)
    ty1 = np.clip(np.floor((maxy - y_min) / tile_scale).astype(np.int64), 0, n_cells - 1)

    counts = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
    bbox_idx = np.repeat(np.arange(len(minx), dtype=np.int64), counts)
    # per-bbox local grid enumeration
    flat = np.arange(int(counts.sum()), dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)))
    local = flat - np.repeat(starts[:-1], counts)
    w = np.repeat(tx1 - tx0 + 1, counts)
    cx = np.repeat(tx0, counts) + local % w
    cy = np.repeat(ty0, counts) + local // w
    tiles = z_order(cx.astype(np.uint16), cy.astype(np.uint16)).astype(np.int64)
    return bbox_idx, tiles


PIP_JOIN_SCHEMA_SUFFIX = [StructField("polygon_id", LongType(), False)]


SEGS_SCHEMA = "array<struct<ax:double,ay:double,bx:double,by:double>>"


def _segment_lists(offsets, ax, ay, bx, by) -> pa.ListArray:
    """One ``__segs`` list per ``offsets`` range of the flat float64
    segment arrays."""
    segs = pa.StructArray.from_arrays(
        [pa.array(c) for c in (ax, ay, bx, by)], names=["ax", "ay", "bx", "by"]
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), segs)


def _segments_df(spark: SparkSession, idx_col: str, id_col: str, ids, segs) -> DataFrame:
    """``(idx_col, id_col, __segs)``, one row per geometry, as an
    Arrow-built local relation: building it runs no Spark job and no
    per-row Python."""
    return spark.createDataFrame(
        pa.table([np.arange(len(ids), dtype=np.int64), ids, segs],
                 names=[idx_col, id_col, "__segs"]),
        schema=f"{idx_col} long, {id_col} long, __segs {SEGS_SCHEMA}",
    )


def _polygon_segments_df(spark: SparkSession, polygons: PolygonArrays) -> DataFrame:
    """The polygon layer as a one-row-per-polygon broadcastable
    DataFrame ``(__poly_idx, polygon_id, __segs array<struct>)``.

    Measured (BASELINE.md "Refine-path threshold validation"):
    embedding the layer as a LITERAL Catalyst map costs super-linear
    driver plan-build time (16 s at 1k segments, 117 s at 10k); as
    ordinary broadcast-join DATA the plan is constant-size, and the
    refine expression runs identically JVM-side over the joined array
    column.  The table is an Arrow-built local relation
    (``_segments_df``): no Spark job, no per-row Python.
    """
    po, ro = polygons.part_offsets, polygons.ring_offsets
    px = np.asarray(polygons.x, dtype=np.float64)
    py = np.asarray(polygons.y, dtype=np.float64)
    # vectorized ring-closing predecessor: vertex i pairs with i-1,
    # except each ring's first vertex, which pairs with the ring's
    # last; degenerate (zero-length) segments are masked out
    idx = np.arange(int(ro[-1]), dtype=np.int64)
    prev = idx - 1
    nonempty = ro[1:] > ro[:-1]  # an empty ring has no first vertex
    prev[ro[:-1][nonempty]] = ro[1:][nonempty] - 1
    ax, ay, bx, by = px[idx], py[idx], px[prev], py[prev]
    keep = (ax != bx) | (ay != by)
    kept_before = np.concatenate(([0], np.cumsum(keep)))
    segs = _segment_lists(kept_before[ro[po]], ax[keep], ay[keep], bx[keep], by[keep])
    return _segments_df(spark, "__poly_idx", "polygon_id", polygons.ids, segs)


def _pip_jvm_hit_expr(segs, x, y):
    """Ray-cast crossings parity as a pure JVM expression over an
    ``array<struct<ax,ay,bx,by>>`` column (same formula/order as
    kernels/pip.py and the SQL oracle).  Runs inside the JVM with zero
    Python — the fast path that sidesteps the serialized Arrow/Python
    boundary.

    Difference vs the kernel: no ULP on-edge exclusion — a point lying
    exactly ON a polygon edge gets parity-dependent membership instead
    of a guaranteed False.  Measure-zero for real data; use
    edge_exact=True when exact edge semantics matter.
    """
    crossings = F.aggregate(
        segs,
        F.lit(0),
        lambda acc, s: acc
        + F.when(
            ((s["ay"] > y) != (s["by"] > y))
            & (
                ((x - s["ax"]) * (s["by"] - s["ay"]) < (s["bx"] - s["ax"]) * (y - s["ay"]))
                != (s["ay"] > y)
            ),
            1,
        ).otherwise(0),
    )
    return crossings % 2 == 1


def point_in_polygon_join(
    points: DataFrame,
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
    edge_exact: bool = False,
) -> DataFrame:
    """Distributed containment join: returns the selected point columns
    (in ``keep_columns`` order) plus ``polygon_id`` for every (point,
    polygon) containment pair.

    The polygon layer is broadcast (the common web-scale shape: points
    >> polygons).  Equivalent to the reference pipeline
    quadtree_on_points + join_quadtree_and_bounding_boxes +
    quadtree_point_in_polygon, with the tile grid playing the role of
    the quadtree's leaf quadrants.

    The refine follows from the semantics asked for:

    - edge_exact=False (default): the ray cast runs as a JVM
      higher-order expression over a broadcast-joined segment table —
      no Python, no Arrow crossing.  A point lying exactly ON a polygon
      edge gets parity-dependent membership.
    - edge_exact=True: the Arrow-batched NumPy kernel, which keeps the
      reference's ULP on-edge exclusion (such a point is
      deterministically excluded).  Golden-parity claims set this.

    Layer size does not pick the refine: the JVM ray cast was faster
    than the kernel at every measured size, up to 250k segments
    (BASELINE.md "Refine-path threshold validation").  Layers too large
    to broadcast use ``point_in_polygon_join_shuffle``.
    """
    from ..geometry import require_single_part

    require_single_part(polygons, "point_in_polygon_join")
    if scale is None:
        scale = max(x_max - x_min, y_max - y_min) / ((1 << max_depth) + 2)
    keep = keep_columns if keep_columns is not None else [c for c in points.columns]

    spark = points.sparkSession
    bbox_idx, tiles = tiles_covering_bboxes(
        *polygons.bounding_boxes(), x_min, y_min, scale, max_depth, tile_level
    )
    poly_tiles = spark.createDataFrame(pa.table({"tile": tiles, "__poly_idx": bbox_idx}))

    pts = assign_tiles(
        points, x, y, x_min, x_max, y_min, y_max, scale, max_depth, tile_level
    )
    # project to only what the refine needs before the Arrow boundary
    need = list(dict.fromkeys(keep + [x, y]))
    candidates = pts.join(F.broadcast(poly_tiles), on="tile", how="inner").select(
        *need, "__poly_idx"
    )

    if not edge_exact:
        seg_df = _polygon_segments_df(spark, polygons)
        hit = _pip_jvm_hit_expr(F.col("__segs"), F.col(x), F.col(y))
        return (
            candidates.join(F.broadcast(seg_df), on="__poly_idx")
            .where(hit)
            .select(*keep, "polygon_id")
        )

    out_schema = StructType([points.schema[c] for c in keep] + PIP_JOIN_SCHEMA_SUFFIX)
    poly_offsets, ring_offsets = polygons.part_offsets, polygons.ring_offsets
    px, py, pids = polygons.x, polygons.y, polygons.ids

    def refine_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            hits = point_in_polygon_pairs(
                pdf[x].to_numpy(), pdf[y].to_numpy(),
                pdf["__poly_idx"].to_numpy(),
                poly_offsets, ring_offsets, px, py,
            )
            out = pdf.loc[hits, keep].copy()
            out["polygon_id"] = pids[pdf["__poly_idx"].to_numpy()[hits]]
            yield out

    return candidates.mapInPandas(refine_fn, schema=out_schema)


def _linestring_segment_lists(linestrings: LinestringArrays) -> pa.ListArray:
    """Consecutive-vertex segments, one ``__segs`` list per linestring
    (empty for a linestring of fewer than two vertices)."""
    po = linestrings.part_offsets
    lx = np.asarray(linestrings.x, dtype=np.float64)
    ly = np.asarray(linestrings.y, dtype=np.float64)
    # vertex i pairs with i+1 unless i+1 starts the next linestring
    starts = np.zeros(len(lx) + 1, dtype=bool)
    starts[po] = True
    a = np.flatnonzero(~starts[1:-1])
    offsets = np.concatenate(([0], np.cumsum(np.maximum(np.diff(po) - 1, 0))))
    return _segment_lists(offsets, lx[a], ly[a], lx[a + 1], ly[a + 1])


def _linestring_segments_df(spark: SparkSession, linestrings: LinestringArrays) -> DataFrame:
    """Consecutive-vertex segments per linestring as a broadcastable
    DataFrame ``(__line_idx, linestring_id, __segs)`` — data, not
    literal expressions, built as an Arrow local relation like
    _polygon_segments_df."""
    return _segments_df(
        spark, "__line_idx", "linestring_id", linestrings.ids,
        _linestring_segment_lists(linestrings),
    )


def _tile_lines_df(
    spark: SparkSession, linestrings: LinestringArrays, bbox_idx, cover_tiles
) -> DataFrame:
    """``(tile, __lines)``, one row per covered tile: the
    ``(linestring_id, __segs)`` of each linestring covering it, in
    cover order — an Arrow-built local relation."""
    order = np.argsort(cover_tiles, kind="stable")
    tiles, starts = np.unique(cover_tiles[order], return_index=True)
    line = bbox_idx[order]
    segs = _linestring_segment_lists(linestrings).take(line)
    lines = pa.StructArray.from_arrays(
        [pa.array(linestrings.ids[line]), segs], names=["linestring_id", "__segs"]
    )
    offsets = pa.array(np.append(starts, len(line)), pa.int32())
    return spark.createDataFrame(
        pa.table({"tile": tiles, "__lines": pa.ListArray.from_arrays(offsets, lines)}),
        schema=f"tile long, __lines array<struct<linestring_id:bigint,__segs:{SEGS_SCHEMA}>>",
    )


def _point_segment_d2_expr(px, py, s):
    """Clamped point-to-segment squared distance as a JVM expression —
    same op order as kernels/segment.py."""
    abx = s["bx"] - s["ax"]
    aby = s["by"] - s["ay"]
    l2 = abx * abx + aby * aby
    r = (px - s["ax"]) * abx + (py - s["ay"]) * aby
    dac = (px - s["ax"]) * (px - s["ax"]) + (py - s["ay"]) * (py - s["ay"])
    dbc = (px - s["bx"]) * (px - s["bx"]) + (py - s["by"]) * (py - s["by"])
    qx = s["ax"] + r / l2 * abx
    qy = s["ay"] + r / l2 * aby
    din = (px - qx) * (px - qx) + (py - qy) * (py - qy)
    return (
        F.when(l2 == 0, dac)
        .when((r <= 0) | (r >= l2), F.least(dac, dbc))
        .otherwise(din)
    )


def point_to_nearest_linestring_join(
    points: DataFrame,
    linestrings: LinestringArrays,
    expansion_radius: float,
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
    refine: str = "auto",
    progressive: bool | str = "auto",
    progressive_threshold: float = 16.0,
) -> DataFrame:
    """Distributed nearest-linestring: candidate linestrings per point
    come from the expanded-bbox tile cover; per point the minimum
    distance (and its linestring) is reduced per candidate batch plus a
    final groupBy min for batch boundaries.

    Points whose tile meets no bbox expanded by ``expansion_radius``
    are dropped (same reachability contract as the reference's bbox
    filter, core/spatial/join.py:317-320 semantics).

    Progressive radius widening (the 100-TB candidate bound): a large
    ``expansion_radius`` naively replicates every point to every
    linestring whose expanded bbox covers its tile — with an AOI-sized
    radius that is an undeclared cross join.  Instead the join runs in
    rounds with radius tile, 2*tile, 4*tile, ..., expansion_radius.
    A round's candidate set provably contains EVERY linestring whose
    true distance <= that round's radius (a bbox expanded by r around a
    line at distance <= r covers the point, hence the point's tile), so
    any point whose round-minimum distance is < r is globally resolved
    and leaves the join; only still-unresolved points (an exponentially
    shrinking set) are re-joined at the doubled radius.  Total
    candidate rows stay O(|points| * hit_density) instead of
    O(|points| * |linestrings|).

    refine: 'jvm' computes min segment distance as a JVM higher-order
    expression over a broadcast-joined segment table (no Python);
    'kernel' uses the Arrow-batched NumPy kernel; 'auto' picks 'jvm'
    for layers with <= 200k vertices (broadcast-size bound).

    progressive: 'auto' engages radius widening only when the full-
    radius tile cover averages more than ``progressive_threshold``
    linestrings per tile — below that the single-shot join's candidate
    set is already <= threshold * |points| and the extra rounds
    (shuffle + checkpoint each) cost more than they save.  The cover
    density is known driver-side for free from the bbox-tile table.
    """
    from ..geometry import require_single_part

    require_single_part(linestrings, "point_to_nearest_linestring_join")
    if scale is None:
        scale = max(x_max - x_min, y_max - y_min) / ((1 << max_depth) + 2)
    keep = keep_columns if keep_columns is not None else [c for c in points.columns]
    if refine == "auto":
        refine = "jvm" if len(linestrings.x) <= 200_000 else "kernel"
    INF, DMAX = float("inf"), float(np.finfo(np.float64).max)
    # a point with a null or non-finite coordinate has no nearest line
    # (null would key into the grid's last column, NaN and inf give
    # made-up distances); NaN sorts above inf, so one test per axis
    points = points.where((F.abs(F.col(x)) < INF) & (F.abs(F.col(y)) < INF))

    spark = points.sparkSession
    need = list(dict.fromkeys(keep + [x, y]))

    def cover(radius):
        """(line index, tile) per tile a bbox grown by radius covers."""
        return tiles_covering_bboxes(
            *linestrings.bounding_boxes(radius), x_min, y_min, scale, max_depth, tile_level
        )

    tile_size = scale * (1 << (max_depth - tile_level))
    if progressive == "auto":
        _, full_tiles = cover(expansion_radius)
        lines_per_tile = len(full_tiles) / float(1 << (2 * tile_level))
        progressive = lines_per_tile > progressive_threshold
    if progressive and expansion_radius > tile_size:
        radii = []
        r = tile_size
        while r < expansion_radius:
            radii.append(r)
            r *= 2.0
        radii.append(float(expansion_radius))
    else:
        radii = [float(expansion_radius)]

    part_offsets, lx, ly, lids = (
        linestrings.part_offsets, linestrings.x, linestrings.y, linestrings.ids,
    )

    if len(radii) == 1 and refine == "jvm":
        # r6 dense single-round path (guide §2.4): instead of
        # [points ⋈ exploded (tile, line) table] -> [⋈ segment table]
        # -> [1-row-per-point groupBy min] — which materializes
        # |points| x lines-per-tile candidate rows and shuffles one
        # row per point for the min — broadcast ONE row per tile
        # carrying the covering lines' segments, and take the min
        # row-locally with array_min over (distance, id) structs (the
        # exact ordering the groupBy's min(struct) used).  Same
        # reachability (tiles with no line are absent -> inner join
        # drops the point), same fold arithmetic, same tie-break.
        # Bounded by the same 200k broadcast-segment limit as the
        # segment table; falls through to the join shape when the
        # per-tile duplication would exceed it.
        seg_counts = np.maximum(np.diff(part_offsets) - 1, 0)
        bbox_idx, cover_tiles = cover(radii[0])
        n_tiles = 1 << (2 * tile_level)
        full_cover = (
            len(np.unique(cover_tiles)) == n_tiles
            and len(cover_tiles) == n_tiles * len(linestrings)
        )
        if full_cover and np.all(np.diff(lids) > 0):
            # r6 full-cover kernel path: when EVERY tile is covered by
            # EVERY line (small layer, radius >= AOI span) the tile
            # filter is vacuous — every point is reachable and its
            # candidate set is the whole layer — so the per-point min
            # runs as ONE slim Arrow crossing over the vectorized
            # NumPy segment-distance kernel (the same kernel and op
            # order as the SQL oracle and the JVM fold, so distances
            # are bit-identical — A/B-verified over all 1M sf1.0
            # rows).  argmin's first-index tie-break equals the
            # (distance, id) struct min because ids ascend with index
            # (guarded; otherwise fall through).  Both JVM expression
            # forms of this reduction (higher-order fold, literal
            # codegen) were measured ~2x slower: the fold pays
            # interpreted per-element lambda evaluation and the
            # literal form exceeds JIT method limits.
            nl = len(linestrings)
            out_schema = StructType(
                [points.schema[c] for c in keep]
                + [
                    StructField("linestring_id", LongType(), False),
                    StructField("distance", DoubleType(), False),
                ]
            )

            def dense_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    n = len(pdf)
                    if n == 0:
                        continue
                    row = np.repeat(np.arange(n), nl)
                    idx = np.tile(np.arange(nl), n)
                    d = point_linestring_distance_pairs(
                        pdf[x].to_numpy()[row], pdf[y].to_numpy()[row],
                        idx, part_offsets, lx, ly,
                    ).reshape(n, nl)
                    am = np.argmin(d, axis=1)
                    out = pdf[keep].copy()
                    out["linestring_id"] = lids[am]
                    out["distance"] = d[np.arange(n), am]
                    yield out

            return points.select(*need).mapInPandas(dense_fn, schema=out_schema)
        if seg_counts[bbox_idx].sum() <= 200_000:
            tile_lines = _tile_lines_df(spark, linestrings, bbox_idx, cover_tiles)
            tiled = assign_tiles(
                points, x, y, x_min, x_max, y_min, y_max, scale, max_depth,
                tile_level,
            )
            scored = F.transform(
                F.col("__lines"),
                lambda l: F.struct(
                    F.sqrt(
                        F.aggregate(
                            l["__segs"],
                            F.lit(DMAX),
                            lambda acc, s: F.least(
                                acc,
                                _point_segment_d2_expr(F.col(x), F.col(y), s),
                            ),
                        )
                    ).alias("distance"),
                    l["linestring_id"].alias("linestring_id"),
                ),
            )
            return (
                tiled.join(F.broadcast(tile_lines), on="tile")
                .withColumn("__m", F.array_min(scored))
                .select(
                    *keep,
                    F.col("__m.linestring_id").alias("linestring_id"),
                    F.col("__m.distance").alias("distance"),
                )
            )

    if refine == "jvm":
        seg_df = _linestring_segments_df(spark, linestrings)

    def _score_round(pts_df: DataFrame, radius: float, carry_unmatched: bool) -> DataFrame:
        """Per-point min (distance, linestring_id) over the candidates
        of one radius round.  carry_unmatched keeps unmatched points
        with distance=inf / id=-1 (left joins, grouped on need) so they
        can flow to the next round; the final/single round uses inner
        joins grouped on keep — the cheaper plan, identical to the
        single-shot join (measured ~40% faster than the carry shape)."""
        bbox_idx, tiles = cover(radius)
        line_tiles = spark.createDataFrame(pa.table({"tile": tiles, "__line_idx": bbox_idx}))
        tiled = assign_tiles(
            pts_df, x, y, x_min, x_max, y_min, y_max, scale, max_depth, tile_level
        )
        how = "left" if carry_unmatched else "inner"
        group_cols = need if carry_unmatched else keep
        candidates = tiled.join(F.broadcast(line_tiles), on="tile", how=how).select(
            *need, "__line_idx"
        )

        if refine == "jvm":
            d2 = F.aggregate(
                F.col("__segs"),
                F.lit(DMAX),
                lambda acc, s: F.least(acc, _point_segment_d2_expr(F.col(x), F.col(y), s)),
            )
            joined = candidates.join(F.broadcast(seg_df), on="__line_idx", how=how)
            if carry_unmatched:
                scored = joined.select(
                    *need,
                    F.coalesce(F.col("linestring_id"), F.lit(-1)).alias("linestring_id"),
                    F.coalesce(F.sqrt(d2), F.lit(INF)).alias("distance"),
                )
            else:
                scored = joined.select(
                    *group_cols, "linestring_id", F.sqrt(d2).alias("distance")
                )
        else:
            mid_schema = StructType(
                [pts_df.schema[c] for c in group_cols]
                + [
                    StructField("linestring_id", LongType(), False),
                    StructField("distance", DoubleType(), False),
                ]
            )

            def refine_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    idx = pdf["__line_idx"].fillna(-1).to_numpy(dtype=np.int64)
                    valid = idx >= 0
                    d = np.full(len(pdf), INF)
                    if valid.any():
                        d[valid] = point_linestring_distance_pairs(
                            pdf[x].to_numpy()[valid], pdf[y].to_numpy()[valid],
                            idx[valid], part_offsets, lx, ly,
                        )
                    out = pdf[group_cols].copy()
                    out["linestring_id"] = np.where(valid, lids[np.where(valid, idx, 0)], -1)
                    out["distance"] = d
                    yield out

            scored = candidates.mapInPandas(refine_fn, schema=mid_schema)

        # per-point min reduction (map-side partial agg; ties -> min id);
        # keep_columns must uniquely identify a point (e.g. include its id)
        return (
            scored.groupBy(*group_cols)
            .agg(F.min(F.struct("distance", "linestring_id")).alias("__m"))
            .select(*group_cols, F.col("__m.linestring_id").alias("linestring_id"),
                    F.col("__m.distance").alias("distance"))
        )

    out_cols = [*keep, "linestring_id", "distance"]
    results: list[DataFrame] = []
    carry = points
    for k, radius in enumerate(radii):
        final = k == len(radii) - 1
        scored = _score_round(carry, radius, carry_unmatched=not final)
        if len(radii) > 1:
            # each non-final round's result is consumed twice (accepted
            # rows -> output union, unresolved rows -> next round's
            # input); checkpointing flattens the lineage so round k's
            # join is evaluated once, not once per downstream round
            scored = scored.localCheckpoint(eager=False)
        if final:
            # final round: reference reachability — any candidate match
            # counts (inner join already dropped unreachable points)
            results.append(scored.select(*out_cols))
        else:
            # strictly-less: a line at distance exactly r could fall on
            # a tile-cover boundary and be missed, so only d < r is
            # provably the global minimum
            results.append(scored.where(F.col("distance") < radius).select(*out_cols))
            carry = scored.where(F.col("distance") >= radius).select(*need)

    out = results[0]
    for part in results[1:]:
        out = out.unionByName(part)
    return out
