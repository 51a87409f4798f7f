"""Distributed spatial join: tile equi-join filter + JVM ray-cast refine.

This is the scale path that replaces the reference's single-GPU BFS
(detail/join/quadtree_bbox_filtering.cuh) with a plan Catalyst can
optimize end-to-end:

  points:   inclusive AOI filter, then the morton tile key (one SQL
            text, pure-JVM bit expressions, codegen)  ->  tile col
  polygons: bbox -> covered tiles -> per (tile, polygon) inside/edge
            bit masks over the tile's 8 x 8 sub-cells and the
            polygon's edges whose y-range meets the tile row's y-band
            (driver-side NumPy, built as one Arrow table)
  filter:   points ⋈ that (tile, polygon_id, __inside, __edge, __segs)
            table
            - polygon side small  -> broadcast hash join (NO shuffle)
            - polygon side large  -> shuffle hash join on tile, with
              optional salting for hot tiles (shuffle_join.py)
  refine:   the point's sub-cell (bits of its Morton key) decides
            inside or outside; in an edge sub-cell, the ray-cast
            crossing parity over the joined edge list, one JVM
            higher-order expression (one SQL text); edge_exact=True
            instead runs the NumPy kernel over Arrow batches of
            (point, polygon) candidate pairs

Each point carries exactly one tile, so a (point, polygon) pair is
produced at most once — no post-join dedup is needed.  A polygon is
replicated only to the tiles its bbox covers (the quadtree filter
phase's job, done as an equi-join), and each copy carries only the
edges that can change the crossing parity of a point in that tile,
plus which of the tile's sub-cells lie wholly inside or outside the
polygon (the raster interior approximation of Zimbrao & de Souza,
VLDB'98, one level below the tile).

At 100 TB the only wide operation is the optional shuffle join; the
broadcast path is shuffle-free and Python-free:
scan -> codegen filter/keys -> broadcast join -> ray-cast Filter -> sink.

The nearest-linestring join needs no equi-join at all: its tile covers
ride in the closure of ONE Arrow crossing (scan -> AOI filter ->
mapInPandas), whose kernel maps each point to its tile, looks up its
candidate lines and widens the radius inside the batch.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.expressions import inside_aoi, morton_key_expr, sql_name, tile_expr
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
    key = morton_key_expr(x, y, x_min, x_max, y_min, y_max, scale, max_depth)
    df = points.withColumn(key_col, key)
    return df.withColumn(tile_col, tile_expr(F.col(key_col), max_depth, tile_level))


def _cover_cells(minx, miny, maxx, maxy, x_min, y_min, scale, max_depth, tile_level):
    """``(bbox_index, cx, cy)``: the tile-level grid cells each bbox
    covers, enumerated per bbox row by row (cx fastest).  See
    ``tiles_covering_bboxes``."""
    tile_scale = scale * (1 << (max_depth - tile_level))
    n_cells = 1 << tile_level
    finite = np.isfinite(minx) & np.isfinite(miny) & np.isfinite(maxx) & np.isfinite(maxy)

    def cell(v, origin):  # clipped before the cast, so no int overflow
        c = np.floor((np.where(finite, v, origin) - origin) / tile_scale)
        return np.clip(c, 0, n_cells - 1).astype(np.int64)

    tx0, tx1 = cell(minx, x_min), cell(maxx, x_min)
    ty0, ty1 = cell(miny, y_min), cell(maxy, y_min)
    counts = np.where(finite, (tx1 - tx0 + 1) * (ty1 - ty0 + 1), 0)
    bbox_idx = np.repeat(np.arange(len(minx), dtype=np.int64), counts)
    local = _ragged_arange(counts)
    w = np.repeat(tx1 - tx0 + 1, counts)
    return bbox_idx, np.repeat(tx0, counts) + local % w, np.repeat(ty0, counts) + local // w


def _ragged_arange(counts: np.ndarray) -> np.ndarray:
    """0..counts[i]-1 for each i, concatenated."""
    total = int(counts.sum())
    return np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(counts) - counts, counts)


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
    range so out-of-AOI bbox area is ignored (the joins drop
    out-of-AOI points before keying them).  A bbox with a non-finite
    bound (an empty feature's NaN bbox) covers no tile."""
    bbox_idx, cx, cy = _cover_cells(
        minx, miny, maxx, maxy, x_min, y_min, scale, max_depth, tile_level
    )
    return bbox_idx, z_order(cx.astype(np.uint16), cy.astype(np.uint16)).astype(np.int64)


PIP_JOIN_SCHEMA_SUFFIX = [StructField("polygon_id", LongType(), False)]
SEGS_TYPE = "array<struct<ax:double,ay:double,bx:double,by:double>>"


def _polygon_segments(polygons: PolygonArrays):
    """``(offsets, ax, ay, bx, by)``: polygon i's ring segments are
    entries offsets[i]:offsets[i+1] of the four coordinate arrays, each
    ring closed (its first vertex pairs with its last) and zero-length
    segments dropped.  Vectorized over the layer, with no loop over
    polygons, rings or vertices."""
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
    return kept_before[ro[po]], ax[keep], ay[keep], bx[keep], by[keep]


def _band_edges(
    segments, poly: np.ndarray, row: np.ndarray,
    y_min: float, scale: float, max_depth: int, tile_level: int,
) -> tuple[np.ndarray, np.ndarray]:
    """``(offsets, edge)``: for cover entry i, polygon ``poly[i]`` in
    tile row ``row[i]``, the indices into ``segments`` (a layer's
    ``_polygon_segments``) of the polygon's edges that can change the
    crossing parity of a point keyed into that row,
    ``edge[offsets[i]:offsets[i+1]]``, in ring order.

    An edge (ay, by) flips the parity at height y only when
    ``(ay > y) != (by > y)``, i.e. for y in [min(ay, by), max(ay, by)).
    A point in tile row r has y in the row's band: the row's grid cells
    widened by one cell each way, which absorbs the float rounding of
    the key, and open below row 0 and above the top row, where
    ``morton_key_expr`` clamps.  An edge whose y-range misses the band
    changes no point's parity there, so dropping it changes no row;
    horizontal edges never flip and are dropped everywhere.  The test
    uses Spark's ordering, in which NaN is above +inf.

    Output-sensitive: each edge is expanded over the rows its band
    test passes within its polygon's covered rows, with no loop over
    entries, polygons or edges."""
    offs, _, ay, _, by = segments
    n, m = 1 << tile_level, 1 << (max_depth - tile_level)
    rows = np.arange(n, dtype=np.int64)
    lo = y_min + (rows * m - 1) * scale
    hi = y_min + ((rows + 1) * m + 1) * scale
    lo[0], hi[-1] = -np.inf, np.inf
    ya, yb = np.where(np.isnan(ay), np.inf, ay), np.where(np.isnan(by), np.inf, by)
    e_lo, e_hi = np.minimum(ya, yb), np.maximum(ya, yb)
    # each edge's rows: band meets [e_lo, e_hi), within its polygon's rows
    seg_poly = np.repeat(np.arange(len(offs) - 1, dtype=np.int64), np.diff(offs))
    rmin, rmax = np.full(len(offs) - 1, n), np.full(len(offs) - 1, -1)
    np.minimum.at(rmin, poly, row)
    np.maximum.at(rmax, poly, row)
    first = np.maximum(np.searchsorted(hi, e_lo), rmin[seg_poly])
    last = np.minimum(np.searchsorted(lo, e_hi) - 1, rmax[seg_poly])
    counts = np.where(e_lo < e_hi, np.maximum(last - first + 1, 0), 0)
    edges = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    keys = seg_poly[edges] * n + np.repeat(first, counts) + _ragged_arange(counts)
    order = np.argsort(keys, kind="stable")  # by (polygon, row), ring order within
    keys, edges = keys[order], edges[order]
    # each cover entry takes its (polygon, row) run of the sorted keys
    want = poly * n + row
    start = np.searchsorted(keys, want)
    lens = np.searchsorted(keys, want, side="right") - start
    out = np.concatenate(([0], np.cumsum(lens)))
    return out, edges[np.repeat(start, lens) + _ragged_arange(lens)]


# A tile's sub-cell grid has 2**_SUB_BITS cells per side: 8 x 8 is what
# one 64-bit mask holds.  It has fewer when fewer levels are left.
_SUB_BITS = 3
# Rounding accepted relative to the largest coordinate in play: a
# polygon whose coordinates (or grid) reach scale / _MASK_EPS gets every
# sub-cell marked as edge, so its points all take the exact ray cast.
_MASK_EPS = 2.0 ** -40


def _sub_cell_masks(
    segments, poly: np.ndarray, cx: np.ndarray, cy: np.ndarray,
    x_min: float, y_min: float, scale: float, max_depth: int, tile_level: int,
) -> tuple[np.ndarray, np.ndarray]:
    """``(inside, edge)`` int64 bit masks per cover entry (polygon
    ``poly[i]`` in tile ``(cx[i], cy[i])``) over the tile's sub-cells;
    bit j is the sub-cell whose Morton code inside the tile is j, the
    bits of a point's ``morton_key`` just below its tile bits.

    A sub-cell is EDGE when any edge of the polygon (a layer's
    ``_polygon_segments``), horizontal ones included, meets its
    rectangle widened by one grid cell each way, open where the
    sub-cell touches the grid's first or last cell (the key clamps
    there), as ``_band_edges`` does for rows.  Every sub-cell of a
    polygon with a non-finite coordinate, or whose coordinates or grid
    reach ``scale / _MASK_EPS``, is edge.  A sub-cell is INSIDE when it
    is not edge and the join's ray cast at its centre has odd parity.

    Why a point needs no ray cast outside edge sub-cells: it lies
    within one grid cell of its sub-cell (the key's rounding is far
    below that), so no edge separates it from the centre and it is at
    least one cell from every edge, far beyond the formula's rounding:
    its parity is the centre's.  A point on an edge is always in an
    edge sub-cell.

    Output-sensitive, with no loop per entry, polygon, edge or
    sub-cell: each polygon gets a raster of the sub-cells its entries
    span.  Each edge marks the columns its x-range meets and, per
    column, the sub-rows its y-range over that column meets
    (conservative by ``_MASK_EPS``).  The parity is a scanline per
    sub-row: each edge crossing the sub-row's centre line (``(ay > y)
    != (by > y)``) toggles the centres left of its crossing, which is
    where the formula holds away from the edge (a centre near an edge
    is in an edge sub-cell, whose parity is not used)."""
    offs, ax, ay, bx, by = segments
    k = min(_SUB_BITS, max_depth - tile_level)
    side, cells = 1 << k, 1 << (max_depth - tile_level - k)
    n_sub, n_poly = side << tile_level, len(offs) - 1

    def axis(origin: float):
        g = np.arange(n_sub, dtype=np.float64)
        lo = origin + (g * cells - 1) * scale
        hi = origin + ((g + 1) * cells + 1) * scale
        lo[0], hi[-1] = -np.inf, np.inf
        return lo, hi, origin + (g + 0.5) * cells * scale

    (xlo, xhi, xc), (ylo, yhi, yc) = axis(x_min), axis(y_min)
    seg_poly = np.repeat(np.arange(n_poly, dtype=np.int64), np.diff(offs))
    seg_mag = np.max(np.abs([ax, ay, bx, by]), axis=0, initial=0.0)  # NaN stays NaN
    mag = np.zeros(n_poly)
    with np.errstate(invalid="ignore"):
        np.maximum.at(mag, seg_poly, seg_mag)
    grid_end = (1 << max_depth) * scale
    grid_mag = max(abs(x_min), abs(y_min), abs(x_min + grid_end), abs(y_min + grid_end))
    safe = np.maximum(mag, grid_mag) * _MASK_EPS < scale  # False for NaN and inf

    # each polygon's raster: the sub-cells its entries span, plus one
    # column past the right end; cell (gx, gy) sits at at(p, gx, gy)
    sx0, sy0 = np.full(n_poly, n_sub), np.full(n_poly, n_sub)
    sx1, sy1 = np.full(n_poly, -1), np.full(n_poly, -1)
    np.minimum.at(sx0, poly, cx * side)
    np.minimum.at(sy0, poly, cy * side)
    np.maximum.at(sx1, poly, cx * side + side - 1)
    np.maximum.at(sy1, poly, cy * side + side - 1)
    w, h = np.maximum(sx1 - sx0 + 2, 0), np.maximum(sy1 - sy0 + 1, 0)
    base = np.concatenate(([0], np.cumsum(w * h)))

    def at(p, gx, gy):
        return base[p] + (gy - sy0[p]) * w[p] + (gx - sx0[p])

    def spread(p, first, stop, lo, hi):
        """(p, i) for i in [max(first, lo[p]), min(stop, hi[p] + 1))."""
        first, stop = np.maximum(first, lo[p]), np.minimum(stop, hi[p] + 1)
        cnt = np.maximum(stop - first, 0)
        return np.repeat(np.arange(len(p)), cnt), np.repeat(first, cnt) + _ragged_arange(cnt)

    # edge sub-cells: per edge, the columns its x-range meets, then per
    # column the sub-rows its y-range over that column meets
    e = np.flatnonzero(safe[seg_poly])
    p = seg_poly[e]
    ex0, ex1 = np.minimum(ax[e], bx[e]), np.maximum(ax[e], bx[e])
    i, gx = spread(p, np.searchsorted(xhi, ex0), np.searchsorted(xlo, ex1, side="right"),
                   sx0, sx1)
    e, p = e[i], p[i]
    dx, dy = bx[e] - ax[e], by[e] - ay[e]
    with np.errstate(divide="ignore", invalid="ignore"):
        # y at the column's ends, through t in [0, 1]: rounding ~ eps * |coords|
        ya = ay[e] + (np.maximum(xlo[gx], ex0[i]) - ax[e]) / dx * dy
        yb = ay[e] + (np.minimum(xhi[gx], ex1[i]) - ax[e]) / dx * dy
    tol = _MASK_EPS * seg_mag[e]
    ey0, ey1 = np.minimum(ay[e], by[e]), np.maximum(ay[e], by[e])
    lo = np.where(dx == 0, ey0, np.maximum(np.minimum(ya, yb) - tol, ey0))
    hi = np.where(dx == 0, ey1, np.minimum(np.maximum(ya, yb) + tol, ey1))
    i, gy = spread(p, np.searchsorted(yhi, lo), np.searchsorted(ylo, hi, side="right"),
                   sy0, sy1)
    edge_raster = np.zeros(base[-1], dtype=bool)
    edge_raster[at(p[i], gx[i], gy)] = True

    # centre parity: each edge crossing a sub-row's centre line toggles
    # the centres left of its crossing (the ray cast's +x ray meets it);
    # a centre sees the marks right of it in its raster row
    e = np.flatnonzero(safe[seg_poly] & (ay != by))
    p = seg_poly[e]
    i, gy = spread(p, np.searchsorted(yc, np.minimum(ay[e], by[e])),
                   np.searchsorted(yc, np.maximum(ay[e], by[e])), sy0, sy1)
    e, p = e[i], p[i]
    x_cross = ax[e] + (yc[gy] - ay[e]) * (bx[e] - ax[e]) / (by[e] - ay[e])
    t = np.clip(np.searchsorted(xc, x_cross), sx0[p], sx1[p] + 1)
    marks = np.cumsum(np.bincount(at(p, t, gy), minlength=base[-1]))

    # each entry's side x side sub-cells, as bits in Morton order
    sub = np.arange(side)
    q_gx = (cx * side)[:, None, None] + sub[None, None, :]
    q_gy = (cy * side)[:, None, None] + sub[None, :, None]
    pp = poly[:, None, None]
    q = at(pp, q_gx, q_gy)
    row_end = at(pp, sx1[pp] + 1, q_gy)
    edges = edge_raster[q] | ~safe[pp]
    odd = ((marks[row_end] - marks[q]) & 1).astype(bool)
    code = z_order(np.tile(sub, side), np.repeat(sub, side)).astype(np.int64)
    edge_bits = np.zeros((len(poly), 64), dtype=bool)
    inside_bits = np.zeros((len(poly), 64), dtype=bool)
    edge_bits[:, code] = edges.reshape(len(poly), side * side)
    inside_bits[:, code] = (odd & ~edges).reshape(len(poly), side * side)
    return _pack_bits(inside_bits), _pack_bits(edge_bits)


def _pack_bits(bits: np.ndarray) -> np.ndarray:
    """An (n, 64) bool array as n int64 masks, column j as bit j."""
    packed = np.packbits(bits, axis=1, bitorder="little")
    return packed.view("<i8").ravel().astype(np.int64)


def _polygon_tiles(
    polygons: PolygonArrays, x_min: float, y_min: float, scale: float,
    max_depth: int, tile_level: int, id_col: str = "polygon_id",
) -> pa.Table:
    """The tile joins' polygon side (``_pip_table_schema``), one row per
    tile a polygon's bbox covers: ``_cover_rows`` over the join's
    cover."""
    poly, cx, cy = _cover_cells(
        *polygons.bounding_boxes(), x_min, y_min, scale, max_depth, tile_level
    )
    return _cover_rows(
        polygons, poly, cx, cy, x_min, y_min, scale, max_depth, tile_level, id_col
    )


def _cover_rows(
    polygons: PolygonArrays, poly: np.ndarray, cx: np.ndarray, cy: np.ndarray,
    x_min: float, y_min: float, scale: float, max_depth: int, tile_level: int,
    id_col: str = "polygon_id",
) -> pa.Table:
    """``(tile, id_col, __inside, __edge, __segs)`` for the cover
    entries polygon ``poly[i]`` in tile ``(cx[i], cy[i])``: the
    sub-cell masks (``_sub_cell_masks``) and, for an entry with an
    edge sub-cell, the polygon's edges ``(ax, ay, bx, by)`` that meet
    the tile row's y-band (``_band_edges``), the ``SEGS_TYPE`` list the
    JVM ray cast reads; an entry with no edge sub-cell carries an empty
    list.  An entry with no inside and no edge sub-cell, or with no
    band edge, can hold no point and is left out.

    Size: no more rows than the band table (one per covered tile with
    a band edge), and each edge is copied once per such row that has
    an edge sub-cell, i.e. at most into (tile columns of its polygon's
    bbox) x (tile rows its y-range spans, plus at most one row each
    side).  On a ``pip_broadcast`` layer (400 12-gons, levels 12/5,
    seed 7) that is 2,532 rows and 16.0k edge copies, against 3,055
    rows and 17.9k copies without the masks; of the rows' 162k
    sub-cells, 29.6k are inside and 27.6k edge.

    Built from Arrow with no Spark job and no per-row Python.  As
    broadcast-join DATA the plan stays constant-size; a layer embedded
    as a literal Catalyst map cost super-linear driver plan-build time
    (BASELINE.md "Refine-path threshold validation")."""
    segments = _polygon_segments(polygons)
    offsets, edge = _band_edges(segments, poly, cy, y_min, scale, max_depth, tile_level)
    inside, edges = _sub_cell_masks(
        segments, poly, cx, cy, x_min, y_min, scale, max_depth, tile_level
    )
    lens = np.diff(offsets)
    keep = np.flatnonzero((lens > 0) & ((inside | edges) != 0))
    # an entry with no edge sub-cell never runs the ray cast
    lens = np.where(edges != 0, lens, 0)
    edge = edge[np.repeat(lens > 0, np.diff(offsets))]
    offsets = np.concatenate(([0], np.cumsum(lens[keep])))
    _, ax, ay, bx, by = segments
    segs = pa.StructArray.from_arrays(
        [pa.array(c[edge]) for c in (ax, ay, bx, by)], names=["ax", "ay", "bx", "by"]
    )
    tiles = z_order(cx[keep].astype(np.uint16), cy[keep].astype(np.uint16))
    return pa.table(
        [pa.array(tiles.astype(np.int64)),
         pa.array(np.asarray(polygons.ids, dtype=np.int64)[poly[keep]]),
         pa.array(inside[keep]), pa.array(edges[keep]),
         pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), segs)],
        names=["tile", id_col, "__inside", "__edge", "__segs"],
    )


def _pip_table_schema(id_col: str = "polygon_id") -> str:
    """The Spark schema of ``_polygon_tiles``' table."""
    return f"tile long, {id_col} long, __inside bigint, __edge bigint, __segs {SEGS_TYPE}"


# The ray cast's zero names x and y outside the lambda.  With the point
# columns only inside it, Catalyst pushed the filter below a join onto
# the polygon side in the first query of a session (the shuffle join at
# sf0.01: INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND for y); a null coordinate
# gives a null zero, hence no row, as before.
_PIP_HIT_SQL = (
    "CASE WHEN (shiftright(__inside, {cell}) & 1) = 1 THEN true "
    "WHEN (shiftright(__edge, {cell}) & 1) = 1 THEN "
    "aggregate(__segs, IF({x} IS NULL OR {y} IS NULL, NULL, 0), "
    "(__n, __e) -> __n + CASE WHEN ((__e.ay > {y}) != (__e.by > {y})) AND "
    "((({x} - __e.ax) * (__e.by - __e.ay) < (__e.bx - __e.ax) * ({y} - __e.ay)) "
    "!= (__e.ay > {y})) THEN 1 ELSE 0 END) % 2 = 1 "
    "ELSE false END"
)


def _pip_jvm_hit_expr(key: str, x: str, y: str, max_depth: int, tile_level: int) -> Column:
    """Containment of the point in columns ``x``, ``y`` (Morton key in
    column ``key``) in the joined ``_polygon_tiles`` row, as one SQL
    text, so building it is one Py4J call: true in an inside sub-cell,
    false outside edge sub-cells, and in an edge sub-cell the ray-cast
    crossings parity over ``__segs`` (same formula and order as
    kernels/pip.py and the SQL oracle).  Runs inside the JVM with zero
    Python — the fast path that sidesteps the serialized Arrow/Python
    boundary.

    The ray cast is ``aggregate`` (Spark's ``ArrayAggregate``), which is
    ``CodegenFallback``: Catalyst moves this filter into the broadcast
    join's condition, so the join runs without whole-stage codegen and
    the lambda is evaluated interpreted for every candidate it
    reaches.  The masks keep it to the candidates in edge sub-cells.

    Difference vs the kernel: no ULP on-edge exclusion — a point lying
    exactly ON a polygon edge gets parity-dependent membership instead
    of a guaranteed False.  Measure-zero for real data; use
    edge_exact=True when exact edge semantics matter.
    """
    k = min(_SUB_BITS, max_depth - tile_level)
    cell = (
        f"CAST(shiftright({sql_name(key)}, {2 * (max_depth - tile_level - k)}) "
        f"& {(1 << (2 * k)) - 1} AS INT)"
    )
    return F.expr(_PIP_HIT_SQL.format(cell=cell, x=sql_name(x), y=sql_name(y)))


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

    Points outside the AOI (bounds inclusive) or with a null, NaN or
    infinite coordinate match no polygon: they are filtered out before
    the tile key, as in the nearest join.

    The refine follows from the semantics asked for:

    - edge_exact=False (default): ONE broadcast hash join of the points
      with ``_polygon_tiles``' ``(tile, polygon_id, __inside, __edge,
      __segs)`` table, then ``_pip_jvm_hit_expr`` — no Python, no Arrow
      crossing.  A point in an inside sub-cell of its tile matches, one
      outside the edge sub-cells does not, and one in an edge sub-cell
      takes the ray cast, a JVM higher-order expression over the
      joined edge list.  That ray cast (``ArrayAggregate``) is
      ``CodegenFallback``, so the join runs without whole-stage codegen
      and the lambda runs interpreted per candidate; the masks keep it
      to the candidates in edge sub-cells (``_sub_cell_masks``).  Each
      list holds only the polygon's edges that meet its tile row's
      y-band, which gives the same rows as all of its edges
      (``_band_edges``).  A point lying exactly ON a polygon edge gets
      parity-dependent membership.
    - edge_exact=True: the Arrow-batched NumPy kernel over the
      broadcast ``(tile, polygon index)`` cover, which keeps the
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
    need = list(dict.fromkeys(keep + [x, y]))

    spark = points.sparkSession
    # narrow first: analysing the key's plan costs less over fewer columns
    pts = assign_tiles(
        points.where(inside_aoi(x, y, x_min, x_max, y_min, y_max)).select(*need),
        x, y, x_min, x_max, y_min, y_max, scale, max_depth, tile_level,
    )

    if not edge_exact:
        table = spark.createDataFrame(
            _polygon_tiles(polygons, x_min, y_min, scale, max_depth, tile_level),
            schema=_pip_table_schema(),
        )
        return (
            pts.join(F.broadcast(table), on="tile")
            .where(_pip_jvm_hit_expr("morton_key", x, y, max_depth, tile_level))
            .select(*keep, "polygon_id")
        )

    bbox_idx, tiles = tiles_covering_bboxes(
        *polygons.bounding_boxes(), x_min, y_min, scale, max_depth, tile_level
    )
    poly_tiles = spark.createDataFrame(pa.table({"tile": tiles, "__poly_idx": bbox_idx}))
    candidates = pts.join(F.broadcast(poly_tiles), on="tile").select(*need, "__poly_idx")

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


NEAREST_JOIN_SCHEMA_SUFFIX = [
    StructField("linestring_id", LongType(), False),
    StructField("distance", DoubleType(), False),
]


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
    refine: str = "kernel",
) -> DataFrame:
    """Distributed nearest-linestring: the selected point columns (in
    ``keep_columns`` order) plus ``linestring_id`` and ``distance`` of
    each point's nearest candidate linestring (ties go to the lower id).

    A linestring is a candidate for a point when its bbox grown by
    ``expansion_radius`` covers the point's tile.  Points with no
    candidate are dropped (the reachability contract of the
    reference's bbox filter, core/spatial/join.py:317-320), and so are
    points outside the AOI or with a null, NaN or infinite coordinate.
    A one-vertex linestring is a zero-length segment; a linestring
    with no vertex is never a candidate.

    The plan is one Arrow crossing, with no shuffle, join or round:

        points.where(inside AOI).select(need).mapInPandas(kernel)

    The driver builds, once, one tile -> linestring-index cover per
    radius in tile, 2*tile, 4*tile, ..., expansion_radius (sorted
    unique tiles plus offsets, so its size follows the cover entries,
    not 4**tile_level).  Per Arrow batch the kernel maps each point to
    its tile with the same clipped grid as the cover, then widens the
    radius round by round over the still-unresolved points only,
    scoring each round's (point, candidate) pairs with the NumPy
    segment-distance kernel.  A round's candidates provably include
    EVERY linestring at distance <= its radius r (a bbox grown by r
    around a line within r of the point covers the point, hence its
    tile), so a point whose round minimum is < r has its global
    nearest and leaves; in the final round any candidate counts, which
    is exactly the single-shot join at ``expansion_radius``.  Candidate
    pairs stay O(|points| * hit density) even for an AOI-wide radius.

    The covers ride in the UDF closure, each of at most
    ``n_lines * 4**tile_level`` entries.  They stop at the first full
    cover (every line with a vertex on every tile), whose round is the
    final one: a wider cover is the same, so are the rows.  With every
    line inside the AOI a cover is full by twice the grid's width, so
    there are at most ``tile_level + 2``, whatever the radius.

    This one form replaced four (a full-cover kernel, a dense per-tile
    JVM table, a segment-table JVM join with a groupBy min, and
    checkpointed progressive rounds of either) and returned the same
    rows on every in-AOI input whose lines have two or more vertices.
    Seconds, same session, 4-core VM, local[4], noop sink, min of 5
    runs (2 for the 2000-line layer), sf0.01 / sf0.1 events:

        case                                old default form   this form
        4 lines, r=16 (nearest_linestring)  0.38 / 0.39        0.40 / 0.38
        same, forced progressive rounds     2.59 / 3.42        0.29 / 0.42
        road layer, r=0.6, level 5          0.55 / 2.90        0.30 / 0.54
        2000 random-walk lines, r=0.3       3.26 / 11.2        0.63 / 1.16
        2000 random-walk lines, r=16        44.1 / 51.8        1.82 / 3.33

    ``refine`` accepts only 'kernel', the one form there is.
    """
    from ..geometry import require_single_part

    require_single_part(linestrings, "point_to_nearest_linestring_join")
    if refine != "kernel":
        raise ValueError(f"refine must be 'kernel', got {refine!r}")
    if scale is None:
        scale = max(x_max - x_min, y_max - y_min) / ((1 << max_depth) + 2)
    keep = keep_columns if keep_columns is not None else [c for c in points.columns]
    need = list(dict.fromkeys(keep + [x, y]))
    out_schema = StructType([points.schema[c] for c in keep] + NEAREST_JOIN_SCHEMA_SUFFIX)

    po = linestrings.part_offsets
    counts = np.diff(po)
    # kernel layout: a lone vertex is repeated into a zero-length segment
    lone = counts == 1
    vert = np.repeat(np.arange(po[-1]), 1 + np.repeat(lone, counts))
    seg_offsets = np.concatenate(([0], np.cumsum(counts + lone)))
    lx, ly, lids = linestrings.x[vert], linestrings.y[vert], linestrings.ids

    # a line with no vertex has a NaN bbox, so no cover
    minx, miny, maxx, maxy = linestrings.bounding_boxes()

    def cover(r):
        """(tiles, offsets, line indices): the lines whose bbox grown by
        r covers tiles[i] are lines[offsets[i]:offsets[i+1]].  A
        never-matching sentinel tile ends ``tiles``."""
        bbox, tiles = tiles_covering_bboxes(
            minx - r, miny - r, maxx + r, maxy + r, x_min, y_min, scale, max_depth,
            tile_level,
        )
        order = np.argsort(tiles, kind="stable")
        keys, first = np.unique(tiles[order], return_index=True)
        return (
            np.append(keys, np.iinfo(np.int64).max),
            np.append(first, [len(order), len(order)]),
            bbox[order],
        )

    radii = []
    r = scale * (1 << (max_depth - tile_level))
    while r < expansion_radius:
        radii.append(r)
        r *= 2.0
    radii.append(float(expansion_radius))
    # entries of a full cover: every line with a vertex on every tile
    full = int(np.isfinite([minx, miny, maxx, maxy]).all(axis=0).sum()) << (2 * tile_level)
    covers = []
    for r in radii:
        covers.append((r, *cover(r)))
        if len(covers[-1][3]) == full:
            break

    def nearest_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px, py = pdf[x].to_numpy(), pdf[y].to_numpy()
            # a point is a zero-size bbox: its one tile, clipped as the cover
            _, tiles = tiles_covering_bboxes(
                px, py, px, py, x_min, y_min, scale, max_depth, tile_level
            )
            done = np.zeros(len(pdf), dtype=bool)
            best = np.zeros(len(pdf), dtype=np.int64)
            dist = np.zeros(len(pdf))
            todo = np.arange(len(pdf))
            for k, (r, keys, offs, cand) in enumerate(covers):
                t = tiles[todo]
                pos = np.searchsorted(keys, t)
                cnt = np.where(keys[pos] == t, offs[pos + 1] - offs[pos], 0)
                pt = np.repeat(todo, cnt)  # pairs come grouped by point
                entry = np.arange(len(pt)) + np.repeat(offs[pos] - np.cumsum(cnt) + cnt, cnt)
                li = cand[entry]
                d = point_linestring_distance_pairs(px[pt], py[pt], li, seg_offsets, lx, ly)
                # per point, the min distance, then the min id at it
                head = np.ones(len(pt), dtype=bool)
                head[1:] = pt[1:] != pt[:-1]
                start = np.flatnonzero(head)
                dmin = np.minimum.reduceat(d, start)
                at_min = d == np.repeat(dmin, np.diff(np.append(start, len(pt))))
                ids = np.minimum.reduceat(
                    np.where(at_min, lids[li], np.iinfo(np.int64).max), start
                )
                rows = pt[start]
                if k < len(covers) - 1:
                    # strictly less: a line at distance exactly r may sit
                    # on a cover boundary and be missed
                    ok = dmin < r
                    rows, dmin, ids = rows[ok], dmin[ok], ids[ok]
                done[rows], best[rows], dist[rows] = True, ids, dmin
                todo = todo[~done[todo]]
            hit = np.flatnonzero(done)
            yield pdf[keep].iloc[hit].assign(linestring_id=best[hit], distance=dist[hit])

    return (
        points.where(inside_aoi(x, y, x_min, x_max, y_min, y_max))
        .select(*need)
        .mapInPandas(nearest_fn, schema=out_schema)
    )
