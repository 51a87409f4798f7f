"""Binary spatial predicates (DE-9IM-style GeoSeries methods).

Mirrors the reference's predicate layer (core/binpreds/*, dispatched
per (lhs_type, rhs_type) — binpred_dispatch.py:11-40): every predicate
is a composition of three primitives — contains_properly (ray-cast
PIP), intersects (segment intersection), equals (vertex matching) —
see basic_predicates.py:15-107.

Spark shape: each predicate takes a pairwise DataFrame (row i = one
lhs/rhs feature pair, referenced by index into broadcast layers) and
appends a boolean column.  Supported combos mirror the reference's
implemented subset; unsupported combos raise NotImplementedError just
like the reference's NotImplementedPredicate.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, StructField, StructType

from ..geometry import LinestringArrays, PolygonArrays
from ..kernels import geom_distance as gk
from ..kernels.pip import _pip_one_polygon
from ..kernels.segment import point_segment_distance_squared


def _map_bool(df: DataFrame, fn, result: str):
    schema = StructType(df.schema.fields + [StructField(result, BooleanType(), False)])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf[result] = fn(pdf)
            yield pdf

    return df.mapInPandas(run, schema=schema)


def _points_in_poly(pdf, polygons, x, y, polygon_idx):
    """Vector of contains_properly(poly_i, point_i)."""
    out = np.zeros(len(pdf), dtype=bool)
    xs = pdf[x].to_numpy()
    ys = pdf[y].to_numpy()
    pidx = pdf[polygon_idx].to_numpy()
    po, ro = polygons.part_offsets, polygons.ring_offsets
    for p in np.unique(pidx):
        m = pidx == p
        r0, r1 = po[p], po[p + 1]
        out[m] = _pip_one_polygon(xs[m], ys[m], ro[r0:r1 + 1], polygons.x, polygons.y)
    return out


def polygon_contains_properly_point(
    df: DataFrame, polygons: PolygonArrays,
    x: str = "x", y: str = "y", polygon_idx: str = "polygon_index",
    result: str = "contains_properly",
) -> DataFrame:
    """.contains_properly — interior-only containment; edge points are
    False (reference feature_contains_properly.py; kernel edge rule
    is_point_in_polygon.cuh:43,70-80)."""
    return _map_bool(df, lambda pdf: _points_in_poly(pdf, polygons, x, y, polygon_idx), result)


def point_within_polygon(
    df: DataFrame, polygons: PolygonArrays,
    x: str = "x", y: str = "y", polygon_idx: str = "polygon_index",
    result: str = "within",
) -> DataFrame:
    """.within(point, polygon) = reversed contains
    (feature_within.py)."""
    return _map_bool(df, lambda pdf: _points_in_poly(pdf, polygons, x, y, polygon_idx), result)


def polygon_intersects_point(
    df: DataFrame, polygons: PolygonArrays,
    x: str = "x", y: str = "y", polygon_idx: str = "polygon_index",
    result: str = "intersects",
) -> DataFrame:
    """.intersects for (polygon, point): containment or boundary
    contact (distance == 0) — feature_intersects.py:29-150."""

    def fn(pdf):
        inside = _points_in_poly(pdf, polygons, x, y, polygon_idx)
        d = gk.pairwise_point_polygon_distance(
            pdf[x].to_numpy(), pdf[y].to_numpy(), pdf[polygon_idx].to_numpy(),
            polygons.part_offsets, polygons.ring_offsets, polygons.x, polygons.y,
        )
        return inside | (d == 0.0)

    return _map_bool(df, fn, result)


def polygon_disjoint_point(
    df: DataFrame, polygons: PolygonArrays,
    x: str = "x", y: str = "y", polygon_idx: str = "polygon_index",
    result: str = "disjoint",
) -> DataFrame:
    """.disjoint = NOT intersects (feature_disjoint.py)."""

    def fn(pdf):
        inside = _points_in_poly(pdf, polygons, x, y, polygon_idx)
        d = gk.pairwise_point_polygon_distance(
            pdf[x].to_numpy(), pdf[y].to_numpy(), pdf[polygon_idx].to_numpy(),
            polygons.part_offsets, polygons.ring_offsets, polygons.x, polygons.y,
        )
        return ~(inside | (d == 0.0))

    return _map_bool(df, fn, result)


def linestring_intersects_linestring(
    df: DataFrame, lhs: LinestringArrays, rhs: LinestringArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "intersects",
) -> DataFrame:
    """.intersects for (linestring, linestring): min distance == 0
    (proper crossings, touches, and overlaps all collapse to 0)."""

    def pair(li: int, ri: int) -> bool:
        return bool(
            gk.pairwise_linestring_distance(
                [li], [ri],
                lhs.part_offsets, lhs.x, lhs.y, rhs.part_offsets, rhs.x, rhs.y,
            )[0]
            == 0.0
        )

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def linestring_crosses_linestring(
    df: DataFrame, lhs: LinestringArrays, rhs: LinestringArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "crosses",
) -> DataFrame:
    """.crosses for (linestring, linestring): proper interior
    crossing — segments properly intersect (feature_crosses.py:
    intersects minus boundary-only contact)."""

    def pair(li: int, ri: int) -> bool:
        a0, a1 = gk._feature_segments(lhs.part_offsets, li)
        b0, b1 = gk._feature_segments(rhs.part_offsets, ri)
        return bool(
            gk._segments_intersect(
                lhs.x[a0][:, None], lhs.y[a0][:, None],
                lhs.x[a1][:, None], lhs.y[a1][:, None],
                rhs.x[b0][None, :], rhs.y[b0][None, :],
                rhs.x[b1][None, :], rhs.y[b1][None, :],
            ).any()
        )

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def polygon_contains_point(
    df: DataFrame, polygons: PolygonArrays,
    x: str = "x", y: str = "y", polygon_idx: str = "polygon_index",
    result: str = "contains",
) -> DataFrame:
    """.contains for (polygon, point): interior OR boundary
    (feature_contains.py:42-192 — PIP plus boundary correction)."""

    def fn(pdf):
        inside = _points_in_poly(pdf, polygons, x, y, polygon_idx)
        d = gk.pairwise_point_polygon_distance(
            pdf[x].to_numpy(), pdf[y].to_numpy(), pdf[polygon_idx].to_numpy(),
            polygons.part_offsets, polygons.ring_offsets, polygons.x, polygons.y,
        )
        # contains (non-proper) counts boundary points as contained
        return inside | (d == 0.0)

    return _map_bool(df, fn, result)


def polygon_covers_point(
    df: DataFrame, polygons: PolygonArrays, **kw
) -> DataFrame:
    """.covers for (polygon, point) coincides with non-proper contains
    (feature_covers.py)."""
    kw.setdefault("result", "covers")
    return polygon_contains_point(df, polygons, **kw)


# Hard bound on distinct feature pairs evaluated per Arrow batch: the
# per-pair closures below run interpreter-side, which is fine under the
# broadcast-layer contract (small layers, large point batches) but
# would silently serialize a 100k-feature layer.  Fail loudly instead.
_MAX_UNIQUE_PAIRS_PER_BATCH = 50_000


def _unique_pair_map(pdf, lhs_idx: str, rhs_idx: str, fn) -> np.ndarray:
    """Evaluate a per-(lhs feature, rhs feature) boolean once per
    distinct index pair in the batch and broadcast to rows — feature
    layers are small (broadcastable), batches are large.  Rows map to
    their unique pair via one np.unique inverse (no per-pair scan of
    the batch)."""
    li = pdf[lhs_idx].to_numpy(dtype=np.int64)
    ri = pdf[rhs_idx].to_numpy(dtype=np.int64)
    pairs, inverse = np.unique(
        np.stack([li, ri], axis=1), axis=0, return_inverse=True
    )
    if len(pairs) > _MAX_UNIQUE_PAIRS_PER_BATCH:
        raise RuntimeError(
            f"{len(pairs)} distinct feature pairs in one batch exceeds "
            f"the broadcast-layer bound ({_MAX_UNIQUE_PAIRS_PER_BATCH}): "
            "these predicates evaluate per distinct feature pair and "
            "assume a small broadcast geometry layer; for large layers "
            "use the distributed tile-join path "
            "(plans.point_in_polygon_join / tile_join)"
        )
    vals = np.fromiter(
        (fn(int(a), int(b)) for a, b in pairs), dtype=bool, count=len(pairs)
    )
    return vals[inverse.ravel()]


def point_intersects_point(
    df: DataFrame,
    x: str = "x", y: str = "y", x2: str = "x2", y2: str = "y2",
    result: str = "intersects",
) -> DataFrame:
    """.intersects for (point, point) = coordinate equality
    (reference feature_intersects.py IntersectsByEquals) — a pure
    Catalyst expression."""
    from pyspark.sql import functions as F

    return df.withColumn(result, (F.col(x) == F.col(x2)) & (F.col(y) == F.col(y2)))


def point_intersects_linestring(
    df: DataFrame, linestrings: LinestringArrays,
    x: str = "x", y: str = "y", linestring_idx: str = "linestring_index",
    result: str = "intersects",
) -> DataFrame:
    """.intersects for (point, linestring): point lies on the
    linestring — min point-to-segment distance == 0
    (feature_intersects.py PointLineStringIntersects)."""
    from ..kernels.segment import point_linestring_distance_pairs

    lo, lx, ly = linestrings.part_offsets, linestrings.x, linestrings.y

    def fn(pdf):
        d = point_linestring_distance_pairs(
            pdf[x].to_numpy(), pdf[y].to_numpy(),
            pdf[linestring_idx].to_numpy(), lo, lx, ly,
        )
        return d == 0.0

    return _map_bool(df, fn, result)


def point_disjoint_linestring(df: DataFrame, linestrings: LinestringArrays, **kw) -> DataFrame:
    kw.setdefault("result", "disjoint")
    result = kw.pop("result")
    out = point_intersects_linestring(df, linestrings, result="__i", **kw)
    from pyspark.sql import functions as F

    return out.withColumn(result, ~F.col("__i")).drop("__i")


def polygon_intersects_polygon(
    df: DataFrame, lhs: PolygonArrays, rhs: PolygonArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "intersects",
) -> DataFrame:
    """.intersects for (polygon, polygon): containment either way,
    proper edge crossing, or boundary contact — i.e. pairwise polygon
    distance == 0 (feature_intersects.py PolygonPolygonIntersects)."""

    def fn(pdf):
        def pair(a, b):
            return gk.pairwise_polygon_distance(
                [a], [b],
                lhs.part_offsets, lhs.ring_offsets, lhs.x, lhs.y,
                rhs.part_offsets, rhs.ring_offsets, rhs.x, rhs.y,
            )[0] == 0.0

        return _unique_pair_map(pdf, lhs_idx, rhs_idx, pair)

    return _map_bool(df, fn, result)


def polygon_disjoint_polygon(
    df: DataFrame, lhs: PolygonArrays, rhs: PolygonArrays, **kw
) -> DataFrame:
    kw.setdefault("result", "disjoint")
    result = kw.pop("result")
    out = polygon_intersects_polygon(df, lhs, rhs, result="__i", **kw)
    from pyspark.sql import functions as F

    return out.withColumn(result, ~F.col("__i")).drop("__i")


def _ls_poly_flags(lines: LinestringArrays, polys: PolygonArrays, li: int, pi: int):
    """(within, crosses) for linestring li vs polygon pi.

    within: every vertex inside (ray-cast parity) or on the boundary
    (min edge distance == 0) and no proper edge crossing.
    crosses: a proper edge crossing exists, or some vertex strictly
    inside and some strictly outside (feature_within.py
    LineStringPolygonWithin / feature_crosses.py LineStringPolygonCrosses
    semantics at vertex resolution)."""
    s, e = int(lines.part_offsets[li]), int(lines.part_offsets[li + 1])
    vx, vy = lines.x[s:e], lines.y[s:e]
    r0, r1 = int(polys.part_offsets[pi]), int(polys.part_offsets[pi + 1])
    inside = _pip_one_polygon(vx, vy, polys.ring_offsets[r0:r1 + 1], polys.x, polys.y)
    v0, v1 = gk._ring_segments_of_polygon(polys.part_offsets, polys.ring_offsets, pi)
    d2 = point_segment_distance_squared(
        vx[:, None], vy[:, None],
        polys.x[v0][None, :], polys.y[v0][None, :],
        polys.x[v1][None, :], polys.y[v1][None, :],
    ).min(axis=1)
    on_bound = d2 == 0.0
    a0, a1 = gk._feature_segments(lines.part_offsets, li)
    proper = bool(
        gk._segments_intersect(
            lines.x[a0][:, None], lines.y[a0][:, None],
            lines.x[a1][:, None], lines.y[a1][:, None],
            polys.x[v0][None, :], polys.y[v0][None, :],
            polys.x[v1][None, :], polys.y[v1][None, :],
        ).any()
    )
    within = bool((inside | on_bound).all()) and not proper
    strict_in = inside & ~on_bound
    strict_out = ~inside & ~on_bound
    crosses = proper or bool(strict_in.any() and strict_out.any())
    return within, crosses


def linestring_within_polygon(
    df: DataFrame, lines: LinestringArrays, polys: PolygonArrays,
    line_idx: str = "linestring_index", polygon_idx: str = "polygon_index",
    result: str = "within",
) -> DataFrame:
    def fn(pdf):
        return _unique_pair_map(
            pdf, line_idx, polygon_idx, lambda a, b: _ls_poly_flags(lines, polys, a, b)[0]
        )

    return _map_bool(df, fn, result)


def linestring_crosses_polygon(
    df: DataFrame, lines: LinestringArrays, polys: PolygonArrays,
    line_idx: str = "linestring_index", polygon_idx: str = "polygon_index",
    result: str = "crosses",
) -> DataFrame:
    def fn(pdf):
        return _unique_pair_map(
            pdf, line_idx, polygon_idx, lambda a, b: _ls_poly_flags(lines, polys, a, b)[1]
        )

    return _map_bool(df, fn, result)


def polygon_contains_polygon(
    df: DataFrame, lhs: PolygonArrays, rhs: PolygonArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "contains",
) -> DataFrame:
    """.contains for (polygon, polygon): every rhs vertex inside or on
    the boundary of lhs and no proper edge crossing (vertex-resolution
    version of the reference's PIP-based ContainsPredicate,
    feature_contains.py:42-192)."""

    def fn(pdf):
        return _unique_pair_map(
            pdf, lhs_idx, rhs_idx,
            lambda a, b: _polygon_contains_polygon_pair(lhs, rhs, a, b),
        )

    return _map_bool(df, fn, result)


def polygon_contains_properly_count(
    df: DataFrame, polygons: PolygonArrays, verts_of,
    polygon_idx: str = "polygon_index", rhs_idx: str = "rhs_row",
    result: str = "count",
) -> DataFrame:
    """Per pair: number of rhs vertices STRICTLY inside the lhs polygon
    (boundary excluded) — the count behind the reference's
    ``mode="basic_count"`` / ``basic_any`` / ``basic_none`` /
    ``basic_all`` contains variants
    (contains_geometry_processor.py:160-240).  ``verts_of(row)`` maps
    an rhs row id to its (xs, ys) vertex arrays (GeoLayers.row_vertices
    curried over the rhs series)."""
    from pyspark.sql.types import IntegerType

    schema = StructType(df.schema.fields + [StructField(result, IntegerType(), False)])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pi = pdf[polygon_idx].to_numpy()
            ri = pdf[rhs_idx].to_numpy()
            out = np.zeros(len(pdf), dtype=np.int32)
            cache: dict = {}
            for k in range(len(pdf)):
                key = (int(pi[k]), int(ri[k]))
                if key not in cache:
                    xs, ys = verts_of(int(ri[k]))
                    if len(xs) == 0:
                        cache[key] = 0
                    else:
                        p = int(pi[k])
                        r0 = int(polygons.part_offsets[p])
                        r1 = int(polygons.part_offsets[p + 1])
                        inside = _pip_one_polygon(
                            np.asarray(xs, dtype=np.float64),
                            np.asarray(ys, dtype=np.float64),
                            polygons.ring_offsets[r0:r1 + 1],
                            polygons.x, polygons.y,
                        )
                        on_b = _poly_boundary_dist2(xs, ys, polygons, p) == 0.0
                        cache[key] = int((inside & ~on_b).sum())
                out[k] = cache[key]
            pdf[result] = out
            yield pdf

    return df.mapInPandas(run, schema=schema)


def multipoint_geom_equals(
    df: DataFrame, lhs_offsets, lhs_x, lhs_y, rhs_offsets, rhs_x, rhs_y,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "geom_equals",
) -> DataFrame:
    """.geom_equals for (multi)points: every lhs point matches some
    rhs point and vice versa (feature_equals.py via
    pairwise_multipoint_equals_count)."""
    lo = np.asarray(lhs_offsets, dtype=np.int64)
    ro = np.asarray(rhs_offsets, dtype=np.int64)
    lx, ly = np.asarray(lhs_x), np.asarray(lhs_y)
    rx, ry = np.asarray(rhs_x), np.asarray(rhs_y)

    def pair(a: int, b: int) -> bool:
        acnt = gk.pairwise_multipoint_equals_count(
            [0, lo[a + 1] - lo[a]], lx[lo[a]:lo[a + 1]], ly[lo[a]:lo[a + 1]],
            [0, ro[b + 1] - ro[b]], rx[ro[b]:ro[b + 1]], ry[ro[b]:ro[b + 1]],
        )[0]
        bcnt = gk.pairwise_multipoint_equals_count(
            [0, ro[b + 1] - ro[b]], rx[ro[b]:ro[b + 1]], ry[ro[b]:ro[b + 1]],
            [0, lo[a + 1] - lo[a]], lx[lo[a]:lo[a + 1]], ly[lo[a]:lo[a + 1]],
        )[0]
        return bool(acnt == (lo[a + 1] - lo[a]) and bcnt == (ro[b + 1] - ro[b]))

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


# ---------------------------------------------------------------------
# round-2 primitives completing the reference dispatch matrix
# (binpred_dispatch.py:11-40; per-feature combos listed in each
# feature_*.py DispatchDict) — consumed by operators/binpred_dispatch.


def _poly_boundary_dist2(xs, ys, polys: PolygonArrays, pi: int) -> np.ndarray:
    """Min squared distance of points to polygon pi's boundary."""
    v0, v1 = gk._ring_segments_of_polygon(polys.part_offsets, polys.ring_offsets, pi)
    return point_segment_distance_squared(
        xs[:, None], ys[:, None],
        polys.x[v0][None, :], polys.y[v0][None, :],
        polys.x[v1][None, :], polys.y[v1][None, :],
    ).min(axis=1)


def point_on_linestring(
    df: DataFrame, lines: LinestringArrays,
    x: str = "x", y: str = "y", line_idx: str = "linestring_index",
    result: str = "on", interior_only: bool = False,
) -> DataFrame:
    """Point lies on the linestring (covers(ls, pt) when boundary
    endpoints count; within(pt, ls) with interior_only=True —
    feature_within.py PointLineStringWithin excludes the chain's two
    endpoints, the linestring's topological boundary)."""

    def fn(pdf):
        xs, ys = pdf[x].to_numpy(), pdf[y].to_numpy()
        li = pdf[line_idx].to_numpy()
        out = np.zeros(len(pdf), dtype=bool)
        for lid in np.unique(li):
            m = li == lid
            s0, s1 = gk._feature_segments(lines.part_offsets, int(lid))
            d2 = point_segment_distance_squared(
                xs[m][:, None], ys[m][:, None],
                lines.x[s0][None, :], lines.y[s0][None, :],
                lines.x[s1][None, :], lines.y[s1][None, :],
            ).min(axis=1)
            ok = d2 == 0.0
            if interior_only:
                s, e = int(lines.part_offsets[lid]), int(lines.part_offsets[lid + 1])
                closed = (
                    lines.x[s] == lines.x[e - 1] and lines.y[s] == lines.y[e - 1]
                )
                if not closed:
                    # a CLOSED chain (start == end) has an empty
                    # topological boundary — no endpoint exclusion
                    # (round-2 advice: within/contains at the closure
                    # vertex was wrongly False)
                    at_start = (xs[m] == lines.x[s]) & (ys[m] == lines.y[s])
                    at_end = (xs[m] == lines.x[e - 1]) & (ys[m] == lines.y[e - 1])
                    ok &= ~(at_start | at_end)
            out[m] = ok
        return out

    return _map_bool(df, fn, result)


def point_touches_polygon(
    df: DataFrame, polygons: PolygonArrays,
    x: str = "x", y: str = "y", polygon_idx: str = "polygon_index",
    result: str = "touches",
) -> DataFrame:
    """Point exactly on the polygon boundary (feature_touches.py
    PointPolygonTouches / PolygonPointTouches)."""

    def fn(pdf):
        xs, ys = pdf[x].to_numpy(), pdf[y].to_numpy()
        pidx = pdf[polygon_idx].to_numpy()
        out = np.zeros(len(pdf), dtype=bool)
        for p in np.unique(pidx):
            m = pidx == p
            out[m] = _poly_boundary_dist2(xs[m], ys[m], polygons, int(p)) == 0.0
        return out

    return _map_bool(df, fn, result)


def _mp_poly_flags(mps, polys: PolygonArrays, mi: int, pi: int):
    """(all_covered, any_strict_in, any_on_bound) of multipoint mi's
    points vs polygon pi."""
    s, e = int(mps.part_offsets[mi]), int(mps.part_offsets[mi + 1])
    xs, ys = mps.x[s:e], mps.y[s:e]
    r0, r1 = int(polys.part_offsets[pi]), int(polys.part_offsets[pi + 1])
    inside = _pip_one_polygon(xs, ys, polys.ring_offsets[r0:r1 + 1], polys.x, polys.y)
    on_bound = _poly_boundary_dist2(xs, ys, polys, pi) == 0.0
    covered = inside | on_bound
    return bool(covered.all()), bool((inside & ~on_bound).any()), bool(on_bound.any())


def polygon_contains_multipoint(
    df: DataFrame, polygons: PolygonArrays, mps,
    polygon_idx: str = "polygon_index", mp_idx: str = "multipoint_index",
    result: str = "contains",
) -> DataFrame:
    """.contains / .covers for (polygon, multipoint): every point
    inside or on the boundary — boundary-inclusive like
    polygon_contains_point, the reference's documented non-shapely
    quirk (feature_contains.py ContainsPredicate (Polygon, MultiPoint)
    / feature_covers.py CoversPredicateBase)."""

    def pair(p, m):
        all_cov, _, _ = _mp_poly_flags(mps, polygons, m, p)
        return all_cov

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, polygon_idx, mp_idx, pair), result
    )


def multipoint_touches_polygon(
    df: DataFrame, mps, polygons: PolygonArrays,
    mp_idx: str = "multipoint_index", polygon_idx: str = "polygon_index",
    result: str = "touches",
) -> DataFrame:
    """Some point on the boundary, none strictly inside
    (feature_touches.py TouchesPredicateBase for (MultiPoint, Polygon))."""

    def pair(m, p):
        _, any_in, any_on = _mp_poly_flags(mps, polygons, m, p)
        return any_on and not any_in

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, mp_idx, polygon_idx, pair), result
    )


def linestring_geom_equals(
    df: DataFrame, lhs: LinestringArrays, rhs: LinestringArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "geom_equals",
) -> DataFrame:
    """.geom_equals for (linestring, linestring): identical vertex
    chain forward or reversed (feature_equals.py
    LineStringLineStringEquals)."""

    def pair(a, b):
        s0, e0 = int(lhs.part_offsets[a]), int(lhs.part_offsets[a + 1])
        s1, e1 = int(rhs.part_offsets[b]), int(rhs.part_offsets[b + 1])
        if e0 - s0 != e1 - s1:
            return False
        ax, ay = lhs.x[s0:e0], lhs.y[s0:e0]
        bx, by = rhs.x[s1:e1], rhs.y[s1:e1]
        fwd = (ax == bx).all() and (ay == by).all()
        rev = (ax == bx[::-1]).all() and (ay == by[::-1]).all()
        return bool(fwd or rev)

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def _canonical_rings(polys: PolygonArrays, pi: int):
    """Rings of polygon pi as canonical tuples: closing vertex dropped,
    rotated to the lexicographically smallest vertex, orientation
    chosen to make the tuple minimal — equality modulo rotation and
    winding."""
    out = []
    for r in range(polys.part_offsets[pi], polys.part_offsets[pi + 1]):
        s, e = int(polys.ring_offsets[r]), int(polys.ring_offsets[r + 1])
        xs, ys = polys.x[s:e], polys.y[s:e]
        if e - s > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
            xs, ys = xs[:-1], ys[:-1]
        verts = list(zip(xs.tolist(), ys.tolist()))
        n = len(verts)
        best = None
        for seq in (verts, verts[::-1]):
            k = min(range(n), key=lambda i: seq[i])
            rot = tuple(seq[k:] + seq[:k])
            if best is None or rot < best:
                best = rot
        out.append(best)
    return sorted(out)


def polygon_geom_equals(
    df: DataFrame, lhs: PolygonArrays, rhs: PolygonArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "geom_equals",
) -> DataFrame:
    """.geom_equals for (polygon, polygon): same ring multiset up to
    ring rotation and winding direction (feature_equals.py
    PolygonPolygonEquals semantics at vertex resolution)."""

    def pair(a, b):
        return _canonical_rings(lhs, a) == _canonical_rings(rhs, b)

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def _collinear_overlap_interval(px, py, qx, qy, ax, ay, bx, by):
    """Sub-interval of segment (p,q), in its own t-parameter, covered
    by collinear segment (a,b); None when not collinear / no overlap."""
    ux, uy = qx - px, qy - py
    # both endpoints of (a,b) must be on the (p,q) line
    if (ax - px) * uy - (ay - py) * ux != 0.0 or (bx - px) * uy - (by - py) * ux != 0.0:
        return None
    l2 = ux * ux + uy * uy
    if l2 == 0.0:
        return None
    t0 = ((ax - px) * ux + (ay - py) * uy) / l2
    t1 = ((bx - px) * ux + (by - py) * uy) / l2
    lo, hi = (t0, t1) if t0 <= t1 else (t1, t0)
    lo, hi = max(lo, 0.0), min(hi, 1.0)
    return (lo, hi) if hi > lo else None


def linestring_covers_linestring(
    df: DataFrame, lhs: LinestringArrays, rhs: LinestringArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "covers",
) -> DataFrame:
    """.covers for (linestring, linestring): every segment of rhs is
    fully covered by the union of collinear overlaps with lhs segments
    (interval-merge per rhs segment — feature_covers.py
    LineStringLineStringCovers semantics)."""

    def pair(a, b):
        a0, a1 = gk._feature_segments(lhs.part_offsets, a)
        b0, b1 = gk._feature_segments(rhs.part_offsets, b)
        for i0, i1 in zip(b0, b1):
            ivs = []
            for j0, j1 in zip(a0, a1):
                iv = _collinear_overlap_interval(
                    rhs.x[i0], rhs.y[i0], rhs.x[i1], rhs.y[i1],
                    lhs.x[j0], lhs.y[j0], lhs.x[j1], lhs.y[j1],
                )
                if iv:
                    ivs.append(iv)
            # merge and require [0, 1] coverage
            ivs.sort()
            reach = 0.0
            for lo, hi in ivs:
                if lo > reach:
                    return False
                reach = max(reach, hi)
            if reach < 1.0:
                return False
        return True

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def _boundary_split_probes(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
    """Interior-probe points for edge set A against boundary edge set
    B: each A edge is SPLIT at every parameter where it meets a B edge
    (crossing or collinear overlap), and the midpoint of every
    resulting sub-interval is emitted.  Between consecutive split
    parameters an edge cannot cross the boundary, so the midpoint's
    side classifies its whole open sub-interval — an EXACT
    interior-meeting test (sub-intervals ON the boundary are excluded
    by the caller's on-boundary check)."""
    xs_out, ys_out = [], []
    s_x = bx1 - bx0
    s_y = by1 - by0
    for i in range(len(ax0)):
        rx, ry = ax1[i] - ax0[i], ay1[i] - ay0[i]
        acx, acy = bx0 - ax0[i], by0 - ay0[i]
        denom = rx * s_y - ry * s_x
        params = [0.0, 1.0]
        nz = denom != 0.0
        if nz.any():
            t = (acx[nz] * s_y[nz] - acy[nz] * s_x[nz]) / denom[nz]
            u = (acx[nz] * ry - acy[nz] * rx) / denom[nz]
            hit = (t >= 0.0) & (t <= 1.0) & (u >= 0.0) & (u <= 1.0)
            params.extend(t[hit].tolist())
        rr = rx * rx + ry * ry
        if rr > 0.0:
            col = ~nz & (acx * ry - acy * rx == 0.0)
            if col.any():
                t0 = (acx[col] * rx + acy[col] * ry) / rr
                t1 = ((bx1[col] - ax0[i]) * rx + (by1[col] - ay0[i]) * ry) / rr
                for v in np.concatenate([t0, t1]):
                    if 0.0 < v < 1.0:
                        params.append(float(v))
        params = sorted(set(params))
        for a, b in zip(params[:-1], params[1:]):
            m = (a + b) * 0.5
            xs_out.append(ax0[i] + m * rx)
            ys_out.append(ay0[i] + m * ry)
    return np.asarray(xs_out), np.asarray(ys_out)


def _ls_poly_touches(lines: LinestringArrays, polys: PolygonArrays, li: int, pi: int):
    """touches for (linestring, polygon): boundary contact exists, no
    proper edge crossing, no vertex strictly inside
    (feature_touches.py LineStringPolygonTouches semantics at vertex
    resolution)."""
    s, e = int(lines.part_offsets[li]), int(lines.part_offsets[li + 1])
    a0, a1 = gk._feature_segments(lines.part_offsets, li)
    # probe vertices AND the midpoint of every boundary-split edge
    # sub-interval: a chain whose vertices all sit on the boundary can
    # still run through the interior; splitting at the computed
    # boundary-crossing parameters makes the test exact
    w0, w1 = gk._ring_segments_of_polygon(polys.part_offsets, polys.ring_offsets, pi)
    sx_, sy_ = _boundary_split_probes(
        lines.x[a0], lines.y[a0], lines.x[a1], lines.y[a1],
        polys.x[w0], polys.y[w0], polys.x[w1], polys.y[w1],
    )
    vx = np.concatenate([lines.x[s:e], sx_])
    vy = np.concatenate([lines.y[s:e], sy_])
    r0, r1 = int(polys.part_offsets[pi]), int(polys.part_offsets[pi + 1])
    inside = _pip_one_polygon(vx, vy, polys.ring_offsets[r0:r1 + 1], polys.x, polys.y)
    on_bound = _poly_boundary_dist2(vx, vy, polys, pi) == 0.0
    if bool((inside & ~on_bound).any()):
        return False
    v0, v1 = gk._ring_segments_of_polygon(polys.part_offsets, polys.ring_offsets, pi)
    proper = bool(
        gk._segments_intersect(
            lines.x[a0][:, None], lines.y[a0][:, None],
            lines.x[a1][:, None], lines.y[a1][:, None],
            polys.x[v0][None, :], polys.y[v0][None, :],
            polys.x[v1][None, :], polys.y[v1][None, :],
        ).any()
    )
    if proper:
        return False
    contact = bool(on_bound.any()) or gk._min_dist_segments_to_segments(
        lines.x[a0], lines.y[a0], lines.x[a1], lines.y[a1],
        polys.x[v0], polys.y[v0], polys.x[v1], polys.y[v1],
    ) == 0.0
    return contact


def linestring_touches_polygon(
    df: DataFrame, lines: LinestringArrays, polys: PolygonArrays,
    line_idx: str = "linestring_index", polygon_idx: str = "polygon_index",
    result: str = "touches",
) -> DataFrame:
    def fn(pdf):
        return _unique_pair_map(
            pdf, line_idx, polygon_idx,
            lambda a, b: _ls_poly_touches(lines, polys, a, b),
        )

    return _map_bool(df, fn, result)


def _polygon_contains_polygon_pair(lhs: PolygonArrays, rhs: PolygonArrays, a: int, b: int) -> bool:
    """Boundary-inclusive containment of rhs b in lhs a (the pair
    function of polygon_contains_polygon, reusable by composition)."""
    rs = int(rhs.ring_offsets[rhs.part_offsets[b]])
    re_ = int(rhs.ring_offsets[rhs.part_offsets[b + 1]])
    vx, vy = rhs.x[rs:re_], rhs.y[rs:re_]
    lr0, lr1 = int(lhs.part_offsets[a]), int(lhs.part_offsets[a + 1])
    inside = _pip_one_polygon(vx, vy, lhs.ring_offsets[lr0:lr1 + 1], lhs.x, lhs.y)
    d2 = _poly_boundary_dist2(vx, vy, lhs, a)
    v0, v1 = gk._ring_segments_of_polygon(lhs.part_offsets, lhs.ring_offsets, a)
    b0, b1 = gk._ring_segments_of_polygon(rhs.part_offsets, rhs.ring_offsets, b)
    proper = bool(
        gk._segments_intersect(
            lhs.x[v0][:, None], lhs.y[v0][:, None],
            lhs.x[v1][:, None], lhs.y[v1][:, None],
            rhs.x[b0][None, :], rhs.y[b0][None, :],
            rhs.x[b1][None, :], rhs.y[b1][None, :],
        ).any()
    )
    return bool((inside | (d2 == 0.0)).all()) and not proper


def _poly_poly_flags(lhs: PolygonArrays, rhs: PolygonArrays, a: int, b: int):
    """(contact, proper, a_strict_in_b, b_strict_in_a) — building
    blocks for touches/overlaps.  Interior probes use vertices AND the
    midpoint of every boundary-split edge sub-interval
    (_boundary_split_probes): between consecutive split parameters an
    edge cannot cross the other boundary, so the classification is
    exact — no sampled-probe gap on non-convex contact."""
    def strict_in(src, si, dst, di):
        s0, s1 = gk._ring_segments_of_polygon(src.part_offsets, src.ring_offsets, si)
        d0, d1 = gk._ring_segments_of_polygon(dst.part_offsets, dst.ring_offsets, di)
        sxp, syp = _boundary_split_probes(
            src.x[s0], src.y[s0], src.x[s1], src.y[s1],
            dst.x[d0], dst.y[d0], dst.x[d1], dst.y[d1],
        )
        xs = np.concatenate([src.x[s0], sxp])
        ys = np.concatenate([src.y[s0], syp])
        r0, r1 = int(dst.part_offsets[di]), int(dst.part_offsets[di + 1])
        inside = _pip_one_polygon(xs, ys, dst.ring_offsets[r0:r1 + 1], dst.x, dst.y)
        on_b = _poly_boundary_dist2(xs, ys, dst, di) == 0.0
        return bool((inside & ~on_b).any())

    v0, v1 = gk._ring_segments_of_polygon(lhs.part_offsets, lhs.ring_offsets, a)
    w0, w1 = gk._ring_segments_of_polygon(rhs.part_offsets, rhs.ring_offsets, b)
    proper = bool(
        gk._segments_intersect(
            lhs.x[v0][:, None], lhs.y[v0][:, None],
            lhs.x[v1][:, None], lhs.y[v1][:, None],
            rhs.x[w0][None, :], rhs.y[w0][None, :],
            rhs.x[w1][None, :], rhs.y[w1][None, :],
        ).any()
    )
    contact = gk._min_dist_segments_to_segments(
        lhs.x[v0], lhs.y[v0], lhs.x[v1], lhs.y[v1],
        rhs.x[w0], rhs.y[w0], rhs.x[w1], rhs.y[w1],
    ) == 0.0
    return contact, proper, strict_in(lhs, a, rhs, b), strict_in(rhs, b, lhs, a)


def polygon_touches_polygon(
    df: DataFrame, lhs: PolygonArrays, rhs: PolygonArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "touches",
) -> DataFrame:
    """Boundaries meet, interiors don't (feature_touches.py
    PolygonPolygonTouches).  Containment (including geometric
    equality) implies interior intersection the probe flags can miss
    when every probe lands on the boundary, so it is excluded
    explicitly."""

    def pair(a, b):
        contact, proper, a_in, b_in = _poly_poly_flags(lhs, rhs, a, b)
        if not contact or proper or a_in or b_in:
            return contact and not proper and not a_in and not b_in
        return not _polygon_contains_polygon_pair(
            lhs, rhs, a, b
        ) and not _polygon_contains_polygon_pair(rhs, lhs, b, a)

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def polygon_overlaps_polygon(
    df: DataFrame, lhs: PolygonArrays, rhs: PolygonArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "overlaps",
) -> DataFrame:
    """Interiors intersect but neither covers the other
    (feature_overlaps.py PolygonPolygonOverlaps)."""

    def pair(a, b):
        contact, proper, a_in, b_in = _poly_poly_flags(lhs, rhs, a, b)
        interiors = proper or a_in or b_in
        if not interiors:
            return False
        return not _polygon_contains_polygon_pair(
            lhs, rhs, a, b
        ) and not _polygon_contains_polygon_pair(rhs, lhs, b, a)

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def polygon_contains_properly_multipoint(
    df: DataFrame, polygons: PolygonArrays, mps,
    polygon_idx: str = "polygon_index", mp_idx: str = "multipoint_index",
    result: str = "contains_properly",
) -> DataFrame:
    """Every point strictly inside (ray-cast, boundary excluded) —
    feature_contains_properly.py ContainsProperlyPredicate."""

    def pair(p, m):
        s, e = int(mps.part_offsets[m]), int(mps.part_offsets[m + 1])
        xs, ys = mps.x[s:e], mps.y[s:e]
        r0, r1 = int(polygons.part_offsets[p]), int(polygons.part_offsets[p + 1])
        inside = _pip_one_polygon(
            xs, ys, polygons.ring_offsets[r0:r1 + 1], polygons.x, polygons.y
        )
        on_b = _poly_boundary_dist2(xs, ys, polygons, p) == 0.0
        return bool((inside & ~on_b).all())

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, polygon_idx, mp_idx, pair), result
    )


def polygon_contains_properly_linestring(
    df: DataFrame, polygons: PolygonArrays, lines: LinestringArrays,
    polygon_idx: str = "polygon_index", line_idx: str = "linestring_index",
    result: str = "contains_properly",
) -> DataFrame:
    """Every vertex AND segment midpoint strictly inside, no proper
    edge crossing — the strict counterpart of linestring_within_polygon."""

    def pair(p, li):
        s, e = int(lines.part_offsets[li]), int(lines.part_offsets[li + 1])
        a0, a1 = gk._feature_segments(lines.part_offsets, li)
        xs = np.concatenate([lines.x[s:e], (lines.x[a0] + lines.x[a1]) * 0.5])
        ys = np.concatenate([lines.y[s:e], (lines.y[a0] + lines.y[a1]) * 0.5])
        r0, r1 = int(polygons.part_offsets[p]), int(polygons.part_offsets[p + 1])
        inside = _pip_one_polygon(
            xs, ys, polygons.ring_offsets[r0:r1 + 1], polygons.x, polygons.y
        )
        on_b = _poly_boundary_dist2(xs, ys, polygons, p) == 0.0
        if not bool((inside & ~on_b).all()):
            return False
        v0, v1 = gk._ring_segments_of_polygon(
            polygons.part_offsets, polygons.ring_offsets, p
        )
        return not bool(
            gk._segments_intersect(
                lines.x[a0][:, None], lines.y[a0][:, None],
                lines.x[a1][:, None], lines.y[a1][:, None],
                polygons.x[v0][None, :], polygons.y[v0][None, :],
                polygons.x[v1][None, :], polygons.y[v1][None, :],
            ).any()
        )

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, polygon_idx, line_idx, pair), result
    )


def polygon_contains_properly_polygon(
    df: DataFrame, lhs: PolygonArrays, rhs: PolygonArrays,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "contains_properly",
) -> DataFrame:
    """Every rhs vertex and edge midpoint strictly inside lhs, no
    proper edge crossing — strict counterpart of
    polygon_contains_polygon."""

    def pair(a, b):
        b0, b1 = gk._ring_segments_of_polygon(rhs.part_offsets, rhs.ring_offsets, b)
        xs = np.concatenate([rhs.x[b0], (rhs.x[b0] + rhs.x[b1]) * 0.5])
        ys = np.concatenate([rhs.y[b0], (rhs.y[b0] + rhs.y[b1]) * 0.5])
        lr0, lr1 = int(lhs.part_offsets[a]), int(lhs.part_offsets[a + 1])
        inside = _pip_one_polygon(xs, ys, lhs.ring_offsets[lr0:lr1 + 1], lhs.x, lhs.y)
        on_b = _poly_boundary_dist2(xs, ys, lhs, a) == 0.0
        if not bool((inside & ~on_b).all()):
            return False
        v0, v1 = gk._ring_segments_of_polygon(lhs.part_offsets, lhs.ring_offsets, a)
        return not bool(
            gk._segments_intersect(
                lhs.x[v0][:, None], lhs.y[v0][:, None],
                lhs.x[v1][:, None], lhs.y[v1][:, None],
                rhs.x[b0][None, :], rhs.y[b0][None, :],
                rhs.x[b1][None, :], rhs.y[b1][None, :],
            ).any()
        )

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def multipoint_on_linestring(
    df: DataFrame, mps, lines: LinestringArrays,
    mp_idx: str = "multipoint_index", line_idx: str = "linestring_index",
    result: str = "on", mode: str = "all",
) -> DataFrame:
    """Multipoint vs linestring point-set predicates.

    mode='all'      -> every point on the chain (within/covers shape)
    mode='touches'  -> at least one point on the chain, none on its
                       interior (contact only at chain endpoints)
    mode='contains' -> every point on the chain AND at least one on
                       its interior (.contains: rhs must meet the
                       lhs interior, not just its boundary)
    mode='all_interior' -> every point on the chain's interior
                       (.contains_properly)
    """

    def pair(m, li):
        s, e = int(mps.part_offsets[m]), int(mps.part_offsets[m + 1])
        xs, ys = mps.x[s:e], mps.y[s:e]
        s0, s1 = gk._feature_segments(lines.part_offsets, li)
        d2 = point_segment_distance_squared(
            xs[:, None], ys[:, None],
            lines.x[s0][None, :], lines.y[s0][None, :],
            lines.x[s1][None, :], lines.y[s1][None, :],
        ).min(axis=1)
        on = d2 == 0.0
        if mode == "all":
            return bool(on.all())
        ls_, le_ = int(lines.part_offsets[li]), int(lines.part_offsets[li + 1])
        if lines.x[ls_] == lines.x[le_ - 1] and lines.y[ls_] == lines.y[le_ - 1]:
            # closed chain: empty boundary, every on-chain point is
            # interior (same closure rule as point_on_linestring)
            interior = on
        else:
            at_start = (xs == lines.x[ls_]) & (ys == lines.y[ls_])
            at_end = (xs == lines.x[le_ - 1]) & (ys == lines.y[le_ - 1])
            interior = on & ~(at_start | at_end)
        if mode == "contains":
            return bool(on.all()) and bool(interior.any())
        if mode == "all_interior":
            return bool(interior.all())
        return bool(on.any()) and not bool(interior.any())

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, mp_idx, line_idx, pair), result
    )


def multipoint_within_multipoint(
    df: DataFrame, lhs, rhs,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "within",
) -> DataFrame:
    """Point-set subset: every lhs point equals some rhs point
    (within/covers for multipoint pairs, via the equals-count kernel)."""

    def pair(a, b):
        cnt = gk.pairwise_multipoint_equals_count(
            [0, lhs.part_offsets[a + 1] - lhs.part_offsets[a]],
            lhs.x[lhs.part_offsets[a]:lhs.part_offsets[a + 1]],
            lhs.y[lhs.part_offsets[a]:lhs.part_offsets[a + 1]],
            [0, rhs.part_offsets[b + 1] - rhs.part_offsets[b]],
            rhs.x[rhs.part_offsets[b]:rhs.part_offsets[b + 1]],
            rhs.y[rhs.part_offsets[b]:rhs.part_offsets[b + 1]],
        )[0]
        return bool(cnt == lhs.part_offsets[a + 1] - lhs.part_offsets[a])

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def multipoint_equals_point(
    df: DataFrame, mps,
    x: str = "x", y: str = "y", mp_idx: str = "multipoint_index",
    result: str = "result",
) -> DataFrame:
    """Every point of the multipoint equals the row's (x, y) point —
    i.e. the multipoint's point set is exactly {pt} (within(mp, pt),
    covers(pt, mp): a 0-dim set fits inside a single point only by
    collapsing onto it)."""

    def fn(pdf):
        xs, ys = pdf[x].to_numpy(), pdf[y].to_numpy()
        mi = pdf[mp_idx].to_numpy()
        out = np.zeros(len(pdf), dtype=bool)
        for m in np.unique(mi):
            sel = mi == m
            s, e = int(mps.part_offsets[m]), int(mps.part_offsets[m + 1])
            # (e > s): an EMPTY multipoint equals nothing — without the
            # guard, .all(axis=1) over a zero-width comparison is
            # vacuously True
            out[sel] = (e > s) & (
                (xs[sel][:, None] == mps.x[None, s:e])
                & (ys[sel][:, None] == mps.y[None, s:e])
            ).all(axis=1)
        return out

    return _map_bool(df, fn, result)


def multipoint_overlaps_multipoint(
    df: DataFrame, lhs, rhs,
    lhs_idx: str = "lhs_index", rhs_idx: str = "rhs_index",
    result: str = "overlaps",
) -> DataFrame:
    """.overlaps for multipoint pairs (same-dimension partial overlap):
    the point sets share at least one point AND each side has a point
    the other lacks.  NOTE: shapely/GeoPandas semantics; the reference
    dispatch maps this cell to ImpossiblePredicate (constant False,
    feature_overlaps.py:83) — same deliberate deviation as the
    linestring-linestring overlaps cell."""

    def pair(a, b):
        al, ah = int(lhs.part_offsets[a]), int(lhs.part_offsets[a + 1])
        bl, bh = int(rhs.part_offsets[b]), int(rhs.part_offsets[b + 1])
        shared = (
            (lhs.x[al:ah][:, None] == rhs.x[None, bl:bh])
            & (lhs.y[al:ah][:, None] == rhs.y[None, bl:bh])
        )
        lhs_in = shared.any(axis=1)
        rhs_in = shared.any(axis=0)
        return bool(lhs_in.any()) and not bool(lhs_in.all()) and not bool(rhs_in.all())

    return _map_bool(
        df, lambda pdf: _unique_pair_map(pdf, lhs_idx, rhs_idx, pair), result
    )


def multipoint_covers_point(
    df: DataFrame, mps,
    x: str = "x", y: str = "y", mp_idx: str = "multipoint_index",
    result: str = "covers",
) -> DataFrame:
    """Point membership in the multipoint's point set."""

    def fn(pdf):
        xs, ys = pdf[x].to_numpy(), pdf[y].to_numpy()
        mi = pdf[mp_idx].to_numpy()
        out = np.zeros(len(pdf), dtype=bool)
        for m in np.unique(mi):
            sel = mi == m
            s, e = int(mps.part_offsets[m]), int(mps.part_offsets[m + 1])
            out[sel] = (
                (xs[sel][:, None] == mps.x[None, s:e])
                & (ys[sel][:, None] == mps.y[None, s:e])
            ).any(axis=1)
        return out

    return _map_bool(df, fn, result)
