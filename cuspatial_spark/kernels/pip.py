"""Point-in-polygon ray-casting kernel (crossings-multiply variant).

Semantics match the reference kernel
(/root/reference/cpp/include/cuspatial/detail/algorithm/is_point_in_polygon.cuh:46-100):

- Eric Haines' crossings-multiply test, division-free.
- Rings may be closed or unclosed; the implicit closing segment
  (first-vertex, last-vertex) is always considered; degenerate (zero
  length under 4-ULP equality) segments are skipped.
- A point lying exactly ON an edge (4-ULP collinearity + x-range test)
  is OUTSIDE (`contains_properly` semantics).

Everything is vectorized over a flat (pair, segment) expansion — no
per-row Python loops — so it serves both the brute-force operator and
the quadtree-join refine phase.

Polygon layout (GeoArrow-flat, same buffers the reference consumes,
see /root/reference/python/cuspatial/cuspatial/core/spatial/join.py:76-87):
  poly_offsets: int array, len = n_polys + 1, indexes into ring space
  ring_offsets: int array, len = n_rings + 1, indexes into vertex space
  px, py:       vertex coordinate arrays
"""

from __future__ import annotations

import numpy as np

from .floating import float_equal


def _pip_one_polygon(
    tx: np.ndarray,
    ty: np.ndarray,
    ring_offsets: np.ndarray,
    px: np.ndarray,
    py: np.ndarray,
) -> np.ndarray:
    """All points vs ONE polygon (rings given by ring_offsets into
    px/py).  Segment-loop-outer, point-vector-inner: accumulators stay
    in cache, so the hot path is compute-bound rather than
    memory-bandwidth-bound (crossing parity is order-independent, so
    this matches the reference's per-point segment loop exactly)."""
    n = len(tx)
    crossings = np.zeros(n, dtype=bool)
    on_edge = np.zeros(n, dtype=bool)
    zero = np.zeros(1, dtype=tx.dtype)
    for r in range(len(ring_offsets) - 1):
        s, e = int(ring_offsets[r]), int(ring_offsets[r + 1])
        for i in range(s, e):
            prev = e - 1 if i == s else i - 1
            ax, ay = px[i], py[i]
            bx, by = px[prev], py[prev]
            run = bx - ax
            rise = by - ay
            if float_equal(np.asarray([run]), zero)[0] and float_equal(
                np.asarray([rise]), zero
            )[0]:
                continue
            rise_to_point = ty - ay
            run_to_point = tx - ax
            collinear = float_equal(run * rise_to_point, run_to_point * rise)
            if collinear.any():
                minx, maxx = (ax, bx) if ax <= bx else (bx, ax)
                on_edge |= collinear & (minx <= tx) & (tx <= maxx)
            y0 = by > ty
            y1 = ay > ty
            flip = (y0 != y1) & (((tx - ax) * rise < run * rise_to_point) != y1)
            crossings ^= flip
    return crossings & ~on_edge


def point_in_polygon_pairs(
    tx: np.ndarray,
    ty: np.ndarray,
    pair_poly: np.ndarray,
    poly_offsets: np.ndarray,
    ring_offsets: np.ndarray,
    px: np.ndarray,
    py: np.ndarray,
) -> np.ndarray:
    """Test pair i = (point (tx[i], ty[i]), polygon pair_poly[i]).

    Returns a bool array of len(tx).  Groups pairs by polygon and runs
    the cache-friendly single-polygon kernel per group (the polygon
    layer in a tile join is broadcast-small, so the Python-level group
    loop is over at most a few hundred polygons per batch).
    """
    tx = np.asarray(tx)
    if tx.dtype != np.float32:
        tx = tx.astype(np.float64, copy=False)
    ty = np.asarray(ty).astype(tx.dtype, copy=False)
    n_pairs = len(tx)
    if n_pairs == 0:
        return np.zeros(0, dtype=bool)
    poly_offsets = np.asarray(poly_offsets, dtype=np.int64)
    ring_offsets = np.asarray(ring_offsets, dtype=np.int64)
    px = np.asarray(px).astype(tx.dtype, copy=False)
    py = np.asarray(py).astype(tx.dtype, copy=False)
    pair_poly = np.asarray(pair_poly, dtype=np.int64)

    out = np.zeros(n_pairs, dtype=bool)
    order = np.argsort(pair_poly, kind="stable")
    sorted_poly = pair_poly[order]
    group_starts = np.concatenate(
        ([0], np.nonzero(np.diff(sorted_poly))[0] + 1, [n_pairs])
    )
    for g in range(len(group_starts) - 1):
        s, e = group_starts[g], group_starts[g + 1]
        idx = order[s:e]
        p = sorted_poly[s]
        r0, r1 = poly_offsets[p], poly_offsets[p + 1]
        out[idx] = _pip_one_polygon(
            tx[idx], ty[idx], ring_offsets[r0:r1 + 1], px, py
        )
    return out


def point_in_polygon_bits(
    tx: np.ndarray,
    ty: np.ndarray,
    poly_offsets: np.ndarray,
    ring_offsets: np.ndarray,
    px: np.ndarray,
    py: np.ndarray,
) -> np.ndarray:
    """Brute-force all-points x all-polygons PIP, packed as an int32
    bitmask per point (bit j set => inside polygon j).

    Mirrors the reference bitmask kernel's contract
    (/root/reference/cpp/include/cuspatial/point_in_polygon.cuh:42-102,
    <= 31 polygons).
    """
    n_polys = len(poly_offsets) - 1
    if n_polys > 31:
        raise ValueError("point_in_polygon supports at most 31 polygons")
    tx = np.asarray(tx)
    if tx.dtype != np.float32:
        tx = tx.astype(np.float64, copy=False)
    ty = np.asarray(ty).astype(tx.dtype, copy=False)
    poly_offsets = np.asarray(poly_offsets, dtype=np.int64)
    ring_offsets = np.asarray(ring_offsets, dtype=np.int64)
    px = np.asarray(px).astype(tx.dtype, copy=False)
    py = np.asarray(py).astype(tx.dtype, copy=False)
    out = np.zeros(len(tx), dtype=np.int32)
    for j in range(n_polys):
        r0, r1 = poly_offsets[j], poly_offsets[j + 1]
        hits = _pip_one_polygon(tx, ty, ring_offsets[r0:r1 + 1], px, py)
        out |= hits.astype(np.int32) << np.int32(j)
    return out
