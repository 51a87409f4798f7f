"""Output oracles that do not use ``cuspatial_spark.kernels``: plain
NumPy brute force over the generated inputs, and an order-independent
fingerprint of a join's output pairs computed both in Spark (as an
``observe`` aggregate on the output, so every operation is checked
without collecting it) and in Python from the oracle's pairs."""

from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# A pair (point id, other id) is packed as point_id * PACK + other_id;
# other ids (polygon / road ids) stay below PACK.
PACK = 1 << 16
M1, M2 = 1_000_003, 999_983
ID_LIMIT = 1 << 22


def url_id(url: Column) -> Column:
    """The page id a synthetic url ends with."""
    return F.substring_index(url, "/", -1).cast("long")


def text_crc(texts) -> np.ndarray:
    return np.fromiter((zlib.crc32(t.encode("utf-8")) for t in texts),
                       dtype=np.int64, count=len(texts))


# ---------------------------------------------------------- fingerprints


def fingerprint_exprs(point_id: Column, other_id: Column | None = None,
                      text: Column | None = None,
                      distance: Column | None = None) -> list[Column]:
    """count, sum(key), sum(key mod M1 * key mod M2) [, sum(text crc xor
    point id)] [, sum(distance)].  Integer terms are exact and
    order-independent; with ids below ID_LIMIT and fewer than ID_LIMIT
    rows no long sum can overflow."""
    key = point_id * PACK + other_id if other_id is not None else point_id
    out = [F.count(F.lit(1)), F.sum(key), F.sum((key % M1) * (key % M2))]
    if text is not None:
        out.append(F.sum(F.crc32(text.cast("binary")).bitwiseXOR(point_id)))
    if distance is not None:
        out.append(F.sum(distance))
    return out


def fingerprint(point_id: np.ndarray, other_id: np.ndarray | None = None,
                crc: np.ndarray | None = None,
                distance: np.ndarray | None = None) -> list:
    """Python twin of ``fingerprint_exprs`` over oracle arrays."""
    pid = np.asarray(point_id, dtype=np.int64)
    if len(pid) and (pid.max() >= ID_LIMIT or len(pid) >= ID_LIMIT):
        raise ValueError("fingerprint sums could overflow: ids or rows exceed ID_LIMIT")
    key = pid * PACK + np.asarray(other_id, dtype=np.int64) if other_id is not None else pid
    if not len(key):
        return [0] + [None] * (2 + (crc is not None) + (distance is not None))
    out = [int(len(key)), int(key.sum()), int(((key % M1) * (key % M2)).sum())]
    if crc is not None:
        out.append(int((np.asarray(crc, dtype=np.int64) ^ pid).sum()))
    if distance is not None:
        out.append(float(np.sum(distance)))
    return out


def sample_rows_expr(point_id: Column, sample: list[int], **cols: Column) -> Column:
    """JSON array of {pid, cols...} over the output rows whose point is
    in ``sample``: an observe aggregate that brings a seeded sample of
    every operation's rows back for an exact comparison."""
    row = F.struct(point_id.alias("pid"), *[c.alias(k) for k, c in cols.items()])
    return F.to_json(F.collect_list(F.when(point_id.isin(sample), row)))


def same_fingerprint(got: list, want: list, rel_tol: float = 1e-9) -> bool:
    """Integer terms must match exactly; a trailing float (distance sum,
    whose rounding depends on summation order) within ``rel_tol``."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if isinstance(w, float) or isinstance(g, float):
            if g is None or w is None or abs(g - w) > rel_tol * max(1.0, abs(w)):
                return False
        elif g != w:
            return False
    return True


# --------------------------------------------------------------- oracles


def pip_pairs(ids: np.ndarray, x: np.ndarray, y: np.ndarray, polys) -> tuple[np.ndarray, np.ndarray]:
    """All (point id, polygon id) containment pairs by brute-force
    even-odd ray casting, with an exact bounding-box prefilter."""
    order = np.argsort(x, kind="stable")
    xs, ys, ids_s = x[order], y[order], ids[order]
    out_p, out_g = [], []
    for g in range(len(polys)):
        r0, r1 = polys.part_offsets[g], polys.part_offsets[g + 1]
        v0, v1 = polys.ring_offsets[r0], polys.ring_offsets[r1]
        px, py = polys.x[v0:v1], polys.y[v0:v1]
        cand = np.arange(np.searchsorted(xs, px.min(), side="left"),
                         np.searchsorted(xs, px.max(), side="right"))
        cand = cand[(ys[cand] >= py.min()) & (ys[cand] <= py.max())]
        tx, ty = xs[cand], ys[cand]
        inside = np.zeros(len(cand), dtype=bool)
        for r in range(r0, r1):
            s, e = polys.ring_offsets[r], polys.ring_offsets[r + 1]
            for i in range(s, e):
                j = e - 1 if i == s else i - 1
                ax, ay, bx, by = polys.x[i], polys.y[i], polys.x[j], polys.y[j]
                if ax == bx and ay == by:
                    continue
                up = ay > ty
                inside ^= (up != (by > ty)) & (((tx - ax) * (by - ay) < (bx - ax) * (ty - ay)) != up)
        out_p.append(ids_s[cand[inside]])
        out_g.append(np.full(int(inside.sum()), polys.ids[g], dtype=np.int64))
    return np.concatenate(out_p), np.concatenate(out_g)


def nearest_lines(x: np.ndarray, y: np.ndarray, lines, radius: float) -> tuple[np.ndarray, np.ndarray]:
    """Per point, the nearest linestring id and its distance (ties go to
    the lower id).  Only lines whose bbox grown by ``radius`` contains
    the point are scored, so the answer is exact for points whose
    nearest line lies within ``radius``; the caller checks that bound."""
    best = np.full(len(x), np.inf)
    best_id = np.full(len(x), -1, dtype=np.int64)
    for li in range(len(lines)):
        s, e = lines.part_offsets[li], lines.part_offsets[li + 1]
        lx, ly = lines.x[s:e], lines.y[s:e]
        cand = np.nonzero((x >= lx.min() - radius) & (x <= lx.max() + radius)
                          & (y >= ly.min() - radius) & (y <= ly.max() + radius))[0]
        cx, cy = x[cand], y[cand]
        d2 = np.full(len(cand), np.finfo(np.float64).max)
        for k in range(e - s - 1):
            ax, ay, bx, by = lx[k], ly[k], lx[k + 1], ly[k + 1]
            abx, aby = bx - ax, by - ay
            acx, acy = cx - ax, cy - ay
            l2 = abx * abx + aby * aby
            r = acx * abx + acy * aby
            dac = acx * acx + acy * acy
            bcx, bcy = cx - bx, cy - by
            dbc = bcx * bcx + bcy * bcy
            t = r / l2
            qx, qy = cx - (ax + t * abx), cy - (ay + t * aby)
            d_in = qx * qx + qy * qy
            d = np.where((r <= 0) | (r >= l2), np.minimum(dac, dbc), d_in)
            d2 = np.minimum(d2, d)
        d = np.sqrt(d2)
        better = d < best[cand]
        best[cand[better]] = d[better]
        best_id[cand[better]] = lines.ids[li]
    return best_id, best


def in_window(x: np.ndarray, y: np.ndarray, w: tuple[float, float, float, float]) -> np.ndarray:
    """Strict window membership (the boundary is excluded)."""
    x0, x1, y0, y1 = w
    return (x > x0) & (x < x1) & (y > y0) & (y < y1)
