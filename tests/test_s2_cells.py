"""S2-style spherical cell encoding (functions.with_s2_cell): face
selection, st quantization, Morton packing, pole/date-line behavior,
and the pure-codegen plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuspatial_spark.functions import with_s2_cell


def _cells(spark, rows, level):
    df = spark.createDataFrame(rows, "lon double, lat double")
    out = with_s2_cell(df, "lon", "lat", level, out="cell").toPandas()
    return out["cell"].to_numpy()


def _s2_numpy(lon, lat, level):
    """Independent NumPy reimplementation (same S2 construction)."""
    lam, phi = np.radians(lon), np.radians(lat)
    x = np.cos(phi) * np.cos(lam)
    y = np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    ax, ay, az = abs(x), abs(y), abs(z)
    if az >= ax and az >= ay:
        face = 2 if z > 0 else 5
    elif ay >= ax:
        face = 1 if y > 0 else 4
    else:
        face = 0 if x > 0 else 3
    u, v = {
        0: (y / x, z / x),
        1: (-x / y, z / y),
        2: (-x / z, -y / z),
        3: (z / x, y / x),
        4: (z / y, -x / y),
        5: (-y / z, -x / z),
    }[face]

    def st(w):
        return np.sqrt(1 + 3 * w) / 2 if w >= 0 else 1 - np.sqrt(1 - 3 * w) / 2

    n = 1 << level
    i = min(max(int(np.floor(st(u) * n)), 0), n - 1)
    j = min(max(int(np.floor(st(v) * n)), 0), n - 1)

    def dilate(w):
        w = (w | (w << 8)) & 0x00FF00FF
        w = (w | (w << 4)) & 0x0F0F0F0F
        w = (w | (w << 2)) & 0x33333333
        return (w | (w << 1)) & 0x55555555

    return face * (1 << (2 * level)) + ((dilate(j) << 1) | dilate(i))


def test_face_centers(spark):
    # cube face centers land on the expected face with i = j = n/2
    centers = [
        (0.0, 0.0, 0),    # +x
        (90.0, 0.0, 1),   # +y
        (0.0, 90.0, 2),   # +z pole
        (180.0, 0.0, 3),  # -x
        (-90.0, 0.0, 4),  # -y
        (0.0, -90.0, 5),  # -z pole
    ]
    cells = _cells(spark, [(lon, lat) for lon, lat, _ in centers], 4)
    for (lon, lat, face), cell in zip(centers, cells):
        assert cell >> 8 == face, (lon, lat)


def test_matches_independent_numpy_reimpl(spark):
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-89.9, 89.9, 200)
    cells = _cells(spark, list(zip(lon.tolist(), lat.tolist())), 12)
    expected = [_s2_numpy(lo, la, 12) for lo, la in zip(lon, lat)]
    np.testing.assert_array_equal(cells, expected)


def test_no_dateline_split(spark):
    # points either side of the date line stay on ONE face (3 = -x) in
    # grid-adjacent cells — planar Morton over lon/lat puts them at
    # opposite extremes of the key space
    level = 6
    cells = _cells(spark, [(179.99, 10.0), (-179.99, 10.0)], level)

    def deinterleave(w):
        i = j = 0
        for b in range(level):
            i |= ((w >> (2 * b)) & 1) << b
            j |= ((w >> (2 * b + 1)) & 1) << b
        return i, j

    faces = [int(c) >> (2 * level) for c in cells]
    assert faces == [3, 3]
    (i0, j0), (i1, j1) = (deinterleave(int(c) & ((1 << (2 * level)) - 1)) for c in cells)
    assert abs(i0 - i1) + abs(j0 - j1) <= 1


def test_poles_are_regular_cells(spark):
    # near-pole points quantize onto the z faces without blowup
    cells = _cells(
        spark, [(lon, 89.999) for lon in (-170.0, -10.0, 10.0, 170.0)], 8
    )
    assert all(c >> 16 == 2 for c in cells)
    # and they all land in the small central neighborhood of face 2
    assert len(set(cells)) <= 4


def test_level_bounds(spark):
    df = spark.range(1).select(F.lit(0.0).alias("lon"), F.lit(0.0).alias("lat"))
    with pytest.raises(ValueError):
        with_s2_cell(df, "lon", "lat", 16)
    with pytest.raises(ValueError):
        with_s2_cell(df, "lon", "lat", -1)


def test_partition_balance_beats_planar(spark):
    # uniform-on-sphere sample: level-3 S2 cells give bounded skew
    rng = np.random.default_rng(7)
    z = rng.uniform(-1, 1, 4000)
    lon = rng.uniform(-180, 180, 4000)
    lat = np.degrees(np.arcsin(z))
    cells = _cells(spark, list(zip(lon.tolist(), lat.tolist())), 3)
    _, counts = np.unique(cells, return_counts=True)
    # 6 * 4^3 = 384 cells; uniform density -> max/mean stays small
    assert counts.max() / (len(lon) / 384) < 4.0


def test_plan_is_pure_codegen_and_bounded(spark):
    df = spark.range(100).select(
        (F.col("id") * 0.07 - 3.0).alias("lon"), (F.col("id") * 0.02 - 1.0).alias("lat")
    )
    plan = with_s2_cell(df, "lon", "lat", 10)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan
    # staged projections keep the plan text O(1) — the single-expr
    # form re-inlines the face CASE exponentially (~300 KB at level 12)
    assert len(plan) < 60_000
