"""Spark-level operator tests: parity with the reference goldens when
run single-partition, plus distributed tile-join equivalence."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cuspatial_spark import LinestringArrays, PolygonArrays, operators as ops
from cuspatial_spark.plans import point_in_polygon_join, point_to_nearest_linestring_join

from . import golden_fixtures as G


@pytest.fixture(scope="module")
def small_points(spark):
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(71, dtype=np.int64),
            "x": np.asarray(G.SMALL_POINTS_X, dtype=np.float64),
            "y": np.asarray(G.SMALL_POINTS_Y, dtype=np.float64),
        }
    )
    return spark.createDataFrame(pdf).repartition(1).withColumn("part_id", F.lit(0)).cache()


@pytest.fixture(scope="module")
def small_polygons():
    xy = np.empty(2 * len(G.SMALL_POLY_XS))
    xy[::2] = G.SMALL_POLY_XS
    xy[1::2] = G.SMALL_POLY_YS
    return PolygonArrays.from_polygons_xy(xy, G.SMALL_RING_OFFSETS, G.SMALL_POLY_OFFSETS)


@pytest.fixture(scope="module")
def small_linestrings():
    xy = np.empty(2 * len(G.SMALL_POLY_XS))
    xy[::2] = G.SMALL_POLY_XS
    xy[1::2] = G.SMALL_POLY_YS
    return LinestringArrays.from_linestrings_xy(xy, G.SMALL_RING_OFFSETS)


P = G.SMALL_PARAMS


class TestQuadtreeOnPoints:
    def test_golden_table(self, spark, small_points):
        _, qt = ops.quadtree_on_points(
            small_points, P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        )
        got = qt.toPandas()
        g = G.QUADTREE_GOLDEN
        np.testing.assert_array_equal(got["key"], g["key"])
        np.testing.assert_array_equal(got["level"], g["level"])
        np.testing.assert_array_equal(got["is_internal_node"], np.array(g["is_internal_node"], bool))
        np.testing.assert_array_equal(got["length"], g["length"])
        np.testing.assert_array_equal(got["offset"], g["offset"])


class TestQuadtreePipelineParity:
    def test_bbox_join_golden(self, spark, small_points, small_polygons):
        pairs = ops.join_quadtree_and_bounding_boxes(
            small_points, small_polygons.bounding_boxes(),
            P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        ).toPandas()
        np.testing.assert_array_equal(pairs["bbox_offset"], G.POLY_BBOX_JOIN_GOLDEN["bbox_offset"])
        np.testing.assert_array_equal(pairs["quad_offset"], G.POLY_BBOX_JOIN_GOLDEN["quad_offset"])

    def test_quadtree_pip_golden(self, spark, small_points, small_polygons):
        got = ops.quadtree_point_in_polygon(
            small_points, small_polygons,
            P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        ).toPandas()
        np.testing.assert_array_equal(got["polygon_index"], G.QT_PIP_GOLDEN["polygon_index"])
        np.testing.assert_array_equal(got["point_index"], G.QT_PIP_GOLDEN["point_index"])

    def test_nearest_linestring_golden(self, spark, small_points, small_linestrings):
        got = ops.quadtree_point_to_nearest_linestring(
            small_points, small_linestrings, 2.0,
            P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        ).toPandas()
        np.testing.assert_array_equal(got["point_index"], G.NEAREST_GOLDEN_POINT_INDEX)
        np.testing.assert_array_equal(got["linestring_index"], G.NEAREST_GOLDEN_LINESTRING_INDEX)
        np.testing.assert_allclose(got["distance"], G.NEAREST_GOLDEN_DIST_F64, rtol=1e-12)


class TestFloat32OperatorParity:
    """f32 end-to-end at the SPARK operator layer (not just kernels):
    FloatType point columns + float32 geometry layers through the full
    quadtree pipeline, against the reference's f32 goldens
    (test_spatial_join.py parametrizes every operator over both
    dtypes, :216,:254)."""

    @pytest.fixture(scope="class")
    def f32_points(self, spark):
        from pyspark.sql.types import (
            FloatType,
            LongType,
            StructField,
            StructType,
        )

        pdf = pd.DataFrame(
            {
                "point_id": np.arange(71, dtype=np.int64),
                "x": np.asarray(G.SMALL_POINTS_X, dtype=np.float32),
                "y": np.asarray(G.SMALL_POINTS_Y, dtype=np.float32),
            }
        )
        schema = StructType(
            [
                StructField("point_id", LongType(), False),
                StructField("x", FloatType(), False),
                StructField("y", FloatType(), False),
            ]
        )
        return (
            spark.createDataFrame(pdf, schema=schema)
            .repartition(1)
            .withColumn("part_id", F.lit(0))
            .cache()
        )

    @pytest.fixture(scope="class")
    def f32_polygons(self):
        xy = np.empty(2 * len(G.SMALL_POLY_XS), dtype=np.float32)
        xy[::2] = np.asarray(G.SMALL_POLY_XS, dtype=np.float32)
        xy[1::2] = np.asarray(G.SMALL_POLY_YS, dtype=np.float32)
        return PolygonArrays.from_polygons_xy(xy, G.SMALL_RING_OFFSETS, G.SMALL_POLY_OFFSETS)

    @pytest.fixture(scope="class")
    def f32_linestrings(self):
        xy = np.empty(2 * len(G.SMALL_POLY_XS), dtype=np.float32)
        xy[::2] = np.asarray(G.SMALL_POLY_XS, dtype=np.float32)
        xy[1::2] = np.asarray(G.SMALL_POLY_YS, dtype=np.float32)
        return LinestringArrays.from_linestrings_xy(xy, G.SMALL_RING_OFFSETS)

    def test_layer_dtype_preserved(self, f32_polygons, f32_linestrings):
        assert f32_polygons.x.dtype == np.float32
        assert f32_linestrings.x.dtype == np.float32

    def test_quadtree_pip_golden_f32(self, spark, f32_points, f32_polygons):
        got = ops.quadtree_point_in_polygon(
            f32_points, f32_polygons,
            P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        ).toPandas()
        np.testing.assert_array_equal(got["polygon_index"], G.QT_PIP_GOLDEN["polygon_index"])
        np.testing.assert_array_equal(got["point_index"], G.QT_PIP_GOLDEN["point_index"])

    def test_nearest_linestring_golden_f32(self, spark, f32_points, f32_linestrings):
        got = ops.quadtree_point_to_nearest_linestring(
            f32_points, f32_linestrings, 2.0,
            P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        ).toPandas()
        np.testing.assert_array_equal(got["point_index"], G.NEAREST_GOLDEN_POINT_INDEX)
        np.testing.assert_array_equal(got["linestring_index"], G.NEAREST_GOLDEN_LINESTRING_INDEX)
        # f32 goldens embed CUDA FMA contraction; plain f32 NumPy
        # matches to 5e-5 (same bound as the kernel-level goldens)
        np.testing.assert_allclose(got["distance"], G.NEAREST_GOLDEN_DIST_F32, rtol=5e-5)
        # and the math genuinely ran in f32: the f64 goldens differ
        # from these beyond f32 resolution for at least some rows
        assert not np.allclose(got["distance"], G.NEAREST_GOLDEN_DIST_F64, rtol=1e-9)

    def test_brute_pip_f32(self, spark, f32_points, f32_polygons):
        got = (
            ops.point_in_polygon(f32_points, f32_polygons, result_prefix="p")
            .orderBy("point_id")
            .toPandas()
        )
        # golden point_index is in Morton-sorted space; map back
        from cuspatial_spark.kernels.quadtree import build_quadtree

        order, _ = build_quadtree(
            np.asarray(G.SMALL_POINTS_X), np.asarray(G.SMALL_POINTS_Y),
            P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        )
        expected = {
            (p, order[i])
            for p, i in zip(G.QT_PIP_GOLDEN["polygon_index"], G.QT_PIP_GOLDEN["point_index"])
        }
        got_pairs = {
            (j, r.point_id)
            for _, r in got.iterrows()
            for j in range(4)
            if r[f"p{j}"]
        }
        assert got_pairs == expected


class TestBruteForcePIP:
    def test_small_fixture(self, spark, small_points, small_polygons):
        got = (
            ops.point_in_polygon(small_points, small_polygons, result_prefix="p")
            .orderBy("point_id")
            .toPandas()
        )
        # cross-check against the quadtree golden pairs
        expected_pairs = set(
            zip(G.QT_PIP_GOLDEN["polygon_index"], G.QT_PIP_GOLDEN["point_index"])
        )
        # golden point_index is in Morton-sorted space; map back
        from cuspatial_spark.kernels.quadtree import build_quadtree

        order, _ = build_quadtree(
            np.asarray(G.SMALL_POINTS_X), np.asarray(G.SMALL_POINTS_Y),
            P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        )
        expected_orig = {(p, order[i]) for p, i in expected_pairs}
        got_pairs = {
            (j, r.point_id)
            for _, r in got.iterrows()
            for j in range(4)
            if r[f"p{j}"]
        }
        assert got_pairs == expected_orig


class TestTileJoinPlanShape:
    def test_jvm_refine_plan_is_shuffle_free(self, spark, small_polygons):
        """The 100-TB plan contract: scan -> codegen AOI filter and
        Morton keys -> ONE broadcast hash join with the band-clipped
        (tile, polygon_id, __segs) table -> ray-cast filter.  No
        shuffle of the points side, no Python node."""
        pdf = pd.DataFrame(
            {
                "point_id": np.arange(1000, dtype=np.int64),
                "x": np.random.default_rng(1).uniform(0, 8, 1000),
                "y": np.random.default_rng(2).uniform(0, 8, 1000),
            }
        )
        out = point_in_polygon_join(
            spark.createDataFrame(pdf), small_polygons,
            x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0,
            max_depth=10, tile_level=4, keep_columns=["point_id"],
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert "Python" not in plan and "InPandas" not in plan and "InArrow" not in plan
        # the one exchange is the table's broadcast; nothing
        # repartitions the point side
        assert plan.count("Exchange") == 1 and "BroadcastExchange" in plan, plan


class TestDistributedTileJoin:
    def test_matches_parity_pipeline(self, spark, small_polygons):
        # multi-partition points; result must equal the golden pair set
        pdf = pd.DataFrame(
            {
                "point_id": np.arange(71, dtype=np.int64),
                "x": np.asarray(G.SMALL_POINTS_X, dtype=np.float64),
                "y": np.asarray(G.SMALL_POINTS_Y, dtype=np.float64),
            }
        )
        pts = spark.createDataFrame(pdf).repartition(8)
        got = point_in_polygon_join(
            pts, small_polygons,
            x_min=P["x_min"], x_max=P["x_max"], y_min=P["y_min"], y_max=P["y_max"],
            max_depth=8, tile_level=3,
        ).toPandas()
        from cuspatial_spark.kernels.quadtree import build_quadtree

        order, _ = build_quadtree(
            np.asarray(G.SMALL_POINTS_X), np.asarray(G.SMALL_POINTS_Y),
            P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        )
        expected = {
            (p, order[i])
            for p, i in zip(G.QT_PIP_GOLDEN["polygon_index"], G.QT_PIP_GOLDEN["point_index"])
        }
        assert set(zip(got["polygon_id"], got["point_id"])) == expected

    def test_nearest_join(self, spark, small_linestrings):
        pdf = pd.DataFrame(
            {
                "point_id": np.arange(71, dtype=np.int64),
                "x": np.asarray(G.SMALL_POINTS_X, dtype=np.float64),
                "y": np.asarray(G.SMALL_POINTS_Y, dtype=np.float64),
            }
        )
        pts = spark.createDataFrame(pdf).repartition(8)
        got = (
            point_to_nearest_linestring_join(
                pts, small_linestrings, expansion_radius=2.0,
                x_min=P["x_min"], x_max=P["x_max"], y_min=P["y_min"], y_max=P["y_max"],
                max_depth=8, tile_level=2,
            )
            .orderBy("point_id")
            .toPandas()
        )
        # map golden (sorted-space point_index) back to original ids
        from cuspatial_spark.kernels.quadtree import build_quadtree

        order, _ = build_quadtree(
            np.asarray(G.SMALL_POINTS_X), np.asarray(G.SMALL_POINTS_Y),
            P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        )
        golden = pd.DataFrame(
            {
                "point_id": order[np.asarray(G.NEAREST_GOLDEN_POINT_INDEX)],
                "distance": G.NEAREST_GOLDEN_DIST_F64,
            }
        ).sort_values("point_id")
        assert len(got) == 71
        np.testing.assert_allclose(got["distance"], golden["distance"], rtol=1e-9)

    def test_edge_exact_forces_kernel_semantics(self, spark):
        """edge_exact=True pins the Arrow-kernel refine: a point lying
        exactly ON a polygon edge is deterministically excluded (the
        reference's ULP on-edge semantics)."""
        square = PolygonArrays([0, 1], [0, 5],
                               [0.0, 4.0, 4.0, 0.0, 0.0],
                               [0.0, 0.0, 4.0, 4.0, 0.0])
        pdf = pd.DataFrame({
            "point_id": [0, 1, 2],
            "x": [0.0, 2.0, 9.0],   # on left edge / inside / outside
            "y": [2.0, 2.0, 9.0],
        })
        pts = spark.createDataFrame(pdf)
        got = point_in_polygon_join(
            pts, square, x_min=0, x_max=10, y_min=0, y_max=10,
            max_depth=8, tile_level=2, edge_exact=True,
        ).toPandas()
        assert set(got["point_id"]) == {1}

    def test_trailing_empty_ring(self, spark):
        """A layer whose last ring is empty (no first vertex to pair
        with the ring's last): both refines find the same pair."""
        square = PolygonArrays([0, 2], [0, 5, 5],
                               [0.0, 4.0, 4.0, 0.0, 0.0],
                               [0.0, 0.0, 4.0, 4.0, 0.0])
        pts = spark.createDataFrame(pd.DataFrame({
            "point_id": [0, 1], "x": [2.0, 9.0], "y": [2.0, 9.0],
        }))
        for edge_exact in (False, True):
            got = point_in_polygon_join(
                pts, square, x_min=0, x_max=10, y_min=0, y_max=10,
                max_depth=8, tile_level=2, edge_exact=edge_exact,
            ).toPandas()
            assert list(zip(got["point_id"], got["polygon_id"])) == [(0, 0)]

    def test_nearest_join_non_finite_point_every_form(self, spark):
        """A point with a null coordinate (pandas NaN crosses Arrow as
        null) or an infinite one has no nearest linestring: the join
        drops it at a radius below one tile and at an AOI-wide one,
        with the columns in ``keep_columns`` order."""
        lines = LinestringArrays([0, 2, 4], [0.0, 8.0, 0.0, 8.0], [0.5, 0.5, 6.0, 6.0])
        pts = spark.createDataFrame(pd.DataFrame({
            "a": [0, 1, 2, 3], "b": [10, 11, 12, 13],
            "x": [1.0, np.nan, 5.0, 7.0], "y": [1.0, 2.0, 3.0, np.inf],
        }))
        aoi = dict(x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0, max_depth=8, tile_level=1)
        for keep in (None, ["b", "a"]):
            for radius in (1.0, 100.0):
                got = point_to_nearest_linestring_join(
                    pts, lines, radius, keep_columns=keep, **aoi
                ).toPandas()
                cols = keep or ["a", "b", "x", "y"]
                assert list(got.columns) == [*cols, "linestring_id", "distance"], radius
                got = got.sort_values("a")
                assert list(got["a"]) == [0, 2], radius
                assert list(got["b"]) == [10, 12], radius
                assert list(got["linestring_id"]) == [0, 0], radius
                assert list(got["distance"]) == [0.5, 2.5], radius

    def test_nearest_join_short_linestrings(self, spark):
        """A one-vertex linestring is a zero-length segment, scored at
        the distance to its vertex; a linestring with no vertex is never
        a candidate."""
        pts = spark.createDataFrame(pd.DataFrame({"a": [0], "x": [1.0], "y": [1.0]}))
        aoi = dict(x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0, max_depth=8, tile_level=2)
        one_vertex = LinestringArrays([0, 1, 3], [1.5, 6.0, 7.0], [1.0, 7.0, 7.0])
        no_vertex = LinestringArrays([0, 0, 2], [6.0, 7.0], [7.0, 7.0])
        for radius in (1.0, 100.0):
            got = point_to_nearest_linestring_join(pts, one_vertex, radius, **aoi).collect()
            assert [(r.linestring_id, r.distance) for r in got] == [(0, 0.5)], radius
        got = point_to_nearest_linestring_join(pts, no_vertex, 100.0, **aoi).collect()
        assert [(r.linestring_id, r.distance) for r in got] == [(1, float(np.sqrt(61.0)))]

    def test_nearest_join_drops_out_of_aoi_points(self, spark):
        """A point outside the AOI has no tile: it is dropped, not
        scored against the lines covering the grid's top-right tile."""
        pts = spark.createDataFrame(pd.DataFrame({"a": [0, 1], "x": [-1.0, 1.0], "y": [-1.0, 1.0]}))
        lines = LinestringArrays([0, 2, 4], [7.0, 7.5, 0.5, 1.5], [7.5, 7.5, 0.5, 0.5])
        got = point_to_nearest_linestring_join(
            pts, lines, 1.0, x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0,
            max_depth=8, tile_level=2,
        ).collect()
        assert [(r.a, r.linestring_id, r.distance) for r in got] == [(1, 1, 0.5)]

    def test_nearest_join_stops_at_the_first_full_cover(self, spark, monkeypatch):
        """At a radius far past the AOI, the driver stops building
        covers at the first full one (at most tile_level + 2 covers for
        lines inside the AOI, not one per doubling up to the radius),
        and the rows still equal the brute force, for layers inside and
        partly outside the AOI."""
        from cuspatial_spark.plans import tile_join

        aoi = dict(x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0, max_depth=8)
        tile_level = 3
        rng = np.random.default_rng(41)
        counts = [2, 3, 1, 0, 4, 2]
        offsets = np.r_[0, np.cumsum(counts)]
        inside = LinestringArrays(offsets, rng.uniform(0, 8, 12), rng.uniform(0, 8, 12),
                                  ids=np.array([7, 3, 9, 1, 5, 2]))
        partly_outside = LinestringArrays(offsets, rng.uniform(-4, 12, 12),
                                          rng.uniform(-4, 12, 12))
        n = 150
        pdf = pd.DataFrame({"a": np.arange(n, dtype=np.int64), "b": [f"p{i}" for i in range(n)],
                            "x": rng.uniform(-1, 9, n), "y": rng.uniform(-1, 9, n)})
        pts = spark.createDataFrame(pdf, "a long, b string, x double, y double")

        built = []
        real = tile_join.tiles_covering_bboxes
        monkeypatch.setattr(tile_join, "tiles_covering_bboxes",
                            lambda *a: built.append(a) or real(*a))
        point_to_nearest_linestring_join(pts, inside, 1000.0, tile_level=tile_level, **aoi)
        monkeypatch.undo()
        # 11 radii lead up to 1000; the fourth (about 7.9) is full
        assert len(built) <= tile_level + 2, len(built)

        for lines in (inside, partly_outside):
            for radius in (20.0, 1000.0, 1e6):
                got = point_to_nearest_linestring_join(
                    pts.repartition(2), lines, radius, tile_level=tile_level, **aoi
                )
                want = _nearest_oracle(pdf, lines, radius, tile_level, **aoi)
                rows = [(r.a, r.b, r.x, r.y, r.linestring_id, r.distance)
                        for r in want.itertuples()]
                assert sorted(map(tuple, got.collect())) == sorted(rows), radius

    def test_nearest_join_matches_bruteforce_oracle(self, spark):
        """Differential test against a plain-NumPy oracle: candidates
        are the lines whose bbox grown by the radius covers the point's
        clipped grid tile; the answer is the min (distance, id) over
        them, or no row.  Radii below one tile, of several tiles and
        AOI-wide; ties from snapped coordinates and duplicated lines;
        unsorted ids; reordered keep_columns; non-finite and out-of-AOI
        points; lines of zero and one vertex."""
        aoi = dict(x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0, max_depth=8)

        @given(_nearest_case())
        @settings(max_examples=25, deadline=None)
        def check(case):
            lines, pdf, radius, tile_level, keep = case
            pts = spark.createDataFrame(pdf, "a long, b string, x double, y double")
            got = point_to_nearest_linestring_join(
                pts.repartition(2), lines, radius, keep_columns=keep,
                tile_level=tile_level, **aoi,
            )
            cols = keep or ["a", "b", "x", "y"]
            assert got.columns == [*cols, "linestring_id", "distance"]
            want = _nearest_oracle(pdf, lines, radius, tile_level, **aoi)
            rows = [
                (*(getattr(r, c) for c in cols), r.linestring_id, r.distance)
                for r in want.itertuples()
            ]
            assert sorted(map(tuple, got.collect())) == sorted(rows)

        check()


def _nearest_oracle(pdf, lines, radius, tile_level, x_min, x_max, y_min, y_max, max_depth):
    """Brute-force nearest linestring per point, one point at a time."""
    scale = max(x_max - x_min, y_max - y_min) / ((1 << max_depth) + 2)
    tile = scale * (1 << (max_depth - tile_level))
    n_cells = 1 << tile_level

    def cell(v, lo):
        return np.clip(np.floor((v - lo) / tile), 0, n_cells - 1)

    rows = []
    for p in pdf.itertuples():
        if not (x_min <= p.x <= x_max and y_min <= p.y <= y_max):
            continue  # also drops NaN and inf
        best = None
        for li in range(len(lines)):
            s, e = lines.part_offsets[li], lines.part_offsets[li + 1]
            if e == s:
                continue
            lx, ly = lines.x[s:e], lines.y[s:e]
            cx, cy = cell(p.x, x_min), cell(p.y, y_min)
            if not (cell(lx.min() - radius, x_min) <= cx <= cell(lx.max() + radius, x_min)
                    and cell(ly.min() - radius, y_min) <= cy <= cell(ly.max() + radius, y_min)):
                continue
            if e - s == 1:  # a lone vertex is a zero-length segment
                lx, ly = np.repeat(lx, 2), np.repeat(ly, 2)
            ax, ay, bx, by = lx[:-1], ly[:-1], lx[1:], ly[1:]
            abx, aby = bx - ax, by - ay
            l2 = abx * abx + aby * aby
            r = (p.x - ax) * abx + (p.y - ay) * aby
            dac = (p.x - ax) ** 2 + (p.y - ay) ** 2
            dbc = (p.x - bx) ** 2 + (p.y - by) ** 2
            t = r / np.where(l2 == 0, 1.0, l2)
            qx, qy = p.x - (ax + t * abx), p.y - (ay + t * aby)
            d2 = np.where(l2 == 0, dac, np.where((r <= 0) | (r >= l2),
                                                 np.minimum(dac, dbc), qx * qx + qy * qy))
            cand = (float(np.sqrt(d2.min())), int(lines.ids[li]))
            best = cand if best is None else min(best, cand)
        if best is not None:
            rows.append({**p._asdict(), "distance": best[0], "linestring_id": best[1]})
    return pd.DataFrame(rows, columns=[*pdf.columns, "linestring_id", "distance"])


@st.composite
def _nearest_case(draw):
    """A random layer of 1-6 lines of 0-5 vertices (unsorted ids, one
    line maybe duplicated under a second id, coordinates maybe snapped
    to a half-unit grid so distances tie and points sit on tile edges),
    points partly outside the AOI or non-finite, a radius and a tile
    level."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    snap = draw(st.booleans())

    def coords(n):
        v = rng.uniform(-1.0, 9.0, n)
        return np.round(v * 2) / 2 if snap else v

    counts = [draw(st.integers(0, 5)) for _ in range(draw(st.integers(1, 6)))]
    xs, ys = coords(sum(counts)), coords(sum(counts))
    if draw(st.booleans()) and counts[0]:
        counts.append(counts[0])
        xs, ys = np.r_[xs, xs[: counts[0]]], np.r_[ys, ys[: counts[0]]]
    lines = LinestringArrays(
        np.r_[0, np.cumsum(counts)], xs, ys, ids=rng.permutation(100)[: len(counts)]
    )
    n = draw(st.integers(1, 60))
    x, y = coords(n), coords(n)
    bad = rng.random(n) < 0.1
    x[bad] = rng.choice([np.nan, np.inf, -np.inf], int(bad.sum()))
    pdf = pd.DataFrame(
        {"a": np.arange(n, dtype=np.int64), "b": [f"p{i}" for i in range(n)], "x": x, "y": y}
    )
    radius = draw(st.sampled_from([0.1, 2.5, 20.0]))
    return lines, pdf, radius, draw(st.integers(1, 3)), draw(st.sampled_from([None, ["b", "a"]]))


class TestExpressions:
    def test_spatial_window(self, spark):
        pdf = pd.DataFrame({"x": [0.0, 1.0, 2.0, 3.0], "y": [0.0, 1.0, 2.0, 3.0]})
        df = spark.createDataFrame(pdf)
        got = ops.points_in_spatial_window(df, 0, 3, 0, 3).toPandas()
        # strict bounds: (0,0) and (3,3) excluded
        assert sorted(got["x"]) == [1.0, 2.0]

    def test_haversine_fixture(self, spark):
        # reference doctest fixture (core/spatial/distance.py:118-143)
        pdf = pd.DataFrame(
            {
                "id": [0, 1, 2, 3],
                "lon1": [0.0, 1.0, 0.0, 1.0],
                "lat1": [0.0, 0.0, 1.0, 1.0],
                "lon2": [2.0] * 4,
                "lat2": [2.0] * 4,
            }
        )
        got = (
            ops.haversine_distance(
                spark.createDataFrame(pdf), "lon1", "lat1", "lon2", "lat2"
            )
            .orderBy("id")
            .toPandas()
        )
        np.testing.assert_allclose(
            got["haversine_km"],
            [314.474805, 248.629315, 248.568719, 157.225432],
            rtol=1e-8,
        )

    def test_morton_key_expr_matches_kernel(self, spark):
        from cuspatial_spark.plans import assign_tiles
        from cuspatial_spark.kernels.zorder import point_keys

        rng = np.random.default_rng(7)
        pdf = pd.DataFrame({"x": rng.uniform(0, 8, 500), "y": rng.uniform(0, 8, 500)})
        df = assign_tiles(
            spark.createDataFrame(pdf), "x", "y", 0, 8, 0, 8, 1.0, 3, 2
        )
        got = df.toPandas()
        exp = point_keys(got["x"].to_numpy(), got["y"].to_numpy(), 0, 8, 0, 8, 1.0, 3)
        np.testing.assert_array_equal(got["morton_key"], exp.astype(np.int64))
        np.testing.assert_array_equal(got["tile"], exp.astype(np.int64) >> 2)

    @pytest.mark.parametrize("max_depth", [0, 17])
    def test_morton_key_rejects_depth_outside_16_bits(self, spark, max_depth):
        """Keys hold 16 bits per coordinate.  At max_depth 17 the high
        bit of a cell was dropped ((0.9, 0.1) on a unit AOI got top
        quadrant 0 instead of 1), so both key builders raise."""
        from cuspatial_spark.functions import morton_key_expr
        from cuspatial_spark.kernels.zorder import point_keys

        scale = 1.0 / ((1 << max_depth) + 2)
        with pytest.raises(ValueError, match="max_depth"):
            morton_key_expr("x", "y", 0, 1, 0, 1, scale, max_depth)
        with pytest.raises(ValueError, match="max_depth"):
            point_keys(np.array([0.9]), np.array([0.1]), 0, 1, 0, 1, scale, max_depth)

    @pytest.mark.parametrize("max_depth", [3, 12, 16])
    def test_morton_key_expr_edge_points(self, spark, max_depth):
        """Out-of-AOI, NaN, +-inf and boundary points: the sentinel for
        anything Spark does not order inside the inclusive AOI (NaN is
        above +inf), and the clamped grid cell for x == x_max or
        y == y_max."""
        from cuspatial_spark.functions import morton_key_expr
        from cuspatial_spark.kernels.zorder import z_order

        nan, inf = np.nan, np.inf
        x = np.array([9.0, -1.0, 4.0, nan, 4.0, inf, -inf, 4.0, 4.0, 8.0, 0.0, 8.0, 3.0, -0.0])
        y = np.array([4.0, 4.0, 9.0, 4.0, nan, 4.0, 4.0, inf, -inf, 8.0, 8.0, 0.0, 8.0, 0.0])
        scale = 8.0 / ((1 << max_depth) + 2)
        # from Python floats: a pandas NaN would arrive as null
        df = spark.createDataFrame([(float(a), float(b)) for a, b in zip(x, y)], "x double, y double")
        got = df.select(
            morton_key_expr("x", "y", 0.0, 8.0, 0.0, 8.0, scale, max_depth).alias("k")
        ).toPandas()["k"].to_numpy()
        with np.errstate(invalid="ignore"):
            inside = (x >= 0) & (x <= 8) & (y >= 0) & (y <= 8)
            cmax = (1 << max_depth) - 1
            cell = lambda v: np.minimum(np.floor(np.where(inside, v, 0) / scale), cmax)
        exp = np.where(
            inside,
            z_order(cell(x).astype(np.uint16), cell(y).astype(np.uint16)).astype(np.int64),
            (1 << (2 * max_depth)) - 1,
        )
        np.testing.assert_array_equal(got, exp)
        assert (got[:9] == (1 << (2 * max_depth)) - 1).all()

    @pytest.mark.parametrize("max_depth", [3, 12])
    def test_morton_key_expr_null_coordinates(self, spark, max_depth):
        """A null x, a null y or both get the sentinel, whether or not
        the other coordinate lies inside the AOI."""
        from cuspatial_spark.functions import morton_key_expr

        rows = [(None, 4.0), (4.0, None), (None, None), (None, 9.0), (9.0, None)]
        df = spark.createDataFrame(rows, "x double, y double")
        scale = 8.0 / ((1 << max_depth) + 2)
        got = [
            r.k for r in df.select(
                morton_key_expr("x", "y", 0.0, 8.0, 0.0, 8.0, scale, max_depth).alias("k")
            ).collect()
        ]
        assert got == [(1 << (2 * max_depth)) - 1] * len(rows)


class TestTrajectory:
    def test_distances_and_speeds_fixture(self, spark):
        # reference doctest (core/trajectory.py:196-212)
        pdf = pd.DataFrame(
            {
                "object_id": [0, 1, 0, 1],
                "x": [0.0, 0.0, 1.0, 1.0],
                "y": [0.0, 0.0, 1.0, 1.0],
                "timestamp": pd.to_datetime([0, 0, 10000, 10000], unit="ms"),
            }
        )
        got = (
            ops.trajectory_distances_and_speeds(spark.createDataFrame(pdf))
            .orderBy("object_id")
            .toPandas()
        )
        np.testing.assert_allclose(got["distance"], [1414.213562, 1414.213562], rtol=1e-9)
        np.testing.assert_allclose(got["speed"], [141.421356, 141.421356], rtol=1e-8)

    def test_summary_fuses_bbox_and_speeds(self, spark):
        rng = np.random.default_rng(11)
        pdf = pd.DataFrame(
            {
                "object_id": rng.integers(0, 20, 400),
                "x": rng.uniform(0, 8, 400),
                "y": rng.uniform(0, 8, 400),
                "timestamp": pd.to_datetime(
                    rng.integers(0, 10**7, 400), unit="ms"
                ),
            }
        )
        df = spark.createDataFrame(pdf)
        got = ops.trajectory_summary(df).orderBy("object_id").toPandas()
        boxes = ops.trajectory_bounding_boxes(
            df.withColumnRenamed("timestamp", "ts"), x="x", y="y"
        ).orderBy("object_id").toPandas()
        speeds = (
            ops.trajectory_distances_and_speeds(df).orderBy("object_id").toPandas()
        )
        for c in ("minx", "miny", "maxx", "maxy"):
            np.testing.assert_allclose(got[c], boxes[c])
        np.testing.assert_allclose(got["distance"], speeds["distance"], rtol=1e-12)
        np.testing.assert_allclose(got["speed"], speeds["speed"], rtol=1e-12)
        # the whole summary rides ONE object-id shuffle
        plan = (
            ops.trajectory_summary(df)._jdf.queryExecution().executedPlan().toString()
        )
        import re

        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


class TestHausdorffSpark:
    def test_values(self, spark):
        pdf = pd.DataFrame(
            {
                "space_id": [0] * 5 + [1] * 4 + [2] * 3,
                "x": [0, 1, 2, 3, 1, 3, 5, 6, 5, 4, 7, 4],
                "y": [1, 2, 3, 5, 7, 0, 2, 3, 6, 1, 3, 6],
            }
        )
        got = (
            ops.directed_hausdorff_distance(spark.createDataFrame(pdf), space="space_id")
            .orderBy("space_i", "space_j")
            .toPandas()
        )
        m = got["distance"].to_numpy().reshape(3, 3)
        expected = np.array(
            [
                [0.000000, 4.123106, 4.000000],
                [3.605551, 0.000000, 1.414214],
                [4.472136, 1.414214, 0.000000],
            ]
        )
        np.testing.assert_allclose(m, expected, atol=1e-6)


class TestDeriveTrajectories:
    def test_sorted_objects_and_offsets(self, spark):
        # reference doctest shape (core/trajectory.py:44-61)
        pdf = pd.DataFrame(
            {
                "object_id": [1, 0, 1, 0],
                "x": [1.0, 0.0, 3.0, 2.0],
                "y": [1.0, 0.0, 3.0, 2.0],
                "timestamp": pd.to_datetime([1, 0, 3, 2], unit="ms"),
            }
        )
        objects, offsets = ops.derive_trajectories(spark.createDataFrame(pdf))
        got = objects.toPandas()
        assert list(got["object_id"]) == [0, 0, 1, 1]
        assert list(got["x"]) == [0.0, 2.0, 1.0, 3.0]
        off = offsets.toPandas()
        assert list(off["object_id"]) == [0, 1]
        assert list(off["offset"]) == [0, 2]


class TestDistanceDispatcher:
    def test_point_point_and_polygon(self, spark, small_polygons):
        from cuspatial_spark.operators.dispatch import distance

        pdf = pd.DataFrame(
            {"x": [0.0], "y": [0.0], "x2": [3.0], "y2": [4.0]}
        )
        got = distance(spark.createDataFrame(pdf), "point", "point").toPandas()
        np.testing.assert_allclose(got["distance"], [5.0])

        pdf2 = pd.DataFrame({"x": [0.0], "y": [0.0], "polygon_index": [0]})
        got2 = distance(
            spark.createDataFrame(pdf2), "point", "polygon", rhs_layer=small_polygons
        ).toPandas()
        assert got2["distance"].iloc[0] > 0

        with pytest.raises(NotImplementedError):
            distance(spark.createDataFrame(pdf), "point", "raster")


class TestGlobalQuadtree:
    def test_matches_golden_multi_partition(self, spark):
        from cuspatial_spark.operators.indexing import quadtree_on_points_global

        pdf = pd.DataFrame(
            {
                "x": np.asarray(G.SMALL_POINTS_X, dtype=np.float64),
                "y": np.asarray(G.SMALL_POINTS_Y, dtype=np.float64),
            }
        )
        pts = spark.createDataFrame(pdf).repartition(8)  # distributed input
        got = quadtree_on_points_global(
            pts, P["x_min"], P["x_max"], P["y_min"], P["y_max"],
            P["scale"], P["max_depth"], P["max_size"],
        )
        g = G.QUADTREE_GOLDEN
        np.testing.assert_array_equal(got["key"], g["key"])
        np.testing.assert_array_equal(got["level"], g["level"])
        np.testing.assert_array_equal(got["is_internal_node"], np.array(g["is_internal_node"], bool))
        np.testing.assert_array_equal(got["length"], g["length"])
        np.testing.assert_array_equal(got["offset"], g["offset"])

    def test_matches_kernel_on_random(self, spark):
        from cuspatial_spark.kernels.quadtree import build_quadtree
        from cuspatial_spark.operators.indexing import quadtree_on_points_global

        rng = np.random.default_rng(33)
        pdf = pd.DataFrame({"x": rng.uniform(0, 8, 5000), "y": rng.uniform(0, 8, 5000)})
        depth, msize, scale = 5, 60, 8 / (1 << 5)
        got = quadtree_on_points_global(
            spark.createDataFrame(pdf).repartition(16), 0, 8, 0, 8, scale, depth, msize
        )
        _, qt = build_quadtree(pdf["x"].to_numpy(), pdf["y"].to_numpy(), 0, 8, 0, 8, scale, depth, msize)
        np.testing.assert_array_equal(got["key"], qt.key)
        np.testing.assert_array_equal(got["level"], qt.level)
        np.testing.assert_array_equal(got["length"], qt.length)
        np.testing.assert_array_equal(got["offset"], qt.offset)

    def test_depth_guard_clamps_deep_builds(self, spark):
        """max_depth 15 over scattered points would collect ~n_points
        cells; the guard must clamp to a level whose occupied-cell
        count fits max_driver_cells and still build a valid tree."""
        import warnings

        from cuspatial_spark.operators.indexing import quadtree_on_points_global

        rng = np.random.default_rng(34)
        n = 20000
        pdf = pd.DataFrame({"x": rng.uniform(0, 8, n), "y": rng.uniform(0, 8, n)})
        depth = 15
        scale = 8 / ((1 << depth) + 2)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            got = quadtree_on_points_global(
                spark.createDataFrame(pdf).repartition(8),
                0, 8, 0, 8, scale, depth, 100,
                max_driver_cells=2000,
            )
            assert any("clamping build to depth" in str(x.message) for x in w)
        # structural validity: leaf lengths partition the point count
        # (internal-node length counts children, reference semantics)
        leaves = got[~got["is_internal_node"]]
        assert leaves["length"].sum() == n
        # clamped depth must be < requested and cells bounded
        assert got["level"].max() < depth - 1
        assert len(got) <= 4 * 2000
