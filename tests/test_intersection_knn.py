"""Tests: linestring intersection geometry output (#21), touches /
overlaps predicates, and the bounded-radius kNN join."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cuspatial_spark.geometry import LinestringArrays
from cuspatial_spark.kernels.intersection import pairwise_linestring_intersection as kint


def _lines(coords_list):
    xy, offsets = [], [0]
    for coords in coords_list:
        for c in coords:
            xy.extend(c)
        offsets.append(offsets[-1] + len(coords))
    arr = np.asarray(xy, dtype=np.float64)
    return LinestringArrays(np.asarray(offsets), arr[::2].copy(), arr[1::2].copy())


class TestIntersectionKernel:
    def test_crossing_point(self):
        a = _lines([[(0, 0), (2, 2)]])
        b = _lines([[(0, 2), (2, 0)]])
        pair, kind, coords, lseg, rseg = kint(
            [0], [0], a.part_offsets, a.x, a.y, b.part_offsets, b.x, b.y
        )
        assert list(kind) == [0]
        np.testing.assert_allclose(coords[0], [1.0, 1.0])
        assert lseg[0] == 0 and rseg[0] == 0

    def test_collinear_overlap(self):
        a = _lines([[(0, 0), (3, 0)]])
        b = _lines([[(1, 0), (5, 0)]])
        pair, kind, coords, _, _ = kint(
            [0], [0], a.part_offsets, a.x, a.y, b.part_offsets, b.x, b.y
        )
        assert list(kind) == [1]
        np.testing.assert_allclose(coords[0], [1.0, 0.0, 3.0, 0.0])

    def test_point_on_overlap_deduplicated(self):
        # L-shaped lhs: overlap along x-axis AND a crossing at a point
        # on that overlap must be deduplicated
        a = _lines([[(0, 0), (3, 0), (3, 3)]])
        b = _lines([[(1, 0), (5, 0)]])
        pair, kind, coords, _, _ = kint(
            [0], [0], a.part_offsets, a.x, a.y, b.part_offsets, b.x, b.y
        )
        # expect ONLY the overlap segment; the (3,0) corner point lies on it
        assert list(kind) == [1]

    def test_collinear_endpoint_touch_is_point_and_symmetric(self):
        # Regression (round-2 verdict #1): collinear segments touching
        # at one endpoint — a=(0,0)->(1.5,0), b=(4,0)->(1.5,0) — must
        # classify as a POINT in BOTH operand orders, never a spurious
        # degenerate overlap segment.  Root cause was t1 computed as
        # t0 + (s.r)/rr (accumulated rounding); now t1 is an
        # independent projection of d onto r.
        a = _lines([[(0.0, 0.0), (1.5, 0.0)]])
        b = _lines([[(4.0, 0.0), (1.5, 0.0)]])
        for lhs, rhs in [(a, b), (b, a)]:
            pair, kind, coords, _, _ = kint(
                [0], [0],
                lhs.part_offsets, lhs.x, lhs.y,
                rhs.part_offsets, rhs.x, rhs.y,
            )
            assert list(kind) == [0], f"expected single point, got kinds {list(kind)}"
            np.testing.assert_allclose(coords[0], [1.5, 0.0])

    def test_multisegment_chain_vectorized_matches(self):
        # A chain crossing another chain several times exercises the
        # offset-flattened candidate enumeration (lseg/rseg recovery).
        a = _lines([[(0, 0), (4, 0), (4, 4), (0, 4)]])  # 3 segments
        b = _lines([[(1, -1), (1, 5), (3, 5), (3, -1)]])  # 3 segments
        pair, kind, coords, lseg, rseg = kint(
            [0], [0], a.part_offsets, a.x, a.y, b.part_offsets, b.x, b.y
        )
        got = sorted((tuple(c), int(l), int(r)) for c, l, r in zip(coords, lseg, rseg))
        assert list(kind) == [0, 0, 0, 0]
        assert got == [
            ((1.0, 0.0), 0, 0),
            ((1.0, 4.0), 2, 0),
            ((3.0, 0.0), 0, 2),
            ((3.0, 4.0), 2, 2),
        ]

    def test_disjoint(self):
        a = _lines([[(0, 0), (1, 0)]])
        b = _lines([[(0, 5), (1, 5)]])
        pair, kind, coords, _, _ = kint(
            [0], [0], a.part_offsets, a.x, a.y, b.part_offsets, b.x, b.y
        )
        assert len(pair) == 0


class TestIntersectionOperator:
    def test_exploded_output(self, spark):
        from cuspatial_spark.operators.intersection import pairwise_linestring_intersection

        a = _lines([[(0, 0), (2, 2)], [(0, 0), (1, 0)]])
        b = _lines([[(0, 2), (2, 0)], [(0, 5), (1, 5)]])
        df = spark.createDataFrame(
            pd.DataFrame({"pair": [0, 1], "lhs_index": [0, 1], "rhs_index": [0, 1]})
        )
        got = pairwise_linestring_intersection(df, a, b).toPandas()
        assert len(got) == 1  # only pair 0 intersects
        assert got["pair"].iloc[0] == 0
        np.testing.assert_allclose(got["coords"].iloc[0], [1.0, 1.0])

    def test_touches_and_overlaps(self, spark):
        from cuspatial_spark.operators.intersection import (
            linestring_overlaps_linestring,
            linestring_touches_linestring,
        )

        lhs = _lines([
            [(0, 0), (1, 1)],   # touches at rhs endpoint
            [(0, 0), (3, 0)],   # partial collinear overlap
            [(0, 0), (2, 2)],   # proper crossing (interior)
        ])
        rhs = _lines([
            [(1, 1), (2, 0)],
            [(1, 0), (5, 0)],
            [(0, 2), (2, 0)],
        ])
        df = spark.createDataFrame(
            pd.DataFrame({"id": [0, 1, 2], "lhs_index": [0, 1, 2], "rhs_index": [0, 1, 2]})
        )
        gt = linestring_touches_linestring(df, lhs, rhs).orderBy("id").toPandas()
        go = linestring_overlaps_linestring(df, lhs, rhs).orderBy("id").toPandas()
        assert list(gt["touches"]) == [True, False, False]
        assert list(go["overlaps"]) == [False, True, False]


class TestKnnJoin:
    def test_matches_numpy_bruteforce(self, spark):
        from cuspatial_spark.plans.knn_join import knn_join

        rng = np.random.default_rng(21)
        n = 500
        pdf = pd.DataFrame(
            {"point_id": np.arange(n), "x": rng.uniform(0, 8, n), "y": rng.uniform(0, 8, n)}
        )
        data = spark.createDataFrame(pdf).repartition(8)
        queries = spark.createDataFrame(pdf.head(20))
        radius = 1.0
        got = (
            knn_join(data, queries, k=3, radius=radius,
                     x_min=0, x_max=8, y_min=0, y_max=8, max_depth=10)
            .orderBy("query_id", "rank")
            .toPandas()
        )
        # numpy oracle
        xs, ys = pdf["x"].to_numpy(), pdf["y"].to_numpy()
        for qid in range(20):
            d = np.hypot(xs - xs[qid], ys - ys[qid])
            d[qid] = np.inf
            order = np.lexsort((np.arange(n), d))
            expect = [int(i) for i in order if d[i] <= radius][:3]
            got_q = got[got["query_id"] == qid]["neighbor_id"].tolist()
            assert got_q == expect, f"query {qid}: {got_q} vs {expect}"

    def test_radius_contract(self, spark):
        from cuspatial_spark.plans.knn_join import knn_join

        pdf = pd.DataFrame({"point_id": [0, 1], "x": [0.5, 7.5], "y": [0.5, 7.5]})
        data = spark.createDataFrame(pdf)
        got = knn_join(data, data, k=5, radius=0.5,
                       x_min=0, x_max=8, y_min=0, y_max=8).toPandas()
        assert len(got) == 0  # nothing within radius

    def test_out_of_aoi_points_match_nothing(self, spark):
        """Points outside the AOI join nothing, as in the tile joins:
        two of them side by side beyond the top-right corner would
        otherwise share the sentinel key's tile and match."""
        from cuspatial_spark.plans.knn_join import knn_join

        pdf = pd.DataFrame({
            "point_id": [0, 1, 2, 3],
            "x": [9.0, 9.1, 7.8, 7.9],
            "y": [9.0, 9.1, 7.8, 7.9],
        })
        data = spark.createDataFrame(pdf)
        got = knn_join(data, data, k=5, radius=0.5,
                       x_min=0, x_max=8, y_min=0, y_max=8, max_depth=10)
        pairs = sorted((r.query_id, r.neighbor_id) for r in got.collect())
        assert pairs == [(2, 3), (3, 2)]
