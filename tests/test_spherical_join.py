"""haversine_radius_join: 3D chord-grid candidate completeness vs
brute force, pole/date-line behavior, plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuspatial_spark.plans import haversine_radius_join


def _hav_np(lon1, lat1, lon2, lat2, R=6371.0):
    ax, ay, bx, by = map(np.radians, (lon1, lat1, lon2, lat2))
    x, y = (bx - ax) / 2, (by - ay) / 2
    return 2 * R * np.arcsin(
        np.sqrt(np.sin(y) ** 2 + np.sin(x) ** 2 * np.cos(ay) * np.cos(by))
    )


def _frame(spark, ids, lon, lat, id_col):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({id_col: ids, "lon": lon, "lat": lat})
    )


class TestCorrectness:
    def test_matches_brute_force(self, spark):
        rng = np.random.default_rng(13)
        n, m, r = 800, 60, 700.0
        pl_lon = rng.uniform(-180, 180, n)
        # uniform on the sphere so poles are exercised
        pl_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        po_lon = rng.uniform(-180, 180, m)
        po_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, m)))
        left = _frame(spark, np.arange(n), pl_lon, pl_lat, "page_id")
        right = _frame(spark, np.arange(m), po_lon, po_lat, "poi_id")

        got = (
            haversine_radius_join(
                left, right, r, keep_left=("page_id",), keep_right=("poi_id",)
            )
            .orderBy("page_id", "poi_id")
            .toPandas()
        )
        d = _hav_np(pl_lon[:, None], pl_lat[:, None], po_lon[None, :], po_lat[None, :])
        ii, jj = np.nonzero(d <= r)
        assert list(zip(got.page_id, got.poi_id)) == list(zip(ii, jj))
        np.testing.assert_allclose(got.distance_km, d[ii, jj], rtol=1e-12)

    def test_dateline_pair_found(self, spark):
        left = _frame(spark, [0], [179.9], [10.0], "page_id")
        right = _frame(spark, [0], [-179.9], [10.0], "poi_id")
        got = haversine_radius_join(
            left, right, 50.0, keep_left=("page_id",), keep_right=("poi_id",)
        ).toPandas()
        assert len(got) == 1 and got.distance_km[0] < 25.0

    def test_pole_pair_found(self, spark):
        # same distance from the pole, opposite meridians
        left = _frame(spark, [0], [0.0], [89.8], "page_id")
        right = _frame(spark, [0], [180.0], [89.8], "poi_id")
        got = haversine_radius_join(
            left, right, 60.0, keep_left=("page_id",), keep_right=("poi_id",)
        ).toPandas()
        assert len(got) == 1

    def test_name_collision_prefixed(self, spark):
        left = _frame(spark, [0], [0.0], [0.0], "id")
        right = _frame(spark, [7], [0.1], [0.1], "id")
        got = haversine_radius_join(
            left, right, 100.0, keep_left=("id",), keep_right=("id",)
        ).toPandas()
        assert list(got.columns) == ["id", "r_id", "distance_km"]
        assert (got.id[0], got.r_id[0]) == (0, 7)

    def test_bad_radius_raises(self, spark):
        left = _frame(spark, [0], [0.0], [0.0], "a")
        with pytest.raises(ValueError):
            haversine_radius_join(left, left, 0.0)


class TestPlan:
    def test_broadcast_equijoin_no_crossjoin(self, spark):
        rng = np.random.default_rng(1)
        left = _frame(spark, np.arange(100), rng.uniform(-180, 180, 100),
                      rng.uniform(-60, 60, 100), "page_id")
        right = _frame(spark, np.arange(5), rng.uniform(-180, 180, 5),
                       rng.uniform(-60, 60, 5), "poi_id")
        plan = (
            haversine_radius_join(
                left, right, 300.0, keep_left=("page_id",), keep_right=("poi_id",)
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
        assert "Python" not in plan and "MapInPandas" not in plan


class TestGeodesicKnn:
    def test_matches_brute_force_multi_round(self, spark):
        from cuspatial_spark.plans import geodesic_knn_join

        rng = np.random.default_rng(5)
        nq, nd, k = 120, 40, 5
        q_lon = rng.uniform(-180, 180, nq)
        q_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, nq)))
        d_lon = rng.uniform(-180, 180, nd)
        d_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, nd)))
        queries = _frame(spark, np.arange(nq), q_lon, q_lat, "query_id")
        data = _frame(spark, np.arange(nd), d_lon, d_lat, "poi_id")

        # initial radius small enough that several doubling rounds run
        # (dense_threshold=0 forces the progressive path — the dense
        # small-data fast path is covered by TestDenseKnn)
        got = (
            geodesic_knn_join(
                data, queries, k=k, id_col="poi_id", query_id_col="query_id",
                initial_radius_km=300.0, dense_threshold=0,
            )
            .orderBy("query_id", "rank")
            .toPandas()
        )
        d = _hav_np(d_lon[None, :], d_lat[None, :], q_lon[:, None], q_lat[:, None])
        # self-id exclusion: query_id == poi_id pairs dropped
        for qi in range(min(nq, nd)):
            d[qi, qi] = np.inf
        order = np.lexsort((np.arange(nd)[None, :].repeat(nq, 0), d), axis=1)
        expect = order[:, :k]
        got_n = got.neighbor_id.to_numpy().reshape(nq, k)
        np.testing.assert_array_equal(got_n, expect)
        np.testing.assert_allclose(
            got.distance_km.to_numpy().reshape(nq, k),
            np.take_along_axis(d, expect, axis=1),
            rtol=1e-12,
        )
        assert list(got["rank"]) == list(range(1, k + 1)) * nq

    def test_starved_queries_get_all_available(self, spark):
        from cuspatial_spark.plans import geodesic_knn_join

        queries = _frame(spark, [100, 101], [0.0, 90.0], [0.0, 45.0], "query_id")
        data = _frame(spark, [0, 1, 2], [10.0, -120.0, 60.0], [5.0, -30.0, 80.0], "poi_id")
        got = geodesic_knn_join(
            data, queries, k=5, id_col="poi_id", query_id_col="query_id",
            initial_radius_km=500.0,
        ).toPandas()
        # only 3 data points exist: each query resolves with 3 rows
        assert len(got) == 6
        assert got.groupby("query_id")["rank"].max().tolist() == [3, 3]

    def test_numeric_radius_runs_only_limited_counts(self, spark, monkeypatch):
        """With a numeric initial radius and a data side larger than
        dense_threshold, choosing dense vs progressive reads at most
        dense_threshold + 1 rows: every action the gate and the rounds
        run through count() or toPandas() is over a Limit, so none
        reads the whole data side."""
        from cuspatial_spark.plans import geodesic_knn_join

        data = _frame(spark, np.arange(20) + 500, np.linspace(-170, 170, 20),
                      np.linspace(-80, 80, 20), "poi_id")
        queries = _frame(spark, [0, 1], [0.0, 90.0], [0.0, 45.0], "query_id")
        actions = []
        cls = type(data)
        for name in ("count", "toPandas"):
            real = getattr(cls, name)

            def action(df, *a, _real=real, **kw):
                actions.append(df._jdf.queryExecution().logical().toString())
                return _real(df, *a, **kw)

            monkeypatch.setattr(cls, name, action)
        geodesic_knn_join(
            data, queries, k=2, id_col="poi_id", query_id_col="query_id",
            initial_radius_km=500.0, dense_threshold=4,
        )
        assert actions
        for plan in actions:
            assert "Limit" in plan.splitlines()[0], plan

    def test_dense_path_equals_progressive(self, spark):
        """The small-data dense path (one Arrow crossing against the
        collected data side) returns the progressive chord-grid
        rounds' rows and schema, ties and starved queries included:
        the same (query_id, neighbor_id, rank), ids in the input id
        type, distances equal up to libm rounding."""
        import pandas as pd

        from cuspatial_spark.plans import geodesic_knn_join

        rng = np.random.default_rng(17)
        nq, nd, k = 150, 25, 6
        q_lon = rng.uniform(-180, 180, nq)
        q_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, nq)))
        d_lon = rng.uniform(-180, 180, nd)
        d_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, nd)))
        for dtype in ("int64", "int32"):
            # overlapping ids exercise the self-exclusion rule
            queries = _frame(spark, np.arange(nq, dtype=dtype), q_lon, q_lat, "query_id")
            data = _frame(spark, np.arange(nd, dtype=dtype), d_lon, d_lat, "poi_id")
            kw = dict(
                k=k, id_col="poi_id", query_id_col="query_id",
                initial_radius_km="auto",
            )
            dense = geodesic_knn_join(data, queries, **kw)
            prog = geodesic_knn_join(data, queries, dense_threshold=0, **kw)
            assert dense.schema == prog.schema
            assert dict(dense.dtypes)["neighbor_id"] == dict(data.dtypes)["poi_id"]
            got = dense.orderBy("query_id", "rank").toPandas()
            want = prog.orderBy("query_id", "rank").toPandas()
            cols = ["query_id", "neighbor_id", "rank"]
            pd.testing.assert_frame_equal(got[cols], want[cols])
            np.testing.assert_allclose(got.distance_km, want.distance_km, rtol=1e-12)

    def test_null_ids_join_nothing_on_either_path(self, spark):
        """A query with a null id gets no rows and a data point with a
        null id is nobody's neighbor, on the dense path as on the
        progressive rounds."""
        from cuspatial_spark.plans import geodesic_knn_join

        queries = spark.createDataFrame(
            [(1, 0.0, 0.0), (None, 0.0, 0.1)], "query_id long, lon double, lat double"
        )
        data = spark.createDataFrame(
            [(10, 0.0, 0.2), (None, 0.0, 0.01), (11, 1.0, 1.0)],
            "poi_id long, lon double, lat double",
        )
        for threshold in (1024, 0):
            got = geodesic_knn_join(
                data, queries, k=5, id_col="poi_id", query_id_col="query_id",
                initial_radius_km=500.0, dense_threshold=threshold,
            ).orderBy("rank").collect()
            assert [(r.query_id, r.neighbor_id, r.rank) for r in got] == [
                (1, 10, 1), (1, 11, 2)
            ], threshold

    def test_dense_path_in_query_blocks(self, spark):
        """A data side of 9000 rows splits each Arrow batch into blocks
        of 116 queries (about 2**20 distances each); rows still equal
        the brute force across block edges."""
        from cuspatial_spark.plans import geodesic_knn_join

        rng = np.random.default_rng(31)
        nq, nd, k = 300, 9000, 3
        q_lon = rng.uniform(-180, 180, nq)
        q_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, nq)))
        d_lon = rng.uniform(-180, 180, nd)
        d_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, nd)))
        queries = _frame(spark, np.arange(nq), q_lon, q_lat, "query_id")
        data = _frame(spark, np.arange(nd), d_lon, d_lat, "poi_id")
        got = (
            geodesic_knn_join(
                data, queries.coalesce(1), k=k, id_col="poi_id",
                query_id_col="query_id", dense_threshold=nd,
            )
            .orderBy("query_id", "rank")
            .toPandas()
        )
        d = _hav_np(d_lon[None, :], d_lat[None, :], q_lon[:, None], q_lat[:, None])
        d[np.arange(nq), np.arange(nq)] = np.inf
        expect = np.argsort(d, axis=1, kind="stable")[:, :k]
        np.testing.assert_array_equal(got.neighbor_id.to_numpy().reshape(nq, k), expect)
        np.testing.assert_allclose(
            got.distance_km.to_numpy().reshape(nq, k),
            np.take_along_axis(d, expect, axis=1),
            rtol=1e-12,
        )

    def test_dense_path_plan_has_no_exchange(self, spark):
        """The dense path's whole point: the queries stream through
        exactly one Arrow crossing; nothing shuffles and nothing is
        windowed."""
        from cuspatial_spark.plans import geodesic_knn_join

        queries = _frame(spark, np.arange(50), np.linspace(-170, 170, 50),
                         np.linspace(-80, 80, 50), "query_id")
        data = _frame(spark, np.arange(10) + 500, np.linspace(-150, 150, 10),
                      np.linspace(-70, 70, 10), "poi_id")
        out = geodesic_knn_join(
            data, queries, k=3, id_col="poi_id", query_id_col="query_id",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the crossing reads the query scan directly
        top, child = plan.splitlines()[:2]
        assert plan.count("MapInPandas") == 1 and "MapInPandas" in top, plan
        assert "Scan" in child and "[query_id" in child, plan
        assert "Window" not in plan and "Exchange" not in plan, plan
        assert "Join" not in plan, plan

    def test_progressive_result_runs_no_join_or_window(self, spark):
        """Every progressive round checkpoints its own top-k, so the
        returned frame is a union of checkpointed batches: writing it
        runs no join and no window, however many rounds ran."""
        from cuspatial_spark.plans import geodesic_knn_join

        rng = np.random.default_rng(29)
        nq, nd = 60, 40
        queries = _frame(spark, np.arange(nq), rng.uniform(-180, 180, nq),
                         np.degrees(np.arcsin(rng.uniform(-1, 1, nq))), "query_id")
        data = _frame(spark, np.arange(nd) + 1000, rng.uniform(-180, 180, nd),
                      np.degrees(np.arcsin(rng.uniform(-1, 1, nd))), "poi_id")
        out = geodesic_knn_join(
            data, queries, k=4, id_col="poi_id", query_id_col="query_id",
            initial_radius_km=300.0, dense_threshold=0,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # several rounds ran: the union holds one batch per round
        assert plan.count("Scan ExistingRDD") > 1, plan
        assert "Window" not in plan and "Join" not in plan, plan
        assert "Exchange" not in plan, plan
        assert out.count() == nq * 4

    def test_arg_validation(self, spark):
        from cuspatial_spark.plans import geodesic_knn_join

        df = _frame(spark, [0], [0.0], [0.0], "point_id")
        with pytest.raises(ValueError):
            geodesic_knn_join(df, df, k=0, id_col="a", query_id_col="b")
        with pytest.raises(ValueError):
            # same id column name on both sides is ambiguous
            geodesic_knn_join(df, df, k=1, id_col="point_id", query_id_col="point_id")

    def test_auto_radius_matches_brute_force(self, spark):
        from cuspatial_spark.plans import geodesic_knn_join

        rng = np.random.default_rng(9)
        nq, nd, k = 80, 30, 4
        q_lon = rng.uniform(-180, 180, nq)
        q_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, nq)))
        d_lon = rng.uniform(-180, 180, nd)
        d_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, nd)))
        queries = _frame(spark, np.arange(nq), q_lon, q_lat, "query_id")
        data = _frame(spark, np.arange(nd) + 1000, d_lon, d_lat, "poi_id")
        got = (
            geodesic_knn_join(
                data, queries, k=k, id_col="poi_id", query_id_col="query_id",
                initial_radius_km="auto",
            )
            .orderBy("query_id", "rank")
            .toPandas()
        )
        d = _hav_np(d_lon[None, :], d_lat[None, :], q_lon[:, None], q_lat[:, None])
        order = np.lexsort(((np.arange(nd) + 1000)[None, :].repeat(nq, 0), d), axis=1)
        expect = (order[:, :k] + 1000)
        np.testing.assert_array_equal(
            got.neighbor_id.to_numpy().reshape(nq, k), expect
        )
        with pytest.raises(ValueError):
            geodesic_knn_join(
                data, queries, k=k, id_col="poi_id", query_id_col="query_id",
                initial_radius_km="bogus",
            )

