"""TiledTable maintenance: compact() (Iceberg rewrite-data-files) and
expire_snapshots() (tombstoned storage reclaim)."""

import glob
import os

import numpy as np
import pandas as pd
import pytest

from cuspatial_spark.sources.table import TiledTable


def _batch(spark, lo, n, seed):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(lo, lo + n),
        "x": rng.uniform(0, 8, n), "y": rng.uniform(0, 8, n)}))


def _files(snap_dir):
    return glob.glob(os.path.join(snap_dir, "**", "*.parquet"), recursive=True)


@pytest.fixture(scope="module")
def _table3_template(spark, tmp_path_factory):
    """A table with three overlapping-tile appends (small-file state),
    built once — tables are plain directories, so each test clones it."""
    root = tmp_path_factory.mktemp("table3") / "t"
    t = TiledTable(str(root))
    for k in range(3):
        t.commit(_batch(spark, 300 * k, 300, seed=k), "x", "y", 0, 8, 0, 8,
                 source=f"batch-{k}")
    return str(root)


@pytest.fixture()
def table3(_table3_template, tmp_path):
    import shutil

    dst = str(tmp_path / "t")
    shutil.copytree(_table3_template, dst)
    return TiledTable(dst)


class TestCompact:
    def test_content_identical_files_reduced(self, spark, table3):
        t = table3
        before = t.read(spark).select("point_id").toPandas()
        pre_files = sum(len(_files(m["snapshot_dir"])) for m in t.history())

        v = t.compact(spark)
        assert v == 4
        m = t.history()[-1]
        assert m["compacted_through"] == 3 and m["rows"] == 900

        after = t.read(spark).select("point_id").toPandas()
        assert sorted(after.point_id) == sorted(before.point_id)
        # the effective view now reads ONE snapshot with fewer files
        # than the three appends combined
        assert len(_files(m["snapshot_dir"])) < pre_files

    def test_read_uses_single_snapshot(self, spark, table3):
        t = table3
        t.compact(spark)
        plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
        # no Union of three appends — a single parquet scan
        assert "Union" not in plan

    def test_time_travel_below_compaction(self, spark, table3):
        t = table3
        t.compact(spark)
        assert t.read(spark, version=1).count() == 300
        assert t.read(spark, version=2).count() == 600

    def test_appends_after_compaction_visible(self, spark, table3):
        t = table3
        t.compact(spark)
        t.commit(_batch(spark, 900, 100, seed=9), "x", "y", 0, 8, 0, 8)
        assert t.read(spark).count() == 1000
        # and the pre-append view is still exactly the compacted set
        assert t.read(spark, version=4).count() == 900

    def test_second_compaction_supersedes_first(self, spark, table3):
        t = table3
        t.compact(spark)                                   # v4 covers 1-3
        t.commit(_batch(spark, 900, 100, seed=9), "x", "y", 0, 8, 0, 8)  # v5
        v6 = t.compact(spark)                              # covers 1-5
        assert v6 == 6
        assert t.history()[-1]["compacted_through"] == 5
        assert t.read(spark).count() == 1000
        plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
        assert "Union" not in plan

    def test_window_prune_after_compaction(self, spark, tmp_path):
        t = TiledTable(str(tmp_path / "tw"))
        rng = np.random.default_rng(5)
        left = spark.createDataFrame(pd.DataFrame({
            "point_id": np.arange(200),
            "x": rng.uniform(0, 3, 200), "y": rng.uniform(0, 3, 200)}))
        t.commit(left, "x", "y", 0, 8, 0, 8)
        t.compact(spark)
        # window wholly outside the data bounds prunes the base snapshot
        assert t.read(spark, window=(6.0, 8.0, 6.0, 8.0)).count() == 0
        assert t.read(spark, window=(0.0, 3.5, 0.0, 3.5)).count() == 200


class TestRelocatable:
    def test_moved_table_reads(self, spark, table3, tmp_path):
        """Manifests store root-relative data dirs (like Iceberg), so a
        moved/renamed table directory stays readable."""
        import shutil

        moved = str(tmp_path / "moved")
        shutil.move(table3.path, moved)
        t2 = TiledTable(moved)
        assert t2.read(spark).count() == 900
        assert t2.compact(spark) == 4


class TestExpire:
    def test_expire_reclaims_and_tombstones(self, spark, table3):
        t = table3
        t.compact(spark)  # v4 covers 1-3
        expired = t.expire_snapshots()
        assert expired == [1, 2, 3]
        h = t.history()
        assert [m.get("expired", False) for m in h] == [True, True, True, False]
        for m in h[:3]:
            assert not os.path.exists(m["snapshot_dir"])
        # the live view is untouched
        assert t.read(spark).count() == 900

    def test_expired_time_travel_raises(self, spark, table3):
        t = table3
        t.compact(spark)
        t.expire_snapshots()
        with pytest.raises(RuntimeError, match="expired"):
            t.read(spark, version=2).count()

    def test_expire_noop_without_compaction(self, spark, table3):
        assert table3.expire_snapshots() == []
        assert table3.read(spark).count() == 900

    def test_superseded_compaction_expired(self, spark, table3):
        t = table3
        t.compact(spark)                                    # v4 covers 1-3
        t.commit(_batch(spark, 900, 100, seed=9), "x", "y", 0, 8, 0, 8)  # v5
        t.compact(spark)                                    # v6 covers 1-5
        expired = t.expire_snapshots()
        # appends 1,2,3,5 covered; compaction 4 superseded
        assert expired == [1, 2, 3, 4, 5]
        assert t.read(spark).count() == 1000
        # idempotent
        assert t.expire_snapshots() == []


def _spark_manifest_stats(spark, m):
    """Oracle for a manifest's rows/bounds/tiles: a Spark groupBy("tile")
    count/min/max over the snapshot's files, the tiles folded with
    Spark's min/max (NaN above every double).  A tile whose x or y has
    no non-null value has no bounds, and then neither has the
    snapshot."""
    from pyspark.sql import functions as F

    x, y = m["layout"]["x_col"], m["layout"]["y_col"]
    stats = spark.read.parquet(m["snapshot_dir"]).groupBy("tile").agg(
        F.count("*").alias("rows"),
        F.min(x).alias("x_lo"), F.max(x).alias("x_hi"),
        F.min(y).alias("y_lo"), F.max(y).alias("y_hi"),
    )
    per_tile = stats.collect()
    whole = stats.agg(
        F.min("x_lo"), F.max("x_hi"), F.min("y_lo"), F.max("y_hi")
    ).first()
    keys = ("x_lo", "x_hi", "y_lo", "y_hi")
    unbounded = any(r[k] is None for r in per_tile for k in keys)
    return {
        "rows": sum(r["rows"] for r in per_tile),
        "bounds": None if unbounded else dict(zip(keys, whole)),
        "tiles": {str(r["tile"]): r["rows"] for r in per_tile},
    }


def _spark_file_stats(spark, m):
    """Oracle for a manifest's ``files``: the same aggregate per
    ``input_file_name()``, keyed by absolute path."""
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    x, y = m["layout"]["x_col"], m["layout"]["y_col"]
    keys = ("x_lo", "x_hi", "y_lo", "y_hi")
    per_file = spark.read.parquet(m["snapshot_dir"]).groupBy(
        F.input_file_name().alias("file"), "tile"
    ).agg(
        F.count("*").alias("rows"),
        F.min(x).alias("x_lo"), F.max(x).alias("x_hi"),
        F.min(y).alias("y_lo"), F.max(y).alias("y_hi"),
    ).collect()
    return {
        unquote(urlparse(r["file"]).path): _comparable({
            "tile": r["tile"], "rows": r["rows"],
            "bounds": None if any(r[k] is None for k in keys) else {k: r[k] for k in keys},
        })
        for r in per_file
    }


def _comparable(stats):
    """NaN != NaN, so compare NaN bounds by name."""
    b = stats["bounds"]
    if b is not None:
        b = {k: "NaN" if v != v else v for k, v in b.items()}
    return dict(stats, bounds=b)


class TestManifestStats:
    """Manifests are read off the written parquet footers; they must
    equal the Spark aggregate over the same files."""

    def _check(self, spark, t):
        for m in t.history():
            got = {k: m[k] for k in ("rows", "bounds", "tiles")}
            assert _comparable(got) == _comparable(_spark_manifest_stats(spark, m)), m["version"]
            files = {
                os.path.join(t.path, f["path"]): _comparable(
                    {k: f[k] for k in ("tile", "rows", "bounds")})
                for f in m["files"]
            }
            assert files == _spark_file_stats(spark, m), m["version"]

    def test_footer_stats_equal_spark_aggregate(self, spark, tmp_path):
        nan, inf = float("nan"), float("inf")
        rng = np.random.default_rng(31)
        schema = "point_id long, x double, y double"
        finite = [(i, float(a), float(b))
                  for i, (a, b) in enumerate(rng.uniform(0, 8, (200, 2)))]
        # NaN, +-inf and null coordinates, each sharing a tile with
        # finite points (a null coordinate clamps to the last cell)
        odd = [(1000, nan, 2.0), (1001, inf, 3.0), (1002, -inf, 4.0),
               (1003, None, 5.0), (1004, 7.9, 5.0), (1005, 1.0, None),
               (1006, 1.0, 7.9), (1007, 2.0, nan), (1008, 3.0, -inf)]
        outside = [(2000 + i, float(a), float(b))
                   for i, (a, b) in enumerate(rng.uniform(-3, 11, (200, 2)))]
        all_nan_x = [(3000 + i, nan, float(b))
                     for i, b in enumerate(rng.uniform(0, 8, 50))]
        all_null_x = [(4000 + i, None, float(b))
                      for i, b in enumerate(rng.uniform(0, 8, 50))]

        t = TiledTable(str(tmp_path / "stats"))
        for rows in (finite + odd, outside, all_nan_x, all_null_x):
            t.commit(spark.createDataFrame(rows, schema), "x", "y", 0, 8, 0, 8)
        t.compact(spark)
        h = t.history()
        assert h[0]["bounds"]["x_lo"] == -inf and h[0]["bounds"]["x_hi"] != h[0]["bounds"]["x_hi"]
        assert h[1]["bounds"]["x_lo"] < 0 and h[1]["bounds"]["x_hi"] > 8
        assert h[3]["bounds"] is None and h[3]["rows"] == 50
        assert h[4]["rows"] == len(finite + odd + outside + all_nan_x + all_null_x)
        self._check(spark, t)

    def test_multiple_row_groups_per_file(self, spark, tmp_path):
        import pyarrow.parquet as pq

        conf = spark.sparkContext._jsc.hadoopConfiguration()
        old = conf.get("parquet.block.size")
        conf.set("parquet.block.size", "4096")
        try:
            t = TiledTable(str(tmp_path / "groups"))
            t.commit(_batch(spark, 0, 4000, seed=32), "x", "y", 0, 8, 0, 8, tile_level=1)
        finally:
            if old is None:
                conf.unset("parquet.block.size")
            else:
                conf.set("parquet.block.size", old)
        groups = [pq.read_metadata(f).num_row_groups
                  for f in _files(t.history()[0]["snapshot_dir"])]
        assert max(groups) > 1, groups
        self._check(spark, t)


def _ids(df):
    return sorted(r.point_id for r in df.select("point_id").collect())


@pytest.fixture(scope="module")
def mixed_table(spark, tmp_path_factory):
    """Morton and Hilbert commits (so snapshot schemas differ), NaN,
    +-inf, null and out-of-AOI coordinates, an empty commit, a commit
    whose x has no statistics (bounds None), a compaction base and
    appends after it.  tile_level=2 keeps every snapshot at <= 32
    files."""
    nan, inf = float("nan"), float("inf")
    rng = np.random.default_rng(51)
    schema = "point_id long, x double, y double"

    def rows(lo, n, a=0.0, b=8.0):
        return [(lo + i, float(u), float(v))
                for i, (u, v) in enumerate(rng.uniform(a, b, (n, 2)))]

    odd = [(900, nan, 2.0), (901, inf, 3.0), (902, -inf, 4.0), (903, None, 5.0),
           (904, 1.0, None), (905, 2.0, nan), (906, 3.0, -inf), (907, 7.5, inf)]
    t = TiledTable(str(tmp_path_factory.mktemp("mixed") / "t"))

    def commit(data, cluster="morton"):
        return t.commit(spark.createDataFrame(data, schema), "x", "y", 0, 8, 0, 8,
                        tile_level=2, cluster=cluster)

    commit(rows(0, 300) + odd)                           # v1
    commit(rows(1000, 200, -3.0, 11.0), "hilbert")       # v2: many outside
    commit([])                                           # v3: empty
    commit(rows(2000, 150, 0.0, 3.0))                    # v4
    t.compact(spark)                                     # v5 covers 1-4
    commit(rows(3000, 100, 4.0, 8.0), "hilbert")         # v6
    commit([(4000 + i, None, float(v))                   # v7: x all null
            for i, v in enumerate(rng.uniform(0, 8, 40))])
    assert t.history()[6]["bounds"] is None
    return t


class TestManifestScan:
    """Reads plan from the manifests' file lists: no listing, no
    schema inference, file-level window pruning."""

    def test_read_runs_no_spark_job(self, spark, mixed_table):
        import uuid

        t = mixed_table
        assert all(len(_files(m["snapshot_dir"])) <= 32 for m in t.history())
        sc = spark.sparkContext
        group = f"tiled-read-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "TiledTable reads")
        try:
            frames = [t.read(spark), t.read(spark, version=4),
                      t.read(spark, window=(1.0, 2.0, 1.0, 2.0)),
                      t.read(spark, version=2, window=(20.0, 21.0, 20.0, 21.0))]
        finally:
            sc._jsc.clearJobGroup()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert [f.count() for f in frames[:2]] == [
            sum(m["rows"] for m in t.history()[4:]),
            sum(m["rows"] for m in t.history()[:4]),
        ]

    @pytest.mark.parametrize("version", [2, 4, 7])
    def test_schema_equals_inferred_read(self, spark, mixed_table, version):
        """The recorded schema gives the schema Spark infers from the
        files: names, order, types and nullability."""
        from functools import reduce

        t = mixed_table
        view = {2: [1, 2], 4: [1, 2, 4], 7: [5, 6, 7]}[version]
        inferred = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [spark.read.option("basePath", m["snapshot_dir"]).parquet(m["snapshot_dir"])
             for m in t.history() if m["version"] in view],
        ).schema
        assert t.read(spark, version=version).schema == inferred

    def test_window_keeping_no_file(self, spark, tmp_path):
        """A window that keeps no file gives no rows and the schema of
        the full read; a file without x statistics is always kept."""
        t = TiledTable(str(tmp_path / "t"))
        t.commit(_batch(spark, 0, 200, seed=52).where("x < 4 AND y < 4"),
                 "x", "y", 0, 8, 0, 8, tile_level=2)
        t.commit(_batch(spark, 200, 200, seed=53).where("x < 4 AND y < 4"),
                 "x", "y", 0, 8, 0, 8, tile_level=2, cluster="hilbert")
        far = t.read(spark, window=(6.0, 8.0, 6.0, 8.0))
        assert far.schema == t.read(spark).schema and far.count() == 0
        t.commit(spark.createDataFrame([(400, None, 7.0)], "point_id long, x double, y double"),
                 "x", "y", 0, 8, 0, 8, tile_level=2)
        assert _ids(t.read(spark, window=(6.0, 8.0, 6.0, 8.0))) == [400]

    def test_out_of_aoi_rows_leave_the_top_right_file(self, spark, tmp_path):
        """A NaN row is filed under tile -1, not with the top-right
        tile's rows, whose key it shares: tile 15's file keeps its own
        bounds, so a window outside that tile no longer keeps it, and
        a full read still returns the NaN row."""
        from cuspatial_spark.sources.table import _meets

        t = TiledTable(str(tmp_path / "t"))
        nan_row = spark.createDataFrame([(640, float("nan"), 1.0)],
                                        "point_id long, x double, y double")
        t.commit(_batch(spark, 0, 640, seed=54).unionByName(nan_row),
                 "x", "y", 0, 8, 0, 8, tile_level=2)
        files = t.history()[0]["files"]
        window = (6.5, 8.0, 1.0, 4.4)
        corner = [f for f in files if f["tile"] == 15]
        assert corner and not any(_meets(f["bounds"], window) for f in corner), corner
        assert [f["rows"] for f in files if f["tile"] == -1] == [1]
        assert _ids(t.read(spark)) == list(range(641))

    def test_window_read_equals_filtered_full_read(self, spark, mixed_table):
        from hypothesis import given, settings, strategies as st

        from cuspatial_spark.operators import points_in_spatial_window

        t = mixed_table
        full = {v: t.read(spark, version=v) for v in (2, 3, 4, 7)}
        coord = st.floats(-4.0, 12.0, allow_nan=False)

        @given(st.sampled_from(sorted(full)), coord, coord, coord, coord)
        @settings(max_examples=30, deadline=None)
        def check(version, x0, x1, y0, y1):
            w = (x0, x1, y0, y1)
            got = points_in_spatial_window(t.read(spark, version=version, window=w), *w)
            want = points_in_spatial_window(full[version], *w)
            assert _ids(got) == _ids(want)

        check()

    def test_manifest_without_files_raises(self, spark, mixed_table, tmp_path):
        import json
        import shutil

        root = str(tmp_path / "old")
        shutil.copytree(mixed_table.path, root)
        t = TiledTable(root)
        path = t._manifest_path(6)
        with open(path) as f:
            m = json.load(f)
        del m["files"]
        with open(path, "w") as f:
            json.dump(m, f)
        with pytest.raises(ValueError, match="v6"):
            t.read(spark)
        assert len(_ids(t.read(spark, version=5))) == mixed_table.history()[4]["rows"]
