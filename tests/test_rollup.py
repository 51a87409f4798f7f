"""Continuous time-bucket rollup (ops/rollup.py): incremental refresh
== full recompute, idempotent noop, compaction/expire fallback, and
derived-aggregate read."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cuspatial_spark.ops.rollup import ContinuousAggregate
from cuspatial_spark.sources.table import TiledTable


def _batch(spark, lo, n, seed, day):
    rng = np.random.default_rng(seed)
    ts = pd.Timestamp("2024-01-01").value // 10**9 + day * 86400
    return spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(lo, lo + n),
        "x": rng.uniform(0, 8, n), "y": rng.uniform(0, 8, n),
        "ts": pd.to_datetime(
            ts + rng.integers(0, 3 * 3600, n), unit="s"
        ),
        "kind": rng.choice(["a", "b"], n),
        "value": rng.uniform(0, 100, n),
    }))


def _recompute(df, bucket_s=3600):
    return (
        df.groupBy(
            F.timestamp_seconds(
                (F.col("ts").cast("long") / bucket_s).cast("long") * bucket_s
            ).alias("bucket"),
            "kind",
        )
        .agg(
            F.count("value").alias("count_value"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            (F.sum("value") / F.count("value")).alias("avg_value"),
        )
    )


def _norm(df):
    pdf = df.toPandas().sort_values(["bucket", "kind"]).reset_index(drop=True)
    for c in ("sum_value", "min_value", "max_value", "avg_value"):
        pdf[c] = pdf[c].round(9)
    return pdf


class TestContinuousAggregate:
    def test_incremental_equals_full_recompute(self, spark, tmp_path):
        t = TiledTable(str(tmp_path / "base"))
        ca = ContinuousAggregate(
            t, str(tmp_path / "rollup"), time_col="ts", keys=["kind"],
            aggs={"value": ["count", "sum", "min", "max", "avg"]},
        )
        for k in range(3):
            t.commit(_batch(spark, 200 * k, 200, seed=k, day=k),
                     "x", "y", 0, 8, 0, 8, source=f"b{k}")
            r = ca.refresh(spark)
            assert r["refreshed"] and r["mode"] == "delta"
            assert r["processed_through"] == k + 1
            got = _norm(ca.read(spark))
            want = _norm(_recompute(t.read(spark)))
            pd.testing.assert_frame_equal(got, want)

    def test_noop_when_no_new_snapshots(self, spark, tmp_path):
        t = TiledTable(str(tmp_path / "base"))
        t.commit(_batch(spark, 0, 100, seed=1, day=0), "x", "y", 0, 8, 0, 8)
        ca = ContinuousAggregate(
            t, str(tmp_path / "rollup"), time_col="ts",
            aggs={"value": ["sum", "count"]},
        )
        assert ca.refresh(spark)["mode"] == "delta"
        r = ca.refresh(spark)
        assert r == {"processed_through": 1, "refreshed": False, "mode": "noop"}

    def test_full_fallback_after_expire(self, spark, tmp_path):
        t = TiledTable(str(tmp_path / "base"))
        ca = ContinuousAggregate(
            t, str(tmp_path / "rollup"), time_col="ts", keys=["kind"],
            aggs={"value": ["count", "sum", "min", "max", "avg"]},
        )
        t.commit(_batch(spark, 0, 150, seed=3, day=0), "x", "y", 0, 8, 0, 8)
        ca.refresh(spark)
        # two more appends, then compact + expire BEFORE refreshing —
        # the delta snapshots are gone from the log
        t.commit(_batch(spark, 150, 150, seed=4, day=1), "x", "y", 0, 8, 0, 8)
        t.commit(_batch(spark, 300, 150, seed=5, day=2), "x", "y", 0, 8, 0, 8)
        t.compact(spark)
        t.expire_snapshots()
        r = ca.refresh(spark)
        assert r["refreshed"] and r["mode"] == "full"
        got = _norm(ca.read(spark))
        want = _norm(_recompute(t.read(spark)))
        pd.testing.assert_frame_equal(got, want)

    def test_rejects_unknown_aggregate(self, spark, tmp_path):
        t = TiledTable(str(tmp_path / "base"))
        with pytest.raises(ValueError):
            ContinuousAggregate(
                t, str(tmp_path / "r"), time_col="ts",
                aggs={"value": ["median"]},
            )

    def test_read_before_refresh_raises(self, spark, tmp_path):
        t = TiledTable(str(tmp_path / "base"))
        ca = ContinuousAggregate(
            t, str(tmp_path / "r"), time_col="ts", aggs={"value": ["sum"]}
        )
        with pytest.raises(ValueError):
            ca.read(spark)

    def test_compaction_only_delta_is_noop_advance(self, spark, tmp_path):
        t = TiledTable(str(tmp_path / "base"))
        ca = ContinuousAggregate(
            t, str(tmp_path / "rollup"), time_col="ts", keys=["kind"],
            aggs={"value": ["count", "sum"]},
        )
        t.commit(_batch(spark, 0, 150, seed=7, day=0), "x", "y", 0, 8, 0, 8)
        t.commit(_batch(spark, 150, 150, seed=8, day=1), "x", "y", 0, 8, 0, 8)
        ca.refresh(spark)
        before = _norm_small(ca.read(spark))
        t.compact(spark)  # rewrites rows already folded into the rollup
        r = ca.refresh(spark)
        assert not r["refreshed"] and r["processed_through"] == 3
        pd.testing.assert_frame_equal(_norm_small(ca.read(spark)), before)
        # and a later append is a plain delta again
        t.commit(_batch(spark, 300, 150, seed=9, day=2), "x", "y", 0, 8, 0, 8)
        assert ca.refresh(spark)["mode"] == "delta"

    def test_empty_commit_is_noop_advance(self, spark, tmp_path):
        t = TiledTable(str(tmp_path / "base"))
        ca = ContinuousAggregate(
            t, str(tmp_path / "rollup"), time_col="ts", keys=["kind"],
            aggs={"value": ["count", "sum"]},
        )
        t.commit(_batch(spark, 0, 150, seed=7, day=0), "x", "y", 0, 8, 0, 8)
        ca.refresh(spark)
        before = _norm_small(ca.read(spark))
        t.commit(_batch(spark, 150, 150, seed=8, day=1).limit(0), "x", "y", 0, 8, 0, 8)
        r = ca.refresh(spark)
        assert not r["refreshed"] and r["processed_through"] == 2
        pd.testing.assert_frame_equal(_norm_small(ca.read(spark)), before)


def _norm_small(df):
    pdf = df.toPandas().sort_values(["bucket", "kind"]).reset_index(drop=True)
    pdf["sum_value"] = pdf["sum_value"].round(9)
    return pdf


def test_bucket_floors_negative_epochs(spark, tmp_path):
    """Pre-1970 timestamps (negative epoch seconds) must floor into
    the bucket BELOW, not truncate toward zero (ADVICE r5): one true
    bucket must not split across two rollup rows."""
    t = TiledTable(str(tmp_path / "base"))
    df = spark.createDataFrame(pd.DataFrame({
        "point_id": [0, 1, 2],
        "x": [1.0, 2.0, 3.0], "y": [1.0, 2.0, 3.0],
        # 1969-12-31 23:xx — same 1-hour bucket, negative epochs
        "ts": pd.to_datetime([-1800, -1200, -600], unit="s"),
        "kind": ["a", "a", "b"],
        "value": [1.0, 2.0, 3.0],
    }))
    t.commit(df, "x", "y", 0, 8, 0, 8, source="neg")
    ca = ContinuousAggregate(
        t, str(tmp_path / "rollup"), time_col="ts",
        aggs={"value": ["count", "sum"]},
    )
    ca.refresh(spark)
    out = ca.read(spark).toPandas()
    assert len(out) == 1
    assert out["bucket"].iloc[0] == pd.Timestamp("1969-12-31 23:00:00")
    assert out["sum_value"].iloc[0] == 6.0
