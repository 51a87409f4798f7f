"""similarity/semdedup.py — SemDeDup-style cluster-bounded pruning.

Invariant checks against a NumPy re-derivation on a synthetic
embedding table with planted duplicate groups, plus the plan-shape
pin: the pair stage must be a cluster equi-join with the cosine as a
JVM fold (no Python stage besides the single centroid-assignment
pandas_udf)."""

import os

import numpy as np
import pandas as pd
import pytest

from cuspatial_spark.similarity import semantic_dedup

DIM = 16
THRESH = 0.9


@pytest.fixture(scope="module")
def emb_df(spark):
    """60 vectors in 3 planted groups + noise: members of a group are
    tiny perturbations of a base vector (cos >> THRESH); bases are
    mutually near-orthogonal."""
    rng = np.random.default_rng(7)
    bases = rng.normal(size=(3, DIM))
    rows = []
    vid = 0
    for g in range(3):
        for k in range(12):  # 12 near-copies per group
            v = bases[g] + 0.01 * rng.normal(size=DIM)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(24):  # independent noise vectors
        v = rng.normal(size=DIM)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _reference(df_pd, centroids, threshold):
    E = np.stack(df_pd.embedding.to_numpy()).astype(np.float64)
    ids = df_pd.vec_id.to_numpy()
    d = ((E[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
    assign = np.argmin(d, axis=1)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = En @ En.T
    kept = {}
    for c in np.unique(assign):
        idx = np.where(assign == c)[0]
        order = idx[np.argsort(ids[idx])]
        for j, row in enumerate(order):
            nn = S[row, order[:j]].max() if j else None
            kept[ids[row]] = (int(c), nn, nn is None or nn < threshold)
    return kept


def test_matches_numpy_reference(spark, emb_df):
    rng = np.random.default_rng(3)
    cts = rng.normal(size=(4, DIM))
    out = semantic_dedup(emb_df, centroids=cts, threshold=THRESH).toPandas()
    ref = _reference(emb_df.toPandas(), cts, THRESH)
    assert len(out) == 60
    for r in out.itertuples():
        c, nn, keep = ref[r.vec_id]
        assert r.cluster == c
        assert bool(r.is_kept) == keep
        if nn is None:
            assert r.nn_smaller_sim is None or np.isnan(r.nn_smaller_sim)
        else:
            assert abs(r.nn_smaller_sim - nn) < 1e-9


def test_planted_groups_pruned(spark, emb_df):
    """With one centroid (single cluster) every planted group keeps
    exactly its smallest id; drops are exactly 11 per group."""
    cts = np.zeros((1, DIM))
    out = semantic_dedup(emb_df, centroids=cts, threshold=THRESH).toPandas()
    kept = set(out[out.is_kept].vec_id)
    for g in range(3):
        members = set(range(12 * g, 12 * g + 12))
        assert kept & members == {12 * g}
    # noise vectors are mutually dissimilar -> all kept
    assert set(range(36, 60)) <= kept


def test_smallest_id_always_kept(spark, emb_df):
    cts = np.array([[1.0] * DIM, [-1.0] * DIM])
    out = semantic_dedup(emb_df, centroids=cts, threshold=0.0).toPandas()
    for c, grp in out.groupby("cluster"):
        assert bool(grp.loc[grp.vec_id.idxmin(), "is_kept"])


def test_trained_centroids_path(spark, emb_df):
    """centroids=None trains on a cross-partition sample; result must
    still satisfy the invariants (every row present, min ids kept)."""
    out = semantic_dedup(
        emb_df, n_centroids=3, threshold=THRESH
    ).toPandas()
    assert len(out) == 60
    assert sorted(out.vec_id) == list(range(60))
    for c, grp in out.groupby("cluster"):
        assert bool(grp.loc[grp.vec_id.idxmin(), "is_kept"])


def test_plan_shape(spark, emb_df):
    """100-TB invariants: exactly one ArrowEvalPython (the centroid
    assignment) and no BatchEvalPython (row-at-a-time) anywhere; the
    pair stage is an equi-join on cluster (hash-partitionable), not a
    cartesian product."""
    cts = np.zeros((2, DIM))
    out = semantic_dedup(emb_df, centroids=cts, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_block_parallel_sweep_equals_single_task(spark, emb_df):
    """The prefix-replicated block sweep (skew fix) must be
    bit-identical to the single-task-per-cluster sweep for every
    block size, including blocks smaller than the clusters."""
    import pandas as pd

    cts = np.array([[1.0] * DIM, [-1.0] * DIM, [0.5] * DIM])
    base = (
        semantic_dedup(
            emb_df, centroids=cts, threshold=THRESH,
            sweep_block_rows=10**9,
        )
        .orderBy("vec_id").toPandas()
    )
    for s in (1, 7, 16):
        got = (
            semantic_dedup(
                emb_df, centroids=cts, threshold=THRESH,
                sweep_block_rows=s,
            )
            .orderBy("vec_id").toPandas()
        )
        pd.testing.assert_frame_equal(got, base)



def test_block_sweep_with_duplicate_ids():
    """Duplicate ids inside one cluster: every block must sweep its
    rows in the order the blocks were assigned, so the output is the
    sweep of ONE member order (equal ids in any order) and every input
    row comes out exactly once, for every block size.

    Spark's sorts keep equal keys in arrival order until they spill,
    which hides a block that re-sorts by id; the check runs in a child
    session that forces a sort spill every few rows (a static conf,
    hence its own process)."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [root, os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.run(
        [sys.executable, "-c",
         "import tests.test_semdedup as t; t._check_duplicate_id_sweep()"],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]


def _check_duplicate_id_sweep():
    from itertools import permutations, product

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.shuffle.spill.numElementsForceSpillThreshold", "3")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        rng = np.random.default_rng(17)
        ids = [0, 1, 2, 2, 2, 3, 4, 4, 4, 4, 5, 6, 6, 6, 7]
        E = rng.normal(size=(len(ids), DIM))
        df = spark.createDataFrame(
            [(i, [float(v) for v in e]) for i, e in zip(ids, E)],
            "vec_id long, embedding array<double>",
        ).repartition(4)
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
        S = En @ En.T

        def swept(order):
            """(id, nn) of each member, sorted, when the cluster is
            swept in ``order`` (row indices)."""
            return sorted((ids[r], S[r, order[:j]].max() if j else -np.inf)
                          for j, r in enumerate(order))

        groups = [[r for r, i in enumerate(ids) if i == v] for v in sorted(set(ids))]
        valid = [
            swept([r for g in choice for r in g])
            for choice in product(*(permutations(g) for g in groups))
        ]
        for s in (1, 2, 3, 5, 8):
            out = semantic_dedup(
                df, centroids=np.zeros((1, DIM)), threshold=THRESH,
                sweep_block_rows=s,
            ).toPandas()
            got = sorted(
                (int(r.vec_id), -np.inf if pd.isna(r.nn_smaller_sim) else r.nn_smaller_sim)
                for r in out.itertuples()
            )
            assert [i for i, _ in got] == sorted(ids), s
            assert any(
                np.allclose([v for _, v in got], [v for _, v in want], rtol=0, atol=1e-9)
                for want in valid
            ), f"sweep_block_rows={s}: no single member order gives this output"
    finally:
        spark.stop()
