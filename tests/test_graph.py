"""Connected components / clustering operator tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cuspatial_spark.operators.graph import (
    connected_components,
    dedup_clusters,
    hausdorff_clusters,
)


def test_cc_chain_and_islands(spark):
    """A 6-vertex chain (needs several propagation rounds), a 2-clique,
    a self-loop singleton."""
    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": [1, 2, 3, 4, 5, 10, 20],
                "dst": [2, 3, 4, 5, 6, 11, 20],
            }
        )
    )
    got = {
        r.vertex: r.component
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 20: 20}


def test_cc_long_chain_pointer_doubling(spark):
    """A 200-vertex path has diameter 199: plain one-hop min
    propagation would need 199 rounds and silently return SPLIT
    components at the default max_iter=25; pointer doubling converges
    in ~log2(199) rounds (round-2 advice fix)."""
    n = 200
    edges = spark.createDataFrame(
        pd.DataFrame({"src": np.arange(n - 1), "dst": np.arange(1, n)})
    )
    got = connected_components(edges, max_iter=25).collect()
    assert len(got) == n
    assert {r.component for r in got} == {0}


def test_dedup_clusters_star(spark):
    """Canonical-mode LSH emits star pairs; clusters resolve to the
    min doc id in 2 rounds."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [7, 7, 7, 100], "id_b": [9, 12, 30, 101]})
    )
    got = {r.doc_id: r.canonical_id for r in dedup_clusters(pairs).collect()}
    assert got == {7: 7, 9: 7, 12: 7, 30: 7, 100: 100, 101: 100}


def test_dedup_clusters_via_lsh(spark):
    """End to end: near-identical docs band-collide and land in one
    cluster whose canonical id is the min member."""
    from cuspatial_spark.textops import lsh_candidate_pairs

    texts = ["identical boilerplate page content here"] * 5 + [
        "a completely different document about engines and pipelines",
        "a completely different document about engines and pipelines",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(7), "text": texts})
    )
    pairs = lsh_candidate_pairs(docs, num_hashes=4, band_size=2, mode="canonical")
    got = {r.doc_id: r.canonical_id for r in dedup_clusters(pairs).collect()}
    assert {got[i] for i in range(5)} == {0}
    assert got[6] == 5 and got[5] == 5


def test_hausdorff_clusters(spark):
    """Single-linkage under symmetric Hausdorff: spaces 0-1 close,
    2 far from both."""
    rows = []
    d = {
        (0, 0): 0.0, (1, 1): 0.0, (2, 2): 0.0,
        (0, 1): 1.0, (1, 0): 2.0,       # symmetric max = 2.0
        (0, 2): 9.0, (2, 0): 9.0,
        (1, 2): 8.0, (2, 1): 8.5,
    }
    for (a, b), v in d.items():
        rows.append({"space_a": a, "space_b": b, "distance": v})
    m = spark.createDataFrame(pd.DataFrame(rows))
    got = {r.space: r.cluster for r in hausdorff_clusters(m, threshold=2.5).collect()}
    assert got == {0: 0, 1: 0, 2: 2}
    # tighter threshold splits them
    got2 = {r.space: r.cluster for r in hausdorff_clusters(m, threshold=1.5).collect()}
    assert got2 == {0: 0, 1: 1, 2: 2}


def test_cc_runs_no_job_beside_its_checkpoints(spark, monkeypatch):
    """Each round's convergence test rides on the round's own
    localCheckpoint job (an Observation), so every Spark job of
    connected_components runs inside a localCheckpoint.  A 40-vertex
    chain still takes 6 rounds (2 setup checkpoints + 1 per round)."""
    import uuid

    from pyspark.sql.classic.dataframe import DataFrame

    sc = spark.sparkContext
    outer = f"cc-{uuid.uuid4().hex}"
    inner = f"cc-checkpoint-{uuid.uuid4().hex}"
    real = DataFrame.localCheckpoint
    calls = []

    def checkpoint(df, *args, **kwargs):
        calls.append(1)
        sc.setJobGroup(inner, "connected_components checkpoint")
        try:
            return real(df, *args, **kwargs)
        finally:
            sc.setJobGroup(outer, "connected_components")

    monkeypatch.setattr(DataFrame, "localCheckpoint", checkpoint)
    n = 40
    edges = spark.createDataFrame(
        pd.DataFrame({"src": np.arange(n - 1), "dst": np.arange(1, n)})
    )
    sc.setJobGroup(outer, "connected_components")
    try:
        labels = connected_components(edges)
    finally:
        sc._jsc.clearJobGroup()
    got = labels.collect()
    assert {r.component for r in got} == {0} and len(got) == n
    assert len(calls) == 2 + 6
    assert list(sc.statusTracker().getJobIdsForGroup(outer)) == []
    assert len(sc.statusTracker().getJobIdsForGroup(inner)) > 0


def test_cc_raises_when_max_iter_runs_out(spark):
    n = 200
    edges = spark.createDataFrame(
        pd.DataFrame({"src": np.arange(n - 1), "dst": np.arange(1, n)})
    )
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(edges, max_iter=2)
