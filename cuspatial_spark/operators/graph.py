"""Distributed connected components + clustering wrappers.

Near-dup dedup emits candidate PAIRS (LSH bands, cosine near-dup) but
the deliverable is duplicate CLUSTERS — pick one canonical document
per component.  Likewise the reference's Hausdorff matrix exists to
feed trajectory clustering.  Both reduce to connected components over
an edge list.

``connected_components`` is the hash-min label-propagation algorithm
as pure DataFrame ops: every vertex starts as its own label; each
round joins labels across edges (both directions), keeps the min, and
then SHORTCUTS each label to its label's label (pointer doubling) so
hop distance squares per round — rounds = O(log diameter), and a
chain of 1M vertices converges in ~21 rounds.  Near-dup clusters are
shallow anyway (stars from canonical-mode LSH have diameter 2), so
3-5 rounds in practice; each round is two shuffles on the vertex id.
If the loop exhausts max_iter without converging it RAISES rather
than returning silently-split components.  Results are persisted per
round so the lineage stays flat (no exponential plan growth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(vertex, component) — component = min vertex id reachable via
    undirected edges.  Isolated vertices only appear if present as a
    self-edge or an endpoint."""
    # undirected: propagate both ways.  localCheckpoint materializes
    # the edge list ONCE, cutting the (possibly very expensive)
    # upstream derivation — e.g. LSH shingling — out of every
    # iteration's lineage; per-round labels likewise, so the plan
    # stays flat across rounds.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.distinct().localCheckpoint()

    labels = (
        e.select(F.col("a").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        # min neighbor label per vertex
        neigh = (
            e.join(labels, e.b == labels.vertex)
            .groupBy(e.a.alias("vertex"))
            .agg(F.min("component").alias("n_comp"))
        )
        stepped = labels.join(neigh, "vertex", "left").select(
            "vertex",
            F.least(
                F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
            ).alias("component"),
            F.col("component").alias("__old"),
        )
        # pointer doubling: follow my component's own component, so a
        # label travels 2^round hops instead of one per round
        parents = stepped.select(
            F.col("vertex").alias("component"), F.col("component").alias("__parent")
        )
        # the convergence test rides on the checkpoint's own job: an
        # Observation counts the vertices whose label moved this round
        changed = Observation()
        labels = (
            stepped.join(parents, "component", "left")
            .select(
                "vertex",
                F.coalesce(F.col("__parent"), F.col("component")).alias("component"),
                "__old",
            )
            .observe(changed, F.count_if(F.col("component") != F.col("__old")).alias("n"))
            .localCheckpoint()
            .drop("__old")
        )
        if changed.get["n"] == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "component diameter exceeds 2^max_iter — raise max_iter"
        )
    return labels


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(doc_id, canonical_id) from near-dup candidate pairs: canonical
    = min doc id of the connected component.  Compose with
    textops.lsh_candidate_pairs(mode='canonical') — star-shaped pair
    sets converge in 2 rounds."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def hausdorff_clusters(
    matrix: DataFrame,
    threshold: float,
    space_a: str = "space_a",
    space_b: str = "space_b",
    distance: str = "distance",
) -> DataFrame:
    """(space, cluster) — single-linkage clustering of trajectory
    spaces under symmetric Hausdorff distance: link a~b when BOTH
    directed distances <= threshold, then take connected components
    (the clustering use the reference's Hausdorff operator exists to
    serve; symmetric max is the standard Hausdorff metric)."""
    m = matrix.select(space_a, space_b, distance)
    sym = (
        m.alias("f")
        .join(
            m.alias("r"),
            (F.col(f"f.{space_a}") == F.col(f"r.{space_b}"))
            & (F.col(f"f.{space_b}") == F.col(f"r.{space_a}")),
        )
        .select(
            F.col(f"f.{space_a}").alias("src"),
            F.col(f"f.{space_b}").alias("dst"),
            F.greatest(F.col(f"f.{distance}"), F.col(f"r.{distance}")).alias("h"),
        )
    )
    edges = sym.where(F.col("h") <= threshold)
    cc = connected_components(edges)
    return cc.select(F.col("vertex").alias("space"), F.col("component").alias("cluster"))


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(doc_id, canonical_id, split) — train/val/test assignment that
    can never leak near-duplicates across splits.

    Hashing raw doc ids (the naive split) puts the two halves of a
    near-dup pair in different splits, so eval text the model has
    memorized from train contaminates the metric (Lee et al. 2022 §6
    measure exactly this).  The fix is to split by CLUSTER: resolve
    near-dup candidate pairs to connected components (dedup_clusters),
    give every document its canonical id (itself when unpaired), and
    assign the split from a deterministic arithmetic hash of the
    CANONICAL id — every member of a component inherits the same draw.

    The hash is ``(canonical_id % p) * 2654435761 % p`` with p =
    1000003, mod-first so the intermediate stays < 2^63 for any int64
    id under ANSI arithmetic; u = hash/p is compared against the
    cumulative weight thresholds in dict order.  Closed-form integer
    arithmetic, so any engine (the DuckDB oracle included) replays the
    exact assignment.

    Ids must be NON-NEGATIVE: Spark's ``%`` keeps the dividend's sign,
    so a negative canonical id yields u < 0 and the row lands in the
    first split regardless of weights (ADVICE r5).  The oracle mirrors
    the same formula, so the convention is pinned rather than changed;
    pre-map negative id spaces before splitting.

    Scale shape: components cost O(log diameter) rounds of vertex-id
    shuffles (see connected_components); the split itself is one
    broadcast-free left join of docs against the (small) paired-docs
    component table plus pure codegen arithmetic — no new shuffle at
    the 100-TB corpus beyond the join on doc_id.
    """
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be non-negative and non-empty: {weights}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")

    cc = dedup_clusters(pairs, id_a=id_a, id_b=id_b).withColumnRenamed(
        "doc_id", "__cc_id"
    )
    left = docs.select(F.col(id_col))
    labeled = left.join(cc, left[id_col] == cc["__cc_id"], "left").select(
        left[id_col].alias("doc_id"),
        F.coalesce("canonical_id", left[id_col]).alias("canonical_id"),
    )
    p = 1000003
    u = (F.col("canonical_id") % p) * 2654435761 % p / float(p)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = u < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    split = last if expr is None else expr.otherwise(names[-1])
    return labeled.withColumn("split", split)
