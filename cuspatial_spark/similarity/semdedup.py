"""SemDeDup-style semantic deduplication over an embedding column.

Web-scale training corpora carry *semantic* duplicates — rephrased
boilerplate, templated pages, mirrored articles — that no exact or
MinHash pass catches.  The SemDeDup recipe (Abbas et al. 2023,
arXiv:2303.09540) prunes them: cluster the embedding space with
k-means, then compare pairs only WITHIN a cluster and drop all but
one member of every high-cosine group.  The clustering is what makes
it tractable: the O(N^2) pair space collapses to sum_c m_c^2 with
m_c bounded by cluster granularity.

Spark shape (all sizes are per-cluster, never global):

1. **assign** — nearest-centroid id per row via one Arrow-batched
   vectorized ``pandas_udf`` (`ann._assign_centroids`, shared with
   IVF).  Map-only; fuses into the scan.
2. **sweep** — ONE hash shuffle grouping rows by cluster, then a
   grouped-map (``applyInPandas``) kernel per cluster: members sort
   by id, the pairwise cosine block accumulates dim-major
   (``_sweep_group``), and each member j emits the max cosine to the
   members before it.  The kernel reproduces the oracle's SQL fold
   bit-for-bit — the accumulation adds term k to the running sum in
   the same left-to-right order as ``dot = x1*y1 + x2*y2 + ...`` —
   so results are hash-exact against the relational re-derivation.
   (A pure-JVM pair equi-join was benchmarked first: carrying two
   64-float arrays through the join and evaluating a per-pair
   expression ran ~6x slower than the vectorized kernel, and its
   parallelism is capped by distinct-cluster count on the join key
   either way.  The kernel is the honest winner at every scale.)
3. **decide** — ``is_kept = nn_smaller_sim < threshold`` inside the
   kernel; the smallest id of every duplicate group always survives.
   Deterministic, order-free, and expressible in ANSI SQL, which is
   what the driver oracle checks.

Keep-rule note: dropping j whenever ANY smaller-id neighbor exceeds
the threshold is the transitive-free "star" rule (the same canonical
convention as ``textops.dedup.lsh_pairs(canonical=True)``) — j is
dropped even if its witness i was itself dropped.  SemDeDup's paper
variant (keep the member farthest from the centroid, iterate) is a
greedy sequential scan per cluster; the star rule keeps the decision
a pure per-row function of the pair sims and over-drops only within
groups that are already mutually-similar chains.

100-TB sizing: ``n_centroids`` scales WITH the corpus (the paper uses
k = 50k for 5B docs) so m_c = N/k stays roughly constant; the one
shuffle moves O(N) rows and each task sweeps whole clusters.  k must
be >> ``spark.sql.shuffle.partitions`` or cluster-key skew serializes
the sweep — at the 500-row test scale the 8-centroid fixture is
intentionally tiny.  Kernel memory is O(block x m_c) doubles (the
m_c x m_c similarity matrix is never materialized; rows sweep in
blocks), plus the m_c x dim member matrix Arrow already ships.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import _assign_centroids, train_centroids

# cells per sweep block: bounds each scratch matrix to ~4 MB of
# doubles.  Deliberately modest — fresh multi-MB numpy allocations on
# cgroup-limited hosts cost orders of magnitude more than the math
# (mmap + page-fault churn), so the sweep allocates its scratch ONCE
# per group and reuses views across blocks.
_BLOCK_CELLS = 1 << 19


def _sweep_group(
    E: np.ndarray, ids: np.ndarray, threshold: float, out_start: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Per-cluster sweep: for each member j (ascending id), the max
    cosine to members 0..j-1, and the keep flag.  ``out_start`` skips
    the sweep for rows before it (they are prefix context only — the
    block-parallel path); their nn stays NaN.

    The dot/norm accumulation is DIM-MAJOR and sequential —
    ``acc += E[:,k] * E[:,k].T`` for k = 0..dim-1 — which associates
    additions left-to-right exactly like the SQL expression
    ``x1*y1 + x2*y2 + ...`` the driver oracle runs, so every cosine
    is bit-identical to the relational re-derivation (BLAS ``@``
    would reorder the sum and drift in the last ulp)."""
    m, dim = E.shape
    # sequential-order squared norms (the diagonal of the full
    # sequential dot): acc_k += x_k^2
    nsq = np.zeros(m)
    for k in range(dim):
        nsq += E[:, k] * E[:, k]
    norms = np.sqrt(nsq)

    # Two passes.  SCREEN: a BLAS similarity block (cache-blocked
    # dgemm — compute-bound, unlike a dim-major rank-1 loop which is
    # pure memory traffic and stops scaling past a few cores) finds
    # each row's near-argmax candidate set.  EXACT: only those pairs
    # (~1 per row) are recomputed with the sequential dim-major
    # accumulation the SQL oracle uses, vectorized ACROSS pairs, so
    # the returned value is still bit-identical to the relational
    # re-derivation.  BLAS-vs-sequential drift is bounded ~1e-12 for
    # unit vectors; the 1e-9 screen tolerance leaves 3 orders of
    # margin, so the true sequential max is always among the
    # candidates.  (Worst case — many exactly-tied maxima, e.g. a
    # cluster of identical vectors — recomputes each tie, degrading
    # toward O(m^2) sequential work only for degenerate inputs.)
    unit = E / norms[:, None]
    nn = np.full(m, np.nan)
    block = max(1, _BLOCK_CELLS // max(m, 1))
    buf_s = np.empty((min(block, m), max(m - 1, 1)))
    for r0 in range(max(int(out_start), 1), m, block):
        r1 = min(r0 + block, m)
        width = r1 - 1  # row j only needs columns < j
        S = buf_s[: r1 - r0, :width]
        np.matmul(unit[r0:r1], unit[:width].T, out=S)
        rows_idx, cands = [], []
        for j in range(r0, r1):
            row = S[j - r0, :j]
            c = np.nonzero(row >= row.max() - 1e-9)[0]
            rows_idx.append(np.full(len(c), j))
            cands.append(c)
        ja = np.concatenate(rows_idx)
        jb = np.concatenate(cands)
        # exact sequential-order cosines for the candidate pairs only
        acc = np.zeros(len(ja))
        A, B = E[ja], E[jb]
        for k in range(dim):
            acc += A[:, k] * B[:, k]
        exact = acc / (norms[ja] * norms[jb])
        best = np.full(m, -np.inf)
        np.maximum.at(best, ja, exact)
        nn[r0:r1] = best[r0:r1]
    kept = np.where(np.isnan(nn), True, nn < threshold)
    return nn, kept


def semantic_dedup(
    vectors: DataFrame,
    centroids: np.ndarray | None = None,
    n_centroids: int = 16,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sweep_block_rows: int = 8192,
) -> DataFrame:
    """Cluster-bounded semantic near-dup pruning.

    Returns one row per input vector:
    ``(id_col, cluster, nn_smaller_sim, is_kept)`` where
    ``nn_smaller_sim`` is the max cosine to any smaller-id member of
    the same cluster (null for each cluster's smallest id) and
    ``is_kept`` is False iff that similarity reaches ``threshold``.

    ``centroids`` (k x dim ndarray) pins the quantizer for
    reproducible runs/oracles; when omitted a mini k-means is trained
    on a cross-partition sample (`ann.train_centroids`).

    r6 skew fix (guide §2.5): a hot cluster used to serialize its
    whole O(m_c^2) sweep onto one task (the k >> shuffle-partitions
    caveat).  Each cluster's sweep now splits into row blocks of
    ``sweep_block_rows`` members: a member is shipped to its own
    block AND every later block of its cluster (prefix replication,
    O(m_c^2 / block) extra rows), so block b sweeps rows
    [b*s, (b+1)*s) against the full prefix in parallel.  The
    screen-then-exact kernel makes the output invariant to blocking
    (the exact pass recomputes candidates in oracle order), so
    results are bit-identical to the single-task sweep.
    """
    if centroids is None:
        centroids = train_centroids(vectors, n_centroids, vec_col=vec_col)
    assigned = _assign_centroids(
        vectors.select(id_col, vec_col), centroids, vec_col, "cluster"
    )
    thr = float(threshold)
    s = max(int(sweep_block_rows), 1)

    from pyspark.sql import Window

    wc = Window.partitionBy("cluster")
    wn = wc.orderBy(id_col)
    rep = (
        assigned.withColumn("__pos", F.row_number().over(wn) - 1)
        .withColumn(
            "__nb",
            F.ceil(F.count(F.lit(1)).over(wc) / F.lit(s)).cast("int"),
        )
        .withColumn(
            "__b",
            F.explode(
                F.sequence(
                    F.floor(F.col("__pos") / F.lit(s)).cast("int"),
                    F.col("__nb") - 1,
                )
            ),
        )
    )

    def sweep(key, pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(key[1])
        # the member order that assigned the blocks: re-sorting by id
        # could order duplicate ids differently in each block and emit
        # one row twice and another never
        pdf = pdf.sort_values("__pos")
        E = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        out_start = min(b * s, len(pdf))
        nn, kept = _sweep_group(
            E, pdf[id_col].to_numpy(), thr, out_start=out_start
        )
        nn, kept = nn[out_start:], kept[out_start:]
        out = pdf.iloc[out_start:]
        # NaN marks "no smaller-id member" — surface it as SQL NULL
        # (a raw float64 NaN would stay NaN through Arrow)
        nn_s = pd.array(nn, dtype="Float64")
        nn_s[np.isnan(nn)] = pd.NA
        return pd.DataFrame(
            {
                id_col: out[id_col].to_numpy(),
                "cluster": out["cluster"].to_numpy(),
                "nn_smaller_sim": nn_s,
                "is_kept": kept,
            }
        )

    return rep.groupBy("cluster", "__b").applyInPandas(
        sweep,
        schema=(
            f"{id_col} long, cluster long, "
            "nn_smaller_sim double, is_kept boolean"
        ),
    )
