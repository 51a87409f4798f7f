"""Sequence packing — GPT-style concat-and-chunk assignment of
documents to fixed-length training sequences.

Training pipelines do not feed documents one-per-sequence: they
concatenate the tokenized corpus in a deterministic order and cut it
every ``seq_len`` tokens (GPT-2/3, The Pile, LLaMA all train this
way).  The operator therefore needs ONE global quantity per document
— the exclusive prefix sum of token counts in corpus order — and
everything else (which sequences a document lands in, at what offset)
is row-local arithmetic.

Scale shape: a naive ``Window.orderBy(id)`` prefix sum funnels the
whole corpus through a single task.  This uses the same two-level
prefix sum as ``operators.trajectory.derive_trajectories``: range
partition on the id, cumsum under a PARTITIONED window, and combine
the per-partition totals (one row per partition, bounded by
parallelism, not data) on the driver.  At 10^12 documents that is one
range shuffle plus a ~thousand-row driver combine.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
    shuffle_seed: int | None = None,
) -> DataFrame:
    """Assign every document its place in the packed token stream.

    Documents are concatenated in ``id_col`` order — or, with
    ``shuffle_seed`` set, in ``md5(seed:id)`` order: the deterministic
    global shuffle a training run applies before concat-and-chunk so
    adjacent crawl documents don't share sequences.  The stream is cut
    into sequences of exactly ``seq_len`` tokens (documents may span a
    cut — that is the point of concat-and-chunk).  Returns one row per
    input document:

    - ``start_token``  — exclusive prefix sum of ``weight_col``
    - ``seq_first``    — sequence index holding the document's first token
    - ``seq_last``     — sequence index holding its last token
      (``seq_first`` for empty documents)
    - ``n_seqs``       — ``seq_last - seq_first + 1``

    Null/negative weights count as 0.  The assignment is a pure
    function of the (id, weight) multiset and the seed, so any engine
    replays it with one ``SUM ... OVER (ORDER BY <order key> ROWS
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` — see
    ``pack_oracle_suffix_sql``.  The shuffled mode costs the same one
    range shuffle: the range partitioner just keys on the md5 order
    key instead of the id.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive: {seq_len}")
    if shuffle_seed is None:
        order_cols = [id_col]
        sel_extra = []
    else:
        okey = F.md5(
            F.concat_ws(
                ":", F.lit(str(int(shuffle_seed))), F.col(id_col).cast("string")
            )
        ).alias("__ok")
        order_cols = ["__ok", id_col]
        sel_extra = [okey]
    counts = (
        docs.select(
            id_col,
            F.greatest(
                F.coalesce(F.col(weight_col).cast("long"), F.lit(0)), F.lit(0)
            ).alias("__w"),
            *sel_extra,
        )
        .repartitionByRange(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        # pin partition assignment between the totals pass and the
        # window pass (same contract as derive_trajectories)
        .localCheckpoint(eager=False)
    )
    totals = (
        counts.groupBy("__pid").agg(F.sum("__w").alias("t")).toArrow().sort_by("__pid")
    )
    t = totals["t"].to_numpy()
    base_df = docs.sparkSession.createDataFrame(
        pa.table({"__pid": totals["__pid"], "__base": np.cumsum(t) - t}),
        schema="__pid: int, __base: long",
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (F.col("__base") + F.coalesce(F.sum("__w").over(w), F.lit(0))).alias(
        "start_token"
    )
    out = counts.join(F.broadcast(base_df), on="__pid").select(
        id_col, F.col("__w").alias(weight_col), start
    )
    first = F.floor(F.col("start_token") / seq_len).cast("long")
    last = F.floor(
        (F.col("start_token") + F.greatest(F.col(weight_col), F.lit(1)) - 1)
        / seq_len
    ).cast("long")
    return out.select(
        id_col,
        weight_col,
        "start_token",
        first.alias("seq_first"),
        last.alias("seq_last"),
        (last - first + 1).alias("n_seqs"),
    )


def pack_oracle_suffix_sql(
    counts_cte: str,
    seq_len: int = 2048,
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
    shuffle_seed: int | None = None,
) -> str:
    """ANSI-SQL replay of :func:`pack_sequences` over a CTE named
    ``counts_cte`` exposing ``(id_col, weight_col)``."""
    w = f"greatest(coalesce(CAST({weight_col} AS BIGINT), 0), 0)"
    if shuffle_seed is None:
        order = id_col
    else:
        order = (
            f"md5('{int(shuffle_seed)}:' || CAST({id_col} AS VARCHAR)), {id_col}"
        )
    return f"""
        pref AS (
          SELECT {id_col}, {w} AS __w,
                 CAST(coalesce(SUM({w}) OVER (
                   ORDER BY {order}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS start_token
          FROM {counts_cte}
        )
        SELECT {id_col}, __w AS {weight_col}, start_token,
               CAST(floor(start_token / {seq_len}.0) AS BIGINT) AS seq_first,
               CAST(floor((start_token + greatest(__w, 1) - 1) / {seq_len}.0)
                    AS BIGINT) AS seq_last,
               CAST(floor((start_token + greatest(__w, 1) - 1) / {seq_len}.0)
                    - floor(start_token / {seq_len}.0) + 1 AS BIGINT) AS n_seqs
        FROM pref
    """
