"""Temperature-weighted data-mixture sampling — deterministic
up/down-sampling of corpus domains to target proportions.

Training mixtures are never raw corpus proportions: GPT-3 (Table 2.2)
and LLaMA both re-weight sources, and The Pile assigns per-dataset
epoch counts > 1 — i.e. a sampler must both down-sample huge domains
(keep a fraction) and up-sample small ones (emit repeat copies).  The
standard smoothing is temperature scaling: sampling mass for domain d
is ``c_d ** alpha`` (``alpha`` < 1 flattens the Zipf head; multilingual
pretraining typically uses alpha ≈ 0.3-0.7).

Everything here is deterministic: the Bernoulli draw for a row is a
pure function of (id, seed) via an md5-derived uniform, so re-running
the job bit-reproduces the corpus AND any ANSI-SQL engine replays it
exactly (md5 is everywhere; see ``mixture_oracle_suffix_sql``).

Scale shape: one partial-aggregated ``groupBy(domain)`` (output =
#domains, tiny), a broadcast join of the per-domain rate table back
onto the corpus, and a row-local ``explode(sequence(...))`` for
copies — the corpus itself is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _uniform(id_col: str, seed: int, copy=None):
    """Deterministic uniform in [0, 1): the first 8 hex chars of
    md5(seed:id[:copy]) as a 32-bit integer / 2^32.  Exactly
    replayable in any SQL engine with md5()."""
    key = F.concat_ws(
        ":",
        F.lit(str(seed)),
        F.col(id_col).cast("string"),
        *([] if copy is None else [copy.cast("string")]),
    )
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double") / F.lit(
        float(1 << 32)
    )


def mixture_rates(
    docs: DataFrame,
    domain_col: str,
    alpha: float = 0.5,
    total_rows: int | None = None,
    weight_col: str | None = None,
    max_rate: float = 10.0,
    materialize: bool = True,
) -> DataFrame:
    """Per-domain sampling rates: ``rate_d = target_d / c_d`` where
    ``target_d ∝ c_d ** alpha`` normalized so the expected output size
    is ``total_rows`` (defaults to the input size — pure re-balancing).
    ``c_d`` is the row count, or the sum of ``weight_col`` (e.g. token
    counts) when given.  Rates are capped at ``max_rate`` epochs so a
    single tiny domain cannot explode the output.

    Returns (domain, c, rate) — #domains rows, broadcastable.

    With ``materialize`` (default) the per-domain counts are collected
    once (#domains rows — bounded by the domain vocabulary, not the
    corpus) and the rate table is rebuilt as a LITERAL DataFrame: the
    corpus aggregation runs exactly one job, and downstream joins
    against the rates don't re-embed (and re-execute) the corpus
    lineage in their plans.  ``materialize=False`` keeps the fully
    lazy plan for callers that manage caching themselves.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1]: {alpha}")
    mass = (
        F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    ).cast("double")
    counts = docs.groupBy(F.col(domain_col).alias("domain")).agg(mass.alias("c"))
    if materialize:
        counts = docs.sparkSession.createDataFrame(counts.toArrow(), counts.schema)
    tot = counts.agg(
        F.sum("c").alias("n"), F.sum(F.pow("c", F.lit(alpha))).alias("z")
    ).collect()[0]
    if tot["n"] is None:  # empty input: empty rate table, same schema
        return counts.select("domain", "c", F.lit(0.0).alias("rate"))
    budget = float(total_rows if total_rows is not None else tot["n"])
    # target_d = budget * c^alpha / z ; rate = target / c.  Rates are
    # rounded to 9 decimals so any replaying engine (whose pow()/sum
    # may differ in the last ulp) lands on the bit-identical rate —
    # floor(rate) and the Bernoulli threshold then agree exactly.
    return counts.select(
        "domain",
        "c",
        F.round(
            F.least(
                F.lit(budget)
                * F.pow("c", F.lit(alpha))
                / F.lit(float(tot["z"]))
                / F.col("c"),
                F.lit(float(max_rate)),
            ),
            9,
        ).alias("rate"),
    )


def sample_mixture(
    docs: DataFrame,
    rates: DataFrame,
    domain_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Apply a (domain, rate) table: each row is emitted
    ``floor(rate)`` times plus one more with probability
    ``frac(rate)`` — expected copies == rate, exact, deterministic.
    Output rows carry ``copy`` (0-based) so downstream packing sees
    distinct rows; all other columns pass through.

    The rate table joins broadcast (#domains rows); the copy fan-out
    is a row-local ``explode(sequence())`` — zero shuffles of the
    corpus.
    """
    joined = docs.join(
        F.broadcast(rates.select(F.col("domain").alias(domain_col), "rate")),
        on=domain_col,
        how="inner",
    )
    base = F.floor(F.col("rate")).cast("int")
    frac = F.col("rate") - F.floor(F.col("rate"))
    n_copies = base + (_uniform(id_col, seed) < frac).cast("int")
    return (
        joined.withColumn("__n", n_copies)
        .where(F.col("__n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n", "rate")
    )


def mixture_oracle_suffix_sql(
    docs_cte: str,
    rates_cte: str,
    domain_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> str:
    """ANSI-SQL replay of :func:`sample_mixture` over CTEs
    ``docs_cte`` (... {domain_col}, {id_col} ...) and ``rates_cte``
    (domain, rate) — the md5 uniform makes the Bernoulli identical."""
    u = (
        f"CAST(('0x' || substring(md5('{seed}:' || CAST(d.{id_col} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) / 4294967296.0"
    )
    return f"""
        n AS (
          SELECT d.*, CAST(floor(r.rate) AS INT)
                      + CASE WHEN {u} < r.rate - floor(r.rate) THEN 1 ELSE 0 END AS __n
          FROM {docs_cte} d JOIN {rates_cte} r ON d.{domain_col} = r.domain
        )
        SELECT n.* EXCLUDE (__n), CAST(u.c AS INT) AS copy
        FROM n, UNNEST(range(0, __n)) AS u(c)
        WHERE __n > 0
    """
