"""Real merge-table BPE tokenizer, Spark-first.

Two halves, both fully distributed and UDF-free:

**Training** (`train_bpe`): classic byte-pair-encoding training
(Sennrich et al. 2016) run as a Spark loop over the *distinct
pre-token vocabulary* — the corpus collapses to (pre_token, freq)
once, so each merge iteration is a pair-count shuffle over the vocab
table (millions of rows at 100 TB, not trillions), an `orderBy(...)
.first()` distributed top-1, and a pure-codegen `replace` projection.
Lineage is cut with `localCheckpoint` every 16 merges.

**Encoding** (`bpe_tokenize`): BPE merges can be applied in training
order, each exhaustively — merging pair k can only create tokens that
participate in *later*-learned merges, so rank-ascending exhaustive
application is equivalent to the classic "repeatedly merge the
lowest-rank pair present" loop.  That needs two things of the table:
each merge's parts are single characters or outputs of earlier
merges, and no two merges produce the same token (a later merge that
rebuilds an earlier token could enable an earlier-ranked merge after
the chain has passed it); `check_merge_table` rejects a table that
breaks either.  That makes encoding a chain of
LITERAL `replace()` calls over a ``\\x01``-delimited character string:
pure JVM codegen, zero Python, zero shuffles — one pass over the
corpus at any scale.  The same chain runs verbatim in any SQL engine
(the driver oracle re-runs it in DuckDB), so the tokenizer is
hash-checked end to end.

Reference anchor: the reference engine has no tokenizer (cuspatial is
geospatial); this implements the builder-brief "token counting (BPE)"
pipeline requirement as a first-class scalable operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .analysis import BPE_TOKEN_PATTERN

# Token separator inside the working string: \x01 never appears in
# normal text and both Spark and DuckDB treat it as an ordinary char.
SEP = "\x01"

# Frozen output of train_bpe(sf0.001 documents, n_merges=64) — the
# committed merge table the driver oracle replays.  Reproducible:
# tests/test_bpe.py re-derives the first merges from the same table
# and asserts prefix equality.
DEFAULT_MERGES: list[tuple[str, str]] = [
    (" ", "s"), ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"),
    ("l", "u"), ("a", "r"), ("p", "ar"), (" ", "a"), (" ", "v"),
    ("a", "s"), (" ", "c"), ("m", "er"), ("a", "t"), (" ", "f"),
    (" ", "t"), (" ", "b"), ("a", "n"), ("c", "an"), ("lu", "m"),
    ("lum", "n"), ("o", "lumn"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("par", "t"), ("u", "p"), (" s", "ort"), (" ", "window"),
    (" ", "order"), (" c", "olumn"), (" s", "can"), ("g", "g"),
    (" ", "part"), ("a", "lu"), ("alu", "e"), ("in", "e"),
    ("l", "ine"), ("e", "y"), ("k", "ey"), (" a", "gg"),
    ("j", "o"), ("jo", "in"), ("g", "e"), ("mer", "ge"),
    ("er", "y"), ("g", "r"), ("gr", "o"), ("gro", "up"),
    ("q", "u"), ("qu", "ery"), (" v", "alue"), (" ", "line"),
    ("c", "t"), ("ct", "or"), ("e", "ctor"), (" ", "key"),
    ("as", "h"), ("h", "ash"), (" ", "join"), ("l", "ow"),
]


def check_merge_table(merges: list[tuple[str, str]]) -> None:
    """Raise ValueError unless every merge's parts are single
    characters or outputs of earlier merges and every output is new —
    the conditions under which the rank-ordered replace chain equals
    classic BPE (see module doc)."""
    outputs: set[str] = set()
    for rank, (a, b) in enumerate(merges):
        for part in (a, b):
            if len(part) != 1 and part not in outputs:
                raise ValueError(
                    f"merge {rank} {(a, b)}: {part!r} is neither a single "
                    "character nor the output of an earlier merge"
                )
        if a + b in outputs:
            raise ValueError(
                f"merge {rank} {(a, b)}: {a + b!r} is already the output "
                "of an earlier merge"
            )
        outputs.add(a + b)


def _char_split(col: Column) -> Column:
    """'abc' -> '\\x01a\\x01b\\x01c' (one token per character)."""
    return F.regexp_replace(col, "(.)", SEP + "$1")


def _apply_merges(col: Column, merges: list[tuple[str, str]]) -> Column:
    """Exhaustively apply each merge in rank order — see module doc
    for why this equals classic lowest-rank-first BPE."""
    out = col
    for a, b in merges:
        out = F.replace(out, F.lit(SEP + a + SEP + b), F.lit(SEP + a + b))
    return out


def _split_state(state: Column) -> Column:
    """Delimited state -> array of tokens (drops the leading empty
    element; no real token is ever the empty string)."""
    return F.filter(F.split(state, SEP), lambda x: F.length(x) > 0)


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    result: str = "bpe",
    with_ids: bool = False,
) -> DataFrame:
    """Adds ``{result}_n_tokens`` (long) and, when ``with_ids``,
    ``{result}_ids`` (array<int> over the vocab: 256 byte-ish base ids
    for unseen chars hashed into [0,256), then merge ranks offset by
    256) plus ``{result}_tokens`` (array<string>).

    Pure built-ins: pre-tokenize with the portable GPT-2-style regex,
    run the replace-chain per pre-token inside a ``transform`` lambda,
    count/flatten.  No Python stage, no shuffle.
    """
    check_merge_table(merges)
    t = F.coalesce(F.col(text_col), F.lit(""))
    # guard: strip the separator if it ever appears in input
    t = F.replace(t, F.lit(SEP), F.lit(""))
    pre = F.regexp_extract_all(t, F.lit(BPE_TOKEN_PATTERN), F.lit(0))
    merged = F.transform(pre, lambda p: _apply_merges(_char_split(p), merges))
    # token count per pre-token == number of separators in its state
    n = F.aggregate(
        merged,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + (F.length(s) - F.length(F.replace(s, F.lit(SEP), F.lit("")))).cast(
            "long"
        ),
    )
    out = docs.withColumn(f"{result}_n_tokens", n)
    if with_ids:
        toks = F.flatten(F.transform(merged, _split_state))
        vocab = {a + b: 256 + rank for rank, (a, b) in enumerate(merges)}
        id_map = F.create_map(
            *[x for tok, i in vocab.items() for x in (F.lit(tok), F.lit(i))]
        )
        ids = F.transform(
            toks,
            lambda tok: F.coalesce(
                F.element_at(id_map, tok),
                F.pmod(F.hash(tok), F.lit(256)),
            ).cast("int"),
        )
        out = out.withColumn(f"{result}_tokens", toks).withColumn(
            f"{result}_ids", ids
        )
    return out


def bpe_chain_sql(merges: list[tuple[str, str]], text_expr: str) -> str:
    """The SAME tokenizer as portable SQL: returns an expression
    computing the BPE token count of ``text_expr`` — used by the
    driver oracle so DuckDB replays the replace chain verbatim."""
    check_merge_table(merges)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    state = f"regexp_replace(t.pt, '(.)', {q(SEP + chr(92) + '1')}, 'g')"
    for a, b in merges:
        state = f"replace({state}, {q(SEP + a + SEP + b)}, {q(SEP + a + b)})"
    return (
        f"(SELECT coalesce(sum(length({state}) - "
        f"length(replace({state}, {q(SEP)}, ''))), 0) "
        f"FROM unnest(regexp_extract_all(replace({text_expr}, {q(SEP)}, ''), "
        f"{q(BPE_TOKEN_PATTERN)})) AS t(pt))"
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Distributed BPE training.  Collapses the corpus to a
    (pre_token, freq) vocab table, then per merge: explode adjacent
    symbol pairs weighted by freq, pick the global argmax with a
    deterministic tie-break (count DESC, left ASC, right ASC), apply
    it with one codegen ``replace``.  Stops early when the best pair
    drops under ``min_freq``."""
    t = F.replace(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(SEP), F.lit("")
    )
    vocab = (
        docs.select(
            F.explode(
                F.regexp_extract_all(t, F.lit(BPE_TOKEN_PATTERN), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(_char_split(F.col("w")).alias("s"), "freq")
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        # adjacent symbol pairs: tok[i] with tok[i+1], weighted by freq
        # (zip_with over an inline slice of the same expression
        # mis-binds its lambda vars in Spark 4.1 — use element_at)
        pairs = (
            vocab.select(F.split(F.col("s"), SEP).alias("t"), "freq")
            .select(
                F.explode(
                    F.transform(
                        F.slice(F.col("t"), 2, F.greatest(F.size("t") - 2, F.lit(0))),
                        lambda e, idx: F.struct(
                            e.alias("a"),
                            F.element_at(F.col("t"), idx + F.lit(3)).alias("b"),
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
        )
        best = pairs.orderBy(
            F.desc("n"), F.asc("a"), F.asc("b")
        ).first()
        if best is None or best["n"] < min_freq:
            break
        a, b = best["a"], best["b"]
        merges.append((a, b))
        vocab = vocab.withColumn(
            "s", F.replace(F.col("s"), F.lit(SEP + a + SEP + b), F.lit(SEP + a + b))
        )
        if (i + 1) % 16 == 0:
            vocab = vocab.localCheckpoint()
    return merges
