"""BPE tokenizer: replace-chain encode vs classic lowest-rank-first
BPE, distributed training determinism, DuckDB oracle parity.

Reference anchor: cuspatial has no tokenizer — this covers the
builder-brief "token counting (BPE)" requirement with a real merge
table (trained, not chars/4).
"""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from cuspatial_spark.textops.analysis import BPE_TOKEN_PATTERN
from cuspatial_spark.textops.bpe import (
    DEFAULT_MERGES,
    bpe_chain_sql,
    bpe_tokenize,
    check_merge_table,
    train_bpe,
)

RANKS = {pair: i for i, pair in enumerate(DEFAULT_MERGES)}


def classic_bpe(pre_token: str, ranks=RANKS) -> list[str]:
    """Textbook BPE encode: repeatedly merge the lowest-rank adjacent
    pair present, all occurrences left-to-right non-overlapping."""
    toks = list(pre_token)
    while len(toks) > 1:
        best = None
        for i in range(len(toks) - 1):
            r = ranks.get((toks[i], toks[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, toks[i], toks[i + 1])
        if best is None:
            return toks
        _, a, b = best
        out, i = [], 0
        while i < len(toks):
            if i < len(toks) - 1 and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def classic_count(text: str) -> int:
    return sum(
        len(classic_bpe(pt)) for pt in re.findall(BPE_TOKEN_PATTERN, text)
    )


SAMPLES = [
    "the query window sort order column scan",
    "group by key then join and merge the sorted partitions",
    "aaa bbb window window window",
    "  leading   spaces\tand\ttabs ",
    "punct!!! 12345 mixed42tokens?",
    "",
    "x",
    "ssssss",  # repeated chars exercise overlap semantics
]


class TestEncodeEquivalence:
    def test_spark_matches_classic(self, spark):
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(SAMPLES)], ["i", "text"]
        )
        out = (
            bpe_tokenize(df, DEFAULT_MERGES, with_ids=True)
            .orderBy("i")
            .collect()
        )
        for row in out:
            text = SAMPLES[row.i]
            expected = [
                t for pt in re.findall(BPE_TOKEN_PATTERN, text)
                for t in classic_bpe(pt)
            ]
            assert row.bpe_tokens == expected, text
            assert row.bpe_n_tokens == len(expected)
            assert len(row.bpe_ids) == len(expected)
            # merged tokens map to 256+rank; all ids in range
            for tok, tid in zip(row.bpe_tokens, row.bpe_ids):
                if (len(tok) > 1) and any(
                    a + b == tok for a, b in DEFAULT_MERGES
                ):
                    assert tid >= 256
                assert 0 <= tid < 256 + len(DEFAULT_MERGES)

    def test_detokenize_roundtrip(self, spark):
        df = spark.createDataFrame([(s,) for s in SAMPLES if s], ["text"])
        out = bpe_tokenize(df, DEFAULT_MERGES, with_ids=True).collect()
        for row in out:
            assert "".join(row.bpe_tokens) == "".join(
                re.findall(BPE_TOKEN_PATTERN, row.text)
            )

    def test_duckdb_oracle_parity(self):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT * FROM (VALUES "
            + ", ".join(
                f"({i}, '{s}')" for i, s in enumerate(SAMPLES) if "'" not in s
            )
            + ") v(i, text)"
        )
        expr = bpe_chain_sql(DEFAULT_MERGES, "text")
        rows = con.execute(
            f"SELECT i, {expr} AS n FROM t ORDER BY i"
        ).fetchall()
        for i, n in rows:
            assert n == classic_count(SAMPLES[i]), SAMPLES[i]


class TestRankOrderTheorem:
    """Property-test the design theorem the codegen encoder relies on:
    for any merge table with the TRAINING-ORDER property (each merge's
    components are single chars or outputs of strictly earlier
    merges, and no two merges share an output), applying merges
    rank-ascending, each exhaustively left-to-right, equals classic
    lowest-rank-first BPE."""

    @staticmethod
    def chain_apply(pre_token: str, merges) -> list[str]:
        """Pure-Python simulation of the replace-chain semantics."""
        toks = list(pre_token)
        for a, b in merges:
            out, i = [], 0
            while i < len(toks):
                if i < len(toks) - 1 and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    def test_random_tables_and_words(self):
        from hypothesis import given, settings, strategies as st

        alphabet = "abc"

        @st.composite
        def table_and_word(draw):
            # grow a valid training-order table: components are chars
            # or earlier outputs
            vocab = list(alphabet)
            merges = []
            for _ in range(draw(st.integers(0, 12))):
                a = draw(st.sampled_from(vocab))
                b = draw(st.sampled_from(vocab))
                if a + b in vocab:
                    continue
                merges.append((a, b))
                vocab.append(a + b)
            word = draw(st.text(alphabet=alphabet, min_size=0, max_size=24))
            return merges, word

        @given(table_and_word())
        @settings(max_examples=300, deadline=None)
        def check(tw):
            merges, word = tw
            ranks = {p: i for i, p in enumerate(merges)}
            check_merge_table(merges)
            assert self.chain_apply(word, merges) == classic_bpe(word, ranks)

        check()

    # 'aaaa' is built at rank 2 and again at rank 4; rank 4 enables
    # (b, aaaa) at rank 3 after the chain has passed it.
    SHARED_OUTPUT = [
        ("a", "a"), ("a", "aa"), ("aaa", "a"), ("b", "aaaa"), ("aa", "aa"),
    ]

    def test_shared_output_table_rejected(self, spark):
        merges = self.SHARED_OUTPUT
        ranks = {p: i for i, p in enumerate(merges)}
        assert classic_bpe("baaaa", ranks) == ["baaaa"]
        assert self.chain_apply("baaaa", merges) == ["b", "aaaa"]
        with pytest.raises(ValueError, match="already the output"):
            check_merge_table(merges)
        with pytest.raises(ValueError, match="already the output"):
            bpe_chain_sql(merges, "text")
        df = spark.createDataFrame([("baaaa",)], ["text"])
        with pytest.raises(ValueError, match="already the output"):
            bpe_tokenize(df, merges)

    def test_part_from_later_merge_rejected(self):
        with pytest.raises(ValueError, match="neither a single"):
            check_merge_table([("a", "bc"), ("b", "c")])
        check_merge_table(DEFAULT_MERGES)


class TestTraining:
    def test_frozen_table_reproducible(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        merges = train_bpe(docs, 12)
        assert merges == DEFAULT_MERGES[:12]

    def test_training_learns_frequent_pairs(self, spark):
        df = spark.createDataFrame(
            [("ab ab ab ab cd cd",)] * 3, ["text"]
        )
        merges = train_bpe(df, 3, min_freq=2)
        assert ("a", "b") in merges

    def test_single_char_words_no_crash(self, spark):
        df = spark.createDataFrame([("a b c",)], ["text"])
        assert train_bpe(df, 2, min_freq=5) == []


class TestSparkPlan:
    def test_encode_is_pure_codegen(self, spark):
        """The tokenizer must add no shuffle and no Python stage —
        it's one projection over the scan at any scale."""
        df = spark.createDataFrame([("the window",)], ["text"])
        out = bpe_tokenize(df, DEFAULT_MERGES, with_ids=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan and "MapInPandas" not in plan
