"""BPE (byte-pair-encoding) pair statistics at corpus scale: the
statistic a BPE tokenizer's merge rules are learned from.

Classic BPE (Sennrich et al. 2016, the GPT-2 recipe) starts from
characters and repeatedly merges the most frequent adjacent symbol pair.
The statistic needs only WORD FREQUENCIES, never positions:

- ``word_frequencies`` collapses the corpus once (ONE exchange, map-side
  combined). Everything after runs on the distinct-word table — bounded by
  vocabulary (~1e7-1e8 rows for a web corpus), orders of magnitude smaller
  than the corpus.
- ``pair_counts`` is one pair-count aggregation over that table (map-side
  combined); the corpus is never rescanned.

Reference analog: none — kg-obo has no tokenizer; this extends the
engine's LLM-training-data family (SURVEY §2.6 text functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_obo_spark.functions.text import tokens

__all__ = [
    "word_frequencies",
    "char_symbols",
    "pair_counts",
]


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, freq)`` over the engine token model — the one corpus-wide
    exchange of BPE training (hash(word), map-side combined)."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def char_symbols(word_freq: DataFrame) -> DataFrame:
    """``(word, freq, syms)``: the round-0 state — each word split into
    single-character symbols (JVM-side, ``split(word, '')``)."""
    return word_freq.select(
        "word", "freq", F.split("word", "").alias("syms")
    )


def pair_counts(syms_df: DataFrame) -> DataFrame:
    """``(a, b, n)``: adjacent symbol-pair counts weighted by word
    frequency. The zip of the symbol array with its own tail enumerates
    pairs map-side; the only exchange is the (pair-vocabulary-sized)
    count aggregation."""
    pairs = syms_df.select(
        "freq",
        F.explode(
            F.arrays_zip(
                F.expr("slice(syms, 1, size(syms) - 1)").alias("a"),
                F.expr("slice(syms, 2, size(syms) - 1)").alias("b"),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    ).agg(F.sum("freq").alias("n"))
