"""BPE pair statistics, and the tokenizer seam's ``counts_frame`` stage."""

from kg_obo_spark.functions.bpe import (
    char_symbols,
    pair_counts,
    word_frequencies,
)
from kg_obo_spark.functions.tokenizer import GreedyWordpiece


def test_pair_counts_weighted_by_word_freq(spark):
    df = spark.createDataFrame([("aa aa ab",)], "text string")
    pc = {
        (r.a, r.b): r.n
        for r in pair_counts(char_symbols(word_frequencies(df))).collect()
    }
    # wf = {aa: 2, ab: 1}; word "aa" has ONE adjacent pair, weighted 2
    assert pc == {("a", "a"): 2, ("a", "b"): 1}


def test_counts_frame_inherited_stage_matches_encode(spark):
    tok = GreedyWordpiece()
    df = spark.createDataFrame(
        [(0, "the other"), (1, "")], "doc_id long, text string"
    )
    got = {r.doc_id: r.n_tok for r in tok.counts_frame(df).collect()}
    assert got == {0: tok.n_tokens("the other"), 1: 0}
