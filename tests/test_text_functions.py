"""Text-analysis functions: token counts, quality, lang-id, fingerprints."""

from pyspark.sql import functions as F

from kg_obo_spark.functions.text import (
    fingerprint_md5,
    lang_id,
    quality_score,
    token_count,
)


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col.alias("v")).first()["v"]


def test_token_count(spark):
    assert _one(spark, "a b  c", token_count(F.col("text"))) == 3
    assert _one(spark, "   ", token_count(F.col("text"))) == 0
    assert _one(spark, "", token_count(F.col("text"))) == 0


def test_quality_score_monotone_in_length(spark):
    short = _one(spark, "the cat", quality_score(F.col("text")))
    long = _one(spark, "the cat sat on the mat and it is a fine day " * 10,
                quality_score(F.col("text")))
    assert long > short


def test_lang_id(spark):
    assert _one(spark, "the cat and the dog of it", lang_id(F.col("text"))) == "en"
    assert _one(spark, "der Hund und die Katze ist", lang_id(F.col("text"))) == "de"
    assert _one(spark, "le chat et la souris est", lang_id(F.col("text"))) == "fr"
    assert _one(spark, "xyzzy plugh", lang_id(F.col("text"))) == "und"


def test_fingerprint_normalization(spark):
    a = _one(spark, "Hello   World", fingerprint_md5(F.col("text")))
    b = _one(spark, "  hello world ", fingerprint_md5(F.col("text")))
    c = _one(spark, "hello worlds", fingerprint_md5(F.col("text")))
    assert a == b != c


def test_ngram_repetition_stats_vs_python(spark):
    """Duplicate word-n-gram metrics equal a pure-Python reference on
    hand-built docs (all-distinct, all-identical, mixed, too-short, empty)."""
    from collections import Counter

    from kg_obo_spark.functions.text import ngram_repetition_stats

    rows = [
        (1, "a b c d e"),              # 3 distinct 3-grams, no repeats
        (2, "x y x y x y x y"),        # heavy repetition
        (3, "one two"),                # < n tokens -> no output row
        (4, ""),                       # empty -> no output row
        (5, "p q r p q r p q z"),      # partial repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_grams"],
            r["n_distinct_grams"],
            round(r["dup_gram_frac"], 9),
            round(r["dup_gram_char_frac"], 9),
            round(r["top_gram_char_frac"], 9),
        )
        for r in ngram_repetition_stats(df, n=3).collect()
    }

    want = {}
    for doc_id, text in rows:
        ts = text.split()
        grams = [" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)]
        if not grams or len(ts) < 3:
            continue
        c = Counter(grams)
        total, distinct = len(grams), len(c)
        chars = sum(n * len(g) for g, n in c.items())
        dup_chars = sum(n * len(g) for g, n in c.items() if n > 1)
        top_chars = max(n * len(g) for g, n in c.items())
        want[doc_id] = (
            total,
            distinct,
            round(1.0 - distinct / total, 9),
            round(dup_chars / chars, 9),
            round(top_chars / chars, 9),
        )
    assert got == want
    assert set(got) == {1, 2, 5}
    assert got[1][2] == 0.0 and got[2][2] > 0.5


def test_ngram_contamination_fraction(spark):
    """Overlap fraction = contaminated/distinct; docs shorter than n drop."""
    from kg_obo_spark.functions.text import ngram_contamination

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "short one"), (3, "x y z")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "quick brown fox country")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in ngram_contamination(docs, bench, n=3).collect()}
    assert 2 not in rows  # < 3 tokens -> no grams -> no row
    assert rows[1]["n_distinct_grams"] == 3
    assert rows[1]["n_contaminated"] == 1  # "quick brown fox"
    assert abs(rows[1]["contamination_frac"] - 1 / 3) < 1e-12
    assert rows[3]["n_contaminated"] == 0


def test_scrub_pii_counts_and_replacements(spark):
    """Every pattern family is counted on the raw text and replaced with its
    typed token; clean text passes through byte-identical."""
    from kg_obo_spark.functions.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org or root@h.io, ip 10.0.255.7, tel +4915112345678"),
            (2, "nothing sensitive here 1.2.3 (not an ip) @not-an-email"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *pii_counts(F.col("text")),
            scrub_pii(F.col("text")).alias("s"),
        ).collect()
    }
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 1, 1)
    assert out[1]["s"] == "mail <EMAIL> or <EMAIL>, ip <IP>, tel <PHONE>"
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[2]["s"] == "nothing sensitive here 1.2.3 (not an ip) @not-an-email"


def test_gopher_quality_filter_rules(spark):
    """Each Gopher rule (Rae et al. 2021 §A1.1) fires on a targeted
    counterexample and the keep flag is the conjunction; signals match a
    hand-computed reference."""
    from kg_obo_spark.functions.text import gopher_quality_filter

    good = "the cat " + " ".join(f"word{i:03d}" for i in range(60))  # 62 words
    rows = [
        (1, good),  # passes everything (thresholds below)
        (2, "the cat sat"),  # too few words
        (3, "the " + " ".join(["aa"] * 80)),  # mean word len 2.05 < 3
        (4, "the " + " ".join(["####x"] * 80)),  # symbol ratio >> 0.1
        (5, "the " + " ".join(["123"] * 80)),  # alpha word frac ~0.012
        (6, " ".join(f"word{i:03d}" for i in range(80))),  # zero stopwords
        (7, ""),  # empty: zero words, no division blowup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {
        x["doc_id"]: x
        for x in gopher_quality_filter(df, min_stop_hits=1).collect()
    }
    assert r[1]["keep"] == 1 and all(
        r[1][f] == 1
        for f in [
            "pass_word_count",
            "pass_mean_word_len",
            "pass_symbol_ratio",
            "pass_alpha_words",
            "pass_stopwords",
        ]
    )
    fail_rule = {
        2: "pass_word_count",
        3: "pass_mean_word_len",
        4: "pass_symbol_ratio",
        5: "pass_alpha_words",
        6: "pass_stopwords",
    }
    for doc, rule in fail_rule.items():
        assert r[doc][rule] == 0, (doc, rule)
        assert r[doc]["keep"] == 0
    # hand-checked signals on the good doc: 62 words, 2 stop hits would need
    # 'the' only (one distinct) -> n_stop_hits == 1
    assert r[1]["n_words"] == 62
    assert r[1]["n_stop_hits"] == 1
    assert abs(r[2]["mean_word_len"] - 9 / 3) < 1e-12  # "the cat sat"
    assert r[7]["n_words"] == 0 and r[7]["keep"] == 0
    # '...' counts non-overlapping occurrences, '#' per char
    sym = {
        x["doc_id"]: x["symbol_word_ratio"]
        for x in gopher_quality_filter(
            spark.createDataFrame(
                [(1, "a....... b # c")], "doc_id long, text string"
            )
        ).collect()
    }
    # 7 dots -> 2 non-overlapping '...', plus one '#', over 4 words
    assert abs(sym[1] - 3 / 4) < 1e-12


def test_gopher_funnel_matches_flags(spark):
    """The one-row funnel equals column sums of the per-doc flag frame."""
    from kg_obo_spark.functions.text import (
        gopher_quality_filter,
        gopher_quality_funnel,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    flags = gopher_quality_filter(df, min_stop_hits=1).toPandas()
    funnel = gopher_quality_funnel(df, min_stop_hits=1).first()
    assert funnel["n_docs"] == len(flags)
    for rule in [
        "pass_word_count",
        "pass_mean_word_len",
        "pass_symbol_ratio",
        "pass_alpha_words",
        "pass_stopwords",
        "keep",
    ]:
        key = "n_keep" if rule == "keep" else f"n_{rule}"
        assert funnel[key] == int(flags[rule].sum()), rule
    # the corpus makes the filter discriminating: keep is neither 0 nor all
    assert 0 < funnel["n_keep"] < funnel["n_docs"]
