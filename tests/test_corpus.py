"""End-to-end corpus cleaning: cumulative stage flags, keep-first dedup
ordering (filter BEFORE dedup), decontamination and sampling composition.
Reference analog: kg_obo/transform.py's per-ontology staged pipeline with
per-stage outcome tracking; here the stages are the Gopher curation steps."""

from pyspark.sql import functions as F

from kg_obo_spark.operators.corpus import (
    CLEAN_STAGES,
    clean_corpus_flags,
    clean_corpus_funnel,
)
from kg_obo_spark.operators.sampling import sample_bucket

GOOD = "the cat " + " ".join(f"word{i:03d}" for i in range(60))
GOOD2 = "the dog " + " ".join(f"item{i:03d}" for i in range(60))


def _flags(spark, rows, bench_rows=None, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        bench_rows or [(0, "no overlap here at all")],
        "doc_id long, text string",
    )
    kw.setdefault("min_stop_hits", 1)
    return df, bench, {
        x["doc_id"]: x for x in clean_corpus_flags(df, bench, **kw).collect()
    }


def test_flags_are_cumulative_and_low_quality_dup_never_shadows(spark):
    # doc 5 is a LOW-QUALITY exact duplicate of doc 10 (same normalized
    # fingerprint after whitespace collapse is impossible for different
    # texts, so use the same text but too-short variant for the low-quality
    # case): here doc 5 has the same text as 10 but we make 5 fail quality
    # via word count by using a short text that happens to equal doc 20's.
    rows = [
        (5, "the cat sat"),       # fails quality (short)
        (10, GOOD),               # clean
        (11, "  " + GOOD + "  "), # exact dup of 10 after normalize; higher id
        (20, "the cat sat"),      # dup of 5; ALSO fails quality
    ]
    df, bench, r = _flags(spark, rows)
    # dedup keeps the min id among QUALITY SURVIVORS: 10 beats 11
    assert r[10]["pass_dedup"] == 1 and r[11]["pass_dedup"] == 0
    # a fingerprint group with no quality survivor keeps nobody (NULL-safe)
    assert r[5]["pass_dedup"] == 0 and r[20]["pass_dedup"] == 0
    # flags are cumulative: each implies the previous
    for doc in r:
        vals = [r[doc][s] for s in CLEAN_STAGES]
        assert vals == sorted(vals, reverse=True), (doc, vals)


def test_case_variant_duplicates_share_a_fingerprint_one_keeper(spark):
    # fingerprint_md5 lowercases: GOOD.upper() and GOOD are the same group.
    # Both pass quality (the stopword check lowercases tokens too), so
    # keep-first picks the min id and exactly one keeper survives.
    rows = [(3, GOOD.upper()), (7, GOOD)]
    df, bench, r = _flags(spark, rows)
    assert r[3]["pass_quality"] == 1 and r[7]["pass_quality"] == 1
    assert r[3]["pass_dedup"] == 1 and r[7]["pass_dedup"] == 0


def test_decontamination_and_sampling_stages(spark):
    contaminated = GOOD  # benchmark contains GOOD verbatim -> frac 1.0
    rows = [(1, contaminated), (2, GOOD2)]
    df, bench, r = _flags(
        spark, rows, bench_rows=[(0, contaminated)],
        contamination_max_frac=0.05,
    )
    assert r[1]["pass_dedup"] == 1 and r[1]["pass_decontam"] == 0
    assert r[2]["pass_decontam"] == 1 and r[2]["pass_sample"] == 1
    # sampling: rate 0 drops everything that survived decontamination
    df2, bench2, r2 = _flags(
        spark, rows, bench_rows=[(0, contaminated)], sample_rate_bp=0
    )
    assert r2[2]["pass_decontam"] == 1 and r2[2]["pass_sample"] == 0


def test_survivors_and_funnel_consistency(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    kw = dict(min_stop_hits=1, sample_rate_bp=8000)
    flags = clean_corpus_flags(docs, bench, **kw).toPandas()
    funnel = clean_corpus_funnel(docs, bench, **kw).first()
    assert funnel["n_input"] == len(flags) == docs.count()
    for s in CLEAN_STAGES:
        assert funnel[f"n_{s}"] == int(flags[s].sum()), s
    # monotone funnel
    counts = [funnel[f"n_{s}"] for s in CLEAN_STAGES]
    assert counts == sorted(counts, reverse=True)
    assert 0 < counts[-1] < funnel["n_input"]  # discriminating on this corpus
    # sample stage agrees with the standalone bucket function
    kept_buckets = (
        clean_corpus_flags(docs, bench, **kw)
        .filter(F.col("pass_sample") == 1)
        .select(sample_bucket(F.col("doc_id")).alias("b"))
        .agg(F.max("b"))
        .first()[0]
    )
    assert kept_buckets < 8000
