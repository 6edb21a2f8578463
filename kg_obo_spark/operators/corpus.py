"""End-to-end training-corpus cleaning: the composed pipeline an LLM
data-curation job runs over raw documents — rule-based quality filtering
(Gopher), exact near-dup removal (keep-first), benchmark decontamination,
and deterministic subsampling — expressed as ONE dataflow with cumulative
per-stage flags, so the survivors AND the per-stage funnel come from a
single pass instead of four chained jobs re-scanning the corpus.

This is the LLM-data analog of the reference's per-ontology transform
pipeline (kg_obo/transform.py:1 runs download -> transform -> validate ->
upload per ontology and tracks per-stage outcomes); here the stages are the
MassiveText/Gopher curation steps (Rae et al. 2021 §A1) and the frame is a
document corpus.

Stage semantics (cumulative — a document is counted at stage k only if it
survived every earlier stage):

  q  quality   — Gopher rule filter (:func:`...text.gopher_quality_flags`)
  d  dedup     — exact normalized-fingerprint dedup, keep-first = the MIN id
                 among QUALITY-SURVIVING members of the fingerprint group
                 (dedup after filtering, like the production ordering: a
                 low-quality duplicate must not shadow a clean one)
  c  decontam  — distinct word-n-gram overlap against a benchmark corpus at
                 most ``contamination_max_frac`` (GPT-3 app. C shape);
                 documents with fewer than n tokens have zero overlap
  s  sample    — deterministic md5-bucket subsample (engine-portable,
                 rerun/partitioning-independent)

100 TB shape: the Gopher flags and the sample bucket are pure map-side
codegen; the dedup keeper is one window over ``fingerprint`` (one hash
exchange); contamination pays the repetition family's single hash(id)
corpus exchange with the benchmark gram set broadcast; the final flag join
is id-keyed. Nothing is corpus-cartesian, nothing collects to the driver;
the funnel is a one-row global aggregation of int flags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kg_obo_spark.functions.text import (
    fingerprint_md5,
    gopher_quality_flags,
    ngram_contamination,
    tokens,
)
from kg_obo_spark.operators.sampling import SAMPLE_MOD, sample_bucket

CLEAN_STAGES = ("pass_quality", "pass_dedup", "pass_decontam", "pass_sample")


def clean_corpus_flags(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    contamination_max_frac: float = 0.05,
    n: int = 3,
    sample_rate_bp: int = SAMPLE_MOD,
    bench_text_col: str = "text",
    **gopher_thresholds,
) -> DataFrame:
    """Per-document cumulative stage flags ``(id, pass_quality, pass_dedup,
    pass_decontam, pass_sample)`` — one row per input document, each flag
    implying all earlier ones. ``sample_rate_bp`` is in 1/SAMPLE_MOD units
    (default: keep everything)."""
    if not 0 <= sample_rate_bp <= SAMPLE_MOD:
        raise ValueError(f"sample_rate_bp {sample_rate_bp} outside [0, {SAMPLE_MOD}]")
    i, t = F.col(id_col), F.col(text_col)
    # stage tokenization once: the Gopher flags reference the token array ~5
    # times and HOF lambdas block subexpression elimination (see the toks
    # note on gopher_quality_flags; measured 1.37x)
    staged = df.select(i.alias("id"), t.alias("_text"), tokens(t).alias("_ts"))
    base = staged.select(
        "id",
        fingerprint_md5(F.col("_text")).alias("_fp"),
        sample_bucket(F.col("id")).alias("_bucket"),
        *gopher_quality_flags(
            F.col("_text"), toks=F.col("_ts"), **gopher_thresholds
        ),
    )
    # keep-first among quality survivors: MIN id over the fingerprint group
    # restricted to q==1 (NULL-safe: groups with no survivor keep nobody)
    keeper = F.min(F.when(F.col("keep") == 1, F.col("id"))).over(
        Window.partitionBy("_fp")
    )
    flagged = base.select(
        "id",
        "_bucket",
        F.col("keep").alias("q"),
        ((F.col("keep") == 1) & (F.col("id") == keeper)).cast("int").alias("d"),
    )
    # Contamination runs over the FULL corpus even though `_cfrac` is only
    # consulted where d == 1. Scoping it to dedup survivors was MEASURED in
    # r7 (BENCH/NEWOPS_R7.md, 100k-doc dirty corpus, 72% non-survivors,
    # interleaved best-of-3) and every variant LOST: the survivor semi-join
    # (11.3 s), a map-side quality-predicate pushdown (15.3 s — the Gopher
    # regex flags cost ~3x the whole gram stage to recompute), and a
    # localCheckpoint'd flags fan-out (12.4 s) all regress vs the
    # full-corpus shape (9.4 s), because the flags branch and the
    # contamination branch are INDEPENDENT subtrees that execute
    # concurrently here — any scoping inserts a barrier that serializes
    # them, and the gram exchange it shrinks is the cheapest stage of the
    # pipeline. Revisit only if the gram exchange (network shuffle on a
    # real cluster) ever dominates the map-side flag scan.
    contam = ngram_contamination(
        df, benchmark, n=n, id_col=id_col, text_col=text_col,
        bench_text_col=bench_text_col,
    ).select(
        F.col(id_col).alias("id"),
        F.col("contamination_frac").alias("_cfrac"),
    )
    out = flagged.join(contam, "id", "left").select(
        "id",
        F.col("q").alias("pass_quality"),
        F.col("d").alias("pass_dedup"),
        (
            (F.col("d") == 1)
            & (F.coalesce(F.col("_cfrac"), F.lit(0.0)) <= contamination_max_frac)
        )
        .cast("int")
        .alias("_c"),
        "_bucket",
    ).select(
        F.col("id").alias(id_col),
        "pass_quality",
        "pass_dedup",
        F.col("_c").alias("pass_decontam"),
        ((F.col("_c") == 1) & (F.col("_bucket") < sample_rate_bp))
        .cast("int")
        .alias("pass_sample"),
    )
    return out


def clean_corpus_funnel(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """One-row per-stage funnel: input count + survivors after each stage.
    Because flags are cumulative, each column is a plain sum."""
    flags = clean_corpus_flags(df, benchmark, id_col, text_col, **kwargs)
    return flags.agg(
        F.count("*").alias("n_input"),
        *[F.sum(s).alias(f"n_{s}") for s in CLEAN_STAGES],
    )
