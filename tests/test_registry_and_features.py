"""Registry 3-way filter (S1/P1) + input-error diversion (A8)."""

from kg_obo_spark.datagen import generate_transcripts
from kg_obo_spark.operators.extract import extract_mentions, split_valid_turns
from kg_obo_spark.operators.registry import filter_registry, registry_from_entries


def test_filter_registry(spark):
    reg = registry_from_entries(
        spark,
        [
            {"id": "bfo", "title": "BFO"},
            {"id": "dead", "title": "Dead", "is_obsolete": True},
            {"id": "go", "title": "GO"},
            {"id": "skipme", "title": "S"},
        ],
    )
    out = {r["id"] for r in filter_registry(reg, skip=["skipme"]).collect()}
    assert out == {"bfo", "go"}
    only = {r["id"] for r in filter_registry(reg, get_only=["go", "dead"]).collect()}
    assert only == {"go"}  # obsolete excluded even when requested


def test_split_valid_turns_counts_errors(spark, onto):
    tr = generate_transcripts(spark, n_convs=20, seed=4, ontology=onto)
    with_bad = tr.unionByName(
        spark.createDataFrame(
            [("conv-bad", 0, "user", None, "", None), ("conv-bad", 1, "user", "   ", "", None)],
            tr.schema,
        )
    )
    valid, errors = split_valid_turns(with_bad)
    assert errors.count() == 2
    assert valid.count() == tr.count()
    # extraction tolerates the raw frame too (nulls skipped, no crash)
    extract_mentions(with_bad, onto).count()
