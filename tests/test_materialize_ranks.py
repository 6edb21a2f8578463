"""Vocab-int edge materialization equals the string path exactly: the
extract_turn_ranks -> edges_from_per_turn_ranks chain must produce the
identical edge set as extract_turn_terms -> edges_from_per_turn on the same
corpus (rank order == lexicographic string order makes a < b semantics
line up)."""

from kg_obo_spark.datagen import build_ontology, generate_transcripts
from kg_obo_spark.dictionary import get_matcher
from kg_obo_spark.operators.canonicalize import canonical_map
from kg_obo_spark.operators.extract import extract_turn_ranks, extract_turn_terms
from kg_obo_spark.operators.materialize import (
    VOCAB_INT_CROSSOVER_TURNS,
    edges_from_per_turn,
    edges_from_per_turn_ranks,
    edges_from_transcripts,
    estimated_turn_count,
)


def test_rank_edges_equal_string_edges(spark):
    onto = build_ontology()
    tr = generate_transcripts(spark, n_convs=120, seed=9, ontology=onto).cache()
    eq = spark.createDataFrame(onto.xrefs, "a string, b string")
    terms_df = spark.createDataFrame(
        [(t["id"],) for t in onto.terms], "id string"
    )
    cdict = {
        r["term_id"]: r["canonical_id"]
        for r in canonical_map(terms_df, eq).collect()
    }

    want = {
        tuple(r)
        for r in edges_from_per_turn(
            extract_turn_terms(tr, onto, cdict), onto
        ).collect()
    }
    cu = get_matcher(onto, 0).canon_rank_table(cdict)[1]
    got = {
        tuple(r)
        for r in edges_from_per_turn_ranks(
            extract_turn_ranks(tr, onto, cdict), cu, onto
        ).collect()
    }
    assert got == want
    assert len(got) > 50  # the corpus actually produced edges


def test_mention_rank_edges_equal_string_edges(spark):
    """ROADMAP #13: the committed-mention re-rank path
    (co_edges_from_mention_ranks — broadcast rank join + int pair shuffle)
    produces the identical co-mention edge set as
    build_edges(include_isa=False) on the same canonical mention rows, and
    its pair distinct shuffles ints (element_at unmap in the plan)."""
    from kg_obo_spark.operators.extract import extract_mentions
    from kg_obo_spark.operators.materialize import (
        build_edges,
        canonical_mentions,
        co_edges_from_mention_ranks,
    )

    onto = build_ontology()
    tr = generate_transcripts(spark, n_convs=120, seed=9, ontology=onto)
    eq = spark.createDataFrame(onto.xrefs, "a string, b string")
    terms_df = spark.createDataFrame(
        [(t["id"],) for t in onto.terms], "id string"
    )
    cmap = canonical_map(terms_df, eq)
    cdict = {r["term_id"]: r["canonical_id"] for r in cmap.collect()}
    mentions = canonical_mentions(extract_mentions(tr, onto), cmap).cache()

    want = {tuple(r) for r in
            build_edges(mentions, onto, include_isa=False).collect()}
    cu = get_matcher(onto, 0).canon_rank_table(cdict)[1]
    ranked = co_edges_from_mention_ranks(mentions, cu, onto)
    got = {tuple(r) for r in ranked.collect()}
    assert got == want and len(got) > 50
    assert "element_at" in ranked._jdf.queryExecution().optimizedPlan().toString()


def test_edges_from_transcripts_autoswitch(spark):
    """ROADMAP #10: the auto-switch picks string CURIEs below the crossover
    and int ranks above it — visible as the element_at literal unmap in the
    plan — and both dispatches return the identical edge set."""
    onto = build_ontology()
    tr = generate_transcripts(spark, n_convs=60, seed=5, ontology=onto).cache()

    lo = edges_from_transcripts(tr, onto, n_turns=1000)
    hi = edges_from_transcripts(tr, onto, n_turns=10_000_000)
    lo_plan = lo._jdf.queryExecution().optimizedPlan().toString()
    hi_plan = hi._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" not in lo_plan
    assert "element_at" in hi_plan
    assert {tuple(r) for r in lo.collect()} == {tuple(r) for r in hi.collect()}

    # scan-free estimation dispatches without running a job; a 60-conv
    # in-memory frame sits far below the 4.5M-turn crossover
    est = edges_from_transcripts(tr, onto)
    assert "element_at" not in est._jdf.queryExecution().optimizedPlan().toString()


def test_estimated_turn_count_orders_of_magnitude(spark):
    """Plan-stats estimate is scan-free and lands within the right regime."""
    tr = generate_transcripts(spark, n_convs=50, seed=1)
    est = estimated_turn_count(tr)
    assert 0 <= est < VOCAB_INT_CROSSOVER_TURNS


def test_rank_frame_matches_term_frame(spark):
    """Per-turn rank arrays decode to exactly the per-turn term arrays."""
    onto = build_ontology()
    tr = generate_transcripts(spark, n_convs=40, seed=3, ontology=onto)
    cu = list(get_matcher(onto, 0).canon_rank_table({})[1])
    terms = {
        (r.conv_id, r.turn_idx): list(r.terms)
        for r in extract_turn_terms(tr, onto, {}).collect()
    }
    ranks = {
        (r.conv_id, r.turn_idx): [cu[i] for i in r.ranks]
        for r in extract_turn_ranks(tr, onto, {}).collect()
    }
    assert ranks == terms and terms
