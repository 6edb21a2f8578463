"""Mention detection: matcher spec cases + the per-turn text-equality invariant
(offsets index into the ORIGINAL text; text is never mutated)."""

from pyspark.sql import functions as F

from kg_obo_spark.datagen import build_ontology, generate_transcripts
from kg_obo_spark.dictionary import build_matcher
from kg_obo_spark.operators.extract import extract_mentions


def _onto_with(terms):
    onto = build_ontology(n_terms=12, seed=1)
    onto.terms = terms
    return onto


def _term(tid, name, synonyms=()):
    prefix, num = tid.split(":")
    return {
        "id": tid,
        "iri": f"http://purl.obolibrary.org/obo/{prefix}_{num}",
        "name": name,
        "synonyms": list(synonyms),
        "category": "biolink:OntologyClass",
        "prefix": prefix,
    }


def test_matcher_label_and_case():
    onto = _onto_with([_term("BFO:0000001", "material entity")])
    m = build_matcher(onto)
    assert m.find("a material entity here") == [(2, 17, "material entity", "BFO:0000001", 1.0)]
    [(s, e, surf, tid, score)] = m.find("A MATERIAL ENTITY here")
    assert (surf, tid, score) == ("MATERIAL ENTITY", "BFO:0000001", 0.95)


def test_matcher_leftmost_longest():
    onto = _onto_with(
        [_term("BFO:0000001", "material entity"), _term("BFO:0000002", "material")]
    )
    m = build_matcher(onto)
    hits = m.find("the material entity")
    assert hits == [(4, 19, "material entity", "BFO:0000001", 1.0)]


def test_matcher_word_boundaries():
    onto = _onto_with([_term("BFO:0000001", "material")])
    m = build_matcher(onto)
    assert m.find("immaterial materials material.") == [
        (21, 29, "material", "BFO:0000001", 1.0)
    ]


def test_matcher_curie_and_malformed():
    onto = _onto_with([_term("BFO:0000030", "object")])
    m = build_matcher(onto)
    assert m.find("see BFO:0000030 ok")[0][3] == "BFO:0000030"
    assert m.find("see bfo:0000030 ok")[0][4] == 0.97  # lowercased prefix
    assert m.find("see OBO:BFO_0000030 ok")[0][3] == "BFO:0000030"
    assert m.find("see OBO:bfo.OWL#BFO_0000030 ok")[0][3] == "BFO:0000030"
    assert m.find("see http://purl.obolibrary.org/obo/BFO_0000030 ok")[0][3] == "BFO:0000030"
    # unknown prefix/id -> no mention
    assert m.find("see ZZZ:0000030 ok") == []
    assert m.find("see BFO:9999999 ok") == []


def test_matcher_synonym_score():
    onto = _onto_with([_term("GO:0000001", "cellular process", synonyms=["cell proc"])])
    m = build_matcher(onto)
    assert m.find("the cell proc ran") == [(4, 13, "cell proc", "GO:0000001", 0.9)]


def test_ambiguous_surface_best_only_deterministic():
    onto = _onto_with(
        [_term("GO:0000002", "kinase", ), _term("CHEBI:0000003", "kinase")]
    )
    m = build_matcher(onto)
    hits = m.find("a kinase here")
    assert len(hits) == 1 and hits[0][3] == "CHEBI:0000003"  # term_id asc tie-break
    all_hits = m.find("a kinase here", best_only=False)
    assert {h[3] for h in all_hits} == {"CHEBI:0000003", "GO:0000002"}


# accented and term-free: a turn carrying it sends its Arrow batch to the
# regex engine, and the matches stay those of the rest of the turn
ACCENTED = " Déjà vu au café, à bientôt."


def _with_accents(tr, onto):
    """``tr`` with ``ACCENTED`` appended to every fifth turn."""
    m = build_matcher(onto)
    assert m.find(ACCENTED) == [] and m.find_batch_columnar(["x" + ACCENTED]) is None
    return tr.withColumn(
        "text",
        F.when(F.col("turn_idx") % 5 == 0, F.concat("text", F.lit(ACCENTED))).otherwise(
            F.col("text")
        ),
    )


def test_offsets_index_original_text(spark, onto):
    """On both engines: an ASCII corpus (fast path) and the same corpus with
    accented turns (regex path) — offsets index the original string."""
    ascii_tr = generate_transcripts(spark, n_convs=60, seed=5, ontology=onto)
    for tr in (ascii_tr, _with_accents(ascii_tr, onto)):
        mentions = extract_mentions(tr, onto)
        spans = F.expr("substring(text, start + 1, end - start)")
        n, n_bad = mentions.join(tr, ["conv_id", "turn_idx"]).select(
            F.count("*"), F.count_if(spans != F.col("surface"))
        ).first()
        assert n > 0 and n_bad == 0


def test_text_never_mutated(spark, onto):
    tr = generate_transcripts(spark, n_convs=40, seed=6, ontology=onto)
    before = tr.select(F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("h")).first()["h"]
    extract_mentions(tr, onto).count()
    after = tr.select(F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("h")).first()["h"]
    assert before == after


def test_matcher_degradation_levels(onto):
    """Ladder semantics (dictionary.MAX_DEGRADATION_LEVEL): each level drops a
    content class — synonyms, then all surfaces, then malformed-id repair."""
    from kg_obo_spark.dictionary import build_matcher

    term = onto.terms[0]
    name, tid = term["name"], term["id"]
    syn = next(s for t in onto.terms for s in t["synonyms"])
    syn_tid = next(t["id"] for t in onto.terms if syn in t["synonyms"])
    low = tid.split(":")[0].lower() + ":" + tid.split(":")[1]
    text = f"{name} and {syn} plus {tid} or {low} and OBO:{tid.replace(':', '_')}"

    def ids(level):
        return [m[3] for m in build_matcher(onto, level).find(text)]

    l0 = ids(0)
    assert tid in l0 and syn_tid in l0 and l0.count(tid) >= 3  # curie+low+obo
    l1 = ids(1)
    assert syn_tid not in l1 or syn_tid == tid  # synonyms dropped
    assert tid in l1  # names + ids survive
    l2 = ids(2)
    assert l2.count(tid) >= 3 and len(l2) <= len(l1)  # ids only, surfaces gone
    l3 = ids(3)
    assert l3.count(tid) == 1  # canonical CURIE only: no low/OBO repair


def test_extract_turn_terms_equals_shuffled_path(spark, onto):
    """The fused map-only scan (extract+canonicalize+per-turn reduce in-task)
    produces EXACTLY the frame of the shuffled path
    per_turn_terms(canonical_mentions(extract_mentions(...))), on the fast
    path (ASCII corpus) and on the regex path (accented turns)."""
    from kg_obo_spark.datagen import generate_transcripts
    from kg_obo_spark.operators.canonicalize import canonical_map
    from kg_obo_spark.operators.extract import extract_turn_terms
    from kg_obo_spark.operators.materialize import canonical_mentions, per_turn_terms

    ascii_tr = generate_transcripts(spark, n_convs=60, seed=31, ontology=onto)
    eq = spark.createDataFrame(onto.xrefs or [("__none__", "__none__")], "a string, b string")
    terms_df = spark.createDataFrame([(t["id"],) for t in onto.terms], "id string")
    cmap = canonical_map(terms_df, eq)
    cdict = {r["term_id"]: r["canonical_id"] for r in cmap.collect()}

    for tr in (ascii_tr, _with_accents(ascii_tr, onto)):
        shuffled = {
            (r["conv_id"], r["turn_idx"], tuple(r["terms"]))
            for r in per_turn_terms(
                canonical_mentions(extract_mentions(tr, onto), cmap)
            ).collect()
        }
        fused = {
            (r["conv_id"], r["turn_idx"], tuple(r["terms"]))
            for r in extract_turn_terms(tr, onto, cdict).collect()
        }
        assert fused == shuffled and fused


def test_extract_turn_terms_candidate_budget_on_both_paths(spark, onto):
    """The fused scan enforces extract_mentions' per-turn candidate budget:
    the same count of best-only matches trips it on the fast path (ASCII)
    and on the regex path (a non-ASCII row sends its batch there), and the
    error names the turn."""
    import pytest

    from kg_obo_spark.operators.extract import extract_turn_terms

    tid = onto.terms[0]["id"]
    schema = "conv_id string, turn_idx int, text string"
    for tail in ("", " déjà vu"):
        text = (tid + " ") * 12 + tail
        df = spark.createDataFrame([("c-ok", 0, "plain turn"), ("c-hot", 3, text)], schema)
        n = extract_mentions(df, onto).filter(F.col("conv_id") == "c-hot").count()
        assert n == 12
        # at the budget the scan passes, one below it fails on the hot turn
        assert extract_turn_terms(df, onto, max_candidates_per_turn=n).count() == 1
        with pytest.raises(Exception, match=r"turn \(c-hot,3\) produced 12"):
            extract_turn_terms(df, onto, max_candidates_per_turn=n - 1).collect()
