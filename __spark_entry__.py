"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline on deterministic
synthetic transcripts (the BASELINE.json input_hint table) and returns the KGX
edge frame. ``queries()`` exposes every SQL-expressible operator from
SURVEY.md §2 plus the training-data-pipeline operators (dedup / similarity /
text analysis / multimodal plumbing) over the driver's parquet tables;
``oracle_sql()`` gives the DuckDB mirror for each. Since r6 EVERY entry is
value-oracled — zero rows-only: the approximate/hash-structured ops
(MinHash/SimHash/LSH/IVF, the flagship pipeline) run their PRODUCTION
banding/blocking/assign/verify code over engine-portable deterministic
variants (md5-window signatures, literal md5-sign hyperplanes, md5-ordered
seed centroids) that DuckDB reproduces bit-for-bit.

Column-name & float discipline: every computed column is aliased identically
on both sides; floating aggregates are rounded (2-6 dp) on both sides so
summation-order differences between engines cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg_obo_spark.datagen.ontology import Ontology
from kg_obo_spark.datagen.transcripts import generate_transcripts
from kg_obo_spark.functions.text import (
    fingerprint_md5,
    lang_id,
    quality_score,
    token_count,
)
from kg_obo_spark.operators.canonicalize import (
    canonical_map,
    connected_components,
    normalize_curie,
)
from kg_obo_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from kg_obo_spark.operators.extract import extract_mentions, extract_turn_terms
from kg_obo_spark.operators.graph_stats import degree_frame
from kg_obo_spark.operators.materialize import (
    build_edges,
    canonical_mentions,
    co_mention_pairs,
)
from kg_obo_spark.operators.multimodal import (
    decode_stub,
    media_from_documents,
    payload_stats,
)
from kg_obo_spark.operators.similarity import cosine_topk, ivf_topk
from kg_obo_spark.partitioning import ensure_scan_parallelism


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------------------------------------------------------------ flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transcripts -> mentions -> canonical co-mention + is_a edges."""
    from kg_obo_spark.datagen.ontology import build_ontology

    onto = build_ontology()
    tr = generate_transcripts(spark, n_convs=150, seed=42, ontology=onto)
    mentions = extract_mentions(tr, onto)
    return build_edges(mentions, onto)


# ---------------------------------------------------- KG ops over documents

# term dictionary for the documents corpus (vocab words -> CURIEs); both the
# Spark matcher and the DuckDB oracle see exactly this list.
DOC_TERMS: list[tuple[str, str]] = [
    ("spark", "KG:0000001"),
    ("join", "KG:0000002"),
    ("merge", "KG:0000003"),
    ("window", "KG:0000004"),
    ("vector", "KG:0000005"),
    ("stream", "KG:0000006"),
    ("hash", "KG:0000007"),
    ("agg", "KG:0000008"),
    # widened in r6 so the oracled end-to-end pipeline has a non-trivial
    # canonical id space (12 components over 20 surface terms)
    ("scan", "KG:0000009"),
    ("filter", "KG:0000010"),
    ("batch", "KG:0000011"),
    ("row", "KG:0000012"),
    ("column", "KG:0000013"),
    ("table", "KG:0000014"),
    ("sort", "KG:0000015"),
    ("group", "KG:0000016"),
    ("query", "KG:0000017"),
    ("key", "KG:0000018"),
    ("value", "KG:0000019"),
    ("data", "KG:0000020"),
]

_DOC_TERMS_SQL_VALUES = ", ".join(f"('{w}', '{t}')" for w, t in DOC_TERMS)

# Equivalence + hierarchy over the documents dictionary, used by the oracled
# end-to-end pipeline_transcripts run: the xref chain makes the
# canonicalization CC non-trivial (a 3-term transitive component), the is_a
# rows exercise the mentioned-restricted subclass emission.
DOC_XREFS: list[tuple[str, str]] = [
    ("KG:0000003", "KG:0000002"),  # merge  ≡ join   -> canonical KG:0000002
    ("KG:0000006", "KG:0000004"),  # stream ≡ window -> canonical KG:0000004
    ("KG:0000008", "KG:0000007"),  # agg    ≡ hash   (chained:
    ("KG:0000007", "KG:0000005"),  #  hash  ≡ vector -> canonical KG:0000005)
    ("KG:0000010", "KG:0000009"),  # filter ≡ scan   -> canonical KG:0000009
    ("KG:0000012", "KG:0000011"),  # row    ≡ batch  (3-way component:
    ("KG:0000013", "KG:0000011"),  #  column ≡ batch -> canonical KG:0000011)
    ("KG:0000019", "KG:0000018"),  # value  ≡ key    -> canonical KG:0000018
]
DOC_ISA: list[tuple[str, str]] = [
    ("KG:0000002", "KG:0000001"),
    ("KG:0000004", "KG:0000001"),
    ("KG:0000005", "KG:0000001"),
    ("KG:0000009", "KG:0000001"),
    ("KG:0000011", "KG:0000014"),
    ("KG:0000017", "KG:0000001"),
    ("KG:0000018", "KG:0000014"),
]

_DOC_XREFS_SQL_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in DOC_XREFS)
_DOC_ISA_SQL_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in DOC_ISA)


def _doc_ontology() -> Ontology:
    onto = Ontology(name="docs", version="v1")
    for word, tid in DOC_TERMS:
        prefix = tid.split(":")[0]
        onto.terms.append(
            {
                "id": tid,
                "iri": f"http://purl.obolibrary.org/obo/{prefix}_{tid.split(':')[1]}",
                "name": word,
                "synonyms": [],
                "category": "biolink:OntologyClass",
                "prefix": prefix,
            }
        )
    return onto


def _doc_pipeline_ontology() -> Ontology:
    """The documents dictionary plus xref equivalences and is_a edges — the
    full ontology shape the end-to-end pipeline consumes."""
    onto = _doc_ontology()
    onto.xrefs = list(DOC_XREFS)
    onto.is_a = list(DOC_ISA)
    return onto


def _doc_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents run through the REAL trie-regex extractor (transcript shape)."""
    docs = _t(spark, sf_dir, "documents")
    tr_shape = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
    )
    m = extract_mentions(tr_shape, _doc_ontology())
    return m.select(F.col("conv_id").cast("long").alias("doc_id"), "term_id")


_DOC_MENTIONS_CTE = f"""
WITH terms(word, term_id) AS (VALUES {_DOC_TERMS_SQL_VALUES}),
mentions AS (
  SELECT DISTINCT d.doc_id, t.term_id
  FROM documents d JOIN terms t
    ON regexp_matches(d.text, '(?i)(^|[^A-Za-z0-9_])' || t.word || '($|[^A-Za-z0-9_-])')
)
"""


def _doc_turn_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused variant of :func:`_doc_mentions` (r8, guide §2.3/§2.4): the
    per-doc distinct term set is reduced INSIDE the extraction task
    (extract_turn_terms — same matcher, per-turn reduce pinned equal to the
    shuffled per_turn_terms path by tests), so no full-mention-volume rows
    ever reach an exchange. doc_id is unique per turn, so per-turn distinct
    == global distinct."""
    docs = _t(spark, sf_dir, "documents")
    tr_shape = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
    )
    return extract_turn_terms(tr_shape, _doc_ontology())


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows are already distinct by construction (per-doc distinct term sets,
    # one doc per turn) — the explode output needs no dedup exchange
    return _doc_turn_terms(spark, sf_dir).select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.explode("terms").alias("term_id"),
    )


def q_kg_comention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kg_obo_spark.operators.materialize import pairs_from_per_turn

    return (
        pairs_from_per_turn(_doc_turn_terms(spark, sf_dir))
        .select("a", "b")
        .distinct()
    )


def q_kg_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = q_kg_comention_edges(spark, sf_dir).select(
        F.col("a").alias("subject"), F.col("b").alias("object")
    )
    return degree_frame(edges).select("id", "degree")


def _doc_link_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic citation-style directed graph over documents: each doc
    links to doc_id div 2 and doc_id div 3 (self-loops dropped inside the
    operators). Scales with SF (unlike the 20-node term co-mention graph),
    has realistic in-degree skew (low ids collect links), and node 0 is
    dangling — exercising the redistribution path. Returns (edges, nodes)."""
    docs = _t(spark, sf_dir, "documents")
    e = docs.select(
        F.col("doc_id").alias("src"), F.expr("doc_id div 2").alias("dst")
    ).union(
        docs.select(F.col("doc_id"), F.expr("doc_id div 3"))
    )
    return e, docs.select("doc_id")


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point PageRank (4 rounds, damping 85/100, scale 1e9)
    over the citation graph — integer floor-div contributions and integer
    sums make the ranks partitioning- and engine-independent, so the DuckDB
    oracle (the same recurrence unrolled as 4 CTE stages) matches
    bit-for-bit. Centrality over KG link structure is the 'which entities
    matter' query the reference's per-graph stats (stats.py:230-332) stop
    short of."""
    from kg_obo_spark.operators.graph_algos import pagerank

    e, nodes = _doc_link_graph(spark, sf_dir)
    return pagerank(e, iterations=4, nodes=nodes).select(
        "id", F.col("rank").alias("rank_e9")
    )


def q_kg_ancestor_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive ancestor closure (the OBO subsumption query) over the
    deterministic is_a forest parent(i) = i div 2: every (id, anc) pair,
    built by repeated squaring (log2(depth) shuffle rounds). Oracle = the
    standard recursive CTE."""
    from kg_obo_spark.operators.graph_algos import ancestor_closure

    docs = _t(spark, sf_dir, "documents")
    e = docs.filter(F.col("doc_id") >= 1).select(
        F.col("doc_id").alias("child"), F.expr("doc_id div 2").alias("parent")
    )
    return ancestor_closure(e)


def q_kg_node_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy depth per node (count of proper ancestors; roots 0) over
    the same is_a forest — the per-term 'how deep in the ontology' stat,
    derived from the closure plus a universe left join."""
    from kg_obo_spark.operators.graph_algos import node_depth

    docs = _t(spark, sf_dir, "documents")
    e = docs.filter(F.col("doc_id") >= 1).select(
        F.col("doc_id").alias("child"), F.expr("doc_id div 2").alias("parent")
    )
    return node_depth(e, nodes=docs.select("doc_id"))


def q_kg_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (the KG cohesion stat) over the citation
    graph taken as undirected. Degree-ordered orientation caps wedge
    fan-out at O(sqrt(m)) per node; oracle = canonical a<b<c three-way
    self-join."""
    from kg_obo_spark.operators.graph_algos import triangle_counts

    e, nodes = _doc_link_graph(spark, sf_dir)
    return triangle_counts(e, nodes=nodes)


def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core density report (k=3, 3 fixed peel rounds — the engine-exact
    replay configuration; production peels to fixpoint) over the citation
    graph taken as undirected: survivors of iterated degree-<3 removal and
    their degree in the surviving subgraph. All-integer; per round ONE
    degree agg + two hash semi-joins, edge frame only shrinks. Oracle =
    the same three peels unrolled as CTE stages."""
    from kg_obo_spark.operators.graph_algos import kcore

    e, _ = _doc_link_graph(spark, sf_dir)
    return kcore(e, k=3, rounds=3)


def q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered negative sampling for KG-embedding training (the
    corrupted-triples protocol): 2 deterministic md5-bucket tail
    corruptions per distinct citation edge, kept only when they are real
    non-edges (no true (src, dst), no self-loop). Map-side slot explode +
    ONE hash anti-join on (src, dst) — the inherent edge-membership
    exchange; collided slots drop (rate ~degree/n), never resample."""
    from kg_obo_spark.operators.negatives import negative_samples

    e, nodes = _doc_link_graph(spark, sf_dir)
    return negative_samples(e, n_nodes=nodes.count(), n_neg=2)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: exact fixed-point BM25 top-25 for a three-term
    query — rational k1=6/5, b=3/4 cleared of fractions, linear-rational
    idf, per-(doc,term) integer floor-div contributions summed per doc;
    deterministic (score DESC, id) order so the top-k SET is engine-exact.
    ONE hash(id) exchange carries tf, dl, the join, and the doc sum
    (subset rule); the global top-k is a TakeOrderedAndProject."""
    from kg_obo_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["fast", "scan", "table"], k=25)


def q_bm25_topk_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 over a query TABLE (three queries sharing terms) — the
    one-corpus-pass shape for retrieval-eval sweeps: term df stats join
    in-plan (broadcast, no driver CASE), (doc,term) counts / doc lengths /
    tf join / per-(query,doc) sum all ride ONE hash(id) exchange (subset
    rule), per-query top-10 via the salted two-level window."""
    from kg_obo_spark.operators.retrieval import bm25_topk_queries

    docs = _t(spark, sf_dir, "documents")
    qt = spark.createDataFrame(
        [(0, "fast"), (0, "scan"), (1, "scan"), (1, "table"),
         (2, "fast"), (2, "scan"), (2, "table")],
        "query_id long, term string",
    )
    return bm25_topk_queries(docs, qt, k=10)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistic BPE tokenizer training is built from: adjacent
    character-pair counts weighted by corpus word frequency (merge round 0
    of learn_bpe — the full learner is a driver loop of exactly this agg
    plus a map-only merge stage, pytest-pinned vs a sequential replay in
    tests/test_bpe.py). ONE corpus exchange (hash(word), map-side
    combined); everything after runs on the distinct-word table."""
    from kg_obo_spark.functions.bpe import (
        char_symbols,
        pair_counts,
        word_frequencies,
    )

    docs = _t(spark, sf_dir, "documents")
    return pair_counts(char_symbols(word_frequencies(docs)))


def q_kg_curie_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-CURIE repair (J3/P8) on ids derived from doc rows."""
    docs = _t(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("OBO:BFO_00000"), (F.col("doc_id") % 90 + 10).cast("string")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("bfo:00000"), (F.col("doc_id") % 90 + 10).cast("string")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("http://purl.obolibrary.org/obo/CHEBI_00000"), (F.col("doc_id") % 90 + 10).cast("string")))
        .otherwise(F.concat(F.lit("GO:00000"), (F.col("doc_id") % 90 + 10).cast("string")))
        .alias("raw_id"),
    )
    return raw.select("doc_id", "raw_id", normalize_curie(F.col("raw_id")).alias("norm_id"))


def q_kg_id_update_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID-update-map GENERATION from raw ids (examine_owl_names analog,
    robot_utils.py:223-331): canonical known-prefix ids produce no row,
    repairable shapes produce (old, new), unknown prefixes are unexpected."""
    from kg_obo_spark.operators.canonicalize import generate_id_update_map

    docs = _t(spark, sf_dir, "documents")
    num = (F.col("doc_id") % 90 + 10).cast("string")
    raw = docs.select(
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("OBO:BFO_00000"), num))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("bfo:00000"), num))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("http://purl.obolibrary.org/obo/CHEBI_00000"), num))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("GO:00000"), num))
        .otherwise(F.concat(F.lit("XYZ:00000"), num))
        .alias("id"),
    )
    return generate_id_update_map(
        raw, known_prefixes=["BFO", "CHEBI", "GO", "PATO", "ENVO", "MONDO"]
    )


def q_cc_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (A3) on the nation–region bipartite graph,
    distributed star-contraction; oracle = recursive-CTE reachability min."""
    nation = _t(spark, sf_dir, "nation")
    edges = nation.select(
        F.concat(F.lit("N"), F.format_string("%02d", "n_nationkey")).alias("u"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("v"),
    )
    return connected_components(edges).select("id", "component")


# ------------------------------------------------------- relational operators


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-table join (J5 enrichment shape) + grouped revenue.

    r8 (guide §3.1): the planner broadcast the 1.5M-row orders side (its
    25 MB on-disk estimate sits under the 64 MB threshold) — building and
    probing a 1.5M-entry hash relation cost more than shuffling both sides;
    the shuffle_hash hint picks the shuffled hash join (measured 1.54 ->
    0.89 s interleaved at sf1.0; also the strategy a >threshold cluster-scale
    orders table would get). customer stays an explicit broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one late lineitem (EXISTS
    semi-join), counted by priority."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-06-01")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + grouped revenue + deterministic top-10.
    Date cut chosen inside the synthetic o_orderdate range."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: supplier-nation x customer-nation yearly trade volume
    (two independent nation dimensions broadcast into a 4-way join)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    # sum exact integer cents: with thousands of fine-grained groups the
    # float sum-order noise exceeds the 2dp round on ~1e6 totals
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(cents) / 100.0, 2).alias("volume"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer, top-20 —
    selective fact filter first, broadcast dims, exact-cents aggregation."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(cents) / 100.0, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-cost-supplier correlated scalar subquery.

    For each SMALL part under size 25, the EUROPE supplier(s) offering the
    minimum unit price. The testdata has no partsupp table, so unit price is
    l_extendedprice / l_quantity over that supplier's lineitems — the same
    correlated ``= (SELECT min(..) WHERE ps_partkey = p_partkey)`` shape.
    Decorrelated the way Catalyst would: per-part min aggregated once, then an
    equi-join back on (partkey, exact min value) — no per-part re-scan. Dims
    (part/supplier/nation/region) broadcast; the only shuffled relation is the
    per-(part,supplier) offer aggregate, grouped on its natural key."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") < 25) & (F.col("p_type") == "SMALL")
    )
    offers = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("l_partkey", "l_suppkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    min_per_part = offers.groupBy(F.col("l_partkey").alias("_mp_partkey")).agg(
        F.min("unit_price").alias("min_price")
    )
    best = offers.join(
        min_per_part,
        (F.col("l_partkey") == F.col("_mp_partkey"))
        & (F.col("unit_price") == F.col("min_price")),
    ).select("l_partkey", "l_suppkey", "s_name", "n_name", "unit_price")
    # floor to 1e-4 units rather than round(…, 4): both engines floor the
    # IDENTICAL IEEE double, so there is no half-even-vs-half-away boundary
    # (round() diverged on .5 ties at sf0.1)
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.floor(F.col("unit_price") * 10000).cast("long").alias("unit_price_e4"),
        )
    )


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order year —
    the deepest multi-fact join in the inventory (lineitem x part x supplier x
    nation x orders). No partsupp in the testdata, so supply cost is
    0.6 * p_retailprice * l_quantity (documented proxy; the join/agg shape is
    what's exercised). Selective part filter first, dims broadcast,
    exact-integer-cents aggregation (float sum-order discipline)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    profit_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100,
        0,
    ).cast("long")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit_cents) / 100.0, 2).alias("sum_profit"))
    )


def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: lineitem->orders->customer->nation->region multi-join,
    revenue per nation within one region."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
    )


def q_p1_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        (~F.col("event_type").isin("error", "signup"))
        & F.col("event_type").isin("click", "view", "purchase")
        & (F.col("value") > 100.0)
    ).select("event_id", "event_type", F.round("value", 2).alias("value"))


def q_p2_illegal_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: replace the S3-hostile character set (transform.py:182-220)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.concat(F.col("source"), F.lit("(x) [y]&z:w")), r"[&$@=;:+,?{}%\[\]~<>#|() ]", "_"
        ).alias("clean_name"),
    )


def q_p3_version_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 predicate shape (stats.py:362-374) over event props."""
    ev = _t(spark, sf_dir, "events")
    v = F.get_json_object(F.col("props"), "$.k")
    return ev.select(
        "event_id",
        v.alias("k_val"),
        (~v.isin("release", "0") & ~v.contains("%")).alias("valid"),
    )


def q_p4_category_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    rewritten = F.when(F.col("event_type") == "click", F.lit("tap")).otherwise(
        F.col("event_type")
    )
    return ev.groupBy(rewritten.alias("category")).agg(F.count("*").alias("n"))


def q_p8_prefix_capitalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    curie = F.concat(F.col("lang"), F.lit(":"), F.col("doc_id").cast("string"))
    fixed = F.concat(
        F.upper(F.split(curie, ":")[0]), F.lit(":"), F.split(curie, ":")[1]
    )
    return d.select("doc_id", curie.alias("raw"), fixed.alias("fixed"))


def q_j1_broadcast_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast hash-join remap with coalesce(new, old)."""
    n = _t(spark, sf_dir, "nation")
    remap = spark.createDataFrame(
        [("0", "ALGERIA-R"), ("5", "ETHIOPIA-R"), ("10", "IRAN-R")],
        "old_key string, new_name string",
    )
    joined = n.join(
        F.broadcast(remap), n.n_nationkey.cast("string") == remap.old_key, "left"
    )
    return joined.select(
        "n_nationkey", F.coalesce("new_name", "n_name").alias("name")
    )


def q_j4_version_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: same-key self-join + ratio band predicate (stats.py:376-426)."""
    o = _t(spark, sf_dir, "orders")
    a = o.select("o_custkey", F.col("o_orderkey").alias("k_a"), F.col("o_totalprice").alias("p_a"))
    b = o.select("o_custkey", F.col("o_orderkey").alias("k_b"), F.col("o_totalprice").alias("p_b"))
    pairs = a.join(b, "o_custkey").filter(F.col("k_a") < F.col("k_b"))
    flagged = pairs.filter(~(F.col("p_a") / F.col("p_b")).between(0.5, 1.5))
    return flagged.groupBy("o_custkey").agg(F.count("*").alias("n_outlier_pairs"))


def q_j6_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q_j8_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


def q_a5_max_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6: degree aggregates over a derived part–supplier edge table using
    the engine's degree_frame (explode endpoints + groupBy)."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("subject"),
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("object"),
    ).distinct()
    deg = degree_frame(edges)
    return deg.agg(
        F.max("degree").alias("max_degree"),
        F.round(F.avg("degree"), 4).alias("mean_degree"),
        F.count("*").alias("n_vertices"),
    )


def q_a7_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: group-collect as |-joined sorted string (stats.py:563-590 shape)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.concat_ws(
            "|", F.sort_array(F.collect_set(F.col("user_id").cast("string")))
        ).alias("user_ids")
    )


def q_a10_distinct_namespaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(F.split(F.col("p_brand"), "#")[0].alias("ns")).distinct()


def q_a12_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


def q_a14_format_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kinds = ev.select("event_type").distinct()
    return kinds.select(
        "event_type",
        F.explode(F.array(F.lit("TSV"), F.lit("JSON"))).alias("format"),
    )


def q_s4_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: regex capture cascade + coalesce (get_owl_iri shape)."""
    d = _t(spark, sf_dir, "documents")
    first_kw = F.regexp_extract(F.col("text"), r"\b(spark|merge|join)\b", 1)
    first_word = F.regexp_extract(F.col("text"), r"^([a-z]+)", 1)
    return d.select(
        "doc_id",
        F.when(first_kw != "", first_kw).otherwise(first_word).alias("token"),
    )


def q_s5_extract_all_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: regexp_extract_all -> explode -> count (imports scan shape)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"\b(s[a-z]+)\b"), F.lit(1))
        ).alias("tok")
    )
    return toks.groupBy("tok").agg(F.count("*").alias("n"))


def q_window_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'latest version wins' (track_obo_version analog).

    r8 (guide §2.3 'aggregate before you shuffle'): the row_number window
    shuffled + sorted every order row; the same one-row-per-customer result
    is max(struct(o_orderdate, o_orderkey)) — lexicographic struct max ==
    the window's (o_orderdate DESC, o_orderkey DESC) rank-1 row — computed
    as a hash aggregate with map-side partial aggregation, so the exchange
    carries <= |customers| partial rows and nothing is sorted. Equivalence
    parity-checked vs the unchanged DuckDB oracle at 3 SFs + sf1.0."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.max(F.struct("o_orderdate", "o_orderkey")).alias("_m"))
        .select(
            "o_custkey",
            F.col("_m.o_orderkey").alias("o_orderkey"),
            F.col("_m.o_orderdate").alias("o_orderdate"),
        )
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    ).filter(F.col("k_val") > 50)


# ----------------------------------------------------- text / dedup / vectors


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # floor-to-1e-6 integer, not round(…, 6): engines disagree on .5 ties
    # (doc 1214 at sf0.1); floor of the identical IEEE double is identical
    from kg_obo_spark.functions.text import quality_score_raw

    # r8: the single-row-group documents table otherwise evaluates the whole
    # regex-heavy score projection on ONE scan task (guide §2.5); no-op when
    # the scan is already parallel
    d = ensure_scan_parallelism(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.floor(quality_score_raw(F.col("text")) * 1e6)
        .cast("long")
        .alias("quality_e6"),
    )


def q_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (r6): per-row (shard, order_key) for
    training read order — seed 1, 16 shards. A pure map-side projection
    (zero exchange, plan-pinned); the md5 order key and first-8-hex shard
    arithmetic are the sampling family's engine-portable discipline, so the
    entire epoch permutation is value-verified."""
    from kg_obo_spark.operators.sampling import epoch_shard_assignment

    d = _t(spark, sf_dir, "documents")
    return epoch_shard_assignment(d, n_shards=16, seed=1).select(
        "doc_id", "shard", "order_key"
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (r6): every document mapped onto the
    512-token training sequences it occupies under the (seed 1, 16-shard)
    epoch order — the layout a training reader uses to assemble sequences
    without materializing the token stream. Integer-only output (shard,
    seq_id, offsets, token counts), so the whole packing layout is exactly
    value-verified cross-engine. ONE exchange (the per-shard running-count
    window), plan-pinned in tests/test_packing.py."""
    from kg_obo_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, budget=512, n_shards=16, seed=1)


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing under the SUBWORD token model (r7): the same
    (seed 1, 16 shards, 512 budget) concat-and-chunk layout as
    pack_sequences, but budgets counted in GreedyWordpiece pieces — the
    token model a training run actually consumes (~1.8x whitespace counts
    on this corpus). The tokenizer is a map-side, worker-memoized
    mapInPandas stage, so the plan keeps pack's ONE exchange (plan-pinned
    in tests/test_tokenizer.py). The DuckDB oracle recomputes the greedy
    max-munch segmentation with a recursive CTE over the LITERAL shared
    vocabulary (one source of truth: DEFAULT_WORDPIECE_VOCAB), so every
    subword slice boundary is value-verified cross-engine."""
    from kg_obo_spark.functions.tokenizer import GreedyWordpiece
    from kg_obo_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(
        d, budget=512, n_shards=16, seed=1, tokenizer=GreedyWordpiece()
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (r6): maximal runs of >= 5 consecutive
    tokens whose every 5-gram repeats corpus-wide (the Lee et al. 2022
    exact-substring dedup shape). Two exchanges — hash(gram) for the global
    frequency window, hash(doc) for the gaps-and-islands merge (the final
    agg rides it via the subset rule); never a self-join. Plan-pinned in
    tests/test_dedup.py. Integer-only output: exactly value-verified."""
    from kg_obo_spark.operators.dedup import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return duplicate_spans(d, k=5)


def q_top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by exact-integer TF-IDF (r6): fixed-point
    (1e6*tf)//df score — within-doc ranking identical to tf*N/df, but
    bit-exact cross-engine including alphabetical tie-breaks. Three
    inherent inverted-index exchanges ((doc,term) agg, term df window,
    per-doc rank window); map-side partial combine on the count."""
    from kg_obo_spark.operators.keywords import top_terms_tfidf

    d = _t(spark, sf_dir, "documents")
    return top_terms_tfidf(d, k=3)


def q_corpus_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup applied end-to-end (r6): duplicate_spans(k=5)
    piped into scrub_spans — every document comes back with its duplicated
    runs cut out plus the removed-token count (aggressive cut-all policy;
    see q_corpus_scrub_spans_keepfirst for the production keep-one mode).
    The clean_text string itself is value-verified cross-engine."""
    from kg_obo_spark.operators.dedup import duplicate_spans, scrub_spans

    d = _t(spark, sf_dir, "documents")
    return scrub_spans(d, duplicate_spans(d, k=5))


def q_corpus_scrub_spans_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, KEEP-FIRST policy (r7): one canonical
    occurrence of each duplicated run survives (the global first by
    (doc_id, span_start) per normalized run text — Lee et al. 2022's
    deployed mode), every other occurrence is cut. The cut set is a strict
    subset of q_corpus_scrub_spans's, so corpora keep one copy of repeated
    boilerplate instead of losing it everywhere. clean_text value-verified
    cross-engine; fuzz-tested vs brute force in tests/test_dedup.py."""
    from kg_obo_spark.operators.dedup import scrub_spans_keepfirst

    d = _t(spark, sf_dir, "documents")
    return scrub_spans_keepfirst(d, k=5)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (r6): 16-token windows, stride 8 (half
    overlap) — the RAG/context-window splitter. Map-side only: tokenize,
    explode a bounded window-index sequence, slice; ZERO exchange,
    plan-pinned in tests/test_chunking.py. chunk_text carries the exact
    token slice so the whole layout is value-verified cross-engine."""
    from kg_obo_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=16, stride=8)


def q_chunk_documents_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking under the SUBWORD token model (r7): the same
    16-token / stride-8 windows as chunk_documents, but over GreedyWordpiece
    pieces — chunk_text carries the exact piece slice, so the subword chunk
    layout (boundaries AND piece strings) is value-verified cross-engine.
    The tokenizer stage is map-side (pieces_frame), keeping chunking's ZERO
    exchange (plan-pinned in tests/test_tokenizer.py); the DuckDB oracle
    rebuilds per-word piece LISTS with a recursive CTE over the shared
    literal vocabulary and flattens them in word order."""
    from kg_obo_spark.functions.tokenizer import GreedyWordpiece
    from kg_obo_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(
        d, chunk_tokens=16, stride=8, tokenizer=GreedyWordpiece()
    )


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling (r6): rebalance the corpus toward a target
    language mixture (en weighted 2, others 1) — the scarcest-per-weight
    stratum is kept whole, every other stratum hash-mod-thinned to match.
    Rates are exact integer arithmetic (cross-multiplied argmax + floor
    division), so the kept row set is bit-identical cross-engine. ONE
    map-side-combined count agg (#strata rows collected) + a pure codegen
    scan-filter."""
    from kg_obo_spark.operators.sampling import mixture_resample

    d = _t(spark, sf_dir, "documents")
    w = {"de": 1, "en": 2, "es": 1, "fr": 1, "zh": 1}
    return mixture_resample(d, "doc_id", "lang", w).select("doc_id", "lang")


def q_mixture_resample_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGET mixture resampling: per-stratum rates derived from token
    TOTALS instead of document counts — the unit a pretraining mixture is
    specified in ("X% of training tokens from domain d"); the count variant
    skews token shares when domains differ in document length. Same
    exact-integer anchor/rate derivation, ONE sum agg, codegen filter."""
    from kg_obo_spark.functions.text import token_count
    from kg_obo_spark.operators.sampling import mixture_resample_tokens

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    w = {"de": 1, "en": 2, "es": 1, "fr": 1, "zh": 1}
    return mixture_resample_tokens(d, "doc_id", "lang", w, "n_tok")


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (sqrt temperature, alpha=1/2 —
    the mBERT/XLM-R multilingual sampling rule): stratum shares become
    proportional to n^0.5, upweighting tail languages relative to their raw
    share. Weights are exact integer square roots, rates the exact-integer
    mixture derivation — kept set bit-identical cross-engine (DuckDB
    floor(sqrt(double)) == Python isqrt for corpus-scale counts)."""
    from kg_obo_spark.operators.sampling import temperature_resample

    d = _t(spark, sf_dir, "documents")
    return temperature_resample(d, "doc_id", "lang", alpha=(1, 2)).select(
        "doc_id", "lang"
    )


def q_sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filtering (FineWeb/DCLM style): keep each document with
    probability proportional to its per-row quality score instead of a hard
    threshold — deterministically, bucket(md5(id)) < score_bp. Score here is
    the length proxy least(9999, 20*n_chars); any 0..10000 score column
    plugs in. Pure codegen scan-filter, zero shuffle."""
    from kg_obo_spark.operators.sampling import quality_weighted_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.least(F.lit(9999), F.col("n_chars") * 20).alias("score_bp"),
    )
    return quality_weighted_sample(d, "doc_id", "score_bp")


def q_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tiered repetition plan (FineWeb-Edu / data-echoing
    upsampling): score >= 8000 -> 3 epoch copies, >= 5000 -> 2, else 1;
    each (doc, repeat) gets the epoch_shards md5 order key seeded by
    repeat_idx so copies scatter through the epoch. Pure map-side codegen
    (CASE + bounded explode + md5) — ZERO exchange."""
    from kg_obo_spark.operators.sampling import repeat_plan

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.least(F.lit(9999), F.col("n_chars") * 20).alias("score_bp"),
    )
    return repeat_plan(d, "score_bp")


def q_sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic 5% corpus slice: md5-bucket sampling, engine-portable
    # (the reproducible sampler a training pipeline uses for splits)
    from kg_obo_spark.operators.sampling import hash_mod_sample, sample_bucket

    d = _t(spark, sf_dir, "documents")
    return hash_mod_sample(d, "doc_id", 500).select(
        "doc_id", sample_bucket(F.col("doc_id")).alias("sample_bucket")
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reproducible sampleBy: downsample the dominant language 10%, keep 40%
    # of the tail — per-stratum rate is a CASE expression, single scan
    from kg_obo_spark.operators.sampling import hash_mod_sample_by, sample_bucket

    d = _t(spark, sf_dir, "documents")
    rates = {"en": 1000, "de": 4000, "es": 4000, "fr": 4000, "zh": 4000}
    return hash_mod_sample_by(d, "doc_id", "lang", rates).select(
        "doc_id", "lang", sample_bucket(F.col("doc_id")).alias("sample_bucket")
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style duplicate word-3-gram metrics per document; ratios as
    # floor-scaled e6 ints (engines agree on floor of the identical IEEE
    # double of identical integer count divisions)
    from kg_obo_spark.functions.text import ngram_repetition_stats

    d = _t(spark, sf_dir, "documents")
    r = ngram_repetition_stats(d, n=3)
    return r.select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        F.floor(F.col("dup_gram_frac") * 1e6).cast("long").alias("dup_gram_frac_e6"),
        F.floor(F.col("dup_gram_char_frac") * 1e6)
        .cast("long")
        .alias("dup_char_frac_e6"),
        F.floor(F.col("top_gram_char_frac") * 1e6)
        .cast("long")
        .alias("top_char_frac_e6"),
    )


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (r6): distinct word-3-gram overlap of every
    document against a deterministic held-out 'benchmark' slice (doc_id %
    97 == 0 — the eval-set stand-in; no external data). Broadcast gram
    probe + the repetition family's single corpus exchange; floor-e6 ratio
    discipline."""
    from kg_obo_spark.functions.text import ngram_contamination

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    r = ngram_contamination(d, bench, n=3)
    return r.select(
        "doc_id",
        "n_distinct_grams",
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        F.floor(F.col("contamination_frac") * 1e6)
        .cast("long")
        .alias("contamination_frac_e6"),
    )


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (r6): the parquet corpus is clean, so deterministic PII
    (an email, an IPv4, a phone number derived from doc_id) is planted into
    every text INSIDE the query on both sides, then counted on the raw text
    and scrubbed — md5 of the scrubbed text value-checks every replacement
    site, not just the counts."""
    from kg_obo_spark.functions.text import pii_counts, scrub_pii

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 or +1555"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ).alias("text"),
    )
    t = F.col("text")
    return planted.select(
        "doc_id",
        *[c.cast("long").alias(n) for c, n in zip(
            pii_counts(t), ["n_email", "n_ipv4", "n_phone"]
        )],
        F.md5(scrub_pii(t)).alias("scrub_md5"),
    )


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based document filter (Rae et al. 2021 §A1.1): per-doc
    signals + per-rule pass flags + keep. min_stop_hits=1 because the
    synthetic corpus carries at most one distinct Gopher stopword ('the');
    the paper's other thresholds stand and the word-count rule bites (the
    corpus straddles 50 words). Ratios as floor-e6 ints."""
    from kg_obo_spark.functions.text import gopher_quality_filter

    d = _t(spark, sf_dir, "documents")
    r = gopher_quality_filter(d, min_stop_hits=1)
    return r.select(
        "doc_id",
        "n_words",
        "n_stop_hits",
        F.floor(F.col("mean_word_len") * 1e6).cast("long").alias("mean_word_len_e6"),
        F.floor(F.col("symbol_word_ratio") * 1e6)
        .cast("long")
        .alias("symbol_ratio_e6"),
        F.floor(F.col("alpha_word_frac") * 1e6).cast("long").alias("alpha_frac_e6"),
        "pass_word_count",
        "pass_mean_word_len",
        "pass_symbol_ratio",
        "pass_alpha_words",
        "pass_stopwords",
        "keep",
    )


def q_text_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row funnel over the Gopher filter: total docs, per-rule pass
    counts, survivors — the report a pipeline reads before committing a
    filtered corpus. Same thresholds as text_quality_filter."""
    from kg_obo_spark.functions.text import gopher_quality_funnel

    d = _t(spark, sf_dir, "documents")
    f = gopher_quality_funnel(d, min_stop_hits=1)
    return f.select(
        "n_docs",
        *[
            F.col(c).cast("long").alias(c)
            for c in [
                "n_pass_word_count",
                "n_pass_mean_word_len",
                "n_pass_symbol_ratio",
                "n_pass_alpha_words",
                "n_pass_stopwords",
                "n_keep",
            ]
        ],
    )


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning (r6): Gopher filter -> exact-dedup
    keep-first -> 3-gram decontamination vs the doc_id%97 benchmark slice ->
    80% deterministic sample, as cumulative per-doc stage flags from ONE
    dataflow. min_stop_hits=1 (corpus carries one distinct stopword)."""
    from kg_obo_spark.operators.corpus import clean_corpus_flags

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    return clean_corpus_flags(
        d, bench, contamination_max_frac=0.05, sample_rate_bp=8000,
        min_stop_hits=1,
    )


def q_corpus_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row stage funnel over q_corpus_clean's flags: input count and
    survivors after quality/dedup/decontamination/sampling."""
    from kg_obo_spark.operators.corpus import clean_corpus_funnel

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    f = clean_corpus_funnel(
        d, bench, contamination_max_frac=0.05, sample_rate_bp=8000,
        min_stop_hits=1,
    )
    return f.select(
        "n_input",
        *[
            F.col(f"n_{s}").cast("long").alias(f"n_{s}")
            for s in [
                "pass_quality",
                "pass_dedup",
                "pass_decontam",
                "pass_sample",
            ]
        ],
    )


def q_text_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher 2..4-gram repetition family in one single-exchange
    pass (VERDICT r5 next #6); same floor-e6 ratio discipline as
    text_repetition."""
    from kg_obo_spark.functions.text import ngram_repetition_family

    d = _t(spark, sf_dir, "documents")
    r = ngram_repetition_family(d, ns=(2, 3, 4))
    return r.select(
        "doc_id",
        "n",
        "n_grams",
        "n_distinct_grams",
        F.floor(F.col("dup_gram_frac") * 1e6).cast("long").alias("dup_gram_frac_e6"),
        F.floor(F.col("dup_gram_char_frac") * 1e6)
        .cast("long")
        .alias("dup_char_frac_e6"),
        F.floor(F.col("top_gram_char_frac") * 1e6)
        .cast("long")
        .alias("top_char_frac_e6"),
    )


def q_text_repetition_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-line metrics (VERDICT r5 next #6). The corpus text is
    single-line, so the contract reshapes it deterministically into 2-token
    lines (trailing odd token keeps its own line) before the operator — the
    oracle builds the identical lines from the token list. Real multi-line
    corpora call line_repetition_stats directly."""
    from kg_obo_spark.functions.text import line_repetition_stats, tokens

    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_lines = F.ceil(F.size(toks) / 2).cast("int")
    line_arr = F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.when(
            i * 2 <= F.size(toks),
            F.concat_ws(
                " ", F.element_at(toks, i * 2 - 1), F.element_at(toks, i * 2)
            ),
        ).otherwise(F.element_at(toks, i * 2 - 1)),
    )
    reshaped = d.select(
        "doc_id",
        F.when(F.size(toks) > 0, F.array_join(line_arr, "\n"))
        .otherwise(F.lit(""))
        .alias("text"),
    )
    r = line_repetition_stats(reshaped)
    return r.select(
        "doc_id",
        "n_lines",
        "n_distinct_lines",
        F.floor(F.col("dup_line_frac") * 1e6).cast("long").alias("dup_line_frac_e6"),
        F.floor(F.col("dup_line_char_frac") * 1e6)
        .cast("long")
        .alias("dup_char_frac_e6"),
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5(F.col("text")).alias("fingerprint"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r8 scan spread: the md5-fingerprint projection is the per-row hot loop
    d = ensure_scan_parallelism(_t(spark, sf_dir, "documents"))
    g = exact_duplicates(d)
    return g.select(
        "fingerprint",
        "representative",
        "n_dups",
        F.concat_ws("|", F.transform("members", lambda m: m.cast("string"))).alias(
            "member_ids"
        ),
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, shingle_k=3, threshold=0.08)


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair detection -> actionable dedup groups: n-gram Jaccard pairs folded
    into connected components; every document maps to its group representative
    (component min; unpaired docs map to themselves). Oracled with a
    recursive-CTE closure over the SAME SQL pair set."""
    from kg_obo_spark.operators.dedup import near_dup_groups

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, shingle_k=3, threshold=0.08).select("a", "b")
    return near_dup_groups(pairs, d)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # r8 scan spread on the scored (big) side only; the 3-row query side is
    # broadcast by the operator
    out = cosine_topk(ensure_scan_parallelism(emb), queries, k=5)
    return out.select("query_id", "neighbor_id", "rank")


def q_emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kg_obo_spark.operators.similarity import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.round(F.avg(l2_norm(F.col("embedding"))), 4).alias("avg_norm"),
        F.count("*").alias("n"),
    )


def q_multimodal_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return payload_stats(media_from_documents(d)).select(
        "media_id", "n_bytes", "sha256"
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (events -> latest order of the same key at event time).
    Spark lacks a native ASOF JOIN; this runs the engine's cogroup+merge_asof
    operator and is value-checked against DuckDB's native ASOF LEFT JOIN."""
    from kg_obo_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "event_id", "ts"
    )
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    orders = (
        _t(spark, sf_dir, "orders")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)  # one row per (key, ts): ties removed
        .select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("ts"),
            "o_orderkey",
        )
    )
    out = asof_join(ev, orders, key="k", left_ts="ts", right_ts="ts")
    return out.select("event_id", F.col("r_o_orderkey").alias("matched_order"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session stats."""
    from kg_obo_spark.operators.temporal import session_stats, sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts_col="ts", gap_seconds=1800, order_tiebreak="event_id")
    return session_stats(s).select(
        "user_id", "session_id", "n_events", "duration_us"
    )


def q_user_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map (applyInPandas) feature extraction per user — the §2.8
    'whole group at once' surface, value-checked against a SQL window mirror."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events")

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        types = pdf["event_type"].to_numpy()
        switches = int((types[1:] != types[:-1]).sum()) if len(types) > 1 else 0
        gaps = pdf["ts"].diff().dt.total_seconds().dropna()
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "n_type_switches": [switches],
                "mean_gap_s": [round(float(gaps.mean()), 4) if len(gaps) else 0.0],
            }
        )

    return ev.select("user_id", "event_id", "event_type", "ts").groupBy("user_id").applyInPandas(
        per_user,
        schema="user_id long, n_events long, n_type_switches long, mean_gap_s double",
    )


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping over (returnflag, linestatus); nulls coalesced to 'ALL'
    so the value-hash comparison never sees engine-specific null encodings."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list -> stable schema)."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select(
        "l_returnflag",
        F.coalesce("O", F.lit(0.0)).alias("qty_o"),
        F.coalesce("F", F.lit(0.0)).alias("qty_f"),
    )


def q_publish_format_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: artifact listing scan with suffix format dispatch + ignored-file
    filter, over keys derived from the documents table."""
    from kg_obo_spark.operators.publish import tag_artifact_format

    d = _t(spark, sf_dir, "documents")
    files = d.select(
        F.concat(
            F.col("source"), F.lit("/"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("index.html"))
            .when(F.col("doc_id") % 3 == 0, F.concat(F.lit("doc"), F.col("doc_id").cast("string"), F.lit("_kgx_tsv.tar.gz")))
            .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("doc"), F.col("doc_id").cast("string"), F.lit(".json")))
            .otherwise(F.concat(F.lit("doc"), F.col("doc_id").cast("string"), F.lit(".log"))),
        ).alias("key")
    )
    return tag_artifact_format(files).select("key", "basename", "format")


def q_publish_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/A11: per-directory artifact index (group + collect + HTML)."""
    from kg_obo_spark.operators.publish import directory_index

    d = _t(spark, sf_dir, "documents")
    files = d.select(
        F.concat(
            F.col("source"), F.lit("/"), F.col("lang"), F.lit("/doc"),
            F.col("doc_id").cast("string"), F.lit(".json"),
        ).alias("key")
    )
    idx = directory_index(files)
    return idx.select(
        "dirname",
        F.array_join("files", "|").alias("file_list"),
        "index_html",
    )


def q_set_diff_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_file_diff analog (transform.py:526-553) as relational EXCEPT ALL."""
    ev = _t(spark, sf_dir, "events")
    all_rows = ev.select("event_id", "event_type")
    sample = ev.filter(F.col("value") > 100.0).select("event_id", "event_type")
    from kg_obo_spark.operators.publish import file_set_diff

    return file_set_diff(all_rows, sample)


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact O(n²) baseline."""
    from kg_obo_spark.operators.similarity import embedding_near_dup_exact

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_exact(emb, threshold=0.35).select("a", "b")


# ------------------------------------------- formerly-rows-only heavy ops
# (r6: ALL graduated to full value oracles — pipeline_transcripts /
# dedup_minhash / dedup_simhash via md5-window signatures, ann_ivf via
# md5-ordered seed centroids, emb_near_dup_lsh via literal md5-sign
# hyperplanes. Zero rows-only entries remain anywhere in the contract.)

_LSH_N_PLANES = 16
_LSH_PREFIX_BITS = 4
_EMB_DIM = 64


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup (scale path), VALUE-oracled (r6): literal
    ±1 md5-sign planes (:func:`md5_sign_planes`) feed the PRODUCTION
    blocking + bucket-cap + cosine-verify chain via the ``signatures=``
    override; DuckDB recomputes every signature bit with ``list_dot_product``
    against the same plane literals (bit-exact vs Spark's fold — measured)
    and mirrors the chunk join + verify. bench.py keeps timing the
    splitmix64-numpy production signatures."""
    from kg_obo_spark.operators.similarity import (
        embedding_near_dup_lsh,
        hyperplane_signature_literal,
        md5_sign_planes,
    )

    emb = _t(spark, sf_dir, "embeddings")
    sigs = hyperplane_signature_literal(
        emb, md5_sign_planes(_LSH_N_PLANES, _EMB_DIM)
    )
    return embedding_near_dup_lsh(
        emb,
        threshold=0.35,
        n_planes=_LSH_N_PLANES,
        prefix_bits=_LSH_PREFIX_BITS,
        max_bucket=1_000_000,
        signatures=sigs,
    ).select("a", "b")


def q_pipeline_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END flagship over SQL-visible input (VERDICT r5 next #1): the
    documents table reshaped to the transcript schema (conv_id = doc_id // 4,
    turn_idx = doc_id % 4), run through the REAL engine chain — trie/fastscan
    mention extraction → canonical_map (union-find/CC over the xref
    equivalence graph) → broadcast canonical rewrite → per-turn sorted-array
    pair expansion → KGX edge emission (distinct co-mention + is_a rows with
    the materialize.py constants). The DuckDB oracle mirrors every stage in
    one WITH chain, CC as a recursive CTE — so the north-star dataflow gets
    rows+schema+hash verification, not a rows-only count. The same chain over
    generate_transcripts feeds entry()/bench and stays value-pinned against
    the pure-Python oracle by tests/test_pipeline.py."""
    onto = _doc_pipeline_ontology()
    docs = _t(spark, sf_dir, "documents")
    tr = docs.select(
        F.floor(F.col("doc_id") / 4).cast("string").alias("conv_id"),
        F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("turn_idx"),
        "text",
    )
    mentions = extract_mentions(tr, onto)
    terms_df = spark.createDataFrame([(t["id"],) for t in onto.terms], "id string")
    eq = spark.createDataFrame(onto.xrefs, "a string, b string")
    cm = canonical_mentions(mentions, canonical_map(terms_df, eq))
    return build_edges(cm, onto)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup, VALUE-oracled (VERDICT r5 next #5): the md5-window
    signature variant feeds the PRODUCTION banding + bucket-cap + verify-join
    code, and DuckDB mirrors the identical md5 slot arithmetic, banded
    candidate join, and agreement fraction. bench.py still times the
    keyed-siphash production signatures (minhash_signatures)."""
    from kg_obo_spark.operators.dedup import minhash_signatures_md5

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures_md5(d, num_hashes=8)
    return minhash_near_duplicates(
        d, num_hashes=8, bands=4, threshold=0.3, max_bucket=1_000_000,
        signatures=sigs,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, VALUE-oracled: 60-bit md5 signature variant through
    the PRODUCTION Hamming blocking (4 x 15-bit chunks) + bit_count verify;
    DuckDB recomputes the same majority-vote signatures from the same text."""
    from kg_obo_spark.operators.dedup import simhash_frame_md5

    d = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        d, max_hamming=8, prefix_bits=15, sim_frame=simhash_frame_md5(d)
    ).select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k, VALUE-oracled (r6): md5-ordered seed centroids
    (:func:`deterministic_centroids_md5`) feed the PRODUCTION assign → probe
    → top-k chain via the ``centroids=`` override; the DuckDB oracle
    reproduces the centroid selection (same md5 hex ordering), the argmax
    assignment, the nprobe probe, and the final ranking with an explicit
    ``list_dot_product`` cosine (bit-exact vs Spark's fold — the built-in
    ``list_cosine_similarity`` differs on self-pairs, so the oracle spells
    out dot/(|a||b|)). Production keeps xxhash64 seeds + Lloyd refinement."""
    from kg_obo_spark.operators.similarity import deterministic_centroids_md5

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = deterministic_centroids_md5(emb, n_centroids=8)
    return ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=3, centroids=cents
    ).select("query_id", "neighbor_id", "rank")


def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8-range) ANN with exact rerank — the
    memory-bandwidth scale path beside IVF's partition pruning: the corpus
    scan reads ~4x fewer bytes (qvec = floor(127*v/max|v|), exact floor of
    identical doubles), candidates rank by the exact-integer asymmetric
    score floor(1e6*scale*qdot), and only n_queries x candidates rows get
    the exact float cosine. Candidate top-C is a SALTED two-level top-k
    (identical result set by construction) so no partition ever holds the
    whole corpus; the oracle mirrors quantization, candidate selection, and
    rerank stage by stage."""
    from kg_obo_spark.operators.similarity import ann_quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_quantized_topk(emb, queries, k=5, candidates=20)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training (DPR/E5):
    per anchor, top-5 corpus vectors with exact cosine in [0.10, 0.35) —
    floor drops gradient-free easy negatives, ceiling drops likely
    false-negative near-dups. Floor-e6 integer band + ranking; band filter
    runs map-side BEFORE any shuffle, per-anchor top-k is the salted
    two-level window (no single-reducer partition)."""
    from kg_obo_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return hard_negatives(emb, anchors, k=5, band_lo=0.10, band_hi=0.35)


def q_ann_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x int8 composition (FAISS IVF,SQ8 shape): md5-seeded cells +
    nprobe=3 partition pruning, int8 integer-dot candidate scan inside the
    probed cells, exact-cosine rerank of n_queries x 20 rows — the two ANN
    scale levers multiplied (nprobe/n_cells of a ~4x smaller scan). Oracle
    mirrors centroid selection, assignment, probe, quantization, candidate
    ranking, and rerank stage by stage."""
    from kg_obo_spark.operators.similarity import (
        deterministic_centroids_md5,
        ivf_quantized_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = deterministic_centroids_md5(emb, n_centroids=8)
    return ivf_quantized_topk(
        emb, queries, k=5, n_centroids=8, nprobe=3, candidates=20,
        centroids=cents,
    )


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality report in exact integers: recall@5 + reciprocal
    rank of the quantized ANN run (candidates=10, so genuinely approximate)
    against the exact cosine top-5 as truth — the tuning loop every
    ANN/LSH/BM25 configuration runs. One (query,neighbor) join of two
    queries-x-k frames + per-query aggs; floor-e6/floor-div integers, so
    the report itself is engine-exact."""
    from kg_obo_spark.operators.retrieval import retrieval_eval
    from kg_obo_spark.operators.similarity import ann_quantized_topk, cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    results = ann_quantized_topk(emb, queries, k=5, candidates=10)
    truth = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    return retrieval_eval(results, truth)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # use_codecs=False pins the deterministic hash-derived features so the
    # DuckDB oracle (which mirrors the hex arithmetic in SQL) matches in EVERY
    # environment, including ones where the capability probe finds Pillow
    return decode_stub(media_from_documents(d), use_codecs=False)


def q_sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count: per-(event_type, shard) sketches merged
    up to event_type — the two-level snapshot-merge path. The sketched domain
    is bounded (user_id % 200) so DataSketches HLL stays in exact coupon mode
    at every SF and the DuckDB exact-distinct oracle matches bit-for-bit."""
    from kg_obo_spark.functions.sketches import estimate, merge_sketches, sketch_distinct

    ev = _t(spark, sf_dir, "events")
    shard = ev.select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(7)).alias("shard"),
        F.pmod(F.col("user_id"), F.lit(200)).alias("uid_bucket"),
    )
    per_shard = sketch_distinct(shard, "uid_bucket", ["event_type", "shard"])
    merged = merge_sketches(per_shard, ["event_type"])
    return merged.select(
        "event_type", estimate("sketch").cast("long").alias("n_distinct")
    )


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch set operations: distinct users per event type plus
    distinct-of-UNION and INTERSECTION cardinality from the sketches alone —
    the set-op family HLL cannot answer. Sketches are built per shard and
    merged (the cross-snapshot path); the sketched domain (user_id % 150)
    stays below k=256, so every estimate is EXACT and the DuckDB
    count-distinct/INTERSECT oracle matches bit-for-bit."""
    from kg_obo_spark.functions.sketches import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_merge,
        kmv_sketch,
        kmv_union_estimate,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    shard = ev.select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(5)).alias("shard"),
        F.pmod(F.col("user_id"), F.lit(150)).alias("bucket"),
    )
    per_shard = kmv_sketch(shard, "bucket", ["event_type", "shard"])
    merged = kmv_merge(per_shard, ["event_type"])
    two = merged.groupBy().pivot("event_type", ["click", "purchase"]).agg(
        F.first("sketch")
    )
    return two.select(
        kmv_estimate("click").cast("long").alias("n_click"),
        kmv_estimate("purchase").cast("long").alias("n_purchase"),
        kmv_union_estimate(F.col("click"), F.col("purchase"))
        .cast("long")
        .alias("n_union"),
        kmv_intersect_estimate(F.col("click"), F.col("purchase"))
        .cast("long")
        .alias("n_intersect"),
    )


def q_sketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch: per-event_type p50/p95 of value
    via fixed-bin histograms (deterministic left-edge rule, mirrored exactly
    in the SQL oracle). Local-parity-only (outside the driver's 50)."""
    from kg_obo_spark.functions.sketches import histogram_quantiles, histogram_sketch

    ev = _t(spark, sf_dir, "events")
    sk = histogram_sketch(ev, "value", 0.0, 200.0, 40, ["event_type"])
    return histogram_quantiles(sk, [0.5, 0.95], 0.0, 200.0, 40, ["event_type"]).select(
        "event_type", "q", "bin", F.round("left_edge", 4).alias("left_edge")
    )


def q_publish_root_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root index w/ dead-link probe (upload.py:283-384 update_root): sources
    ending in 3/7 have no per-dir index.html -> excluded from links, reported
    as dead_dirs."""
    from kg_obo_spark.operators.publish import root_index

    d = _t(spark, sf_dir, "documents")
    arts = d.select(
        F.concat(
            F.col("source"), F.lit("/doc"), F.col("doc_id").cast("string"), F.lit(".json")
        ).alias("key")
    )
    idx = (
        d.select("source")
        .distinct()
        .filter(~F.col("source").rlike("[37]$"))
        .select(F.concat(F.col("source"), F.lit("/index.html")).alias("key"))
    )
    r = root_index(arts.unionByName(idx))
    return r.select(
        F.array_join("dirs", "|").alias("live_dirs"),
        F.array_join("dead_dirs", "|").alias("dead_dirs"),
        "index_html",
    )


def q_publish_dead_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index link validation (upload.py:356-363 head_object probe as an
    anti-join): index built over ALL keys, manifest missing doc_id%11==0 ->
    exactly those links come back dead."""
    from kg_obo_spark.operators.publish import directory_index, index_dead_links

    d = _t(spark, sf_dir, "documents")
    key = F.concat(
        F.col("source"), F.lit("/"), F.col("lang"), F.lit("/doc"),
        F.col("doc_id").cast("string"), F.lit(".json"),
    ).alias("key")
    files = d.select(key)
    manifest = d.filter(F.col("doc_id") % 11 != 0).select(key)
    return index_dead_links(directory_index(files), manifest)


# --------------------------------------- transcript analytics family (r7)
# The north-star payload is multi-turn transcripts (BASELINE.json
# input_hint); this family covers the training-data operations OVER that
# shape beyond KG construction: SFT example assembly, preference pairs,
# conversation rollups, tool-call transition analytics, and corpus-statistic
# LM scoring. Driver input: documents reshaped deterministically
# (transcripts_from_documents — same doc_id arithmetic mirrored in the
# oracles' shared `tr` CTE).


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kg_obo_spark.operators.conversations import transcripts_from_documents

    return transcripts_from_documents(_t(spark, sf_dir, "documents"))


def q_sft_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT (context, response) example assembly: chat-template flattening of
    every prior turn per assistant turn. ONE hash(conv_id) exchange (running
    window); plan-pinned in tests/test_conversations.py."""
    from kg_obo_spark.operators.conversations import sft_examples

    return sft_examples(_transcripts(spark, sf_dir))


def q_sft_examples_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT assembly under an 80-token context budget (left-truncation at
    turn granularity via the suffix-cumsum rule). Still ONE hash(conv_id)
    exchange; budget filter/render are map-side HOFs. Plan-pinned."""
    from kg_obo_spark.operators.conversations import sft_examples_budget

    return sft_examples_budget(_transcripts(spark, sf_dir), max_context_tokens=80)


def q_sft_examples_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT assembly under a 140-SUBWORD context budget: the tokenizer seam
    (GreedyWordpiece, the pack/chunk _bpe token model) composed with the
    suffix-cumsum truncation rule — context budgets in the units a training
    run actually measures. The subword count stage is map-side
    (mapInPandas), so the op keeps ONE hash(conv_id) exchange; the DuckDB
    oracle recomputes the max-munch segmentation with the shared-vocab
    recursive CTE and mirrors the budget chain."""
    from kg_obo_spark.functions.tokenizer import GreedyWordpiece
    from kg_obo_spark.operators.conversations import sft_examples_budget

    return sft_examples_budget(
        _transcripts(spark, sf_dir),
        max_context_tokens=140,
        tokenizer=GreedyWordpiece(),
    )


def q_pack_sft_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT training-sequence layout end-to-end: budget-80 example assembly
    -> concat-and-chunk packing (budget 128, 8 shards, seed 2) with the
    LOSS-MASK geometry (n_loss_tokens per slice = the response-token overlap
    — context tokens are masked in SFT). The mask boundary rides the pack
    shuffle as a passthrough column, never a join. All-integer output."""
    from kg_obo_spark.operators.conversations import sft_examples_budget
    from kg_obo_spark.operators.packing import pack_sft_examples

    ex = sft_examples_budget(_transcripts(spark, sf_dir), max_context_tokens=80)
    ex = ex.select(
        (F.col("conv_id") * 4 + F.col("turn_idx")).cast("long").alias(
            "example_id"
        ),
        "context",
        "response",
    )
    return pack_sft_examples(ex, budget=128, n_shards=8, seed=2)


def q_pack_sft_examples_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Example-ATOMIC SFT packing (the no-split policy a trainer uses when
    truncated responses are unacceptable): greedy first-fit in epoch order,
    one applyInPandas task per shard (the fill is a sequential fold no
    window expresses), oversized examples excluded. The DuckDB oracle
    replays the fold as a recursive CTE stepping one unit per shard per
    iteration — every seq boundary value-verified."""
    from kg_obo_spark.operators.conversations import sft_examples_budget
    from kg_obo_spark.operators.packing import pack_sft_examples_atomic

    ex = sft_examples_budget(_transcripts(spark, sf_dir), max_context_tokens=80)
    ex = ex.select(
        (F.col("conv_id") * 4 + F.col("turn_idx")).cast("long").alias(
            "example_id"
        ),
        "context",
        "response",
    )
    return pack_sft_examples_atomic(ex, budget=128, n_shards=4, seed=3)


def q_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation rollup (turns by role, tool calls, exact token
    totals, wall-clock span) — all-integer output, one exchange."""
    from kg_obo_spark.operators.conversations import conversation_stats

    return conversation_stats(_transcripts(spark, sf_dir))


def q_tool_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent tool-call transition matrix: consecutive (tool, next tool)
    pairs within conversations, counted corpus-wide with exact distinct-conv
    counts."""
    from kg_obo_spark.operators.conversations import tool_bigrams

    return tool_bigrams(_transcripts(spark, sf_dir))


def q_conversation_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free train/val/test split at conversation granularity (90/5/5):
    every turn of a conversation gets the same split via the md5 bucket of
    conv_id. Zero-exchange codegen projection; plan-pinned."""
    from kg_obo_spark.operators.conversations import assign_conversation_splits

    return assign_conversation_splits(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "split_bucket", "split"
    )


def q_chunk_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-RAG chunking: 3-turn windows, stride 1, per conversation.
    ONE hash(conv_id) exchange; enumeration/slicing map-side; chunk_text
    value-verified."""
    from kg_obo_spark.operators.conversations import chunk_conversations

    return chunk_conversations(
        _transcripts(spark, sf_dir), window_turns=3, stride=1
    )


def q_chunk_conversations_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget dialogue chunking (60-token chunks, turn-atomic greedy
    fill): the fold runs as a map-side F.aggregate HOF over the
    conversation-bounded turn array, and the per-chunk re-aggregation rides
    the collect's hash(conv_id) partitioning — ONE exchange total. The
    oracle replays the greedy fold as a recursive CTE stepping one turn per
    conversation per iteration."""
    from kg_obo_spark.operators.conversations import chunk_conversations_budget

    return chunk_conversations_budget(_transcripts(spark, sf_dir), max_tokens=60)


def q_chunk_conversations_budget_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget dialogue chunking measured in SUBWORD units (100-piece
    chunks): the GreedyWordpiece tokenizer seam composed with the
    turn-atomic greedy fill — chunk budgets in the units an embedding
    model's context window actually measures (~1.8x whitespace counts on
    this corpus). The subword count stage is map-side (mapInPandas), so the
    op keeps ONE hash(conv_id) exchange; the oracle recomputes max-munch
    segmentation with the shared-vocab recursive CTE feeding the greedy
    recursive chunk chain."""
    from kg_obo_spark.functions.tokenizer import GreedyWordpiece
    from kg_obo_spark.operators.conversations import chunk_conversations_budget

    return chunk_conversations_budget(
        _transcripts(spark, sf_dir), max_tokens=100, tokenizer=GreedyWordpiece()
    )


def q_conversation_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic conversation-level near-dup (SemDeDup-style): mean-pool each
    conversation's turn embeddings (turn-id-sorted LEFT-FOLD sum — pinned
    association order, so the oracle's left-associated per-slot sum is
    bit-exact), then exact cosine pairs >= 0.35 as floor-e6 fixed point.
    Pooling = one conv-keyed exchange; the pair stage is the exact baseline
    (the LSH blocking path takes the pooled frame unchanged at scale)."""
    from kg_obo_spark.operators.conversations import conversation_near_dup

    return conversation_near_dup(_t(spark, sf_dir, "embeddings"), threshold=0.35)


def q_cluster_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-cluster conversations by deterministic k-means over mean-pooled
    turn embeddings (SemDeDup's grouping layer). Engine-portable
    configuration: md5-ordered seeds + EXACT fixed-point Lloyd means
    (floor-e6 int64 sums — order-independent, so the clustering is
    bit-reproducible at any parallelism and the oracle can unroll the same
    two iterations in SQL). Corpus never reshuffles: broadcast map-only
    assignment + one (clusters x dim)-row shuffle per iteration."""
    from kg_obo_spark.operators.conversations import cluster_conversations
    from kg_obo_spark.operators.similarity import deterministic_centroids_md5

    return cluster_conversations(
        _t(spark, sf_dir, "embeddings"), n_clusters=8, iters=2,
        exact=True, seed_fn=deterministic_centroids_md5,
    )


def q_conversation_near_dup_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-blocked semantic near-dup (the SemDeDup deployment shape):
    pool -> exact-mean k-means assign -> cosine pairs only WITHIN a cluster.
    Candidate volume n^2/k for balanced clusters vs the exact operator's
    n^2; approximate by design (boundary-straddling pairs are missed — the
    oracle mirrors the SAME blocking, so parity is still exact), recall vs
    the exact operator pinned in tests/test_conversations.py."""
    from kg_obo_spark.operators.conversations import (
        conversation_near_dup_clustered,
    )
    from kg_obo_spark.operators.similarity import deterministic_centroids_md5

    return conversation_near_dup_clustered(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, n_clusters=8,
        iters=2, exact=True, seed_fn=deterministic_centroids_md5,
    )


def q_conversation_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH-blocked semantic near-dup over pooled conversation
    embeddings (ROADMAP #11) — the data-independent scale path beside the
    cluster blocking. Literal md5-sign planes feed the PRODUCTION pooling +
    blocking + cap + cosine-verify chain via ``planes=`` (the
    emb_near_dup_lsh pattern, just keyed by (conv_id, cemb)); the oracle
    recomputes the pooled fold, every signature bit, the chunk join, and
    the verify. max_bucket 1e6 so the cap slice never truncates at any test
    SF; production keeps the splitmix64 numpy signatures and a real cap."""
    from kg_obo_spark.operators.conversations import conversation_near_dup_lsh
    from kg_obo_spark.operators.similarity import md5_sign_planes

    return conversation_near_dup_lsh(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.35,
        n_planes=_LSH_N_PLANES,
        prefix_bits=_LSH_PREFIX_BITS,
        max_bucket=1_000_000,
        planes=md5_sign_planes(_LSH_N_PLANES, _EMB_DIM),
    ).select("a", "b")


def q_dedup_conversations_semantic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup end-to-end keep policy: semantic near-dup PAIRS over pooled
    conversation embeddings folded into dedup GROUPS — connected components
    over the pair graph, survivor = component min, unpaired conversations
    their own representative (near_dup_groups, the dedup_groups machinery
    keyed by conv_id). Downstream keeps ``conv_id == representative`` rows:
    pair detection becomes an actionable drop set. Oracle = the
    conversation_near_dup pair CTE + the recursive-CTE closure."""
    from kg_obo_spark.operators.conversations import (
        conversation_embeddings,
        conversation_near_dup,
    )
    from kg_obo_spark.operators.dedup import near_dup_groups

    emb = _t(spark, sf_dir, "embeddings")
    pairs = conversation_near_dup(emb, threshold=0.35).select("a", "b")
    ids = (
        conversation_embeddings(emb)
        .filter(F.col("n_turns") == 4)
        .select("conv_id")
    )
    return near_dup_groups(pairs, ids, id_col="conv_id")


def q_dedup_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup: md5 fingerprint of the turn-ordered
    normalized transcript + keep-first min-conv window. Two inherent
    exchanges (conv assembly, fingerprint window); the fingerprint VALUES
    are hash-verified, so the canonical-string assembly is value-checked
    even on a dup-free corpus."""
    from kg_obo_spark.operators.conversations import dedup_conversations

    return dedup_conversations(_transcripts(spark, sf_dir))


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF/DPO preference-pair construction: best/worst assistant turn per
    conversation by a deterministic score (token count), tie-broken by
    turn_idx. ONE exchange (both rank windows + the pairing agg share the
    hash(conv_id) partitioning); plan-pinned."""
    from kg_obo_spark.operators.conversations import preference_pairs

    return preference_pairs(_transcripts(spark, sf_dir))


def q_conversation_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-grounded conversation rollup: the REAL KG extraction stage
    (trie/fastscan mention scan -> canonical rewrite, exactly the
    pipeline_transcripts chain) composed with the transcript-analytics
    layer — per conversation, how many (turn, entity) presences, distinct
    canonical entities, and turns with at least one mention. The DuckDB
    oracle mirrors extraction regex + recursive-CTE CC + canonical rewrite
    (the pipeline oracle's chain) and aggregates per conversation.

    Scale shape: the fused extraction scan is map-only; presence distinct +
    all three aggregates cluster by conv_id (the distinct's exchange is
    (conv,turn,term)-keyed; the rollup rides hash(conv_id))."""
    onto = _doc_pipeline_ontology()
    docs = _t(spark, sf_dir, "documents")
    tr = docs.select(
        F.floor(F.col("doc_id") / 4).cast("string").alias("conv_id"),
        F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("turn_idx"),
        "text",
    )
    mentions = extract_mentions(tr, onto)
    terms_df = spark.createDataFrame([(t["id"],) for t in onto.terms], "id string")
    eq = spark.createDataFrame(onto.xrefs, "a string, b string")
    cm = canonical_mentions(mentions, canonical_map(terms_df, eq))
    pres = cm.select("conv_id", "turn_idx", "term_id").distinct()
    return pres.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_mention_turns"),
        F.countDistinct("term_id").alias("n_entities"),
        F.countDistinct("turn_idx").alias("n_turns_with_mentions"),
    )


def q_kg_comention_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted co-mention edges: exact counts + fixed-point lift score
    (lift orders pairs identically to PMI, no float log). The per-turn
    reduction is materialized once and feeds pair counts, term counts
    (broadcast back), and the scalar turn count."""
    from kg_obo_spark.operators.materialize import co_mention_weights

    onto = _doc_pipeline_ontology()
    docs = _t(spark, sf_dir, "documents")
    tr = docs.select(
        F.floor(F.col("doc_id") / 4).cast("string").alias("conv_id"),
        F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("turn_idx"),
        "text",
    )
    mentions = extract_mentions(tr, onto)
    terms_df = spark.createDataFrame([(t["id"],) for t in onto.terms], "id string")
    eq = spark.createDataFrame(onto.xrefs, "a string, b string")
    cm = canonical_mentions(mentions, canonical_map(terms_df, eq))
    return co_mention_weights(cm)


def q_gram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistic LM scoring (KenLM-filter proxy): mean corpus
    frequency of each document's token bigrams, exact fixed-point (x 1e6).
    TWO inherent exchanges — hash(gram) count window + hash(doc) agg."""
    from kg_obo_spark.functions.text import gram_familiarity

    return gram_familiarity(_t(spark, sf_dir, "documents"), n=2)


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order novelty audit (incremental-crawl curation): per document,
    the fraction of its DISTINCT token 3-grams whose corpus-wide first
    occurrence (min doc_id) is this document — the complement of
    gram_familiarity's frequency view. All-integer floor-e6; gram-less
    documents are vacuously novel (0, 0, 1e6). TWO corpus exchanges:
    repartition(gram) serves both the (gram, id) distinct and the
    min-over-gram window via the subset rule, then one hash(doc) agg."""
    from kg_obo_spark.functions.text import gram_novelty

    return gram_novelty(_t(spark, sf_dir, "documents"), n=3)


# ---------------------------------------------------------------- registry


# The driver's correctness gate records at most 50 registry entries per round
# (CORRECTNESS_r01/r02 each hold exactly 50 rows). queries()/oracle_sql() are
# therefore capped at DRIVER_QUERY_CAP entries; everything else lives in
# all_queries()/all_oracle_sql() and stays verified by the LOCAL parity harness
# (tools/parity_check.py + tests/test_entry_contract.py::test_rotated_parity).
# Rotation history: r3 rotated out 10 long-stable shapes (q3/q4/q5/q7,
# p3/a10/a12/a14, text_token_count, json_extract — all green in r1+r2) to make
# room for the 8 entries the r2 cap silently skipped plus the new q2/q9.
# Rotation SCHEDULE (VERDICT r3 next #3): every round, swap the parked set so
# each oracled query gets a driver CORRECTNESS row at least every other round.
# r4 brings the full r3-parked set back in and parks 12 r3-green stable shapes
# instead; r5 swaps back (modulo new queries). sketch_value_quantiles stays
# local-parity-only by design (the sketch family holds two driver slots).
DRIVER_QUERY_CAP = 50

_ROTATED_OUT = (
    # --- r7 parked set (alternating schedule: every oracled query gets a
    # driver row at least every other round). The FULL r6-parked set (30
    # names: q1/q2/q9/q10, revenue_by_segment, p1/p2/p4/p8, j1/j4/j6/j8,
    # a7, s4/s5, window_latest, set_diff_except, kg_degree,
    # kg_id_update_map, publish_dead_links, dedup_exact/groups/
    # ngram_jaccard, sample_hash_mod/stratified, text_fingerprint/lang_id/
    # repetition, asof_join) rotates back into the driver window per the
    # r6 VERDICT brief. Every entry below is green rows+schema+hash in
    # CORRECTNESS_r06 and remains swept by the local parity harness
    # (tools/parity_check.py) + test_entry_contract.py::test_rotated_parity.
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_revenue_by_nation",
    "q7_volume_shipping",
    "p3_version_validation",
    "a5_max_degree",
    "a10_distinct_namespaces",
    "a12_dedup_rows",
    "a14_format_fanout",
    "json_extract",
    "text_token_count",
    "text_quality",
    "emb_norm_stats",
    "cube_revenue",
    "pivot_status",
    "sessionize",
    "publish_format_tag",
    "multimodal_payload",
    "publish_index",
    "publish_root_index",
    "sketch_distinct_users",
    "kmv_set_ops",
    "ann_cosine_topk",
    "emb_near_dup",
    "user_session_features",
    "kg_curie_normalize",
    "kg_comention_edges",
    "cc_nation_region",
    # the four r6 md5-variant graduations park for one round and return in
    # r8 (each has a green rows+schema+hash row in CORRECTNESS_r06)
    "dedup_minhash",
    "dedup_simhash",
    "ann_ivf",
    "ann_quantized_topk",
    "hard_negatives",
    "retrieval_eval",
    "ann_ivf_quantized",
    "doc_novelty",
    "repeat_plan",
    "emb_near_dup_lsh",
    # parked mid-r7 for the new chunk_documents_bpe row (multimodal_decode
    # is green rows+schema+hash in CORRECTNESS_r06; multimodal coverage
    # stays pinned by the both-env pytest)
    "multimodal_decode",
    # parked mid-r7 for the five new transcript-analytics rows
    # (sft_examples, conversation_stats, tool_bigrams, preference_pairs,
    # gram_familiarity) — each parked name is green rows+schema+hash in
    # CORRECTNESS_r06 and returns in r8
    "chunk_documents",
    "corpus_clean_funnel",
    "text_quality_funnel",
    "text_repetition_lines",
    "epoch_shards",
    "corpus_scrub_spans",  # parked for conversation_entities (r6-green)
    "text_repetition_ngrams",  # parked for sft_examples_budget (r6-green)
    "pack_sequences",  # parked for dedup_conversations (r6-green)
    "mixture_resample",  # parked for conversation_splits (r6-green)
    "text_decontaminate",  # parked for sft_examples_budget_bpe (r6-green)
    "text_quality_filter",  # parked for pack_sft_examples (r6-green)
    "top_terms_tfidf",  # parked for kg_comention_weights (r6-green)
    "duplicate_spans",  # parked for pack_sft_examples_atomic (r6-green)
    "corpus_clean",  # parked for chunk_conversations (r6-green)
    "text_pii_scrub",  # parked for chunk_conversations_budget (r6-green)
    # parked late-r7 for the subword dialogue-chunk budget and the semantic
    # conversation near-dup rows — both names are green rows+schema+hash in
    # CORRECTNESS_r06 (pipeline_transcripts was r6's headline graduation)
    # and stay continuously verified by the local parity harness; they
    # return in r8 per the alternating schedule
    "kg_mentions",  # parked for chunk_conversations_budget_bpe (r6-green)
    "pipeline_transcripts",  # parked for conversation_near_dup (r6-green)
    # oracled-at-birth, parked until r8 (roadmap #12): the r7 window has no
    # parkable r6-green names left — every swap candidate's last driver row
    # is r5, and parking one would break the every-other-round rule. Both
    # are value-verified at sf0.001/0.01/0.1 by tools/parity_check.py and
    # covered by test_rotated_parity; they take driver slots in the r8
    # rotation when the 51 parked names return.
    "cluster_conversations",
    "conversation_near_dup_clustered",
    "conversation_near_dup_lsh",
    "dedup_conversations_semantic",
    # graph-analytics family (late r7): parked on arrival (window full),
    # value-verified by the continuous local parity harness; r8 rotation
    # gives them their first driver rows
    "kg_pagerank",
    "kg_ancestor_closure",
    "kg_node_depth",
    "kg_triangle_counts",
    "kg_kcore",
    "kg_negative_samples",
    "bpe_pair_counts",
    "bm25_topk",
    "bm25_topk_queries",
    "mixture_resample_tokens",
    "mixture_temperature",
    "sample_quality_weighted",
    "sketch_value_quantiles",  # local-parity-only by design: the sketch
    # family already holds two driver slots (HLL, KMV)
)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every implemented query, including rotated-out entries — the set the
    local parity harness sweeps."""
    return {
        # --- first: entries with no driver CORRECTNESS row before r3
        # (r2's 50-row cap cut the registry tail; VERDICT r2 item #1)
        "multimodal_decode": q_multimodal_decode,
        "publish_dead_links": q_publish_dead_links,
        "set_diff_except": q_set_diff_except,
        "pipeline_transcripts": q_pipeline_transcripts,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "ann_ivf": q_ann_ivf,
        "ann_quantized_topk": q_ann_quantized_topk,
        "hard_negatives": q_hard_negatives,
        "retrieval_eval": q_retrieval_eval,
        "ann_ivf_quantized": q_ann_ivf_quantized,
        "emb_near_dup_lsh": q_emb_near_dup_lsh,
        # --- new this round
        "q2_min_price_supplier": q2_min_price_supplier,
        "q9_profit_by_nation_year": q9_profit_by_nation_year,
        # KG construction ops (SQL-checked)
        "kg_mentions": q_kg_mentions,
        "kg_comention_edges": q_kg_comention_edges,
        "kg_degree": q_kg_degree,
        "kg_pagerank": q_kg_pagerank,
        "kg_ancestor_closure": q_kg_ancestor_closure,
        "kg_node_depth": q_kg_node_depth,
        "kg_triangle_counts": q_kg_triangle_counts,
        "kg_kcore": q_kg_kcore,
        "kg_negative_samples": q_kg_negative_samples,
        "bpe_pair_counts": q_bpe_pair_counts,
        "bm25_topk": q_bm25_topk,
        "bm25_topk_queries": q_bm25_topk_queries,
        "kg_curie_normalize": q_kg_curie_normalize,
        "kg_id_update_map": q_kg_id_update_map,
        "cc_nation_region": q_cc_nation_region,
        # relational operator inventory
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q4_order_priority": q4_order_priority,
        "q5_revenue_by_nation": q5_revenue_by_nation,
        "q7_volume_shipping": q7_volume_shipping,
        "q10_returned_items": q10_returned_items,
        "revenue_by_segment": q_revenue_by_segment,
        "p1_filter_isin": q_p1_filter_isin,
        "p2_illegal_chars": q_p2_illegal_chars,
        "p3_version_validation": q_p3_version_validation,
        "p4_category_rewrite": q_p4_category_rewrite,
        "p8_prefix_capitalize": q_p8_prefix_capitalize,
        "j1_broadcast_remap": q_j1_broadcast_remap,
        "j4_version_selfjoin": q_j4_version_selfjoin,
        "j6_anti_join": q_j6_anti_join,
        "j8_semi_join": q_j8_semi_join,
        "a5_max_degree": q_a5_max_degree,
        "a7_group_collect": q_a7_group_collect,
        "a10_distinct_namespaces": q_a10_distinct_namespaces,
        "a12_dedup_rows": q_a12_dedup_rows,
        "a14_format_fanout": q_a14_format_fanout,
        "s4_regex_extract": q_s4_regex_extract,
        "s5_extract_all_explode": q_s5_extract_all_explode,
        "window_latest": q_window_latest,
        "json_extract": q_json_extract,
        # text / dedup / vectors / multimodal
        "text_token_count": q_text_token_count,
        "text_quality": q_text_quality,
        "text_quality_filter": q_text_quality_filter,
        "text_quality_funnel": q_text_quality_funnel,
        "corpus_clean": q_corpus_clean,
        "corpus_clean_funnel": q_corpus_clean_funnel,
        "text_repetition": q_text_repetition,
        "text_repetition_ngrams": q_text_repetition_ngrams,
        "text_repetition_lines": q_text_repetition_lines,
        "text_decontaminate": q_text_decontaminate,
        "text_pii_scrub": q_text_pii_scrub,
        "epoch_shards": q_epoch_shards,
        "pack_sequences": q_pack_sequences,
        "pack_sequences_bpe": q_pack_sequences_bpe,
        "duplicate_spans": q_duplicate_spans,
        "corpus_scrub_spans": q_corpus_scrub_spans,
        "corpus_scrub_spans_keepfirst": q_corpus_scrub_spans_keepfirst,
        "top_terms_tfidf": q_top_terms_tfidf,
        "chunk_documents": q_chunk_documents,
        "chunk_documents_bpe": q_chunk_documents_bpe,
        "mixture_resample": q_mixture_resample,
        "mixture_resample_tokens": q_mixture_resample_tokens,
        "mixture_temperature": q_mixture_temperature,
        "sample_quality_weighted": q_sample_quality_weighted,
        # transcript analytics (r7): the north-star payload's training-data
        # layer beyond KG construction
        "sft_examples": q_sft_examples,
        "sft_examples_budget": q_sft_examples_budget,
        "sft_examples_budget_bpe": q_sft_examples_budget_bpe,
        "pack_sft_examples": q_pack_sft_examples,
        "pack_sft_examples_atomic": q_pack_sft_examples_atomic,
        "conversation_stats": q_conversation_stats,
        "tool_bigrams": q_tool_bigrams,
        "dedup_conversations": q_dedup_conversations,
        "conversation_splits": q_conversation_splits,
        "chunk_conversations": q_chunk_conversations,
        "chunk_conversations_budget": q_chunk_conversations_budget,
        "chunk_conversations_budget_bpe": q_chunk_conversations_budget_bpe,
        "conversation_near_dup": q_conversation_near_dup,
        "cluster_conversations": q_cluster_conversations,
        "conversation_near_dup_clustered": q_conversation_near_dup_clustered,
        "conversation_near_dup_lsh": q_conversation_near_dup_lsh,
        "dedup_conversations_semantic": q_dedup_conversations_semantic,
        "preference_pairs": q_preference_pairs,
        "gram_familiarity": q_gram_familiarity,
        "doc_novelty": q_doc_novelty,
        "repeat_plan": q_repeat_plan,
        "conversation_entities": q_conversation_entities,
        "kg_comention_weights": q_kg_comention_weights,
        "sample_hash_mod": q_sample_hash_mod,
        "sample_stratified": q_sample_stratified,
        "text_lang_id": q_text_lang_id,
        "text_fingerprint": q_text_fingerprint,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_groups": q_dedup_groups,
        "ann_cosine_topk": q_ann_cosine_topk,
        "emb_norm_stats": q_emb_norm_stats,
        "emb_near_dup": q_emb_near_dup,
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "user_session_features": q_user_session_features,
        "cube_revenue": q_cube_revenue,
        "pivot_status": q_pivot_status,
        "multimodal_payload": q_multimodal_payload,
        "publish_format_tag": q_publish_format_tag,
        "publish_index": q_publish_index,
        "sketch_distinct_users": q_sketch_distinct_users,
        "kmv_set_ops": q_kmv_set_ops,
        "sketch_value_quantiles": q_sketch_value_quantiles,
        "publish_root_index": q_publish_root_index,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver-checked registry: all_queries() minus rotated-out entries,
    kept at <= DRIVER_QUERY_CAP so every entry gets a CORRECTNESS row."""
    qs = {k: v for k, v in all_queries().items() if k not in _ROTATED_OUT}
    assert len(qs) <= DRIVER_QUERY_CAP, f"registry {len(qs)} > cap {DRIVER_QUERY_CAP}"
    return qs


def _cos_sql(a: str, b: str) -> str:
    """Explicit cosine for the oracles: DuckDB's list_dot_product is bit-exact
    vs Spark's zip_with/aggregate left-fold (measured 500/500 at sf0.01), while
    list_cosine_similarity clamps self-pairs (1.0 vs 1.0000000000000002) — so
    ordering-sensitive oracles (IVF argmax/probe) must spell out dot/(|a||b|).

    round(x, 6) on these cosines is parity-safe in practice even though
    round-on-derived-doubles is generally not (the r3 q2 incident): both
    engines round the bit-identical double, so divergence needs an exact
    x.xxxxx5 decimal tie — a measure-zero event for cosines of sin-derived
    float vectors (unlike the decimal-ratio money values that bit q2);
    verified green at sf0.001/0.01/0.1."""
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def _lsh_signature_sql(col: str) -> str:
    """The DuckDB mirror of hyperplane_signature_literal over md5_sign_planes:
    bit j set iff dot(v, plane_j) > 0, planes embedded as SQL literals."""
    from kg_obo_spark.operators.similarity import md5_sign_planes

    terms = []
    for j, p in enumerate(md5_sign_planes(_LSH_N_PLANES, _EMB_DIM)):
        lit = "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({col}, {lit}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + "\n             + ".join(terms) + " AS BIGINT)"


def _wordpiece_pack_sql() -> str:
    """DuckDB mirror of q_pack_sequences_bpe, generated from the SAME
    DEFAULT_WORDPIECE_VOCAB the Spark tokenizer uses (one source of truth):
    greedy max-munch segmentation as a recursive CTE over the corpus's
    DISTINCT words (the oracle-side twin of the worker memo) — each step
    advances by the longest vocab piece prefixing the rest of the word,
    else one character — then the identical pack_sequences epoch/window/
    slice arithmetic over the subword counts."""
    from kg_obo_spark.functions.tokenizer import DEFAULT_WORDPIECE_VOCAB

    vals = ", ".join(f"('{p}')" for p in DEFAULT_WORDPIECE_VOCAB)
    return f"""
        WITH RECURSIVE v(piece) AS (VALUES {vals}),
        w AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                    tk -> len(tk) > 0)) AS word
          FROM documents
        ),
        dw AS (SELECT DISTINCT word FROM w),
        seg(word, pos, n) AS (
          SELECT word, 0, 0 FROM dw
          UNION ALL
          SELECT word,
                 pos + coalesce((SELECT max(len(piece)) FROM v
                                 WHERE piece = substr(word, pos + 1,
                                                      len(piece))), 1),
                 n + 1
          FROM seg WHERE pos < len(word)
        ),
        wp AS (SELECT word, max(n) AS n_pieces FROM seg GROUP BY word),
        t AS (
          SELECT w.doc_id,
                 CAST(CAST(CONCAT('0x',
                      substr(md5('1:' || CAST(w.doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 16 AS INTEGER) AS shard,
                 md5('1:' || CAST(w.doc_id AS VARCHAR)) AS order_key,
                 CAST(sum(wp.n_pieces) AS BIGINT) AS n_tok
          FROM w JOIN wp USING (word) GROUP BY w.doc_id
        ),
        s AS (
          SELECT doc_id, shard, n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY shard
                                       ORDER BY order_key, doc_id
                                       ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS tok_end
          FROM t WHERE n_tok > 0
        ),
        b AS (
          SELECT shard, doc_id, tok_end - n_tok AS tok_start, tok_end,
                 unnest(generate_series((tok_end - n_tok) // 512,
                                        (tok_end - 1) // 512)) AS seq_id
          FROM s
        )
        SELECT shard, seq_id, doc_id,
               greatest(tok_start, seq_id * 512) - seq_id * 512 AS seq_pos,
               greatest(tok_start, seq_id * 512) - tok_start AS doc_offset,
               least(tok_end, (seq_id + 1) * 512)
                 - greatest(tok_start, seq_id * 512) AS n_tokens
        FROM b
        """


def _wordpiece_sft_budget_sql() -> str:
    """DuckDB mirror of q_sft_examples_budget_bpe: the shared-vocab
    max-munch recursive CTE gives per-distinct-word piece counts, per-turn
    subword totals come from a word join (LEFT JOIN + coalesce covers
    token-free turns), and the sft_examples_budget suffix-cumsum chain runs
    over those counts with budget 140."""
    from kg_obo_spark.functions.tokenizer import DEFAULT_WORDPIECE_VOCAB

    vals = ", ".join(f"('{p}')" for p in DEFAULT_WORDPIECE_VOCAB)
    return f"""
        WITH RECURSIVE v(piece) AS (VALUES {vals}),
        tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 text
          FROM documents
        ),
        w AS (
          SELECT conv_id, turn_idx,
                 unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                    tk -> len(tk) > 0)) AS word
          FROM tr
        ),
        dw AS (SELECT DISTINCT word FROM w),
        seg(word, pos, n) AS (
          SELECT word, 0, 0 FROM dw
          UNION ALL
          SELECT word,
                 pos + coalesce((SELECT max(len(piece)) FROM v
                                 WHERE piece = substr(word, pos + 1,
                                                      len(piece))), 1),
                 n + 1
          FROM seg WHERE pos < len(word)
        ),
        wp AS (SELECT word, max(n) AS n_pieces FROM seg GROUP BY word),
        tn AS (
          SELECT w.conv_id, w.turn_idx,
                 CAST(sum(wp.n_pieces) AS BIGINT) AS nt
          FROM w JOIN wp USING (word) GROUP BY w.conv_id, w.turn_idx
        ),
        t AS (
          SELECT tr.conv_id, tr.turn_idx, tr.role, tr.text,
                 coalesce(tn.nt, 0) AS nt
          FROM tr LEFT JOIN tn
            ON tr.conv_id = tn.conv_id AND tr.turn_idx = tn.turn_idx
        ),
        c AS (
          SELECT conv_id, turn_idx, role, text, nt,
                 CAST(sum(nt) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                    ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM t
        ),
        a AS (
          SELECT conv_id, turn_idx, role, text,
                 cum - nt AS cprev,
                 array_agg(struct_pack(
                     line := role || ': ' || text,
                     cum_prev := cum - nt))
                   OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS arr
          FROM c
        ),
        k AS (
          SELECT conv_id, turn_idx, text, cprev,
                 list_filter(coalesce(arr, []),
                             x -> x.cum_prev >= cprev - 140) AS kept
          FROM a WHERE role = 'assistant' AND turn_idx >= 1
        )
        SELECT conv_id, turn_idx,
               coalesce(array_to_string(list_transform(kept, x -> x.line),
                                        chr(10)), '') AS context,
               text AS response,
               CAST(len(kept) AS BIGINT) AS n_context_turns,
               CAST(CASE WHEN len(kept) > 0
                         THEN cprev - kept[1].cum_prev
                         ELSE 0 END AS BIGINT) AS n_context_tokens
        FROM k
        """


def _wordpiece_chunk_sql() -> str:
    """DuckDB mirror of q_chunk_documents_bpe: the recursive max-munch CTE
    accumulates each distinct word's PIECE LIST (list_append per step,
    max_by(pieces, pos) picks the terminal row), per-doc subword arrays are
    flattened in word order (generate_subscripts ordinality), then the
    standard 16/8 sliding-window arithmetic slices them."""
    from kg_obo_spark.functions.tokenizer import DEFAULT_WORDPIECE_VOCAB

    vals = ", ".join(f"('{p}')" for p in DEFAULT_WORDPIECE_VOCAB)
    return f"""
        WITH RECURSIVE v(piece) AS (VALUES {vals}),
        t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             tk -> len(tk) > 0) AS words
          FROM documents
        ),
        w AS (
          SELECT doc_id, unnest(words) AS word,
                 generate_subscripts(words, 1) AS ord
          FROM t
        ),
        dw AS (SELECT DISTINCT word FROM w),
        seg(word, pos, pieces) AS (
          SELECT word, 0, CAST([] AS VARCHAR[]) FROM dw
          UNION ALL
          SELECT word,
                 pos + coalesce((SELECT max(len(piece)) FROM v
                                 WHERE piece = substr(word, pos + 1,
                                                      len(piece))), 1),
                 list_append(pieces,
                   substr(word, pos + 1,
                          coalesce((SELECT max(len(piece)) FROM v
                                    WHERE piece = substr(word, pos + 1,
                                                         len(piece))), 1)))
          FROM seg WHERE pos < len(word)
        ),
        wp AS (
          SELECT word, max_by(pieces, pos) AS pieces FROM seg GROUP BY word
        ),
        docp AS (
          SELECT w.doc_id, flatten(list(wp.pieces ORDER BY w.ord)) AS toks
          FROM w JOIN wp USING (word) GROUP BY w.doc_id
        ),
        s AS (
          SELECT doc_id, toks, len(toks) AS n_tok FROM docp WHERE len(toks) > 0
        ),
        b AS (
          SELECT doc_id, toks, n_tok,
                 unnest(generate_series(0,
                   CASE WHEN n_tok <= 16 THEN 0
                        ELSE (n_tok - 16 + 8 - 1) // 8 END)) AS chunk_id
          FROM s
        )
        SELECT doc_id, chunk_id,
               CAST(chunk_id * 8 AS BIGINT) AS tok_start,
               CAST(least(16, n_tok - chunk_id * 8) AS BIGINT) AS n_tokens,
               array_to_string(
                 list_slice(toks, chunk_id * 8 + 1,
                            chunk_id * 8 + least(16, n_tok - chunk_id * 8)),
                 ' ') AS chunk_text
        FROM b
        """


def _wordpiece_chunk_conv_budget_sql() -> str:
    """DuckDB mirror of q_chunk_conversations_budget_bpe: the shared-vocab
    max-munch recursive CTE gives per-distinct-word piece counts, per-turn
    subword totals come from a word join (LEFT JOIN + coalesce covers
    token-free turns), and the chunk_conversations_budget greedy recursive
    chain runs over those counts with budget 100."""
    from kg_obo_spark.functions.tokenizer import DEFAULT_WORDPIECE_VOCAB

    vals = ", ".join(f"('{p}')" for p in DEFAULT_WORDPIECE_VOCAB)
    return f"""
        WITH RECURSIVE v(piece) AS (VALUES {vals}),
        tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 text
          FROM documents
        ),
        w AS (
          SELECT conv_id, turn_idx,
                 unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                    tk -> len(tk) > 0)) AS word
          FROM tr
        ),
        dw AS (SELECT DISTINCT word FROM w),
        seg(word, pos, n) AS (
          SELECT word, 0, 0 FROM dw
          UNION ALL
          SELECT word,
                 pos + coalesce((SELECT max(len(piece)) FROM v
                                 WHERE piece = substr(word, pos + 1,
                                                      len(piece))), 1),
                 n + 1
          FROM seg WHERE pos < len(word)
        ),
        wp AS (SELECT word, max(n) AS n_pieces FROM seg GROUP BY word),
        tn AS (
          SELECT w.conv_id, w.turn_idx,
                 CAST(sum(wp.n_pieces) AS BIGINT) AS nt
          FROM w JOIN wp USING (word) GROUP BY w.conv_id, w.turn_idx
        ),
        r AS (
          SELECT tr.conv_id, tr.turn_idx,
                 tr.role || ': ' || tr.text AS line,
                 coalesce(tn.nt, 0) AS nt,
                 row_number() OVER (PARTITION BY tr.conv_id
                                    ORDER BY tr.turn_idx) AS rn
          FROM tr LEFT JOIN tn
            ON tr.conv_id = tn.conv_id AND tr.turn_idx = tn.turn_idx
        ),
        p(conv_id, rn, chunk, cur) AS (
          SELECT conv_id, rn, CAST(0 AS BIGINT), nt FROM r WHERE rn = 1
          UNION ALL
          SELECT r.conv_id, r.rn,
                 CASE WHEN p.cur > 0 AND p.cur + r.nt > 100
                      THEN p.chunk + 1 ELSE p.chunk END,
                 CASE WHEN p.cur > 0 AND p.cur + r.nt > 100
                      THEN r.nt ELSE p.cur + r.nt END
          FROM p JOIN r ON r.conv_id = p.conv_id AND r.rn = p.rn + 1
        )
        SELECT r.conv_id, p.chunk AS chunk_id,
               min(r.turn_idx) AS first_turn_idx,
               count(*) AS n_turns,
               CAST(sum(r.nt) AS BIGINT) AS n_tokens,
               string_agg(r.line, chr(10) ORDER BY r.turn_idx) AS chunk_text
        FROM p JOIN r ON r.conv_id = p.conv_id AND r.rn = p.rn
        GROUP BY r.conv_id, p.chunk
        """


def _conversation_near_dup_sql() -> str:
    """DuckDB mirror of q_conversation_near_dup: per-slot pooled sum in the
    SAME left-associated turn order as the Spark fold (IEEE addition is not
    associative — an unordered avg() would not value-match), cosine spelled
    out (_cos_sql rationale), floor-e6 fixed-point output."""
    pooled = (
        "(CAST(e0[i] AS DOUBLE) + CAST(e1[i] AS DOUBLE)"
        " + CAST(e2[i] AS DOUBLE) + CAST(e3[i] AS DOUBLE)) / 4"
    )
    return f"""
        WITH ce AS (
          SELECT vec_id // 4 AS conv_id,
                 max(embedding) FILTER (WHERE vec_id % 4 = 0) AS e0,
                 max(embedding) FILTER (WHERE vec_id % 4 = 1) AS e1,
                 max(embedding) FILTER (WHERE vec_id % 4 = 2) AS e2,
                 max(embedding) FILTER (WHERE vec_id % 4 = 3) AS e3
          FROM embeddings GROUP BY vec_id // 4 HAVING count(*) = 4
        ),
        p AS (
          SELECT conv_id,
                 list_transform(generate_series(1, len(e0)),
                                i -> {pooled}) AS cemb
          FROM ce
        ),
        s AS (
          SELECT p1.conv_id AS a, p2.conv_id AS b,
                 CAST(floor(1000000.0 *
                      ({_cos_sql('p1.cemb', 'p2.cemb')})) AS BIGINT) AS sim_e6
          FROM p p1 JOIN p p2 ON p1.conv_id < p2.conv_id
        )
        SELECT a, b, sim_e6 FROM s WHERE sim_e6 >= 350000
        """


def _kmeans_conv_ctes(k: int = 8, iters: int = 2) -> str:
    """Shared CTE chain for the clustered-conversation oracles: pooled
    conversation embeddings (the _conversation_near_dup_sql left-fold
    pattern), md5-ordered seed centroids renumbered in conv_id order
    (deterministic_centroids_md5), then ``iters`` UNROLLED Lloyd iterations
    with the EXACT fixed-point mean (floor-e6 int64 sums, floor-div by the
    count — kmeans_centroids(exact=True) mirrors this bit for bit; float
    avg() would be partial-aggregation-order-dependent and never oracle).
    Assignment tie-break (max cosine, then smallest centroid) matches
    ivf_assign's struct-max. Empty clusters keep the previous centroid
    (LEFT JOIN + coalesce). a{iters} is the final assignment; 64 is the
    embeddings table's contract-fixed dimension."""
    pooled = (
        "(CAST(e0[i] AS DOUBLE) + CAST(e1[i] AS DOUBLE)"
        " + CAST(e2[i] AS DOUBLE) + CAST(e3[i] AS DOUBLE)) / 4"
    )
    ctes = [
        f"""ce AS (
          SELECT vec_id // 4 AS conv_id,
                 max(embedding) FILTER (WHERE vec_id % 4 = 0) AS e0,
                 max(embedding) FILTER (WHERE vec_id % 4 = 1) AS e1,
                 max(embedding) FILTER (WHERE vec_id % 4 = 2) AS e2,
                 max(embedding) FILTER (WHERE vec_id % 4 = 3) AS e3
          FROM embeddings GROUP BY vec_id // 4 HAVING count(*) = 4
        )""",
        f"""p AS (
          SELECT conv_id,
                 list_transform(generate_series(1, len(e0)),
                                i -> {pooled}) AS cemb
          FROM ce
        )""",
        f"""c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY conv_id) AS INT) AS cid,
                 cemb AS cv
          FROM (SELECT conv_id, cemb FROM p
                ORDER BY md5(CAST(conv_id AS VARCHAR)), conv_id LIMIT {k})
        )""",
    ]
    for t in range(iters + 1):
        ctes.append(f"""a{t} AS (
          SELECT conv_id, cemb, cid FROM (
            SELECT p.conv_id, p.cemb, c.cid,
                   row_number() OVER (
                     PARTITION BY p.conv_id
                     ORDER BY ({_cos_sql('p.cemb', 'c.cv')}) DESC, c.cid
                   ) AS rn
            FROM p CROSS JOIN c{t} c
          ) WHERE rn = 1
        )""")
        if t < iters:
            ctes.append(f"""m{t} AS (
          SELECT cid, gs.i AS i,
                 CAST(floor(CAST(sum(CAST(floor(cemb[gs.i] * 1000000.0)
                                         AS BIGINT)) AS DOUBLE)
                            / count(*)) AS BIGINT) / 1000000.0 AS m
          FROM a{t}, generate_series(1, 64) AS gs(i)
          GROUP BY cid, gs.i
        )""")
            ctes.append(f"""c{t + 1} AS (
          SELECT s.cid, coalesce(m.cv, s.cv) AS cv
          FROM c{t} s LEFT JOIN (
            SELECT cid, list(m ORDER BY i) AS cv FROM m{t} GROUP BY cid
          ) m ON s.cid = m.cid
        )""")
    return ",\n".join(ctes)


def _cluster_conversations_sql() -> str:
    return f"""
        WITH {_kmeans_conv_ctes(8, 2)}
        SELECT conv_id, cid AS cluster_id FROM a2
        """


def _conversation_near_dup_clustered_sql() -> str:
    return f"""
        WITH {_kmeans_conv_ctes(8, 2)}
        SELECT a, b, sim_e6 FROM (
          SELECT x.conv_id AS a, y.conv_id AS b,
                 CAST(floor(1000000.0 *
                      ({_cos_sql('x.cemb', 'y.cemb')})) AS BIGINT) AS sim_e6
          FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.conv_id < y.conv_id
        ) WHERE sim_e6 >= 350000
        """


def _conversation_near_dup_lsh_sql() -> str:
    """DuckDB mirror of q_conversation_near_dup_lsh: the pooled-fold CTEs
    from _conversation_near_dup_sql feeding the emb_near_dup_lsh oracle's
    signature / chunk-blocking / a<b-candidate / rounded-cosine-verify
    chain, keyed by conv_id."""
    return f"""
        WITH ce AS (
          SELECT vec_id // 4 AS conv_id,
                 max(embedding) FILTER (WHERE vec_id % 4 = 0) AS e0,
                 max(embedding) FILTER (WHERE vec_id % 4 = 1) AS e1,
                 max(embedding) FILTER (WHERE vec_id % 4 = 2) AS e2,
                 max(embedding) FILTER (WHERE vec_id % 4 = 3) AS e3
          FROM embeddings GROUP BY vec_id // 4 HAVING count(*) = 4
        ),
        p AS (
          SELECT conv_id,
                 list_transform(generate_series(1, len(e0)),
                                i -> (CAST(e0[i] AS DOUBLE)
                                      + CAST(e1[i] AS DOUBLE)
                                      + CAST(e2[i] AS DOUBLE)
                                      + CAST(e3[i] AS DOUBLE)) / 4) AS cemb
          FROM ce
        ),
        sigs AS (
          SELECT conv_id, {_lsh_signature_sql("cemb")} AS signature FROM p
        ),
        blocked AS (
          SELECT conv_id, chunk,
                 (signature >> (chunk * {_LSH_PREFIX_BITS})) &
                 {(1 << _LSH_PREFIX_BITS) - 1} AS key
          FROM sigs
          CROSS JOIN (SELECT unnest(range({_LSH_N_PLANES // _LSH_PREFIX_BITS}))
                      AS chunk) c
        ),
        cand AS (
          SELECT DISTINCT b1.conv_id AS a, b2.conv_id AS b
          FROM blocked b1 JOIN blocked b2
            ON b1.chunk = b2.chunk AND b1.key = b2.key
               AND b1.conv_id < b2.conv_id
        )
        SELECT c.a, c.b
        FROM cand c
        JOIN p pa ON pa.conv_id = c.a
        JOIN p pb ON pb.conv_id = c.b
        WHERE round({_cos_sql("pa.cemb", "pb.cemb")}, 6) >= 0.35
        """


def _dedup_conversations_semantic_sql() -> str:
    """DuckDB mirror of q_dedup_conversations_semantic: the pooled-fold +
    floor-e6 cosine pair CTEs from _conversation_near_dup_sql feeding the
    dedup_groups recursive-CTE component closure (representative = min
    reachable id), universe = complete conversations."""
    return f"""
        WITH RECURSIVE ce AS (
          SELECT vec_id // 4 AS conv_id,
                 max(embedding) FILTER (WHERE vec_id % 4 = 0) AS e0,
                 max(embedding) FILTER (WHERE vec_id % 4 = 1) AS e1,
                 max(embedding) FILTER (WHERE vec_id % 4 = 2) AS e2,
                 max(embedding) FILTER (WHERE vec_id % 4 = 3) AS e3
          FROM embeddings GROUP BY vec_id // 4 HAVING count(*) = 4
        ),
        p AS (
          SELECT conv_id,
                 list_transform(generate_series(1, len(e0)),
                                i -> (CAST(e0[i] AS DOUBLE)
                                      + CAST(e1[i] AS DOUBLE)
                                      + CAST(e2[i] AS DOUBLE)
                                      + CAST(e3[i] AS DOUBLE)) / 4) AS cemb
          FROM ce
        ),
        pairs AS (
          SELECT p1.conv_id AS a, p2.conv_id AS b
          FROM p p1 JOIN p p2 ON p1.conv_id < p2.conv_id
          WHERE CAST(floor(1000000.0 *
                ({_cos_sql('p1.cemb', 'p2.cemb')})) AS BIGINT) >= 350000
        ),
        sym AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        reach(id, r) AS (
          SELECT u, u FROM sym
          UNION
          SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id
        ),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        SELECT p.conv_id, coalesce(c.component, p.conv_id) AS representative
        FROM p LEFT JOIN comp c ON c.id = p.conv_id
        """


def _kg_pagerank_sql(
    iterations: int = 4, scale: int = 10**9, num: int = 85, den: int = 100
) -> str:
    """DuckDB mirror of q_kg_pagerank: the SAME integer recurrence unrolled
    as one (dangling, incoming, rank) CTE triple per iteration. Exact
    arithmetic (floor-div contributions, integer sums) is what makes a
    PageRank oracle possible at all — float sums would be order-dependent.
    DuckDB sum(BIGINT) is HUGEINT, so every sum is cast back."""
    base = ((den - num) * scale) // den
    parts = [
        f"""
        WITH links AS (
          SELECT DISTINCT src, dst FROM (
            SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
            UNION ALL
            SELECT doc_id, doc_id // 3 FROM documents
          ) WHERE src <> dst
        ),
        nodes AS (SELECT DISTINCT doc_id AS id FROM documents),
        nn AS (SELECT count(*) AS n FROM nodes),
        deg AS (SELECT src, count(*) AS d FROM links GROUP BY src),
        r0 AS (SELECT id, CAST({scale} AS BIGINT) AS pr FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        d{i} AS (
          SELECT CAST(coalesce(sum(r.pr), 0) AS BIGINT) // (SELECT n FROM nn)
                 AS dshare
          FROM r{i - 1} r LEFT JOIN deg ON deg.src = r.id
          WHERE deg.src IS NULL
        ),
        i{i} AS (
          SELECT l.dst AS id, CAST(sum(r.pr // deg.d) AS BIGINT) AS inc
          FROM links l JOIN r{i - 1} r ON r.id = l.src
          JOIN deg ON deg.src = l.src
          GROUP BY l.dst
        ),
        r{i} AS (
          SELECT n.id,
                 CAST({base} AS BIGINT)
                   + ({num} * (coalesce(x.inc, CAST(0 AS BIGINT))
                               + (SELECT dshare FROM d{i}))) // {den} AS pr
          FROM nodes n LEFT JOIN i{i} x ON x.id = n.id
        )"""
        )
    parts.append(
        f"\n        SELECT r.id, r.pr AS rank_e9 FROM r{iterations} r"
    )
    return "".join(parts)


_KG_CLOSURE_CTE = """
WITH RECURSIVE e AS (
  SELECT doc_id AS id, doc_id // 2 AS par FROM documents WHERE doc_id >= 1
),
cl(id, anc) AS (
  SELECT id, par FROM e
  UNION
  SELECT a.id, e2.par FROM cl a JOIN e e2 ON e2.id = a.anc
)
"""


def _pii_oracle_sql() -> str:
    """DuckDB mirror of q_text_pii_scrub, generated from the SAME
    PII_PATTERNS dict the Spark scrubber uses (one source of truth): counts
    via regexp_extract_all on the raw planted text, scrub as the identical
    ordered regexp_replace chain ('g' — DuckDB replaces only the first match
    by default, Spark replaces all)."""
    from kg_obo_spark.functions.text import PII_PATTERNS

    counts = ",\n               ".join(
        f"CAST(len(regexp_extract_all(txt, '{pat}')) AS BIGINT) AS n_{name}"
        for name, (pat, _rep) in PII_PATTERNS.items()
    )
    scrub = "txt"
    for pat, rep in PII_PATTERNS.values():
        scrub = f"regexp_replace({scrub}, '{pat}', '{rep}', 'g')"
    return f"""
        WITH t AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com at 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR)
                      || '.7 or +1555'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
          FROM documents
        )
        SELECT doc_id,
               {counts},
               md5({scrub}) AS scrub_md5
        FROM t
        """


def all_oracle_sql() -> dict[str, str]:
    return {
        # the flagship, mirrored stage by stage: extraction regex ≡ the trie
        # matcher's token-boundary semantics (proven by kg_mentions), CC over
        # the xref VALUES as a recursive CTE (the cc_nation_region pattern),
        # canonical rewrite as COALESCE over the min-label map, per-turn
        # a<b pair expansion, is_a restricted to mentioned ids, constants
        # from operators/materialize.py
        "pipeline_transcripts": f"""
        WITH RECURSIVE terms(word, term_id) AS (VALUES {_DOC_TERMS_SQL_VALUES}),
        xr(a, b) AS (VALUES {_DOC_XREFS_SQL_VALUES}),
        isa(subject, object) AS (VALUES {_DOC_ISA_SQL_VALUES}),
        tr AS (
          SELECT CAST(CAST(FLOOR(doc_id / 4) AS BIGINT) AS VARCHAR) AS conv_id,
                 CAST(doc_id % 4 AS INT) AS turn_idx, text
          FROM documents
        ),
        mentions AS (
          SELECT DISTINCT tr.conv_id, tr.turn_idx, t.term_id
          FROM tr JOIN terms t
            ON regexp_matches(tr.text,
               '(?i)(^|[^A-Za-z0-9_])' || t.word || '($|[^A-Za-z0-9_-])')
        ),
        sym AS (SELECT a AS u, b AS v FROM xr UNION SELECT b, a FROM xr),
        reach(id, r) AS (
          SELECT u, u FROM sym
          UNION
          SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id
        ),
        canon AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
        cmention AS (
          SELECT DISTINCT m.conv_id, m.turn_idx,
                 COALESCE(c.canonical_id, m.term_id) AS tid
          FROM mentions m LEFT JOIN canon c ON m.term_id = c.id
        ),
        pairs AS (
          SELECT DISTINCT x.tid AS a, y.tid AS b
          FROM cmention x JOIN cmention y
            ON x.conv_id = y.conv_id AND x.turn_idx = y.turn_idx
               AND x.tid < y.tid
        ),
        mentioned AS (SELECT DISTINCT tid AS id FROM cmention)
        SELECT a AS subject, 'biolink:related_to' AS predicate, b AS object,
               'co_mentioned_with' AS relation, 'docs v1' AS knowledge_source
        FROM pairs
        UNION ALL
        SELECT i.subject, 'biolink:subclass_of' AS predicate, i.object,
               'rdfs:subClassOf' AS relation, 'docs v1' AS knowledge_source
        FROM isa i
        JOIN mentioned m1 ON i.subject = m1.id
        JOIN mentioned m2 ON i.object = m2.id
        """,
        # Entity-grounded conversation rollup: the pipeline oracle's
        # extraction + CC + canonical-rewrite chain, aggregated per conv
        "conversation_entities": f"""
        WITH RECURSIVE terms(word, term_id) AS (VALUES {_DOC_TERMS_SQL_VALUES}),
        xr(a, b) AS (VALUES {_DOC_XREFS_SQL_VALUES}),
        tr AS (
          SELECT CAST(CAST(FLOOR(doc_id / 4) AS BIGINT) AS VARCHAR) AS conv_id,
                 CAST(doc_id % 4 AS INT) AS turn_idx, text
          FROM documents
        ),
        mentions AS (
          SELECT DISTINCT tr.conv_id, tr.turn_idx, t.term_id
          FROM tr JOIN terms t
            ON regexp_matches(tr.text,
               '(?i)(^|[^A-Za-z0-9_])' || t.word || '($|[^A-Za-z0-9_-])')
        ),
        sym AS (SELECT a AS u, b AS v FROM xr UNION SELECT b, a FROM xr),
        reach(id, r) AS (
          SELECT u, u FROM sym
          UNION
          SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id
        ),
        canon AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
        cmention AS (
          SELECT DISTINCT m.conv_id, m.turn_idx,
                 COALESCE(c.canonical_id, m.term_id) AS tid
          FROM mentions m LEFT JOIN canon c ON m.term_id = c.id
        )
        SELECT conv_id,
               count(*) AS n_mention_turns,
               count(DISTINCT tid) AS n_entities,
               count(DISTINCT turn_idx) AS n_turns_with_mentions
        FROM cmention GROUP BY conv_id
        """,
        # Weighted co-mention edges: the extraction/CC/rewrite chain, then
        # exact pair/term/turn counts + the fixed-point lift
        "kg_comention_weights": f"""
        WITH RECURSIVE terms(word, term_id) AS (VALUES {_DOC_TERMS_SQL_VALUES}),
        xr(a, b) AS (VALUES {_DOC_XREFS_SQL_VALUES}),
        tr AS (
          SELECT CAST(CAST(FLOOR(doc_id / 4) AS BIGINT) AS VARCHAR) AS conv_id,
                 CAST(doc_id % 4 AS INT) AS turn_idx, text
          FROM documents
        ),
        mentions AS (
          SELECT DISTINCT tr.conv_id, tr.turn_idx, t.term_id
          FROM tr JOIN terms t
            ON regexp_matches(tr.text,
               '(?i)(^|[^A-Za-z0-9_])' || t.word || '($|[^A-Za-z0-9_-])')
        ),
        sym AS (SELECT a AS u, b AS v FROM xr UNION SELECT b, a FROM xr),
        reach(id, r) AS (
          SELECT u, u FROM sym
          UNION
          SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id
        ),
        canon AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
        cm AS (
          SELECT DISTINCT m.conv_id, m.turn_idx,
                 COALESCE(c.canonical_id, m.term_id) AS tid
          FROM mentions m LEFT JOIN canon c ON m.term_id = c.id
        ),
        n AS (
          SELECT count(*) AS n_turns FROM (
            SELECT DISTINCT conv_id, turn_idx FROM cm)
        ),
        tc AS (SELECT tid, count(*) AS n_t FROM cm GROUP BY tid),
        pairs AS (
          SELECT x.tid AS a, y.tid AS b, count(*) AS n_ab
          FROM cm x JOIN cm y
            ON x.conv_id = y.conv_id AND x.turn_idx = y.turn_idx
               AND x.tid < y.tid
          GROUP BY x.tid, y.tid
        )
        SELECT p.a, p.b, p.n_ab, ta.n_t AS n_a, tb.n_t AS n_b, n.n_turns,
               (1000000 * p.n_ab * n.n_turns) // (ta.n_t * tb.n_t)
                 AS lift_e6
        FROM pairs p
        JOIN tc ta ON p.a = ta.tid
        JOIN tc tb ON p.b = tb.tid
        CROSS JOIN n
        """,
        # MinHash with the md5-window signature variant: identical slot
        # arithmetic (min over distinct 3-shingles of 8-hex md5 windows),
        # band-equality candidate join, agreement-fraction verify
        "dedup_minhash": r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             t -> len(t) > 0) AS t
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
            FROM toks WHERE len(t) >= 3
          )
        ),
        slot AS (
          SELECT doc_id, i.i AS slot,
                 min(CAST(concat('0x',
                     substr(md5(concat(CAST(i.i // 4 AS VARCHAR), ':', s)),
                            (i.i % 4) * 8 + 1, 8)) AS BIGINT)) AS v
          FROM sh, generate_series(0, 7) i(i)
          GROUP BY doc_id, i.i
        ),
        sig AS (
          SELECT doc_id, array_agg(v ORDER BY slot) AS sg FROM slot GROUP BY doc_id
        ),
        banded AS (
          SELECT doc_id, j.j AS band, sg[2*j.j + 1] AS s1, sg[2*j.j + 2] AS s2, sg
          FROM sig, generate_series(0, 3) j(j)
        ),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sg AS sa, y.sg AS sb
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.s1 = y.s1 AND x.s2 = y.s2
               AND x.doc_id < y.doc_id
        )
        SELECT a, b, est_jaccard FROM (
          SELECT a, b,
                 round(list_sum(list_transform(generate_series(1, 8),
                       i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) / 8.0,
                       6) AS est_jaccard
          FROM cand
        ) WHERE est_jaccard >= 0.3
        """,
        # SimHash with the 60-bit md5 signature variant: majority-vote bits,
        # 4 x 15-bit chunk blocking, bit_count(xor) verify
        "dedup_simhash": r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             t -> len(t) > 0) AS t
          FROM documents
        ),
        tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        vals AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS v
          FROM tok
        ),
        bv AS (
          SELECT doc_id, b.b AS b, sum((v >> b.b) & 1) AS ones, count(*) AS n
          FROM vals, generate_series(0, 59) b(b)
          GROUP BY doc_id, b.b
        ),
        sig0 AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN 2 * ones > n
                          THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
                   AS simhash
          FROM bv GROUP BY doc_id
        ),
        sig AS (
          SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
          FROM documents d LEFT JOIN sig0 s ON d.doc_id = s.doc_id
        ),
        blocked AS (
          SELECT doc_id, simhash, c.c AS chunk,
                 (simhash >> (c.c * 15)) & 32767 AS key
          FROM sig, generate_series(0, 3) c(c)
        ),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                 CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
          FROM blocked x JOIN blocked y
            ON x.chunk = y.chunk AND x.key = y.key AND x.doc_id < y.doc_id
        )
        SELECT a, b, hamming FROM cand WHERE hamming <= 8
        """,
        "kg_mentions": _DOC_MENTIONS_CTE + "SELECT doc_id, term_id FROM mentions",
        "kg_comention_edges": _DOC_MENTIONS_CTE
        + """
        SELECT DISTINCT m1.term_id AS a, m2.term_id AS b
        FROM mentions m1 JOIN mentions m2
          ON m1.doc_id = m2.doc_id AND m1.term_id < m2.term_id
        """,
        "kg_degree": _DOC_MENTIONS_CTE
        + """,
        edges AS (
          SELECT DISTINCT m1.term_id AS a, m2.term_id AS b
          FROM mentions m1 JOIN mentions m2
            ON m1.doc_id = m2.doc_id AND m1.term_id < m2.term_id
        ),
        endpoints AS (
          SELECT a AS id FROM edges UNION ALL SELECT b AS id FROM edges
        )
        SELECT id, count(*) AS degree FROM endpoints GROUP BY id
        """,
        # exact fixed-point PageRank: the integer recurrence unrolled
        "kg_pagerank": _kg_pagerank_sql(),
        # transitive ancestor closure / hierarchy depth over the is_a forest
        "kg_ancestor_closure": _KG_CLOSURE_CTE + "SELECT id, anc FROM cl",
        "kg_node_depth": _KG_CLOSURE_CTE
        + """,
        d AS (SELECT id, count(*) AS depth FROM cl GROUP BY id)
        SELECT n.id, CAST(coalesce(d.depth, 0) AS BIGINT) AS depth
        FROM (SELECT DISTINCT doc_id AS id FROM documents) n
        LEFT JOIN d ON d.id = n.id
        """,
        # per-node triangle counts: canonical a<b<c three-way self-join
        "kg_triangle_counts": """
        WITH raw AS (
          SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
          UNION ALL
          SELECT doc_id, doc_id // 3 FROM documents
        ),
        e AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM raw WHERE src <> dst
        ),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        m AS (
          SELECT x AS id FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri
        ),
        c AS (SELECT id, count(*) AS n_tri FROM m GROUP BY id)
        SELECT d.doc_id AS id, CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_tri
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN c ON c.id = d.doc_id
        """,
        # k=3 k-core, three peel rounds unrolled: per round degrees ->
        # keep set (deg >= 3) -> edge restriction; output = degree in the
        # final surviving subgraph (kcore(rounds=3) replays exactly this)
        "kg_kcore": """
        WITH raw AS (
          SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
          UNION ALL
          SELECT doc_id, doc_id // 3 FROM documents
        ),
        e0 AS (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM raw WHERE src <> dst
        ),
        d1 AS (SELECT id, count(*) AS d FROM (
                 SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0) m
               GROUP BY id),
        k1 AS (SELECT id FROM d1 WHERE d >= 3),
        e1 AS (SELECT u, v FROM e0
               WHERE u IN (SELECT id FROM k1) AND v IN (SELECT id FROM k1)),
        d2 AS (SELECT id, count(*) AS d FROM (
                 SELECT u AS id FROM e1 UNION ALL SELECT v FROM e1) m
               GROUP BY id),
        k2 AS (SELECT id FROM d2 WHERE d >= 3),
        e2 AS (SELECT u, v FROM e1
               WHERE u IN (SELECT id FROM k2) AND v IN (SELECT id FROM k2)),
        d3 AS (SELECT id, count(*) AS d FROM (
                 SELECT u AS id FROM e2 UNION ALL SELECT v FROM e2) m
               GROUP BY id),
        k3 AS (SELECT id FROM d3 WHERE d >= 3),
        e3 AS (SELECT u, v FROM e2
               WHERE u IN (SELECT id FROM k3) AND v IN (SELECT id FROM k3))
        SELECT id, CAST(count(*) AS BIGINT) AS core_deg FROM (
          SELECT u AS id FROM e3 UNION ALL SELECT v FROM e3) m
        GROUP BY id
        """,
        # filtered corrupted-triple negatives: md5-bucket tail corruption
        # (seed 7, 2 slots) mod n_nodes, self-loops and true edges dropped
        "kg_negative_samples": """
        WITH raw AS (
          SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
          UNION ALL
          SELECT doc_id, doc_id // 3 FROM documents
        ),
        ed AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        n AS (SELECT count(*) AS n_nodes FROM documents),
        cand AS (
          SELECT src, dst, j AS slot,
                 CAST(concat('0x', substr(md5(concat(
                        '7:', CAST(src AS VARCHAR), ':',
                        CAST(dst AS VARCHAR), ':', CAST(j AS VARCHAR))),
                      1, 8)) AS BIGINT) % n.n_nodes AS dst_neg
          FROM ed, n, (VALUES (0), (1)) s(j)
        )
        SELECT c.src, c.dst_neg, CAST(c.slot AS BIGINT) AS slot
        FROM cand c
        WHERE c.dst_neg <> c.src
          AND NOT EXISTS (SELECT 1 FROM ed t
                          WHERE t.src = c.src AND t.dst = c.dst_neg)
        """,
        # exact fixed-point BM25: constants 44/20/6/18 are the cleared
        # fractions of k1=6/5, b=3/4 (see operators/retrieval.py)
        "bm25_topk": r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    w -> w <> '')) AS tok
          FROM documents
        ),
        q(term) AS (VALUES ('fast'), ('scan'), ('table')),
        st AS (SELECT (SELECT count(*) FROM documents) AS n,
                      (SELECT count(*) FROM toks) AS t),
        g AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
               FROM g GROUP BY 1),
        dfr AS (SELECT tok AS term, count(*) AS df
                FROM g JOIN q ON g.tok = q.term GROUP BY 1),
        idf AS (SELECT term, (1000 * (st.n - df + 1)) // (df + 1) AS idf_fp
                FROM dfr, st),
        contrib AS (
          SELECT g.doc_id,
                 (i.idf_fp * (44 * st.t * g.tf)) //
                 (20 * st.t * g.tf + 6 * st.t + 18 * dl.dl * st.n) AS c
          FROM g JOIN idf i ON g.tok = i.term
          JOIN dl USING (doc_id), st
        )
        SELECT doc_id AS id, CAST(sum(c) AS BIGINT) AS score_fp
        FROM contrib GROUP BY doc_id
        ORDER BY score_fp DESC, id LIMIT 25
        """,
        # batch BM25 over a query table: same cleared-fraction constants,
        # per-(query,doc) sum, per-query top-10 window
        "bm25_topk_queries": r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    w -> w <> '')) AS tok
          FROM documents
        ),
        qt(query_id, term) AS (
          VALUES (0, 'fast'), (0, 'scan'), (1, 'scan'), (1, 'table'),
                 (2, 'fast'), (2, 'scan'), (2, 'table')
        ),
        st AS (SELECT (SELECT count(*) FROM documents) AS n,
                      (SELECT count(*) FROM toks) AS t),
        g AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
               FROM g GROUP BY 1),
        dfr AS (SELECT tok, count(*) AS df
                FROM g JOIN (SELECT DISTINCT term FROM qt) q
                  ON g.tok = q.term GROUP BY 1),
        idf AS (SELECT tok, (1000 * (st.n - df + 1)) // (df + 1) AS idf_fp
                FROM dfr, st),
        contrib AS (
          SELECT qt.query_id, g.doc_id,
                 (i.idf_fp * (44 * st.t * g.tf)) //
                 (20 * st.t * g.tf + 6 * st.t + 18 * dl.dl * st.n) AS c
          FROM g JOIN idf i ON g.tok = i.tok
          JOIN qt ON qt.term = g.tok
          JOIN dl USING (doc_id), st
        ),
        sc AS (
          SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS id,
                 CAST(sum(c) AS BIGINT) AS score_fp
          FROM contrib GROUP BY 1, 2
        )
        SELECT query_id, id, score_fp, rank FROM (
          SELECT query_id, id, score_fp,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score_fp DESC, id ASC) AS rank
          FROM sc) t
        WHERE rank <= 10
        """,
        # BPE merge round 0: word-frequency-weighted adjacent char pairs
        "bpe_pair_counts": r"""
        WITH wf AS (
          SELECT word, count(*) AS freq
          FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                          w -> w <> '')) AS word
                FROM documents)
          GROUP BY word
        ),
        p AS (
          SELECT substr(word, CAST(i AS INTEGER), 1) AS a,
                 substr(word, CAST(i AS INTEGER) + 1, 1) AS b,
                 freq
          FROM (SELECT word, freq,
                       unnest(generate_series(1, len(word) - 1)) AS i
                FROM wf)
        )
        SELECT a, b, CAST(sum(freq) AS BIGINT) AS n FROM p GROUP BY a, b
        """,
        "kg_curie_normalize": """
        WITH raw AS (
          SELECT doc_id,
            CASE
              WHEN doc_id % 4 = 0 THEN 'OBO:BFO_00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              WHEN doc_id % 4 = 1 THEN 'bfo:00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              WHEN doc_id % 4 = 2 THEN 'http://purl.obolibrary.org/obo/CHEBI_00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              ELSE 'GO:00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
            END AS raw_id
          FROM documents
        )
        SELECT doc_id, raw_id,
          CASE
            WHEN regexp_matches(raw_id, '^OBO:([A-Za-z]+\\.OWL#)?[A-Za-z]+_[0-9]+$')
              THEN upper(regexp_extract(raw_id, '^OBO:(?:[A-Za-z]+\\.OWL#)?([A-Za-z]+)_([0-9]+)$', 1)) || ':' ||
                   regexp_extract(raw_id, '^OBO:(?:[A-Za-z]+\\.OWL#)?([A-Za-z]+)_([0-9]+)$', 2)
            WHEN regexp_matches(raw_id, '^http://purl\\.obolibrary\\.org/obo/[A-Za-z]+_[0-9]+$')
              THEN upper(regexp_extract(raw_id, '^http://purl\\.obolibrary\\.org/obo/([A-Za-z]+)_([0-9]+)$', 1)) || ':' ||
                   regexp_extract(raw_id, '^http://purl\\.obolibrary\\.org/obo/([A-Za-z]+)_([0-9]+)$', 2)
            WHEN regexp_matches(raw_id, '^[A-Za-z]+:[0-9]+$')
              THEN upper(regexp_extract(raw_id, '^([A-Za-z]+):([0-9]+)$', 1)) || ':' ||
                   regexp_extract(raw_id, '^([A-Za-z]+):([0-9]+)$', 2)
            ELSE raw_id
          END AS norm_id
        FROM raw
        """,
        "kg_id_update_map": """
        WITH raw AS (
          SELECT DISTINCT
            CASE
              WHEN doc_id % 5 = 0 THEN 'OBO:BFO_00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              WHEN doc_id % 5 = 1 THEN 'bfo:00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              WHEN doc_id % 5 = 2 THEN 'http://purl.obolibrary.org/obo/CHEBI_00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              WHEN doc_id % 5 = 3 THEN 'GO:00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              ELSE 'XYZ:00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
            END AS old_id,
            CASE
              WHEN doc_id % 5 = 0 THEN 'BFO:00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              WHEN doc_id % 5 = 1 THEN 'BFO:00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              WHEN doc_id % 5 = 2 THEN 'CHEBI:00000' || CAST(doc_id % 90 + 10 AS VARCHAR)
              ELSE NULL
            END AS new_id,
            doc_id % 5 AS arm
          FROM documents
        )
        SELECT old_id, new_id, new_id IS NOT NULL AS repairable
        FROM raw WHERE arm != 3
        """,
        "cc_nation_region": """
        WITH RECURSIVE edges AS (
          SELECT 'N' || printf('%02d', n_nationkey) AS u,
                 'R' || CAST(n_regionkey AS VARCHAR) AS v
          FROM nation
        ),
        sym AS (
          SELECT u, v FROM edges UNION SELECT v, u FROM edges
        ),
        reach(id, r) AS (
          SELECT u, u FROM sym
          UNION
          SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id
        )
        SELECT id, min(r) AS component FROM reach GROUP BY id
        """,
        "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """,
        "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > TIMESTAMP '1995-06-01 00:00:00'
        )
        GROUP BY o_orderpriority
        """,
        "q3_shipping_priority": """
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """,
        "q7_volume_shipping": """
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name != n2.n_name
        GROUP BY 1, 2, 3
        """,
        "q10_returned_items": """
        SELECT c_custkey, c_name, n_name,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
        """,
        "q2_min_price_supplier": """
        WITH offers AS (
          SELECT l_partkey, l_suppkey, s_name, n_name,
                 min(l_extendedprice / l_quantity) AS unit_price
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
          GROUP BY l_partkey, l_suppkey, s_name, n_name
        )
        SELECT p_partkey, p_name, s_name, n_name,
               CAST(floor(o.unit_price * 10000) AS BIGINT) AS unit_price_e4
        FROM part
        JOIN offers o ON o.l_partkey = p_partkey
        WHERE p_size < 25 AND p_type = 'SMALL'
          AND o.unit_price = (
            SELECT min(o2.unit_price) FROM offers o2
            WHERE o2.l_partkey = p_partkey
          )
        """,
        "q9_profit_by_nation_year": """
        SELECT n_name AS nation,
               year(o_orderdate) AS o_year,
               round(sum(CAST(round((l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity) * 100, 0) AS BIGINT)) / 100.0, 2) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
        """,
        "q5_revenue_by_nation": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        """,
        "revenue_by_segment": """
        SELECT c_mktsegment,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """,
        "p1_filter_isin": """
        SELECT event_id, event_type, round(value, 2) AS value
        FROM events
        WHERE event_type NOT IN ('error', 'signup')
          AND event_type IN ('click', 'view', 'purchase')
          AND value > 100.0
        """,
        "p2_illegal_chars": """
        SELECT doc_id,
               regexp_replace(source || '(x) [y]&z:w',
                              '[&$@=;:+,?{}%\\[\\]~<>#|() ]', '_', 'g') AS clean_name
        FROM documents
        """,
        "p3_version_validation": """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_val,
               (json_extract_string(props, '$.k') NOT IN ('release', '0')
                AND NOT contains(json_extract_string(props, '$.k'), '%')) AS valid
        FROM events
        """,
        "p4_category_rewrite": """
        SELECT CASE WHEN event_type = 'click' THEN 'tap' ELSE event_type END AS category,
               count(*) AS n
        FROM events GROUP BY 1
        """,
        "p8_prefix_capitalize": """
        SELECT doc_id,
               lang || ':' || CAST(doc_id AS VARCHAR) AS raw,
               upper(lang) || ':' || CAST(doc_id AS VARCHAR) AS fixed
        FROM documents
        """,
        "j1_broadcast_remap": """
        WITH remap(old_key, new_name) AS (
          VALUES ('0', 'ALGERIA-R'), ('5', 'ETHIOPIA-R'), ('10', 'IRAN-R')
        )
        SELECT n_nationkey, coalesce(new_name, n_name) AS name
        FROM nation LEFT JOIN remap ON CAST(n_nationkey AS VARCHAR) = old_key
        """,
        "j4_version_selfjoin": """
        SELECT a.o_custkey, count(*) AS n_outlier_pairs
        FROM orders a JOIN orders b
          ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        WHERE NOT (a.o_totalprice / b.o_totalprice BETWEEN 0.5 AND 1.5)
        GROUP BY a.o_custkey
        """,
        "j6_anti_join": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "j8_semi_join": """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "a5_max_degree": """
        WITH edges AS (
          SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS subject,
                          'S' || CAST(l_suppkey AS VARCHAR) AS object
          FROM lineitem
        ),
        endpoints AS (
          SELECT subject AS id FROM edges UNION ALL SELECT object AS id FROM edges
        ),
        deg AS (SELECT id, count(*) AS degree FROM endpoints GROUP BY id)
        SELECT max(degree) AS max_degree,
               round(avg(degree), 4) AS mean_degree,
               count(*) AS n_vertices
        FROM deg
        """,
        "a7_group_collect": """
        SELECT event_type,
               array_to_string(list_sort(list(DISTINCT CAST(user_id AS VARCHAR))), '|') AS user_ids
        FROM events GROUP BY event_type
        """,
        "a10_distinct_namespaces": """
        SELECT DISTINCT string_split(p_brand, '#')[1] AS ns FROM part
        """,
        "a12_dedup_rows": "SELECT DISTINCT user_id, event_type FROM events",
        "a14_format_fanout": """
        SELECT event_type, format FROM
          (SELECT DISTINCT event_type FROM events)
          CROSS JOIN (SELECT unnest(['TSV', 'JSON']) AS format)
        """,
        "s4_regex_extract": r"""
        SELECT doc_id,
               CASE WHEN regexp_extract(text, '\b(spark|merge|join)\b', 1) <> ''
                    THEN regexp_extract(text, '\b(spark|merge|join)\b', 1)
                    ELSE regexp_extract(text, '^([a-z]+)', 1)
               END AS token
        FROM documents
        """,
        "s5_extract_all_explode": r"""
        SELECT tok, count(*) AS n FROM (
          SELECT unnest(regexp_extract_all(text, '\b(s[a-z]+)\b', 1)) AS tok
          FROM documents
        ) GROUP BY tok
        """,
        "window_latest": """
        SELECT o_custkey, o_orderkey, o_orderdate FROM (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders
        ) WHERE rn = 1
        """,
        "json_extract": """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
        """,
        "text_token_count": r"""
        SELECT doc_id,
               len(list_filter(string_split_regex(trim(text), '\s+'),
                               t -> len(t) > 0)) AS n_tokens
        FROM documents
        """,
        "epoch_shards": r"""
        SELECT doc_id,
               CAST(CAST(CONCAT('0x',
                    substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 16 AS INTEGER) AS shard,
               md5('1:' || CAST(doc_id AS VARCHAR)) AS order_key
        FROM documents
        """,
        # concat-and-chunk packing mirrored term-for-term: epoch_shards'
        # md5 shard/order-key arithmetic, the token_count token model, a
        # per-shard running sum, and generate_series over the overlapped
        # sequence range. `//` is DuckDB integer floor-division (operands
        # are non-negative here, matching Spark's floor(x / lit)); window
        # SUM returns HUGEINT — cast back to BIGINT.
        "pack_sequences": r"""
        WITH t AS (
          SELECT doc_id,
                 CAST(CAST(CONCAT('0x',
                      substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 16 AS INTEGER) AS shard,
                 md5('1:' || CAST(doc_id AS VARCHAR)) AS order_key,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 tk -> len(tk) > 0)) AS n_tok
          FROM documents
        ),
        s AS (
          SELECT doc_id, shard, n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY shard
                                       ORDER BY order_key, doc_id
                                       ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS tok_end
          FROM t WHERE n_tok > 0
        ),
        b AS (
          SELECT shard, doc_id, tok_end - n_tok AS tok_start, tok_end,
                 unnest(generate_series((tok_end - n_tok) // 512,
                                        (tok_end - 1) // 512)) AS seq_id
          FROM s
        )
        SELECT shard, seq_id, doc_id,
               greatest(tok_start, seq_id * 512) - seq_id * 512 AS seq_pos,
               greatest(tok_start, seq_id * 512) - tok_start AS doc_offset,
               least(tok_end, (seq_id + 1) * 512)
                 - greatest(tok_start, seq_id * 512) AS n_tokens
        FROM b
        """,
        # exact-substring duplicate spans mirrored term-for-term: positional
        # k-grams (k=5), corpus-wide frequency window, gaps-and-islands merge
        # per doc (r7 island rule: new island only when the pos gap >= k, so
        # emitted token spans are disjoint — lag + running sum, mirroring the
        # Spark side). Integer output only.
        "duplicate_spans": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             tk -> len(tk) > 0) AS toks
          FROM documents
        ),
        s AS (
          SELECT doc_id, toks, len(toks) AS n_tok FROM t WHERE len(toks) >= 5
        ),
        g AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, n_tok - 5)) AS pos
          FROM s
        ),
        gp AS (
          SELECT doc_id, pos,
                 array_to_string(list_slice(toks, pos + 1, pos + 5), ' ') AS gram
          FROM g
        ),
        d AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS cnt
            FROM gp
          ) WHERE cnt >= 2
        ),
        f AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                ORDER BY pos) < 5
                      THEN 0 ELSE 1 END AS new_island
          FROM d
        ),
        i AS (
          SELECT doc_id, pos,
                 SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS grp
          FROM f
        )
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) - min(pos) + 5 AS BIGINT) AS span_tokens
        FROM i GROUP BY doc_id, grp
        """,
        # TF-IDF mirrored term-for-term: tokens() model, (doc,term) counts,
        # df as a window over term, exact integer (1e6*tf)//df score,
        # row_number rank (score desc, term asc), top 3.
        "top_terms_tfidf": r"""
        WITH t AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    tk -> len(tk) > 0)) AS term
          FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        sc AS (
          SELECT doc_id, term, tf,
                 count(*) OVER (PARTITION BY term) AS df,
                 (1000000 * tf) // (count(*) OVER (PARTITION BY term))
                   AS score_e6
          FROM tf
        ),
        r AS (
          SELECT doc_id, term, tf, df, score_e6,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score_e6 DESC, term ASC) AS rank
          FROM sc
        )
        SELECT doc_id, term,
               CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df,
               CAST(score_e6 AS BIGINT) AS score_e6,
               CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 3
        """,
        # the scrub applied end-to-end: the duplicate_spans chain, then every
        # token position NOT covered by a span, reassembled in order
        # (string_agg ORDER BY pos); docs pass through via LEFT JOIN with
        # COALESCE so untouched/empty docs keep ('', 0) semantics.
        "corpus_scrub_spans": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             tk -> len(tk) > 0) AS toks
          FROM documents
        ),
        s AS (
          SELECT doc_id, toks, len(toks) AS n_tok FROM t WHERE len(toks) >= 5
        ),
        g AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, n_tok - 5)) AS pos
          FROM s
        ),
        gp AS (
          SELECT doc_id, pos,
                 array_to_string(list_slice(toks, pos + 1, pos + 5), ' ') AS gram
          FROM g
        ),
        d AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS cnt
            FROM gp
          ) WHERE cnt >= 2
        ),
        i AS (
          SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
          FROM d
        ),
        spans AS (
          SELECT doc_id, min(pos) AS s0, max(pos) + 5 AS s1
          FROM i GROUP BY doc_id, grp
        ),
        p AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, len(toks) - 1)) AS pos
          FROM t WHERE len(toks) > 0
        ),
        kept AS (
          SELECT p.doc_id, p.pos, p.toks[p.pos + 1] AS tok
          FROM p
          WHERE NOT EXISTS (
            SELECT 1 FROM spans sp
            WHERE sp.doc_id = p.doc_id AND p.pos >= sp.s0 AND p.pos < sp.s1
          )
        ),
        agg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               COALESCE(agg.clean_text, '') AS clean_text,
               CAST(len(t.toks) - COALESCE(agg.n_kept, 0) AS BIGINT)
                 AS n_removed_tokens
        FROM t LEFT JOIN agg USING (doc_id)
        """,
        # sliding-window chunking mirrored term-for-term: the tokens() token
        # model, generate_series over window indices (ceil-division via
        # integer (a + b - 1) // b), 1-indexed list_slice for the exact
        # token window. chunk=16, stride=8.
        "chunk_documents": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             tk -> len(tk) > 0) AS toks
          FROM documents
        ),
        s AS (
          SELECT doc_id, toks, len(toks) AS n_tok FROM t WHERE len(toks) > 0
        ),
        b AS (
          SELECT doc_id, toks, n_tok,
                 unnest(generate_series(0,
                        CASE WHEN n_tok <= 16 THEN 0
                             ELSE (n_tok - 16 + 8 - 1) // 8 END)) AS chunk_id
          FROM s
        )
        SELECT doc_id,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(chunk_id * 8 AS BIGINT) AS tok_start,
               CAST(least(16, n_tok - chunk_id * 8) AS BIGINT) AS n_tokens,
               array_to_string(
                 list_slice(toks, chunk_id * 8 + 1,
                            chunk_id * 8 + least(16, n_tok - chunk_id * 8)),
                 ' ') AS chunk_text
        FROM b
        """,
        # mixture resampling mirrored with the same exact integer math:
        # per-stratum counts, anchor = argmax weight/count by exact
        # cross-multiplication (ties -> smaller stratum), rate_bp = floor
        # division, then the sample_bucket md5 filter. Weights: en 2, rest 1.
        "mixture_resample": r"""
        WITH c AS (
          SELECT lang AS s, count(*) AS n FROM documents
          WHERE lang IN ('de', 'en', 'es', 'fr', 'zh') GROUP BY 1
        ),
        w(s, wt) AS (
          VALUES ('de', 1), ('en', 2), ('es', 1), ('fr', 1), ('zh', 1)
        ),
        j AS (SELECT c.s, c.n, w.wt FROM c JOIN w USING (s)),
        a AS (
          SELECT s, n, wt FROM j x
          WHERE NOT EXISTS (
            SELECT 1 FROM j y
            WHERE y.wt * x.n > x.wt * y.n
               OR (y.wt * x.n = x.wt * y.n AND y.s < x.s)
          )
        ),
        r AS (
          SELECT j.s, greatest(1, (10000 * j.wt * a.n) // (j.n * a.wt)) AS rate_bp
          FROM j, a
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN r ON d.lang = r.s
        WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10000 < r.rate_bp
        """,
        # token-budget mixture: same anchor/rate derivation with per-
        # stratum TOKEN TOTALS standing in for row counts
        "mixture_resample_tokens": r"""
        WITH tok AS (
          SELECT doc_id, lang,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                      tk -> tk <> '')) AS BIGINT) AS n_tok
          FROM documents
          WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
        ),
        c AS (SELECT lang AS s, CAST(sum(n_tok) AS BIGINT) AS n
              FROM tok GROUP BY 1),
        w(s, wt) AS (
          VALUES ('de', 1), ('en', 2), ('es', 1), ('fr', 1), ('zh', 1)
        ),
        j AS (SELECT c.s, c.n, w.wt FROM c JOIN w USING (s)),
        a AS (
          SELECT s, n, wt FROM j x
          WHERE NOT EXISTS (
            SELECT 1 FROM j y
            WHERE y.wt * x.n > x.wt * y.n
               OR (y.wt * x.n = x.wt * y.n AND y.s < x.s)
          )
        ),
        r AS (
          SELECT j.s, greatest(1, (10000 * j.wt * a.n) // (j.n * a.wt))
                 AS rate_bp
          FROM j, a
        )
        SELECT d.doc_id, d.lang, d.n_tok
        FROM tok d JOIN r ON d.lang = r.s
        WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10000 < r.rate_bp
        """,
        # sqrt-temperature mixture: weights = floor(sqrt(n)) per stratum,
        # then the same exact-integer anchor/rate derivation
        "mixture_temperature": r"""
        WITH c AS (SELECT lang AS s, count(*) AS n FROM documents GROUP BY 1),
        j AS (
          SELECT s, n,
                 greatest(1, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT))
                 AS wt
          FROM c
        ),
        a AS (
          SELECT s, n, wt FROM j x
          WHERE NOT EXISTS (
            SELECT 1 FROM j y
            WHERE y.wt * x.n > x.wt * y.n
               OR (y.wt * x.n = x.wt * y.n AND y.s < x.s)
          )
        ),
        r AS (
          SELECT j.s, greatest(1, (10000 * j.wt * a.n) // (j.n * a.wt))
                 AS rate_bp
          FROM j, a
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN r ON d.lang = r.s
        WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10000 < r.rate_bp
        """,
        # soft quality filter: keep iff bucket(md5(id)) < the row's OWN score
        "sample_quality_weighted": r"""
        WITH s AS (
          SELECT doc_id, n_chars,
                 least(9999, n_chars * 20) AS score_bp
          FROM documents
        )
        SELECT doc_id, n_chars, score_bp FROM s
        WHERE CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10000 < score_bp
        """,
        # quality-tiered epoch repetition: first matching tier wins
        # (8000->3, 5000->2, 0->1); order/shard = md5('0:id:r') epoch key
        "repeat_plan": r"""
        WITH s AS (
          SELECT doc_id, least(9999, n_chars * 20) AS score_bp
          FROM documents
        ),
        t AS (
          SELECT doc_id,
                 CASE WHEN score_bp >= 8000 THEN 3
                      WHEN score_bp >= 5000 THEN 2
                      ELSE 1 END AS n
          FROM s
        ),
        f AS (
          SELECT doc_id, unnest(generate_series(0, n - 1)) AS r
          FROM t
        ),
        k AS (
          SELECT doc_id, CAST(r AS BIGINT) AS repeat_idx,
                 md5(concat('0:', CAST(doc_id AS VARCHAR), ':',
                            CAST(r AS VARCHAR))) AS order_key
          FROM f
        )
        SELECT doc_id, repeat_idx, order_key,
               CAST(CAST(concat('0x', substr(order_key, 1, 8)) AS BIGINT)
                    % 64 AS INTEGER) AS shard
        FROM k
        """,
        "sample_hash_mod": r"""
        SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10000 AS sample_bucket
        FROM documents
        WHERE CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10000 < 500
        """,
        "sample_stratified": r"""
        WITH b AS (
          SELECT doc_id, lang,
                 CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 10000 AS sample_bucket
          FROM documents
        )
        SELECT doc_id, lang, sample_bucket FROM b
        WHERE sample_bucket < CASE lang WHEN 'en' THEN 1000 WHEN 'de' THEN 4000
              WHEN 'es' THEN 4000 WHEN 'fr' THEN 4000 WHEN 'zh' THEN 4000
              ELSE 0 END
        """,
        # Gopher quality filter mirrored term-for-term: same token model as
        # the repetition oracles; mean word length via the non-whitespace
        # char count (one regex pass, no per-token fold); '...' counted by
        # non-overlapping replace on both engines; identical IEEE division
        # order so floor-e6 and the threshold comparisons agree bit-for-bit
        "text_quality_filter": r"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> len(x) > 0) AS ts
          FROM documents
        ), s AS (
          SELECT doc_id,
                 len(ts) AS n_words,
                 CASE WHEN len(ts) = 0 THEN 1 ELSE len(ts) END AS nz,
                 length(regexp_replace(text, '\s+', '', 'g')) AS ttc,
                 length(text) - length(replace(text, '#', '')) AS n_hash,
                 (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                 len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
                 len(list_filter(
                     ['the','be','to','of','and','that','have','with'],
                     sw -> list_contains(list_transform(ts, x -> lower(x)),
                                         sw))) AS n_stop
          FROM t
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_stop AS BIGINT) AS n_stop_hits,
               CAST(floor(ttc * 1.0 / nz * 1e6) AS BIGINT) AS mean_word_len_e6,
               CAST(floor((n_hash + n_ell) / nz * 1e6) AS BIGINT)
                 AS symbol_ratio_e6,
               CAST(floor(n_alpha * 1.0 / nz * 1e6) AS BIGINT) AS alpha_frac_e6,
               CAST(n_words >= 50 AND n_words <= 100000 AS INT)
                 AS pass_word_count,
               CAST(ttc * 1.0 / nz >= 3.0 AND ttc * 1.0 / nz <= 10.0 AS INT)
                 AS pass_mean_word_len,
               CAST((n_hash + n_ell) / nz <= 0.1 AS INT) AS pass_symbol_ratio,
               CAST(n_alpha * 1.0 / nz >= 0.8 AS INT) AS pass_alpha_words,
               CAST(n_stop >= 1 AS INT) AS pass_stopwords,
               CAST(n_words >= 50 AND n_words <= 100000
                    AND ttc * 1.0 / nz >= 3.0 AND ttc * 1.0 / nz <= 10.0
                    AND (n_hash + n_ell) / nz <= 0.1
                    AND n_alpha * 1.0 / nz >= 0.8
                    AND n_stop >= 1 AS INT) AS keep
        FROM s
        """,
        "text_quality_funnel": r"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> len(x) > 0) AS ts
          FROM documents
        ), s AS (
          SELECT doc_id,
                 len(ts) AS n_words,
                 CASE WHEN len(ts) = 0 THEN 1 ELSE len(ts) END AS nz,
                 length(regexp_replace(text, '\s+', '', 'g')) AS ttc,
                 length(text) - length(replace(text, '#', '')) AS n_hash,
                 (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                 len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
                 len(list_filter(
                     ['the','be','to','of','and','that','have','with'],
                     sw -> list_contains(list_transform(ts, x -> lower(x)),
                                         sw))) AS n_stop
          FROM t
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(n_words >= 50 AND n_words <= 100000 AS INT))
                    AS BIGINT) AS n_pass_word_count,
               CAST(SUM(CAST(ttc * 1.0 / nz >= 3.0 AND ttc * 1.0 / nz <= 10.0
                             AS INT)) AS BIGINT) AS n_pass_mean_word_len,
               CAST(SUM(CAST((n_hash + n_ell) / nz <= 0.1 AS INT)) AS BIGINT)
                 AS n_pass_symbol_ratio,
               CAST(SUM(CAST(n_alpha * 1.0 / nz >= 0.8 AS INT)) AS BIGINT)
                 AS n_pass_alpha_words,
               CAST(SUM(CAST(n_stop >= 1 AS INT)) AS BIGINT) AS n_pass_stopwords,
               CAST(SUM(CAST(n_words >= 50 AND n_words <= 100000
                             AND ttc * 1.0 / nz >= 3.0
                             AND ttc * 1.0 / nz <= 10.0
                             AND (n_hash + n_ell) / nz <= 0.1
                             AND n_alpha * 1.0 / nz >= 0.8
                             AND n_stop >= 1 AS INT)) AS BIGINT) AS n_keep
        FROM s
        """,
        # corpus cleaning mirrored stage by stage: quality CTE from the
        # text_quality_filter oracle, keep-first dedup via a null-safe
        # windowed MIN over quality survivors of each fingerprint group,
        # contamination from the text_decontaminate oracle (identical IEEE
        # division before the <= threshold), md5 sample bucket
        "corpus_clean": r"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> len(x) > 0) AS ts
          FROM documents
        ), s AS (
          SELECT doc_id, text, ts,
                 len(ts) AS n_words,
                 CASE WHEN len(ts) = 0 THEN 1 ELSE len(ts) END AS nz,
                 length(regexp_replace(text, '\s+', '', 'g')) AS ttc,
                 length(text) - length(replace(text, '#', '')) AS n_hash,
                 (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                 len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
                 len(list_filter(
                     ['the','be','to','of','and','that','have','with'],
                     sw -> list_contains(list_transform(ts, x -> lower(x)),
                                         sw))) AS n_stop
          FROM t
        ), q AS (
          SELECT doc_id,
                 CAST(n_words >= 50 AND n_words <= 100000
                      AND ttc * 1.0 / nz >= 3.0 AND ttc * 1.0 / nz <= 10.0
                      AND (n_hash + n_ell) / nz <= 0.1
                      AND n_alpha * 1.0 / nz >= 0.8
                      AND n_stop >= 1 AS INT) AS q,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                 CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 10000 AS bucket
          FROM s
        ), k AS (
          SELECT doc_id, q, bucket,
                 MIN(CASE WHEN q = 1 THEN doc_id END)
                   OVER (PARTITION BY fp) AS keeper
          FROM q
        ), g AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(ts) - 2),
                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gram
          FROM t WHERE len(ts) >= 3
        ), dg AS (
          SELECT DISTINCT doc_id, gram FROM g
        ), bg AS (
          SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
        ), c AS (
          SELECT dg.doc_id,
                 SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                   / COUNT(*) AS cfrac
          FROM dg LEFT JOIN bg ON dg.gram = bg.gram
          GROUP BY dg.doc_id
        )
        SELECT k.doc_id,
               q AS pass_quality,
               CAST(q = 1 AND k.doc_id = keeper AS INT) AS pass_dedup,
               CAST(q = 1 AND k.doc_id = keeper
                    AND COALESCE(c.cfrac, 0.0) <= 0.05 AS INT) AS pass_decontam,
               CAST(q = 1 AND k.doc_id = keeper
                    AND COALESCE(c.cfrac, 0.0) <= 0.05
                    AND bucket < 8000 AS INT) AS pass_sample
        FROM k LEFT JOIN c ON k.doc_id = c.doc_id
        """,
        "corpus_clean_funnel": r"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> len(x) > 0) AS ts
          FROM documents
        ), s AS (
          SELECT doc_id, text, ts,
                 len(ts) AS n_words,
                 CASE WHEN len(ts) = 0 THEN 1 ELSE len(ts) END AS nz,
                 length(regexp_replace(text, '\s+', '', 'g')) AS ttc,
                 length(text) - length(replace(text, '#', '')) AS n_hash,
                 (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                 len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
                 len(list_filter(
                     ['the','be','to','of','and','that','have','with'],
                     sw -> list_contains(list_transform(ts, x -> lower(x)),
                                         sw))) AS n_stop
          FROM t
        ), q AS (
          SELECT doc_id,
                 CAST(n_words >= 50 AND n_words <= 100000
                      AND ttc * 1.0 / nz >= 3.0 AND ttc * 1.0 / nz <= 10.0
                      AND (n_hash + n_ell) / nz <= 0.1
                      AND n_alpha * 1.0 / nz >= 0.8
                      AND n_stop >= 1 AS INT) AS q,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                 CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 10000 AS bucket
          FROM s
        ), k AS (
          SELECT doc_id, q, bucket,
                 MIN(CASE WHEN q = 1 THEN doc_id END)
                   OVER (PARTITION BY fp) AS keeper
          FROM q
        ), g AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(ts) - 2),
                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gram
          FROM t WHERE len(ts) >= 3
        ), dg AS (
          SELECT DISTINCT doc_id, gram FROM g
        ), bg AS (
          SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
        ), c AS (
          SELECT dg.doc_id,
                 SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                   / COUNT(*) AS cfrac
          FROM dg LEFT JOIN bg ON dg.gram = bg.gram
          GROUP BY dg.doc_id
        ), f AS (
          SELECT k.doc_id, q,
                 CAST(q = 1 AND k.doc_id = keeper AS INT) AS d2,
                 CAST(q = 1 AND k.doc_id = keeper
                      AND COALESCE(c.cfrac, 0.0) <= 0.05 AS INT) AS c2,
                 CAST(q = 1 AND k.doc_id = keeper
                      AND COALESCE(c.cfrac, 0.0) <= 0.05
                      AND bucket < 8000 AS INT) AS s2
          FROM k LEFT JOIN c ON k.doc_id = c.doc_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
               CAST(SUM(q) AS BIGINT) AS n_pass_quality,
               CAST(SUM(d2) AS BIGINT) AS n_pass_dedup,
               CAST(SUM(c2) AS BIGINT) AS n_pass_decontam,
               CAST(SUM(s2) AS BIGINT) AS n_pass_sample
        FROM f
        """,
        "text_repetition": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> len(x) > 0) AS ts
          FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(ts) - 2),
                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gram
          FROM t WHERE len(ts) >= 3
        ), c AS (
          SELECT doc_id, gram, COUNT(*) AS cnt, LENGTH(gram) AS glen
          FROM g GROUP BY doc_id, gram
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_grams,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
               CAST(floor((1.0 - COUNT(*) * 1.0 / SUM(cnt)) * 1e6) AS BIGINT)
                 AS dup_gram_frac_e6,
               CAST(floor(SUM(CASE WHEN cnt > 1 THEN cnt * glen ELSE 0 END) * 1.0
                          / SUM(cnt * glen) * 1e6) AS BIGINT) AS dup_char_frac_e6,
               CAST(floor(MAX(cnt * glen) * 1.0
                          / SUM(cnt * glen) * 1e6) AS BIGINT) AS top_char_frac_e6
        FROM c GROUP BY doc_id
        """,
        "text_repetition_ngrams": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> len(x) > 0) AS ts
          FROM documents
        ), g AS (
          SELECT doc_id, nn.n AS n,
                 unnest(list_transform(generate_series(1, len(ts) - nn.n + 1),
                        i -> array_to_string(list_slice(ts, i, i + nn.n - 1),
                                             ' '))) AS gram
          FROM t, (VALUES (2), (3), (4)) nn(n)
          WHERE len(ts) >= nn.n
        ), c AS (
          SELECT doc_id, n, gram, COUNT(*) AS cnt, LENGTH(gram) AS glen
          FROM g GROUP BY doc_id, n, gram
        )
        SELECT doc_id, n,
               CAST(SUM(cnt) AS BIGINT) AS n_grams,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
               CAST(floor((1.0 - COUNT(*) * 1.0 / SUM(cnt)) * 1e6) AS BIGINT)
                 AS dup_gram_frac_e6,
               CAST(floor(SUM(CASE WHEN cnt > 1 THEN cnt * glen ELSE 0 END) * 1.0
                          / SUM(cnt * glen) * 1e6) AS BIGINT) AS dup_char_frac_e6,
               CAST(floor(MAX(cnt * glen) * 1.0
                          / SUM(cnt * glen) * 1e6) AS BIGINT) AS top_char_frac_e6
        FROM c GROUP BY doc_id, n
        """,
        "text_repetition_lines": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> len(x) > 0) AS ts
          FROM documents
        ), l AS (
          SELECT doc_id,
                 unnest(list_transform(
                        generate_series(1, CAST(ceil(len(ts) / 2.0) AS BIGINT)),
                        i -> CASE WHEN 2 * i <= len(ts)
                                  THEN ts[2*i - 1] || ' ' || ts[2*i]
                                  ELSE ts[2*i - 1] END)) AS line
          FROM t WHERE len(ts) > 0
        ), c AS (
          SELECT doc_id, line, COUNT(*) AS cnt, LENGTH(line) AS llen
          FROM l GROUP BY doc_id, line
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_lines,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,
               CAST(floor((1.0 - COUNT(*) * 1.0 / SUM(cnt)) * 1e6) AS BIGINT)
                 AS dup_line_frac_e6,
               CAST(floor(SUM(CASE WHEN cnt > 1 THEN cnt * llen ELSE 0 END) * 1.0
                          / SUM(cnt * llen) * 1e6) AS BIGINT) AS dup_char_frac_e6
        FROM c GROUP BY doc_id
        """,
        # decontamination mirrored stage by stage: same token model as the
        # repetition oracles, distinct (doc, gram), benchmark grams from the
        # doc_id % 97 slice, left-join overlap count, floor-e6 fraction
        "text_decontaminate": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> len(x) > 0) AS ts
          FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(ts) - 2),
                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gram
          FROM t WHERE len(ts) >= 3
        ), dg AS (
          SELECT DISTINCT doc_id, gram FROM g
        ), bg AS (
          SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
        )
        SELECT dg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
               CAST(SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               CAST(floor(SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)
                          * 1.0 / COUNT(*) * 1e6) AS BIGINT)
                 AS contamination_frac_e6
        FROM dg LEFT JOIN bg ON dg.gram = bg.gram
        GROUP BY dg.doc_id
        """,
        "text_pii_scrub": _pii_oracle_sql(),
        "pack_sequences_bpe": _wordpiece_pack_sql(),
        "sft_examples_budget_bpe": _wordpiece_sft_budget_sql(),
        "chunk_documents_bpe": _wordpiece_chunk_sql(),
        # keep-first scrub: the duplicate_spans chain (r7 merged-island rule),
        # run text sliced per span, global-first occurrence per distinct run
        # KEPT (row_number over (run) ordered by doc_id, s0), every other
        # occurrence cut via the same per-token NOT EXISTS scrub.
        "corpus_scrub_spans_keepfirst": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             tk -> len(tk) > 0) AS toks
          FROM documents
        ),
        s AS (
          SELECT doc_id, toks, len(toks) AS n_tok FROM t WHERE len(toks) >= 5
        ),
        g AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, n_tok - 5)) AS pos
          FROM s
        ),
        gp AS (
          SELECT doc_id, pos,
                 array_to_string(list_slice(toks, pos + 1, pos + 5), ' ') AS gram
          FROM g
        ),
        d AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS cnt
            FROM gp
          ) WHERE cnt >= 2
        ),
        fl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                ORDER BY pos) < 5
                      THEN 0 ELSE 1 END AS new_island
          FROM d
        ),
        i AS (
          SELECT doc_id, pos,
                 SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS grp
          FROM fl
        ),
        spans AS (
          SELECT doc_id, min(pos) AS s0, max(pos) + 5 AS s1
          FROM i GROUP BY doc_id, grp
        ),
        runs AS (
          SELECT sp.doc_id, sp.s0, sp.s1,
                 array_to_string(list_slice(t.toks, sp.s0 + 1, sp.s1), ' ')
                   AS run
          FROM spans sp JOIN t USING (doc_id)
        ),
        cut AS (
          SELECT doc_id, s0, s1 FROM (
            SELECT doc_id, s0, s1,
                   row_number() OVER (PARTITION BY run
                                      ORDER BY doc_id, s0) AS rn
            FROM runs
          ) WHERE rn > 1
        ),
        p AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, len(toks) - 1)) AS pos
          FROM t WHERE len(toks) > 0
        ),
        kept AS (
          SELECT p.doc_id, p.pos, p.toks[p.pos + 1] AS tok
          FROM p
          WHERE NOT EXISTS (
            SELECT 1 FROM cut sp
            WHERE sp.doc_id = p.doc_id AND p.pos >= sp.s0 AND p.pos < sp.s1
          )
        ),
        agg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               COALESCE(agg.clean_text, '') AS clean_text,
               CAST(len(t.toks) - COALESCE(agg.n_kept, 0) AS BIGINT)
                 AS n_removed_tokens
        FROM t LEFT JOIN agg USING (doc_id)
        """,

        "text_quality": r"""
        SELECT doc_id, CAST(floor((
            0.4 * least(len(text) / 500.0, 1.0)
          + 0.3 * (CASE WHEN len(text) = 0 THEN 0.0
                        ELSE len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / len(text) END)
          + 0.3 * (CASE WHEN len(toks) = 0 THEN 0.0
                        ELSE len(list_filter(toks, t -> list_contains(
                             ['the','a','an','and','or','of','to','in','is','it'], t))) * 1.0 / len(toks) END)
          - 0.2 * (CASE WHEN len(text) = 0 THEN 0.0
                        ELSE len(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / len(text) END)
          ) * 1e6) AS BIGINT) AS quality_e6
        FROM (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
          FROM documents
        )
        """,
        "text_lang_id": r"""
        SELECT doc_id,
          CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
               WHEN de >= en AND de >= es AND de >= fr THEN 'de'
               WHEN en >= es AND en >= fr THEN 'en'
               WHEN es >= fr THEN 'es'
               ELSE 'fr' END AS lang_guess
        FROM (
          SELECT doc_id,
            len(list_filter(toks, t -> list_contains(['der','die','und','das','nicht','ist','ein'], t))) AS de,
            len(list_filter(toks, t -> list_contains(['the','and','of','to','is','in','that'], t))) AS en,
            len(list_filter(toks, t -> list_contains(['el','los','las','una','que','es','y'], t))) AS es,
            len(list_filter(toks, t -> list_contains(['le','la','et','les','des','est','un'], t))) AS fr
          FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
            FROM documents
          )
        )
        """,
        "text_fingerprint": r"""
        SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents
        """,
        "dedup_exact": r"""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
               min(doc_id) AS representative,
               count(*) AS n_dups,
               array_to_string(list_transform(list_sort(list(doc_id)), x -> CAST(x AS VARCHAR)), '|') AS member_ids
        FROM documents GROUP BY 1
        """,
        "dedup_ngram_jaccard": r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
          FROM documents
        ),
        sh AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(toks) < 3 THEN []
                 ELSE list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END
          )) AS shingle
          FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS common
          FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
          GROUP BY 1, 2
        )
        SELECT a, b,
               round(common * 1.0 / (na.n + nb.n - common), 6) AS jaccard
        FROM inter
        JOIN sizes na ON na.doc_id = a
        JOIN sizes nb ON nb.doc_id = b
        WHERE common * 1.0 / (na.n + nb.n - common) >= 0.08
        """,
        "dedup_groups": r"""
        WITH RECURSIVE toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
          FROM documents
        ),
        sh AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(toks) < 3 THEN []
                 ELSE list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END
          )) AS shingle
          FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS common
          FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a, b FROM inter
          JOIN sizes na ON na.doc_id = a
          JOIN sizes nb ON nb.doc_id = b
          WHERE common * 1.0 / (na.n + nb.n - common) >= 0.08
        ),
        sym AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        reach(id, r) AS (
          SELECT u, u FROM sym
          UNION
          SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id
        ),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS representative
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN comp c ON c.id = d.doc_id
        """,
        "ann_cosine_topk": """
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
        ),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qv AS DOUBLE[])) AS sim
          FROM embeddings e CROSS JOIN q
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 5
        """,
        "emb_norm_stats": """
        SELECT label,
               round(avg(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                      x -> x * x)))), 4) AS avg_norm,
               count(*) AS n
        FROM embeddings GROUP BY label
        """,
        "multimodal_payload": """
        SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes,
               sha256(text) AS sha256
        FROM documents
        """,
        # decode_stub's fake features are sha256-derived and therefore
        # SQL-expressible: DuckDB parses the hex digest slices the same way
        # int(d[a:b], 16) does
        "multimodal_decode": """
        WITH d AS (
          SELECT doc_id AS media_id,
                 'text/blob' AS kind,
                 octet_length(encode(text)) AS n_bytes,
                 sha256(text) AS digest
          FROM documents
        )
        SELECT media_id, kind, n_bytes, digest AS sha256,
               CAST(concat('0x', substr(digest, 1, 4)) AS BIGINT) % 4096 AS width,
               CAST(concat('0x', substr(digest, 5, 4)) AS BIGINT) % 4096 AS height,
               CAST(concat('0x', substr(digest, 9, 6)) AS BIGINT) % 600000 AS duration_ms
        FROM d
        """,
        "asof_join": """
        WITH orders_dedup AS (
          SELECT o_custkey AS k, o_orderdate AS ts, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                    ORDER BY o_orderkey DESC) AS rn
          FROM orders
        ),
        r AS (SELECT k, ts, o_orderkey FROM orders_dedup WHERE rn = 1)
        SELECT e.event_id, r.o_orderkey AS matched_order
        FROM events e ASOF LEFT JOIN r
          ON e.user_id = r.k AND r.ts <= e.ts
        """,
        # --- transcript analytics (r7): shared `tr` CTE mirrors
        # transcripts_from_documents' doc_id arithmetic exactly (conv_id =
        # doc_id // 4, turn_idx = doc_id % 4, alternating roles, tool on
        # assistant turns with doc_id % 5 != 0, ts_s integer epoch seconds).
        "sft_examples": r"""
        WITH tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 text
          FROM documents
        ),
        ctx AS (
          SELECT conv_id, turn_idx, role, text,
                 string_agg(role || ': ' || text, chr(10))
                   OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS context,
                 CAST(count(*)
                   OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS BIGINT) AS n_context_turns
          FROM tr
        )
        SELECT conv_id, turn_idx, context, text AS response, n_context_turns
        FROM ctx WHERE role = 'assistant' AND n_context_turns >= 1
        """,
        "sft_examples_budget": r"""
        WITH tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 text,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                      tk -> len(tk) > 0)) AS BIGINT) AS nt
          FROM documents
        ),
        c AS (
          SELECT conv_id, turn_idx, role, text, nt,
                 CAST(sum(nt) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                    ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM tr
        ),
        a AS (
          SELECT conv_id, turn_idx, role, text,
                 cum - nt AS cprev,
                 array_agg(struct_pack(
                     line := role || ': ' || text,
                     cum_prev := cum - nt))
                   OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS arr
          FROM c
        ),
        k AS (
          SELECT conv_id, turn_idx, text, cprev,
                 list_filter(coalesce(arr, []),
                             x -> x.cum_prev >= cprev - 80) AS kept
          FROM a WHERE role = 'assistant' AND turn_idx >= 1
        )
        SELECT conv_id, turn_idx,
               coalesce(array_to_string(list_transform(kept, x -> x.line),
                                        chr(10)), '') AS context,
               text AS response,
               CAST(len(kept) AS BIGINT) AS n_context_turns,
               CAST(CASE WHEN len(kept) > 0
                         THEN cprev - kept[1].cum_prev
                         ELSE 0 END AS BIGINT) AS n_context_tokens
        FROM k
        """,
        # SFT layout end-to-end: the budget-80 example chain feeds the pack
        # window/explode/slice arithmetic (seed 2, 8 shards, budget 128)
        # plus the loss-mask overlap — every token offset value-verified
        "pack_sft_examples": r"""
        WITH tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 text,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                      tk -> len(tk) > 0)) AS BIGINT) AS nt
          FROM documents
        ),
        c AS (
          SELECT conv_id, turn_idx, role, text, nt,
                 CAST(sum(nt) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                    ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM tr
        ),
        a AS (
          SELECT conv_id, turn_idx, role, text,
                 cum - nt AS cprev,
                 array_agg(struct_pack(
                     line := role || ': ' || text,
                     cum_prev := cum - nt))
                   OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS arr
          FROM c
        ),
        k AS (
          SELECT conv_id, turn_idx, text, cprev,
                 list_filter(coalesce(arr, []),
                             x -> x.cum_prev >= cprev - 80) AS kept
          FROM a WHERE role = 'assistant' AND turn_idx >= 1
        ),
        ex AS (
          SELECT conv_id * 4 + turn_idx AS example_id,
                 coalesce(array_to_string(list_transform(kept, x -> x.line),
                                          chr(10)), '') AS context,
                 text AS response
          FROM k
        ),
        cnt AS (
          SELECT example_id,
                 CAST(len(list_filter(string_split_regex(trim(context),
                                                         '\s+'),
                                      tk -> len(tk) > 0)) AS BIGINT) AS nctx,
                 CAST(len(list_filter(string_split_regex(trim(context),
                                                         '\s+'),
                                      tk -> len(tk) > 0))
                    + len(list_filter(string_split_regex(trim(response),
                                                         '\s+'),
                                      tk -> len(tk) > 0)) AS BIGINT) AS n_tok
          FROM ex
        ),
        t AS (
          SELECT example_id, nctx, n_tok,
                 CAST(CAST(CONCAT('0x',
                      substr(md5('2:' || CAST(example_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 8 AS INTEGER) AS shard,
                 md5('2:' || CAST(example_id AS VARCHAR)) AS order_key
          FROM cnt
        ),
        s AS (
          SELECT example_id, nctx, shard, n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY shard
                                       ORDER BY order_key, example_id
                                       ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS tok_end
          FROM t WHERE n_tok > 0
        ),
        b AS (
          SELECT shard, example_id, nctx,
                 tok_end - n_tok AS tok_start, tok_end,
                 unnest(generate_series((tok_end - n_tok) // 128,
                                        (tok_end - 1) // 128)) AS seq_id
          FROM s
        ),
        sl AS (
          SELECT shard, seq_id, example_id, nctx, tok_start, tok_end,
                 greatest(tok_start, seq_id * 128) AS g_start,
                 least(tok_end, (seq_id + 1) * 128) AS g_end
          FROM b
        )
        SELECT shard, seq_id, example_id,
               g_start - seq_id * 128 AS seq_pos,
               g_start - tok_start AS ex_offset,
               g_end - g_start AS n_tokens,
               greatest(0, (g_end - tok_start)
                           - greatest(g_start - tok_start, nctx))
                 AS n_loss_tokens
        FROM sl
        """,
        # Example-atomic packing: the greedy first-fit fold replayed as a
        # recursive CTE (one unit per shard per iteration)
        "pack_sft_examples_atomic": r"""
        WITH RECURSIVE tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 text,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                      tk -> len(tk) > 0)) AS BIGINT) AS nt
          FROM documents
        ),
        c AS (
          SELECT conv_id, turn_idx, role, text, nt,
                 CAST(sum(nt) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                    ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM tr
        ),
        a AS (
          SELECT conv_id, turn_idx, role, text,
                 cum - nt AS cprev,
                 array_agg(struct_pack(
                     line := role || ': ' || text,
                     cum_prev := cum - nt))
                   OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS arr
          FROM c
        ),
        k AS (
          SELECT conv_id, turn_idx, text, cprev,
                 list_filter(coalesce(arr, []),
                             x -> x.cum_prev >= cprev - 80) AS kept
          FROM a WHERE role = 'assistant' AND turn_idx >= 1
        ),
        ex AS (
          SELECT conv_id * 4 + turn_idx AS example_id,
                 coalesce(array_to_string(list_transform(kept, x -> x.line),
                                          chr(10)), '') AS context,
                 text AS response
          FROM k
        ),
        cnt AS (
          SELECT example_id,
                 CAST(len(list_filter(string_split_regex(trim(context),
                                                         '\s+'),
                                      tk -> len(tk) > 0))
                    + len(list_filter(string_split_regex(trim(response),
                                                         '\s+'),
                                      tk -> len(tk) > 0)) AS BIGINT) AS n_tok,
                 CAST(len(list_filter(string_split_regex(trim(response),
                                                         '\s+'),
                                      tk -> len(tk) > 0)) AS BIGINT) AS nloss
          FROM ex
        ),
        r AS (
          SELECT example_id, n_tok, nloss,
                 CAST(CAST(CONCAT('0x',
                      substr(md5('3:' || CAST(example_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 4 AS INTEGER) AS shard,
                 row_number() OVER (
                   PARTITION BY CAST(CAST(CONCAT('0x',
                       substr(md5('3:' || CAST(example_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 4 AS INTEGER)
                   ORDER BY md5('3:' || CAST(example_id AS VARCHAR)),
                            example_id) AS rn
          FROM cnt WHERE n_tok > 0 AND n_tok <= 128
        ),
        p(shard, rn, seq_id, seq_pos, fill) AS (
          SELECT shard, rn, CAST(0 AS BIGINT), CAST(0 AS BIGINT), n_tok
          FROM r WHERE rn = 1
          UNION ALL
          SELECT r.shard, r.rn,
                 CASE WHEN p.fill + r.n_tok <= 128
                      THEN p.seq_id ELSE p.seq_id + 1 END,
                 CASE WHEN p.fill + r.n_tok <= 128
                      THEN p.fill ELSE CAST(0 AS BIGINT) END,
                 CASE WHEN p.fill + r.n_tok <= 128
                      THEN p.fill + r.n_tok ELSE r.n_tok END
          FROM p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1
        )
        SELECT r.shard, p.seq_id, r.example_id, p.seq_pos,
               r.n_tok AS n_tokens, r.nloss AS n_loss_tokens
        FROM p JOIN r ON r.shard = p.shard AND r.rn = p.rn
        """,
        "conversation_stats": r"""
        WITH tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 CASE WHEN doc_id % 2 = 1 AND doc_id % 5 <> 0
                      THEN 'tool_' || CAST(doc_id % 3 AS VARCHAR) END AS tool,
                 1700000000 + doc_id * 60 AS ts_s,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 tk -> len(tk) > 0)) AS n_tok
          FROM documents
        )
        SELECT conv_id,
               count(*) AS n_turns,
               count(*) FILTER (WHERE role = 'user') AS n_user,
               count(*) FILTER (WHERE role = 'assistant') AS n_assistant,
               count(tool) AS n_tool_calls,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(coalesce(sum(n_tok) FILTER (WHERE role = 'assistant'), 0)
                    AS BIGINT) AS assistant_tokens,
               max(ts_s) - min(ts_s) AS duration_s
        FROM tr GROUP BY conv_id
        """,
        "tool_bigrams": r"""
        WITH tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id % 2 = 1 AND doc_id % 5 <> 0
                      THEN 'tool_' || CAST(doc_id % 3 AS VARCHAR) END AS tool
          FROM documents
        ),
        pairs AS (
          SELECT conv_id, tool AS tool_a,
                 lead(tool) OVER (PARTITION BY conv_id
                                  ORDER BY turn_idx) AS tool_b
          FROM tr WHERE tool IS NOT NULL
        )
        SELECT tool_a, tool_b, count(*) AS n_pairs,
               count(DISTINCT conv_id) AS n_convs
        FROM pairs WHERE tool_b IS NOT NULL
        GROUP BY tool_a, tool_b
        """,
        "conversation_splits": r"""
        WITH tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx
          FROM documents
        ),
        b AS (
          SELECT conv_id, turn_idx,
                 CAST(CONCAT('0x',
                      substr(md5(CAST(conv_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 10000 AS split_bucket
          FROM tr
        )
        SELECT conv_id, turn_idx, split_bucket,
               CASE WHEN split_bucket < 9000 THEN 'train'
                    WHEN split_bucket < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
        """,
        "chunk_conversations": r"""
        WITH tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 text
          FROM documents
        ),
        asm AS (
          SELECT conv_id,
                 array_agg(struct_pack(turn_idx := turn_idx,
                                       line := role || ': ' || text)
                           ORDER BY turn_idx) AS arr
          FROM tr GROUP BY conv_id
        ),
        d AS (
          SELECT conv_id, arr, len(arr) AS n,
                 unnest(generate_series(0,
                     CASE WHEN len(arr) <= 3 THEN 0
                          ELSE (len(arr) - 3) END)) AS chunk_id
          FROM asm
        )
        SELECT conv_id,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               arr[chunk_id + 1].turn_idx AS first_turn_idx,
               CAST(least(3, n - chunk_id) AS BIGINT) AS n_turns,
               array_to_string(
                 list_transform(
                   list_slice(arr, chunk_id + 1,
                              chunk_id + least(3, n - chunk_id)),
                   x -> x.line),
                 chr(10)) AS chunk_text
        FROM d
        """,
        # Subword-unit dialogue chunk budgets (tokenizer seam) + semantic
        # conversation near-dup over mean-pooled turn embeddings
        "chunk_conversations_budget_bpe": _wordpiece_chunk_conv_budget_sql(),
        "conversation_near_dup": _conversation_near_dup_sql(),
        "cluster_conversations": _cluster_conversations_sql(),
        "conversation_near_dup_clustered":
            _conversation_near_dup_clustered_sql(),
        "conversation_near_dup_lsh": _conversation_near_dup_lsh_sql(),
        "dedup_conversations_semantic": _dedup_conversations_semantic_sql(),
        # Token-budget dialogue chunking: the greedy turn-atomic fold
        # replayed as a recursive CTE (one turn per conversation per step)
        "chunk_conversations_budget": r"""
        WITH RECURSIVE tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 text
          FROM documents
        ),
        r AS (
          SELECT conv_id, turn_idx,
                 role || ': ' || text AS line,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                      tk -> len(tk) > 0)) AS BIGINT) AS nt,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY turn_idx) AS rn
          FROM tr
        ),
        p(conv_id, rn, chunk, cur) AS (
          SELECT conv_id, rn, CAST(0 AS BIGINT), nt FROM r WHERE rn = 1
          UNION ALL
          SELECT r.conv_id, r.rn,
                 CASE WHEN p.cur > 0 AND p.cur + r.nt > 60
                      THEN p.chunk + 1 ELSE p.chunk END,
                 CASE WHEN p.cur > 0 AND p.cur + r.nt > 60
                      THEN r.nt ELSE p.cur + r.nt END
          FROM p JOIN r ON r.conv_id = p.conv_id AND r.rn = p.rn + 1
        )
        SELECT r.conv_id, p.chunk AS chunk_id,
               min(r.turn_idx) AS first_turn_idx,
               count(*) AS n_turns,
               CAST(sum(r.nt) AS BIGINT) AS n_tokens,
               string_agg(r.line, chr(10) ORDER BY r.turn_idx) AS chunk_text
        FROM p JOIN r ON r.conv_id = p.conv_id AND r.rn = p.rn
        GROUP BY r.conv_id, p.chunk
        """,
        "dedup_conversations": r"""
        WITH tr AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ),
        f AS (
          SELECT conv_id,
                 md5(string_agg(norm, chr(10) ORDER BY turn_idx))
                   AS fingerprint
          FROM tr GROUP BY conv_id
        )
        SELECT conv_id, fingerprint,
               CASE WHEN conv_id = min(conv_id) OVER (PARTITION BY fingerprint)
                    THEN 1 ELSE 0 END AS keep
        FROM f
        """,
        "preference_pairs": r"""
        WITH cand AS (
          SELECT doc_id // 4 AS conv_id,
                 CAST(doc_id % 4 AS INTEGER) AS turn_idx,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                      tk -> len(tk) > 0)) AS BIGINT) AS score
          FROM documents WHERE doc_id % 2 = 1
        ),
        r AS (
          SELECT conv_id, turn_idx, score,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY score DESC, turn_idx ASC) AS rb,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY score ASC, turn_idx DESC) AS rw
          FROM cand
        ),
        p AS (
          SELECT conv_id,
                 max(CASE WHEN rb = 1 THEN turn_idx END) AS chosen_turn_idx,
                 max(CASE WHEN rw = 1 THEN turn_idx END) AS rejected_turn_idx,
                 max(CASE WHEN rb = 1 THEN score END) AS chosen_score,
                 max(CASE WHEN rw = 1 THEN score END) AS rejected_score
          FROM r GROUP BY conv_id
        )
        SELECT conv_id, chosen_turn_idx, rejected_turn_idx, chosen_score,
               rejected_score, chosen_score - rejected_score AS score_gap
        FROM p WHERE chosen_turn_idx <> rejected_turn_idx
        """,
        "gram_familiarity": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             tk -> len(tk) > 0) AS toks
          FROM documents
        ),
        s AS (
          SELECT doc_id, toks, len(toks) AS n_tok FROM t WHERE len(toks) >= 2
        ),
        g AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, n_tok - 2)) AS pos
          FROM s
        ),
        gp AS (
          SELECT doc_id,
                 array_to_string(list_slice(toks, pos + 1, pos + 2),
                                 ' ') AS gram
          FROM g
        ),
        c AS (
          SELECT doc_id, count(*) OVER (PARTITION BY gram) AS cnt FROM gp
        )
        SELECT doc_id, count(*) AS n_grams,
               (1000000 * CAST(sum(cnt) AS BIGINT)) // count(*)
                 AS familiarity_e6
        FROM c GROUP BY doc_id
        """,
        # corpus-order gram novelty: distinct (doc, 3-gram) -> first
        # occurrence = min(doc_id) per gram -> per-doc novel fraction as
        # exact floor-e6 integers; gram-less docs vacuously novel (1e6)
        "doc_novelty": r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             tk -> len(tk) > 0) AS toks
          FROM documents
        ),
        g AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, len(toks) - 2),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')
                   )) AS gram
            FROM t WHERE len(toks) >= 3)
        ),
        f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
        pd AS (
          SELECT g.doc_id,
                 CAST(count(*) AS BIGINT) AS n_distinct_grams,
                 CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                      AS BIGINT) AS novel_grams,
                 (1000000 * CAST(sum(CASE WHEN f.first_doc = g.doc_id
                                          THEN 1 ELSE 0 END) AS BIGINT))
                   // CAST(count(*) AS BIGINT) AS novelty_e6
          FROM g JOIN f USING (gram) GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               coalesce(pd.n_distinct_grams, 0) AS n_distinct_grams,
               coalesce(pd.novel_grams, 0) AS novel_grams,
               coalesce(pd.novelty_e6, 1000000) AS novelty_e6
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN pd USING (doc_id)
        """,
        "sessionize": """
        WITH gaps AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT user_id, event_id, ts,
                 CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
          FROM gaps
        )
        SELECT user_id, session_id,
               count(*) AS n_events,
               max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
        FROM sess GROUP BY user_id, session_id
        """,
        "user_session_features": """
        WITH ordered AS (
          SELECT user_id, event_id, event_type, ts,
                 lag(event_type) OVER w AS prev_type,
                 epoch(ts - lag(ts) OVER w) AS gap_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               count(*) AS n_events,
               count(*) FILTER (WHERE prev_type IS NOT NULL AND event_type <> prev_type) AS n_type_switches,
               coalesce(round(avg(gap_s), 4), 0.0) AS mean_gap_s
        FROM ordered GROUP BY user_id
        """,
        "cube_revenue": """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "pivot_status": """
        SELECT l_returnflag,
               coalesce(round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2), 0.0) AS qty_o,
               coalesce(round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2), 0.0) AS qty_f
        FROM lineitem GROUP BY l_returnflag
        """,
        "publish_format_tag": """
        WITH files AS (
          SELECT source || '/' ||
            CASE
              WHEN doc_id % 7 = 0 THEN 'index.html'
              WHEN doc_id % 3 = 0 THEN 'doc' || CAST(doc_id AS VARCHAR) || '_kgx_tsv.tar.gz'
              WHEN doc_id % 3 = 1 THEN 'doc' || CAST(doc_id AS VARCHAR) || '.json'
              ELSE 'doc' || CAST(doc_id AS VARCHAR) || '.log'
            END AS key
          FROM documents
        )
        SELECT key,
               string_split(key, '/')[-1] AS basename,
               CASE WHEN key LIKE '%.tar.gz' THEN 'TSV'
                    WHEN key LIKE '%.json' THEN 'JSON'
                    ELSE 'OTHER' END AS format
        FROM files
        WHERE string_split(key, '/')[-1] NOT IN ('index.html', 'tracking.yaml', 'lock', 'json_transformed')
        """,
        "publish_index": """
        WITH files AS (
          SELECT source || '/' || lang AS dirname,
                 'doc' || CAST(doc_id AS VARCHAR) || '.json' AS basename
          FROM documents
        ),
        grouped AS (
          SELECT dirname,
                 list_sort(list(DISTINCT basename)) AS files
          FROM files GROUP BY dirname
        )
        SELECT dirname,
               array_to_string(files, '|') AS file_list,
               '<html><body><h1>Index of ' || dirname || '</h1><ul>' ||
               array_to_string(list_transform(files,
                 f -> '<li><a href="' || f || '">' || f || '</a></li>'), '') ||
               '</ul></body></html>' AS index_html
        FROM grouped
        """,
        "sketch_value_quantiles": """
        WITH binned AS (
          SELECT event_type,
                 CAST(floor(least(greatest(CAST(value AS DOUBLE), 0.0), 199.999999995) / 5.0) AS INT) AS bin,
                 count(*) AS cnt
          FROM events GROUP BY 1, 2
        ),
        cum AS (
          SELECT event_type, bin,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type) AS total
          FROM binned
        ),
        qs AS (SELECT unnest([0.5, 0.95]) AS q)
        SELECT event_type, q, min(bin) AS bin,
               round(min(bin) * 5.0, 4) AS left_edge
        FROM cum, qs WHERE cum >= q * total
        GROUP BY event_type, q
        """,
        "kmv_set_ops": """
        WITH c AS (
          SELECT DISTINCT user_id % 150 AS b FROM events WHERE event_type = 'click'
        ), p AS (
          SELECT DISTINCT user_id % 150 AS b FROM events WHERE event_type = 'purchase'
        )
        SELECT (SELECT count(*) FROM c) AS n_click,
               (SELECT count(*) FROM p) AS n_purchase,
               (SELECT count(*) FROM (SELECT b FROM c UNION SELECT b FROM p)) AS n_union,
               (SELECT count(*) FROM (SELECT b FROM c INTERSECT SELECT b FROM p)) AS n_intersect
        """,
        "sketch_distinct_users": """
        SELECT event_type,
               CAST(count(DISTINCT user_id % 200) AS BIGINT) AS n_distinct
        FROM events GROUP BY event_type
        """,
        "publish_root_index": """
        WITH dirs AS (SELECT DISTINCT source AS dir FROM documents),
        l AS (
          SELECT list_sort(list(dir)) AS ds FROM dirs WHERE NOT regexp_matches(dir, '[37]$')
        ),
        d AS (
          SELECT list_sort(list(dir)) AS dd FROM dirs WHERE regexp_matches(dir, '[37]$')
        )
        SELECT array_to_string(ds, '|') AS live_dirs,
               array_to_string(dd, '|') AS dead_dirs,
               '<html><body><h2>Index of /</h2><ul><li><a href="../">../</a></li>' ||
               array_to_string(list_transform(ds,
                 x -> '<li><a href="' || x || '/">' || x || '/</a></li>'), '') ||
               '</ul></body></html>' AS index_html
        FROM l, d
        """,
        "publish_dead_links": """
        SELECT source || '/' || lang || '/doc' || CAST(doc_id AS VARCHAR) || '.json' AS key
        FROM documents WHERE doc_id % 11 = 0
        """,
        "set_diff_except": """
        SELECT event_id, event_type FROM events
        EXCEPT ALL
        SELECT event_id, event_type FROM events WHERE value > 100.0
        """,
        "emb_near_dup": """
        SELECT e1.vec_id AS a, e2.vec_id AS b
        FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
        WHERE round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                           CAST(e2.embedding AS DOUBLE[])), 6) >= 0.35
        """,
        # hyperplane-LSH mirrored bit by bit: same literal md5-sign planes,
        # same chunk blocking ((sig >> 4*chunk) & 15), same a<b candidate
        # join + DISTINCT, same rounded-cosine verify (max_bucket is 1e6 in
        # the contract query so the cap slice never truncates)
        "emb_near_dup_lsh": f"""
        WITH vecs AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        sigs AS (
          SELECT vec_id, {_lsh_signature_sql("v")} AS signature FROM vecs
        ),
        blocked AS (
          SELECT vec_id, chunk,
                 (signature >> (chunk * {_LSH_PREFIX_BITS})) &
                 {(1 << _LSH_PREFIX_BITS) - 1} AS key
          FROM sigs
          CROSS JOIN (SELECT unnest(range({_LSH_N_PLANES // _LSH_PREFIX_BITS}))
                      AS chunk) c
        ),
        cand AS (
          SELECT DISTINCT b1.vec_id AS a, b2.vec_id AS b
          FROM blocked b1 JOIN blocked b2
            ON b1.chunk = b2.chunk AND b1.key = b2.key
               AND b1.vec_id < b2.vec_id
        )
        SELECT c.a, c.b
        FROM cand c
        JOIN vecs va ON va.vec_id = c.a
        JOIN vecs vb ON vb.vec_id = c.b
        WHERE round({_cos_sql("va.v", "vb.v")}, 6) >= 0.35
        """,
        # IVF mirrored stage by stage: md5-hex centroid selection (same
        # ordering as Spark's orderBy(md5(id), id).limit(8), renumbered in id
        # order), argmax assignment (csim DESC, centroid_id ASC — the struct
        # array_max tie-break), nprobe=3 probe, rounded-sim top-5 ranking
        "ann_ivf": f"""
        WITH sel AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
        ),
        cents AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
                 AS centroid_id, cv
          FROM sel
        ),
        vecs AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        assign AS (
          SELECT vec_id, v, centroid_id FROM (
            SELECT x.vec_id, x.v, c.centroid_id,
                   row_number() OVER (
                     PARTITION BY x.vec_id
                     ORDER BY {_cos_sql("x.v", "c.cv")} DESC,
                              c.centroid_id ASC) AS rn
            FROM vecs x CROSS JOIN cents c) t
          WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 3),
        qcells AS (
          SELECT query_id, qv, centroid_id FROM (
            SELECT q.query_id, q.qv, c.centroid_id,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY {_cos_sql("q.qv", "c.cv")} DESC,
                              c.centroid_id ASC) AS rn
            FROM q CROSS JOIN cents c) t
          WHERE rn <= 3
        ),
        scored AS (
          SELECT qc.query_id, a.vec_id AS neighbor_id,
                 round({_cos_sql("a.v", "qc.qv")}, 6) AS sim
          FROM assign a JOIN qcells qc ON a.centroid_id = qc.centroid_id
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored) t
        WHERE rank <= 5
        """,
        # Scalar-quantized ANN mirrored stage by stage: per-vector scale =
        # greatest(max|v|, 1e-30), qvec_i = floor(127*v_i/scale) (floor of
        # an identical double is identical), candidate key = floor of
        # (1e6*scale)*qdot in the SAME left-assoc multiply order as Spark
        # (qdot is a small exact integer, so the double dot equals the
        # integer dot bit-for-bit), top-20 candidates, exact spelled-out
        # cosine rerank to floor-e6, top-5 by (sim_e6 DESC, id)
        "ann_quantized_topk": f"""
        WITH vecs AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        qt AS (
          SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))),
                          1e-30) AS scale
          FROM vecs
        ),
        qv AS (
          SELECT vec_id, v, scale,
                 list_transform(v, x -> floor(127.0 * x / scale)) AS q
          FROM qt
        ),
        qry AS (SELECT vec_id AS query_id, v AS qvv, q AS qq
                FROM qv WHERE vec_id < 3),
        cand AS (
          SELECT query_id, neighbor_id FROM (
            SELECT r.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY r.query_id
                     ORDER BY CAST(floor(1000000.0 * c.scale *
                                         list_dot_product(c.q, r.qq))
                              AS BIGINT) DESC,
                              c.vec_id ASC) AS rn
            FROM qv c CROSS JOIN qry r) t
          WHERE rn <= 20
        ),
        rer AS (
          SELECT cd.query_id, cd.neighbor_id,
                 CAST(floor(1000000.0 *
                      ({_cos_sql("nv.v", "r.qvv")})) AS BIGINT) AS sim_e6
          FROM cand cd
          JOIN vecs nv ON nv.vec_id = cd.neighbor_id
          JOIN qry r ON r.query_id = cd.query_id
        )
        SELECT query_id, neighbor_id, sim_e6, rank FROM (
          SELECT query_id, neighbor_id, sim_e6,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim_e6 DESC, neighbor_id ASC)
                 AS rank
          FROM rer) t
        WHERE rank <= 5
        """,
        # IVF x int8: md5 centroid selection + float-cosine argmax
        # assignment + nprobe=3 probe (the ann_ivf CTEs), int8 candidate
        # scan inside probed cells, exact rerank top-5
        "ann_ivf_quantized": f"""
        WITH sel AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
        ),
        cents AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
                 AS centroid_id, cv
          FROM sel
        ),
        vecs AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        qz AS (
          SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))),
                          1e-30) AS scale
          FROM vecs
        ),
        qv AS (
          SELECT vec_id, v, scale,
                 list_transform(v, x -> floor(127.0 * x / scale)) AS q
          FROM qz
        ),
        assign AS (
          SELECT vec_id, centroid_id FROM (
            SELECT x.vec_id, c.centroid_id,
                   row_number() OVER (
                     PARTITION BY x.vec_id
                     ORDER BY {_cos_sql("x.v", "c.cv")} DESC,
                              c.centroid_id ASC) AS rn
            FROM vecs x CROSS JOIN cents c) t
          WHERE rn = 1
        ),
        qry AS (SELECT vec_id AS query_id, v AS qvv, q AS qq
                FROM qv WHERE vec_id < 3),
        qcells AS (
          SELECT query_id, centroid_id FROM (
            SELECT r.query_id, c.centroid_id,
                   row_number() OVER (
                     PARTITION BY r.query_id
                     ORDER BY {_cos_sql("r.qvv", "c.cv")} DESC,
                              c.centroid_id ASC) AS rn
            FROM qry r CROSS JOIN cents c) t
          WHERE rn <= 3
        ),
        cand AS (
          SELECT query_id, neighbor_id FROM (
            SELECT qc.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY qc.query_id
                     ORDER BY CAST(floor(1000000.0 * e.scale *
                                         list_dot_product(e.q, r.qq))
                              AS BIGINT) DESC,
                              a.vec_id ASC) AS rn
            FROM assign a
            JOIN qcells qc ON a.centroid_id = qc.centroid_id
            JOIN qv e ON e.vec_id = a.vec_id
            JOIN qry r ON r.query_id = qc.query_id) t
          WHERE rn <= 20
        )
        SELECT query_id, neighbor_id, sim_e6, rank FROM (
          SELECT cd.query_id, cd.neighbor_id,
                 CAST(floor(1000000.0 *
                      ({_cos_sql("nv.v", "r.qvv")})) AS BIGINT) AS sim_e6,
                 row_number() OVER (
                   PARTITION BY cd.query_id
                   ORDER BY CAST(floor(1000000.0 *
                          ({_cos_sql("nv.v", "r.qvv")})) AS BIGINT) DESC,
                          cd.neighbor_id ASC) AS rank
          FROM cand cd
          JOIN vecs nv ON nv.vec_id = cd.neighbor_id
          JOIN qry r ON r.query_id = cd.query_id) t
        WHERE rank <= 5
        """,
        # retrieval eval: the quantized-ANN chain (C=10 candidates, top-5
        # rerank) scored against the exact rounded-cosine top-5 truth;
        # recall/rr as exact floor-div integers
        "retrieval_eval": f"""
        WITH vecs AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        qt AS (
          SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))),
                          1e-30) AS scale
          FROM vecs
        ),
        qv AS (
          SELECT vec_id, v, scale,
                 list_transform(v, x -> floor(127.0 * x / scale)) AS q
          FROM qt
        ),
        qry AS (SELECT vec_id AS query_id, v AS qvv, q AS qq
                FROM qv WHERE vec_id < 3),
        cand AS (
          SELECT query_id, neighbor_id FROM (
            SELECT r.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY r.query_id
                     ORDER BY CAST(floor(1000000.0 * c.scale *
                                         list_dot_product(c.q, r.qq))
                              AS BIGINT) DESC,
                              c.vec_id ASC) AS rn
            FROM qv c CROSS JOIN qry r) t
          WHERE rn <= 10
        ),
        res AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT cd.query_id, cd.neighbor_id,
                   row_number() OVER (
                     PARTITION BY cd.query_id
                     ORDER BY CAST(floor(1000000.0 *
                            ({_cos_sql("nv.v", "r.qvv")})) AS BIGINT) DESC,
                            cd.neighbor_id ASC) AS rank
            FROM cand cd
            JOIN vecs nv ON nv.vec_id = cd.neighbor_id
            JOIN qry r ON r.query_id = cd.query_id) t
          WHERE rank <= 5
        ),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT a.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY a.query_id
                     ORDER BY round({_cos_sql("c.v", "a.qvv")}, 6) DESC,
                              c.vec_id ASC) AS rk
            FROM vecs c CROSS JOIN qry a) t
          WHERE rk <= 5
        ),
        nt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
               FROM exact GROUP BY 1),
        m AS (SELECT r.query_id, CAST(count(*) AS BIGINT) AS hits,
                     CAST(min(r.rank) AS BIGINT) AS f
              FROM res r JOIN exact e
                ON e.query_id = r.query_id
               AND e.neighbor_id = r.neighbor_id
              GROUP BY 1)
        SELECT nt.query_id, nt.n_truth,
               coalesce(m.hits, 0) AS hits,
               (1000000 * coalesce(m.hits, 0)) // nt.n_truth AS recall_e6,
               coalesce(1000000 // m.f, 0) AS rr_e6
        FROM nt LEFT JOIN m ON m.query_id = nt.query_id
        """,
        # hard-negative mining: exact floor-e6 cosine band [0.10, 0.35)
        # per anchor, top-5 by (sim_e6 DESC, id) — the salted two-level
        # Spark top-k returns the identical set as this single window
        "hard_negatives": f"""
        WITH vecs AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        anch AS (SELECT vec_id AS query_id, v AS qv FROM vecs
                 WHERE vec_id < 3),
        scored AS (
          SELECT a.query_id, c.vec_id AS neighbor_id,
                 CAST(floor(1000000.0 *
                      ({_cos_sql("c.v", "a.qv")})) AS BIGINT) AS sim_e6
          FROM vecs c CROSS JOIN anch a
        ),
        band AS (
          SELECT * FROM scored WHERE sim_e6 >= 100000 AND sim_e6 < 350000
        )
        SELECT query_id, neighbor_id, sim_e6, rank FROM (
          SELECT query_id, neighbor_id, sim_e6,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim_e6 DESC, neighbor_id ASC)
                 AS rank
          FROM band) t
        WHERE rank <= 5
        """,
    }


def oracle_sql() -> dict[str, str]:
    """Driver-checked oracles: all_oracle_sql() restricted to queries()."""
    qs = queries()
    return {k: v for k, v in all_oracle_sql().items() if k in qs}
