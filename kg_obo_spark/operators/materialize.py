"""Graph materialization: mentions -> KGX node / edge tables.

Output schemas mirror the reference golden fixtures exactly:
- nodes: ``id, category, name, description, provided_by`` + dynamic properties
  (/root/reference/tests/resources/download_ontology/bfo_kgx_tsv_nodes.tsv:1)
- edges: ``subject, predicate, object, relation, knowledge_source``
  (bfo_kgx_tsv_edges.tsv:1), with knowledge_source = "{NAME} {version}"
  (transform.py:1133-1135).

Category rewrite ``biolink:OntologyClass -> biolink:NamedThing`` is P4
(transform.py:642-644). Multi-valued cells are ``|``-joined on TSV export
(stats.py:556-558 analog).

Scale notes:
- Co-mention pair generation is `groupBy(conv_id, turn_idx) -> sort_array(
  collect_set) -> inline pair expansion` — one shuffle on the turn key, all
  pair expansion JVM-side (no self-join of the mentions table, which would
  shuffle twice and blow up on hot turns).
- Node rows are built on the driver (:func:`node_rows`) from the distinct
  mentioned ids, which the dictionary bounds; no dictionary frame is joined.
- Final `distinct()` on edges is a shuffle on (subject, object); map-side
  partial aggregation absorbs hot pairs before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType, StructField, StructType

from kg_obo_spark.datagen.ontology import Ontology
from kg_obo_spark.session import arrow_rows, local_frame

EDGE_COLS = ["subject", "predicate", "object", "relation", "knowledge_source"]
NODE_CORE_COLS = ["id", "category", "name", "description", "provided_by"]

CO_MENTION_PREDICATE = "biolink:related_to"
CO_MENTION_RELATION = "co_mentioned_with"
ISA_PREDICATE = "biolink:subclass_of"
ISA_RELATION = "rdfs:subClassOf"
# rows of co_mention_batch: b NULL = "a was mentioned", else the pair a < b
REGISTRY_SCHEMA = "a string, b string"
# KGX node rows (node_rows); the nullability is that of the Spark-built node
# frame earlier versions committed, so a snapshot records the same schema
NODE_SCHEMA = StructType(
    [StructField("id", StringType(), True)]
    + [StructField(c, StringType(), False) for c in NODE_CORE_COLS[1:]]
    + [StructField("properties", MapType(StringType(), StringType(), False), False)]
)


def rewrite_category(df: DataFrame, col: str = "category") -> DataFrame:
    """P4: biolink:OntologyClass -> biolink:NamedThing (transform.py:642-644)."""
    return df.withColumn(
        col,
        F.when(F.col(col) == "biolink:OntologyClass", F.lit("biolink:NamedThing"))
        .otherwise(F.col(col)),
    )


def canonical_mentions(mentions: DataFrame, canon_map: DataFrame) -> DataFrame:
    """Rewrite mention term_ids to canonical ids via broadcast join (J1)."""
    m = canon_map.withColumnRenamed("term_id", "_t")
    return (
        mentions.join(F.broadcast(m), mentions.term_id == m._t, "left")
        .withColumn("term_id", F.coalesce(F.col("canonical_id"), F.col("term_id")))
        .drop("_t", "canonical_id")
    )


def per_turn_terms(mentions: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, terms): sorted distinct canonical ids per turn.

    This is the pivotal reduction of the pipeline: the only shuffle that sees
    the full mention volume. Everything downstream (pairs, node set, is_a)
    derives from this much smaller frame — persist THIS, never raw mentions.
    """
    return mentions.groupBy("conv_id", "turn_idx").agg(
        F.sort_array(F.collect_set("term_id")).alias("terms")
    )


def co_mention_pairs(mentions: DataFrame) -> DataFrame:
    """Distinct unordered (a < b) canonical-id pairs per (conv_id, turn_idx).

    Pair expansion is pure column expressions over the sorted distinct term
    array of each turn — no self-join, no Python.
    """
    return pairs_from_per_turn(per_turn_terms(mentions))


def pairs_from_per_turn(per_turn: DataFrame) -> DataFrame:
    """Two chained generators (posexplode + explode-of-slice) instead of nested
    higher-order lambdas: generators run inside whole-stage codegen; the
    interpreted nested-transform variant was measurably slower on wide turns."""
    first = per_turn.filter(F.size("terms") >= 2).select(
        "conv_id",
        "turn_idx",
        "terms",
        F.posexplode("terms").alias("_i", "a"),
    )
    return first.select(
        "conv_id",
        "turn_idx",
        "a",
        F.explode(F.slice(F.col("terms"), F.col("_i") + 2, F.size("terms"))).alias("b"),
    )


def co_mention_weights(mentions: DataFrame) -> DataFrame:
    """Weighted co-mention edges with an exact fixed-point LIFT score — the
    association-strength materialization on top of the boolean co-mention
    edge set (build_edges emits distinct pairs; a downstream ranker wants
    how strongly two entities attract):

        lift(a, b) = P(a, b) / (P(a) P(b)) = n_ab * N / (n_a * n_b)

    over turns-with-mentions as the event space, emitted as
    ``lift_e6 = (1e6 * n_ab * N) // (n_a * n_b)`` so the ranking is
    bit-exact cross-engine (the top_terms_tfidf fixed-point discipline;
    lift is the exp of PMI, so it orders pairs identically to PMI without
    a float log).

    Returns (a, b, n_ab, n_a, n_b, n_turns, lift_e6) — all counts exact.

    Dataflow: the per-turn reduced frame is materialized ONCE
    (localCheckpoint) and feeds three consumers — the codegen pair
    expansion -> hash(a,b) count, the term-frequency aggregate
    (dictionary-sized), and the scalar turn count — so the full mention
    volume is shuffled zero times past per_turn_terms' own reduction. The
    per-term counts come back via BROADCAST joins (the term domain is the
    dictionary, tiny by construction). At 10^12 turns the BIGINT product
    1e6 * n_ab * N can overflow; rescale to per-shard lifts or DECIMAL(38)
    there — the contract-scale arithmetic is exact as written.
    """
    pt = per_turn_terms(mentions).localCheckpoint()
    n_turns = pt.count()  # scalar collect: one long
    pair_counts = (
        pairs_from_per_turn(pt)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    term_counts = (
        pt.select(F.explode("terms").alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    ta = term_counts.select(
        F.col("_t").alias("a"), F.col("_n").alias("n_a")
    )
    tb = term_counts.select(
        F.col("_t").alias("b"), F.col("_n").alias("n_b")
    )
    out = (
        pair_counts.join(F.broadcast(ta), "a")
        .join(F.broadcast(tb), "b")
        .withColumn("n_turns", F.lit(n_turns).cast("long"))
    )
    return out.select(
        "a",
        "b",
        F.col("n_ab").cast("long").alias("n_ab"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "n_turns",
        F.expr("div(1000000 * n_ab * n_turns, n_a * n_b)").alias("lift_e6"),
    )


def co_mention_batch(
    transcripts: DataFrame,
    onto: Ontology,
    canon: dict[str, str] | None = None,
    degradation_level: int = 0,
    max_candidates_per_turn: int | None = None,
) -> DataFrame:
    """The per-batch body of the KG build: one batch of turns -> its
    co-mention registry rows ``(a string, b string)``, distinct.

    A row with ``b`` NULL records "``a`` was mentioned in this batch"; every
    other row is a co-mention pair with ``a < b``. Both kinds come from one
    generator over each turn's sorted term array: ``posexplode`` gives
    (i, a), and ``explode(concat([NULL], terms[i+1:]))`` gives a's NULL row
    plus every later term. So the batch costs one fused scan
    (:func:`~kg_obo_spark.operators.extract.extract_turn_terms`: extract +
    canonical rewrite + per-turn reduce), one two-column distinct shuffle
    and whatever writes the result; nothing is cached or read back.
    ``run_pipeline`` commits it per unit batch and the streaming sink per
    micro-batch, each under its own tag; :func:`kg_from_registry` turns the
    accumulated rows into the KG.

    ``degradation_level`` and ``max_candidates_per_turn`` are the repair
    ladder's knobs (see ``extract_turn_terms``)."""
    from kg_obo_spark.operators.extract import extract_turn_terms
    from kg_obo_spark.partitioning import ensure_scan_parallelism

    pt = extract_turn_terms(
        ensure_scan_parallelism(transcripts.select("conv_id", "turn_idx", "text")),
        onto,
        canon,
        degradation_level=degradation_level,
        max_candidates_per_turn=max_candidates_per_turn,
    )
    first = pt.select("terms", F.posexplode("terms").alias("_i", "a"))
    later = F.slice(F.col("terms"), F.col("_i") + 2, F.size("terms"))
    return first.select(
        "a",
        F.explode(F.concat(F.array(F.lit(None).cast("string")), later)).alias("b"),
    ).distinct()


def kg_from_registry(registry: DataFrame, onto: Ontology) -> tuple[tuple, DataFrame]:
    """(nodes, edges) of the KG from accumulated :func:`co_mention_batch`
    rows. The registry is bounded by the dictionary (ids and their
    co-mention pairs), not by the corpus.

    The distinct mentioned ids (``b`` NULL) are collected under a Spark
    ``distinct()``, so at most one row per dictionary term reaches the
    driver. The driver, which holds every term already, builds from them:

    - ``nodes``: driver rows ``(pa.Table, StructType)`` from
      :func:`node_rows`, for ``Table.commit`` to write with no Spark job;
    - the is_a edges between mentioned ids.

    ``edges`` is a DataFrame: one distinct over the registry's ``(a, b)``
    pairs (a pair recurs across batches), the constant KGX columns, and the
    is_a rows unioned in. Pairs never reach the driver."""
    spark = registry.sparkSession
    mentioned = sorted(
        r["a"] for r in registry.filter(F.col("b").isNull()).select("a").distinct().collect()
    )
    ks = F.lit(onto.knowledge_source).alias("knowledge_source")
    co = registry.filter(F.col("b").isNotNull()).distinct().select(
        F.col("a").alias("subject"),
        F.lit(CO_MENTION_PREDICATE).alias("predicate"),
        F.col("b").alias("object"),
        F.lit(CO_MENTION_RELATION).alias("relation"),
        ks,
    )
    ids = set(mentioned)
    isa = local_frame(
        spark,
        sorted({(s, o) for s, o in onto.is_a if s in ids and o in ids}),
        "subject string, object string",
    ).select(
        "subject",
        F.lit(ISA_PREDICATE).alias("predicate"),
        "object",
        F.lit(ISA_RELATION).alias("relation"),
        ks,
    )
    return arrow_rows(node_rows(mentioned, onto), NODE_SCHEMA), co.unionByName(isa)


def build_edges(
    mentions: DataFrame, onto: Ontology, include_isa: bool = True
) -> DataFrame:
    """KGX edge table: distinct co-mention edges + is_a edges between mentioned
    terms. Emission is deterministic: distinct + downstream writers sort."""
    ks = F.lit(onto.knowledge_source)
    pairs = co_mention_pairs(mentions)
    co = pairs.select(
        F.col("a").alias("subject"),
        F.lit(CO_MENTION_PREDICATE).alias("predicate"),
        F.col("b").alias("object"),
        F.lit(CO_MENTION_RELATION).alias("relation"),
        ks.alias("knowledge_source"),
    ).distinct()
    if not include_isa:
        return co
    return co.unionByName(build_isa_edges(mentions, onto))


def edges_from_per_turn(per_turn: DataFrame, onto: Ontology) -> DataFrame:
    """Full KGX edge table from the per-turn term arrays: distinct co-mention
    edges + is_a edges between mentioned terms. This is the scale path — the
    raw mentions are reduced once by per_turn_terms and never rescanned.

    The distinct runs on the bare (a, b) pair BEFORE the constant predicate /
    relation / knowledge_source columns are attached, so the dedup shuffle
    carries two ids per row instead of five strings."""
    co_pairs = (
        pairs_from_per_turn(per_turn).select("a", "b").distinct()
    )
    co = co_pairs.select(
        F.col("a").alias("subject"),
        F.lit(CO_MENTION_PREDICATE).alias("predicate"),
        F.col("b").alias("object"),
        F.lit(CO_MENTION_RELATION).alias("relation"),
        F.lit(onto.knowledge_source).alias("knowledge_source"),
    )
    mentioned = per_turn.select(F.explode("terms").alias("id")).distinct()
    return co.unionByName(isa_from_mentioned(mentioned, onto))


def co_edges_from_per_turn_ranks(
    per_turn_ranks: DataFrame, cu, onto: Ontology
) -> DataFrame:
    """Co-mention-only core of the vocab-int edge path: int32 pair expansion
    + distinct on (a, b) ranks + ``element_at`` literal unmap + constant KGX
    columns. Shared by :func:`edges_from_per_turn_ranks` (adds is_a) and the
    pipeline's per-unit edge stage (is_a is finalize-global there)."""
    cu_list = [str(s) for s in cu]
    lit_cu = F.lit(cu_list)
    first = per_turn_ranks.filter(F.size("ranks") >= 2).select(
        F.posexplode("ranks").alias("_i", "a"),
        F.col("ranks"),
    )
    co_pairs = (
        first.select(
            "a",
            F.explode(
                F.slice(F.col("ranks"), F.col("_i") + 2, F.size("ranks"))
            ).alias("b"),
        )
        .select("a", "b")
        .distinct()
    )
    return co_pairs.select(
        F.element_at(lit_cu, F.col("a") + 1).alias("subject"),
        F.lit(CO_MENTION_PREDICATE).alias("predicate"),
        F.element_at(lit_cu, F.col("b") + 1).alias("object"),
        F.lit(CO_MENTION_RELATION).alias("relation"),
        F.lit(onto.knowledge_source).alias("knowledge_source"),
    )


def edges_from_per_turn_ranks(
    per_turn_ranks: DataFrame, cu, onto: Ontology
) -> DataFrame:
    """Vocab-int edge materialization (ROADMAP #1): the same KGX edge table
    as :func:`edges_from_per_turn`, but the pair-expansion distinct shuffles
    integer RANKS (two int32s per row) instead of CURIE strings, and the
    unmap back to strings is a pure ``element_at`` projection against the
    literal sorted canonical term table ``cu`` — no unmap joins (the r3
    experiment's cost center). Because ``cu`` is lexicographically sorted,
    rank order == string order and the a < b pair set is identical to the
    string path (pinned by tests/test_materialize_ranks.py).

    ``per_turn_ranks`` is :func:`~kg_obo_spark.operators.extract.
    extract_turn_ranks` output; ``cu`` is the matcher's
    ``canon_rank_table(canon)[1]`` (driver-side)."""
    co = co_edges_from_per_turn_ranks(per_turn_ranks, cu, onto)
    cu_list = [str(s) for s in cu]
    mentioned = (
        per_turn_ranks.select(F.explode("ranks").alias("r"))
        .distinct()
        .select(F.element_at(F.lit(cu_list), F.col("r") + 1).alias("id"))
    )
    return co.unionByName(isa_from_mentioned(mentioned, onto))


def co_edges_from_mention_ranks(
    mentions: DataFrame, cu, onto: Ontology
) -> DataFrame:
    """Vocab-int co-mention edges from canonical mention rows (ROADMAP #13).
    No library code calls it since ``run_pipeline`` commits per-batch
    registry rows (:func:`co_mention_batch`) instead of mentions; it stays
    with the rest of the rank family and its equality test.

    Mention rows carry string CURIEs, so this path re-ranks them on the way
    into the pair shuffle: a broadcast join against the tiny
    (canonical id, rank) table (bounded by dictionary size), then the
    (conv, turn) reduce and pair-expansion distinct both shuffle int32s
    instead of CURIE strings. ``cu`` must cover every canonical term_id in
    ``mentions`` (the matcher's full-level ``canon_rank_table(canon)[1]`` is
    a superset of any degraded level's ids); the inner join is then
    row-preserving. Output is identical to
    ``build_edges(mentions, onto, include_isa=False)`` — pinned by
    tests/test_materialize_ranks.py."""
    spark = mentions.sparkSession
    rt = local_frame(
        spark,
        [(str(s), i) for i, s in enumerate(cu)], "id string, r int"
    )
    per_turn = (
        mentions.join(F.broadcast(rt), mentions["term_id"] == rt["id"])
        .groupBy("conv_id", "turn_idx")
        .agg(F.array_sort(F.collect_set("r")).alias("ranks"))
    )
    return co_edges_from_per_turn_ranks(per_turn, cu, onto)


# Edge-stage crossover for the vocab-int pair shuffle, in TURN rows
# (BENCH/VOCAB_INT_AB.md: string CURIEs win at 200k convs, int ranks win at
# 600k+; the bench corpus runs ~9 turns/conversation, so the conservative
# switch point ~500k convs is ~4.5M turns). Below this the distinct pair
# OUTPUT (bounded by dictionary density, not corpus size) dominates pair
# volume and the element_at unmap costs more than the skinny shuffle saves.
VOCAB_INT_CROSSOVER_TURNS = 4_500_000


def estimated_turn_count(transcripts: DataFrame, avg_row_bytes: int = 200) -> int:
    """Scan-free row estimate from Catalyst plan statistics.

    Uses the optimized plan's row count when the source provides one, else
    sizeInBytes / avg_row_bytes (for a parquet scan sizeInBytes is the
    on-disk compressed size, so avg_row_bytes is COMPRESSED bytes per turn —
    the 200-byte default overestimates typical transcript rows, biasing the
    estimate LOW, i.e. toward the string path, which is the safe direction:
    the int-rank path only wins clearly above the crossover)."""
    stats = transcripts._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(str(rc.get()))
    return int(str(stats.sizeInBytes())) // max(1, avg_row_bytes)


def edges_from_transcripts(
    transcripts: DataFrame,
    onto: Ontology,
    canon: dict[str, str] | None = None,
    *,
    n_turns: int | None = None,
    crossover_turns: int = VOCAB_INT_CROSSOVER_TURNS,
    degradation_level: int = 0,
) -> DataFrame:
    """Auto-switching KGX edge materialization (ROADMAP #10).

    Picks the pair-shuffle representation from the corpus size instead of a
    caller flag: below ``crossover_turns`` the string-CURIE path
    (:func:`edges_from_per_turn`) wins because the distinct edge output is a
    large fraction of pair volume; above it the vocab-int path
    (:func:`edges_from_per_turn_ranks` — int32 pair shuffle + element_at
    literal unmap) wins 1.7x on the edge stage (measured at 2M convs,
    BENCH/VOCAB_INT_AB.md). Both paths produce the identical distinct triple
    set (tests/test_materialize_ranks.py).

    ``n_turns``: pass the known turn count when the caller has it (e.g. from
    a TableIO snapshot's footer row counts — metadata-only); when None it is
    estimated scan-free from plan statistics (:func:`estimated_turn_count`),
    so the dispatch itself never adds a job at 100 TB."""
    from kg_obo_spark.dictionary import get_matcher
    from kg_obo_spark.operators.extract import (
        extract_turn_ranks,
        extract_turn_terms,
    )

    if n_turns is None:
        n_turns = estimated_turn_count(transcripts)
    if n_turns >= crossover_turns:
        cu = get_matcher(onto, degradation_level).canon_rank_table(canon or {})[1]
        pt = extract_turn_ranks(
            transcripts, onto, canon, degradation_level=degradation_level
        )
        return edges_from_per_turn_ranks(pt, cu, onto)
    pt = extract_turn_terms(
        transcripts, onto, canon, degradation_level=degradation_level
    )
    return edges_from_per_turn(pt, onto)


def build_isa_edges(mentions: DataFrame, onto: Ontology) -> DataFrame:
    """is_a edges of the ontology restricted to terms mentioned anywhere."""
    mentioned = mentions.select(F.col("term_id").alias("id")).distinct()
    return isa_from_mentioned(mentioned, onto)


def isa_from_mentioned(mentioned: DataFrame, onto: Ontology) -> DataFrame:
    """is_a edges whose endpoints are both in the mentioned-id set.

    The mentioned-id set is tiny relative to the input, so both semi-joins run
    against a broadcast of it; at 100 TB the distinct() is the only shuffle and
    is bounded by dictionary size, not corpus size."""
    spark = mentioned.sparkSession
    isa = local_frame(spark, onto.is_a, "subject string, object string")
    m1 = mentioned.withColumnRenamed("id", "_sid")
    m2 = mentioned.withColumnRenamed("id", "_oid")
    return (
        isa.join(F.broadcast(m1), isa.subject == m1._sid, "left_semi")
        .join(F.broadcast(m2), isa.object == m2._oid, "left_semi")
        .select(
            "subject",
            F.lit(ISA_PREDICATE).alias("predicate"),
            "object",
            F.lit(ISA_RELATION).alias("relation"),
            F.lit(onto.knowledge_source).alias("knowledge_source"),
        )
    )


def node_rows(ids, onto: Ontology) -> list[tuple]:
    """KGX node rows (``NODE_SCHEMA``) of ``ids``, in order: the one
    definition of a node row, shared by :func:`build_nodes` and
    :func:`kg_from_registry`.

    Core columns + a dynamic ``properties`` map (iri, synonyms |-joined,
    prefix) — the MapType tail that models the reference's per-ontology
    annotation columns (SURVEY §1.1). The category goes through the P4
    rewrite (:func:`rewrite_category`); an id the dictionary does not hold
    gets ``biolink:NamedThing`` and empty strings."""
    by_id = {t["id"]: t for t in onto.terms}
    out = []
    for i in ids:
        t = by_id.get(i)
        if t is None:
            category = name = iri = synonyms = prefix = None
        else:
            category, name, iri, prefix = t["category"], t["name"], t["iri"], t["prefix"]
            synonyms = "|".join(t["synonyms"])
        if category in (None, "biolink:OntologyClass"):
            category = "biolink:NamedThing"
        out.append((
            i,
            category,
            _or_empty(name),
            "",  # description (synthetic ontology has none)
            onto.knowledge_source,
            [("iri", _or_empty(iri)), ("synonym", _or_empty(synonyms)),
             ("prefix", _or_empty(prefix))],
        ))
    return out


def _or_empty(value: str | None) -> str:
    return "" if value is None else value


def build_nodes(mentions: DataFrame, onto: Ontology) -> DataFrame:
    """KGX node table for every distinct mentioned (canonical) term: the
    distinct ``term_id`` values are collected (one row per dictionary term
    at most) and turned into :func:`node_rows` on the driver."""
    ids = [r["id"] for r in mentions.select(F.col("term_id").alias("id")).distinct().collect()]
    return local_frame(mentions.sparkSession, node_rows(ids, onto), NODE_SCHEMA)
