"""Pair generation, category rewrite, KGX export round-trips."""

import pandas as pd
from pyspark.sql import functions as F

from kg_obo_spark.datagen import build_ontology
from kg_obo_spark.operators.materialize import (
    build_edges,
    build_nodes,
    co_mention_pairs,
    rewrite_category,
)
from kg_obo_spark.sources.kgx import (
    decompress_kgx_targz,
    export_kgx_targz,
    read_kgx_tsv,
    write_obojson,
)


def _mentions(spark, rows):
    return spark.createDataFrame(
        [(c, t, 0, 1, "s", tid, 1.0) for (c, t, tid) in rows],
        "conv_id string, turn_idx int, start int, end int, surface string, term_id string, score double",
    )


def test_co_mention_pairs_sorted_unique(spark):
    m = _mentions(
        spark,
        [("c1", 0, "B:2"), ("c1", 0, "A:1"), ("c1", 0, "C:3"), ("c1", 0, "A:1"), ("c2", 0, "A:1")],
    )
    pairs = {(r["a"], r["b"]) for r in co_mention_pairs(m).collect()}
    assert pairs == {("A:1", "B:2"), ("A:1", "C:3"), ("B:2", "C:3")}


def test_category_rewrite(spark):
    df = spark.createDataFrame(
        [("biolink:OntologyClass",), ("biolink:Gene",)], "category string"
    )
    got = sorted(r["category"] for r in rewrite_category(df).collect())
    assert got == ["biolink:Gene", "biolink:NamedThing"]


def test_edges_and_nodes_schema(spark, onto):
    tid1, tid2 = onto.terms[0]["id"], onto.terms[1]["id"]
    m = _mentions(spark, [("c1", 0, tid1), ("c1", 0, tid2)])
    edges = build_edges(m, onto)
    assert edges.columns == ["subject", "predicate", "object", "relation", "knowledge_source"]
    nodes = build_nodes(m, onto)
    assert nodes.columns == ["id", "category", "name", "description", "provided_by", "properties"]
    rows = nodes.collect()
    assert all(r["category"] == "biolink:NamedThing" for r in rows)  # P4 applied
    assert all(r["provided_by"] == onto.knowledge_source for r in rows)
    e = edges.filter(F.col("relation") == "co_mentioned_with").first()
    assert e["knowledge_source"] == onto.knowledge_source
    assert e["subject"] < e["object"]


def test_kgx_targz_roundtrip(spark, onto, tmp_path):
    tid1, tid2 = onto.terms[0]["id"], onto.terms[1]["id"]
    m = _mentions(spark, [("c1", 0, tid1), ("c1", 0, tid2)])
    nodes, edges = build_nodes(m, onto), build_edges(m, onto)
    tar = export_kgx_targz(nodes, edges, "synth", str(tmp_path))
    np, ep = decompress_kgx_targz(tar, str(tmp_path / "out"))
    rn = read_kgx_tsv(spark, np)
    re_ = read_kgx_tsv(spark, ep)
    assert rn.count() == nodes.count()
    assert re_.count() == edges.count()
    assert re_.columns == ["subject", "predicate", "object", "relation", "knowledge_source"]
    # flattened dynamic property columns present (map tail exported as columns)
    assert {"iri", "synonym", "prefix"} <= set(rn.columns)


def test_obojson_export(spark, onto, tmp_path):
    tid1, tid2 = onto.terms[0]["id"], onto.terms[1]["id"]
    m = _mentions(spark, [("c1", 0, tid1), ("c1", 0, tid2)])
    root = write_obojson(build_nodes(m, onto), build_edges(m, onto), "synth", str(tmp_path))
    nodes = spark.read.json(f"{root}/nodes")
    edges = spark.read.json(f"{root}/edges")
    assert {"id", "lbl", "type", "meta"} <= set(nodes.columns)
    assert {"sub", "pred", "obj"} == set(edges.columns)
    assert nodes.count() == 2


def test_co_mention_weights_exact_lift(spark):
    """Hand-computed counts and fixed-point lift; term counts arrive via
    broadcast joins, never a shuffled join of the pair frame."""
    from kg_obo_spark.operators.materialize import co_mention_weights

    rows = [  # (conv, turn, term): 4 turns with mentions
        ("c0", 0, "X"), ("c0", 0, "Y"),
        ("c0", 1, "X"), ("c0", 1, "Y"), ("c0", 1, "Z"),
        ("c1", 0, "X"),
        ("c1", 1, "Y"), ("c1", 1, "Z"),
    ]
    m = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, term_id string"
    )
    out = {(r.a, r.b): r for r in co_mention_weights(m).collect()}
    # N=4, n_X=3, n_Y=3, n_Z=2; n_XY=2, n_XZ=1, n_YZ=2
    assert set(out) == {("X", "Y"), ("X", "Z"), ("Y", "Z")}
    xy = out[("X", "Y")]
    assert (xy.n_ab, xy.n_a, xy.n_b, xy.n_turns) == (2, 3, 3, 4)
    assert xy.lift_e6 == (1_000_000 * 2 * 4) // (3 * 3)  # 888888
    yz = out[("Y", "Z")]
    assert yz.lift_e6 == (1_000_000 * 2 * 4) // (3 * 2)  # 1333333 > 1e6: attract
    xz = out[("X", "Z")]
    assert xz.lift_e6 == (1_000_000 * 1 * 4) // (3 * 2)  # 666666 < 1e6: repel

    df = co_mention_weights(m)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_co_mention_batch_rows_and_registry_kg(spark, onto):
    """One batch's registry rows are its distinct mentioned ids (b NULL) and
    its distinct a < b pairs; the KG built from two batches' rows equals the
    batch build over the whole input, including an is_a edge whose endpoints
    were mentioned in different batches."""
    from kg_obo_spark.operators.extract import extract_mentions, extract_turn_terms
    from kg_obo_spark.operators.materialize import co_mention_batch, kg_from_registry

    by_id = {t["id"]: t for t in onto.terms}
    child, parent = onto.is_a[0]
    schema = "conv_id string, turn_idx int, text string"
    b1 = spark.createDataFrame(
        [("c0", 0, f"{by_id[child]['name']} with BFO:0000001"),
         ("c0", 1, f"again {by_id[child]['name']} and BFO:0000001"),
         ("c1", 0, "no terms in here")],
        schema,
    )
    b2 = spark.createDataFrame([("c2", 0, f"the {by_id[parent]['name']}")], schema)

    rows = co_mention_batch(b1, onto).collect()
    terms = [r["terms"] for r in extract_turn_terms(b1, onto).collect()]
    assert len(rows) == len(set(rows))
    assert {r["a"] for r in rows if r["b"] is None} == {t for ts in terms for t in ts}
    assert {(r["a"], r["b"]) for r in rows if r["b"] is not None} == {
        (a, b) for ts in terms for i, a in enumerate(ts) for b in ts[i + 1 :]
    }

    registry = co_mention_batch(b1, onto).unionByName(co_mention_batch(b2, onto))
    nodes, edges = kg_from_registry(registry, onto)
    whole = b1.unionByName(b2)
    want = build_edges(extract_mentions(whole, onto), onto)
    assert sorted(edges.collect()) == sorted(want.collect())
    assert (child, "biolink:subclass_of", parent) in {
        (r["subject"], r["predicate"], r["object"]) for r in edges.collect()
    }
    assert set(nodes[0].column("id").to_pylist()) == {
        r["term_id"] for r in extract_mentions(whole, onto).collect()
    }


def _spark_built_nodes(mentions, onto):
    """The node frame earlier versions built and committed with Spark: a
    broadcast join of the mentioned ids against a dictionary frame, then
    defaults and the P4 category rewrite as column expressions."""
    from kg_obo_spark.session import local_frame

    dict_df = local_frame(
        mentions.sparkSession,
        [
            (t["id"], t["category"], t["name"], "", t["iri"], "|".join(t["synonyms"]), t["prefix"])
            for t in onto.terms
        ],
        "id string, category string, name string, description string, "
        "iri string, synonyms string, prefix string",
    )
    mentioned = mentions.select(F.col("term_id").alias("id")).distinct()
    nodes = mentioned.join(F.broadcast(dict_df), "id", "left").select(
        "id",
        F.coalesce("category", F.lit("biolink:NamedThing")).alias("category"),
        F.coalesce("name", F.lit("")).alias("name"),
        F.coalesce("description", F.lit("")).alias("description"),
        F.lit(onto.knowledge_source).alias("provided_by"),
        F.map_from_arrays(
            F.array(F.lit("iri"), F.lit("synonym"), F.lit("prefix")),
            F.array(
                F.coalesce("iri", F.lit("")),
                F.coalesce("synonyms", F.lit("")),
                F.coalesce("prefix", F.lit("")),
            ),
        ).alias("properties"),
    )
    return rewrite_category(nodes)


def test_node_rows_are_one_definition_for_both_node_builders(spark, onto, tmp_path):
    """``node_rows`` is the one definition of a KGX node row: exact rows
    (the ``properties`` key order, OntologyClass -> NamedThing, another
    category kept, defaults for an id the dictionary lacks), the schema
    ``build_nodes`` returns, and a committed finalize node snapshot that a
    Spark read gives with the rows and ``StructType`` of the Spark-built
    node frame earlier versions committed."""
    import dataclasses

    from kg_obo_spark.operators.materialize import NODE_SCHEMA, kg_from_registry, node_rows
    from kg_obo_spark.sources.tableio import Table

    t0, t1 = onto.terms[0], dict(onto.terms[1], category="biolink:Gene")
    small = dataclasses.replace(onto, terms=[t0, t1])
    ks = onto.knowledge_source
    assert t0["category"] == "biolink:OntologyClass"
    assert node_rows([t1["id"], "X:404", t0["id"]], small) == [
        (t1["id"], "biolink:Gene", t1["name"], "", ks,
         [("iri", t1["iri"]), ("synonym", "|".join(t1["synonyms"])), ("prefix", t1["prefix"])]),
        ("X:404", "biolink:NamedThing", "", "", ks, [("iri", ""), ("synonym", ""), ("prefix", "")]),
        (t0["id"], "biolink:NamedThing", t0["name"], "", ks,
         [("iri", t0["iri"]), ("synonym", "|".join(t0["synonyms"])), ("prefix", t0["prefix"])]),
    ]

    ids = [t0["id"], t1["id"], "X:404"]
    m = _mentions(spark, [("c1", 0, i) for i in ids] + [("c2", 0, t0["id"])])
    want = _spark_built_nodes(m, small)
    built = build_nodes(m, small)
    assert built.schema == want.schema == NODE_SCHEMA
    assert sorted(built.collect()) == sorted(want.collect())

    registry = spark.createDataFrame(
        [(i, None) for i in ids] + [(t0["id"], t1["id"])], "a string, b string"
    )
    driver, spark_written = Table(str(tmp_path / "driver")), Table(str(tmp_path / "spark"))
    driver.commit(kg_from_registry(registry, small)[0])
    spark_written.commit(want)
    assert driver.latest().meta["read_schema"] == spark_written.latest().meta["read_schema"]
    got, ref = driver.read(spark), spark_written.read(spark)
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())
    assert [list(r["properties"]) for r in got.collect()] == [["iri", "synonym", "prefix"]] * 3
