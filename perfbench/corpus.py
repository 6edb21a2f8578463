"""Seeded benchmark inputs and the reference triple sets.

Corpora are written with the library's own generator
(``datagen.transcripts.write_transcripts``): the same (seed, size) always
gives the same parquet. The non-ASCII variant is made here, not by the
library: the rows of ``generate_transcripts`` (which write_transcripts
wraps) get one accented, term-free sentence appended to about 0.1% of turns,
chosen by a hash of (seed, conv_id, turn_idx), and are written in
write_transcripts' file layout, so the variant and its ASCII twin differ in
those turns only. The program under test only ever sees the parquet.

A workload corpus is generated afresh in every run, never reused: the timed
``run_pipeline`` call is the first in its JVM, and generation's Spark jobs
warm that JVM, so a reused corpus would time a colder process than a fresh
one. Only the oracle gate's result is cached, keyed by a hash of the code it
runs: the oracle is slow, and the gate depends on nothing else.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

from pyspark.sql import functions as F

N_TERMS = 5000
SENTENCES = (2, 6)
# term-free: no dictionary word, no digit, so no CURIE/IRI shape either
ACCENTED = [
    "Voilà, c'est déjà vérifié.",
    "Última revisión completada.",
    "Größere Änderungen folgen später.",
    "Ça marche très bien.",
]
ORACLE_CONVS = 200
ORACLE_SEED = 0
ORACLE_NON_ASCII_PER_MILLE = 50  # dense enough that the sample surely has some
# write_transcripts' default for small corpora (>= 64, a multiple of 4 cores);
# pinned so every size and both variants of a corpus share one file layout
FILES = 64


def _write_base(spark, path: str, n_convs: int, seed: int, onto, files: int = FILES) -> None:
    from kg_obo_spark.datagen.transcripts import write_transcripts

    write_transcripts(
        spark, path, n_convs=n_convs, seed=seed, num_files=files,
        ontology=onto, sentences_range=SENTENCES,
    )


def inject_non_ascii(df, seed: int, per_mille: int):
    """Append one accented sentence to ~per_mille/1000 of the turns."""
    h = F.xxhash64(F.lit(seed), F.col("conv_id"), F.col("turn_idx"))
    pick = F.pmod(h, F.lit(1000)) < per_mille
    sentence = F.element_at(
        F.array(*[F.lit(s) for s in ACCENTED]),
        (F.pmod(F.shiftright(h, 10), F.lit(len(ACCENTED))) + 1).cast("int"),
    )
    return df.withColumn(
        "text", F.when(pick, F.concat_ws(" ", "text", sentence)).otherwise(F.col("text"))
    )


def _write_injected(
    spark, path: str, n_convs: int, seed: int, onto, per_mille: int, files: int = FILES
) -> None:
    """The rows write_transcripts would write, with the non-ASCII sentences
    injected, in write_transcripts' file layout: one pass, no ASCII copy."""
    from kg_obo_spark.datagen.transcripts import generate_transcripts

    df = generate_transcripts(
        spark, n_convs=n_convs, seed=seed, ontology=onto, sentences_range=SENTENCES
    )
    inject_non_ascii(df, seed, per_mille).repartition(files, "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    ).write.mode("overwrite").parquet(path)


def corpus(
    spark, out: str, onto, n_convs: int, seed: int, per_mille: int, twin: bool
) -> tuple[str | None, str]:
    """Write the workload corpus under ``out``; returns (path of its ASCII
    twin, path of the corpus). An all-ASCII corpus is its own twin. The twin
    of a non-ASCII corpus is written only when ``twin`` is set, else None."""
    base = os.path.join(out, f"base-s{seed}-c{n_convs}-t{N_TERMS}")
    if not per_mille or twin:
        _write_base(spark, base, n_convs, seed, onto)
    if not per_mille:
        return base, base
    inj = os.path.join(out, f"nonascii{per_mille}-s{seed}-c{n_convs}-t{N_TERMS}")
    _write_injected(spark, inj, n_convs, seed, onto, per_mille)
    return (base if twin else None), inj


def stats(spark, path: str) -> dict:
    """Turns, text bytes, parquet files and non-ASCII share of a corpus."""
    row = spark.read.parquet(path).agg(
        F.count("*").alias("turns"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
        F.sum(F.col("text").rlike("[^\\x00-\\x7F]").cast("int")).alias("non_ascii"),
    ).first()
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return {
        "turns": row["turns"],
        "text_bytes": row["text_bytes"],
        "files": len(files),
        "file_bytes": sum(os.path.getsize(os.path.join(path, f)) for f in files),
        "non_ascii_share": row["non_ascii"] / max(1, row["turns"]),
    }


def canon_dict(spark, onto) -> dict[str, str]:
    from kg_obo_spark.operators.canonicalize import canonical_map

    eq = spark.createDataFrame(onto.xrefs, "a string, b string")
    terms = spark.createDataFrame([(t["id"],) for t in onto.terms], "id string")
    return {r["term_id"]: r["canonical_id"] for r in canonical_map(terms, eq).collect()}


def dataflow(tr, onto, cdict):
    """The stripped dataflow frozen bench.py times: fused scan -> edges."""
    from kg_obo_spark.operators.extract import extract_turn_terms
    from kg_obo_spark.operators.materialize import edges_from_per_turn

    pt = extract_turn_terms(tr, onto, cdict)
    return pt, edges_from_per_turn(pt, onto)


EDGE_COLS = ["subject", "predicate", "object", "relation", "knowledge_source"]


def rows(df, cols: list[str]) -> set:
    t = df.select(*cols).toArrow()
    return set(zip(*[t.column(c).to_pylist() for c in cols]))


def reference(spark, path: str, onto, cdict) -> tuple[set, set]:
    """(edge 5-tuples, node ids) of the stripped dataflow over a corpus."""
    pt, edges = dataflow(spark.read.parquet(path), onto, cdict)
    pt.persist()
    try:
        nodes = {r[0] for r in rows(pt.select(F.explode("terms").alias("id")), ["id"])}
        return rows(edges, EDGE_COLS), nodes
    finally:
        pt.unpersist()


def oracle_gate(spark, cache: str, onto, cdict) -> dict:
    """Check the stripped dataflow, which builds every reference, against the
    pure-Python oracle on a fixed 200-conversation sample with non-ASCII
    turns: (precision, recall) must be (1.0, 1.0). The result depends on
    nothing but the code it runs, and the oracle is slow, so it is cached
    under ``cache`` by a hash of that code: the first run of each code state
    computes it (~25 s), later runs read it."""
    from kg_obo_spark.oracle.pyoracle import oracle_triples, precision_recall

    done = os.path.join(
        cache, f"oracle-gate-c{ORACLE_CONVS}-s{ORACLE_SEED}-{code_key()}.json"
    )
    if not os.path.exists(done):
        path = os.path.join(cache, f"oracle-sample-c{ORACLE_CONVS}-s{ORACLE_SEED}")
        _write_injected(
            spark, path, ORACLE_CONVS, ORACLE_SEED, onto, ORACLE_NON_ASCII_PER_MILLE, files=4
        )
        sample = sorted(rows(spark.read.parquet(path), ["conv_id", "turn_idx", "text"]))
        got = triples(dataflow(spark.read.parquet(path), onto, cdict)[1])
        body = {
            "turns": len(sample),
            "non_ascii_turns": sum(any(ord(c) > 127 for c in t[2]) for t in sample),
            "dataflow_pr": precision_recall(got, oracle_triples(sample, onto)),
        }
        shutil.rmtree(path)
        with open(done + ".tmp", "w") as f:
            json.dump(body, f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        body = json.load(f)
    body["dataflow_pr"] = tuple(body["dataflow_pr"])
    return body


def code_key() -> str:
    """Hash of every source file the oracle gate runs: the imported
    ``kg_obo_spark`` package, as it is on disk (uncommitted edits included),
    and this module, which writes the sample."""
    import kg_obo_spark

    lib = os.path.dirname(os.path.abspath(kg_obo_spark.__file__))
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(lib, "**", "*.py"), recursive=True)) + [
        os.path.abspath(__file__)
    ]:
        h.update(os.path.relpath(p, os.path.dirname(lib)).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def triples(edges) -> set:
    return {e[:3] for e in rows(edges, EDGE_COLS)}
