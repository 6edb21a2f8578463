"""Streaming variant of the flagship dataflow: micro-batched fused extraction
with incremental commits must reproduce the batch edge table — including
is_a edges whose endpoints were first mentioned in DIFFERENT micro-batches."""

from datetime import datetime

from kg_obo_spark.datagen.ontology import build_ontology
from kg_obo_spark.datagen.transcripts import SCHEMA
from kg_obo_spark.operators.extract import extract_mentions
from kg_obo_spark.operators.materialize import build_edges
from kg_obo_spark.streaming.pipeline import read_kg_edges, start_kg_pipeline_stream


def _turn(conv, idx, text):
    return (conv, idx, "user", text, "", datetime(2026, 1, 1, 0, 0, idx))


def test_streaming_pipeline_equals_batch(spark, tmp_path):
    onto = build_ontology()
    by_id = {t["id"]: t for t in onto.terms}
    child, parent = onto.is_a[0]  # is_a edge: child -> parent
    # three files = three micro-batches; the is_a endpoints are mentioned in
    # DIFFERENT batches (batch 0 mentions child, batch 2 mentions parent)
    batches = [
        [_turn("c0", 0, f"we saw {by_id[child]['name']} and BFO:0000001 here")],
        [_turn("c1", 0, "nothing relevant in this turn at all")],
        [_turn("c2", 0, f"later the {by_id[parent]['name']} appeared with cellular unity")],
    ]
    src = str(tmp_path / "stream_src")
    for b in batches:
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.format("parquet")
        .schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = start_kg_pipeline_stream(stream, onto, str(tmp_path / "out"), str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    got = {
        (r["subject"], r["predicate"], r["object"])
        for r in read_kg_edges(spark, str(tmp_path / "out"), onto).collect()
    }
    full = spark.createDataFrame([t for b in batches for t in b], SCHEMA)
    want = {
        (r["subject"], r["predicate"], r["object"])
        for r in build_edges(extract_mentions(full, onto), onto).collect()
    }
    assert got == want
    # the cross-batch is_a edge is the part a naive per-batch isa would miss
    assert (child, "biolink:subclass_of", parent) in got


def test_streaming_pipeline_crash_after_commit_replays_cleanly(spark, tmp_path):
    """Crash AFTER the micro-batch's one commit, before the stream records
    the epoch: the replayed epoch finds its tag and commits nothing, so the
    table keeps one snapshot and the edges equal the batch edges."""
    from kg_obo_spark.sources.tableio import Table
    from kg_obo_spark.streaming import pipeline as sp

    onto = build_ontology()
    by_id = {t["id"]: t for t in onto.terms}
    child, parent = onto.is_a[0]
    rows = [_turn("c0", 0, f"{by_id[child]['name']} near {by_id[parent]['name']}")]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)

    # first run: crash the sink right after its commit landed
    orig_commit = Table.commit
    def exploding_commit(self, *a, **k):
        orig_commit(self, *a, **k)
        raise RuntimeError("injected crash after commit")
    Table.commit = exploding_commit
    try:
        stream = (spark.readStream.format("parquet").schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).load(src))
        q = sp.start_kg_pipeline_stream(stream, onto, str(tmp_path / "o"), str(tmp_path / "ck"))
        try:
            q.processAllAvailable()
        except Exception:
            pass
        q.stop()
    finally:
        Table.commit = orig_commit
    table = Table(str(tmp_path / "o" / "co_edges"))
    assert len(table.snapshots()) == 1

    # replay (fresh checkpoint simulates source replay of the same epoch)
    stream = (spark.readStream.format("parquet").schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).load(src))
    q = sp.start_kg_pipeline_stream(stream, onto, str(tmp_path / "o"), str(tmp_path / "ck2"))
    q.processAllAvailable()
    q.stop()
    got = {(r["subject"], r["predicate"], r["object"])
           for r in sp.read_kg_edges(spark, str(tmp_path / "o"), onto).collect()}
    full = spark.createDataFrame(rows, SCHEMA)
    want = {(r["subject"], r["predicate"], r["object"])
            for r in build_edges(extract_mentions(full, onto), onto).collect()}
    assert got == want
    # the replay committed nothing: still the one snapshot
    assert len(table.snapshots()) == 1
