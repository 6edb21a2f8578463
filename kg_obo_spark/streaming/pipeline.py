"""Streaming variant of the flagship KG-construction dataflow.

The batch pipeline (plans/pipeline.py) splits work into conv-local increments
(one registry commit per unit batch) plus one global finalize (nodes and
is_a edges over ALL mentioned terms). This module is the same split under
Structured Streaming, with the same two functions:

- per micro-batch: :func:`~kg_obo_spark.operators.materialize.co_mention_batch`
  (fused Arrow scan -> mentioned ids + co-mention pairs, one distinct) and
  one append commit of its rows to ``co_edges``, tagged with the epoch, so a
  replayed micro-batch is a no-op (exactly-once, like ingest.py).
- at read time (:func:`read_kg_edges`):
  :func:`~kg_obo_spark.operators.materialize.kg_from_registry` over the
  accumulated rows — co edges = distinct over the appended pairs; is_a edges
  come from the ACCUMULATED mentioned ids, crucially NOT per batch: an is_a
  edge whose endpoints were first mentioned in different micro-batches exists
  in the final graph (pinned by test against the batch `build_edges` on the
  full corpus).

Work per trigger is bounded by the micro-batch (the scan is map-only; the
distinct is batch-local); the only accumulated state is the registry, bounded
by the dictionary. Unlike ``run_pipeline``, whose pending-unit lookup over
lineage runs Spark jobs, the stream has no lookup of its own: its checkpoint
names the next epoch, and a replayed epoch's tag check is a file stat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kg_obo_spark.datagen.ontology import Ontology
from kg_obo_spark.operators.materialize import co_mention_batch, kg_from_registry
from kg_obo_spark.sources.tableio import Table


def start_kg_pipeline_stream(
    transcripts_stream: DataFrame,
    onto: Ontology,
    out_root: str,
    checkpoint_dir: str,
    canon: dict[str, str] | None = None,
) -> StreamingQuery:
    """Run the per-batch body continuously; each micro-batch is one commit,
    idempotent on its epoch id."""
    co_edges_t = Table(f"{out_root}/co_edges")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        co_edges_t.commit(
            co_mention_batch(batch_df, onto, canon),
            mode="append",
            if_absent_tag=f"epoch-{epoch_id}",
        )

    return (
        transcripts_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_kg_edges(spark: SparkSession, out_root: str, onto: Ontology) -> DataFrame:
    """The full KGX edge table from the streaming commits: distinct co-mention
    edges + is_a edges over the ACCUMULATED mentioned ids. Equals the batch
    `build_edges` over all streamed turns (pinned by test)."""
    return kg_from_registry(Table(f"{out_root}/co_edges").read(spark), onto)[1]
