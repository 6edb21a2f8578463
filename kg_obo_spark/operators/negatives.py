"""Negative sampling over KG edge tables — training-data generation for
knowledge-graph embedding models.

The reference pipeline materializes positive triples (kg_obo/transform.py
emits KGX nodes/edges); every KG-embedding trainer (TransE and successors —
Bordes et al. 2013's corrupted-triples protocol) then needs NEGATIVES: for
each positive edge, corrupted variants guaranteed absent from the graph.
At corpus scale this is a dataflow problem — the "guaranteed absent" check
is a membership test against the full edge set — so it belongs in the
engine next to the edge materialization, not in the trainer.

Determinism discipline: corruption targets come from the md5-bucket pattern
(operators/sampling.py) — ``bucket(md5(f"{seed}:{s}:{o}:{j}")) mod
n_nodes`` — no RNG state, identical on any partitioning and in the DuckDB
oracle. The FILTERED protocol (drop corruptions colliding with any true
edge) makes negatives strictly false; collided slots are DROPPED, not
resampled — the collision rate is ~out-degree/n_nodes, so at KG scale the
loss is negligible and callers needing exactly ``n_neg`` oversample by one
slot. (A resampling loop would be a data-dependent number of passes; a
fixed slot count is one.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["negative_samples", "corrupt_edges", "filter_corruptions"]


def negative_samples(
    edges: DataFrame,
    n_nodes: int,
    n_neg: int = 2,
    seed: int = 7,
) -> DataFrame:
    """(src, dst_neg, slot): ``n_neg`` deterministic tail-corrupted negatives
    per distinct positive edge, in the FILTERED setting — a corruption is
    kept only if it is a real non-edge (not any true (src, dst) and not the
    self-loop (src, src)).

    ``edges``: first two columns positionally (src, dst); duplicates and
    self-loops dropped. ``n_nodes``: the id-space size — corruption targets
    are ``mod n_nodes`` buckets of the md5 stream, so node ids are assumed
    dense 0..n_nodes-1 (the KGX export's canonical integer ids; remap
    first otherwise).

    100 TB shape: slot fan-out is a map-side explode (output ≤ n_neg x
    edges); the filter is ONE hash anti-join of the candidates against the
    edge table on (src, dst) — the inherent exchange, since "absent from
    the graph" IS edge-set membership. Nothing collects; no RNG.
    """
    if n_neg < 1:
        raise ValueError(f"n_neg must be >= 1, got {n_neg}")
    if n_nodes < 2:
        raise ValueError(f"n_nodes must be >= 2, got {n_nodes}")
    src, dst = edges.columns[:2]
    ed = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return filter_corruptions(corrupt_edges(ed, n_nodes, n_neg, seed), ed)


def corrupt_edges(
    ed: DataFrame, n_nodes: int, n_neg: int, seed: int
) -> DataFrame:
    """(src, dst, slot, dst_neg): the deterministic md5-bucket corruption
    stream for normalized (src, dst) edges — map-side only (explode +
    codegen md5 projection), before the collision filter."""
    cand = ed.select(
        "src",
        "dst",
        F.explode(F.sequence(F.lit(0), F.lit(int(n_neg) - 1))).alias("_slot"),
    ).select(
        "src",
        "dst",
        F.col("_slot").cast("long").alias("slot"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(str(int(seed))),
                            F.col("src").cast("string"),
                            F.col("dst").cast("string"),
                            F.col("_slot").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(int(n_nodes))
        ).alias("dst_neg"),
    )
    return cand


def filter_corruptions(cand: DataFrame, true_edges: DataFrame) -> DataFrame:
    """The FILTERED setting: drop self-loop corruptions and any corruption
    colliding with a true (src, dst) edge — one hash anti-join."""
    return (
        cand.filter(F.col("dst_neg") != F.col("src"))
        .join(
            true_edges.select("src", F.col("dst").alias("dst_neg")),
            ["src", "dst_neg"],
            "left_anti",
        )
        .select("src", "dst_neg", "slot")
    )
