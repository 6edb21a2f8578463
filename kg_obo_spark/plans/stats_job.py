"""Analytics job over published graphs — the get_stats entry point analog.

Mirrors /root/reference/kg_obo/stats.py get_all_stats (stats.py:593-736):
tracking scan + flatten -> format fan-out -> per-graph aggregate stats ->
metadata enrichment joins -> version self-join outlier detection -> validation
merge -> dedup -> three TSV reports (stats, validation, comparison).

All stages are the DataFrame operators from operators/graph_stats.py; this
module is only the join/report wiring (J4/J5/J7, A12, A14, S7 in SURVEY §2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg_obo_spark.operators.graph_stats import (
    compare_versions,
    format_fanout,
    graph_stats,
)
from kg_obo_spark.session import local_frame
from kg_obo_spark.sources.kgx import write_tsv


def tracking_to_versions(tracking: DataFrame) -> DataFrame:
    """Flatten tracking rows into one (Name, Version) row per known version —
    current + archived (retrieve_tracking, stats.py:33-73)."""
    cur = tracking.select(
        F.col("source").alias("Name"), F.col("current_version").alias("Version")
    ).filter(F.col("Version") != "NA")
    arch = tracking.select(
        F.col("source").alias("Name"), F.explode_outer("archive").alias("a")
    ).select("Name", F.col("a.version").alias("Version")).filter(F.col("Version").isNotNull())
    return cur.unionByName(arch).distinct()


def run_stats_job(
    spark: SparkSession,
    tracking: DataFrame,
    graphs: dict[tuple[str, str], tuple[DataFrame, DataFrame]],
    sizes: dict[tuple[str, str, str], int],
    out_dir: str,
) -> dict[str, DataFrame]:
    """Compute the three reports.

    ``graphs``: {(name, version): (nodes_df, edges_df)} for graphs to measure.
    ``sizes``: {(name, version, format): artifact byte size} (the S3 metadata
    the reference pivots from list_objects, stats.py:151-191).
    Returns {"stats": df, "validation": df, "comparison": df}; also writes the
    TSV reports (write_stats semantics, stats.py:92-111,727-734).
    """
    versions = format_fanout(tracking_to_versions(tracking))

    # per-graph aggregates (A1-A6) -> rows keyed (Name, Version)
    detail_rows = []
    for (name, version), (nodes, edges) in sorted(graphs.items()):
        s = graph_stats(nodes, edges)
        detail_rows.append(
            (
                name, version, s.nodes, s.edges,
                s.connected_components[0], s.connected_components[1],
                s.connected_components[2], s.singletons, s.max_node_degree,
                s.mean_node_degree,
            )
        )
    details = local_frame(
        spark,
        detail_rows,
        "Name string, Version string, Nodes long, Edges long, CC_n long, "
        "CC_min long, CC_max long, Singletons long, MaxNodeDegree long, "
        "MeanNodeDegree string",
    )

    size_df = local_frame(
        spark,
        [(n, v, f, s) for (n, v, f), s in sorted(sizes.items())],
        "Name string, Version string, Format string, Size long",
    )

    # J5 enrichment: versions x formats + sizes + graph details
    stats = (
        versions.join(size_df, ["Name", "Version", "Format"], "left")
        .join(F.broadcast(details), ["Name", "Version"], "left")
        .na.fill({"Size": 0})
    )

    # P3 validation predicate (stats.py:362-374) + J7 merge
    validation = stats.select(
        "Name", "Version", "Format",
        F.when(
            F.col("Version").isin("release", "\n________") | F.col("Version").contains("%"),
            F.lit("invalid_version_name"),
        ).when(F.col("Size") == 0, F.lit("missing_artifact"))
        .otherwise(F.lit("ok"))
        .alias("issue"),
    )

    # J4 version self-join outlier detection
    comparison = compare_versions(
        stats.select("Name", "Version", "Format", "Size", "Nodes", "Edges").na.fill(
            {"Nodes": 0, "Edges": 0}
        )
    )

    # A12 dedup + S7 sinks
    stats = stats.dropDuplicates()
    os.makedirs(out_dir, exist_ok=True)
    write_tsv(stats.orderBy("Name", "Version", "Format"), os.path.join(out_dir, "stats.tsv"))
    write_tsv(validation.orderBy("Name", "Version", "Format"), os.path.join(out_dir, "validation.tsv"))
    write_tsv(comparison.orderBy("Name", "Version", "Format"), os.path.join(out_dir, "comparison.tsv"))
    return {"stats": stats, "validation": validation, "comparison": comparison}
