"""Registry scan/filter — S1/P1 (retrieve_obofoundry_yaml,
/root/reference/kg_obo/transform.py:64-100).

The reference fetches the OBO Foundry YAML and filters it driver-side; here
the registry is a (small) DataFrame and the 3-way filter is relational, so the
same predicate composes with anti-joins against tracking for incremental runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg_obo_spark.session import local_frame

REGISTRY_SCHEMA = "id string, title string, is_obsolete boolean"


def registry_from_entries(spark: SparkSession, entries: list[dict]) -> DataFrame:
    """Build the registry frame from parsed YAML-like dicts (driver-side
    fetch/parse stays tiny; everything after is relational)."""
    rows = [
        (e.get("id"), e.get("title", ""), bool(e.get("is_obsolete", False)))
        for e in entries
    ]
    return local_frame(spark, rows, REGISTRY_SCHEMA)


def filter_registry(
    registry: DataFrame,
    skip: list[str] | None = None,
    get_only: list[str] | None = None,
) -> DataFrame:
    """Keep iff id not in skip, id in get_only (when given), and not obsolete
    (transform.py:79-98)."""
    out = registry.filter(~F.coalesce(F.col("is_obsolete"), F.lit(False)))
    if skip:
        out = out.filter(~F.col("id").isin(skip))
    if get_only:
        out = out.filter(F.col("id").isin(get_only))
    return out
