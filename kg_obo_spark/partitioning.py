"""Scale-adaptive scan parallelism.

A parquet table written as one (or a few) row groups yields at most that many
scan tasks no matter how small ``spark.sql.files.maxPartitionBytes`` is — a
row group is the unit of parquet reading. When such an input feeds a stage
with heavy per-row work (an Arrow/Python scan, a regex projection, a hash
fingerprint), the whole stage serializes onto a handful of cores while the
rest of the cluster idles: the "one huge unsplittable file" input-skew case
of the optimization playbook (guide §2.5), whose prescribed fix is to
repartition immediately after the read.

:func:`ensure_scan_parallelism` applies that fix *adaptively*: it is a no-op
whenever the input already carries at least ``defaultParallelism`` partitions
— i.e. at production scale, where a 100 TB table has thousands of splits,
no exchange is ever added. Only an underfilled scan (fewer splits than
cores) is spread, and then the bytes moved are bounded by the input itself,
which by construction is small relative to the per-row compute it feeds.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def ensure_scan_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin-repartition ``df`` to ``min_partitions`` (default: the
    session's ``defaultParallelism``) iff its current plan yields fewer
    partitions than that. Row content is unchanged; only placement moves —
    callers must be order-insensitive (every consumer here aggregates,
    distincts, or sorts downstream).

    The partition probe (``df.rdd.getNumPartitions()``) is driver-side
    planning only — it launches no job. A spread is logged at INFO on
    ``kg_obo_spark.partitioning`` (input -> target partitions); a no-op logs
    nothing."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if target <= 1:
        return df
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: planning quirk
        return df
    if current >= target:
        return df
    _log.info("scan spread: %d -> %d partitions", current, target)
    return df.repartition(target)
