"""kg_obo_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Reproduces the computational semantics of Knowledge-Graph-Hub/kg-obo (reference at
/root/reference, read-only) as idiomatic Spark DataFrame / Arrow-vectorized dataflow
over a table of multi-turn transcripts:

    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)
        -> mentions -> linked entities -> canonical entities
        -> KGX node/edge tables + OBO-JSON-equivalent + graph stats,

with tracking / lock / lineage handled as atomic snapshot tables (Iceberg-style
semantics over Parquet directories when no Iceberg runtime jar is present).

Nothing in this package is a port of the reference's subprocess orchestration; the
reference is cited in docstrings only to pin down WHAT is computed (schemas,
normalization rules, stats, resume semantics).
"""

from kg_obo_spark import pyworker

__version__ = "0.1.0"

# Stat-guard zip-import invalidation in PySpark workers; no-op on the driver.
pyworker.install_if_worker()
