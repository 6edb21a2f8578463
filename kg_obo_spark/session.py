"""SparkSession factory tuned for this engine.

Local-mode defaults are sized for the sandbox (32 cores, 128 GiB); on a real
cluster the same builder args apply per-executor and AQE handles runtime
re-planning. All oracle-compared queries pin the session timezone to UTC so
Spark and DuckDB agree on timestamps.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def _sweep_dead_scratch(local_root: str) -> str:
    """Claim this process's tmpfs scratch subdir (``pid-<N>``) and remove
    siblings whose owner process is GONE — liveness via ``kill(pid, 0)``,
    never an mtime heuristic, so a long-running concurrent session can
    never lose live shuffle/blockmgr dirs to a newly starting one (r6
    ADVICE). Pre-PID-scheme (un-owned) entries are removed: any JVM still
    using one predates the ownership contract. Returns this session's
    scratch path. Unit-tested in tests/test_session_scratch.py."""
    import shutil

    os.makedirs(local_root, exist_ok=True)
    for entry in os.listdir(local_root):
        p = os.path.join(local_root, entry)
        try:
            owner = int(entry.rsplit("-", 1)[-1])
        except ValueError:
            shutil.rmtree(p, ignore_errors=True)
            continue
        try:
            os.kill(owner, 0)  # owner alive -> leave it alone
        except ProcessLookupError:
            shutil.rmtree(p, ignore_errors=True)
        except PermissionError:
            pass  # alive but other-uid: leave it alone
    scratch = os.path.join(local_root, f"pid-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    return scratch


def get_spark(
    app_name: str = "kg_obo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local parallelism — at cluster scale
    this should be ~2-3x total cores; AQE coalesces small partitions either way.
    """
    import tempfile

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    # warehouse + derby metastore kept out of the repo cwd; needed for the
    # bucketed-table layout (bucketBy/saveAsTable requires a metastore)
    warehouse = os.environ.get(
        "SPARK_GRAFT_WAREHOUSE",
        os.path.join(tempfile.gettempdir(), "kg_obo_spark_warehouse"),
    )
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpus
        inner = master.split("[")[-1].rstrip("]")
        shuffle_partitions = cpus if inner == "*" else int(inner)

    # Input split sizing (r8, guide §2.2/§6): the default 128 MB split +
    # 4 MB open-cost packs the bench's many-small-file parquet inputs into
    # FAR fewer scan tasks than cores (the 116 MB / 100-file transcripts
    # corpus planned as 4 splits — the flagship extraction scan then ran on
    # 4 of 32 cores). Local default 16 MB sizes splits so every multi-MB
    # input fans out to >= cores tasks; parquet row-group granularity still
    # bounds single-row-group files (see kg_obo_spark/partitioning.py for
    # that case). On a real cluster with TB-scale scans raise this back to
    # 512m-1g (fewer, larger map tasks feeding each shuffle — guide §2.2):
    # it is an env knob, not a constant.
    max_partition_bytes = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # NOTE: an oversized heap (48g) measurably HURTS here — G1 with 32
        # executor threads on a huge young gen adds seconds of GC latency to
        # every small shuffle (observed 4-15x on collect_set). 12g is plenty
        # for local benches; raise via SPARK_GRAFT_DRIVER_MEM only with data
        # that actually needs it.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Force the sort-based shuffle writer: the bypass-merge writer opens a
        # file per (map task, reduce partition) pair, which serializes on this
        # filesystem at high thread counts (measured 4-6x slowdown of warm
        # shuffles at local[32]). One sorted+indexed file per map task wins.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        # driver-side partition discovery up to 4096 dirs: above the 32-path
        # default Spark launches a distributed LISTING JOB per fresh read,
        # which dominates point lookups on the 1024-bucket registry snapshot
        # (measured 3.8 s -> 1.9 s for a spread 1000-id endpoint lookup).
        # Sequential listing of <=4096 dirs is ms-scale on local/HDFS
        # metadata; object-store deployments with slow LIST should lower it.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.sql.warehouse.dir", warehouse)
        .config(
            "spark.driver.extraJavaOptions", f"-Dderby.system.home={warehouse}"
        )
    )
    # Shuffle/spill scratch on tmpfs when available: shuffle-file creation on
    # the sandbox's ext4 /tmp serializes kernel-side (journal + dirty-page
    # writeback) once many threads/JVMs write concurrently — measured 2-3x on
    # 4 concurrent local[8] pipelines (7-9 s -> 3.6-4.3 s per worker,
    # BENCH/MULTIPROC_SCALING.md) and it was the root cause of the
    # long-attributed eff(8->32) collapse. tmpfs has no journal, so file
    # creation scales with cores. On a real cluster this is the standard
    # "put spark.local.dir on fast local disks/ramdisk" deployment knob;
    # SPARK_LOCAL_DIRS (standard Spark env) still takes precedence.
    #
    # Guardrails (r6 review, tightened r7): tmpfs bounds spill by RAM, so
    # (a) it is only chosen when the mount has headroom (>= 4 GiB free —
    # small local-mode shuffles, the benchmark corpus, and tests fit easily;
    # the check runs once at session start, so a job expecting corpus-scale
    # spill MUST set SPARK_LOCAL_DIRS to provisioned disks or export
    # SPARK_GRAFT_TMPFS_SCRATCH=0 — tmpfs ENOSPC mid-job is not recoverable),
    # and (b) each session gets its OWN scratch subdir named after the owning
    # driver PID; the sweep only removes subdirs whose owner process is gone
    # (liveness via kill(pid, 0)), never an mtime heuristic, so a
    # long-running concurrent session can never have live shuffle/blockmgr
    # dirs deleted out from under it by a newly starting one.
    if (
        "SPARK_LOCAL_DIRS" not in os.environ
        and os.environ.get("SPARK_GRAFT_TMPFS_SCRATCH", "1") != "0"
    ):
        shm = os.environ.get("SPARK_GRAFT_SHM_DIR", "/dev/shm")
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            import shutil

            if shutil.disk_usage(shm).free >= 4 << 30:
                scratch = _sweep_dead_scratch(
                    os.path.join(shm, "kg_obo_spark_local")
                )
                builder = builder.config("spark.local.dir", scratch)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_rows(rows: Iterable[tuple], schema: str | StructType) -> tuple:
    """``(pa.Table, StructType)`` of driver-side ``rows`` (tuples in
    ``schema`` order): the one way the library turns Python rows into Arrow.

    :func:`local_frame` hands the pair to Spark; ``Table.commit`` writes it
    as parquet on the driver. Naive datetimes are read as UTC instants
    (``pa.timestamp(tz="UTC")``), never in the host's local zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else _parse_ddl(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow)], schema=arrow
    )
    return table, struct


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in ``schema`` order),
    built from :func:`arrow_rows`.

    The one way the library turns a Python list into a frame. A local list
    handed to ``createDataFrame`` becomes a pickled Python RDD
    (``Scan ExistingRDD``), so every job that reads it runs Python tasks on
    a worker pool of their own; an Arrow table plans as a JVM
    ``LocalTableScan`` and runs none.
    """
    table, struct = arrow_rows(rows, schema)
    return spark.createDataFrame(table, struct)


# a DDL string parses in the JVM; the library's schemas are a fixed handful
_parse_ddl = functools.cache(_parse_datatype_string)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
