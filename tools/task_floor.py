"""Fixed per-task cost of a Python worker task next to a JVM-only task.

Usage, from the repository root:

    python3 tools/task_floor.py [--partitions 1,4,16,64] [--reps 3] [--cpus N]
    python3 tools/task_floor.py --local-rows [--reps 15] [--cpus N]

For each partition count N it runs, ``--reps`` times after one warm-up:

- ``arrow``: ``mapInArrow`` over ``spark.range(N, numPartitions=N)`` with a
  function that does no work. Like every library closure it imports
  ``kg_obo_spark`` in the worker, and it returns one summary row per task.
- ``jvm``: the same range written to the ``noop`` sink, which never starts
  a Python worker.

It prints the median ``executorRunTime`` of each stage's tasks (from Spark's
status store), the median stage wall time, and what the Arrow tasks saw in
their worker: the zipimporters in ``sys.path_importer_cache``, the archives
they cover, and whether ``kg_obo_spark.pyworker``'s guard was installed.

``--local-rows`` runs another leg instead: a two-row, commit-shaped write
(``LINEAGE_SCHEMA`` rows appended as parquet to a fresh directory) whose frame
is built both ways, in alternating order, ``--reps`` times after one warm-up:

- ``local list``: ``spark.createDataFrame(<list>)``, a pickled Python RDD whose
  scan runs Python tasks;
- ``arrow``: ``kg_obo_spark.session.local_frame``, a JVM ``LocalTableScan``.

For each it prints the median ``executorRunTime`` of the write's tasks, the
median wall time of the build plus write, and the tasks per write.

Then it times the same two rows committed as one lineage snapshot
(``Table.commit`` append to a fresh table) through each of the commit's data
writers, alternating, ``--reps`` times after one warm-up:

- ``spark``: a ``local_frame`` written by Spark (a parquet write job);
- ``driver``: ``session.arrow_rows`` written by ``pyarrow.parquet`` on the
  driver (no job).

For each it prints the median wall time of the commit and the Spark tasks
per commit.
"""

from __future__ import annotations

import argparse
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_probe(batches):
    """The no-work Arrow task: imports the library, drains its input, and
    reports on the worker's import machinery."""
    import os
    import sys
    import zipimport

    import pyarrow as pa

    import kg_obo_spark  # noqa: F401  (as every library closure does)

    for _ in batches:
        pass
    zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
    guard = sys.modules.get("kg_obo_spark.pyworker")  # absent before the guard existed
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()],
        "zipimporters": [len(zips)],
        "archives": [len({z.archive for z in zips})],
        "guarded": [
            guard is not None
            and zipimport.zipimporter.invalidate_caches is guard.guarded_invalidate_caches
        ],
    })


def task_run_times(sc, group: str) -> list[float]:
    """executorRunTime (s) of every task of every job in ``group``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        for stage in sc.statusTracker().getJobInfo(job).stageIds:
            attempt = store.lastStageAttempt(stage)
            tasks = store.taskList(stage, attempt.attemptId(), 1 << 20)
            for k in range(tasks.size()):
                m = tasks.apply(k).taskMetrics()
                if m.isDefined():
                    out.append(m.get().executorRunTime() / 1000)
    return out


def timed(sc, action) -> tuple[float, list[float], object]:
    group = f"task-floor-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        result = action()
    finally:
        sc._jsc.clearJobGroup()
    return time.perf_counter() - t0, task_run_times(sc, group), result


def local_rows_leg(spark, reps: int) -> None:
    """Time a two-row lineage-shaped parquet append, its frame built from a
    local list and from Arrow."""
    from datetime import datetime, timezone

    from kg_obo_spark.plans.tracking import LINEAGE_SCHEMA
    from kg_obo_spark.session import local_frame

    sc = spark.sparkContext
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    rows = [("run", "unit_done", -1, 0, 0, 0, str(u), now) for u in range(2)]
    builds = {
        "local list": lambda: spark.createDataFrame(rows, LINEAGE_SCHEMA),
        "arrow": lambda: local_frame(spark, rows, LINEAGE_SCHEMA),
    }
    got = {name: {"wall": [], "task": [], "tasks": []} for name in builds}
    out = tempfile.mkdtemp(prefix="task_floor_")
    try:
        for rep in range(reps + 1):
            order = list(builds) if rep % 2 else list(builds)[::-1]
            for name in order:
                path = os.path.join(out, uuid.uuid4().hex)
                wall, tasks, _ = timed(
                    sc, lambda: builds[name]().write.mode("append").parquet(path)
                )
                if rep:  # rep 0 starts the workers
                    got[name]["wall"].append(wall)
                    got[name]["task"] += tasks
                    got[name]["tasks"].append(len(tasks))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(f"{'frame':>10}  {'task ms':>8}  {'write s':>8}  {'tasks':>5}")
    for name, g in got.items():
        print(
            f"{name:>10}  {1000 * statistics.median(g['task']):>8.1f}  "
            f"{statistics.median(g['wall']):>8.3f}  "
            f"{statistics.median(g['tasks']):>5g}"
        )
    commit_leg(spark, rows, reps)


def commit_leg(spark, rows: list[tuple], reps: int) -> None:
    """Time ``rows`` committed as one lineage snapshot through each of
    ``Table.commit``'s data writers."""
    from kg_obo_spark.plans.tracking import LINEAGE_SCHEMA
    from kg_obo_spark.session import arrow_rows, local_frame
    from kg_obo_spark.sources.tableio import Table

    sc = spark.sparkContext
    writers = {
        "spark": lambda: local_frame(spark, rows, LINEAGE_SCHEMA),
        "driver": lambda: arrow_rows(rows, LINEAGE_SCHEMA),
    }
    got = {name: {"wall": [], "tasks": []} for name in writers}
    out = tempfile.mkdtemp(prefix="task_floor_")
    try:
        for rep in range(reps + 1):
            order = list(writers) if rep % 2 else list(writers)[::-1]
            for name in order:
                table = Table(os.path.join(out, uuid.uuid4().hex))
                wall, tasks, _ = timed(
                    sc, lambda: table.commit(writers[name](), mode="append")
                )
                if rep:  # rep 0 warms both writers
                    got[name]["wall"].append(wall)
                    got[name]["tasks"].append(len(tasks))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(f"{'writer':>10}  {'commit s':>8}  {'tasks':>5}")
    for name, g in got.items():
        print(
            f"{name:>10}  {statistics.median(g['wall']):>8.4f}  "
            f"{statistics.median(g['tasks']):>5g}"
        )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--partitions", default="1,4,16,64")
    ap.add_argument(
        "--reps", type=int, default=None,
        help="timed repetitions after one warm-up (default 3; 15 with --local-rows)",
    )
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument(
        "--local-rows", action="store_true",
        help="time a two-row commit-shaped write built both ways instead",
    )
    args = ap.parse_args()

    # workers import kg_obo_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    import pyspark

    from kg_obo_spark.session import get_spark

    spark = get_spark(app_name="task_floor", master=f"local[{args.cpus}]")
    sc = spark.sparkContext
    schema = "pid long, zipimporters long, archives long, guarded boolean"
    print(f"# {args.cpus} cpus, Python {platform.python_version()}, PySpark {pyspark.__version__}")
    if args.local_rows:
        try:
            local_rows_leg(spark, args.reps or 15)
        finally:
            spark.stop()
        return
    print(
        f"{'tasks':>5}  {'arrow task ms':>13}  {'jvm task ms':>11}  "
        f"{'arrow stage s':>13}  {'jvm stage s':>11}  {'zipimporters':>12}  "
        f"{'archives':>8}  guarded"
    )
    try:
        for n in (int(x) for x in args.partitions.split(",")):
            df = spark.range(0, n, numPartitions=n)
            arrow, jvm = {"wall": [], "task": []}, {"wall": [], "task": []}
            rows = []
            for rep in range((args.reps or 3) + 1):
                a_wall, a_tasks, got = timed(
                    sc, lambda: df.mapInArrow(worker_probe, schema).collect()
                )
                j_wall, j_tasks, _ = timed(
                    sc, lambda: df.write.format("noop").mode("overwrite").save()
                )
                if rep:  # rep 0 starts the workers
                    arrow["wall"].append(a_wall)
                    arrow["task"] += a_tasks
                    jvm["wall"].append(j_wall)
                    jvm["task"] += j_tasks
                    rows += got
            zi = statistics.median(r.zipimporters for r in rows)
            ar = statistics.median(r.archives for r in rows)
            guarded = sum(r.guarded for r in rows)
            print(
                f"{n:>5}  {1000 * statistics.median(arrow['task']):>13.1f}  "
                f"{1000 * statistics.median(jvm['task']):>11.1f}  "
                f"{statistics.median(arrow['wall']):>13.3f}  "
                f"{statistics.median(jvm['wall']):>11.3f}  {zi:>12g}  {ar:>8g}  "
                f"{guarded}/{len(rows)}"
            )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
