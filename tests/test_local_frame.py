"""``session.local_frame``: driver-side rows become a JVM ``LocalTableScan``
(built from Arrow), never a pickled Python RDD, with the same schema and rows
as ``createDataFrame(<list>)`` — and it is the only way the library builds
such a frame."""

import json
import os
import pathlib
import subprocess
import sys
import textwrap
from datetime import datetime, timezone

import pytest
from pyspark.sql.types import ArrayType, FloatType, IntegerType, StructField, StructType

from kg_obo_spark.plans.tracking import LINEAGE_SCHEMA, TRACKING_SCHEMA
from kg_obo_spark.session import local_frame

REPO = pathlib.Path(__file__).resolve().parents[1]
T0 = datetime(2026, 3, 8, 6, 30, 15, 123456, tzinfo=timezone.utc)

CASES = {
    "lineage": (
        [
            ("r1", "extract+link", -1, 10, 7, 0, "snap-1", T0),
            ("r1", "unit_done", 3, 0, 0, 2, None, None),
        ],
        LINEAGE_SCHEMA,
    ),
    "tracking": (
        [
            ("go", "urn:go", "v2", [("urn:go:1", "v1"), (None, "v0")]),
            ("hp", None, "v1", []),
            ("mp", "urn:mp", None, None),
        ],
        TRACKING_SCHEMA,
    ),
    "empty": ([], LINEAGE_SCHEMA),
    "nulls": ([(None, None), ("a", None)], "id string, n long"),
    "struct_type": (
        [(1, [0.5, 2.0]), (2, None)],
        StructType(
            [
                StructField("centroid_id", IntegerType(), False),
                StructField("centroid_vec", ArrayType(FloatType()), True),
            ]
        ),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_local_list_path_without_a_python_rdd(spark, case):
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan


def test_library_builds_driver_frames_only_through_local_frame():
    """One way to build a driver-side frame: ``createDataFrame(`` appears in
    the package only inside ``session.local_frame``."""
    pkg = REPO / "kg_obo_spark"
    hits = [
        f"{p.relative_to(REPO)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "session.py" or p.parent != pkg
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert hits == []
    assert (pkg / "session.py").read_text().count("createDataFrame(") == 1


def test_committed_at_is_the_true_utc_instant_under_a_non_utc_host_zone(tmp_path):
    """``tracking._now()`` is a naive UTC datetime; a committed lineage row
    must hold that instant, not the one the host's local zone would give it,
    whether Spark wrote it (a ``local_frame``) or the driver did
    (``commit_lineage``), and whether Spark or ``read_arrow`` reads it back.
    Runs in a subprocess so ``TZ`` takes effect for the whole interpreter."""
    script = textwrap.dedent(
        f"""
        import calendar, json
        from kg_obo_spark.session import get_spark, local_frame
        from kg_obo_spark.plans.tracking import LINEAGE_SCHEMA, TrackingStore, stage_rows

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        store = TrackingStore({str(tmp_path / "kg")!r})
        spark_rows = stage_rows("run", "spark", 1, 1)
        store.lineage.commit(local_frame(spark, spark_rows, LINEAGE_SCHEMA), mode="append")
        driver_rows = stage_rows("run", "driver", 1, 1)
        store.commit_lineage(spark, driver_rows)
        got = {{
            r["stage"]: r["s"]
            for r in store.lineage.read(spark).selectExpr(
                "stage", "cast(committed_at as long) AS s"
            ).collect()
        }}
        arrow = {{
            r["stage"]: calendar.timegm(r["committed_at"].utctimetuple())
            for r in store.lineage.read_arrow().to_pylist()
        }}
        want = {{
            rows[0][1]: calendar.timegm(rows[0][-1].timetuple())
            for rows in (spark_rows, driver_rows)
        }}
        print(json.dumps({{"got": got, "arrow": arrow, "want": want}}))
        spark.stop()
        """
    )
    env = dict(os.environ, TZ="America/New_York", PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["got"] == res["arrow"] == res["want"], res
