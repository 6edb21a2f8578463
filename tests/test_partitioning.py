import logging

from kg_obo_spark.partitioning import ensure_scan_parallelism


def _lib_records(caplog):
    return [
        (r.name, r.levelno, r.getMessage())
        for r in caplog.records
        if r.name.startswith("kg_obo_spark")
    ]


def test_scan_spread_logged_only_when_it_repartitions(spark, caplog):
    caplog.set_level(logging.INFO, logger="kg_obo_spark")
    narrow = spark.range(0, 100, numPartitions=1)
    assert ensure_scan_parallelism(narrow, min_partitions=4).rdd.getNumPartitions() == 4
    assert _lib_records(caplog) == [
        ("kg_obo_spark.partitioning", logging.INFO, "scan spread: 1 -> 4 partitions")
    ]

    caplog.clear()
    wide = spark.range(0, 100, numPartitions=4)
    assert ensure_scan_parallelism(wide, min_partitions=4) is wide
    assert _lib_records(caplog) == []
