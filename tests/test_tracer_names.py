"""perfbench's tracer wraps library functions by module attribute name, and
perfbench changes only with the benchmark. A library change that drops one of
those names would make ``perfbench/run.py --trace 1`` raise AttributeError;
this test raises it first."""

from kg_obo_spark.plans import pipeline, tracking
from kg_obo_spark.sources import tableio


def test_tracer_installs_and_uninstalls(spark):
    from perfbench.tracer import Tracer

    before = {name: getattr(pipeline, name) for name in vars(pipeline)}
    table_commit = tableio.Table.commit
    tracer = Tracer(spark)
    tracer.install()
    try:
        assert tableio.Table.commit is not table_commit
        wrapped = [owner for owner, _, _ in tracer._restore]
        assert pipeline in wrapped and tracking.TrackingStore in wrapped
    finally:
        tracer.uninstall()
    assert tableio.Table.commit is table_commit
    assert {name: getattr(pipeline, name) for name in vars(pipeline)} == before
