"""End-to-end: triple P/R vs the independent pure-Python oracle (>= 0.95 gate,
BASELINE.json metric), crash/resume identity, lock semantics, lineage."""

import pytest
from pyspark.sql import functions as F

from kg_obo_spark.datagen import build_ontology, generate_transcripts
from kg_obo_spark.oracle.pyoracle import oracle_triples, precision_recall
from kg_obo_spark.plans.pipeline import run_pipeline
from kg_obo_spark.plans.tracking import TrackingStore
from kg_obo_spark.sources.tableio import Lock, LockHeldError


@pytest.fixture(scope="module")
def transcripts(spark, onto):
    return generate_transcripts(spark, n_convs=120, seed=11, ontology=onto).cache()


def test_end_to_end_triples_pr(spark, onto, transcripts, tmp_path):
    res = run_pipeline(spark, transcripts, onto, str(tmp_path / "kg"))
    got = {(r["subject"], r["predicate"], r["object"]) for r in res.edges.collect()}
    rows = [(r["conv_id"], r["turn_idx"], r["text"]) for r in transcripts.collect()]
    expected = oracle_triples(rows, onto)
    p, r = precision_recall(got, expected)
    assert p >= 0.95 and r >= 0.95, f"P={p:.4f} R={r:.4f}"
    # in fact the implementations agree exactly on synthetic data
    assert (p, r) == (1.0, 1.0)


def test_pr_on_heavy_corpus(spark, tmp_path):
    """P/R holds on the bench-shaped corpus: multi-sentence turns, 1000-term
    dictionary (wider trie, 3-word labels, denser mentions)."""
    from kg_obo_spark.datagen import build_ontology

    big_onto = build_ontology(n_terms=1000, seed=7)
    tr = generate_transcripts(
        spark, n_convs=60, seed=33, ontology=big_onto, sentences_range=(2, 6)
    ).cache()
    res = run_pipeline(spark, tr, big_onto, str(tmp_path / "kg_heavy"))
    got = {(r["subject"], r["predicate"], r["object"]) for r in res.edges.collect()}
    rows = [(r["conv_id"], r["turn_idx"], r["text"]) for r in tr.collect()]
    p, r = precision_recall(got, oracle_triples(rows, big_onto))
    assert (p, r) == (1.0, 1.0), f"P={p:.4f} R={r:.4f}"


def test_crash_resume_identical_output(spark, onto, transcripts, tmp_path):
    full_root = str(tmp_path / "full")
    res_full = run_pipeline(spark, transcripts, onto, full_root, n_buckets=4)
    crash_root = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(
            spark, transcripts, onto, crash_root,
            n_buckets=4, unit_batch_size=1, fail_after_batches=2,
        )
    # resume: skips the 2 committed units, finishes the rest
    res2 = run_pipeline(spark, transcripts, onto, crash_root, n_buckets=4, unit_batch_size=1)
    assert len(res2.units_skipped) == 2
    full = {(r["subject"], r["predicate"], r["object"]) for r in res_full.edges.collect()}
    resumed = {(r["subject"], r["predicate"], r["object"]) for r in res2.edges.collect()}
    assert full == resumed
    nodes_full = {r["id"] for r in res_full.nodes.collect()}
    nodes_resumed = {r["id"] for r in res2.nodes.collect()}
    assert nodes_full == nodes_resumed


def test_pipeline_builds_no_local_list_frame(
    spark, onto, transcripts, tmp_path, monkeypatch
):
    """Every driver-side frame a run builds (lineage, tracking, pending units,
    canonical map, dictionary rows) comes from Arrow, never from a local list
    shipped through a Python RDD: with that path disabled a fresh run and a
    crash-then-resume still give the uninterrupted triple set."""
    from pyspark.sql import SparkSession

    def no_local_list(*args, **kwargs):
        raise AssertionError("createDataFrame(<local list>) reached")

    def triples(res):
        return {(r["subject"], r["predicate"], r["object"]) for r in res.edges.collect()}

    want = triples(run_pipeline(spark, transcripts, onto, str(tmp_path / "ref"), n_buckets=2))
    monkeypatch.setattr(SparkSession, "_createFromLocal", no_local_list)
    fresh = run_pipeline(spark, transcripts, onto, str(tmp_path / "fresh"), n_buckets=2)
    assert triples(fresh) == want
    root = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(
            spark, transcripts, onto, root,
            n_buckets=2, unit_batch_size=1, fail_after_batches=1,
        )
    resumed = run_pipeline(spark, transcripts, onto, root, n_buckets=2)
    assert resumed.units_skipped == [0]
    assert triples(resumed) == want


def test_lock_blocks_concurrent_run(spark, onto, transcripts, tmp_path):
    root = str(tmp_path / "locked")
    lock = Lock(f"{root}/_lock")
    lock.acquire()
    try:
        with pytest.raises(LockHeldError):
            run_pipeline(spark, transcripts, onto, root)
    finally:
        lock.release()
    # lock is released after a successful run
    run_pipeline(spark, transcripts, onto, root)
    assert not lock.held()


def test_lineage_and_tracking_written(spark, onto, transcripts, tmp_path):
    root = str(tmp_path / "lin")
    res = run_pipeline(spark, transcripts, onto, root, n_buckets=2)
    store = TrackingStore(root)
    lin = store.lineage.read(spark)
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert {"extract+link", "co_edges", "materialize_nodes", "materialize_edges", "unit_done"} <= stages
    # per-partition metrics rows exist
    assert lin.filter(F.col("partition_id") >= 0).count() > 0
    # tracking rotation recorded the ontology version
    t = store.read_tracking(spark).filter(F.col("source") == onto.name).first()
    assert t["current_version"] == onto.version
    assert store.transformed_exists(spark, onto.name, onto.version)
    assert not store.transformed_exists(spark, onto.name, "nope")


def test_repair_ladder_degrades_poisoned_batch(spark, onto, tmp_path, caplog):
    """A turn that blows the per-turn candidate budget at level 0 (synonym
    boilerplate) completes at level 1 (synonyms dropped), with a lineage row
    recording the degradation — the robot convert fallback-chain analog.
    The ladder step and the committed batch are logged at INFO."""
    import logging
    from datetime import datetime

    from kg_obo_spark.operators.canonicalize import union_find
    from kg_obo_spark.operators.extract import extract_turn_terms

    caplog.set_level(logging.INFO, logger="kg_obo_spark")

    syn = next(s for t in onto.terms for s in t["synonyms"])
    poisoned = spark.createDataFrame(
        [("conv-poison", 0, "user", (syn + " ") * 30, "", datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    clean = generate_transcripts(spark, n_convs=6, seed=5, ontology=onto)
    tr = clean.unionByName(poisoned)

    res = run_pipeline(
        spark, tr, onto, str(tmp_path / "kg"),
        n_buckets=2, max_candidates_per_turn=10,
    )
    # the committed KG is the level-1 scan of the same input
    canon = {k: v for k, v in union_find(list(onto.xrefs)).items() if k != v}
    level1 = [
        r["terms"] for r in extract_turn_terms(tr, onto, canon, degradation_level=1).collect()
    ]
    ids = {t for terms in level1 for t in terms}
    pairs = {(a, b) for terms in level1 for i, a in enumerate(terms) for b in terms[i + 1 :]}
    assert {r["id"] for r in res.nodes.collect()} == ids
    assert [
        r.getMessage() for r in caplog.records if r.name == "kg_obo_spark.pipeline"
    ] == [
        "repair ladder: units-0-1 candidate budget blown at level 0, "
        "retrying at level 1",
        f"batch: units-0-1 n_in={tr.count()} diverted=0 ids={len(ids)} "
        f"pairs={len(pairs)} level=1",
    ]
    store = TrackingStore(str(tmp_path / "kg"))
    lin = store.lineage.read(spark)
    deg = lin.filter(F.col("stage") == "extract_degraded").collect()
    assert deg and max(r["remap_count"] for r in deg) == 1
    # the degraded batch still extracted: primary labels + CURIEs survive
    assert ids


def test_repair_ladder_exhausted_reraises(spark, onto, tmp_path):
    """Canonical-CURIE boilerplate explodes at EVERY level (level 3 still
    matches canonical ids) -> the ladder exhausts and re-raises, mirroring the
    reference's final `return False`."""
    from datetime import datetime

    tid = onto.terms[0]["id"]
    poisoned = spark.createDataFrame(
        [("conv-poison", 0, "user", (tid + " ") * 30, "", datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    with pytest.raises(Exception, match="ExtractionError|candidates"):
        run_pipeline(
            spark, poisoned, onto, str(tmp_path / "kg2"),
            n_buckets=1, max_candidates_per_turn=10,
        )
    # the ladder's steps were committed to lineage before the re-raise: one
    # extract_degraded row per level it stepped past, counting the one turn
    from kg_obo_spark.dictionary import MAX_DEGRADATION_LEVEL

    lin = TrackingStore(str(tmp_path / "kg2")).lineage.read(spark)
    deg = lin.filter(F.col("stage") == "extract_degraded").collect()
    assert sorted(r["remap_count"] for r in deg) == list(
        range(1, MAX_DEGRADATION_LEVEL + 1)
    )
    assert {r["rows_in"] for r in deg} == {1}
    assert lin.filter(F.col("stage") == "unit_done").count() == 0


def test_ladder_trigger_survives_message_reframing(spark, onto, tmp_path):
    """VERDICT r2 #5: the ladder keys on the unique sentinel in the message,
    so a Py4J-style re-framing of the wrapped text still fires the ladder,
    while an unrelated error that merely MENTIONS the class name does not."""
    from kg_obo_spark.operators.extract import (
        EXTRACTION_BUDGET_MARKER,
        ExtractionError,
    )

    err = ExtractionError("c", 0, 99, 10)
    # simulate Spark wrapping/re-framing the worker traceback
    reframed = RuntimeError(
        "Job aborted due to stage failure: ...\n"
        f"pyspark.errors.PythonException: {err}\n...worker trace truncated..."
    )
    assert EXTRACTION_BUDGET_MARKER in str(reframed)
    impostor = RuntimeError(
        "commit failed while writing ExtractionError log summary"
    )
    assert EXTRACTION_BUDGET_MARKER not in str(impostor)


def test_crash_before_unit_marker_does_not_duplicate_mentions(spark, onto, tmp_path):
    """Crash in the window AFTER the batch's registry commit but BEFORE the
    unit-done marker: the resumed run re-enters the batch, and the unit tag
    turns the duplicate commit into a lookup — the per-batch table holds each
    batch's mentioned ids and pairs exactly once and triples match an
    uninterrupted run."""
    from kg_obo_spark.datagen import generate_transcripts
    from kg_obo_spark.plans.tracking import TrackingStore

    tr = generate_transcripts(spark, n_convs=60, seed=11, ontology=onto).cache()
    clean = run_pipeline(spark, tr, onto, str(tmp_path / "clean"), n_buckets=2,
                         unit_batch_size=1)
    clean_triples = {(r["subject"], r["predicate"], r["object"])
                     for r in clean.edges.collect()}
    clean_rows = _registry_rows(spark, tmp_path / "clean")

    orig = TrackingStore.mark_units_done
    calls = {"n": 0}

    def crash_once(self, *args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before unit marker")
        return orig(self, *args, **kwargs)

    TrackingStore.mark_units_done = crash_once
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(spark, tr, onto, str(tmp_path / "kg"), n_buckets=2,
                         unit_batch_size=1)
        res = run_pipeline(spark, tr, onto, str(tmp_path / "kg"), n_buckets=2,
                          unit_batch_size=1)
    finally:
        TrackingStore.mark_units_done = orig
    got = {(r["subject"], r["predicate"], r["object"]) for r in res.edges.collect()}
    assert got == clean_triples
    # the crashed batch's registry rows were committed once, not twice
    assert _registry_rows(spark, tmp_path / "kg") == clean_rows
    # ... and so was its lineage: one summary row per stage and unit batch,
    # counting the same inputs as the uninterrupted run
    clean_rows = _batch_summaries(spark, tmp_path / "clean")
    rows = _batch_summaries(spark, tmp_path / "kg")
    assert sorted(rows) == sorted(clean_rows)
    assert all(len(v) == 1 for v in rows.values()), rows
    assert rows == clean_rows


def _registry_rows(spark, root):
    """Row count of the per-batch registry table (``co_edges``) of a root."""
    from kg_obo_spark.sources.tableio import Table

    return Table(str(root / "co_edges")).read(spark).count()


def _batch_summaries(spark, root):
    """{(stage, units of the batch): [rows_in of each summary row]} over the
    per-batch lineage stages of a pipeline output root."""
    from kg_obo_spark.sources.tableio import Table

    units = {
        s.snapshot_id: tuple(s.meta["units"])
        for s in Table(str(root / "co_edges")).snapshots()
    }
    out = {}
    lin = TrackingStore(str(root)).lineage.read(spark)
    for r in lin.filter(F.col("partition_id") == -1).collect():
        if r["stage"] in ("extract+link", "co_edges"):
            key = (r["stage"], units[r["snapshot_id"]])
        elif r["stage"] == "unit_done":
            key = (r["stage"], (int(r["snapshot_id"]),))
        else:
            continue
        out.setdefault(key, []).append(r["rows_in"])
    return out


def test_resume_with_different_batch_size_does_not_duplicate(spark, onto, tmp_path):
    """ADVICE r3: unit_tag encodes the batch composition, so a resume that
    passes a DIFFERENT unit_batch_size after a crash-window crash must still
    replay under the original batching — the recorded run config wins — and
    the replay lookup is the O(1) marker path, never a history scan."""
    from kg_obo_spark.datagen import generate_transcripts
    from kg_obo_spark.plans.tracking import TrackingStore
    from kg_obo_spark.sources.tableio import Table

    tr = generate_transcripts(spark, n_convs=60, seed=13, ontology=onto).cache()
    clean = run_pipeline(spark, tr, onto, str(tmp_path / "clean"), n_buckets=4,
                         unit_batch_size=2)
    clean_triples = {(r["subject"], r["predicate"], r["object"])
                     for r in clean.edges.collect()}
    clean_rows = _registry_rows(spark, tmp_path / "clean")

    orig = TrackingStore.mark_units_done
    calls = {"n": 0}

    def crash_once(self, *args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before unit marker")
        return orig(self, *args, **kwargs)

    TrackingStore.mark_units_done = crash_once
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(spark, tr, onto, str(tmp_path / "kg"), n_buckets=4,
                         unit_batch_size=2)
        # resume asks for batch size 1; the persisted config (2) must win, and
        # the crash-window replay must never call snapshots()
        orig_snaps = Table.snapshots

        def boom(self):
            import os as _os

            if _os.path.exists(self._latest_path):
                raise AssertionError("crash replay must not list history")
            return orig_snaps(self)  # latest()'s one-time new/legacy fallback

        Table.snapshots = boom
        try:
            res = run_pipeline(spark, tr, onto, str(tmp_path / "kg"), n_buckets=4,
                               unit_batch_size=1)
        finally:
            Table.snapshots = orig_snaps
    finally:
        TrackingStore.mark_units_done = orig
    got = {(r["subject"], r["predicate"], r["object"]) for r in res.edges.collect()}
    assert got == clean_triples
    assert _registry_rows(spark, tmp_path / "kg") == clean_rows


def test_stray_run_config_temp_file_does_not_break_resume(
    spark, onto, tmp_path, monkeypatch
):
    """The run config is written to a temp file and renamed into place, so a
    crash mid-write leaves a truncated temp file, never a truncated config.
    A stray truncated temp file next to the config must not break resume."""
    import json
    import os
    import types

    from kg_obo_spark.plans import pipeline

    tr = generate_transcripts(spark, n_convs=40, seed=17, ontology=onto).cache()
    clean = run_pipeline(spark, tr, onto, str(tmp_path / "clean"), n_buckets=2)
    edges = lambda r: {tuple(x) for x in r.edges.collect()}  # noqa: E731
    root = str(tmp_path / "kg")
    cfg = os.path.join(root, "_run_config.json")

    def read_cfg():
        with open(cfg) as f:
            return json.load(f)

    def cut_short(obj, f):
        f.write(json.dumps(obj)[:12])
        raise OSError("injected crash mid-write")

    # a crash while the first run writes its config
    monkeypatch.setattr(
        pipeline, "json", types.SimpleNamespace(**{**vars(json), "dump": cut_short})
    )
    with pytest.raises(OSError, match="mid-write"):
        run_pipeline(spark, tr, onto, root, n_buckets=2, unit_batch_size=1)
    monkeypatch.undo()
    assert not os.path.exists(cfg) and os.path.exists(cfg + ".tmp")

    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, tr, onto, root, n_buckets=2, unit_batch_size=1,
                     fail_after_batches=1)
    recorded = {"unit_batch_size": 1, "n_buckets": 2, "layout": pipeline.BATCH_LAYOUT}
    assert read_cfg() == recorded
    with open(cfg + ".tmp", "w") as f:
        f.write('{"unit_batch')  # a stray temp file from a cut-short write
    res = run_pipeline(spark, tr, onto, root, n_buckets=2)
    assert res.units_skipped and len(res.units_processed) == 1
    assert read_cfg() == recorded
    assert edges(res) == edges(clean)


def test_fresh_single_batch_run_job_budget(spark, onto, transcripts, tmp_path):
    """Bookkeeping launches no Spark job of its own: input, id and pair
    counts are observed on the batch's one commit, partition rows come from
    its footers, reads carry the committed schema, and lineage, tracking and
    the node snapshot are written on the driver. What is left is corpus-sized:
    the scan's shuffle-map and the registry write, then finalize's
    mentioned-id distinct (map and collect) and edge distinct (map and
    write). The budget is the measured job count of this call (6 at
    local[4])."""
    from tests.conftest import count_jobs

    transcripts.count()  # materialize the cached input outside the count
    with count_jobs(spark) as jobs:
        run_pipeline(spark, transcripts, onto, str(tmp_path / "kg"), n_buckets=2)
    assert jobs["n"] <= 6, jobs


def test_unit_batch_job_budget(spark, onto, transcripts, tmp_path):
    """A crash_resume-shaped run (2 units, one per batch): the first call
    runs exactly one unit batch on a fresh root and stops, so its jobs are
    that batch's — at most 2: the scan's shuffle-map and the registry write
    (the lineage commit is written on the driver)."""
    from tests.conftest import count_jobs

    transcripts.count()
    with count_jobs(spark) as jobs:
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(
                spark, transcripts, onto, str(tmp_path / "kg"),
                n_buckets=2, unit_batch_size=1, fail_after_batches=1,
            )
    assert jobs["n"] <= 2, jobs


def test_resume_with_different_bucket_count_keeps_every_triple(
    spark, onto, transcripts, tmp_path, caplog
):
    """Unit ids are hash buckets, so a resume that asks for another
    n_buckets must reuse the recorded one: otherwise the skip-if-done lookup
    marks the wrong rows done and their triples are silently dropped. The
    override is logged at INFO."""
    import logging

    def triples(res):
        return {(r["subject"], r["predicate"], r["object"]) for r in res.edges.collect()}

    want = triples(run_pipeline(spark, transcripts, onto, str(tmp_path / "clean"), n_buckets=4))
    root = str(tmp_path / "kg")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(
            spark, transcripts, onto, root,
            n_buckets=4, unit_batch_size=1, fail_after_batches=1,
        )
    caplog.set_level(logging.INFO, logger="kg_obo_spark.pipeline")
    res = run_pipeline(spark, transcripts, onto, root, n_buckets=2, unit_batch_size=1)
    assert res.units_skipped == [0] and res.units_processed == [1, 2, 3]
    assert triples(res) == want
    assert f"run config: {root} records n_buckets=4, used instead of 2" in [
        r.getMessage() for r in caplog.records
    ]


def test_resume_of_root_in_older_layout_raises(spark, onto, transcripts, tmp_path):
    """A root whose run config records no per-batch layout was written with
    a mentions table and a 5-column co_edges: resuming it must fail loudly,
    naming the root, not mix two schemas in one table."""
    import json
    import os

    from kg_obo_spark.sources.tableio import Table

    root = str(tmp_path / "old")
    os.makedirs(os.path.join(root, "mentions"))
    with open(os.path.join(root, "_run_config.json"), "w") as f:
        json.dump({"unit_batch_size": 1}, f)
    with pytest.raises(ValueError, match=f"{root}: written in another per-batch layout"):
        run_pipeline(spark, transcripts, onto, root, n_buckets=2, unit_batch_size=1)
    assert not Lock(os.path.join(root, "_lock")).held()
    assert not Table(os.path.join(root, "co_edges")).exists()


def test_batch_without_mentions_commits_an_empty_kg(spark, onto, tmp_path):
    """A batch that mentions no term has an empty registry: the observed id
    and pair counts then report nothing (adaptive execution drops the
    observed plan after the empty shuffle), so the batch counts with jobs
    and its lineage still records its rows and its diverted null turn."""
    from datetime import datetime

    rows = [(f"c{i}", 0, "user", "nothing to see", "", datetime(2026, 1, 1)) for i in range(5)]
    rows.append(("cx", 1, "user", None, "", datetime(2026, 1, 1)))
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    res = run_pipeline(spark, tr, onto, str(tmp_path / "kg"), n_buckets=2)
    assert res.nodes.count() == 0 and res.edges.count() == 0
    lin = TrackingStore(str(tmp_path / "kg")).lineage.read(spark)
    summary = {
        r["stage"]: (r["rows_in"], r["rows_out"])
        for r in lin.filter(F.col("partition_id") == -1).collect()
    }
    assert summary["input_errors"] == (6, 1)
    assert summary["extract+link"] == (6, 0) and summary["co_edges"] == (0, 0)


def test_observed_counts_time_out_instead_of_hanging(spark):
    """Batch input counts are read from Observations of the commit job; one
    whose job never ran (or never reported) yields None within the timeout,
    and the pipeline then counts with jobs of its own."""
    from pyspark.sql import Observation

    from kg_obo_spark.plans.pipeline import _observed

    ran, idle = Observation(), Observation()
    spark.range(7).observe(ran, F.count(F.lit(1)).alias("n")).collect()
    spark.range(3).observe(idle, F.count(F.lit(1)).alias("n"))  # no action
    assert _observed(ran) == [7]
    assert _observed(ran, idle, timeout_s=0.2) is None


def test_root_with_spark_written_lineage_resumes(spark, onto, transcripts, tmp_path, monkeypatch):
    """A root whose lineage earlier versions wrote with Spark (``committed_at``
    as INT96) resumes under driver-side lineage: one batch lands with the
    Spark writer and crashes, a resume lands another with the driver writer
    and crashes, so the lineage chain holds both kinds, and the last resume
    skips both units and gives the uninterrupted triple set."""
    from kg_obo_spark.plans.tracking import LINEAGE_SCHEMA
    from kg_obo_spark.session import local_frame

    def triples(res):
        return {(r["subject"], r["predicate"], r["object"]) for r in res.edges.collect()}

    want = triples(run_pipeline(spark, transcripts, onto, str(tmp_path / "clean"), n_buckets=3))

    def spark_written(self, spark, rows, meta=None):
        self.lineage.commit(local_frame(spark, rows, LINEAGE_SCHEMA), mode="append", meta=meta)

    root = str(tmp_path / "kg")
    crash = dict(n_buckets=3, unit_batch_size=1, fail_after_batches=1)
    with monkeypatch.context() as m:
        m.setattr(TrackingStore, "commit_lineage", spark_written)
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(spark, transcripts, onto, root, **crash)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, transcripts, onto, root, **crash)
    store = TrackingStore(root)
    assert store.lineage.read_arrow().num_rows == store.lineage.read(spark).count()
    res = run_pipeline(spark, transcripts, onto, root, n_buckets=3, unit_batch_size=1)
    assert res.units_skipped == [0, 1] and res.units_processed == [2]
    assert triples(res) == want
