"""End-to-end KG-construction pipeline with lock / resume / lineage.

The distributed analog of the reference's run_transform per-ontology loop
(/root/reference/kg_obo/transform.py:683-1330), restructured as a dataflow:

    transcripts --bucket(conv_id)--> [pending units via anti-join]
        -> extract_mentions (Arrow scan, no shuffle)
        -> canonical rewrite (broadcast join)
        -> co-mention edges (one shuffle on turn key) + mentioned-node ids
        -> per-unit-batch atomic commit + ONE lineage commit (stage rows and
           unit-done markers together)
    finalize: nodes (broadcast dict join) + is_a edges (global semi-join)
        -> KGX node/edge snapshots + one lineage commit + tracking rotation

Gate ordering mirrors the reference: lock check -> tracking check -> work ->
track_version -> unlock (transform.py:765-794,1195,1322-1328); a crash between
commits resumes from the last committed unit batch (skip-if-done anti-join,
transform.py:911-936).

Scale notes: units are hash buckets of conv_id, so resume granularity is
independent of conversation count; all per-unit stages are conv-local (no
cross-bucket shuffle); only the finalize stage sees global state (distinct node
ids — tiny relative to input).

Bookkeeping runs no Spark job of its own: a batch's input and error counts
are observed (``DataFrame.observe``) on its mentions commit job, its
per-partition lineage rows come from that commit's parquet footers, the
canonical map is solved on the driver, and snapshot reads carry the schema the
commit recorded. Only the crash-window replay (the tagged commit is skipped,
so there is no job to observe) counts its inputs with jobs.
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kg_obo_spark.datagen.ontology import Ontology
from kg_obo_spark.operators.canonicalize import canonical_map
from kg_obo_spark.operators.extract import (
    EXTRACTION_BUDGET_MARKER,
    extract_mentions,
    split_valid_turns,
)
from kg_obo_spark.operators.materialize import (
    VOCAB_INT_CROSSOVER_TURNS,
    build_edges,
    build_isa_edges,
    build_nodes,
    canonical_mentions,
    co_edges_from_mention_ranks,
)
from kg_obo_spark.plans.tracking import TrackingStore, partition_metrics, stage_rows
from kg_obo_spark.session import local_frame
from kg_obo_spark.sources.tableio import Lock, Table

_log = logging.getLogger("kg_obo_spark.pipeline")


@dataclass
class PipelineResult:
    run_id: str
    nodes: DataFrame
    edges: DataFrame
    mentions: DataFrame
    units_processed: list[int] = field(default_factory=list)
    units_skipped: list[int] = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    onto: Ontology,
    out_root: str,
    run_id: str | None = None,
    n_buckets: int = 8,
    unit_batch_size: int | None = None,
    fail_after_batches: int | None = None,
    max_candidates_per_turn: int | None = None,
    max_degradation_level: int | None = None,
    int_rank_edges: bool | None = None,
) -> PipelineResult:
    """Run (or resume) the full pipeline; returns the final node/edge frames.

    ``unit_batch_size``: units per atomic commit (None = all pending in one).
    ``fail_after_batches``: test hook — raise after N committed batches to
    exercise crash/resume.
    ``int_rank_edges``: per-unit co-mention edge representation (ROADMAP
    #13). None (default) auto-switches per unit batch: the batch's exact
    turn count (``n_in``, observed on the mentions commit) against
    ``VOCAB_INT_CROSSOVER_TURNS`` — above it the pair shuffle carries int32
    ranks (re-ranked from the committed string-CURIE mention artifacts via a
    broadcast join; 1.7x on the edge stage at 2M convs,
    BENCH/VOCAB_INT_AB.md), below it strings win. True/False force a path.
    Either path commits the identical distinct triple set, so mixed batches
    across a resume are safe.
    ``max_candidates_per_turn`` arms the per-turn candidate budget; when a unit
    batch blows it, the batch is retried at the next degradation level (repair
    ladder, reference robot_utils.py:108-143 analog — see
    dictionary.MAX_DEGRADATION_LEVEL) up to ``max_degradation_level``, and the
    degradation is recorded in lineage (stage ``extract_degraded``,
    remap_count = level). A batch that fails at every level re-raises, exactly
    like the reference's final ``return False``.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    store = TrackingStore(out_root)
    mentions_t = Table(os.path.join(out_root, "mentions"))
    co_edges_t = Table(os.path.join(out_root, "co_edges"))
    nodes_t = Table(os.path.join(out_root, "nodes"))
    edges_t = Table(os.path.join(out_root, "edges"))

    lock = Lock(os.path.join(out_root, "_lock"))
    lock.acquire()
    try:
        tr = transcripts.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        )
        all_units = list(range(n_buckets))
        if store.lineage.exists():
            units_df = local_frame(
                spark, [(str(u),) for u in all_units], "unit string"
            )
            pending = sorted(
                int(r["unit"]) for r in store.pending_units(units_df).collect()
            )
        else:  # fresh output root: no unit is done, so no lookup job
            pending = all_units
        skipped = sorted(set(all_units) - set(pending))

        # canonicalization map: tiny, solved on the driver from the ontology's
        # own xref pairs (no Spark job), broadcast into every join
        terms_df = local_frame(spark, [(t["id"],) for t in onto.terms], "id string")
        cmap = canonical_map(terms_df, list(onto.xrefs))

        # Persist the batching geometry (ADVICE r3): unit_tag encodes the batch
        # composition, so a resume after a crash-window crash MUST chunk the
        # pending remainder with the SAME batch size as the original run —
        # otherwise the replayed units enter under a different tag and their
        # already-landed appends are duplicated. First run records the size;
        # resumes reuse the recorded one, whatever the caller passed.
        cfg_path = os.path.join(out_root, "_run_config.json")
        if os.path.exists(cfg_path):
            with open(cfg_path) as f:
                unit_batch_size = json.load(f).get("unit_batch_size")
        else:
            # temp file + atomic rename: a crash mid-write leaves a stray temp
            # file, never a truncated config that resume's json.load rejects
            tmp_path = cfg_path + ".tmp"
            with open(tmp_path, "w") as f:
                json.dump({"unit_batch_size": unit_batch_size}, f)
            os.replace(tmp_path, cfg_path)
        batch = unit_batch_size or max(len(pending), 1)
        batches = [pending[i : i + batch] for i in range(0, len(pending), batch)]
        done_batches = 0
        from kg_obo_spark.dictionary import MAX_DEGRADATION_LEVEL

        ladder_top = (
            MAX_DEGRADATION_LEVEL
            if max_degradation_level is None
            else max_degradation_level
        )
        rank_cu = None  # lazily-built canonical rank table (ROADMAP #13)
        for units in batches:
            sub = tr.filter(F.col("bucket").isin(units))
            # one extraction pass: commit mentions, then derive edges from the
            # just-written parquet (never rescan the corpus, never recompute
            # the Arrow extraction stage). Repair ladder: a candidate-budget
            # blow-up fails the commit job before the snapshot registers
            # (orphan data dir only), so retrying at a reduced level is safe.
            # Unit-batch commits are TAGGED: a crash between a commit and the
            # unit-done marker makes the resumed run re-enter this batch, and
            # the tag turns the duplicate commit into a lookup (extraction is
            # deterministic, so the landed snapshot IS this batch's result).
            unit_tag = "units-" + "-".join(str(u) for u in units)
            snap_m = None
            degraded = []  # remap_count of each ladder step taken
            for level in range(ladder_top + 1):
                # the batch's input and valid-row counts ride on the commit
                # job; a failed job fills no Observation, so each attempt
                # observes afresh
                seen_in, seen_valid = Observation(), Observation()
                valid, errors = split_valid_turns(
                    sub.observe(seen_in, F.count(F.lit(1)).alias("n"))
                )
                mentions = extract_mentions(
                    valid.observe(seen_valid, F.count(F.lit(1)).alias("n")),
                    onto,
                    degradation_level=level,
                    max_candidates_per_turn=max_candidates_per_turn,
                )
                cm = canonical_mentions(mentions, cmap)
                try:
                    snap_m = mentions_t.commit(
                        cm, mode="append", if_absent_tag=unit_tag,
                        meta={"units": units, "level": level},
                    )
                except Exception as ex:
                    # match the unique sentinel ExtractionError embeds in its
                    # message — robust to Py4J/traceback re-framing and immune
                    # to unrelated errors that merely mention the class name
                    if level >= ladder_top or EXTRACTION_BUDGET_MARKER not in str(ex):
                        if degraded:
                            # the ladder's steps stay on record although the
                            # batch fails; the failed job observed nothing
                            store.commit_lineage(
                                spark,
                                _input_rows(
                                    run_id, sub.count(), errors.count(), degraded
                                ),
                                meta={"stage": "extract_degraded"},
                            )
                        raise
                    degraded.append(level + 1)
                    _log.info(
                        "repair ladder: %s candidate budget blown at level %d, "
                        "retrying at level %d", unit_tag, level, level + 1,
                    )
                    continue
                break
            seen = None
            if snap_m is None:  # crash-window replay: this batch already landed
                # O(1) marker-file lookup, not an O(total commits) history scan
                # (VERDICT r3 missing #3)
                snap_m = mentions_t.snapshot_by_tag(unit_tag)
            else:
                seen = _observed(seen_in, seen_valid)
            if seen is None:  # no commit job ran (or reported): count
                n_in, n_err = sub.count(), errors.count()
            else:
                n_in, n_err = seen[0], seen[0] - seen[1]
            batch_dir = json.loads(snap_m.data_dir)[-1]
            batch_mentions = spark.read.schema(cm.schema).parquet(batch_dir)
            use_ranks = (
                int_rank_edges
                if int_rank_edges is not None
                else n_in >= VOCAB_INT_CROSSOVER_TURNS
            )
            _log.info(
                "edge path: %s n_in=%d -> %s", unit_tag, n_in,
                "int ranks" if use_ranks else "strings",
            )
            if use_ranks:
                if rank_cu is None:
                    # canonical rank table, built once per run: canon dict
                    # from the (tiny, by design) cmap frame, term universe
                    # from the full-level matcher — a superset of every
                    # degraded level's ids, so the re-rank join below is
                    # row-preserving for any committed batch
                    from kg_obo_spark.dictionary import get_matcher

                    canon_dict = {
                        r["term_id"]: r["canonical_id"] for r in cmap.collect()
                    }
                    rank_cu = get_matcher(onto, 0).canon_rank_table(
                        canon_dict
                    )[1]
                co = co_edges_from_mention_ranks(batch_mentions, rank_cu, onto)
            else:
                co = build_edges(batch_mentions, onto, include_isa=False)
            snap_e = co_edges_t.commit(
                co, mode="append", if_absent_tag=unit_tag, meta={"units": units}
            )
            if snap_e is None:
                snap_e = co_edges_t.snapshot_by_tag(unit_tag)
            # the batch's whole lineage lands in the unit-done commit, so a
            # crash before it replays the batch without duplicate rows
            stages = _input_rows(run_id, n_in, n_err, degraded)
            stages += stage_rows(
                run_id,
                "extract+link",
                n_in,
                snap_m.meta["batch_rows"],
                snapshot_id=snap_m.snapshot_id,
                per_partition=partition_metrics(batch_dir),
            )
            stages += stage_rows(
                run_id,
                "co_edges",
                snap_m.meta["batch_rows"],
                snap_e.meta["batch_rows"],
                snapshot_id=snap_e.snapshot_id,
            )
            store.mark_units_done(spark, run_id, [str(u) for u in units], stages)
            done_batches += 1
            if fail_after_batches is not None and done_batches >= fail_after_batches:
                raise RuntimeError(f"injected failure after {done_batches} batches")

        # ---- finalize: global nodes + is_a edges over all committed units
        all_mentions = mentions_t.read(spark)
        all_co = co_edges_t.read(spark)
        nodes = build_nodes(all_mentions, onto)
        # co-mention part was committed incrementally; only is_a is global work.
        # ONE distinct over the unioned edge set — the outer distinct subsumes
        # a per-branch one (VERDICT r3 wrong #3: the inner .distinct() was a
        # second, redundant shuffle of the same rows).
        isa = build_isa_edges(all_mentions, onto)
        edges = all_co.unionByName(isa).distinct()

        ns = nodes_t.commit(nodes, meta={"run_id": run_id})
        es = edges_t.commit(edges, meta={"run_id": run_id})
        store.commit_lineage(
            spark,
            stage_rows(
                run_id, "materialize_nodes", 0, ns.row_count, snapshot_id=ns.snapshot_id
            )
            + stage_rows(
                run_id, "materialize_edges", 0, es.row_count, snapshot_id=es.snapshot_id
            ),
            meta={"stage": "materialize"},
        )
        store.track_version(
            spark, onto.name, f"urn:kg-obo-spark:{onto.name}", onto.version
        )
        return PipelineResult(
            run_id=run_id,
            nodes=nodes_t.read(spark),
            edges=edges_t.read(spark),
            mentions=all_mentions,
            units_processed=pending,
            units_skipped=skipped,
        )
    finally:
        lock.release()


def _input_rows(
    run_id: str, n_in: int, n_err: int, degraded: list[int]
) -> list[tuple]:
    """A batch's ``input_errors`` row (when any input row was diverted) and
    one ``extract_degraded`` row per repair-ladder step it took."""
    rows = stage_rows(run_id, "input_errors", n_in, n_err) if n_err else []
    for remap in degraded:
        rows += stage_rows(run_id, "extract_degraded", n_in, 0, remap)
    return rows


def _observed(*observations: Observation, timeout_s: float = 60.0) -> list[int] | None:
    """The ``n`` each Observation saw on the job that ran its frame, or None
    if one has not reported within ``timeout_s``. Spark completes an
    Observation from a listener event after the job returns;
    ``Observation.get`` would wait for it forever, so a lost event must not
    hang the run."""
    deadline = time.monotonic() + timeout_s
    for obs in observations:
        while not obs._jo.future().isCompleted():
            if time.monotonic() > deadline:
                return None
            time.sleep(0.002)
    return [obs.get["n"] for obs in observations]
