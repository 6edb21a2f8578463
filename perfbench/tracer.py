"""Spans around the library's public functions, and Spark's task metrics per span.

The tracer wraps, at runtime and in this process only, the functions
``run_pipeline`` reaches: ``Table`` commits/reads/tag lookups, the
``TrackingStore`` methods, ``Lock``, the operators ``plans.pipeline``
imported, the DataFrame actions ``count``/``collect``/``first``, and
``DataFrameReader.parquet``, whose schema inference runs a job. A span
records name, start, end, parent span and run id, and sets the Spark job
group to its own id, so every job submitted inside it is attributed to the
innermost open span. Task metrics (run time, CPU, task count, shuffle, spill)
come from Spark's live status store after the traced run, not from an event
log, so tracing writes nothing while it runs.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "perfbench-span-"


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self.run_id = ""
        self.active = False
        # the DataFrames run_pipeline handed to extract_mentions (level 0)
        self.scan_inputs: list = []

    # ------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def _wrap(self, owner, attr: str, name, after=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            label = name(args, kwargs) if callable(name) else name
            with self.span(label) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader

        from kg_obo_spark.plans import pipeline, tracking
        from kg_obo_spark.sources import tableio

        def table(op):
            return lambda a, k: f"tableio.{op}:{os.path.basename(a[0].root)}"

        def written(rec, args, kwargs, snap):
            if snap is not None:
                rec["bytes"] = du_bytes(json.loads(snap.data_dir)[-1])

        self._wrap(tableio.Table, "commit", table("commit"), written)
        self._wrap(tableio.Table, "read", table("read"))
        self._wrap(tableio.Table, "snapshot_by_tag", table("snapshot_by_tag"))
        self._wrap(tableio.Table, "has_tag", table("has_tag"))
        self._wrap(tableio.Lock, "acquire", "tableio.lock.acquire")
        self._wrap(tableio.Lock, "release", "tableio.lock.release")
        for m in ("pending_units", "mark_units_done", "track_version"):
            self._wrap(tracking.TrackingStore, m, f"tracking.{m}")
        self._wrap(
            tracking.TrackingStore, "log_stage",
            lambda a, k: "tracking.log_stage"
            + ("+partition_metrics" if k.get("per_partition") is not None else ""),
        )
        def scan_input(rec, args, kwargs, out):
            if kwargs.get("degradation_level", 0) == 0:  # a retry rescans it
                self.scan_inputs.append(args[0])

        self._wrap(pipeline, "extract_mentions", "extract.extract_mentions", scan_input)
        for fn, layer in (
            ("partition_metrics", "tracking"),
            ("canonical_map", "canonicalize"),
            ("split_valid_turns", "extract"),
            ("canonical_mentions", "materialize"),
            ("build_edges", "materialize"),
            ("co_edges_from_mention_ranks", "materialize"),
            ("build_nodes", "materialize"),
            ("build_isa_edges", "materialize"),
        ):
            self._wrap(pipeline, fn, f"{layer}.{fn}")
        for action in ("count", "collect", "first"):
            self._wrap(DataFrame, action, f"action.{action}")
        self._wrap(DataFrameReader, "parquet", "action.read_parquet")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # ----------------------------------------------------------- metrics

    def jobs(self, since: float) -> list[dict]:
        """Jobs submitted at or after ``since`` (epoch s), with their span id
        (None when no span of this tracer was open) and the stages they ran."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        seq = store.jobsList(None)
        out, owner, raw = [], {}, []
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = j.submissionTime()
            if not sub.isDefined() or sub.get().getTime() / 1000 < since:
                continue
            done = j.completionTime()
            group = j.jobGroup()
            g = group.get() if group.isDefined() else ""
            sids = j.stageIds()
            raw.append((
                j.jobId(), sub.get().getTime() / 1000,
                done.get().getTime() / 1000 if done.isDefined() else time.time(),
                int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None,
                [sids.apply(k) for k in range(sids.size())],
            ))
        raw.sort()
        for job_id, start, end, span, stage_ids in raw:
            mine = [s for s in stage_ids if s not in owner]
            for s in mine:
                owner[s] = job_id
            out.append({
                "job": job_id, "start": start, "end": end, "span": span,
                "stages": [self._stage(store, s) for s in mine],
            })
        return out

    @staticmethod
    def _stage(store, stage_id: int) -> dict:
        try:
            s = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # NoSuchElementException: the stage never ran
            return {"tasks": [], "shuffle_write": 0, "spill": 0}
        tl = store.taskList(stage_id, s.attemptId(), 1 << 20)
        tasks = []
        for k in range(tl.size()):
            m = tl.apply(k).taskMetrics()
            if m.isDefined():
                m = m.get()
                tasks.append((m.executorRunTime() / 1000, m.executorCpuTime() / 1e9))
        return {
            "tasks": tasks,
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.diskBytesSpilled(),
        }


def _children(spans: list[dict]) -> dict[int, list[dict]]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_metrics(spans: list[dict], jobs: list[dict]) -> dict[str, float]:
    """The per-layer figures of one traced workload run."""
    kids = _children(spans)
    by_span: dict[int, list[dict]] = {}
    for j in jobs:
        by_span.setdefault(j["span"], []).append(j)

    def under(root: dict) -> list[dict]:
        """The span and all its descendants."""
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def named(prefix: str) -> list[dict]:
        return [s for s in spans if s["name"].startswith(prefix)]

    def jobs_of(roots: list[dict]) -> list[dict]:
        return [j for r in roots for s in under(r) for j in by_span.get(s["id"], [])]

    def tasks_of(roots):
        return [t for j in jobs_of(roots) for st in j["stages"] for t in st["tasks"]]

    def stage_sum(roots, key) -> float:
        return sum(st[key] for j in jobs_of(roots) for st in j["stages"])

    runs = named("pipeline.run_pipeline")
    in_runs = {s["id"] for r in runs for s in under(r)}
    run_jobs = [j for j in jobs if j["span"] in in_runs]
    windows = [(r["start"], r["end"]) for r in runs]
    # a job of a run that no layer or action span caught: its innermost span
    # is the run's root, or it ran in a run's window outside the run's tree
    roots = {r["id"] for r in runs}
    unattributed = [
        j for j in jobs
        if j["span"] in roots
        or (j["span"] not in in_runs and any(a <= j["start"] <= b for a, b in windows))
    ]
    gap = sum(
        _dur(r) - _covered([(j["start"], j["end"]) for j in jobs_of([r])], r["start"], r["end"])
        for r in runs
    )
    commits = named("tableio.commit:")
    mentions = named("tableio.commit:mentions")
    co_edges = named("tableio.commit:co_edges")
    finalize = named("tableio.commit:nodes") + named("tableio.commit:edges")
    tracking_spans = [
        s for s in named("tracking.")
        if not s["name"].startswith("tracking.partition_metrics")
    ]
    extract_tasks = tasks_of(mentions)
    heaviest = max(
        (st["tasks"] for j in jobs_of(mentions) for st in j["stages"]),
        key=lambda ts: sum(t[0] for t in ts), default=[],
    )
    run_times = [t[0] for t in heaviest]
    return {
        "pipeline.jobs": len(run_jobs),
        "pipeline.unattributed_jobs": len(unattributed),
        "pipeline.driver_gap_s": gap,
        "tableio.commits": len(commits),
        "tableio.commit_s": sum(map(_dur, commits)),
        "tableio.read_s": sum(map(_dur, named("tableio.read:"))),
        "tableio.tag_lookups": len(named("tableio.snapshot_by_tag:") + named("tableio.has_tag:")),
        "tableio.written_mb": sum(s.get("bytes", 0) for s in commits) / 2**20,
        "tracking.lineage_commits": len(named("tableio.commit:lineage")),
        "tracking.self_s": sum(
            _dur(s) - sum(map(_dur, kids.get(s["id"], []))) for s in tracking_spans
        ),
        "tracking.partition_metrics_s": sum(
            map(_dur, named("tracking.log_stage+partition_metrics"))
        ),
        "extract.commit_s": sum(map(_dur, mentions)),
        "extract.task_cpu_s": sum(t[1] for t in extract_tasks),
        "extract.tasks": len(extract_tasks),
        "extract.task_skew": (
            max(run_times) / max(statistics.median(run_times), 1e-3) if run_times else 0.0
        ),
        "materialize.co_edges_s": sum(map(_dur, co_edges)),
        "materialize.finalize_s": sum(map(_dur, finalize)),
        "materialize.shuffle_write_mb": stage_sum(co_edges + finalize, "shuffle_write") / 2**20,
        "materialize.spill_mb": stage_sum(co_edges + finalize, "spill") / 2**20,
        "canonicalize.map_s": sum(map(_dur, named("canonicalize.canonical_map"))),
    }
