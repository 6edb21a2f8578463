"""Benchmark of what users run: ``run_pipeline`` on seeded KG-build workloads.

Run from the repository root:

    python3 perfbench/run.py --workload crash_resume --seed 1 --seconds 1 --trace 0

Each run is one closed-loop client in one process: a SparkSession on
``local[nproc]`` with ``nproc`` shuffle partitions drives
``kg_obo_spark.plans.pipeline.run_pipeline`` (the function
``scripts/submit_pipeline.py`` wraps) over a parquet corpus generated from
``--seed``. A workload iteration is the workload's run_pipeline calls into a
fresh output root; iterations repeat until ``--seconds`` have passed, and
the first is the first run_pipeline call of its JVM, as in a spark-submit.
Every committed KG is compared with a reference built by the stripped
dataflow, which is itself checked against the pure-Python oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces the first
iteration, measures the tracing overhead on two more, runs the matcher and
scan probes, and prints the per-layer metrics. Lines starting with ``#``
describe the run; the last stdout line is one JSON object. The exit code is
non-zero when any output was wrong.

Everything a run writes stays under ``.perfbench/`` in the working
directory: its scratch dir (removed at exit), the cached oracle gate result,
and the span dump of traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

# Why each workload exists is recorded in perfbench/BASELINE.md.
WORKLOADS = {
    "multilingual_build": dict(convs=3000, buckets=8, batch=None, fail_after=None, per_mille=10),
    "crash_resume": dict(convs=1000, buckets=2, batch=1, fail_after=1, per_mille=0),
}
SETUP_REPS = 3
DRIVER_MEM = "2g"
RSS_INTERVAL_S = 0.1


def _declared() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and per-layer metrics BENCHMARK.json declares."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


END_TO_END, PER_LAYER = _declared()


# ------------------------------------------------------------------ host


def pin_host(root: str, run_dir: str) -> dict:
    """Environment for the library and its JVM/Python workers, set before
    pyspark is imported: nproc cores, a fixed driver heap, and every scratch
    directory inside ``run_dir``."""
    nproc = len(os.sched_getaffinity(0))
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher's too: no hsperfdata in /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    })
    sys.path.insert(0, root)
    return {"nproc": nproc, "driver_mem": DRIVER_MEM, "scratch_fs": _fs_type(run_dir)}


def _fs_type(path: str) -> str:
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, kind = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, kind
    return fs


def _tree_rss(root_pid: int) -> dict[str, list[int]]:
    """{command name: [processes, summed RSS bytes]} over a process tree.

    RSS comes from ``/proc/<pid>/stat``, which costs microseconds. PSS would
    discount the copy-on-write pages forked Python workers share, but reading
    it walks the JVM's page tables under its memory-map lock, ~10 ms a
    sample on a 2 GiB heap, which slows the process being measured.

    A child whose virtual size and RSS are within 1% of its parent's is the
    parent's image between fork and exec (the JVM spawns helpers that way);
    it is skipped, or the JVM's heap would count twice. The two are read a
    few microseconds apart, hence the tolerance."""
    page = os.sysconf("SC_PAGE_SIZE")
    procs: dict[int, tuple[int, str, int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()  # fields[k] is stat field k + 3: vsize 23, rss 24
        procs[int(name)] = (
            int(fields[1]), head.split("(", 1)[1], int(fields[20]), int(fields[21]) * page
        )
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out: dict[str, list[int]] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if pid not in procs:
            continue
        ppid, comm, vsize, rss = procs[pid]
        if pid != root_pid and ppid in procs and _close(procs[ppid][2:], (vsize, rss)):
            continue
        acc = out.setdefault(comm, [0, 0])
        acc[0] += 1
        acc[1] += rss
    return out


def _close(a: tuple[int, ...], b: tuple[int, ...]) -> bool:
    return all(abs(x - y) <= x / 100 for x, y in zip(a, b))


def _stolen_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Peak summed RSS of this process and all its descendants (JVM and
    Python workers), sampled every RSS_INTERVAL_S while the context is open.
    ``at_peak`` breaks the peak sample down by command name."""

    def __enter__(self):
        self.peak, self.at_peak = 0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        pid = os.getpid()
        while True:
            tree = _tree_rss(pid)
            total = sum(b for _, b in tree.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = {k: [n, round(b / 2**20)] for k, (n, b) in tree.items()}
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def start_spark(run_dir: str, nproc: int):
    from kg_obo_spark.session import get_spark

    wh, tmp = os.path.join(run_dir, "warehouse"), os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={wh} -Djava.io.tmpdir={tmp}",
            # keep every job of a run in the status store the tracer reads
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the SparkContext and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- set-up


def setup(run_dir: str, nproc: int) -> tuple:
    """SparkSession start, then ontology + matcher build (median of
    SETUP_REPS). Returns (spark, onto, figures).

    There is no warm-up run_pipeline: the first timed call is the first of
    its JVM, as in a spark-submit of ``scripts/submit_pipeline.py``, so the
    JIT and class-loading cost a batch user pays on every submit lands in
    ``wall_s``, not in set-up."""
    t0 = time.perf_counter()
    spark = start_spark(run_dir, nproc)
    session_s = time.perf_counter() - t0

    from kg_obo_spark.datagen.ontology import build_ontology
    from kg_obo_spark.dictionary import build_matcher, get_matcher
    from perfbench.corpus import N_TERMS

    onto_s, matcher_s = [], []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        onto = build_ontology(n_terms=N_TERMS)
        t1 = time.perf_counter()
        build_matcher(onto).find_batch_columnar(["warm up the scanner"])
        onto_s.append(t1 - t)
        matcher_s.append(time.perf_counter() - t1)
    get_matcher(onto).find_batch_columnar(["warm up the scanner"])  # probe's copy

    figures = {
        "session_s": session_s,
        "ontology_s": statistics.median(onto_s),
        "matcher_s": statistics.median(matcher_s),
    }
    figures["setup_s"] = sum(figures.values())
    return spark, onto, figures


# --------------------------------------------------------------- workload


class Workload:
    def __init__(self, name: str, spark, onto, path: str, ref: tuple, run_dir: str):
        self.name, self.spark, self.onto, self.path = name, spark, onto, path
        self.cfg = WORKLOADS[name]
        self.ref_edges, self.ref_nodes = ref
        self.run_dir = run_dir
        self.calls = 0

    def _call(self, out_root: str, tracer, **kw):
        from kg_obo_spark.plans.pipeline import run_pipeline

        self.calls += 1
        run_id = f"{self.name}-{self.calls}"
        if tracer is not None:
            tracer.run_id = run_id
        transcripts = self.spark.read.parquet(self.path)  # the caller's read, as in a submit
        with tracer.span("pipeline.run_pipeline") if tracer else nullcontext():
            return run_pipeline(
                self.spark, transcripts, self.onto, out_root,
                run_id=run_id, n_buckets=self.cfg["buckets"],
                unit_batch_size=self.cfg["batch"], **kw,
            )

    def iteration(self, tracer=None) -> dict:
        """One workload pass into a fresh output root, checked and removed."""
        from perfbench.corpus import EDGE_COLS, rows
        from perfbench.tracer import du_bytes

        out_root = os.path.join(self.run_dir, f"out-{self.calls}")
        fail_after = self.cfg["fail_after"]
        stolen = _stolen_s()
        with PeakRss() as rss:
            t0 = t1 = time.perf_counter()
            if fail_after:
                try:
                    self._call(out_root, tracer, fail_after_batches=fail_after)
                except RuntimeError as ex:
                    if "injected failure" not in str(ex):
                        raise
                else:
                    raise RuntimeError("the injected failure did not fire")
                t1 = time.perf_counter()
            res = self._call(out_root, tracer)
            t2 = time.perf_counter()
        problems = []
        if rows(res.edges, EDGE_COLS) != self.ref_edges:
            problems.append("committed edges differ from the reference")
        if {r[0] for r in rows(res.nodes, ["id"])} != self.ref_nodes:
            problems.append("committed node ids differ from the reference")
        if fail_after and len(res.units_skipped) != fail_after:
            problems.append(f"resume skipped {len(res.units_skipped)} units, not {fail_after}")
        out_mb = du_bytes(out_root) / 2**20
        shutil.rmtree(out_root, ignore_errors=True)
        return {
            "wall_s": t2 - t0, "resume_s": t2 - t1,
            "triples_per_s": len(self.ref_edges) / (t2 - t0),
            "out_mb": out_mb, "peak_rss_mb": rss.peak / 2**20,
            "units_skipped": len(res.units_skipped), "problems": problems,
            "rss_at_peak_mb": rss.at_peak, "stolen_cpu_s": _stolen_s() - stolen,
        }


# ------------------------------------------------------------------ probes


def arrow_batches(inputs: list) -> list[list[str]]:
    """The texts of each Arrow batch the pipeline's extraction scan forms.

    ``inputs`` are the DataFrames run_pipeline handed to extract_mentions.
    Each is planned as extract_mentions plans it (``ensure_scan_parallelism``,
    then one Arrow map over the partitions), so Spark cuts the same
    partitions into the same maxRecordsPerBatch-row batches; the map here
    returns each batch's texts whole."""
    import pyarrow as pa

    from kg_obo_spark.partitioning import ensure_scan_parallelism

    def whole(batches):
        for rb in batches:
            texts = rb.column(rb.schema.get_field_index("text")).to_pylist()
            yield pa.record_batch([pa.array([texts], pa.list_(pa.string()))], names=["texts"])

    out = []
    for df in inputs:
        scan = ensure_scan_parallelism(df.select("conv_id", "turn_idx", "text"))
        out += scan.mapInArrow(whole, "texts array<string>").toArrow().column("texts").to_pylist()
    return out


def matcher_probe(onto, batches: list[list[str]]) -> dict:
    """Single-thread matcher over the pipeline's own Arrow batches: the fast
    columnar path where it serves the batch, the regex path otherwise. The
    regex rate is measured on every batch; a batch fastscan serves gets one
    accented row appended, the input shape that sends a batch to that path."""
    from kg_obo_spark.dictionary import get_matcher
    from perfbench.corpus import ACCENTED

    m = get_matcher(onto)
    kernel = fast_t = regex_t = 0.0
    fast_rows = regex_batches = 0
    rows = sum(map(len, batches))
    for batch in batches:
        t = time.perf_counter()
        served = m.find_batch_columnar(batch, best_only=True, need_surface=True)
        dt_fast = time.perf_counter() - t
        t = time.perf_counter()
        m.find_batch(batch if served is None else batch + [ACCENTED[0]])
        dt_regex = time.perf_counter() - t
        regex_t += dt_regex
        if served is not None:
            fast_t += dt_fast
            fast_rows += len(batch)
            kernel += dt_fast
        else:
            kernel += dt_fast + dt_regex
            regex_batches += 1
    return {
        "matcher.kernel_s": kernel,
        "matcher.fast_rows_per_s": fast_rows / fast_t if fast_t else 0.0,
        "matcher.regex_rows_per_s": rows / regex_t if regex_t else 0.0,
        "matcher.fastpath_row_share": fast_rows / max(1, rows),
        "matcher.regex_batch_share": regex_batches / max(1, len(batches)),
        "extract.arrow_batches": len(batches),
    }


def scan_task_s(spark, tracer, onto, path: str) -> float:
    """Summed task time of a noop-sink extract_mentions job over a corpus."""
    from kg_obo_spark.operators.extract import extract_mentions

    since = time.time()
    with tracer.span("probe.scan") as rec:
        extract_mentions(spark.read.parquet(path), onto).write.mode(
            "overwrite"
        ).format("noop").save()
    return sum(
        t[0] for j in tracer.jobs(since) if j["span"] == rec["id"]
        for st in j["stages"] for t in st["tasks"]
    )


def dataflow_s(spark, onto, cdict, path: str) -> float:
    """Warm wall of the stripped dataflow the frozen bench.py times."""
    from perfbench.corpus import dataflow

    t = time.perf_counter()
    pt, edges = dataflow(spark.read.parquet(path), onto, cdict)
    pt = pt.persist()
    pt.count()
    edges.count()
    wall = time.perf_counter() - t
    pt.unpersist()
    return wall


# -------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kg_obo_spark", "plans", "pipeline.py")):
        print("perfbench: run from the repository root (kg_obo_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    cache = os.path.join(work, "cache")
    os.makedirs(cache, exist_ok=True)
    host = pin_host(root, run_dir)
    spark = None
    try:
        spark, onto, setup_fig = setup(run_dir, host["nproc"])
        return measure(args, spark, onto, setup_fig, host, work, cache, run_dir)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spark, onto, setup_fig, host, work, cache, run_dir) -> int:
    import pyspark

    from perfbench import corpus

    cfg = WORKLOADS[args.workload]
    phases, t = {}, time.perf_counter()

    def lap(name):
        nonlocal t
        now = time.perf_counter()
        phases[name] = now - t
        t = now

    base, path = corpus.corpus(
        spark, run_dir, onto, cfg["convs"], args.seed, cfg["per_mille"], twin=bool(args.trace)
    )
    lap("corpus")
    cdict = corpus.canon_dict(spark, onto)
    ref = corpus.reference(spark, path, onto, cdict)
    lap("reference")
    gate = []
    # only traced runs write the twin of a non-ASCII corpus: checking it costs
    # a second corpus and reference pass, and the scan probe needs it anyway
    if base not in (None, path) and corpus.reference(spark, base, onto, cdict) != ref:
        gate.append("the non-ASCII corpus' reference differs from its ASCII twin's")
    lap("ascii_twin_reference")
    oracle = corpus.oracle_gate(spark, cache, onto, cdict)
    if oracle["dataflow_pr"] != (1.0, 1.0) or not oracle["non_ascii_turns"]:
        gate.append(f"dataflow vs oracle on the sample: {oracle}")
    lap("oracle_gate")
    inputs = corpus.stats(spark, path)
    lap("stats")
    info = {
        "workload": args.workload, "seed": args.seed, **cfg,
        "inputs": inputs, "phases_s": phases, "triples": len(ref[0]), "nodes": len(ref[1]),
        "oracle": oracle,
        "host": {
            **host, "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        },
        "setup": setup_fig,
    }
    print("# " + json.dumps(info, sort_keys=True))

    wl = Workload(args.workload, spark, onto, path, ref, run_dir)
    if args.trace:
        metrics, results = traced(spark, onto, cdict, wl, base, path, setup_fig, work)
        units = PER_LAYER
    else:
        results = []
        t_start = time.perf_counter()
        while not gate and (not results or time.perf_counter() - t_start < args.seconds):
            results.append(attempt(wl.iteration))
        ok = [r for r in results if not r["problems"]]
        metrics = {
            k: statistics.median(r[k] for r in ok) if ok else 0.0
            for k in END_TO_END if k != "setup_s"
        }
        metrics["setup_s"] = setup_fig["setup_s"]
    attempted = max(1, len(results))
    failed = sum(bool(r["problems"]) for r in results)
    if not args.trace:
        metrics["failed_share"] = failed / attempted
        units = {**END_TO_END, "failed_share": "ratio"}
    for k, v in metrics.items():
        print(f"# {k:32s} {v:14.4f} {units[k]}")
    metrics.pop("failed_share", None)
    out = {
        "correct": not gate and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    if gate:
        print(f"# correctness gate failed: {gate}", file=sys.stderr)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def attempt(fn) -> dict:
    """One workload iteration; an exception is recorded as a failed run."""
    try:
        r = fn()
    except Exception as ex:  # a failed run is counted, not fatal
        traceback.print_exc()
        r = {"problems": [f"{type(ex).__name__}: {ex}"]}
    if r["problems"]:
        print(f"# run failed: {r['problems']}", file=sys.stderr)
    else:
        print("# iteration " + json.dumps(r, sort_keys=True))
    return r


def traced(spark, onto, cdict, wl, base, path, setup_fig, work) -> tuple[dict, list]:
    """Three iterations and the probes; returns (per-layer figures, results).

    The per-layer figures come from the first iteration, traced, because it
    is the cold first call that ``wall_s`` times. The overhead is the second
    iteration, traced, minus the third, untraced. The JIT is still warming
    up, so this order overstates the overhead rather than hiding it."""
    from perfbench.tracer import Tracer, layer_metrics

    tracer = Tracer(spark)
    tracer.install()

    def run(with_spans: bool) -> dict:
        tracer.active = with_spans
        try:
            return attempt(lambda: wl.iteration(tracer if with_spans else None))
        finally:
            tracer.active = False

    try:
        since = time.time()
        first = run(True)
        jobs = tracer.jobs(since)
        layer = layer_metrics(tracer.spans, jobs)
        scan_inputs = list(tracer.scan_inputs)
        traced_warm, plain = run(True), run(False)
    finally:
        tracer.uninstall()
    results = [first, traced_warm, plain]
    if any(r["problems"] for r in results):
        return {k: 0.0 for k in PER_LAYER}, results

    scan = scan_task_s(spark, tracer, onto, path)
    scan_ascii = scan if base == path else scan_task_s(spark, tracer, onto, base)
    layer.update(matcher_probe(onto, arrow_batches(scan_inputs)))
    flow = dataflow_s(spark, onto, cdict, path)
    layer.update({
        "trace.overhead_s": traced_warm["wall_s"] - plain["wall_s"],
        "extract.scan_task_s": scan,
        "extract.scan_ratio_vs_ascii": scan / scan_ascii,
        "extract.boundary_s": scan - layer["matcher.kernel_s"],
        "pipeline.dataflow_s": flow,
        "pipeline.dataflow_ratio": plain["wall_s"] / flow,
        "matcher.build_s": setup_fig["matcher_s"],
        "session.start_s": setup_fig["session_s"],
    })
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    with open(os.path.join(work, "traces", f"{wl.name}-{os.getpid()}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "jobs": jobs}, f)
    return {k: layer[k] for k in PER_LAYER}, results


if __name__ == "__main__":
    sys.exit(main())
