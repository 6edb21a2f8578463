"""Round-8 optimization harness (bench.py is FROZEN for measurement — this
file carries the extra per-stage isolation probes, per guide §1.4).

Modes:
  python bench_extra.py headline [reps]     - per-query noop timing (same
                                              methodology as bench.py, but
                                              configurable reps and no pipeline)
  python bench_extra.py minhash-stages      - stage isolation of the production
                                              minhash path (signatures /
                                              banding+pairs / verify join)
  python bench_extra.py mentions-stages     - extraction scan vs distinct vs
                                              pair expansion for kg_mentions /
                                              kg_comention_edges
  python bench_extra.py plans <outdir>      - .explain("formatted") of every
                                              headline query into <outdir>
  python bench_extra.py run-pipeline [reps] - run_pipeline on perfbench's
                                              generator (20k conversations,
                                              seed 1, n_buckets=8, one unit
                                              batch) at per_mille 0 and 1:
                                              turns/s, triples/s, jobs per
                                              unit batch, run_pipeline ÷
                                              stripped dataflow

Data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 — the
driver's round-7 measurement scale), cores from $SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import nullcontext, redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "kg_mentions",
    "kg_comention_edges",
    "q1_pricing_summary",
    "revenue_by_segment",
    "window_latest",
    "text_quality",
    "dedup_exact",
    "dedup_minhash",
    "ann_cosine_topk",
    "multimodal_payload",
]


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _spark():
    from kg_obo_spark.session import get_spark

    return get_spark(app_name="bench-extra", master=f"local[{CPUS}]")


def _headline_queries():
    import __spark_entry__ as entrymod
    from kg_obo_spark.operators.dedup import minhash_near_duplicates

    qs = entrymod.all_queries()

    def _prod_minhash(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_near_duplicates(d, num_hashes=32, bands=8, threshold=0.3)

    return {**qs, "dedup_minhash": _prod_minhash}


def run_headline(reps: int = 3, names=None) -> None:
    spark = _spark()
    qs = _headline_queries()
    out = {}
    for name in names or HEADLINE:
        spark.sparkContext.setJobDescription(f"headline:{name}")
        samples = []
        for _ in range(reps):
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            samples.append(round(time.time() - t0, 3))
        out[name] = {"best": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "queries": out}))


def run_minhash_stages(reps: int = 3) -> None:
    """Isolate the production minhash path: signature Arrow stage alone, then
    banding+pair expansion from checkpointed signatures, then the verify
    join, then the full operator."""
    from pyspark.sql import functions as F

    from kg_obo_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_near_duplicates,
        minhash_signatures,
    )

    spark = _spark()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = d.count()
    res = {"n_docs": n_docs}

    def best(fn, label):
        samples = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            samples.append(round(time.time() - t0, 3))
        res[label] = {"best": min(samples), "samples": samples}
        print(json.dumps({label: res[label]}), file=sys.stderr)

    spark.sparkContext.setJobDescription("minhash: signatures only")
    best(
        lambda: _noop(minhash_signatures(d, num_hashes=32, shingle_k=3)),
        "signatures_noop",
    )

    sigs = minhash_signatures(d, num_hashes=32, shingle_k=3).localCheckpoint()
    sigs.count()
    spark.sparkContext.setJobDescription("minhash: banding+pairs from ckpt sigs")
    best(lambda: _noop(minhash_lsh_pairs(sigs, bands=8)), "lsh_pairs_noop")

    spark.sparkContext.setJobDescription("minhash: verify join from ckpt sigs")
    sa = sigs.select(F.col("doc_id").alias("a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("b"), F.col("signature").alias("sig_b"))
    cands = minhash_lsh_pairs(sigs, bands=8).localCheckpoint()
    cands.count()

    def verify():
        joined = cands.join(sa, "a").join(sb, "b")
        est = (
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            )
            / F.size("sig_a")
        )
        _noop(
            joined.select("a", "b", F.round(est, 6).alias("est_jaccard")).filter(
                F.col("est_jaccard") >= 0.3
            )
        )

    best(verify, "verify_noop")

    spark.sparkContext.setJobDescription("minhash: full operator")
    best(
        lambda: _noop(
            minhash_near_duplicates(d, num_hashes=32, bands=8, threshold=0.3)
        ),
        "full_noop",
    )
    print(json.dumps({"sf_dir": SF_DIR, "minhash_stages": res}))


def run_mentions_stages(reps: int = 3) -> None:
    """Isolate kg_mentions / kg_comention_edges: raw scan read, extraction
    Arrow stage, distinct, per-turn reduce + pair expansion + distinct."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    spark = _spark()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    res = {"n_docs": docs.count()}

    def best(fn, label):
        samples = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            samples.append(round(time.time() - t0, 3))
        res[label] = {"best": min(samples), "samples": samples}
        print(json.dumps({label: res[label]}), file=sys.stderr)

    spark.sparkContext.setJobDescription("mentions: raw docs noop")
    best(lambda: _noop(docs.select("doc_id", "text")), "docs_read_noop")

    spark.sparkContext.setJobDescription("mentions: extraction scan only")
    best(lambda: _noop(entrymod._doc_mentions(spark, SF_DIR)), "extract_noop")

    spark.sparkContext.setJobDescription("mentions: extract + distinct")
    best(
        lambda: _noop(entrymod.q_kg_mentions(spark, SF_DIR)),
        "kg_mentions_noop",
    )

    spark.sparkContext.setJobDescription("comention: full")
    best(
        lambda: _noop(entrymod.q_kg_comention_edges(spark, SF_DIR)),
        "kg_comention_noop",
    )
    print(json.dumps({"sf_dir": SF_DIR, "mentions_stages": res}))


def run_pipeline_stages(reps: int = 3) -> None:
    """Isolate the kg_pipeline legs on the cached bench corpus: the fused
    extraction scan alone (noop), extract+persist+count, and the edge
    expansion + distinct count on a pre-persisted per-turn frame."""
    import bench as benchmod
    from kg_obo_spark.operators.canonicalize import canonical_map
    from kg_obo_spark.operators.extract import extract_turn_terms
    from kg_obo_spark.operators.materialize import edges_from_per_turn

    spark = _spark()
    onto = benchmod._bench_ontology()
    tpath = benchmod._ensure_transcripts(spark, benchmod.BENCH_CONVS)
    tr = spark.read.parquet(tpath)
    eq = spark.createDataFrame(onto.xrefs, "a string, b string")
    terms_df = spark.createDataFrame([(t["id"],) for t in onto.terms], "id string")
    cdict = {
        r["term_id"]: r["canonical_id"] for r in canonical_map(terms_df, eq).collect()
    }
    _noop(extract_turn_terms(tr.limit(2000), onto, cdict))  # warmup
    res = {"partitions": tr.rdd.getNumPartitions()}

    def best(fn, label):
        samples = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            samples.append(round(time.time() - t0, 3))
        res[label] = {"best": min(samples), "samples": samples}
        print(json.dumps({label: res[label]}), file=sys.stderr)

    spark.sparkContext.setJobDescription("pipeline: fused scan noop")
    best(lambda: _noop(extract_turn_terms(tr, onto, cdict)), "scan_noop")

    spark.sparkContext.setJobDescription("pipeline: scan persist+count")

    def persist_count():
        pt = extract_turn_terms(tr, onto, cdict).persist()
        pt.count()
        pt.unpersist()

    best(persist_count, "scan_persist_count")

    pt = extract_turn_terms(tr, onto, cdict).persist()
    pt.count()
    spark.sparkContext.setJobDescription("pipeline: edges from persisted pt")
    best(lambda: edges_from_per_turn(pt, onto).count(), "edges_count")
    pt.unpersist()
    print(json.dumps({"pipeline_stages": res}))


def run_pipeline_probe(reps: int = 3) -> None:
    """``run_pipeline`` as a user runs it, on perfbench's corpus generator:
    20k conversations, seed 1, ``n_buckets=8``, all pending units in one
    batch, all-ASCII (``per_mille`` 0) and with an accented sentence in ~1
    turn per 1000 (``per_mille`` 1). Per corpus, one traced warm-up call
    counts the jobs (perfbench's tracer: a unit batch's jobs are those under
    its ``co_edges`` commit and its ``mark_units_done``, plus a ``mentions``
    commit on versions that still write one), then ``reps``
    untraced calls and ``reps`` stripped-dataflow passes are timed; figures
    are medians. Prints one JSON line per corpus."""
    import shutil
    import statistics
    import tempfile

    from kg_obo_spark.datagen.ontology import build_ontology
    from kg_obo_spark.plans.pipeline import run_pipeline
    from perfbench import corpus as pc
    from perfbench.run import dataflow_s
    from perfbench.tracer import Tracer, layer_metrics

    BATCH_SPANS = (
        "tableio.commit:co_edges", "tableio.commit:mentions", "tracking.mark_units_done",
    )
    spark = _spark()
    onto = build_ontology(n_terms=pc.N_TERMS)
    cdict = pc.canon_dict(spark, onto)
    work = tempfile.mkdtemp(prefix="bench-extra-run-pipeline-")
    tracer = Tracer(spark)
    tracer.install()

    def call(path: str, traced: bool = False) -> tuple[float, int]:
        """One run into a fresh output root: (wall s, committed triples)."""
        out = os.path.join(work, "out")
        tracer.active = traced
        try:
            t = time.perf_counter()
            with tracer.span("pipeline.run_pipeline") if traced else nullcontext():
                res = run_pipeline(spark, spark.read.parquet(path), onto, out, n_buckets=8)
            wall = time.perf_counter() - t
            tracer.active = False
            return wall, res.edges.count()
        finally:
            tracer.active = False
            shutil.rmtree(out, ignore_errors=True)

    try:
        for per_mille in (0, 1):
            _, path = pc.corpus(spark, work, onto, 20_000, 1, per_mille, twin=False)
            turns = spark.read.parquet(path).count()
            since = time.time()
            triples = call(path, traced=True)[1]
            jobs = tracer.jobs(since)
            span_of = {s["id"]: s for s in tracer.spans}

            def in_batch(job) -> bool:
                s = span_of.get(job["span"])
                while s is not None:
                    if s["name"] in BATCH_SPANS:
                        return True
                    s = span_of.get(s["parent"])
                return False

            walls = [call(path)[0] for _ in range(reps)]
            flows = [dataflow_s(spark, onto, cdict, path) for _ in range(reps)]
            wall, flow = statistics.median(walls), statistics.median(flows)
            print(json.dumps({
                "per_mille": per_mille, "turns": turns, "triples": triples,
                "run_pipeline_s": round(wall, 3), "dataflow_s": round(flow, 3),
                "turns_per_s": round(turns / wall, 1),
                "triples_per_s": round(triples / wall, 1),
                "jobs": layer_metrics(tracer.spans, jobs)["pipeline.jobs"],
                "jobs_per_unit_batch": sum(map(in_batch, jobs)),
                "dataflow_ratio": round(wall / flow, 3),
                "walls": [round(w, 3) for w in walls],
                "flows": [round(f, 3) for f in flows],
            }))
    finally:
        tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)


def run_rev_stages(reps: int = 3) -> None:
    """Isolate revenue_by_segment: lineitem scan, orders broadcast build via a
    join probe, the full query."""
    from pyspark.sql import functions as F

    spark = _spark()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    res = {"li_parts": li.rdd.getNumPartitions(), "o_parts": o.rdd.getNumPartitions()}

    def best(fn, label):
        samples = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            samples.append(round(time.time() - t0, 3))
        res[label] = {"best": min(samples), "samples": samples}
        print(json.dumps({label: res[label]}), file=sys.stderr)

    best(
        lambda: _noop(li.select("l_orderkey", "l_extendedprice", "l_discount")),
        "li_scan",
    )
    best(lambda: _noop(o.select("o_orderkey", "o_custkey")), "o_scan")
    best(
        lambda: _noop(
            li.join(o, li.l_orderkey == o.o_orderkey).select(
                "l_extendedprice", "o_custkey"
            )
        ),
        "li_join_o",
    )
    best(
        lambda: _noop(
            li.groupBy("l_orderkey").agg(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"),
                F.count("*").alias("n"),
            )
        ),
        "li_preagg",
    )
    import __spark_entry__ as entrymod

    best(
        lambda: _noop(entrymod.q_revenue_by_segment(spark, SF_DIR)),
        "full",
    )
    print(json.dumps({"rev_stages": res}))


def dump_plans(outdir: str, names=None) -> None:
    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    qs = _headline_queries()
    for name in names or HEADLINE:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "headline"
    if mode == "headline":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        names = sys.argv[3].split(",") if len(sys.argv) > 3 else None
        run_headline(reps, names)
    elif mode == "minhash-stages":
        run_minhash_stages()
    elif mode == "mentions-stages":
        run_mentions_stages()
    elif mode == "pipeline-stages":
        run_pipeline_stages()
    elif mode == "rev-stages":
        run_rev_stages()
    elif mode == "run-pipeline":
        run_pipeline_probe(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif mode == "plans":
        outdir = sys.argv[2] if len(sys.argv) > 2 else "plans/r08_scratch"
        names = sys.argv[3].split(",") if len(sys.argv) > 3 else None
        dump_plans(outdir, names)
    else:
        raise SystemExit(f"unknown mode {mode}")
