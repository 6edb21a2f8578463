"""Mergeable HLL sketches: accuracy, associativity, cross-snapshot merge."""

from pyspark.sql import functions as F

from kg_obo_spark.functions.sketches import (
    estimate,
    merge_sketches,
    sketch_distinct,
)
from kg_obo_spark.sources.tableio import Table


def test_estimate_accuracy_large_cardinality(spark):
    n = 50_000
    df = spark.range(n * 3).select((F.col("id") % n).alias("v"))
    est = sketch_distinct(df, "v").select(estimate("sketch")).first()["estimate"]
    assert abs(est - n) / n < 0.05  # lg_k=12 -> ~1.6% RSE (3-sigma bound)


def test_partition_merge_equals_whole(spark):
    # associativity: union of per-partition sketches == one whole-frame sketch
    df = spark.range(20_000).select((F.col("id") % 3777).alias("v")).repartition(8)
    whole = sketch_distinct(df, "v").select(estimate("sketch")).first()["estimate"]
    parts = sketch_distinct(
        df.withColumn("partition_id", F.spark_partition_id()), "v", ["partition_id"]
    )
    assert parts.count() == 8
    merged = merge_sketches(parts).select(estimate("sketch")).first()["estimate"]
    assert merged == whole


def test_cross_snapshot_merge_without_rescan(spark, tmp_path):
    # two batch commits each carry their sketch rows; distinct-over-all comes
    # from merging the stored sketches, never rescanning the data
    t = Table(str(tmp_path / "sk"))
    b1 = spark.range(0, 1000).select(F.col("id").alias("v"))
    b2 = spark.range(500, 1500).select(F.col("id").alias("v"))  # 50% overlap
    t.commit(sketch_distinct(b1, "v"), mode="append")
    t.commit(sketch_distinct(b2, "v"), mode="append")
    merged = merge_sketches(t.read(spark)).select(estimate("sketch")).first()["estimate"]
    exact = b1.union(b2).distinct().count()
    assert abs(merged - exact) / exact < 0.03
    assert merged != 2000  # it deduplicates across snapshots, not a row sum


def test_kmv_exact_mode_and_merge(spark):
    """Bounded domain (< k distincts): KMV sketches are exact for size, union
    AND intersection; shard-merged sketch == whole-frame sketch."""
    from pyspark.sql import functions as F

    from kg_obo_spark.functions.sketches import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_merge,
        kmv_sketch,
        kmv_union_estimate,
    )

    rows = [(i, "click" if i % 3 else "purchase") for i in range(3000)]
    df = spark.createDataFrame(rows, "uid long, et string").withColumn(
        "bucket", F.pmod("uid", F.lit(150))
    ).repartition(8)
    sk = kmv_sketch(df, "bucket", ["et"])
    est = {r["et"]: r["e"] for r in sk.select("et", kmv_estimate("sketch").alias("e")).collect()}
    true_click = df.filter("et='click'").select("bucket").distinct().count()
    true_pur = df.filter("et='purchase'").select("bucket").distinct().count()
    assert est["click"] == float(true_click)
    assert est["purchase"] == float(true_pur)
    # shard-merge associativity: sketch built per shard then merged == direct
    sharded = kmv_sketch(
        df.withColumn("shard", F.pmod("uid", F.lit(5))), "bucket", ["et", "shard"]
    )
    remerged = kmv_merge(sharded, ["et"])
    a = {r["et"]: list(r["sketch"]) for r in sk.collect()}
    b = {r["et"]: list(r["sketch"]) for r in remerged.collect()}
    assert a == b
    # exact union / intersection vs recomputed truth
    two = (
        sk.groupBy()
        .pivot("et", ["click", "purchase"])
        .agg(F.first("sketch"))
    )
    got = two.select(
        kmv_union_estimate(F.col("click"), F.col("purchase")).alias("u"),
        kmv_intersect_estimate(F.col("click"), F.col("purchase")).alias("i"),
    ).first()
    cl = {r["bucket"] for r in df.filter("et='click'").select("bucket").distinct().collect()}
    pu = {r["bucket"] for r in df.filter("et='purchase'").select("bucket").distinct().collect()}
    assert got["u"] == float(len(cl | pu))
    assert got["i"] == float(len(cl & pu))


def test_kmv_estimation_mode_accuracy(spark):
    """Above k distincts the estimate enters theta mode: within ~10% rel err
    at k=256 over 20k distincts (deterministic hash, no flake)."""
    from pyspark.sql import functions as F

    from kg_obo_spark.functions.sketches import kmv_estimate, kmv_sketch

    df = spark.range(20000).toDF("uid").repartition(8)
    est = kmv_sketch(df, "uid").select(kmv_estimate("sketch").alias("e")).first()["e"]
    assert abs(est - 20000) / 20000 < 0.10


def test_histogram_sketch_merge_and_quantiles(spark):
    """Per-group histograms count every row; quantile bins match a
    brute-force rank computation under the same left-edge rule."""
    from pyspark.sql import functions as F

    from kg_obo_spark.functions.sketches import (
        histogram_quantiles,
        histogram_sketch,
    )

    N, BINS, LO, HI = 4000, 32, 0.0, 100.0
    df = spark.range(N).select(
        (F.pmod(F.col("id") * 37, F.lit(100)) + 0.5).alias("v"),
        F.pmod("id", F.lit(3)).alias("g"),
    ).repartition(8)
    direct = {r["g"]: list(r["sketch"]) for r in
              histogram_sketch(df, "v", LO, HI, BINS, ["g"]).collect()}
    assert all(sum(s) == N // 3 + (1 if g < N % 3 else 0) for g, s in direct.items())

    sk = histogram_sketch(df, "v", LO, HI, BINS, ["g"])
    got = {(r["g"], r["q"]): r["bin"] for r in
           histogram_quantiles(sk, [0.5, 0.95], LO, HI, BINS, ["g"]).collect()}
    # brute force with the identical rule
    rows = df.collect()
    import math
    for g in (0, 1, 2):
        vals = sorted(min(max(r["v"], LO), HI - 1e-7) for r in rows if r["g"] == g)
        binw = (HI - LO) / BINS
        counts = [0] * BINS
        for v in vals:
            counts[int((v - LO) // binw)] += 1
        for q in (0.5, 0.95):
            cum, target = 0, q * len(vals)
            for b, c in enumerate(counts):
                cum += c
                if cum >= target:
                    assert got[(g, q)] == b
                    break


def test_kmv_intersect_estimation_mode_accuracy(spark):
    """ADVICE r3: the intersect cut compares long hashes strictly against the
    k-th smallest (no double round-trip). Estimation mode (k << distincts)
    must land near the true overlap."""
    from pyspark.sql import functions as F

    from kg_obo_spark.functions.sketches import kmv_intersect_estimate, kmv_sketch

    a = spark.range(0, 6000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    b = spark.range(4000, 10000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    ka = kmv_sketch(a, "v", k=256).withColumnRenamed("sketch", "sa")
    kb = kmv_sketch(b, "v", k=256).withColumnRenamed("sketch", "sb")
    est = (
        ka.crossJoin(kb)
        .select(kmv_intersect_estimate(F.col("sa"), F.col("sb"), k=256).alias("i"))
        .first()["i"]
    )
    assert abs(est - 2000) / 2000 < 0.35  # true overlap = 2000
