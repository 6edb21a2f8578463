"""Mergeable distinct-count sketches (HLL) as first-class columns.

The reference's stats job counts distincts by full rescans (stats.py single-
node pandas); at 100 TB a distinct-count that needs the raw data again is a
non-starter. This module makes the sketch itself a column value:

- every snapshot/batch commit can carry per-group (or per-partition) HLL
  sketch rows alongside its lineage;
- cross-snapshot distinct counts = ``hll_union_agg`` over the stored sketch
  rows — NO rescan of the data, associative and commutative so any subset of
  snapshots can be merged in any order;
- estimates come from ``hll_sketch_estimate`` (Apache DataSketches HLL inside
  Spark — JVM-side, codegen-friendly, no Python).

``approx_count_distinct`` (HyperLogLog++) exists but its state is not exposed
as a value, so it cannot be merged across snapshots — the whole point here.

Error: DataSketches HLL with ``lg_k`` buckets gives ~1.04/sqrt(2^lg_k)
relative standard error (lg_k=12 -> ~1.6%); small cardinalities are exact
(coupon list/set modes before HLL promotion).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_LG_K = 12


def sketch_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """(group..., sketch binary): one HLL sketch of ``value_col`` per group
    (whole frame if no groups). One hash shuffle; sketches partial-aggregate
    map-side like any typed aggregate."""
    agg = F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")
    if group_cols:
        return df.groupBy(*group_cols).agg(agg)
    return df.agg(agg)


def merge_sketches(
    sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Union sketch rows (from any number of snapshots/partitions) into one
    sketch per group: (group..., sketch). Associative + commutative."""
    agg = F.hll_union_agg("sketch").alias("sketch")
    if group_cols:
        return sketches.groupBy(*group_cols).agg(agg)
    return sketches.agg(agg)


def estimate(sketch: Column | str) -> Column:
    """Distinct-count estimate of a sketch column."""
    return F.hll_sketch_estimate(sketch).alias("estimate")


# ------------------------------------------------------- KMV / theta sketches


KMV_K = 256
_U64 = float(2**64)
_OFF = float(2**63)


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = KMV_K,
) -> DataFrame:
    """(group..., sketch array<long>): the k minimum ``xxhash64`` values of the
    column per group — a theta/KMV sketch. Unlike HLL it supports
    INTERSECTION estimates (:func:`kmv_intersect_estimate`), the set-op the
    reference's file-diff/overlap checks need without a rescan.

    Two-phase: per-(group, input partition) k-mins first (bounds any single
    aggregation buffer by the partition's distincts), then an array merge —
    the same map-side-combine shape as a theta sketch build. A set with fewer
    than k distincts yields its FULL hash set (exact mode, theta = 1), so
    bounded domains give exact answers — the oracle trick used for HLL."""
    h = F.xxhash64(F.col(value_col).cast("string"))
    keys = list(group_cols or [])
    part = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy(*keys, "_pid")
        .agg(F.slice(F.array_sort(F.collect_set(h)), 1, k).alias("sketch"))
    )
    return kmv_merge(part, keys or None, k)


def kmv_merge(
    sketches: DataFrame, group_cols: list[str] | None = None, k: int = KMV_K
) -> DataFrame:
    """Union KMV sketch rows into one sketch per group — associative and
    commutative (k smallest of the union of k-smallest sets)."""
    merged = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("sketch")))), 1, k
    ).alias("sketch")
    if group_cols:
        return sketches.groupBy(*group_cols).agg(merged)
    return sketches.agg(merged)


def _theta(sketch: Column, k: int) -> Column:
    """Normalized sampling probability of a sketch: 1.0 in exact mode
    (fewer than k values), else the k-th smallest hash mapped to (0, 1)."""
    return F.when(F.size(sketch) < k, F.lit(1.0)).otherwise(
        (F.element_at(sketch, k).cast("double") + _OFF + 1.0) / _U64
    )


def kmv_estimate(sketch: Column | str, k: int = KMV_K) -> Column:
    """Distinct-count estimate: exact size below k, else (k-1)/theta."""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    return F.when(F.size(s) < k, F.size(s).cast("double")).otherwise(
        F.lit(float(k - 1)) / _theta(s, k)
    )


def kmv_union_estimate(a: Column, b: Column, k: int = KMV_K) -> Column:
    """Distinct-of-union estimate from two sketches (no data rescan)."""
    u = F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)
    return kmv_estimate(u, k)


def _cut_long(sketch: Column, k: int) -> Column:
    """The k-th smallest hash as an exact LONG threshold, or null in exact
    mode (no threshold — every retained hash is in the sample)."""
    return F.when(F.size(sketch) < k, F.lit(None).cast("long")).otherwise(
        F.element_at(sketch, k)
    )


def kmv_intersect_estimate(a: Column, b: Column, k: int = KMV_K) -> Column:
    """Intersection-cardinality estimate — the theta-sketch rule: count hash
    values present in BOTH sketches STRICTLY below the smaller theta, scaled
    by it. Exact when both sketches are in exact mode (theta = 1).

    The sample cut compares long hash values directly against the k-th
    smallest hash (ADVICE r3): the standard theta-sketch sample is strictly
    below theta (the k-th hash itself is the boundary, not a member), and a
    double round-trip of the threshold loses ~1024 ulp at 2^63. ``F.least``
    skips nulls, so a null (exact-mode) cut defers to the other sketch's."""
    theta = F.least(_theta(a, k), _theta(b, k))
    cut = F.least(_cut_long(a, k), _cut_long(b, k))
    matches = F.size(
        F.filter(F.array_intersect(a, b), lambda x: cut.isNull() | (x < cut))
    )
    return matches.cast("double") / theta


# ----------------------------------------------------- histogram quantiles


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., sketch array<long>): fixed-bin histogram of ``value_col``
    over [lo, hi) — the mergeable quantile sketch completing the family
    (HLL = distinct, KMV = set ops, histogram = quantiles). Values are
    clamped into range; merge = element-wise vector add, so per-snapshot
    sketch rows answer cross-snapshot quantiles without a rescan. Quantile
    error is bounded by the bin width. One hash shuffle with map-side
    partial counts; the dense array assembles from a bin->count map."""
    w = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    clamped = F.least(F.greatest(v, F.lit(float(lo))), F.lit(hi - w / 1e9))
    b = F.floor((clamped - lo) / w).cast("int").alias("_b")
    keys = list(group_cols or [])
    per_bin = df.groupBy(*keys, b).agg(F.count("*").alias("_cnt"))
    m = F.map_from_entries(F.collect_list(F.struct("_b", "_cnt")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_bins - 1)),
        lambda i: F.coalesce(F.element_at(m, i.cast("int")), F.lit(0).cast("long")),
    ).alias("sketch")
    if keys:
        return per_bin.groupBy(*keys).agg(dense)
    return per_bin.groupBy().agg(dense)


def histogram_quantiles(
    sketches: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., q, bin, left_edge): for each requested quantile, the FIRST
    bin whose cumulative count reaches q * total (deterministic left-edge
    rule — exactly mirrorable in SQL, no interpolation ties). The per-group
    work is over n_bins rows, not the data."""
    from pyspark.sql.window import Window

    keys = list(group_cols or [])
    w = (hi - lo) / n_bins
    bins = sketches.select(*keys, F.posexplode("sketch").alias("bin", "cnt"))
    win = Window.partitionBy(*keys).orderBy("bin") if keys else Window.orderBy("bin")
    cum = bins.withColumn(
        "cum", F.sum("cnt").over(win.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("total", F.sum("cnt").over(win.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
    out = None
    for q in qs:
        hit = (
            cum.filter(F.col("cum") >= F.lit(q) * F.col("total"))
            .groupBy(*keys)
            .agg(F.min("bin").alias("bin"))
            .select(
                *keys,
                F.lit(q).alias("q"),
                "bin",
                (F.lit(float(lo)) + F.col("bin") * F.lit(w)).alias("left_edge"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out
