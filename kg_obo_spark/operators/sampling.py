"""Deterministic sampling operators for training-data pipelines.

Random samplers (``df.sample``, ``TABLESAMPLE``) are irreproducible across
engines, partitionings, and reruns. Large-scale corpus work wants
HASH-MOD sampling instead: a row is in the sample iff
``hash(key) % M < k`` — the same rows come back on every engine, every
partitioning, and every rerun; disjoint (k, offset) slices give
train/val/test splits that never leak; and the filter is a pure map-side
projection (no shuffle, no state, no RNG seeds to thread through a DAG).

The hash is the first 8 hex chars of md5(key) — md5 is bit-identical in
every engine (Spark ``F.md5``, DuckDB ``md5``), which makes the sample
exactly SQL-oracle-able, unlike engine-specific xxhash64.

100 TB shape: a codegen projection + filter over the scan — sampling never
pays more than the read itself, and column pruning/pushdown still apply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: modulus for the sampling buckets; 10_000 gives 0.01%-granular rates
SAMPLE_MOD = 10_000


def sample_bucket(key_col: Column) -> Column:
    """Deterministic bucket in [0, SAMPLE_MOD): first 8 md5 hex chars of the
    stringified key, parsed as an integer, mod SAMPLE_MOD. Engine-portable."""
    return F.conv(F.substring(F.md5(key_col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % SAMPLE_MOD


def hash_mod_sample(
    df: DataFrame, key_col: str, rate_bp: int, offset_bp: int = 0
) -> DataFrame:
    """Keep rows whose key hashes into ``[offset_bp, offset_bp + rate_bp)``
    of the SAMPLE_MOD bucket space (bp = basis-point-of-10000 buckets).
    Disjoint offsets give leak-free splits: e.g. train = (9000, 0),
    val = (500, 9000), test = (500, 9500).

    The window must fit inside the bucket space: an interval sticking past
    ``SAMPLE_MOD`` silently undersamples (buckets wrap, the filter doesn't),
    which would break the leak-free-split guarantee (ADVICE r5 low)."""
    if not (0 <= offset_bp and 0 <= rate_bp and offset_bp + rate_bp <= SAMPLE_MOD):
        raise ValueError(
            f"sample window [{offset_bp}, {offset_bp + rate_bp}) outside "
            f"[0, {SAMPLE_MOD}): rate_bp and offset_bp must be non-negative "
            f"with offset_bp + rate_bp <= {SAMPLE_MOD}"
        )
    b = sample_bucket(F.col(key_col))
    lo, hi = offset_bp, offset_bp + rate_bp
    return df.filter((b >= F.lit(lo)) & (b < F.lit(hi)))


def hash_mod_sample_by(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates_bp: dict[str, int],
    default_bp: int = 0,
) -> DataFrame:
    """Stratified deterministic sampling (the reproducible ``sampleBy``):
    each stratum keeps rows whose bucket < its rate (in 1/SAMPLE_MOD units);
    unlisted strata fall back to ``default_bp``. Same determinism and
    split-safety as :func:`hash_mod_sample` — e.g. downsample a dominant
    language while keeping the tail whole. Still a pure codegen
    projection + filter: the per-stratum rate is a CASE expression, not a
    join, so the plan stays a single scan."""
    for k, v in {**rates_bp, "<default>": default_bp}.items():
        if not (0 <= v <= SAMPLE_MOD):
            raise ValueError(
                f"stratum {k!r} rate {v} outside [0, {SAMPLE_MOD}]"
            )
    rate = F.lit(default_bp)
    for k, v in sorted(rates_bp.items()):
        rate = F.when(F.col(strata_col) == F.lit(k), F.lit(v)).otherwise(rate)
    return df.filter(sample_bucket(F.col(key_col)) < rate)


def mixture_sample_rates(
    df: DataFrame, strata_col: str, weights: dict[str, int]
) -> dict[str, int]:
    """Derive per-stratum hash-mod rates that resample the corpus toward a
    target mixture (the domain-reweighting step of an LLM data pipeline,
    e.g. rebalancing a dominant language).

    ``weights`` are relative INTEGER target proportions per stratum. The
    kept sample satisfies E[kept_d] ∝ weights[d]: the stratum with the
    scarcest data relative to its weight (max ``w_d / n_d``) is kept whole
    (rate ``SAMPLE_MOD``) and every other stratum is thinned to match —
    the largest sample achieving the target mixture by downsampling only.

    All arithmetic is exact integers — the anchor stratum is chosen by
    cross-multiplication (``w_a * n_b > w_b * n_a``), ties broken by the
    smaller stratum value, and rates are floor-divisions — so the rates
    (and therefore the sampled row set) are bit-identical in any engine,
    any partitioning, any rerun. Strata present in the data but absent
    from ``weights`` get rate 0 (dropped); weighted strata absent from
    the data are ignored.

    100 TB shape: ONE map-side-combined count aggregation over the scan;
    the collect is #strata rows. The returned dict feeds
    :func:`hash_mod_sample_by` (a pure codegen scan+filter).
    """
    for k, w in weights.items():
        if w <= 0 or w != int(w):
            raise ValueError(f"weight for {k!r} must be a positive int, got {w}")
    # coerce integral floats (2.0) so the rate arithmetic stays exact ints
    weights = {k: int(w) for k, w in weights.items()}
    counts = {
        r["s"]: r["n"]
        for r in df.filter(F.col(strata_col).isin(list(weights)))
        .groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return _rates_from_counts(counts, weights)


def _rates_from_counts(
    counts: dict[str, int], weights: dict[str, int]
) -> dict[str, int]:
    """The exact-integer rate derivation shared by the weighted and
    temperature mixture paths: anchor = argmax w/n by cross-multiplication,
    every stratum thinned to match it."""
    if not counts:
        return {}
    # anchor = argmax of w/n, exact: a beats b iff w_a * n_b > w_b * n_a
    a = min(counts)
    for s in sorted(counts):
        if weights[s] * counts[a] > weights[a] * counts[s]:
            a = s
    # Clamp to >= 1 (r6 ADVICE): a stratum so overrepresented that its exact
    # rate floors to 0 ((SAMPLE_MOD*w_s*n_a) < (n_s*w_a)) must be THINNED to
    # ~1/SAMPLE_MOD, not silently dropped — dropping it breaks the requested
    # mixture far worse than the sub-basis-point overshoot the clamp causes.
    # Callers needing the exact mixture at that skew should raise SAMPLE_MOD
    # granularity. The DuckDB oracle mirrors the clamp (greatest(1, ...)).
    return {
        s: max(1, (SAMPLE_MOD * weights[s] * counts[a]) // (n * weights[a]))
        for s, n in counts.items()
    }


def integer_root(x: int, k: int) -> int:
    """Exact ``floor(x ** (1/k))`` in integer arithmetic (no float error at
    any magnitude — a float seed is corrected by exact integer checks)."""
    if x < 0 or k <= 0:
        raise ValueError(f"integer_root needs x >= 0, k >= 1; got {x}, {k}")
    if x == 0:
        return 0
    r = max(1, int(round(x ** (1.0 / k))))
    while r > 1 and r**k > x:
        r -= 1
    while (r + 1) ** k <= x:
        r += 1
    return r


def temperature_mixture_weights(
    counts: dict[str, int], alpha: tuple[int, int] = (1, 2)
) -> dict[str, int]:
    """Temperature-scaled mixture weights ``w_s = floor(n_s ** alpha)`` with
    ``alpha = num/den`` as an exact rational (the multilingual-sampling rule
    of mBERT/XLM-R: alpha < 1 upweights tail domains relative to their raw
    share). Exact integer k-th roots keep the weights — and everything
    derived from them — engine- and rerun-identical; every nonempty stratum
    gets weight >= 1."""
    num, den = alpha
    if num <= 0 or den <= 0:
        raise ValueError(f"alpha must be a positive rational, got {alpha}")
    return {s: max(1, integer_root(n**num, den)) for s, n in counts.items()}


def temperature_resample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    alpha: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Deterministically resample toward the TEMPERATURE mixture: stratum
    shares ∝ n_s^alpha instead of caller-specified targets — the standard
    tail-domain upweighting (alpha=(1,2) = square-root temperature). The
    scarcest-per-weight stratum is kept whole, all others thinned; same
    one-aggregation + codegen-filter shape as :func:`mixture_resample`
    (the collect is #strata rows)."""
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rates = _rates_from_counts(
        counts, temperature_mixture_weights(counts, alpha)
    )
    return hash_mod_sample_by(df, key_col, strata_col, rates, default_bp=0)


def quality_weighted_sample(
    df: DataFrame, key_col: str, score_bp_col: str
) -> DataFrame:
    """Soft quality filtering: keep each row with probability
    ``score_bp / SAMPLE_MOD`` — deterministically, by comparing the row's
    hash bucket against its OWN per-row score (0..SAMPLE_MOD basis points).
    The FineWeb/DCLM-style alternative to a hard threshold: borderline
    documents survive in proportion to their quality instead of dying at a
    cliff, and the kept set is still engine/partitioning/rerun-identical
    and SQL-oracle-able. Pure codegen projection + filter, zero shuffle."""
    return df.filter(sample_bucket(F.col(key_col)) < F.col(score_bp_col))


def mixture_resample(
    df: DataFrame, key_col: str, strata_col: str, weights: dict[str, int]
) -> DataFrame:
    """Deterministically resample ``df`` toward the target ``weights``
    mixture over ``strata_col``: :func:`mixture_sample_rates` for the exact
    per-stratum rates, then :func:`hash_mod_sample_by` to apply them —
    downsampling only, anchor stratum kept whole, engine/partitioning/rerun
    reproducible. Unweighted strata are dropped (default rate 0)."""
    rates = mixture_sample_rates(df, strata_col, weights)
    return hash_mod_sample_by(df, key_col, strata_col, rates, default_bp=0)


def epoch_shard_assignment(
    df: DataFrame, n_shards: int = 64, seed: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic epoch shuffle for training-data ordering: every row gets
    a ``(shard, order_key)`` pair — ``order_key = md5(f"{seed}:{id}")`` (the
    pseudo-random epoch position), ``shard`` = the key's first-8-hex integer
    mod ``n_shards``. A training run reads shard files in ``order_key``
    order; a new ``seed`` is a fresh, equally-uniform permutation; the same
    seed reproduces the identical order on any engine, any partitioning,
    any rerun (the :func:`sample_bucket` md5 discipline applied to epoch
    ordering).

    100 TB shape: a pure map-side codegen projection — ZERO exchange, never
    a global sort (the classic ``ORDER BY rand()`` epoch shuffle is a
    full-corpus range sort). Materializing the order is the consumer's
    local problem: repartition by shard and sort WITHIN each shard's task —
    n_shards independent local sorts."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    h = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_shards)
    )
    return df.select(
        "*", h.alias("order_key"), shard.cast("int").alias("shard")
    )


def repeat_plan(
    df: DataFrame,
    score_col: str,
    tiers: list[tuple[int, int]] = ((8000, 3), (5000, 2), (0, 1)),
    seed: int = 0,
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> DataFrame:
    """Quality-tiered repetition plan for multi-epoch training (the
    FineWeb-Edu / data-echoing upsampling recipe): a document whose 0..10000
    ``score_col`` reaches tier threshold ``t`` appears ``n_t`` times in the
    epoch stream — high-quality sources are repeated, the tail is seen once.
    Returns one row per (document, repeat): (``id_col``, repeat_idx,
    order_key, shard) where the order/shard pair is the
    :func:`epoch_shard_assignment` md5 discipline keyed by
    ``f"{seed}:{id}:{repeat_idx}"`` — so the copies of a document scatter
    uniformly through the epoch instead of clustering back to back, the
    layout is identical on any engine/partitioning/rerun, and a new seed is
    a fresh permutation.

    ``tiers``: (min_score, n_repeats) pairs scanned in order — the FIRST
    matching tier wins, so pass them highest-threshold first; include a
    (0, n) floor tier or sub-floor documents are dropped (n_repeats 0 is a
    valid tier: combined quality filter + upsample in one plan).

    100 TB shape: pure map-side codegen — CASE over the score, a bounded
    ``explode(sequence(...))`` fan-out (≤ max n_repeats), and the md5
    projection; ZERO exchange. Materialization is the same task-local
    shard sort as :func:`epoch_shard_assignment`'s.
    """
    if not tiers:
        raise ValueError("tiers must be non-empty")
    reps = None
    for min_score, n_rep in tiers:
        if n_rep < 0:
            raise ValueError(f"n_repeats must be >= 0, got {n_rep}")
        cond = F.col(score_col) >= int(min_score)
        reps = (
            F.when(cond, F.lit(int(n_rep)))
            if reps is None
            else reps.when(cond, F.lit(int(n_rep)))
        )
    reps = reps.otherwise(F.lit(0))
    fanned = (
        df.select(F.col(id_col), reps.alias("_n"))
        .filter(F.col("_n") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("_r"),
        )
    )
    h = F.md5(
        F.concat_ws(
            ":",
            F.lit(str(int(seed))),
            F.col(id_col).cast("string"),
            F.col("_r").cast("string"),
        )
    )
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    shard = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_shards)
    )
    return fanned.select(
        id_col,
        F.col("_r").cast("long").alias("repeat_idx"),
        h.alias("order_key"),
        shard.cast("int").alias("shard"),
    )


def mixture_sample_rates_tokens(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, int],
    token_col: str,
) -> dict[str, int]:
    """Token-budget variant of :func:`mixture_sample_rates`: rates derived
    so the EXPECTED KEPT TOKENS per stratum follow the target proportions —
    the unit a pretraining mixture is actually specified in ("X% of
    training tokens from domain d"), where the row-count variant balances
    document counts and silently skews token shares when domains differ in
    document length (code and web prose differ ~3-5x).

    Identical exact-integer derivation (:func:`_rates_from_counts`) with
    per-stratum TOKEN TOTALS standing in for row counts. Thinning is still
    per-document (hash-mod of the id), and the md5 bucket is independent of
    document length, so kept tokens per stratum ∝ rate x total tokens in
    expectation; the realized token share concentrates around the target by
    document-count law of large numbers (a per-document exact-token cut
    would have to split documents — a different operator,
    :func:`~kg_obo_spark.operators.chunking.chunk_documents`).

    100 TB shape: ONE map-side-combined sum aggregation; #strata rows
    collected; the applied filter stays pure codegen.
    """
    for k, w in weights.items():
        if w <= 0 or w != int(w):
            raise ValueError(f"weight for {k!r} must be a positive int, got {w}")
    weights = {k: int(w) for k, w in weights.items()}
    totals = {
        r["s"]: r["t"]
        for r in df.filter(F.col(strata_col).isin(list(weights)))
        .groupBy(F.col(strata_col).alias("s"))
        .agg(F.sum(F.col(token_col)).cast("long").alias("t"))
        .collect()
    }
    return _rates_from_counts(totals, weights)


def mixture_resample_tokens(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weights: dict[str, int],
    token_col: str,
) -> DataFrame:
    """Apply :func:`mixture_sample_rates_tokens`: resample toward the target
    TOKEN mixture (downsampling only, token-scarcest-per-weight stratum kept
    whole, engine/partitioning/rerun reproducible)."""
    rates = mixture_sample_rates_tokens(df, strata_col, weights, token_col)
    return hash_mod_sample_by(df, key_col, strata_col, rates, default_bp=0)
