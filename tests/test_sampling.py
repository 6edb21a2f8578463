"""Deterministic hash-mod sampling: reproducibility, split disjointness,
rate accuracy, and engine-portability of the md5-bucket hash."""

import hashlib

from pyspark.sql import functions as F

from kg_obo_spark.operators.sampling import (
    SAMPLE_MOD,
    hash_mod_sample,
    sample_bucket,
)


def _py_bucket(key) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % SAMPLE_MOD


def test_bucket_matches_python_md5(spark):
    df = spark.range(200).withColumnRenamed("id", "k")
    got = {
        r["k"]: r["b"]
        for r in df.select("k", sample_bucket(F.col("k")).alias("b")).collect()
    }
    assert got == {k: _py_bucket(k) for k in range(200)}


def test_sample_is_deterministic_and_partitioning_independent(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    a = {r["k"] for r in hash_mod_sample(df, "k", 500).collect()}
    b = {r["k"] for r in hash_mod_sample(df.repartition(13), "k", 500).collect()}
    assert a == b and len(a) > 0


def test_splits_are_disjoint_and_exhaustive(spark):
    df = spark.range(3000).withColumnRenamed("id", "k")
    train = {r["k"] for r in hash_mod_sample(df, "k", 9000, 0).collect()}
    val = {r["k"] for r in hash_mod_sample(df, "k", 500, 9000).collect()}
    test = {r["k"] for r in hash_mod_sample(df, "k", 500, 9500).collect()}
    assert train.isdisjoint(val) and train.isdisjoint(test) and val.isdisjoint(test)
    assert train | val | test == set(range(3000))
    # rate lands near the nominal 90/5/5 (md5 is uniform)
    assert abs(len(train) / 3000 - 0.9) < 0.03


def test_sample_plan_is_scan_plus_filter(spark, tmp_path):
    """Sampling must never cost more than the read: a codegen projection +
    filter over the scan — no Exchange, no Python."""
    path = str(tmp_path / "t")
    spark.range(500).withColumnRenamed("id", "k").write.parquet(path)
    df = spark.read.parquet(path)
    plan = hash_mod_sample(df, "k", 500)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "Filter" in plan


def test_stratified_rates_and_determinism(spark):
    from kg_obo_spark.operators.sampling import hash_mod_sample_by

    df = spark.range(4000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 4 == 0, "en").otherwise("de").alias("lang"),
    )
    rates = {"en": 2000, "de": 8000}
    got = hash_mod_sample_by(df, "k", "lang", rates)
    rows = got.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], set()).add(r["k"])
    # per-stratum membership is exactly bucket < rate
    for lang, keys in by_lang.items():
        assert all(_py_bucket(k) < rates[lang] for k in keys)
    n_en, n_de = len(by_lang.get("en", ())), len(by_lang.get("de", ()))
    assert abs(n_en / 1000 - 0.2) < 0.05 and abs(n_de / 3000 - 0.8) < 0.05
    # unlisted strata default to dropped
    none = hash_mod_sample_by(df, "k", "lang", {"xx": 5000})
    assert none.count() == 0
    # partitioning-independent
    again = {
        (r["k"], r["lang"])
        for r in hash_mod_sample_by(df.repartition(7), "k", "lang", rates).collect()
    }
    assert again == {(r["k"], r["lang"]) for r in rows}


def test_sample_window_past_modulus_raises(spark):
    """ADVICE r5 low: a window extending past SAMPLE_MOD silently undersamples
    (rate 2000 at offset 9000 keeps 10%, not 20%) — reject it instead."""
    import pytest

    from kg_obo_spark.operators.sampling import hash_mod_sample_by

    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit("en").alias("lang")
    )
    with pytest.raises(ValueError, match="window"):
        hash_mod_sample(df, "k", rate_bp=2000, offset_bp=9000)
    with pytest.raises(ValueError, match="window"):
        hash_mod_sample(df, "k", rate_bp=-1)
    with pytest.raises(ValueError, match="rate"):
        hash_mod_sample_by(df, "k", "lang", {"en": SAMPLE_MOD + 1})
    with pytest.raises(ValueError, match="rate"):
        hash_mod_sample_by(df, "k", "lang", {"en": 100}, default_bp=-5)


def test_epoch_shard_assignment_map_only_and_deterministic(spark):
    """Epoch shuffle is a pure projection — ZERO exchange in the plan — and
    a seed change permutes while the same seed reproduces exactly."""
    from kg_obo_spark.operators.sampling import epoch_shard_assignment

    df = spark.range(200).select(F.col("id").alias("doc_id"))
    a = epoch_shard_assignment(df, n_shards=8, seed=1)
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows1 = {r["doc_id"]: (r["shard"], r["order_key"]) for r in a.collect()}
    rows2 = {
        r["doc_id"]: (r["shard"], r["order_key"])
        for r in epoch_shard_assignment(df, n_shards=8, seed=1).collect()
    }
    assert rows1 == rows2  # same seed -> identical permutation
    assert all(0 <= s < 8 for s, _ in rows1.values())
    other = {
        r["doc_id"]: r["order_key"]
        for r in epoch_shard_assignment(df, n_shards=8, seed=2).collect()
    }
    assert any(other[k] != rows1[k][1] for k in other)  # new seed -> new order
    # shards are usably balanced for a uniform hash (no empty shard at n=200)
    from collections import Counter

    sizes = Counter(s for s, _ in rows1.values())
    assert len(sizes) == 8


def test_mixture_rates_exact_fraction_reference(spark):
    """Rates match an exact-rational reference: anchor = argmax w/n (ties ->
    smaller stratum), rate_d = floor(MOD * (w_d/n_d) / (w_a/n_a))."""
    from fractions import Fraction

    from kg_obo_spark.operators.sampling import mixture_sample_rates

    rows = [("en", 400), ("de", 100), ("es", 150), ("zh", 75)]
    df = spark.createDataFrame(
        [(s, i) for s, n in rows for i in range(n)], "lang string, doc_id long"
    )
    weights = {"en": 1, "de": 2, "es": 1, "zh": 1}
    got = mixture_sample_rates(df, "lang", weights)

    counts = dict(rows)
    ratios = {s: Fraction(weights[s], counts[s]) for s in counts}
    anchor = min(sorted(ratios), key=lambda s: (-ratios[s], s))
    assert anchor == "de"  # 2/100 beats 1/75
    want = {
        s: (SAMPLE_MOD * ratios[s].numerator * ratios[anchor].denominator)
        // (ratios[s].denominator * ratios[anchor].numerator)
        for s in counts
    }
    assert got == want
    assert got[anchor] == SAMPLE_MOD
    assert all(0 <= r <= SAMPLE_MOD for r in got.values())


def test_mixture_resample_hits_target_mixture(spark):
    """Kept counts land near the target proportions; the anchor stratum is
    kept whole; the sample is a subset of the input; unweighted strata are
    dropped; repartitioning changes nothing."""
    from kg_obo_spark.operators.sampling import mixture_resample

    rows = [("en", 4000), ("de", 700), ("es", 1500), ("xx", 50)]
    df = spark.createDataFrame(
        [(s, i) for s, n in rows for i in range(n)], "lang string, doc_id long"
    )
    weights = {"en": 1, "de": 1, "es": 1}
    kept = mixture_resample(df, "doc_id", "lang", weights).collect()
    by = {}
    for r in kept:
        by.setdefault(r.lang, set()).add(r.doc_id)
    assert set(by) == {"en", "de", "es"}  # xx dropped
    assert by["de"] == set(range(700))  # anchor (scarcest/weight) kept whole
    # en and es thinned toward ~700 each (md5 uniformity: 10% tolerance)
    assert abs(len(by["en"]) - 700) < 70
    assert abs(len(by["es"]) - 700) < 70
    b = mixture_resample(df.repartition(11), "doc_id", "lang", weights).collect()
    assert sorted(map(tuple, kept)) == sorted(map(tuple, b))


def test_mixture_rate_floors_to_one_not_zero(spark):
    """r6 ADVICE: a stratum overrepresented enough that its exact rate
    floor-divides to 0 is clamped to rate 1 (thinned to ~1/SAMPLE_MOD), not
    silently dropped — the kept sample must still contain every weighted
    stratum present in the data."""
    from kg_obo_spark.operators.sampling import mixture_sample_rates

    n_big = SAMPLE_MOD * 2 + 1  # (MOD * 1 * 1) // n_big == 0 before the clamp
    df = spark.createDataFrame(
        [("en", i) for i in range(n_big)] + [("zh", 0)],
        "lang string, doc_id long",
    )
    rates = mixture_sample_rates(df, "lang", {"en": 1, "zh": 1})
    assert rates["zh"] == SAMPLE_MOD  # anchor: scarcest per weight
    assert rates["en"] == 1  # clamped, not dropped


def test_mixture_weights_validated(spark):
    from kg_obo_spark.operators.sampling import mixture_sample_rates

    df = spark.createDataFrame([("en", 1)], "lang string, doc_id long")
    import pytest

    with pytest.raises(ValueError, match="weight"):
        mixture_sample_rates(df, "lang", {"en": 0})
    with pytest.raises(ValueError, match="weight"):
        mixture_sample_rates(df, "lang", {"en": -3})
    # no weighted stratum present in the data -> empty rates
    assert mixture_sample_rates(df, "lang", {"fr": 1}) == {}


def test_integer_root_exact_everywhere():
    import math

    from kg_obo_spark.operators.sampling import integer_root

    for x in list(range(0, 200)) + [10**12, 10**12 + 1, (2**26) ** 2 - 1,
                                    (2**26) ** 2, 2**60]:
        assert integer_root(x, 2) == math.isqrt(x), x
    assert integer_root(26, 3) == 2 and integer_root(27, 3) == 3
    assert integer_root(7**15, 5) == 7**3
    # the float-seed correction: a value where round(x**(1/k)) overshoots
    assert integer_root((10**8 + 1) ** 2 - 1, 2) == 10**8


def test_temperature_weights_sqrt_rule():
    from kg_obo_spark.operators.sampling import temperature_mixture_weights

    w = temperature_mixture_weights({"en": 10000, "fr": 100, "zh": 1})
    assert w == {"en": 100, "fr": 10, "zh": 1}
    # alpha = 1 reproduces raw counts (no reweighting)
    assert temperature_mixture_weights({"en": 7, "fr": 3}, (1, 1)) == {
        "en": 7,
        "fr": 3,
    }


def test_temperature_resample_flattens_toward_sqrt(spark):
    from kg_obo_spark.operators.sampling import (
        SAMPLE_MOD,
        _rates_from_counts,
        temperature_mixture_weights,
        temperature_resample,
    )

    rows = [("en", i) for i in range(6400)] + [("zh", i) for i in range(100)]
    df = spark.createDataFrame(rows, "lang string, doc_id long")
    kept = temperature_resample(df, "doc_id", "lang", alpha=(1, 2)).groupBy(
        "lang"
    ).count()
    got = {r.lang: r["count"] for r in kept.collect()}
    # sqrt temperature: weights 80 vs 10 -> zh (scarcest per weight) whole,
    # en thinned to n_zh * w_en / w_zh = 800 in expectation
    assert got["zh"] == 100
    counts = {"en": 6400, "zh": 100}
    rates = _rates_from_counts(
        counts, temperature_mixture_weights(counts, (1, 2))
    )
    assert rates == {"zh": SAMPLE_MOD, "en": (SAMPLE_MOD * 80 * 100) // (6400 * 10)}
    # hash-mod keeps ~rate fraction (exact set is pinned by the oracle row)
    assert abs(got["en"] - 800) < 200


def test_quality_weighted_sample_is_score_proportional(spark):
    from pyspark.sql import functions as F

    from kg_obo_spark.operators.sampling import (
        quality_weighted_sample,
        sample_bucket,
    )

    df = spark.createDataFrame(
        [(i, (i % 3) * 5000) for i in range(3000)], "doc_id long, score_bp long"
    )
    kept = quality_weighted_sample(df, "doc_id", "score_bp")
    got = kept.groupBy("score_bp").count().collect()
    by_score = {r.score_bp: r["count"] for r in got}
    assert 0 not in by_score  # score 0 -> kept with probability 0
    assert abs(by_score[5000] - 500) < 120  # ~half of 1000
    # exact membership rule: bucket < score
    ref = df.filter(sample_bucket(F.col("doc_id")) < F.col("score_bp"))
    assert kept.exceptAll(ref).count() == 0 and ref.exceptAll(kept).count() == 0


def test_repeat_plan_tiers_and_determinism(spark):
    import hashlib

    from kg_obo_spark.operators.sampling import repeat_plan

    df = spark.createDataFrame(
        [(0, 9000), (1, 6000), (2, 100), (3, 8000)],
        "doc_id long, score_bp long",
    )
    rows = repeat_plan(df, "score_bp", seed=0).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    # tier fan-out: >=8000 -> 3, >=5000 -> 2, else 1
    assert {d: len(v) for d, v in per_doc.items()} == {0: 3, 1: 2, 2: 1, 3: 3}
    for r in rows:
        # md5 order key seeded by (seed, id, repeat): hashlib replay
        h = hashlib.md5(f"0:{r.doc_id}:{r.repeat_idx}".encode()).hexdigest()
        assert r.order_key == h
        assert r.shard == int(h[:8], 16) % 64
    # partitioning-independent
    again = repeat_plan(df.repartition(3), "score_bp", seed=0).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # a 0-repeat floor tier is a combined filter+upsample plan
    dropped = repeat_plan(df, "score_bp", tiers=[(5000, 2), (0, 0)]).collect()
    assert {r.doc_id for r in dropped} == {0, 1, 3}


def test_repeat_plan_zero_exchange_and_validation(spark):
    import pytest as _pytest

    from kg_obo_spark.operators.sampling import repeat_plan

    df = spark.createDataFrame(
        [(i, i % 10000) for i in range(100)], "doc_id long, score_bp long"
    )
    plan = (
        repeat_plan(df, "score_bp")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure map-side codegen
    with _pytest.raises(ValueError, match="tiers"):
        repeat_plan(df, "score_bp", tiers=[])
    with _pytest.raises(ValueError, match="n_repeats"):
        repeat_plan(df, "score_bp", tiers=[(0, -1)])


def test_mixture_tokens_balances_token_shares(spark):
    from kg_obo_spark.operators.sampling import (
        mixture_resample_tokens,
        mixture_sample_rates_tokens,
    )

    # stratum a: 100 docs x 100 tokens; stratum b: 1000 docs x 10 tokens —
    # equal TOKEN mass, so equal weights must keep both (nearly) whole,
    # where the count variant would thin a to 100/1000
    rows = [(i, "a", 100) for i in range(100)] + [
        (1000 + i, "b", 10) for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tok long")
    rates = mixture_sample_rates_tokens(df, "lang", {"a": 1, "b": 1}, "n_tok")
    assert rates == {"a": 10000, "b": 10000}
    # 2:1 token target thins b's tokens to half of a's
    kept = mixture_resample_tokens(df, "doc_id", "lang", {"a": 2, "b": 1}, "n_tok")
    tok = {
        r.lang: r.t
        for r in kept.groupBy("lang").agg(F.sum("n_tok").alias("t")).collect()
    }
    assert tok["a"] == 10000  # anchor kept whole
    assert abs(tok["b"] - 5000) < 600  # ~half of a's token mass
    # deterministic across partitionings
    k1 = sorted(r.doc_id for r in kept.collect())
    k2 = sorted(
        r.doc_id
        for r in mixture_resample_tokens(
            df.repartition(7), "doc_id", "lang", {"a": 2, "b": 1}, "n_tok"
        ).collect()
    )
    assert k1 == k2
