"""Similarity search: exact brute-force cosine top-k and IVF recall."""

import math

from pyspark.sql import functions as F

from kg_obo_spark.operators.similarity import (
    cosine_topk,
    deterministic_centroids,
    embedding_near_dup_exact,
    embedding_near_dup_lsh,
    ivf_assign,
    ivf_topk,
    random_hyperplane_signature,
)


def _emb(spark, n=50, dim=8):
    # deterministic vectors: v[i][j] = sin(i*dim + j) — no RNG
    rows = [
        (i, [math.sin(i * dim + j) for j in range(dim)], i % 3) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _queries(emb):
    return emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_cosine_topk_self_is_rank1(spark):
    emb = _emb(spark)
    out = cosine_topk(emb, _queries(emb), k=5)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.filter(F.col("rank") == 1).collect()}
    assert top1 == {0: 0, 1: 1}  # self-similarity = 1.0
    assert out.count() == 10
    # ranks are deterministic and dense 1..5 per query
    ranks = [r["rank"] for r in out.filter(F.col("query_id") == 0).orderBy("rank").collect()]
    assert ranks == [1, 2, 3, 4, 5]


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    emb = _emb(spark, n=40)
    out = cosine_topk(emb, _queries(emb), k=3).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    for q in (0, 1):
        sims = {
            i: float(v @ vecs[q] / (np.linalg.norm(v) * np.linalg.norm(vecs[q])))
            for i, v in vecs.items()
        }
        expected = [i for i, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:3]]
        got = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert got == expected


def test_ivf_assign_covers_all(spark):
    emb = _emb(spark)
    cents = deterministic_centroids(emb, n_centroids=4)
    assigned = ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.select("centroid_id").distinct().count() <= 4


def test_embedding_near_dup_exact_finds_planted(spark):
    # plant near-identical vectors: 100/101 are tiny perturbations of 0
    import math

    dim = 8
    base = [math.sin(j) for j in range(dim)]
    rows = [(0, base, 0), (100, [v + 1e-4 for v in base], 0), (101, [v * 1.001 for v in base], 0)]
    rows += [(i, [math.sin(i * dim + j) for j in range(dim)], 1) for i in range(1, 40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r["a"], r["b"]) for r in embedding_near_dup_exact(emb, threshold=0.999).collect()}
    assert {(0, 100), (0, 101), (100, 101)} <= pairs


def test_hyperplane_signature_deterministic(spark):
    emb = _emb(spark, n=20)
    a = {r["vec_id"]: r["signature"] for r in random_hyperplane_signature(emb).collect()}
    b = {r["vec_id"]: r["signature"] for r in random_hyperplane_signature(emb).collect()}
    assert a == b


def test_lsh_near_dup_recall(spark):
    import math

    dim = 8
    base = [math.sin(j) for j in range(dim)]
    rows = [(0, base, 0), (100, [v + 1e-4 for v in base], 0)]
    rows += [(i, [math.sin(i * dim + j) for j in range(dim)], 1) for i in range(1, 60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = {(r["a"], r["b"]) for r in embedding_near_dup_exact(emb, threshold=0.99).collect()}
    approx = {(r["a"], r["b"]) for r in embedding_near_dup_lsh(emb, threshold=0.99).collect()}
    assert approx <= exact  # verify step guarantees no false positives
    assert (0, 100) in approx  # identical-direction pair always collides


def test_hyperplane_signature_literal_matches_python(spark):
    """The codegen literal-plane signature equals a plain-Python reference —
    bit j set iff the ordered dot product against md5_sign_planes[j] > 0."""
    from kg_obo_spark.operators.similarity import (
        hyperplane_signature_literal,
        md5_sign_planes,
    )

    dim, n_planes = 8, 16
    emb = _emb(spark, n=25, dim=dim)
    planes = md5_sign_planes(n_planes, dim)
    got = {
        r["vec_id"]: r["signature"]
        for r in hyperplane_signature_literal(emb, planes).collect()
    }
    for i, vec, _ in emb.collect():
        want = sum(
            (1 << j)
            for j, p in enumerate(planes)
            if sum(float(v) * s for v, s in zip(vec, p)) > 0
        )
        assert got[i] == want
    # the sign matrix itself is a pure function of (n_planes, dim)
    assert planes == md5_sign_planes(n_planes, dim)
    assert all(abs(s) == 1.0 for row in planes for s in row)


def test_lsh_signature_override_same_machinery(spark):
    """embedding_near_dup_lsh(signatures=...) drives the identical blocking +
    verify chain: pairs are exact-verified (subset of the exact variant) and
    a planted identical-direction pair always collides in every chunk."""
    import math

    from kg_obo_spark.operators.similarity import (
        hyperplane_signature_literal,
        md5_sign_planes,
    )

    dim = 8
    base = [math.sin(j) for j in range(dim)]
    rows = [(0, base, 0), (100, [v * 2.0 for v in base], 0)]
    rows += [(i, [math.sin(i * dim + j) for j in range(dim)], 1) for i in range(1, 60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sigs = hyperplane_signature_literal(emb, md5_sign_planes(16, dim))
    approx = {
        (r["a"], r["b"])
        for r in embedding_near_dup_lsh(
            emb, threshold=0.99, n_planes=16, prefix_bits=4, signatures=sigs
        ).collect()
    }
    exact = {
        (r["a"], r["b"])
        for r in embedding_near_dup_exact(emb, threshold=0.99).collect()
    }
    assert approx <= exact
    assert (0, 100) in approx  # same direction -> same bits in every plane


def test_deterministic_centroids_md5_matches_selection_contract(spark):
    """md5-ordered seeds: the n vectors with smallest md5(id) hex, renumbered
    in id order — the SQL-mirrorable analog of deterministic_centroids."""
    import hashlib

    from kg_obo_spark.operators.similarity import deterministic_centroids_md5

    emb = _emb(spark, n=40)
    cents = deterministic_centroids_md5(emb, n_centroids=6).collect()
    want_ids = sorted(
        sorted(range(40), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:6]
    )
    got = {r["centroid_id"]: r["centroid_vec"] for r in cents}
    assert sorted(got) == [1, 2, 3, 4, 5, 6]
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for cid, vid in enumerate(want_ids, start=1):
        assert got[cid] == vecs[vid]


def test_emb_lsh_bucket_truncation_surfaced(spark, tmp_path):
    # identical vectors all land in the same buckets; a tiny max_bucket cap
    # must write a lineage row with non-zero truncation totals
    from pyspark.sql import functions as F

    from kg_obo_spark.plans.tracking import TrackingStore

    rows = [(i, [1.0, 2.0, 3.0, 4.0], 0) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    store = TrackingStore(str(tmp_path / "lin"))
    embedding_near_dup_lsh(emb, threshold=0.5, max_bucket=4, store=store).collect()
    row = store.lineage.read(spark).filter(
        F.col("stage") == "emb_lsh_truncation"
    ).first()
    assert row is not None and row["rows_out"] > 0 and row["remap_count"] > 0


def test_ivf_recall_vs_exact(spark):
    emb = _emb(spark, n=60)
    q = _queries(emb)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              ivf_topk(emb, q, k=5, n_centroids=6, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6  # approximate path trades recall for pruning


def test_kmeans_centroids_deterministic_and_effective(spark):
    from kg_obo_spark.operators.similarity import kmeans_centroids

    emb = _emb(spark, n=120)
    a = {r["centroid_id"]: list(r["centroid_vec"]) for r in
         kmeans_centroids(emb, n_centroids=6, iters=2).collect()}
    b = {r["centroid_id"]: list(r["centroid_vec"]) for r in
         kmeans_centroids(emb, n_centroids=6, iters=2).collect()}
    assert a == b  # no RNG anywhere: bit-identical across runs
    assert len(a) == 6 and all(len(v) == 8 for v in a.values())

    # Lloyd refinement never hurts IVF recall on this corpus
    q = _queries(emb)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    seed = {(r["query_id"], r["neighbor_id"]) for r in
            ivf_topk(emb, q, k=5, n_centroids=6, nprobe=2).collect()}
    refined = {(r["query_id"], r["neighbor_id"]) for r in
               ivf_topk(emb, q, k=5, n_centroids=6, nprobe=2,
                        centroids=kmeans_centroids(emb, n_centroids=6, iters=2)).collect()}
    assert len(exact & refined) >= len(exact & seed)


def test_kmeans_exact_means_bit_reproducible_across_partitionings(spark):
    """exact=True swaps float avg() for fixed-point int64-sum means: integer
    addition is order-independent, so the refined centroid VECTORS are
    bit-identical at any partitioning (the float path only promises
    assignment-level stability on well-separated data). Also pins the
    exact path's dtype (double) and that seeds still refine (centroids
    move off the seed vectors) and md5 seeding composes."""
    from kg_obo_spark.operators.similarity import (
        deterministic_centroids_md5,
        kmeans_centroids,
    )

    emb = _emb(spark, n=120)
    base = {r["centroid_id"]: list(r["centroid_vec"]) for r in
            kmeans_centroids(emb, n_centroids=6, iters=2,
                             exact=True).collect()}
    for parts in (1, 13):
        other = {r["centroid_id"]: list(r["centroid_vec"]) for r in
                 kmeans_centroids(emb.repartition(parts), n_centroids=6,
                                  iters=2, exact=True).collect()}
        assert other == base  # bit-equal, not approximately equal
    assert len(base) == 6
    df = kmeans_centroids(emb, n_centroids=6, iters=1, exact=True)
    assert dict(df.dtypes)["centroid_vec"] == "array<double>"
    seeds = {r["centroid_id"]: [float(x) for x in r["centroid_vec"]] for r in
             deterministic_centroids_md5(emb, 6).collect()}
    refined = {r["centroid_id"]: list(r["centroid_vec"]) for r in
               kmeans_centroids(emb, n_centroids=6, iters=2, exact=True,
                                seed_fn=deterministic_centroids_md5).collect()}
    assert set(refined) == set(seeds)
    assert any(refined[k] != seeds[k] for k in refined)


# ------------------------------------------------- scalar-quantized (int8) ANN


def test_quantize_embeddings_range_and_exactness(spark):
    from kg_obo_spark.operators.similarity import quantize_embeddings

    emb = _emb(spark, n=30)
    rows = quantize_embeddings(emb).collect()
    assert len(rows) == 30
    for r in rows:
        assert r["scale"] > 0
        assert all(-127 <= q <= 127 for q in r["qvec"])
        # exact replay of the quantization rule
        v = [float(x) for x in r["embedding"]]
        s = max(max(abs(x) for x in v), 1e-30)
        assert r["qvec"] == [math.floor(127.0 * x / s) for x in v]


def test_ann_quantized_full_candidates_equals_exact(spark):
    from kg_obo_spark.operators.similarity import ann_quantized_topk

    emb = _emb(spark, n=40)
    q = _queries(emb)
    full = ann_quantized_topk(emb, q, k=5, candidates=40)
    exact = cosine_topk(emb, q, k=5)
    fs = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    es = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    # with every row surviving candidate generation, the rerank IS the
    # exact ranking — sets must agree
    assert fs == es


def test_ann_quantized_recall_and_determinism(spark):
    from kg_obo_spark.operators.similarity import ann_quantized_topk

    emb = _emb(spark, n=60)
    q = _queries(emb)
    out = ann_quantized_topk(emb, q, k=5, candidates=15)
    rows = sorted(
        ((r["query_id"], r["rank"], r["neighbor_id"], r["sim_e6"]) for r in out.collect())
    )
    # deterministic across repartitioned input (the salted two-level top-k
    # and exact-integer keys make the result partitioning-independent)
    out2 = ann_quantized_topk(emb.repartition(7), q, k=5, candidates=15)
    rows2 = sorted(
        ((r["query_id"], r["rank"], r["neighbor_id"], r["sim_e6"]) for r in out2.collect())
    )
    assert rows == rows2
    # self neighbor always survives quantization at rank 1
    top1 = {r[0]: r[2] for r in rows if r[1] == 1}
    assert top1 == {0: 0, 1: 1}
    # int8 candidates keep high agreement with the exact top-k
    es = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=5).collect()
    }
    fs = {(r[0], r[2]) for r in rows}
    assert len(fs & es) / len(es) >= 0.8


def test_ann_quantized_salted_window_in_plan(spark):
    from kg_obo_spark.operators.similarity import ann_quantized_topk

    emb = _emb(spark, n=30)
    out = ann_quantized_topk(emb, _queries(emb), k=3, candidates=10)
    plan = out._jdf.queryExecution().toString()
    # candidate stage runs the salted PARTIAL top-k first: a window keyed by
    # (query_id, _salt) must appear — the guard against the single-reducer
    # full-corpus window at scale
    assert "_salt" in plan


def test_hard_negatives_band_and_replay(spark):
    import numpy as np

    from kg_obo_spark.operators.similarity import hard_negatives

    emb = _emb(spark, n=50)
    q = _queries(emb)
    out = hard_negatives(emb, q, k=4, band_lo=0.10, band_hi=0.90)
    rows = out.collect()
    assert rows, "band should be populated for sin-derived vectors"
    for r in rows:
        assert 100_000 <= r["sim_e6"] < 900_000
    # deterministic under repartitioning
    rows2 = hard_negatives(emb.repartition(9), q, k=4, band_lo=0.10, band_hi=0.90).collect()
    key = lambda rs: sorted((r["query_id"], r["rank"], r["neighbor_id"], r["sim_e6"]) for r in rs)
    assert key(rows) == key(rows2)
    # numpy replay: floor-e6 cosine band + top-k by (sim desc, id)
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    for qid in (0, 1):
        sims = {
            i: int(np.floor(1e6 * (v @ vecs[qid]) / (np.linalg.norm(v) * np.linalg.norm(vecs[qid]))))
            for i, v in vecs.items()
        }
        band = {i: s for i, s in sims.items() if 100_000 <= s < 900_000}
        expect = [i for i, _ in sorted(band.items(), key=lambda kv: (-kv[1], kv[0]))[:4]]
        got = [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"]) if r["query_id"] == qid]
        assert got == expect


def test_ivf_quantized_topk_recall_and_cells(spark):
    from kg_obo_spark.operators.similarity import (
        ivf_assign,
        ivf_quantized_topk,
    )

    emb = _emb(spark, n=80)
    q = _queries(emb)
    out = ivf_quantized_topk(
        emb, q, k=5, n_centroids=4, nprobe=4, candidates=80
    )
    rows = out.collect()
    # full probe + full candidates == exact top-k sets
    es = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    assert {(r["query_id"], r["neighbor_id"]) for r in rows} == es
    # pruned probe returns only vectors from probed cells, self at rank 1
    pruned = ivf_quantized_topk(
        emb, q, k=5, n_centroids=4, nprobe=1, candidates=20
    ).collect()
    cents = deterministic_centroids(emb, 4)
    cell = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(emb, cents).collect()
    }
    top1 = {r["query_id"]: r["neighbor_id"] for r in pruned if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1}  # self lives in the query's own best cell
    for r in pruned:
        # every returned neighbor shares the query's probed (best) cell
        assert cell[r["neighbor_id"]] == cell[r["query_id"]]
    # deterministic under repartition
    again = ivf_quantized_topk(
        emb.repartition(7), q, k=5, n_centroids=4, nprobe=1, candidates=20
    ).collect()
    assert sorted(map(tuple, pruned)) == sorted(map(tuple, again))
