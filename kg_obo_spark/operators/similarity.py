"""Similarity search over embedding columns (array<float>).

- **Brute-force cosine top-k** — the exact baseline: broadcast the (small)
  query set against the corpus, cosine via JVM-side ``zip_with`` +
  ``aggregate`` (no Python), rank with a window per query. One shuffle
  (the per-query top-k), linear scan of the corpus — the right shape when
  queries are few and the corpus is the big side.
- **IVF (inverted-file) top-k** — the 100 TB path: assign every vector to its
  nearest of C deterministic centroids (partition pruning analog: only the
  query's ``nprobe`` nearest cells are scanned). Approximate; recall measured
  against brute force in tests.

Dot products on array columns stay inside codegen; floats are cast to double
and rounded (6dp) so the DuckDB oracle can value-match the exact variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg_obo_spark.session import local_frame


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    (query_id, neighbor_id, sim, rank); excludes self-matches when ids collide.
    Ties broken by neighbor id asc — deterministic."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
        )
    )
    scored = embeddings.crossJoin(q).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col(vec_col), F.col("qv")), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def embedding_near_dup_exact(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    O(n²) cross join — the correctness baseline and the small-side tool; at
    scale use :func:`embedding_near_dup_lsh` to generate candidates first.
    SQL-expressible (DuckDB list_cosine_similarity oracle)."""
    a = embeddings.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    sim = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return pairs.select("a", "b", sim.alias("sim")).filter(F.col("sim") >= threshold)


def random_hyperplane_signature(
    embeddings: DataFrame,
    n_planes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
) -> DataFrame:
    """(id, signature long): sign-of-dot-product bits against ``n_planes``
    deterministic pseudo-random hyperplanes (splitmix64-derived, no RNG state).
    Arrow-vectorized numpy stage — the scale path for cosine LSH."""
    import numpy as np

    from kg_obo_spark.datagen.rand import hash_u64

    def sig(batches):
        import pandas as pd

        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dim = len(pdf[vec_col].iloc[0])
            if planes is None:
                idx = np.arange(n_planes * dim, dtype=np.int64)
                u = hash_u64(seed, idx, 0).astype(np.float64) / 2**64
                planes = (u.reshape(n_planes, dim) * 2.0 - 1.0)
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (mat @ planes.T) > 0  # (rows, n_planes)
            weights = (1 << np.arange(n_planes, dtype=np.uint64)).astype(np.uint64)
            sigs = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "signature": sigs})

    # r8: spread underfilled scans before the Python stage (guide §2.5);
    # no-op when the input already carries >= cores partitions
    from kg_obo_spark.partitioning import ensure_scan_parallelism

    return ensure_scan_parallelism(
        embeddings.select(id_col, vec_col)
    ).mapInPandas(sig, schema=f"{id_col} long, signature long")


def md5_sign_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane sign matrix from md5 — no RNG, engine-
    portable: plane ``j`` dimension ``d`` is +1 when the first hex nibble of
    ``md5(f"{j}:{d}")`` is even, else -1. Shared by the Spark literal-plane
    signature (:func:`hyperplane_signature_literal`) and the DuckDB oracle
    builder (the planes are embedded as SQL literals), so both engines compute
    the identical ordered dot products — the sampling-pattern analog
    (operators/sampling.py) applied to LSH hyperplanes."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def hyperplane_signature_literal(
    embeddings: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, signature long): sign-of-dot-product bits against caller-supplied
    literal hyperplanes — pure JVM codegen (``zip_with`` + ``aggregate`` per
    plane), no Python stage. The cross-engine-verifiable variant of
    :func:`random_hyperplane_signature`: with :func:`md5_sign_planes` the
    DuckDB oracle reproduces every bit via ``list_dot_product`` against the
    same literals (bit-exact vs Spark's left-fold — measured). Production
    keeps the splitmix64 numpy path; this one is selected where cross-engine
    equality is the point (the contract query)."""
    sig = None
    for j, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        bit = (dot(F.col(vec_col), arr) > 0).cast("long") * F.lit(1 << j)
        sig = bit if sig is None else sig + bit
    return embeddings.select(F.col(id_col), sig.alias("signature"))


def _lsh_blocked(
    sigs: DataFrame, n_planes: int, prefix_bits: int, id_col: str
) -> DataFrame:
    """(id, chunk, key): block signatures by each prefix_bits-wide chunk."""
    mask = (1 << prefix_bits) - 1
    chunks = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftrightunsigned("signature", i * prefix_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
                for i in range(n_planes // prefix_bits)
            ]
        )
    ).alias("c")
    return sigs.select(id_col, chunks).select(id_col, "c.chunk", "c.key")


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 32,
    prefix_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 256,
    store=None,
    run_id: str = "emb_lsh",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Approximate near-dup pairs: hyperplane-LSH chunk blocking -> exact
    cosine verify on candidates only. Same output shape as the exact variant;
    recall measured against it in tests.

    Hot buckets are capped at ``max_bucket`` ids so one degenerate bucket
    can't go quadratic; pass ``store`` (TrackingStore) to write truncation
    totals to the lineage table (stage ``emb_lsh_truncation``). Pass
    ``signatures`` (id, signature long — e.g.
    :func:`hyperplane_signature_literal`) to override the splitmix64 numpy
    signatures; blocking, cap, and verify are identical either way (the
    minhash ``signatures=`` pattern, dedup.py)."""
    sigs = (
        signatures
        if signatures is not None
        else random_hyperplane_signature(embeddings, n_planes, id_col, vec_col)
    )
    blocked = _lsh_blocked(sigs, n_planes, prefix_bits, id_col)
    if store is not None:
        tr = (
            blocked.groupBy("chunk", "key")
            .agg(F.count_distinct(id_col).alias("size"))
            .agg(
                F.count("*").alias("n_buckets"),
                F.sum((F.col("size") > max_bucket).cast("long")).alias("n_truncated"),
                F.sum(F.greatest(F.col("size") - max_bucket, F.lit(0))).alias("n_dropped"),
            )
            .first()
        )
        store.log_stage(
            embeddings.sparkSession,
            run_id,
            "emb_lsh_truncation",
            rows_in=tr["n_buckets"] or 0,
            rows_out=tr["n_truncated"] or 0,
            remap_count=tr["n_dropped"] or 0,
        )
    grouped = blocked.groupBy("chunk", "key").agg(
        F.slice(F.sort_array(F.collect_set(id_col)), 1, max_bucket).alias("ids")
    )
    cands = (
        grouped.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    va = embeddings.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = embeddings.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    sim = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return (
        cands.join(va, "a")
        .join(vb, "b")
        .select("a", "b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, ties -> smallest
    centroid_id) — **map-only**: the centroid table (a bounded dimension) is
    collapsed to ONE array-of-structs row and broadcast-nested-loop-joined onto
    the corpus, and the argmax is an ``array_max(transform(...))`` inside the
    task. The corpus never shuffles and no window runs — the previous plan
    (crossJoin -> corpus x C rows -> Window.partitionBy(vec_id) row_number)
    exchanged C times the corpus per call, per Lloyd iteration.
    Plan pinned by tests/test_plans.py::test_ivf_assign_is_map_only."""
    cents_row = F.broadcast(
        centroids.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("centroid_id").alias("cid"),
                        F.col("centroid_vec").alias("cv"),
                    )
                )
            ).alias("_cents")
        )
    )
    # struct max orders by (csim, -cid): greatest similarity, then smallest id —
    # identical tie-break to the old desc-sort/row_number path
    best = F.array_max(
        F.transform(
            "_cents",
            lambda c: F.struct(
                cosine(F.col(vec_col), c["cv"]).alias("csim"),
                (-c["cid"]).alias("neg_cid"),
            ),
        )
    )
    return embeddings.crossJoin(cents_row).select(
        id_col, vec_col, (-best["neg_cid"]).alias("centroid_id")
    )


def _seed_centroids(
    embeddings: DataFrame,
    hash_col: Column,
    n_centroids: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared seed-centroid selection: the ``n`` vectors with the smallest
    ``hash_col`` value. ``orderBy(hash, id).limit(n)`` plans a distributed
    TakeOrderedAndProject (per-partition top-n, merge on the driver) — never a
    single-task global sort of the corpus (the r2 global-window regression).
    The ≤n survivors are collected and re-emitted with centroid_id numbered in
    id order — bounded by ``n_centroids``, a small constant by contract."""
    small = (
        embeddings.select(
            hash_col.alias("_h"),
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
        .orderBy("_h", "_id")
        .limit(n_centroids)
    )
    rows = sorted(small.collect(), key=lambda r: r["_id"])
    from pyspark.sql.types import IntegerType, StructField, StructType

    vec_type = embeddings.schema[vec_col].dataType
    schema = StructType(
        [
            StructField("centroid_id", IntegerType(), False),
            StructField("centroid_vec", vec_type, True),
        ]
    )
    return local_frame(
        embeddings.sparkSession,
        [(i + 1, r["centroid_vec"]) for i, r in enumerate(rows)], schema
    )


def deterministic_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hash-spread seed centroids — deterministic, no RNG: the ``n`` vectors
    with the smallest ``xxhash64(id)`` are a uniform pseudo-random sample
    (hash order is independent of id order, unlike a naive first-n, which
    inherits whatever insertion bias the table has). Used as-is for quick
    jobs; :func:`kmeans_centroids` refines them with Lloyd iterations."""
    return _seed_centroids(
        embeddings,
        F.xxhash64(F.col(id_col).cast("string")),
        n_centroids,
        id_col,
        vec_col,
    )


def deterministic_centroids_md5(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Engine-portable seed-centroid variant: identical selection machinery
    (:func:`_seed_centroids`) ordered by ``md5(CAST(id AS STRING))`` instead
    of ``xxhash64`` — DuckDB's ``md5(CAST(id AS VARCHAR))`` produces the same
    lowercase-hex ordering, so an oracle can reproduce the exact centroid set
    and the whole IVF assign/probe/top-k chain becomes value-verifiable.
    Production keeps :func:`deterministic_centroids` (xxhash64 is a cheaper
    codegen hash); this is the contract-query variant."""
    return _seed_centroids(
        embeddings,
        F.md5(F.col(id_col).cast("string")),
        n_centroids,
        id_col,
        vec_col,
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    seed_fn=None,
) -> DataFrame:
    """Deterministic distributed Lloyd refinement of the hash-spread seeds.

    Each iteration: assign every vector to its nearest centroid (broadcast
    centroids — the corpus never shuffles for the assignment) then recompute
    means with posexplode -> groupBy(centroid, dim) avg -> collect back to an
    array. Per iteration that is ONE shuffle whose rows are (centroids x dim)
    partial sums after map-side aggregation — independent of corpus size.
    Empty clusters keep their previous centroid (standard Lloyd fallback).
    No RNG anywhere: same input -> same centroids, any cluster size.

    ``exact=True`` swaps the float ``avg()`` mean for a fixed-point one:
    each component is quantized ``floor(v * 1e6)`` to int64, summed (integer
    addition is associative + commutative, so the sum is independent of
    partition count and combine order — float partial sums are NOT), and the
    mean taken as ``floor(sum / n) / 1e6``. That makes the refined centroids
    BIT-REPRODUCIBLE at any parallelism (local[2] == local[32] == a
    1000-executor cluster) and replayable by an external engine — the
    contract oracles unroll the same iterations in DuckDB. Same shuffle
    shape and cost (two int64 columns instead of avg's sum+count). Pair with
    ``seed_fn=deterministic_centroids_md5`` for a fully engine-portable
    chain; default seeds stay xxhash64 (cheaper codegen hash).

    ``seed_fn`` overrides seed selection (signature of
    :func:`deterministic_centroids`).
    """
    cents = (seed_fn or deterministic_centroids)(
        embeddings, n_centroids, id_col, vec_col
    )
    if exact:
        # pin the centroid dtype to double from the start: the fixed-point
        # means below are exact doubles, and coalesce() with a float _prev
        # (empty-cluster fallback) would otherwise change the column type
        # between iterations
        cents = cents.select(
            "centroid_id",
            F.transform(
                "centroid_vec", lambda x: x.cast("double")
            ).alias("centroid_vec"),
        ).localCheckpoint()
    for _ in range(iters):
        assigned = ivf_assign(embeddings, cents, id_col, vec_col)
        per_dim = assigned.select(
            "centroid_id", F.posexplode(vec_col).alias("dim", "val")
        )
        if exact:
            dim_means = (
                per_dim.groupBy("centroid_id", "dim")
                .agg(
                    F.sum(
                        F.floor(
                            F.col("val").cast("double") * 1_000_000.0
                        ).cast("long")
                    ).alias("_s"),
                    F.count(F.lit(1)).alias("_n"),
                )
                .select(
                    "centroid_id",
                    "dim",
                    (
                        F.floor(F.col("_s").cast("double") / F.col("_n"))
                        / F.lit(1_000_000.0)
                    ).alias("m"),
                )
            )
            out_type = "double"
        else:
            dim_means = per_dim.groupBy("centroid_id", "dim").agg(
                F.avg(F.col("val").cast("double")).alias("m")
            )
            out_type = "float"
        means = (
            dim_means.groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("dm")
            )
            .select(
                "centroid_id",
                F.transform("dm", lambda x: x["m"].cast(out_type)).alias(
                    "centroid_vec"
                ),
            )
        )
        # empty clusters: fall back to the previous centroid vector
        prev = cents.select(
            "centroid_id", F.col("centroid_vec").alias("_prev")
        )
        cents = (
            prev.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("centroid_vec", "_prev").alias("centroid_vec"),
            )
            .localCheckpoint()
        )
    return cents


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: scan only the ``nprobe`` cells nearest each query.

    At scale the assignment table is written partitioned by centroid_id, so a
    query reads nprobe/n_centroids of the corpus (partition pruning).
    Pass ``centroids`` (e.g. from :func:`kmeans_centroids`) to override the
    hash-spread seeds."""
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(embeddings, n_centroids, id_col, vec_col)
    )
    assigned = ivf_assign(embeddings, cents, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
    )
    qcells = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "qv", "centroid_id",
            cosine(F.col("qv"), F.col("centroid_vec")).alias("csim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "centroid_id")
    )
    scored = assigned.join(F.broadcast(qcells), "centroid_id").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col(vec_col), F.col("qv")), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ------------------------------------------------- scalar-quantized (int8) ANN


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, vec, qvec array<long>, scale double): per-vector symmetric
    scalar quantization to the int8 range — ``q_i = floor(levels * v_i /
    scale)`` with ``scale = max_i |v_i|`` (clamped away from zero so an
    all-zero vector quantizes to zeros instead of dividing by zero).

    This is the standard memory-bandwidth play for ANN at corpus scale: the
    quantized table is ~4x smaller than float32 (~8x vs float64), so the
    candidate-generation scan reads a quarter of the bytes and the integer
    dot products SIMD-vectorize. All arithmetic is exact and engine-portable:
    ``floor`` of an identical double is identical, and the integer dot
    products downstream are exact by construction (|q| <= 127, so a
    dim-sized sum stays far inside both int64 and the double-exact range).

    Map-only (pure codegen projection, zero exchange). The ``scale`` factor
    is staged behind an alias in a prior select so codegen evaluates the
    array_max once, not once per element (the HOF-CSE discipline).
    """
    staged = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        *[F.col(c) for c in keep_cols],
        F.greatest(
            F.array_max(
                F.transform(vec_col, lambda x: F.abs(x.cast("double")))
            ),
            F.lit(1e-30),
        ).alias("scale"),
    )
    return staged.select(
        id_col,
        vec_col,
        *keep_cols,
        F.transform(
            vec_col,
            lambda x: F.floor(
                F.lit(float(levels)) * x.cast("double") / F.col("scale")
            ).cast("long"),
        ).alias("qvec"),
        "scale",
    )


def _idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two long arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def salted_topk(
    df: DataFrame,
    part_col: str,
    score_col: str,
    tie_col: str,
    k: int,
    n_salts: int = 64,
) -> DataFrame:
    """Distributed per-group top-k without the single-reducer trap: a plain
    ``Window.partitionBy(group)`` funnels EVERY row of a group through one
    partition — fatal when a group spans the corpus (per-query ANN scoring,
    per-anchor negative mining). This runs the same (score desc, tie asc)
    ranking TWICE: first keyed (group, salt) with ``salt = tie mod
    n_salts`` — corpus-partition-sized groups — then over the surviving
    ``n_salts * k`` rows per group. Every global top-k row is inside its
    salt's top-k, so the result set is IDENTICAL to the single-window
    top-k by construction (the tie column must make the order total).
    Returns the input rows (minus helper columns) of the global top-k.
    """
    w_part = Window.partitionBy(part_col, "_salt").orderBy(
        F.col(score_col).desc(), F.col(tie_col).asc()
    )
    w_full = Window.partitionBy(part_col).orderBy(
        F.col(score_col).desc(), F.col(tie_col).asc()
    )
    return (
        # r7 ADVICE: salt via xxhash64 so ANY orderable tie column spreads —
        # pmod on a string tie column was null (one salt partition,
        # silently reinstating the single-reducer bottleneck). The salt
        # assignment never affects the result set: every global top-k row
        # is in its salt's top-k for any assignment.
        df.withColumn("_salt", F.pmod(F.xxhash64(F.col(tie_col)), F.lit(n_salts)))
        .withColumn("_rn", F.row_number().over(w_part))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn2", F.row_number().over(w_full))
        .filter(F.col("_rn2") <= k)
        .drop("_salt", "_rn", "_rn2")
    )


def ann_quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 50,
    levels: int = 127,
    n_salts: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Two-stage scalar-quantized ANN: int8 integer-dot candidate generation
    followed by an exact-cosine rerank of the survivors. (query_id,
    neighbor_id, sim_e6, rank) — rank by exact cosine desc, ties by
    neighbor id; ``sim_e6`` is the floor-e6 fixed point of the spelled-out
    cosine, so the output is engine-exact end to end.

    Candidate score uses the asymmetric-distance form ``scale_d * qdot``
    (the query-side scale is constant per query and positive, so it cannot
    change the per-query order), floored to e6 fixed point — an exact
    integer sort key over exact inputs, so the candidate SET is
    deterministic at any parallelism and reproducible by the oracle.

    .. note:: (r7 ADVICE) the candidate key approximates the raw INNER
       PRODUCT while the rerank and ``k`` are by cosine, so on corpora with
       widely varying vector norms the candidate set is biased toward
       large-norm vectors and cosine recall degrades. L2-normalize inputs
       (or raise ``candidates``) for cosine targets with heterogeneous
       norms; the key itself is pinned by the value oracle and stays
       as documented.

    Scale shape (the reason this exists next to :func:`cosine_topk`):
    - the corpus-sized scan reads the ~4x-smaller quantized representation
      and never shuffles; queries are broadcast;
    - top-``candidates`` per query runs as a SALTED TWO-LEVEL top-k —
      per-(query, salt) partial top-C on corpus-partition-sized groups,
      then a final top-C over the (n_salts x C)-row survivor set. A plain
      ``Window.partitionBy(query_id)`` would funnel the ENTIRE corpus
      through one partition per query — the single-reducer trap at 100 TB;
      every global top-C row is inside its salt's top-C, so the two-level
      result is identical by construction;
    - the exact rerank touches only ``n_queries x candidates`` rows, joined
      back to float vectors by neighbor id (broadcast of the tiny candidate
      set at these cardinalities; a hash join on the corpus key at scale).
    """
    qe = quantize_embeddings(embeddings, id_col, vec_col, levels)
    qq = quantize_embeddings(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qv"),
        ),
        "query_id",
        "qv",
        levels,
    ).select("query_id", F.col("qvec").alias("q_qvec"))
    approx_fp = F.floor(
        F.lit(1_000_000.0)
        * F.col("scale")
        * _idot(F.col("qvec"), F.col("q_qvec")).cast("double")
    ).cast("long")
    scored = qe.crossJoin(F.broadcast(qq)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        approx_fp.alias("approx_fp"),
    )
    cand = salted_topk(
        scored, "query_id", "approx_fp", "neighbor_id", candidates, n_salts
    ).select("query_id", "neighbor_id")
    qv = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qv"),
        )
    )
    rer = (
        F.broadcast(cand)
        .join(embeddings.select(F.col(id_col).alias("neighbor_id"), vec_col),
              "neighbor_id")
        .join(qv, "query_id")
    )
    sim_e6 = F.floor(
        F.lit(1_000_000.0) * cosine(F.col(vec_col), F.col("qv"))
    ).cast("long")
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("sim_e6").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.select("query_id", "neighbor_id", sim_e6.alias("sim_e6"))
        .withColumn("rank", F.row_number().over(w_k).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim_e6", "rank")
    )


def hard_negatives(
    embeddings: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    band_lo: float = 0.10,
    band_hi: float = 0.90,
    n_salts: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_id_col: str = "query_id",
    anchor_vec_col: str = "query_vec",
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training (the DPR/E5
    recipe): per anchor, the top-``k`` corpus vectors whose exact cosine
    lies in the band ``[band_lo, band_hi)`` — above the floor because
    too-easy negatives carry no gradient, below the ceiling because
    near-duplicates are likely unlabeled POSITIVES and poison the loss as
    false negatives. Returns (query_id, neighbor_id, sim_e6, rank); the
    band compare and the ranking run on floor-e6 fixed point, so the mined
    set is deterministic and engine-exact.

    Scale shape: anchors broadcast; the band predicate filters map-side
    BEFORE any shuffle (most of the corpus never leaves its scan task);
    the per-anchor top-k is :func:`salted_topk` — no single-reducer window.
    This is the exact-scoring baseline; above ~10^8 rows generate the band
    candidates with :func:`ann_quantized_topk`'s quantized scan or
    :func:`embedding_near_dup_lsh` blocking first and rerank here.
    """
    a = F.broadcast(
        anchors.select(
            F.col(anchor_id_col).alias("query_id"),
            F.col(anchor_vec_col).alias("qv"),
        )
    )
    sim_e6 = F.floor(
        F.lit(1_000_000.0) * cosine(F.col(vec_col), F.col("qv"))
    ).cast("long")
    scored = (
        embeddings.crossJoin(a)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            sim_e6.alias("sim_e6"),
        )
        .filter(
            (F.col("sim_e6") >= int(band_lo * 1_000_000))
            & (F.col("sim_e6") < int(band_hi * 1_000_000))
        )
    )
    top = salted_topk(scored, "query_id", "sim_e6", "neighbor_id", k, n_salts)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_e6").desc(), F.col("neighbor_id").asc()
    )
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def ivf_quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    candidates: int = 50,
    levels: int = 127,
    n_salts: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF x scalar-quantization composition (the FAISS ``IVF,SQ8`` shape):
    both ANN scale levers at once — partition pruning (only the query's
    ``nprobe`` cells of ``n_centroids`` are scanned: ~nprobe/n_centroids of
    the corpus) AND the int8 representation inside each probed cell (the
    :func:`ann_quantized_topk` integer-dot candidate scan, ~4x fewer bytes)
    — finished by the exact-cosine rerank of ``n_queries x candidates``
    rows. (query_id, neighbor_id, sim_e6, rank), ranking and candidate
    keys exact integers end to end, so the chain is oracle-verifiable with
    deterministic centroids.

    At 100 TB the assignment table is written partitioned by centroid_id
    with ``qvec``/``scale`` materialized: a probe then reads
    nprobe/n_centroids of a 4x smaller corpus — the two factors multiply.
    """
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(embeddings, n_centroids, id_col, vec_col)
    )
    assigned = ivf_assign(embeddings, cents, id_col, vec_col)
    qe = quantize_embeddings(
        assigned, id_col, vec_col, levels, keep_cols=("centroid_id",)
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
    )
    qq = quantize_embeddings(q, "query_id", "qv", levels).select(
        "query_id", F.col("qvec").alias("q_qvec")
    )
    qcells = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "centroid_id",
            cosine(F.col("qv"), F.col("centroid_vec")).alias("csim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .join(qq, "query_id")
        .select("query_id", "centroid_id", "q_qvec")
    )
    approx_fp = F.floor(
        F.lit(1_000_000.0)
        * F.col("scale")
        * _idot(F.col("qvec"), F.col("q_qvec")).cast("double")
    ).cast("long")
    scored = qe.join(F.broadcast(qcells), "centroid_id").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        approx_fp.alias("approx_fp"),
    )
    cand = salted_topk(
        scored, "query_id", "approx_fp", "neighbor_id", candidates, n_salts
    ).select("query_id", "neighbor_id")
    qv = F.broadcast(
        q.select("query_id", F.col("qv"))
    )
    rer = (
        F.broadcast(cand)
        .join(
            embeddings.select(F.col(id_col).alias("neighbor_id"), vec_col),
            "neighbor_id",
        )
        .join(qv, "query_id")
    )
    sim_e6 = F.floor(
        F.lit(1_000_000.0) * cosine(F.col(vec_col), F.col("qv"))
    ).cast("long")
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("sim_e6").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.select("query_id", "neighbor_id", sim_e6.alias("sim_e6"))
        .withColumn("rank", F.row_number().over(w_k).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim_e6", "rank")
    )
