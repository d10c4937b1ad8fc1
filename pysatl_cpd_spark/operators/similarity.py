"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: a broadcast join of the
(small) query set against the corpus with a JVM-side dot product
(zip_with + aggregate — no Python in the loop). The scale path is LSH
bucketing by random-hyperplane signs: corpus and queries hash to bucket keys,
candidates meet in an equi-join on the bucket, exact rerank inside the bucket.
An embedding-cosine near-dup pass reuses the same machinery corpus×corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbours per query by cosine: broadcast the query set,
    score JVM-side, window-rank per query. Returns (query_id, neighbor_id,
    cosine, rank)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _dot(F.col("cvec"), F.col("qvec")) / (_norm(F.col("cvec")) * _norm(F.col("qvec"))),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_planes, dim)).tolist()


def quantized_hyperplanes(dim: int, n_planes: int, seed: int, scale: int) -> list[list[int]]:
    """Hyperplane literals quantized to int64 — shared by the Spark plan and
    the SQL oracle so bucket bits are exact integer comparisons on both."""
    return [[int(round(x * scale)) for x in plane] for plane in _hyperplanes(dim, n_planes, seed)]


def quantize_vec(col, scale: int):
    """array<float> → array<long>, element-wise round(x * scale). The same
    expression is portable SQL, so integer dot products match bit-for-bit."""
    return F.transform(col, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _dot_int(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _cosine_int(a, b):
    """Exact-integer cosine: int dot / sqrt(int norms) — deterministic across
    engines up to the final double division (guarded by round() at call sites)."""
    return _dot_int(a, b).cast("double") / F.sqrt(
        _dot_int(a, a).cast("double") * _dot_int(b, b).cast("double")
    )


def lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    quantize_scale: int | None = None,
) -> DataFrame:
    """Append a random-hyperplane LSH bucket id: bit i = sign(v · plane_i).
    Planes are literals compiled into the plan (broadcast-free). With
    ``quantize_scale`` both vector and planes are scaled int64 so the sign
    test is exact integer arithmetic (SQL-oracle-portable)."""
    bucket = F.lit(0).cast("long")
    if quantize_scale:
        sv = quantize_vec(F.col(vec_col), quantize_scale)
        for i, plane in enumerate(quantized_hyperplanes(dim, n_planes, seed, quantize_scale)):
            arr = F.array(*[F.lit(int(x)).cast("long") for x in plane])
            bucket = bucket + F.when(_dot_int(sv, arr) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        return df.withColumn("bucket", bucket)
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(_dot(F.col(vec_col), arr) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return df.withColumn("bucket", bucket)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_scale: int | None = None,
    round_digits: int | None = None,
    n_tables: int = 1,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ANY of
    ``n_tables`` independent hash tables (table i uses seed+i), exact cosine
    rerank over the unioned candidate set. Recall rises with more tables /
    fewer planes at proportional candidate cost; ``multiprobe`` additionally
    probes, per table, every query bucket at Hamming distance 1 on the plane
    bits (the classic multi-probe LSH trick: a near neighbour that fell one
    sign-flip away is recovered without another table). Measured on the
    sf0.01 embeddings table (500 random 64-d vectors, recall@5 vs exact,
    candidate cost as a fraction of brute-force pairs):

        4 planes × 4 tables                 → 0.48 recall @ 24% cands
        4 planes × 8 tables                 → 0.66 @ 42%
        5 planes × 4 tables + multiprobe    → 0.78 @ 57%
        4 planes × 4 tables + multiprobe    → 0.92 @ 78%  (contract default)
        4 planes × 8 tables + multiprobe    → 1.00 @ 95%

    And on the sf0.1 table (2000 vectors, 50 queries —
    scripts/ann_sweep.py, round 7), with n_planes scaled ~log2(N/bucket)
    per the scaling argument below:

        4 planes × 4 tables + multiprobe    → 0.95 @ 77%  (sf0.01 default, unscaled)
        5 planes × 4 tables                 → 0.35 @ 13%
        5 planes × 4 tables + multiprobe    → 0.88 @ 57%
        6 planes × 4 tables + multiprobe    → 0.75 @ 37%
        6 planes × 8 tables + multiprobe    → 0.95 @ 59%
        7 planes × 8 tables + multiprobe    → 0.85 @ 40%

    The 4× corpus growth bought the SAME 0.95 recall at 59% instead of 77%
    of pairs (6 planes × 8 tables vs the unscaled default) — the operating
    point improves exactly as the scaling argument predicts: at matched
    recall, growing n_planes with log(N) and recovering recall with
    tables/multi-probe shrinks the candidate fraction.

    Third corpus point (round 8, ``scripts/ann_sweep.py synthetic:20000`` —
    20k seeded 64-d vectors from 200 Gaussian clusters, 100 queries; the
    cluster structure makes absolute recall easier than the random sf
    tables, so the load-bearing number is the candidate fraction at
    matched recall, not the 1.00s):

        4 planes × 4 tables + multiprobe    → 1.00 @ 77%  (unscaled default)
        5 planes × 4 tables                 → 0.94 @ 13%
        7 planes × 8 tables + multiprobe    → 1.00 @ 41%
        8 planes × 8 tables + multiprobe    → 1.00 @ 27%
        9 planes × 8 tables + multiprobe    → 1.00 @ 16%

    Measured trend at ≥0.95 recall with planes ~log2(N/128): 500 vectors →
    ~95% of pairs, 2000 → 59%, 20000 → **16%** — the candidate fraction
    FALLS with corpus growth at fixed recall, which is the 100-TB argument
    as a three-point curve rather than a line. The fractions stay
    high in absolute terms because 2000 vectors is still a SMALL corpus:
    4-7 planes = 16-128 buckets, so a 5-9-key probe sweep per table still
    touches a large bucket share. At real corpus sizes the probed fraction
    tends to (n_planes + 1) / 2^n_planes per table (6.3% at 7 planes). Multi-probe multiplies only the QUERY
    side of each bucket join by
    (n_planes + 1) probe keys — the corpus side is hashed once per table —
    so candidate cost grows with the (tiny) query set, not the corpus.
    Every table is still a bucket equi-join (never a cross join).
    ``quantize_scale`` makes bucket + rerank exact integer arithmetic so a
    SQL oracle reproduces results bit-for-bit.

    The plan scans the corpus once per table for bucketing plus once for
    the rerank join; each table's plane projection differs, so only the
    scans repeat. Nothing is persisted."""
    c_base = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    q_base = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    cand_frames = []
    for ti in range(n_tables):
        c = lsh_bucket(c_base, dim, n_planes, seed + ti, "cvec", quantize_scale)
        q = lsh_bucket(q_base, dim, n_planes, seed + ti, "qvec", quantize_scale)
        if multiprobe:
            # own bucket + every single-bit flip, exploded to probe keys;
            # the corpus side stays single-keyed so the join fan-out is
            # bounded by |queries| * (n_planes + 1)
            probes = F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(n_planes)
                ],
            )
            q = q.withColumn("bucket", F.explode(probes))
        cand_frames.append(c.join(q, "bucket").select("query_id", "neighbor_id"))
    cands = cand_frames[0]
    for f in cand_frames[1:]:
        cands = cands.unionByName(f)
    cands = cands.distinct().filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cands.join(
        c_base, "neighbor_id"
    ).join(q_base, "query_id")
    if quantize_scale:
        cosine = _cosine_int(
            quantize_vec(F.col("cvec"), quantize_scale),
            quantize_vec(F.col("qvec"), quantize_scale),
        )
    else:
        cosine = _dot(F.col("cvec"), F.col("qvec")) / (
            _norm(F.col("cvec")) * _norm(F.col("qvec"))
        )
    if round_digits is not None:
        cosine = F.round(cosine, round_digits)
    scored = scored.withColumn("cosine", cosine).select("query_id", "neighbor_id", "cosine")
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _kmeans_numpy(x: np.ndarray, k: int, iters: int = 10, seed: int = 0) -> np.ndarray:
    """Tiny deterministic k-means for IVF centroid training (numpy only)."""
    rng = np.random.default_rng(seed)
    centroids = x[rng.choice(x.shape[0], size=min(k, x.shape[0]), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(centroids.shape[0]):
            members = x[assign == c]
            if members.shape[0]:
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_centroids_from_sample(
    sample: np.ndarray, n_lists: int, seed: int, quantize_scale: int | None = None
) -> list[list[float]] | list[list[int]]:
    """Train IVF coarse centroids (tiny numpy k-means) on a bounded sample.
    With ``quantize_scale`` the centroids are int64-quantized so list
    assignment is exact integer arithmetic (SQL-oracle-portable). Shared by
    the Spark operator and the oracle-SQL generator."""
    cents = _kmeans_numpy(np.asarray(sample, dtype=np.float64), n_lists, seed=seed)
    if quantize_scale:
        return [[int(round(float(x) * quantize_scale)) for x in c] for c in cents]
    return [[float(x) for x in c] for c in cents]


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 3,
    train_sample: int = 2048,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_scale: int | None = None,
    round_digits: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF approximate top-k: train coarse centroids on a bounded,
    deterministic driver-side sample (ordered by id — no partition-order
    dependence), assign every corpus vector to its nearest list (JVM-side
    argmin over centroid literals), probe the ``n_probe`` nearest lists per
    query, exact cosine rerank inside. The probe join is an equi-join on list
    id — the classic inverted-file shape that avoids the cross join at scale.
    ``quantize_scale`` makes assignment + rerank exact integer arithmetic."""
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).orderBy(id_col).limit(train_sample).collect()],
        dtype=np.float64,
    )
    centroids = ivf_centroids_from_sample(sample, n_lists, seed, quantize_scale)

    # centroids travel as ONE broadcast row (array<array<...>>), not as plan
    # literals: at the thousands of lists a 100-TB corpus needs, per-centroid
    # literals blow up the plan/codegen, while a broadcast relation stays a
    # constant-size plan regardless of lists × dims
    spark = corpus.sparkSession
    elem = "bigint" if quantize_scale else "double"
    cent_df = spark.createDataFrame(
        [(centroids,)], f"cents array<array<{elem}>>"
    )

    def sq_dist(vec, centroid):
        if quantize_scale:
            return F.aggregate(
                F.zip_with(vec, centroid, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
        return F.aggregate(
            F.zip_with(
                vec,
                centroid,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def nearest_lists(vec, n):
        """Column expr: array of the n nearest list ids to ``vec``
        (ties → lowest list id; array_sort on (d, i) structs is lexicographic)."""
        dists = F.transform(F.col("cents"), lambda cv: sq_dist(vec, cv))
        idx = F.sequence(F.lit(0), F.size(F.col("cents")) - 1)
        pairs = F.zip_with(dists, idx, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
        return F.slice(F.transform(F.array_sort(pairs), lambda p: p["i"]), 1, n)

    if quantize_scale:
        vec_expr = quantize_vec(F.col(vec_col), quantize_scale)
    else:
        vec_expr = F.col(vec_col)
    c = corpus.crossJoin(F.broadcast(cent_df)).select(
        F.col(id_col).alias("neighbor_id"),
        vec_expr.alias("cvec"),
        nearest_lists(vec_expr, 1)[0].alias("list_id"),
    )
    q = queries.crossJoin(F.broadcast(cent_df)).select(
        F.col(id_col).alias("query_id"),
        vec_expr.alias("qvec"),
        F.explode(nearest_lists(vec_expr, n_probe)).alias("list_id"),
    )
    if quantize_scale:
        cosine = _cosine_int(F.col("cvec"), F.col("qvec"))
    else:
        cosine = _dot(F.col("cvec"), F.col("qvec")) / (
            _norm(F.col("cvec")) * _norm(F.col("qvec"))
        )
    if round_digits is not None:
        cosine = F.round(cosine, round_digits)
    # the probe side is usually tiny (queries × n_probe) but its size
    # estimate is lost behind the centroid cross-join + explode, so Spark
    # would fall back to a sort-merge join; the hint assumes a small query
    # set — pass broadcast_queries=False for corpus-sized query sets (e.g.
    # all-pairs ANN), where the size-based fallback is the right plan
    scored = (
        c.join(F.broadcast(q) if broadcast_queries else q, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine)
        .select("query_id", "neighbor_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dups(
    corpus: DataFrame,
    min_cosine: float = 0.95,
    dim: int | None = None,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_scale: int | None = None,
    round_digits: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked corpus×corpus.
    ``quantize_scale`` switches to exact integer bucket/cosine arithmetic;
    ``round_digits`` rounds the cosine *before* the threshold filter so the
    SQL oracle's filter sees identical values. Nothing is persisted: the
    self-join's two sides are one subplan, so a shuffled join reads the
    first side's exchange for the second (``ReusedExchange``), and a
    broadcast join recomputes the n_planes projection for its small build
    side."""
    assert dim is not None, "pass the embedding dimension"
    b = lsh_bucket(
        corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("vec")),
        dim,
        n_planes,
        seed=7,
        vec_col="vec",
        quantize_scale=quantize_scale,
    )
    if quantize_scale:
        cosine = _cosine_int(
            quantize_vec(F.col("a.vec"), quantize_scale),
            quantize_vec(F.col("b.vec"), quantize_scale),
        )
    else:
        cosine = _dot(F.col("a.vec"), F.col("b.vec")) / (
            _norm(F.col("a.vec")) * _norm(F.col("b.vec"))
        )
    if round_digits is not None:
        cosine = F.round(cosine, round_digits)
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, "bucket")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= min_cosine)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "cosine",
        )
        .distinct()
    )
