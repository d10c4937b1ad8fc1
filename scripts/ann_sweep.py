"""LSH ANN operating-point sweep: recall@5 vs candidate fraction.

Regenerates the measured table in ``operators/similarity.py::lsh_cosine_topk``'s
docstring. The round-6 numbers were taken on the sf0.01 embeddings table
(500 vectors) where 4 planes = 16 buckets makes any multi-probe sweep touch
most of the corpus — an honest small-corpus artifact. This script runs the
same sweep at a chosen SF with n_planes scaled ~log2(N / target_bucket_size)
per the docstring's own scaling argument, so the recorded operating point
reflects how the operator is meant to be tuned as the corpus grows.

Usage: python scripts/ann_sweep.py [sf_dir] [n_queries]
Prints one row per config: recall@5, candidate fraction (distinct candidate
pairs / n_queries*(N-1)), and the config.

``sf_dir`` may also be ``synthetic:<N>`` (round 8): a seeded in-engine
corpus of N 64-dim vectors drawn from 200 Gaussian clusters (no external
data) — the third corpus-size point that turns the 500 -> 2000 candidate-
fraction trend into a measured curve. Configs auto-extend with
n_planes ~ log2(N / 128) when N > 4000.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from pysatl_cpd_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    lsh_bucket,
    lsh_cosine_topk,
)
from pysatl_cpd_spark.session import get_spark  # noqa: E402

DIM = 64
K = 5
QSCALE = 10_000_000


def candidate_fraction(
    corpus, queries, n_planes: int, n_tables: int, multiprobe: bool, seed: int = 42
) -> float:
    """Distinct (query, neighbor) candidate pairs as a fraction of the
    brute-force pair count — the same candidate generation lsh_cosine_topk
    runs, counted instead of reranked."""
    c_base = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    q_base = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    frames = []
    for ti in range(n_tables):
        c = lsh_bucket(c_base, DIM, n_planes, seed + ti, "cvec", QSCALE)
        q = lsh_bucket(q_base, DIM, n_planes, seed + ti, "qvec", QSCALE)
        if multiprobe:
            probes = F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
            )
            q = q.withColumn("bucket", F.explode(probes))
        frames.append(c.join(q, "bucket").select("query_id", "neighbor_id"))
    cands = frames[0]
    for f in frames[1:]:
        cands = cands.unionByName(f)
    n_pairs = (
        cands.distinct()
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .count()
    )
    n_corpus = corpus.count()
    n_queries = queries.count()
    return n_pairs / (n_queries * (n_corpus - 1))


def recall_at_k(corpus, queries, approx) -> float:
    exact = cosine_topk(corpus, queries, k=K).select("query_id", "neighbor_id")
    hit = approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    row = (
        exact.join(hit, ["query_id", "neighbor_id"], "left")
        .agg((F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias("r"))
        .first()
    )
    return float(row["r"])


def synthetic_embeddings(spark, n: int, n_clusters: int = 200, seed: int = 42):
    """Seeded 64-dim cluster-mixture corpus generated executor-side (no
    external data): cluster = vec_id mod n_clusters, point = center + 0.35
    sigma noise — enough structure that top-k neighbors are non-trivial."""

    def gen(pdfs):
        import numpy as np
        import pandas as pd

        rng_c = np.random.default_rng(seed)
        centers = rng_c.normal(size=(n_clusters, DIM))
        for pdf in pdfs:
            ids = pdf["id"].to_numpy()
            out_vecs = []
            for i in ids:
                rng = np.random.default_rng(seed * 1_000_003 + int(i))
                c = centers[int(i) % n_clusters]
                out_vecs.append(
                    (c + 0.35 * rng.normal(size=DIM)).astype(float).tolist()
                )
            yield pd.DataFrame({"vec_id": ids, "embedding": out_vecs})

    return (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    spark = get_spark()
    if sf_dir.startswith("synthetic:"):
        emb = synthetic_embeddings(spark, int(sf_dir.split(":")[1])).cache()
    else:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        ).cache()
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < n_queries)
    print(f"# corpus={n} queries={n_queries} dim={DIM} k={K} ({sf_dir})")
    configs = [
        # (n_planes, n_tables, multiprobe) — planes scaled ~log2(N/bucket)
        (4, 4, True),   # the sf0.01 contract default, for comparison
        (5, 4, False),
        (5, 4, True),
        (6, 4, True),
        (6, 8, True),
        (7, 8, True),
    ]
    if n > 4000:  # large corpus: extend per the log2(N/128) scaling rule
        configs += [(8, 8, True), (9, 8, True), (9, 16, True)]
    for planes, tables, mp in configs:
        approx = lsh_cosine_topk(
            emb, queries, dim=DIM, k=K, n_planes=planes, n_tables=tables,
            quantize_scale=QSCALE, round_digits=9, multiprobe=mp,
        )
        r = recall_at_k(emb, queries, approx)
        cf = candidate_fraction(emb, queries, planes, tables, mp)
        tag = "+mp" if mp else "   "
        print(
            f"{planes} planes x {tables} tables {tag} -> "
            f"recall@{K} {r:.2f} @ {cf * 100:.0f}% cands"
        )


if __name__ == "__main__":
    main()
