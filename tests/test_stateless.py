"""Operators and queries hold no Spark state after they return: no
queries() entry leaves a persisted plan in the session's cache manager, so
a later call over a rewritten input reads the new file, not a stale cache."""

import numpy as np

import __spark_entry__ as entry


def test_no_query_leaves_a_cache_behind(spark):
    """Every queries() entry, executed at sf0.001, leaves the cache manager
    empty (about a minute on 4 cores)."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    leaked = []
    for name, fn in entry.queries().items():
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
        if not cache.isEmpty():
            leaked.append(name)
            spark.catalog.clearCache()
    assert not leaked


def test_rewritten_input_is_not_served_from_a_stale_cache(spark, tmp_path):
    """A documents file rewritten in place so that doc 5 becomes a copy of
    doc 3: a second MinHash-LSH call in the same session sees the copy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pysatl_cpd_spark.operators.dedup import minhash_lsh_candidates
    from pysatl_cpd_spark.sources.io import read_parquet

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(40)]
    texts = [" ".join(rng.choice(vocab, 16)) for _ in range(12)]
    texts[5] = " ".join(texts[3].split()[:-2] + ["x1", "x2"])  # near dup of 3
    path = str(tmp_path / "documents.parquet")

    def est_3_5():
        pq.write_table(
            pa.table({"doc_id": pa.array(range(12), pa.int64()), "text": texts}), path
        )
        pairs = minhash_lsh_candidates(read_parquet(spark, path)).collect()
        return {(r.doc_a, r.doc_b): r.est_jaccard for r in pairs}.get((3, 5))

    before = est_3_5()
    assert before is not None and before < 1.0
    texts[5] = texts[3]
    assert est_3_5() == 1.0
