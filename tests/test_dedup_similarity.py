"""Dedup + similarity-search operators on small synthetic corpora."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from pysatl_cpd_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    shingles,
    simhash_near_dups,
    token_jaccard_pairs,
)
from pysatl_cpd_spark.operators.multimodal import extract_features, synthesize_media
from pysatl_cpd_spark.operators.similarity import cosine_topk, lsh_cosine_topk


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The  quick brown fox jumps over the lazy dog "),  # normalized dup
        (4, "the quick brown fox leaps over the lazy dog"),  # near dup
        (5, "completely different content about spark engines"),
        (6, "lorem ipsum dolor sit amet consectetur adipiscing"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 3 and groups[0]["keep_id"] == 1


def test_token_jaccard_finds_near_dup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in token_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 4)] > 0.7
    assert (1, 5) not in pairs


def test_token_jaccard_max_df(spark, docs):
    """max_df prunes only above-threshold-df tokens: a generous cap leaves
    the contract corpus output IDENTICAL, while on a stopword-heavy
    adversarial fixture the prune collapses the candidate pair count that
    the unpruned O(sum df^2) self-join would produce."""
    base = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
        for r in token_jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
        for r in token_jaccard_pairs(docs, threshold=0.5, max_df=100).collect()
    }
    assert base == capped and base  # no token reaches df>100 → identical

    # adversarial: 40 docs all sharing the stopword 'the', otherwise disjoint
    rows = [(i, f"the unique{i} token{i} word{i}") for i in range(40)]
    adv = spark.createDataFrame(rows, "doc_id long, text string")
    unpruned = token_jaccard_pairs(adv, threshold=0.0).collect()
    assert len(unpruned) == 40 * 39 // 2  # every pair joins through 'the'
    pruned = token_jaccard_pairs(adv, threshold=0.0, max_df=5).collect()
    assert pruned == []  # stopword dropped → no candidate pairs at all


def test_token_jaccard_max_df_plan_broadcasts(spark, docs):
    """Scale law: the df-prune must reach the plan as a BROADCAST anti-join
    (the heavy-token set is small by construction) — a shuffled anti-join
    here would re-shuffle the whole corpus just to drop stopwords."""
    plan = token_jaccard_pairs(
        docs, threshold=0.5, max_df=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin LeftAnti" not in plan


def test_shingles(docs):
    sh = shingles(docs.filter(F.col("doc_id") == 1), n=3).collect()
    texts = {r["shingle"] for r in sh}
    assert "the quick brown" in texts and "over the lazy" in texts
    assert len(texts) == 7  # 9 tokens → 7 trigrams


def test_minhash_lsh_finds_dups(docs):
    cands = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(docs, num_hashes=32, bands=16).collect()
    }
    assert cands[(1, 2)] == 1.0
    assert cands[(1, 3)] == 1.0  # normalization collapses whitespace/case
    assert (1, 4) in cands  # near-dup shares most shingles


@pytest.fixture()
def documents_dir(tmp_path):
    """Seeded documents table on disk: 30-word vocabulary, random lengths,
    whitespace/case noise, exact copies and near-duplicates (a copy with one
    word appended), plus docs too short for a trigram."""
    import pandas as pd

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(30)]
    texts = []
    for _ in range(40):
        texts.append(" ".join(rng.choice(vocab, int(rng.integers(3, 16)))))
    for i in range(0, 40, 4):
        texts.append(texts[i] + " dup")
    texts += [texts[1], "  " + texts[2].upper() + "  ", "w1 w2", "w3"]
    pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}).to_parquet(
        tmp_path / "documents.parquet", index=False
    )
    return str(tmp_path)


def test_minhash_lsh_pairs_match_duckdb(spark, documents_dir):
    """Value parity of the LSH candidate query with its DuckDB twin: same
    pairs, same estimated Jaccard, in any row order."""
    import duckdb

    import __spark_entry__ as entry

    got = sorted(tuple(r) for r in entry.minhash_lsh_pairs(spark, documents_dir).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_dir}/documents.parquet')"
    )
    want = sorted(con.execute(entry._minhash_lsh_sql()).fetchall())
    assert len(want) >= 12
    assert got == want


def test_minhash_signatures_match_numpy(spark, documents_dir):
    """Each signature entry is min((h * a_i + b_i) mod p) over the doc's
    trigram hashes, recomputed here in numpy from the same coefficients."""
    import hashlib
    import random

    import pandas as pd

    from pysatl_cpd_spark.operators.dedup import _MERSENNE, minhash_signatures

    p = _MERSENNE
    rnd = random.Random(42)
    coeffs = np.array([(rnd.randrange(1, p), rnd.randrange(0, p)) for _ in range(64)])
    docs = spark.read.parquet(f"{documents_dir}/documents.parquet")
    got = {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(shingles(docs, 3, distinct=False)).collect()
    }

    want = {}
    for doc_id, text in pd.read_parquet(f"{documents_dir}/documents.parquet").itertuples(index=False):
        toks = " ".join(text.lower().split()).split(" ")
        grams = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if not grams:
            continue
        h = np.array([int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % p for g in grams])
        want[doc_id] = ((h[:, None] * coeffs[:, 0] + coeffs[:, 1]) % p).min(axis=0).tolist()
    assert len(want) == 52
    assert got == want


def test_simhash_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 0
    assert pairs.get((1, 4), 99) <= 10


@pytest.fixture()
def wide_docs(spark):
    """Corpus with dup clusters, unique docs, and short docs — enough
    structure that the broadcast/join strategy twins must agree on a
    non-trivial pair set (shared shingles, varied set sizes, hamming ties)."""
    rng = np.random.default_rng(7)
    vocab = "alpha bravo charlie delta echo foxtrot golf hotel india juliett".split()
    rows = []
    for i in range(60):
        base = i % 12  # 12 clusters of 5 near-dup docs
        words = [vocab[(base * 3 + j) % len(vocab)] for j in range(12)]
        if i % 5:  # mutate non-representative docs a little
            k = int(rng.integers(0, len(words)))
            words[k] = vocab[int(rng.integers(0, len(vocab)))]
        rows.append((i, " ".join(words)))
    rows.append((100, "zulu"))  # shorter than any shingle window
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingle_jaccard_strategies_identical(monkeypatch, wide_docs):
    """The broadcast incidence kernel must emit EXACTLY the join path's
    rows — same pairs, bit-identical jaccard doubles. The size of the
    incidence table alone picks the side: over the row bound the same call
    takes the join."""
    from pysatl_cpd_spark.operators import dedup

    def run():
        df = dedup.shingle_jaccard_pairs(wide_docs, n=3, threshold=0.5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return "MapInArrow" in plan, sorted(map(tuple, df.collect()))

    bc_kernel, bc_rows = run()
    monkeypatch.setattr(dedup, "BROADCAST_MAX_ROWS", 10)
    join_kernel, join_rows = run()
    assert (bc_kernel, join_kernel) == (True, False)
    assert join_rows == bc_rows and len(join_rows) > 10


def test_shingle_jaccard_persists_nothing(monkeypatch, spark, wide_docs):
    """Neither side leaves a cached plan in the session: the broadcast side
    reads the incidence table once, in its bounded collect."""
    from pysatl_cpd_spark.operators import dedup

    spark.catalog.clearCache()
    for bound in (dedup.BROADCAST_MAX_ROWS, 10):
        monkeypatch.setattr(dedup, "BROADCAST_MAX_ROWS", bound)
        dedup.shingle_jaccard_pairs(wide_docs, n=3, threshold=0.5).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), bound


def test_set_jaccard_size_hint_is_bounded(monkeypatch, spark, documents_dir):
    """The per-doc size table is hinted as a broadcast only while Spark's
    size estimate of it is within SIZES_BROADCAST_MAX_BYTES; over the bound
    the hint goes and the rows stay the same."""
    from pysatl_cpd_spark.operators import dedup

    docs = spark.read.parquet(f"{documents_dir}/documents.parquet")

    def run():
        df = dedup.token_jaccard_pairs(docs, threshold=0.5)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return "strategy=broadcast" in plan, sorted(map(tuple, df.collect()))

    hinted, rows = run()
    monkeypatch.setattr(dedup, "SIZES_BROADCAST_MAX_BYTES", 0)
    unhinted, unbounded_rows = run()
    assert (hinted, unhinted) == (True, False)
    assert unbounded_rows == rows and rows


def test_simhash_strategies_identical(monkeypatch, wide_docs):
    """Broadcast candidate kernel == blocked self-join: same pair set, same
    hamming values (including the numpy SWAR popcount). The simhash table's
    size alone picks the side."""
    from pysatl_cpd_spark.operators import dedup

    def run():
        df = simhash_near_dups(wide_docs, max_hamming=6)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return "Join" in plan, sorted(map(tuple, df.collect()))

    bc_join, bc_rows = run()
    monkeypatch.setattr(dedup, "BROADCAST_MAX_DOCS", 10)
    join_join, join_rows = run()
    assert (bc_join, join_join) == (False, True)
    assert join_rows == bc_rows and len(join_rows) > 10


def test_simhash_kernel_matches_expression_aggregate(wide_docs):
    """simhash_kernel (numpy bit counting) is bit-identical to the
    120-aggregate expression form across the whole fixture corpus."""
    from pysatl_cpd_spark.operators.dedup import simhash, simhash_kernel

    expr = sorted(map(tuple, simhash(wide_docs).collect()))
    kern = sorted(map(tuple, simhash_kernel(wide_docs).collect()))
    assert expr == kern


def _brute_force_hamming(sh, max_h):
    """All doc pairs of the (doc_id, simhash, simhash_hi) rows ``sh`` within
    120-bit hamming distance ``max_h``: {(doc_a, doc_b, hamming)}."""
    pairs = set()
    for i in range(len(sh)):
        for j in range(i + 1, len(sh)):
            a, b = sorted([sh[i], sh[j]], key=lambda r: r.doc_id)
            h = bin(a.simhash ^ b.simhash).count("1") + bin(
                a.simhash_hi ^ b.simhash_hi
            ).count("1")
            if h <= max_h:
                pairs.add((a.doc_id, b.doc_id, h))
    return pairs


def test_simhash_duplicate_doc_rows_match_expression(spark):
    """A doc_id on two input rows in two partitions is ONE document whose
    tokens are the union of its rows, as in the expression ``simhash``: doc 1
    is split over two rows that together hold doc 2's text, so the only pair
    is (1, 2) at distance 0."""
    from pysatl_cpd_spark.operators.dedup import simhash

    rows = [
        (1, "alpha bravo charlie delta echo foxtrot"),
        (2, "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"),
        (1, "golf hotel india juliett kilo lima"),
        (3, "mike november oscar papa quebec romeo sierra tango"),
    ]
    docs = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), "doc_id long, text string"
    )
    assert docs.rdd.glom().map(len).collect() == [1, 1, 1, 1]
    got = {tuple(r) for r in simhash_near_dups(docs, max_hamming=60).collect()}
    want = _brute_force_hamming(simhash(docs).collect(), 60)
    assert got == want
    assert (1, 2, 0) in got


def test_simhash_build_runs_two_jobs(spark):
    """Building simhash_near_dups runs exactly the jobs of its one bounded
    collect, which is both the size gate and the broadcast build side; a
    separate document count before it made four."""
    sc = spark.sparkContext
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sc.setJobGroup("simhash_build", "simhash_build")
    try:
        pairs = simhash_near_dups(docs, max_hamming=6)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup("simhash_build")) == 2
    assert pairs.count() == 1259


def test_fan_out_decides_from_the_plan(spark, tmp_path):
    """fan_out reads the input's partition count from its plan, so building
    shingles runs no job, also when the input holds a shuffle (asking that
    input's RDD for its partitions ran the shuffle as a job). A one-file
    scan is still fanned out to the session's parallelism, a 2-way shuffle
    too, and an 8-way one is left alone."""
    sc = spark.sparkContext
    target = sc.defaultParallelism
    path = str(tmp_path / "docs")
    rows = [(i, f"doc {i} reads alpha bravo charlie delta") for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)

    def build(group, source):
        sc.setJobGroup(group, group)
        try:
            df = shingles(source)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    def plan(df):
        # expression ids and lambda variable names differ between builds
        return re.sub(r"#\d+L?|_\d+\b", "", df._jdf.queryExecution().optimizedPlan().toString())

    scan, scan_jobs = build("fan_out_scan", docs)
    shuffled, shuffled_jobs = build("fan_out_shuffled", docs.repartition(2, "doc_id"))
    wide, _ = build("fan_out_wide", docs.repartition(8, "doc_id"))
    assert (scan_jobs, shuffled_jobs) == (0, 0)
    assert plan(scan) == plan(shingles(docs.repartition(target)))
    assert plan(shuffled) == plan(shingles(docs.repartition(2, "doc_id").repartition(target)))
    assert plan(wide).count("Repartition") == 1


def test_ngram_contamination_plan_has_no_expand(spark):
    """Both per-doc distinct counts come from one aggregate with no Expand
    (two countDistinct would emit every matched row twice), and the 85
    sf0.01 rows equal the countDistinct form's."""
    import __spark_entry__ as entry
    from pysatl_cpd_spark.operators.dedup import shingles
    from pysatl_cpd_spark.functions.text import token_hash64

    sf = "/root/testdata/sf0.01"
    df = entry.ngram_contamination_q(spark, sf)
    got = sorted(map(tuple, df.collect()))
    assert "Expand" not in df._jdf.queryExecution().executedPlan().toString()

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    probes = docs.filter(F.col("doc_id") % 10 == 0)

    def grams(d, name):
        return shingles(d, 4).select(
            F.col("doc_id").alias(name), token_hash64(F.col("shingle")).alias("g")
        )
    want = sorted(
        map(
            tuple,
            grams(docs, "doc_id")
            .join(grams(probes, "probe_id").distinct(), "g")
            .filter(F.col("doc_id") != F.col("probe_id"))
            .groupBy("doc_id")
            .agg(F.countDistinct("g"), F.countDistinct("probe_id"))
            .collect(),
        )
    )
    assert got == want and len(got) == 85


@pytest.fixture()
def vectors(spark):
    rng = np.random.default_rng(0)
    base = rng.normal(size=(20, 8)).astype(np.float32)
    base[7] = base[3] + rng.normal(scale=0.01, size=8).astype(np.float32)  # near 3
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vectors):
    q = vectors.filter(F.col("vec_id") == 3)
    top = cosine_topk(vectors, q, k=1).collect()
    assert top[0]["neighbor_id"] == 7 and top[0]["cosine"] > 0.99


def test_ivf_topk_finds_near_dup(vectors):
    from pysatl_cpd_spark.operators.similarity import ivf_cosine_topk
    from pyspark.sql import functions as F

    q = vectors.filter(F.col("vec_id") == 3)
    top = ivf_cosine_topk(vectors, q, dim=8, k=3, n_lists=4, n_probe=2).collect()
    assert top and top[0]["neighbor_id"] == 7 and top[0]["cosine"] > 0.99


def test_lsh_topk_bucket_contains_near_dup(vectors):
    q = vectors.filter(F.col("vec_id") == 3)
    top = lsh_cosine_topk(vectors, q, dim=8, k=3, n_planes=4).collect()
    assert any(r["neighbor_id"] == 7 for r in top)


def test_lsh_multiprobe_candidate_superset(vectors):
    # hamming-1 multi-probe may only ADD candidates: every (query, neighbor)
    # the single-probe run returns must also appear in the multi-probe run
    # (same tables/planes), and recall vs exact may never drop
    q = vectors.filter(F.col("vec_id") < 4)
    kw = dict(dim=8, k=20, n_planes=4, n_tables=2)
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_cosine_topk(vectors, q, **kw).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_cosine_topk(vectors, q, multiprobe=True, **kw).collect()
    }
    # k=20 >= corpus size, so top-k truncation cannot evict a candidate and
    # the returned sets ARE the candidate sets
    assert single <= multi


def test_multimodal_features(spark):
    media = synthesize_media(spark, n_items=12, seed=1)
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 12
    by_id = {r["item_id"]: r for r in feats}
    assert all(len(r["feature"]) == 16 for r in feats)
    # determinism: same payload hash → same feature
    again = {r["item_id"]: r for r in extract_features(media, dim=16).collect()}
    assert all(by_id[i]["feature"] == again[i]["feature"] for i in by_id)


def test_multimodal_real_decode_gated(spark):
    media = synthesize_media(spark, n_items=3, seed=1)
    with pytest.raises(Exception):  # NotImplementedError inside executor
        extract_features(media, real_decode=True).collect()


def test_simhash_blocking_covers_hamming_4_to_6(spark):
    """Pairs at hamming 4-6 were silently dropped by the old fixed-4-chunk
    blocking (pigeonhole only guaranteed distance <= 3); blocking on
    max_hamming+1 chunks must find them."""
    from pysatl_cpd_spark.operators.dedup import simhash

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa"
    )
    variant = base + " quebec romeo"
    docs2 = spark.createDataFrame([(1, base), (2, variant)], "doc_id long, text string")
    hs = {
        r["doc_id"]: (r["simhash"], r["simhash_hi"])
        for r in simhash(docs2).collect()
    }
    ham = bin(hs[1][0] ^ hs[2][0]).count("1") + bin(hs[1][1] ^ hs[2][1]).count("1")
    assert 4 <= ham <= 12  # planted pair sits above the old-guarantee band
    out = simhash_near_dups(docs2, max_hamming=12).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in out] == [(1, 2, ham)]


def test_simhash_blocking_equals_brute_force(spark):
    """Blocked equi-join output == all-pairs 120-bit hamming filter
    (exactness), including chunks that span the 60-bit half boundary."""
    from pysatl_cpd_spark.operators.dedup import simhash

    docs2 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 60
    )
    for max_h in (6, 11):
        blocked = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups(docs2, max_hamming=max_h).collect()
        }
        assert blocked == _brute_force_hamming(simhash(docs2).collect(), max_h)


def test_simhash_chunk_key_cardinality():
    """Corpus-scale guarantee: every blocking chunk carries >= 16 bits of
    key at the contract's max_hamming=6 (>= 2^16 distinct join keys — the
    old 60-bit layout's 2^9 keys per chunk collapsed at 10^9 docs), the
    layout is a disjoint cover of all 120 bits, and chunk count preserves
    the pigeonhole exactness bound."""
    from pysatl_cpd_spark.operators.dedup import SIMHASH_BITS, simhash_chunk_layout

    layout = simhash_chunk_layout(6)
    assert len(layout) == 7
    assert min(size for _, size in layout) >= 16
    # disjoint full cover
    covered = []
    for start, size in layout:
        covered.extend(range(start, start + size))
    assert covered == list(range(SIMHASH_BITS))
    # pigeonhole bound holds for every max_hamming, incl. the 0 edge case
    for mh in (0, 1, 3, 6, 20):
        lay = simhash_chunk_layout(mh)
        assert len(lay) > mh and all(1 <= s <= 60 for _, s in lay)
        assert sum(s for _, s in lay) == SIMHASH_BITS


def _clustered_vectors(spark, n_clusters=10, per=20, dim=16, seed=0):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 5.0
    rows, vid = [], 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + rng.normal(size=dim) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_recall_on_clustered(spark):
    """ANN recall is a measured number: IVF recall@5 >= 0.9 on data with
    actual locality (tight clusters)."""
    from pysatl_cpd_spark.operators.similarity import ivf_cosine_topk

    corpus = _clustered_vectors(spark)
    q = corpus.filter(F.col("vec_id") % 40 == 0)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(corpus, q, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_cosine_topk(corpus, q, dim=16, k=5, n_lists=8, n_probe=2).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_ivf_256_lists_broadcast_centroids(spark):
    """Centroids travel as ONE broadcast row, not per-centroid plan literals:
    at 256 lists the plan stays constant-size (BroadcastNestedLoopJoin over a
    1-row relation) and the neighbour sets match an exact numpy IVF twin."""
    from pysatl_cpd_spark.operators.similarity import (
        ivf_centroids_from_sample,
        ivf_cosine_topk,
    )

    scale = 10_000_000
    corpus = _clustered_vectors(spark, n_clusters=32, per=16)  # 512 vectors
    q = corpus.filter(F.col("vec_id") % 100 == 0)
    df = ivf_cosine_topk(
        corpus, q, dim=16, k=3, n_lists=256, n_probe=4,
        quantize_scale=scale, round_digits=9,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan

    got: dict[int, set[int]] = {}
    for r in df.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)

    # numpy twin: same sample → same centroids (shared helper), exact int64
    # assignment/probing/rerank
    rows = sorted(corpus.collect(), key=lambda r: r.vec_id)
    vecs = np.array([[float(x) for x in r.embedding] for r in rows])
    ids = np.array([r.vec_id for r in rows])
    cents = np.array(ivf_centroids_from_sample(vecs[:2048], 256, 0, scale), dtype=np.int64)
    qv = np.round(vecs * scale).astype(np.int64)
    d2 = ((qv[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)  # ties → lowest list id (argmin semantics)
    expected: dict[int, set[int]] = {}
    for qi in np.flatnonzero(ids % 100 == 0):
        probes = np.argsort(d2[qi], kind="stable")[:4]
        cand = np.flatnonzero(np.isin(assign, probes) & (ids != ids[qi]))
        cos = np.round(
            (qv[cand] @ qv[qi])
            / np.sqrt((qv[cand] ** 2).sum(axis=1).astype(float) * float(qv[qi] @ qv[qi])),
            9,
        )
        order = sorted(zip(-cos, ids[cand]))[:3]
        expected[int(ids[qi])] = {int(n) for _, n in order}
    assert got == expected


def test_lsh_recall_on_clustered(spark):
    corpus = _clustered_vectors(spark)
    q = corpus.filter(F.col("vec_id") % 40 == 0)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(corpus, q, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_cosine_topk(corpus, q, dim=16, k=5, n_planes=4).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_multimodal_resize_and_frames(spark):
    from pysatl_cpd_spark.operators.multimodal import resize_thumbnails, sample_frames

    media = synthesize_media(spark, n_items=15, seed=3)
    thumbs = resize_thumbnails(media, max_side=32).collect()
    assert thumbs  # audio items (no width) skipped, image/video present
    for r in thumbs:
        assert max(r.width, r.height) <= 32 and min(r.width, r.height) >= 1
        assert len(r.thumb) == r.width * r.height
    frames = sample_frames(media, fps=1.0, max_frames=4).collect()
    assert frames and all(r.frame_idx < 4 for r in frames)
    vids = {r.item_id for r in frames}
    kinds = {r.item_id: r.kind for r in media.select("item_id", "kind").collect()}
    assert all(kinds[i] == "video" for i in vids)
    # determinism: same media → same frame bytes
    again = {(r.item_id, r.frame_idx): bytes(r.frame) for r in sample_frames(media, fps=1.0, max_frames=4).collect()}
    first = {(r.item_id, r.frame_idx): bytes(r.frame) for r in frames}
    assert first == again


def test_quantized_cosine_matches_float_cosine():
    """Property: the int64-quantized cosine (scale 1e7) used by the
    oracle-portable paths stays within its quantization bound of the float
    cosine. Rounding moves each component by at most 0.5/scale, so each
    vector by at most 0.5/scale * sqrt(d), which turns it by an angle of
    about that over its norm; the cosine moves by at most the sum of the
    two angles."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st
    import numpy as np

    scale = 1e7
    unit = st.floats(min_value=-1.0, max_value=1.0, width=32)
    pairs = st.integers(4, 32).flatmap(
        lambda d: st.tuples(*[st.lists(unit, min_size=d, max_size=d)] * 2)
    )

    @settings(max_examples=200, deadline=None)
    @given(pairs)
    @example(([0.001953125, 6.103515625e-05, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]))
    def law(pair):
        av, bv = (np.array(v, dtype=np.float64) for v in pair)
        na, nb = np.linalg.norm(av), np.linalg.norm(bv)
        if na < 1e-3 or nb < 1e-3:
            return  # degenerate norms amplify quantization arbitrarily
        exact = float(av @ bv / (na * nb))
        qa = np.round(av * scale).astype(np.int64)
        qb = np.round(bv * scale).astype(np.int64)
        qn = float(np.sqrt(float(qa @ qa) * float(qb @ qb)))
        quant = float(qa @ qb) / qn
        # each angle is arcsin(shift / norm), which under the norm guard
        # exceeds the ratio by under 1e-7 of itself: the 1.001 covers it
        bound = 0.5 / scale * np.sqrt(len(av)) * (1 / na + 1 / nb)
        assert abs(quant - exact) <= 1.001 * bound, (exact, quant, bound)

    law()


def test_dedup_connected_components(spark):
    """Min-label propagation finds components exactly: a 5-node chain (needs
    several propagation rounds), a separate pair, and no cross-talk."""
    from pysatl_cpd_spark.operators.dedup import dedup_connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (9, 8)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 8: 8, 9: 8}

    # a 30-node chain needs pointer jumping (plain propagation would take 29
    # rounds and previously returned a silently split component at 20)
    chain = spark.createDataFrame(
        [(100 + i, 100 + i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_connected_components(chain, rounds=6).collect()
    }
    assert set(got.values()) == {100} and len(got) == 31

    # string doc ids (the real dedup key type)
    named = spark.createDataFrame(
        [("d2", "d1"), ("d2", "d3"), ("d9", "d8")], "doc_a string, doc_b string"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_connected_components(named).collect()}
    assert got == {"d1": "d1", "d2": "d1", "d3": "d1", "d8": "d8", "d9": "d8"}


def test_components_auto_escalation(spark):
    """A chain deeper than the blind-round diameter budget converges via the
    auto-escalation loop instead of raising; an exhausted max_rounds still
    raises."""
    import pytest

    from pysatl_cpd_spark.operators.dedup import dedup_connected_components

    # diameter 40 > 2^3: rounds=3 blind rounds cannot finish, escalation to
    # max_rounds=8 (diameter 2^8) must
    chain = spark.createDataFrame(
        [(200 + i, 200 + i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_connected_components(chain, rounds=3, max_rounds=8).collect()
    }
    assert set(got.values()) == {200} and len(got) == 41

    with pytest.raises(RuntimeError, match="not converged"):
        dedup_connected_components(chain, rounds=2, max_rounds=3).collect()


def test_components_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured the loop uses RELIABLE checkpoints
    (files appear under the dir) and the fixpoint is unchanged."""
    from pysatl_cpd_spark.operators.dedup import dedup_connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (9, 8)], "doc_a long, doc_b long"
    )
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckpt_dir = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt_dir)
    try:
        got = {
            r.doc_id: r.cluster_id
            for r in dedup_connected_components(pairs, rounds=3).collect()
        }
    finally:
        # conftest session fixture is shared: restore localCheckpoint mode
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 8: 8, 9: 8}
    assert sc.getCheckpointDir() is None
    import os

    found = [
        f
        for root, _dirs, files in os.walk(ckpt_dir)
        for f in files
    ]
    assert found, "reliable checkpoint wrote no files"


def test_png_codec_roundtrip():
    """Pure-python PNG codec: encode->decode is identity for gray/RGB/RGBA."""
    import numpy as np

    from pysatl_cpd_spark.operators.png import decode_png, encode_png

    rng = np.random.default_rng(11)
    for shape in [(5, 8), (7, 3, 3), (4, 6, 4), (1, 1, 3), (16, 16, 3)]:
        pix = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = decode_png(encode_png(pix))
        want = pix if pix.ndim == 3 else pix[:, :, None]
        assert out.shape == want.shape and (out == want).all(), shape


def test_png_codec_all_filters():
    """Decoder handles all five PNG scanline filters: apply each filter per
    the spec to known pixels, rebuild the IDAT, and expect the pixels back."""
    import struct
    import zlib

    import numpy as np

    from pysatl_cpd_spark.operators.png import _SIG, _chunk, decode_png

    rng = np.random.default_rng(3)
    h, w, ch = 6, 5, 3
    pix = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8).astype(np.int32)
    flat = pix.reshape(h, w * ch)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = b""
    stride = w * ch
    for y in range(h):
        ftype = y % 5
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        line = flat[y]
        enc = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            left = line[x - ch] if x >= ch else 0
            up = prev[x]
            upleft = prev[x - ch] if x >= ch else 0
            pred = {
                0: 0,
                1: left,
                2: up,
                3: (left + up) >> 1,
                4: paeth(int(left), int(up), int(upleft)),
            }[ftype]
            enc[x] = (line[x] - pred) & 0xFF
        raw += bytes([ftype]) + enc.astype(np.uint8).tobytes()

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    out = decode_png(data)
    assert (out == pix.astype(np.uint8)).all()


def test_multimodal_real_decode_end_to_end(spark):
    """The NON-FAKE decode branch executes in-sandbox: synthesize real PNG
    payloads, run extract_features(real_decode=True) through mapInPandas on
    executors, and check features equal the locally-decoded ground truth."""
    import numpy as np

    from pysatl_cpd_spark.operators.multimodal import (
        extract_features,
        pixels_to_feature,
        synthesize_media,
    )
    from pysatl_cpd_spark.operators.png import decode_png

    media = synthesize_media(spark, n_items=12, seed=7, real_png=True).filter(
        "kind = 'image'"
    )
    local = {r.item_id: bytes(r.payload) for r in media.collect()}
    assert local and all(p[:8] == b"\x89PNG\r\n\x1a\n" for p in local.values())

    got = {
        r.item_id: np.asarray(r.feature, dtype=np.float32)
        for r in extract_features(media, dim=16, real_decode=True).collect()
    }
    assert set(got) == set(local)
    for item_id, payload in local.items():
        want = pixels_to_feature(decode_png(payload), dim=16)
        assert np.allclose(got[item_id], want, atol=1e-6), item_id


def test_multimodal_real_decode_rejects_non_png(spark):
    """A non-PNG payload in the real-decode branch raises
    NotImplementedError (surfaced by Spark as a PythonException) regardless
    of environment: without Pillow the pure codec rejects it; with Pillow a
    decode failure falls through to the same pure-codec rejection path."""
    import pytest

    from pysatl_cpd_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    audio = synthesize_media(spark, n_items=6, seed=7).filter("kind = 'audio'")
    with pytest.raises(Exception, match="NotImplementedError|not a PNG"):
        extract_features(audio, real_decode=True).collect()
