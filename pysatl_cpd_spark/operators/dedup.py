"""Deduplication operators for training-data pipelines.

Exact, MinHash-LSH, SimHash and n-gram-Jaccard near-dup detection over a
documents table. Everything is built from relational primitives (explode →
groupBy → join), so it scales shuffle-bound, not driver-bound; hashes are
md5-derived so a SQL oracle can reproduce them bit-for-bit.

The two near-dup operators with a broadcast kernel, ``shingle_jaccard_pairs``
and ``simhash_near_dups``, have one rule and nothing to choose: each
collects its build side with a bounded ``limit(MAX + 1)``, and that one
collect decides. At most ``MAX`` rows (``BROADCAST_MAX_ROWS`` shingle
incidences, ``BROADCAST_MAX_DOCS`` SimHash rows) become a broadcast numpy
kernel; more go to the shuffle self-join, which never has to fit anywhere.
Both sides give the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from pysatl_cpd_spark.functions.text import fingerprint, token_hash64
from pysatl_cpd_spark.operators.colocated import colocate

_MERSENNE = (1 << 31) - 1  # int64-safe: (h mod p) * a < 2^62

# Broadcast build-side bounds, checked by one bounded collect per call:
# 16M (doc, shingle-hash) rows are about 250 MB of CSR build arrays, 4M
# SimHash rows 96 MB as collected (three longs each); the same order as a
# large broadcast-join build side.
BROADCAST_MAX_ROWS = 16_000_000
BROADCAST_MAX_DOCS = 4_000_000
# Largest plan-time size estimate of a per-doc set-size table that the
# set-Jaccard self-join broadcasts (a quarter of Spark's default 1 GB
# spark.driver.maxResultSize, which every broadcast build must pass).
SIZES_BROADCAST_MAX_BYTES = 256 << 20


def _fan_out(docs: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow documents scan up to the session's
    parallelism before per-row-heavy generation (explode + md5 hashing): a
    single-file table with one parquet row group scans as ONE task, which
    serializes the whole Generate/hash stage onto one core (measured 5.75 s
    for 2.6M shingles at sf1.0 that take ~0.4 s spread over 32). The
    repartition moves only the tiny raw doc rows once, and is skipped when
    the input is already at least that parallel (a real multi-file corpus
    scan at cluster scale)."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    try:
        current = docs.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 - conservatively skip on exotic plans
        return docs
    if current >= target:
        return docs
    return docs.repartition(target)


def _normalized_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, token) word tokens of the normalized text, one row per
    occurrence, in ``docs``' partitioning (the explode is doc-local)."""
    squeezed = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.split(squeezed, " ").alias("toks"))
        .select("doc_id", F.explode("toks").alias("token"))
        .filter(F.length("token") > 0)
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: (fingerprint,
    n_dups, keep_id) for groups with >1 member. Hash-groupBy — one shuffle."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per fingerprint group."""
    w = W.partitionBy("fp").orderBy("doc_id")
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .withColumn("fp", fingerprint(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def token_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct word tokens for candidate pairs
    sharing >= 1 token: (doc_a, doc_b, jaccard), doc_a < doc_b.

    Shuffle shape: explode to (doc, token), self-join on token (skew-prone on
    stopwords — AQE skew join handles it), then one groupBy on the pair. The
    token self-join costs O(sum_t df_t^2); a stopword with df=10^6 alone
    contributes 10^12 candidate rows, so at corpus scale pass ``max_df``:
    tokens appearing in more than ``max_df`` documents are removed from the
    vocabulary BEFORE the join (both intersection and denominators use the
    filtered token sets — standard df-pruned Jaccard), capping per-token
    join fan-out at max_df^2. The dropped-token set has at most
    total_token_occurrences / max_df entries — broadcastable by
    construction — so the prune is a broadcast anti-join with no extra
    shuffle on the corpus side.
    """
    toks = _normalized_tokens(_fan_out(docs), id_col, text_col).distinct()
    if max_df is not None:
        heavy = (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("token")
        )
        toks = toks.join(F.broadcast(heavy), "token", "left_anti")
    return _set_jaccard_pairs(toks.select("doc_id", F.col("token").alias("key")), threshold)


def _set_jaccard_pairs(members: DataFrame, threshold: float) -> DataFrame:
    """Exact set Jaccard of every doc pair sharing >= 1 key, over a DISTINCT
    (doc_id, key) table: (doc_a, doc_b, jaccard), doc_a < doc_b, jaccard >=
    ``threshold``. A self-join on the key, then one groupBy on the pair.

    Each doc's set size rides on its key rows so that
    (1) the self-join prunes size-incompatible pairs BEFORE the pair
        aggregate: jaccard <= min(|A|,|B|)/max(|A|,|B|), so any pair with
        min <= t*max - 1 can never reach the threshold (integer counts make
        the -1 slack absorb float rounding in t*max — prunes only provable
        non-matches, output unchanged). At sf1.0 this cut the shingle join's
        257M-row fan-out / 114M-group pair aggregate ~4x;
    (2) n_a/n_b ride the groupBy keys (functionally dependent on the ids),
        removing the two post-aggregation size joins and their exchanges.

    The size table (one row per doc) is hinted as a broadcast while Spark's
    plan-time size estimate of it (input file bytes scaled by row width; no
    job runs) is at most ``SIZES_BROADCAST_MAX_BYTES`` (256 MB); above that,
    and for inputs of unknown size such as in-memory RDDs, Spark picks the
    join strategy itself. Without the hint, adaptive execution broadcasts
    the key table instead at sf0.01, a different final plan.
    """
    sizes = members.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    estimate = sizes._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if int(estimate) <= SIZES_BROADCAST_MAX_BYTES:
        sizes = F.broadcast(sizes)
    enriched = members.join(sizes, "doc_id")
    a, b = enriched.alias("a"), enriched.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    size_compat = F.least(na, nb).cast("double") > (
        F.lit(float(threshold)) * F.greatest(na, nb).cast("double") - F.lit(1.0)
    )
    inter = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_compat,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            na.alias("n_a"),
            nb.alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def shingle_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard over word n-gram shingles. Shingles are far more
    selective than single tokens (the 31-token synthetic corpus makes a
    token self-join O(sum df^2) ≈ 450M pairs at sf0.1; trigrams cut that to
    ~3M), so this is the exact-similarity operator that survives scale.

    The size of the (doc, shingle-hash) incidence table decides how pair
    intersections are counted, the same decision as Spark's
    broadcast-vs-shuffle join: one job collects at most
    ``BROADCAST_MAX_ROWS + 1`` rows, and that collect is both the gate and
    the build side.

    - At most ``BROADCAST_MAX_ROWS`` rows: the table is broadcast as CSR
      index arrays (exactly what a BroadcastHashJoin does with its build
      side), and each task counts shared hashes for its slice of docs with
      vectorized numpy gathers + bincount — no pair shuffle, no 10^8-group
      aggregate (``_jaccard_pairs_broadcast``).
    - More: the shuffle equi-join on the shingle hash + pair aggregate
      (``_set_jaccard_pairs``), whose table never has to fit anywhere.

    Identical output either way: same distinct md5-hash sets, same integer
    counts, same double jaccard.
    """
    # join on the portable 60-bit md5 hash of the shingle, not the string:
    # an 8-byte shuffle key instead of a ~20-byte string. The SQL oracle
    # hashes identically, so even the (~1e-7) collision behavior matches.
    #
    # The incidence table is built NON-distinct first: (doc, shingle)
    # duplicates can only occur inside one document, and the explode that
    # generates shingles is doc-local, so every duplicate lives in the same
    # scan partition — the global ``.distinct()`` exchange buys nothing the
    # broadcast kernel's own exact (doc, hash) dedupe (np.unique over the
    # packed pairs) doesn't already do. Only the join path, whose self-join
    # multiplies duplicates into wrong intersection counts, pays the
    # distinct. Gating on the RAW row count is the right bound anyway: the
    # collect ships raw rows, so raw <= BROADCAST_MAX_ROWS is the faithful
    # build-side size gate (and raw >= distinct keeps it conservative).
    raw = shingles(docs, n, id_col, text_col, distinct=False).select(
        "doc_id", token_hash64(F.col("shingle")).alias("key")
    )
    build = raw.limit(BROADCAST_MAX_ROWS + 1).toPandas()
    if len(build) <= BROADCAST_MAX_ROWS:
        return _jaccard_pairs_broadcast(raw.sparkSession, build, threshold)
    return _set_jaccard_pairs(raw.distinct(), threshold)


def _jaccard_pairs_broadcast(spark, pdf, threshold: float) -> DataFrame:
    """Broadcast-incidence counting kernel behind ``shingle_jaccard_pairs``:
    take the collected (doc_id, key) incidence table ``pdf`` — the build
    side, bounded by the caller's row gate exactly like a broadcast-join
    build side — index it into forward/transpose CSR arrays,
    broadcast them, and let each task compute EXACT shared-hash counts for a
    slice of docs via numpy gathers + bincount. Replaces the O(sum df^2)
    join fan-out + pair-count shuffle aggregate (74.7M groups for 25 result
    rows at sf1.0) with vectorized per-doc counting; the math is identical:
    n_inter = |hash(A) ∩ hash(B)|, jaccard = double(n_inter) /
    double(|A| + |B| - n_inter), filter >= threshold."""
    import numpy as np
    import pyarrow as pa

    sc = spark.sparkContext
    doc = pdf["doc_id"].to_numpy(np.int64)
    hv = pdf["key"].to_numpy(np.int64)
    out_schema = "doc_a long, doc_b long, jaccard double"
    if doc.shape[0] == 0:
        return spark.createDataFrame([], out_schema)
    docs_u, doc_idx = np.unique(doc, return_inverse=True)
    voc_u, voc_idx = np.unique(hv, return_inverse=True)
    nd, nv = docs_u.shape[0], voc_u.shape[0]
    # exact (doc, hash) dedupe (the collected rows are not distinct: a doc
    # repeats a shingle it contains twice) — packed fits int64 because
    # nd * nv <= nnz^2 <= (16M)^2 < 2^63
    packed = np.unique(doc_idx.astype(np.int64) * nv + voc_idx)
    doc_idx = packed // nv
    voc_idx = packed % nv
    sizes = np.bincount(doc_idx, minlength=nd).astype(np.int64)
    # forward CSR (doc -> its hash ids): packed order is doc-major
    f_indptr = np.searchsorted(doc_idx, np.arange(nd + 1))
    f_cols = voc_idx
    # transpose CSR (hash id -> sorted doc ids)
    order = np.lexsort((doc_idx, voc_idx))
    t_docs = doc_idx[order]
    t_indptr = np.searchsorted(voc_idx[order], np.arange(nv + 1))
    bc = sc.broadcast((f_indptr, f_cols, t_indptr, t_docs, sizes, docs_u))
    n_blocks = max(2 * sc.defaultParallelism, 1)

    def run(batches):
        fi, fc, ti, td, sz, du = bc.value
        ndocs = sz.shape[0]
        thr = float(threshold)
        for batch in batches:
            for blk in batch.column(0).to_numpy():
                lo = (ndocs * blk) // n_blocks
                hi = (ndocs * (blk + 1)) // n_blocks
                oa, ob, oj = [], [], []
                for r in range(int(lo), int(hi)):
                    segs = []
                    for s in fc[fi[r] : fi[r + 1]]:
                        seg = td[ti[s] : ti[s + 1]]
                        # docs within one hash are sorted: keep only j > r
                        seg = seg[np.searchsorted(seg, r, side="right") :]
                        if seg.shape[0]:
                            segs.append(seg)
                    if not segs:
                        continue
                    cnt = np.bincount(
                        np.concatenate(segs), minlength=ndocs
                    )
                    js = np.nonzero(cnt)[0]
                    ci = cnt[js]
                    jac = ci.astype(np.float64) / (sz[r] + sz[js] - ci)
                    keep = jac >= thr
                    if keep.any():
                        oa.append(np.full(int(keep.sum()), du[r], np.int64))
                        ob.append(du[js[keep]])
                        oj.append(jac[keep])
                if oa:
                    yield pa.record_batch(
                        [
                            pa.array(np.concatenate(oa), pa.int64()),
                            pa.array(np.concatenate(ob), pa.int64()),
                            pa.array(np.concatenate(oj), pa.float64()),
                        ],
                        names=["doc_a", "doc_b", "jaccard"],
                    )

    blocks = spark.range(0, n_blocks, 1, n_blocks)
    return blocks.mapInArrow(run, out_schema)


def shingles(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, shingle) distinct word n-gram shingles, via slide over the
    token array (transform + filter — JVM-side). ``distinct=False`` skips
    the dedup exchange for duplicate-insensitive consumers (MinHash minima,
    countDistinct aggregates): same results, one less shuffle over the
    fat shingle strings.

    The token array is MATERIALIZED in its own projection before the slide:
    referencing the split(...) expression inline inside the transform lambda
    makes Catalyst re-evaluate the whole regexp+split chain once per shingle
    index (no common-subexpression elimination through generator lambdas) —
    measured 10x slower (4.7 s vs 0.45 s for 260k shingles at sf0.1)."""
    squeezed = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    tokd = _fan_out(docs).select(
        F.col(id_col).alias("doc_id"), F.split(squeezed, " ").alias("toks")
    )
    # guard: a doc shorter than n words has NO shingles (sequence(0, -1)
    # would otherwise count down and feed slice() an invalid start)
    idx = F.when(
        F.size("toks") >= n, F.sequence(F.lit(0), F.size("toks") - n)
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.array_join(F.slice("toks", i + 1, n), " "))
    out = tokd.select("doc_id", F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


def ngram_contamination(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination scan — the n-gram-overlap hygiene test LLM
    training pipelines run against eval suites (n=13 is the published GPT-3 /
    PaLM convention; pass a smaller n for short documents): a document is
    flagged when any of its word n-grams exactly matches an n-gram from the
    probe (benchmark) set. The probe side is orders of magnitude smaller than
    the corpus, so it BROADCASTS into the equi-join on the portable 60-bit
    md5 hash — the 100-TB corpus is scanned once with no corpus-side shuffle
    before the (contaminated-only) per-doc aggregate. Output:
    (doc_id, n_matched_grams, n_probes_hit).

    Both distinct counts are set sizes in one per-doc aggregate: two
    ``countDistinct``s in one aggregate make Spark plan an Expand that emits
    every matched row twice (once per distinct column)."""
    doc_g = shingles(docs, n, id_col, text_col).select(
        "doc_id", token_hash64(F.col("shingle")).alias("g")
    )
    probe_g = (
        shingles(probes, n, probe_id_col, probe_text_col)
        .select(F.col("doc_id").alias("probe_id"), token_hash64(F.col("shingle")).alias("g"))
        .distinct()
    )
    return (
        doc_g.join(F.broadcast(probe_g), "g")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("doc_id")
        .agg(
            F.size(F.collect_set("g")).cast("long").alias("n_matched_grams"),
            F.size(F.collect_set("probe_id")).cast("long").alias("n_probes_hit"),
        )
    )


def minhash_signatures(
    shingled: DataFrame,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per doc: h_i(x) = (a_i * x + b_i) mod p over the
    portable 60-bit shingle hash; signature = array of per-function minima.
    One shuffle (groupBy doc). The array of minima is parsed from one SQL
    string: built as Column objects it costs thousands of Python-to-JVM calls
    per query (about 1 s) before any job runs."""
    import random

    rnd = random.Random(seed)
    coeffs = [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE)) for _ in range(num_hashes)]
    hashed = shingled.select("doc_id", (token_hash64(F.col("shingle")) % _MERSENNE).alias("h"))
    mins = ", ".join(f"min((h * {a} + {b}) % {_MERSENNE})" for a, b in coeffs)
    return hashed.groupBy("doc_id").agg(F.expr(f"array({mins})").alias("signature"))


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH near-dup candidates: band the signature, bucket-join on
    (band, band-hash), emit distinct candidate pairs with estimated Jaccard
    (signature agreement rate). Scale path: the join key is (band_id, hash of
    rows-per-band), so only docs agreeing on a full band ever meet."""
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        # distinct=False: per-hash-function minima are duplicate-
        # insensitive, so the shingle dedup exchange is pure cost here
        shingles(docs, shingle_n, id_col, text_col, distinct=False),
        num_hashes,
        seed,
    )
    # band bucket = md5 of the comma-joined band values: portable (DuckDB
    # computes the identical key), unlike Spark-internal murmur F.hash
    banded = sig.select(
        "doc_id",
        "signature",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.slice("signature", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "signature", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    a = banded.alias("a")
    b = banded.alias("b")
    # emit each pair from its lowest agreeing band only (both signatures are
    # in-row, so band agreement is a cheap array compare) — kills the
    # distinct shuffle over up-to-`bands`-fold duplicated candidates
    min_band = F.expr(
        "CASE "
        + " ".join(
            f"WHEN slice(a.signature, {i * rows_per_band + 1}, {rows_per_band})"
            f" = slice(b.signature, {i * rows_per_band + 1}, {rows_per_band}) THEN {i}"
            for i in range(bands)
        )
        + f" ELSE {bands} END"
    )
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(F.col("a.band") == min_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        (agree.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): hash every character k-gram of the normalized text, slide a
    window of ``w`` consecutive k-gram hashes, keep the minimum of each
    window, emit the distinct minima — the local-fingerprint set that
    guarantees any shared substring of length >= k + w - 1 produces a shared
    fingerprint. Pure JVM (substr + md5-hash + window min), one shuffle, and
    SQL-oracle portable."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = (
        docs.select(F.col(id_col).alias("doc_id"), norm.alias("txt"))
        .filter(F.length("txt") >= k)
        .withColumn("n_g", F.length("txt") - k + 1)
    )
    grams = base.select(
        "doc_id",
        "n_g",
        F.explode(F.sequence(F.lit(1), F.col("n_g"))).alias("pos"),
        "txt",
    ).select(
        "doc_id",
        "n_g",
        "pos",
        token_hash64(F.col("txt").substr(F.col("pos"), F.lit(k))).alias("h"),
    )
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("fingerprint", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("n_g") - w + 1)
        .select("doc_id", "fingerprint")
        .distinct()
    )


SIMHASH_BITS = 120  # two 60-bit md5 halves (lo = hex[1:15], hi = hex[16:30])


def _token_hash_halves(toks: DataFrame) -> DataFrame:
    """(doc_id, h, h2): the two md5-derived 60-bit hashes of each token,
    bits 0-59 from md5 hex[1:15] and bits 60-119 from hex[16:30]."""
    return toks.select(
        "doc_id",
        token_hash64(F.col("token")).alias("h"),
        F.conv(F.substring(F.md5(F.col("token")), 16, 15), 16, 10)
        .cast("long")
        .alias("h2"),
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """120-bit SimHash per document as a Spark expression: (doc_id,
    simhash = bits 0-59, simhash_hi = bits 60-119). Relational form:
    distinct tokens → per-bit set counts → groupBy doc → majority bit.

    This is the parity reference for ``simhash_kernel``, which near-dup
    detection runs; the DuckDB oracle mirrors this form. Its 120 aggregate
    columns generate one whole-stage-codegen function whose compile
    dominates a cold run (measured ~6 s compile vs 0.6 s execution at
    sf1.0)."""
    toks = _normalized_tokens(_fan_out(docs), id_col, text_col).distinct()
    hashed = _token_hash_halves(toks)
    # set-bit COUNTS instead of ±1 sign-sums: sum(±1) > 0 <=> 2*count > n
    # exactly (integer identity), and the per-row aggregate update loses the
    # conditional branch — half the expression work per (row, bit)
    bit_sums = [
        F.sum(
            F.shiftright(F.col("h" if i < 60 else "h2"), i % 60).bitwiseAND(
                F.lit(1)
            )
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(
        *bit_sums, F.count(F.lit(1)).alias("n_tok")
    )
    n2 = F.col("n_tok")

    def packed(lo_bit: int) -> F.Column:
        out: F.Column = F.lit(0).cast("long")
        for i in range(lo_bit, lo_bit + 60):
            out = out + F.when(
                F.col(f"b{i}") * 2 > n2, F.lit(1 << (i - lo_bit)).cast("long")
            ).otherwise(F.lit(0))
        return out

    return agg.select("doc_id", packed(0).alias("simhash"), packed(60).alias("simhash_hi"))


def simhash_kernel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """120-bit SimHash per document, (doc_id, simhash, simhash_hi), with the
    per-(doc, bit) counting + sign-packing vectorized in one mapInArrow
    pass: the same integers as ``simhash`` (parity-pinned in tests), from
    the same md5-derived per-token hashes computed JVM-side, so the
    oracle-portable hash law is untouched. Its plan is tiny and compiles in
    milliseconds, where the expression form's 120-aggregate function takes
    seconds.

    ONE ROW PER DOC: the input is co-located by doc_id (``colocate``), so
    every input row of a doc — there may be several — lands in one
    partition, and the doc's token set is the union over its rows, as in
    ``simhash``. The token explode is doc-local, so the per-doc token dedup
    and bit counting run per partition with no ``distinct`` exchange — the
    kernel dedupes (doc, h, h2) itself. Deduping on the 120-bit hash pair
    instead of the token string diverges only if two DISTINCT tokens of one
    doc collide in BOTH md5-derived 60-bit halves at once (~2^-120 per pair
    — far below the 60-bit shingle-hash-join collision bound the engine
    already accepts as oracle-identical)."""
    import numpy as np
    import pyarrow as pa

    rows = colocate(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        ["doc_id"],
    )
    hashed = _token_hash_halves(_normalized_tokens(rows, "doc_id", "text"))

    shifts = np.arange(60, dtype=np.int64)
    pows = (np.int64(1) << shifts).astype(np.int64)

    def run(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        doc = tbl.column("doc_id").to_numpy(zero_copy_only=False)
        h = tbl.column("h").to_numpy(zero_copy_only=False).astype(np.int64)
        h2 = tbl.column("h2").to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.lexsort((h2, h, doc))
        doc, h, h2 = doc[order], h[order], h2[order]
        # per-doc token dedup on the 120-bit pair (sorted, so duplicates
        # are adjacent) — the distinct the expression form pays a shuffle
        # for, done in-partition (input is co-located by doc)
        keep = np.empty(doc.shape[0], dtype=bool)
        keep[0] = True
        keep[1:] = (
            (doc[1:] != doc[:-1]) | (h[1:] != h[:-1]) | (h2[1:] != h2[:-1])
        )
        doc, h, h2 = doc[keep], h[keep], h2[keep]
        docs_u, counts = np.unique(doc, return_counts=True)
        starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
        n_tok = counts[:, None]

        def packed(half: np.ndarray) -> np.ndarray:
            cnt = np.add.reduceat((half[:, None] >> shifts) & 1, starts, axis=0)
            return ((cnt * 2 > n_tok) * pows).sum(axis=1).astype(np.int64)

        yield pa.record_batch(
            [
                pa.array(docs_u, pa.int64()),
                pa.array(packed(h), pa.int64()),
                pa.array(packed(h2), pa.int64()),
            ],
            names=["doc_id", "simhash", "simhash_hi"],
        )

    return hashed.mapInArrow(
        run, "doc_id long, simhash long, simhash_hi long"
    )


def simhash_chunk_layout(max_hamming: int, total_bits: int = SIMHASH_BITS) -> list[tuple[int, int]]:
    """(start, size) per blocking chunk: ``max(max_hamming + 1, 2)`` disjoint
    chunks covering all ``total_bits``, sizes as even as possible. Pigeonhole
    with n > max_hamming disjoint chunks guarantees >= 1 identical chunk for
    any pair within distance ``max_hamming``, so the blocked join stays
    EXACT. At the contract's max_hamming=6 over 120 bits the 7 chunks carry
    17-18 bits each — >= 2^17 distinct join keys per chunk, so at 10^9 docs
    an average bucket holds ~n/2^17 docs and the within-bucket filter is
    O(n^2 / 2^17) per chunk instead of the old 60-bit layout's O(n^2 / 2^9)."""
    n_chunks = max(max_hamming + 1, 2)
    if n_chunks > total_bits:
        raise ValueError("max_hamming too large for the simhash width")
    base, rem = divmod(total_bits, n_chunks)
    layout = []
    start = 0
    for i in range(n_chunks):
        size = base + (1 if i < rem else 0)
        layout.append((start, size))
        start += size
    return layout


def _chunk_key(lo: F.Column, hi: F.Column, start: int, size: int) -> F.Column:
    """Extract chunk bits [start, start+size) of the 120-bit (lo, hi) hash
    as a bigint key; chunks spanning the 60-bit half boundary stitch the two
    parts in-row (pure bit ops, no shuffle)."""
    if start >= 60:
        return F.shiftright(hi, start - 60).bitwiseAND(F.lit((1 << size) - 1))
    if start + size <= 60:
        return F.shiftright(lo, start).bitwiseAND(F.lit((1 << size) - 1))
    nlo = 60 - start
    lo_part = F.shiftright(lo, start).bitwiseAND(F.lit((1 << nlo) - 1))
    hi_part = hi.bitwiseAND(F.lit((1 << (size - nlo)) - 1))
    return lo_part.bitwiseOR(F.shiftleft(hi_part, nlo))


def _simhash_pairs_broadcast(
    spark, pdf, max_hamming: int, layout: list[tuple[int, int]]
) -> DataFrame:
    """Broadcast-kernel twin of the blocked simhash self-join (same shape as
    ``_jaccard_pairs_broadcast``): the collected per-doc simhash table
    ``pdf`` — ONE small row per document — is broadcast with a transpose index
    (chunk-key -> sorted doc ids), and each task generates the pigeonhole
    candidates for its slice of docs with numpy gathers, dedupes them in-row
    (np.unique — replaces the lowest-matching-chunk trick), and applies the
    exact hamming filter via a popcount LUT. Pair set and hamming values are
    identical to the join path: candidates = pairs sharing >= 1 chunk
    (pigeonhole-complete for distance <= max_hamming), filter <= max_hamming.
    Replaces the sum-bucket^2 join fan-out (445M joined rows at sf1.0 for
    12.3M output pairs, one hot 17-bit bucket holding 17.8k docs) with
    vectorized gathers at the same exact output."""
    import numpy as np
    import pyarrow as pa

    sc = spark.sparkContext
    out_schema = "doc_a long, doc_b long, hamming long"
    if len(pdf) == 0:
        return spark.createDataFrame([], out_schema)
    # sort by doc id so dense index order == id order (dedupe is j > r)
    pdf = pdf.sort_values("doc_id")
    ids = pdf["doc_id"].to_numpy(np.int64)
    lo = pdf["simhash"].to_numpy(np.int64)
    hi = pdf["simhash_hi"].to_numpy(np.int64)
    nd = ids.shape[0]

    def chunk_keys(lo_a: np.ndarray, hi_a: np.ndarray, start: int, size: int) -> np.ndarray:
        mask = np.int64((1 << size) - 1)
        if start >= 60:
            return (hi_a >> (start - 60)) & mask
        if start + size <= 60:
            return (lo_a >> start) & mask
        nlo = 60 - start
        lo_part = (lo_a >> start) & np.int64((1 << nlo) - 1)
        hi_part = hi_a & np.int64((1 << (size - nlo)) - 1)
        return lo_part | (hi_part << nlo)

    n_chunks = len(layout)
    # incidence (doc, packed chunk value), packed = key * n_chunks + chunk
    keys = np.concatenate(
        [
            chunk_keys(lo, hi, s, z) * n_chunks + i
            for i, (s, z) in enumerate(layout)
        ]
    )
    docs_idx = np.tile(np.arange(nd, dtype=np.int64), n_chunks)
    voc_u, voc_idx = np.unique(keys, return_inverse=True)
    order = np.lexsort((docs_idx, voc_idx))
    t_docs = docs_idx[order]
    t_indptr = np.searchsorted(voc_idx[order], np.arange(voc_u.shape[0] + 1))
    # forward: row r's chunk vocab ids are voc_idx[r], voc_idx[nd + r], ...
    f_vocs = voc_idx.reshape(n_chunks, nd)
    bc = sc.broadcast((ids, lo, hi, f_vocs, t_indptr, t_docs))
    n_blocks = max(2 * sc.defaultParallelism, 1)

    def _popcount(v: np.ndarray) -> np.ndarray:
        # SWAR popcount; inputs are xors of 60-bit non-negative hashes, so
        # the final multiply's top byte (total count <= 120 < 128) never
        # sets the sign bit and the arithmetic >> 56 is exact
        m1 = np.int64(0x5555555555555555)
        m2 = np.int64(0x3333333333333333)
        m4 = np.int64(0x0F0F0F0F0F0F0F0F)
        v = v - ((v >> 1) & m1)
        v = (v & m2) + ((v >> 2) & m2)
        v = (v + (v >> 4)) & m4
        return (v * np.int64(0x0101010101010101)) >> 56

    def run(batches):
        ids_, lo_, hi_, fv, ti, td = bc.value
        ndocs = ids_.shape[0]
        mh = int(max_hamming)
        for batch in batches:
            for blk in batch.column(0).to_numpy():
                oa, ob, oh = [], [], []
                # STRIDED doc assignment (r = blk, blk + n_blocks, ...): hot
                # near-dup clusters sit in contiguous id ranges, so range
                # blocks would straggle; striding spreads them evenly
                for r in range(int(blk), ndocs, n_blocks):
                    segs = []
                    for c in range(fv.shape[0]):
                        s = fv[c, r]
                        seg = td[ti[s] : ti[s + 1]]
                        seg = seg[np.searchsorted(seg, r, side="right") :]
                        if seg.shape[0]:
                            segs.append(seg)
                    if not segs:
                        continue
                    js = np.unique(np.concatenate(segs))
                    ham = _popcount(lo_[js] ^ lo_[r]) + _popcount(
                        hi_[js] ^ hi_[r]
                    )
                    keep = ham <= mh
                    if keep.any():
                        oa.append(np.full(int(keep.sum()), ids_[r], np.int64))
                        ob.append(ids_[js[keep]])
                        oh.append(ham[keep])
                if oa:
                    yield pa.record_batch(
                        [
                            pa.array(np.concatenate(oa), pa.int64()),
                            pa.array(np.concatenate(ob), pa.int64()),
                            pa.array(np.concatenate(oh), pa.int64()),
                        ],
                        names=["doc_a", "doc_b", "hamming"],
                    )

    blocks = spark.range(0, n_blocks, 1, n_blocks)
    return blocks.mapInArrow(run, out_schema)


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance over the FULL 120-bit
    simhash, blocked on ``max(max_hamming + 1, 2)`` disjoint bit chunks
    (pigeonhole: distance <= max_hamming over > max_hamming disjoint chunks
    ⇒ at least one chunk identical), so the blocking is *exact* — identical
    output to the brute-force all-pairs hamming filter, at bucket-join cost.
    See ``simhash_chunk_layout`` for the per-chunk key cardinality /
    within-bucket cost model at corpus scale.

    The per-doc simhash table (``simhash_kernel``, one row per doc) is the
    build side, and its size alone picks the pair search: one job collects
    at most ``BROADCAST_MAX_DOCS + 1`` rows. At most ``BROADCAST_MAX_DOCS``
    become the broadcast candidate kernel (``_simhash_pairs_broadcast``);
    more go to the blocked shuffle self-join, whose two sides are one
    subplan, so Spark runs the kernel once and the second side reads the
    first side's shuffle (``ReusedExchange``). Same rows either way."""
    layout = simhash_chunk_layout(max_hamming)
    sh = simhash_kernel(docs, id_col, text_col)
    build = sh.limit(BROADCAST_MAX_DOCS + 1).toPandas()
    if len(build) <= BROADCAST_MAX_DOCS:
        return _simhash_pairs_broadcast(sh.sparkSession, build, max_hamming, layout)
    chunks = sh.select(
        "doc_id",
        "simhash",
        "simhash_hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        _chunk_key(
                            F.col("simhash"), F.col("simhash_hi"), start, size
                        ).alias("key"),
                    )
                    for i, (start, size) in enumerate(layout)
                ]
            )
        ).alias("c"),
    ).select(
        "doc_id",
        "simhash",
        "simhash_hi",
        F.col("c.chunk").alias("chunk"),
        F.col("c.key").alias("key"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    xor_lo = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    xor_hi = F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi"))
    # keep each pair exactly once WITHOUT a distinct shuffle: a pair matching
    # in several chunks is emitted only from its lowest matching chunk index,
    # computed in-row from the xor (chunk j matches iff its xor bits are 0)
    min_match = F.lit(len(layout))
    for i, (start, size) in reversed(list(enumerate(layout))):
        chunk_zero = _chunk_key(xor_lo, xor_hi, start, size) == 0
        min_match = F.when(chunk_zero, F.lit(i)).otherwise(min_match)
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(F.col("a.chunk") == min_match)
        .withColumn(
            "hamming",
            (F.bit_count(xor_lo) + F.bit_count(xor_hi)).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
    )


def _lineage_checkpoint(df: DataFrame) -> DataFrame:
    """Truncate lineage between iterative rounds. Uses a RELIABLE checkpoint
    when the SparkContext has a checkpoint dir configured
    (``sc.setCheckpointDir(...)``) — survives executor loss, the right mode
    on a real cluster — and falls back to ``localCheckpoint`` (executor-
    local blocks, one job, no HDFS round-trip) otherwise, which is the fast
    mode for local[] runs where executor loss means the app is gone anyway.

    Storage caveat for the reliable mode: Spark keeps every reliable
    checkpoint on the durable store until app exit (or until the GC-driven
    cleaner runs, and only with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``, default
    false), so an iterative loop accumulates up to ``max_rounds`` full
    label-set snapshots per invocation. Production deployments should set
    that conf and point the checkpoint dir at a TTL'd/scratch prefix;
    localCheckpoint blocks, by contrast, are block-manager-managed and
    cleaned automatically.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def dedup_connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    rounds: int = 8,
    max_rounds: int = 16,
) -> DataFrame:
    """Collapse near-duplicate PAIRS into CLUSTERS (the step after LSH in a
    real dedup pipeline: keep one representative per component). Min-label
    propagation with pointer-jumping shortcuts: every round is (neighbour
    min-join) + (label-of-label hop), so covered diameter doubles per round
    — ``rounds`` = 8 reaches components of diameter ~2^8. Each round ends
    in a lineage checkpoint (reliable when a checkpoint dir is configured,
    else localCheckpoint — see ``_lineage_checkpoint``): the round's two
    self-references would otherwise DOUBLE the logical plan every round
    (exponential analysis cost), and a checkpoint is one job versus the two
    (cache + convergence count) the naive loop pays — per-round driver
    actions were the cost driver. After the blind rounds a fixpoint check
    runs; if the labels have not converged the loop AUTO-ESCALATES with
    per-round convergence checks up to ``max_rounds`` (diameter ~2^16)
    before raising, so pathological deep components cost extra counts
    rather than a hard failure. Returns (doc_id, cluster_id = min id of the
    component)."""
    fwd = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .cache()
    )

    def step(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(
                lbl.select(F.col("a").alias("b"), F.col("label").alias("nlabel")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nlabel").alias("min_n"))
        )
        propagated = lbl.join(neighbor_min, "a", "left").select(
            "a",
            F.least(F.col("label"), F.coalesce("min_n", "label")).alias("label"),
        )
        hop = propagated.select(
            F.col("a").alias("label"), F.col("label").alias("label2")
        )
        return propagated.join(hop, "label", "left").select(
            "a", F.coalesce("label2", "label").alias("label")
        )

    labels = edges.select("a").distinct().withColumn("label", F.col("a"))
    for _ in range(rounds):
        labels = _lineage_checkpoint(step(labels))
    done = rounds
    while True:
        nxt = _lineage_checkpoint(step(labels))
        not_fixed = (
            nxt.join(labels.select("a", F.col("label").alias("old")), "a")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        if not not_fixed:
            break
        done += 1
        labels = nxt
        if done >= max_rounds:
            edges.unpersist()
            raise RuntimeError(
                f"connected components not converged after {done} "
                f"propagate+shortcut rounds (component diameter ~> 2^{done}); "
                "raise `max_rounds`: each round doubles the diameter covered"
            )
    edges.unpersist()
    return labels.select(F.col("a").alias("doc_id"), F.col("label").alias("cluster_id"))
