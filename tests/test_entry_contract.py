"""Contract-surface freezes: the driver consumes __spark_entry__.py and
deployments consume dist/pysatl_cpd_spark.zip — both must stay exactly in
step with the working tree."""

import os
import re
import zipfile

import __spark_entry__ as entry_mod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The driver's correctness gate checks the FIRST 50 queries() entries. This
# ordering was curated in round 4 so the flagship and every detector sits
# inside the window; a careless insert above slot 50 silently evicts one.
# Any change to this list must be deliberate: re-pin the golden below AND
# re-check that everything evicted is genuinely subsumed by a checked entry.
DRIVER_WINDOW_GOLDEN = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "customers_without_orders",
    "events_rollup_tiers",
    "events_rollup_hierarchy",
    "events_sessionize",
    "top_events_per_user",
    "cusum_scores",
    "rollup_retention",
    "events_pivot",
    "events_gapfill",
    "asof_join",
    "lang_id_docs",
    "stopword_quality",
    # round-6 re-pin: token_jaccard (df-pruned broadcast-anti-join Jaccard,
    # the 100-TB stopword mitigation) replaced text_quality, whose
    # token_count/punct_ratio machinery is computed inside stopword_quality's
    # quality column — text_quality stays locally value-checked in the
    # demoted block
    "token_jaccard",
    "dedup_exact",
    "shingle_jaccard",
    "embeddings_cosine_topk",
    "cpd_confusion",
    "scrubber_windows",
    "gorilla_roundtrip",
    "cpd_bocpd_offline",
    "cpd_bocpd_online",
    "cpd_linear_heuristic",
    "cpd_cusum_localized",
    "cpd_classification",
    "cpd_knn",
    "cpd_knn_multivariate",
    "cpd_graph",
    "cpd_kliep",
    "cpd_rulsif",
    "cpd_detect_counts",
    "minhash_lsh_pairs",
    "ngram_contamination",
    "simhash_pairs",
    "dedup_clusters",
    "lsh_cosine_topk",
    "ivf_cosine_topk",
    "embedding_near_dups",
    "ann_recall",
    "bpe_token_counts",
    "winnow_fingerprints",
    "rollup_distinct_daily",
    "rollup_quantiles_daily",
    "theta_user_overlap",
    "multimodal_features",
    "transcripts_cpd_rollup",
    "transcripts_segment_gapfill",
    "transcripts_tool_rate",
]


def test_driver_window_frozen():
    """The first 50 queries() keys equal the checked-in golden, in order."""
    keys = list(entry_mod.queries().keys())
    assert keys[:50] == DRIVER_WINDOW_GOLDEN


def test_every_query_has_oracle_or_is_known_rows_only():
    """Every queries() entry either has an oracle_sql() twin (full
    rows+schema+hash gate) or is on the explicit rows-only list — no query
    silently loses its value check."""
    queries = set(entry_mod.queries().keys())
    oracles = set(entry_mod.oracle_sql().keys())
    assert oracles <= queries  # no orphan oracles
    rows_only = queries - oracles
    # non-SQL-expressible ops only (stateful/iterative detectors whose
    # VALUES transcription oracles degrade when sf0.01 parquet is absent)
    allowed_rows_only = {
        "cpd_classification",
        "cpd_knn",
        "cpd_knn_multivariate",
        "cpd_kliep",
        "cpd_rulsif",
    }
    assert rows_only <= allowed_rows_only, rows_only


_PLAN_PREFIX = __import__("re").compile(r"^(?::  |\+- |:- |   )*")


def _plan_lines(plan: str) -> "list[tuple[int, str]]":
    """Parse a Spark plan toString into (depth, text) — every tree level is
    one 3-char prefix unit (':  ', '+- ', ':- ', '   ')."""
    out = []
    for line in plan.splitlines():
        prefix = _PLAN_PREFIX.match(line).group(0)
        out.append((len(prefix) // 3, line[len(prefix):]))
    return out


def _streamed_side_lines(plan: str, op: str) -> "list[list[str]]":
    """For each occurrence of ``op``, return its subtree lines EXCLUDING
    subtrees rooted at BroadcastExchange (build sides may shuffle their tiny
    inputs) — i.e. the operator's streamed input path."""
    lines = _plan_lines(plan)
    subtrees = []
    for i, (d, text) in enumerate(lines):
        if op not in text:
            continue
        collected: "list[str]" = []
        skip_deeper_than: "int | None" = None
        for dd, tt in lines[i + 1:]:
            if dd <= d:
                break
            if skip_deeper_than is not None:
                if dd > skip_deeper_than:
                    continue
                skip_deeper_than = None
            if "BroadcastExchange" in tt:
                skip_deeper_than = dd
                continue
            collected.append(tt)
        subtrees.append(collected)
    return subtrees


# the one paid ingest shuffle: a repartition on the series key alone, under
# its source name (conv_id for transcripts, series_id for events)
_INGEST = re.compile(r"hashpartitioning\((conv_id|series_id)#\d+L?, \d+\), REPARTITION_BY_NUM")


def _assert_colocated_detect_plan(plan: str, n_map_in_arrow: "int | None"):
    """The load-bearing zero-exchange properties (robust across Spark
    versions / AQE config, per round-7 advice — no exact exchange-count
    pins):

      - the colocated MapInArrow dispatches are used (no FlatMapGroupsIn*,
        i.e. no salted grouped-map path);
      - NO exchange anywhere partitions by the salt 'bucket' column;
      - the one paid ingest shuffle is present (REPARTITION_BY_NUM on the
        series key, which the series derivation places under its window);
      - between each MapInArrow and that repartition there is NO other
        shuffle of any kind on its streamed input — the property that
        makes detect+encode zero-exchange."""
    assert "FlatMapGroupsIn" not in plan, "salted grouped-map dispatch leaked in"
    exchanges = {m.group(0) for m in re.finditer(r"Exchange \w+[^\n]*", plan)}
    assert not any(
        "bucket" in e for e in exchanges if "hashpartitioning" in e
    ), sorted(exchanges)
    assert any(_INGEST.search(e) for e in exchanges), sorted(exchanges)
    streamed = _streamed_side_lines(plan, "MapInArrow")
    if n_map_in_arrow is not None:
        assert len(streamed) == n_map_in_arrow, plan[:800]
    assert streamed, plan[:800]
    for sub in streamed:
        # BroadcastExchange roots were skipped above, so every remaining
        # Exchange/ReusedExchange is on the streamed input: the first must
        # be the one series-key repartition, and only the series'
        # synthesis below it may shuffle
        exchanges = [t for t in sub if "Exchange" in t]
        ingest = [t for t in exchanges if _INGEST.search(t)]
        assert len(ingest) == 1 and exchanges[0] == ingest[0], (
            f"exchange on a MapInArrow streamed side: {exchanges}"
        )


def test_flagship_zero_exchange_plan(spark):
    """The contract flagship (transcripts_cpd_rollup) runs the ZERO-EXCHANGE
    fused detect+encode path: the repartition on conv_id that the rate
    series places under its window pays the only series-data shuffle, and
    the one MapInArrow (encode, with the detector run inline) streams
    straight from that repartition through a local sort, with no exchange
    and no broadcast."""
    import __spark_entry__ as entry

    df = entry.queries()["transcripts_cpd_rollup"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    _assert_colocated_detect_plan(plan, n_map_in_arrow=1)
    assert "BroadcastExchange" not in plan, plan[:800]


# SHA-256 of entry()'s sorted row reprs, computed before its CUSUM
# pre-filter gate was dropped (the gate was exact, so the rows are the same)
ENTRY_ROWS_SHA256 = "d85e7336e1171d6bf7dd90254ef1b305d7c5cd7b195afcbd6525d1f6637ef352"


def test_entry_fused_plan_and_rows(spark):
    """entry() detects and encodes in one fused pass: its plan has one
    MapInArrow fed by the events series' one series_id repartition and no
    BroadcastExchange, and its sf0.001 rows are pinned."""
    import hashlib

    df = entry_mod.entry(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    _assert_colocated_detect_plan(plan, n_map_in_arrow=1)
    assert "BroadcastExchange" not in plan, plan[:800]
    rows = sorted(repr(tuple(r)) for r in df.collect())
    assert len(rows) == 30
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    assert digest == ENTRY_ROWS_SHA256


def test_gapfill_zero_exchange_detect_plan(spark):
    """transcripts_segment_gapfill runs the SAME zero-exchange colocated
    detect (a future edit must not silently reintroduce a salt shuffle),
    and runs it once: the gap-fill reads the segmented series once, so the
    final plan holds one detect MapInArrow, and nothing is left cached.
    The initial plan prints the detect subtree too; every occurrence must
    be colocated."""
    import __spark_entry__ as entry

    spark.catalog.clearCache()
    df = entry.queries()["transcripts_segment_gapfill"](
        spark, "/root/testdata/sf0.001"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    _assert_colocated_detect_plan(plan, n_map_in_arrow=None)
    final = plan.split("\n+- == Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("MapInArrow") == 1, final[:1500]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dist_zip_matches_working_tree():
    """dist/pysatl_cpd_spark.zip (the spark-submit --py-files artifact) must
    contain EVERY package .py at the working tree's exact bytes — a stale
    zip ships known-fixed bugs. Rebuild with scripts/make_pyfiles.py."""
    zip_path = os.path.join(ROOT, "dist", "pysatl_cpd_spark.zip")
    assert os.path.exists(zip_path), "run scripts/make_pyfiles.py"
    pkg = os.path.join(ROOT, "pysatl_cpd_spark")
    tree = {}
    for dirpath, _, files in os.walk(pkg):
        if "__pycache__" in dirpath:
            continue
        for name in files:
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                tree[os.path.relpath(full, ROOT)] = full
    with zipfile.ZipFile(zip_path) as zf:
        members = {n for n in zf.namelist() if n.endswith(".py")}
        missing = set(tree) - members
        assert not missing, f"stale zip, missing: {sorted(missing)}"
        stale = [
            rel
            for rel, full in sorted(tree.items())
            if zf.read(rel) != open(full, "rb").read()
        ]
        assert not stale, f"stale zip members: {stale}"
