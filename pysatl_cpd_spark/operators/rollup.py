"""Continuous aggregates (rollup tiers) + retention pruning.

Time-series downsampling engine (the graft's north rule): raw points roll up
into 1m/1h/1d tiers via built-in hash aggregation over truncated timestamps —
partial+final aggregation, AQE coalescing and whole-stage codegen all come
from Catalyst for free. Retention is a partition-pruned delete predicate: each
tier keeps only rows newer than its horizon.

Tier summaries per (key, bucket): count / min / max / avg / first / last
(first/last by event time — computed with struct-min/max so a single shuffle
produces them; no window function needed).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W, functions as F

from pysatl_cpd_spark.sources.io import read_parquet

TIER_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}


@dataclass(frozen=True)
class Tier:
    name: str  # "1m" | "1h" | "1d"
    retention_days: int | None = None  # None = keep forever


DEFAULT_TIERS = (
    Tier("1m", retention_days=7),
    Tier("1h", retention_days=90),
    Tier("1d", retention_days=None),
)


def rollup_tier(
    df: DataFrame,
    tier: str,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """One tier of continuous aggregate: group by key + truncated bucket."""
    trunc = TIER_TRUNC[tier]
    bucket = F.date_trunc(trunc, F.col(ts_col)).alias("bucket")
    # first/last by time via single-pass struct extremes (one shuffle total)
    ts_val = F.struct(F.col(ts_col).alias("ts"), F.col(value_col).alias("v"))
    return (
        df.groupBy(*key_cols, bucket)
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.avg(value_col).alias("avg_value"),
            F.sum(value_col).alias("sum_value"),
            F.min(ts_val).getField("v").alias("first_value"),
            F.max(ts_val).getField("v").alias("last_value"),
        )
    )


def rollup_all_tiers(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiers: tuple[Tier, ...] = DEFAULT_TIERS,
    base_table_path: str | None = None,
) -> dict[str, DataFrame]:
    """All tiers from one source scan. The 1h/1d tiers re-aggregate the 1m
    tier (not the raw table) — hierarchical rollup so the raw scan happens
    once; counts/min/max/sum compose exactly, avg = sum/count, and
    first/last compose by carrying bucket-edge values.

    Base-tier reuse:
    - ``base_table_path``: write the 1m tier to parquet and read it back —
      the production continuous-aggregate shape (each tier is a table; the
      next tier scans it, the raw table is scanned exactly once). Measured
      faster than cache() at bench scale too: the in-memory columnar cache
      build of the 1m tier costs more than its parquet round trip.
    - ``None`` (default): lazy plans; each downstream tier recomputes 1m
      from the raw scan."""
    out: dict[str, DataFrame] = {}
    minute = rollup_tier(df, "1m", key_cols, ts_col, value_col)
    if base_table_path is not None:
        minute.write.mode("overwrite").parquet(base_table_path)
        minute = read_parquet(df.sparkSession, base_table_path, schema=minute.schema)
    out["1m"] = minute
    prev = minute
    for tier in ("1h", "1d"):
        trunc = TIER_TRUNC[tier]
        bucket = F.date_trunc(trunc, F.col("bucket")).alias("bucket")
        b_val = F.struct(F.col("bucket").alias("b"), F.col("first_value").alias("v"))
        b_val_last = F.struct(F.col("bucket").alias("b"), F.col("last_value").alias("v"))
        prev = (
            prev.groupBy(*key_cols, bucket)
            .agg(
                F.sum("n_points").alias("n_points"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
                F.sum("sum_value").alias("sum_value"),
                F.min(b_val).getField("v").alias("first_value"),
                F.max(b_val_last).getField("v").alias("last_value"),
            )
            .withColumn("avg_value", F.col("sum_value") / F.col("n_points"))
            .select(
                *key_cols,
                "bucket",
                "n_points",
                "min_value",
                "max_value",
                "avg_value",
                "sum_value",
                "first_value",
                "last_value",
            )
        )
        out[tier] = prev
    return out


def rollup_tier_distinct(
    df: DataFrame,
    tier: str,
    key_cols: list[str],
    ts_col: str = "ts",
    id_col: str = "user_id",
    lgk: int = 12,
) -> DataFrame:
    """Tier with a MERGEABLE distinct-count sketch per bucket (Apache
    DataSketches HLL via Spark's hll_sketch_agg): (keys, bucket, n_points,
    distinct_sketch, distinct_est). The sketch column is what makes this a
    continuous aggregate: coarser tiers union finer tiers' sketches instead
    of rescanning raw (HLL union is register-wise max, so the hierarchical
    estimate is IDENTICAL to sketching the raw data directly)."""
    trunc = TIER_TRUNC[tier]
    bucket = F.date_trunc(trunc, F.col(ts_col)).alias("bucket")
    sketch = F.hll_sketch_agg(F.col(id_col), F.lit(lgk))
    return df.groupBy(*key_cols, bucket).agg(
        F.count(F.lit(1)).alias("n_points"),
        sketch.alias("distinct_sketch"),
    ).withColumn("distinct_est", F.hll_sketch_estimate("distinct_sketch"))


def rollup_distinct_hierarchy(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    id_col: str = "user_id",
    lgk: int = 12,
) -> dict[str, DataFrame]:
    """1m/1h/1d distinct-count tiers; 1h and 1d are sketch UNIONS of the 1m
    tier — the raw table is scanned exactly once, the rest is register-max
    merges over already-tiny tier tables (the 100 TB shape for
    distinct-users-per-bucket at every retention tier)."""
    out: dict[str, DataFrame] = {}
    minute = rollup_tier_distinct(df, "1m", key_cols, ts_col, id_col, lgk)
    out["1m"] = minute
    prev = minute
    for tier in ("1h", "1d"):
        trunc = TIER_TRUNC[tier]
        bucket = F.date_trunc(trunc, F.col("bucket")).alias("bucket")
        prev = (
            prev.groupBy(*key_cols, bucket)
            .agg(
                F.sum("n_points").alias("n_points"),
                F.hll_union_agg("distinct_sketch").alias("distinct_sketch"),
            )
            .withColumn("distinct_est", F.hll_sketch_estimate("distinct_sketch"))
        )
        out[tier] = prev
    return out


def apply_retention(
    tier_df: DataFrame,
    tier: Tier,
    now_expr: str | None = None,
) -> DataFrame:
    """Retention pruning as a bucket predicate. On a partitioned table this
    compiles to partition pruning (drop whole partitions); here it is the
    equivalent filter. ``now_expr`` defaults to the max bucket in the data so
    tests are deterministic."""
    if tier.retention_days is None:
        return tier_df
    if now_expr is None:
        # data-relative horizon: broadcast the 1-row max-bucket aggregate
        bounds = tier_df.agg(
            F.date_sub(F.max("bucket"), tier.retention_days).alias("_horizon")
        )
        return (
            tier_df.join(F.broadcast(bounds))
            .filter(F.col("bucket") >= F.col("_horizon"))
            .drop("_horizon")
        )
    return tier_df.filter(
        F.col("bucket") >= F.expr(f"date_sub({now_expr}, {tier.retention_days})")
    )


def rollup_quantile_hierarchy(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    k: int = 200,
) -> dict[str, DataFrame]:
    """Mergeable per-bucket VALUE QUANTILES (Apache DataSketches KLL via
    Spark's kll_sketch_agg_double): the 1m tier sketches raw values once;
    1h/1d tiers MERGE sketches (kll_sketch_merge_double over collected pairs
    is avoided — kll_merge_agg_double is the aggregate form), so percentile
    tiers have the same scan-once/merge-tiny shape as the HLL distinct
    tiers. Below the sketch's exact threshold (bucket n <= k) the quantile
    query is an exact rank selection — value-verified against DuckDB's
    quantile_disc at the oracle scale; at 100 TB the identical plan returns
    rank-error-bounded percentiles."""
    out: dict[str, DataFrame] = {}
    sketch = F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(k))
    minute = df.groupBy(
        *key_cols, F.date_trunc(TIER_TRUNC["1m"], F.col(ts_col)).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_points"), sketch.alias("q_sketch"))
    out["1m"] = minute
    prev = minute
    for tier in ("1h", "1d"):
        bucket = F.date_trunc(TIER_TRUNC[tier], F.col("bucket")).alias("bucket")
        prev = prev.groupBy(*key_cols, bucket).agg(
            F.sum("n_points").alias("n_points"),
            F.kll_merge_agg_double("q_sketch", F.lit(k)).alias("q_sketch"),
        )
        out[tier] = prev
    return out


def theta_user_overlap(
    df: DataFrame,
    type_a: str,
    type_b: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "user_id",
) -> DataFrame:
    """Set operations on SKETCHES (Apache DataSketches Theta): per day, the
    distinct-user overlap and union between two event types, computed from
    two mergeable per-type sketches instead of a raw-row intersection —
    the 100-TB shape for audience-overlap questions (sketches persist per
    tier and compose; raw users are scanned once). Exact below the sketch's
    nominal-entries bound; value-verified against exact set ops at oracle
    scale."""
    day = F.date_trunc("day", F.col(ts_col)).alias("bucket")
    per_type = (
        df.filter(F.col(type_col).isin([type_a, type_b]))
        .groupBy(day, F.col(type_col).alias("t"))
        .agg(F.theta_sketch_agg(F.col(id_col)).alias("s"))
    )
    a = per_type.filter(F.col("t") == type_a).select("bucket", F.col("s").alias("sa"))
    b = per_type.filter(F.col("t") == type_b).select("bucket", F.col("s").alias("sb"))
    return (
        a.join(b, "bucket")
        .select(
            "bucket",
            F.round(F.theta_sketch_estimate(F.theta_intersection("sa", "sb")))
            .cast("long")
            .alias("n_both"),
            F.round(F.theta_sketch_estimate(F.theta_union("sa", "sb")))
            .cast("long")
            .alias("n_either"),
        )
    )


def rollup_tier_topk(
    df: DataFrame,
    tier: str,
    key_cols: list[str],
    ts_col: str = "ts",
    item_col: str = "event_type",
    k: int = 8,
) -> DataFrame:
    """Tier with a MERGEABLE heavy-hitters (frequent items) summary per
    bucket — Misra-Gries truncation per Agarwal et al., "Mergeable
    Summaries" (PODS 2012): keep the k largest per-item counters, subtract
    the (k+1)-th counter's value from the kept ones, and carry that value
    as ``mg_err`` (the max undercount of any stored estimate; true count is
    within [cnt, cnt + mg_err]). Items are counted EXACTLY within the
    finest tier first (a distributed groupBy, no per-executor state), so
    the summary is the standard exact-partial -> truncate construction;
    coarser tiers merge summaries without touching raw rows
    (``rollup_topk_hierarchy``). With <= k distinct items per bucket the
    summary is exact (mg_err = 0) — the oracle-checkable regime.

    Output: (keys, bucket, n_points, topk array<struct<cnt,item>> sorted by
    (cnt desc, item), mg_err)."""
    trunc = TIER_TRUNC[tier]
    bucket = F.date_trunc(trunc, F.col(ts_col)).alias("bucket")
    counts = df.groupBy(*key_cols, bucket, F.col(item_col).alias("item")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return _truncate_topk(
        counts.groupBy(*key_cols, "bucket").agg(
            F.sum("cnt").alias("n_points"),
            F.collect_list(F.struct("cnt", "item")).alias("_all"),
        ),
        k,
        F.lit(0),
    )


def _truncate_topk(grouped: DataFrame, k: int, carried_err) -> DataFrame:
    """Misra-Gries truncation of a per-bucket (cnt, item) list: sort by
    (cnt desc, item asc), keep k, subtract the (k+1)-th count from the kept
    ones, add it (plus any carried child error) to ``mg_err``."""
    # cnt desc with deterministic ascending-item ties, via a sortable
    # negative-count key
    ordered = F.array_sort(
        F.transform("_all", lambda s: F.struct((-s["cnt"]).alias("negcnt"), s["item"].alias("item")))
    )
    sub = F.when(
        F.size(ordered) > k, -F.element_at(ordered, k + 1)["negcnt"]
    ).otherwise(F.lit(0))
    kept = F.filter(
        F.transform(
            F.slice(ordered, 1, k),
            lambda s: F.struct((-s["negcnt"] - sub).alias("cnt"), s["item"].alias("item")),
        ),
        lambda s: s["cnt"] > 0,
    )
    return grouped.select(
        *[c for c in grouped.columns if c not in ("_all",)],
        kept.alias("topk"),
        (sub + carried_err).alias("mg_err"),
    ).withColumn("mg_err", F.col("mg_err").cast("long"))


def merge_topk_summaries(
    summaries: DataFrame,
    key_cols: list[str],
    bucket_expr,
    k: int,
) -> DataFrame:
    """Merge Misra-Gries summaries (topk array + mg_err per row) into coarser
    buckets — the mergeability law of Agarwal et al. Thm 1: sum stored
    counters per item, re-truncate to k, and the merged undercount bound is
    the SUM of child errors plus the new subtraction (a stored item
    undercounts by <= err in each child; an item absent from a child's
    summary may have had true count up to that child's err).

    Implemented as ONE pass over ``summaries`` (posexplode_outer + two
    chained aggregations, no self-join): the pos==0-or-null marker makes
    each child row contribute its n_points/mg_err exactly once, empty child
    summaries flow through the null-item group (their meta counted, no
    phantom counter — a plain explode_outer + collect would let the null
    struct steal a top-k slot, array_sort places nulls first), and
    collect_list drops the null entries from the merged counter set."""
    first = F.col("pos").isNull() | (F.col("pos") == 0)
    exploded = summaries.select(
        *key_cols,
        bucket_expr.alias("bucket"),
        "n_points",
        "mg_err",
        F.posexplode_outer("topk").alias("pos", "e"),
    )
    item_lvl = exploded.groupBy(
        *key_cols, "bucket", F.col("e.item").alias("item")
    ).agg(
        F.sum("e.cnt").alias("cnt"),
        F.sum(F.when(first, F.col("n_points")).otherwise(0)).alias("np_part"),
        F.sum(F.when(first, F.col("mg_err")).otherwise(0)).alias("err_part"),
    )
    merged = item_lvl.groupBy(*key_cols, "bucket").agg(
        F.collect_list(
            F.when(F.col("item").isNotNull(), F.struct("cnt", "item"))
        ).alias("_all"),
        F.sum("np_part").alias("n_points"),
        F.sum("err_part").alias("child_err"),
    )
    return _truncate_topk(merged, k, F.col("child_err")).drop("child_err")


def rollup_topk_hierarchy(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    item_col: str = "event_type",
    k: int = 8,
) -> dict[str, DataFrame]:
    """1m/1h/1d heavy-hitter tiers; 1h and 1d MERGE the finer tier's
    summaries via ``merge_topk_summaries`` (sum-of-child-errors bound), so
    each tier is one pass over the previous tier and raw rows are scanned
    exactly once, like the HLL/KLL/Theta tiers."""
    out: dict[str, DataFrame] = {}
    minute = rollup_tier_topk(df, "1m", key_cols, ts_col, item_col, k)
    out["1m"] = minute
    prev = minute
    for tier in ("1h", "1d"):
        prev = merge_topk_summaries(
            prev, key_cols, F.date_trunc(TIER_TRUNC[tier], F.col("bucket")), k
        )
        out[tier] = prev
    return out
