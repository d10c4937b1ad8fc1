"""Gap-fill: bucketize a series onto a regular grid, then fill missing buckets
by LOCF and/or linear interpolation — pure window functions, no UDFs.

LOCF   = last non-null value over the preceding frame.
Linear = prev non-null (value, ts) + next non-null (value, ts) bracketing the
         gap, interpolated by bucket position.

Grid generation uses sequence()+explode per (key, series-extent) — each key
contributes exactly its own [min_bucket, max_bucket] range, so no global
cartesian with a calendar table is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


def bucketize(
    df: DataFrame,
    key_cols: list[str],
    tier: str = "1m",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(keys..., bucket, value): average of raw points per grid bucket."""
    trunc = {"1m": "minute", "1h": "hour", "1d": "day"}[tier]
    return (
        df.groupBy(*key_cols, F.date_trunc(trunc, F.col(ts_col)).alias("bucket"))
        .agg(F.avg(value_col).alias("value"))
    )


def dense_grid(bucketed: DataFrame, key_cols: list[str], tier: str = "1m") -> DataFrame:
    """Explode each key's [min_bucket, max_bucket] extent into a dense grid
    and left-join the observed values back (missing buckets → null value)."""
    step = _SECONDS[tier]
    extent = bucketed.groupBy(*key_cols).agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    grid = extent.select(
        *key_cols,
        F.explode(
            F.sequence("_lo", "_hi", F.expr(f"interval {step} seconds"))
        ).alias("bucket"),
    )
    return grid.join(bucketed, on=[*key_cols, "bucket"], how="left")


def fill_locf(grid: DataFrame, key_cols: list[str]) -> DataFrame:
    """Add ``value_locf``: last observation carried forward."""
    w = (
        W.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return grid.withColumn("value_locf", F.last("value", ignorenulls=True).over(w))


def fill_interpolate(grid: DataFrame, key_cols: list[str]) -> DataFrame:
    """Add ``value_interp``: linear interpolation between the bracketing
    non-null neighbours; edges fall back to LOCF/NOCB."""
    back = (
        W.partitionBy(*key_cols).orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    )
    fwd = (
        W.partitionBy(*key_cols).orderBy("bucket").rowsBetween(0, W.unboundedFollowing)
    )
    ts = F.col("bucket").cast("timestamp").cast("double")
    prev_val = F.last("value", ignorenulls=True).over(back)
    next_val = F.first("value", ignorenulls=True).over(fwd)
    prev_ts = F.last(
        F.when(F.col("value").isNotNull(), ts), ignorenulls=True
    ).over(back)
    next_ts = F.first(
        F.when(F.col("value").isNotNull(), ts), ignorenulls=True
    ).over(fwd)

    frac = (ts - prev_ts) / (next_ts - prev_ts)
    interp = F.when(F.col("value").isNotNull(), F.col("value")).otherwise(
        F.when(prev_val.isNull(), next_val)
        .when(next_val.isNull(), prev_val)
        .otherwise(prev_val + (next_val - prev_val) * frac)
    )
    return grid.withColumn("value_interp", interp)


def gap_fill(
    df: DataFrame,
    key_cols: list[str],
    tier: str = "1m",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Full pipeline: bucketize → dense grid → LOCF + linear interpolation."""
    bucketed = bucketize(df, key_cols, tier, ts_col, value_col)
    grid = dense_grid(bucketed, key_cols, tier)
    return fill_interpolate(fill_locf(grid, key_cols), key_cols)


def segment_gapfill_turns(series_df: DataFrame, cps_df: DataFrame) -> DataFrame:
    """The north-rule composition: per-(series, SEGMENT) gap-fill on the
    dense integer turn grid — segments between detected change points are
    filled by LOCF + linear interpolation before they are encoded/rolled up.

    Input: series (series_id, t, value) + change points (series_id,
    change_point). Output one row per (series_id, segment_id, t) on each
    segment's [t_min, t_max] grid: observed ``value`` (null in gaps),
    ``value_locf``, ``value_interp`` (edges fall back to LOCF/NOCB).

    One window pass over the observed rows computes everything: a grid
    point between two observed rows has the same last non-null value before
    it and the same first non-null value after it as the earlier row, so
    each row carries its LOCF and its next non-null (value, t) over
    ``ROWS 1 FOLLOWING .. UNBOUNDED`` and is exploded over
    ``[t, lead(t) - 1]``. The segmented series is read once, so detection
    runs once. A row whose ``value`` is null is a gap that still spans the
    grid to its ``t``."""
    from pysatl_cpd_spark.operators.segments import assign_segments

    seg = assign_segments(series_df, cps_df)
    keys = ["series_id", "segment_id"]
    by_t = W.partitionBy(*keys).orderBy("t")
    back = by_t.rowsBetween(W.unboundedPreceding, 0)
    after = by_t.rowsBetween(1, W.unboundedFollowing)
    observed_t = F.when(F.col("value").isNotNull(), F.col("t").cast("double"))
    # a duplicate t has lead(t) == t: it covers only its own grid point
    last_t = F.greatest(F.col("t"), F.coalesce(F.lead("t").over(by_t) - 1, F.col("t")))
    rows = seg.select(
        *keys,
        "t",
        "value",
        F.last("value", ignorenulls=True).over(back).alias("prev_val"),
        F.last(observed_t, ignorenulls=True).over(back).alias("prev_t"),
        F.first("value", ignorenulls=True).over(after).alias("next_val"),
        F.first(observed_t, ignorenulls=True).over(after).alias("next_t"),
        last_t.alias("last_t"),
    ).withColumn("g", F.explode(F.sequence("t", "last_t")))
    value = F.when(F.col("g") == F.col("t"), F.col("value"))
    gd = F.col("g").cast("double")
    prev_val, prev_t = F.col("prev_val"), F.col("prev_t")
    next_val, next_t = F.col("next_val"), F.col("next_t")
    frac = (gd - prev_t) / (next_t - prev_t)
    interp = F.when(value.isNotNull(), value).otherwise(
        F.when(prev_val.isNull(), next_val)
        .when(next_val.isNull(), prev_val)
        .otherwise(prev_val + (next_val - prev_val) * frac)
    )
    return rows.select(
        *keys,
        F.col("g").alias("t"),
        value.alias("value"),
        prev_val.alias("value_locf"),
        interp.alias("value_interp"),
    )
