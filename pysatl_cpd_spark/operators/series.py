"""Series derivation — long-format (series_id, t, value) frames from raw tables.

The engine's canonical detector input is a keyed, indexed, double-valued
series (SURVEY.md §1.3). These helpers stay entirely in JVM-side column
expressions (window functions), so Catalyst prunes/pushes everything; no UDFs.

The window-derived series pass their keyed projection through
``colocate()`` (operators/colocated.py) before the window. The window
reuses that one shuffle, and the per-series runner downstream finds every
series already co-located, so no caller places a repartition by hand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from pysatl_cpd_spark.operators.colocated import colocate


def events_series(events: DataFrame, value_col: str = "value") -> DataFrame:
    """events(event_id, ts, user_id, ...) → (series_id, t, value) ordered per
    user; t is the per-user 0-based position by (ts, event_id).

    The row_number window partitions by the *cast* key, the key the
    detectors group on."""
    keyed = colocate(
        events.select(
            F.col("user_id").cast("string").alias("series_id"),
            "ts",
            "event_id",
            F.col(value_col).cast("double").alias("value"),
        ),
        ["series_id"],
    )
    w = W.partitionBy("series_id").orderBy("ts", "event_id")
    return keyed.select(
        "series_id",
        (F.row_number().over(w) - F.lit(1)).alias("t"),
        "value",
    )


def turn_rate_series(
    transcripts: DataFrame,
    key: str = "conv_id",
    order: str = "turn_idx",
    ts: str = "ts",
) -> DataFrame:
    """Per-conversation turn-rate series: value_t = 1 / seconds(ts_t - ts_{t-1}).

    The derived `input_hint` series for transcripts: a change in inter-turn
    gap distribution shows up as a level shift in the rate.
    """
    keyed = colocate(transcripts.select(key, order, ts), [key])
    w = W.partitionBy(key).orderBy(order)
    gap = F.col(ts).cast("timestamp").cast("double") - F.lag(F.col(ts).cast("timestamp").cast("double")).over(w)
    return (
        keyed.select(
            F.col(key).alias("series_id"),
            F.col(order).alias("t"),
            gap.alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull() & (F.col("gap_s") > 0))
        .select("series_id", "t", (F.lit(1.0) / F.col("gap_s")).alias("value"))
    )


def tool_call_rate_series(
    transcripts: DataFrame,
    bucket_turns: int = 20,
    key: str = "conv_id",
    order: str = "turn_idx",
) -> DataFrame:
    """Per-conversation tool-call-rate over fixed micro-buckets of turns:
    fraction of turns in each ``bucket_turns`` block that carry a tool call."""
    bucket = (F.col(order) / bucket_turns).cast("long")
    return (
        transcripts.groupBy(F.col(key).alias("series_id"), bucket.alias("t"))
        .agg(
            (
                F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("value")
        )
    )
