"""JVM-side CUSUM scoring — no Python in the hot path.

The one-sided CUSUM recursion S_t = max(0, S_{t-1} + (x_t - mu0 - k))
(Page 1954) unrolls to the closed form

    S_t = C_t - min(0, min_{j<=t} C_j),   C_t = cumsum(x - mu0 - k),

so the statistic is two window functions (running sum + running min) that
whole-stage codegen executes entirely in the JVM: a full-scan,
shuffle-once-per-key, no-UDF score.

It is not a gate in front of the Python detectors: a semi-join onto the
alarmed series keeps detection off the fused detect -> encode pass
(operators/segments.py), and its window shuffles and broadcast cost more
than the kernel time they save (README, "One flagship shape").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def cusum_scores(
    series_df: DataFrame,
    k: float,
    mu0: float | None = None,
    two_sided: bool = True,
) -> DataFrame:
    """Append reset-free CUSUM statistics to a (series_id, t, value) frame.

    mu0=None estimates the in-control mean per series (global mean — a single
    extra aggregation, still JVM-side). Output adds ``cusum_pos`` and (if
    two_sided) ``cusum_neg``.
    """
    df = series_df
    if mu0 is None:
        mu = W.partitionBy("series_id")
        df = df.withColumn("_mu0", F.avg("value").over(mu))
    else:
        df = df.withColumn("_mu0", F.lit(float(mu0)))

    run = W.partitionBy("series_id").orderBy("t").rowsBetween(W.unboundedPreceding, 0)

    c_pos = F.sum(F.col("value") - F.col("_mu0") - F.lit(k)).over(run)
    df = df.withColumn("_c_pos", c_pos).withColumn(
        "cusum_pos", F.col("_c_pos") - F.least(F.min("_c_pos").over(run), F.lit(0.0))
    )
    if two_sided:
        c_neg = F.sum(F.col("_mu0") - F.col("value") - F.lit(k)).over(run)
        df = df.withColumn("_c_neg", c_neg).withColumn(
            "cusum_neg",
            F.col("_c_neg") - F.least(F.min("_c_neg").over(run), F.lit(0.0)),
        )
    return df.drop("_mu0", "_c_pos", "_c_neg")


def cusum_alarms(
    series_df: DataFrame,
    k: float,
    h: float,
    mu0: float | None = None,
) -> DataFrame:
    """First alarm per series per direction: (series_id, direction, t, stat)."""
    scored = cusum_scores(series_df, k=k, mu0=mu0, two_sided=True)
    alarms = []
    for direction, col in (("up", "cusum_pos"), ("down", "cusum_neg")):
        hits = scored.filter(F.col(col) > h).groupBy("series_id").agg(
            F.min("t").alias("t")
        )
        alarms.append(hits.select("series_id", F.lit(direction).alias("direction"), "t"))
    return alarms[0].unionByName(alarms[1])
