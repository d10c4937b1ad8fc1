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
    mu0: float,
    two_sided: bool = True,
) -> DataFrame:
    """Append reset-free CUSUM statistics to a (series_id, t, value) frame,
    for in-control mean ``mu0`` and allowance ``k``. Output adds
    ``cusum_pos`` and (if two_sided) ``cusum_neg``.
    """
    cols = series_df.columns
    mu = F.lit(float(mu0))
    devs = {"cusum_pos": F.col("value") - mu - F.lit(k)}
    if two_sided:
        devs["cusum_neg"] = mu - F.col("value") - F.lit(k)

    run = W.partitionBy("series_id").orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    # C_t and its running minimum are nested windows: two projections
    sums = series_df.select(*cols, *[F.sum(d).over(run).alias(f"_c_{n}") for n, d in devs.items()])
    return sums.select(
        *cols,
        *[
            (F.col(f"_c_{n}") - F.least(F.min(f"_c_{n}").over(run), F.lit(0.0))).alias(n)
            for n in devs
        ],
    )


def cusum_alarms(
    series_df: DataFrame,
    k: float,
    h: float,
    mu0: float,
) -> DataFrame:
    """First alarm per series per direction: (series_id, direction, t), the
    first ``t`` whose two-sided statistic exceeds ``h`` ("up" on
    ``cusum_pos``, "down" on ``cusum_neg``); a series that never alarms in a
    direction has no row for it."""
    scored = cusum_scores(series_df, k=k, mu0=mu0, two_sided=True)
    alarms = []
    for direction, col in (("up", "cusum_pos"), ("down", "cusum_neg")):
        hits = scored.filter(F.col(col) > h).groupBy("series_id").agg(
            F.min("t").alias("t")
        )
        alarms.append(hits.select("series_id", F.lit(direction).alias("direction"), "t"))
    return alarms[0].unionByName(alarms[1])
