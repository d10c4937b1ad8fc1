"""CPD evaluation metrics as relational ops (parity: reference
analysis/results_analyzer.py:14-87 and icpd_solver.py:41-50).

Confusion counts over an index window [lo, hi) need no per-index scan: with
P = predicted set ∩ window, A = actual set ∩ window,
  TP = |P ∩ A|, FP = |P \\ A|, FN = |A \\ P|, TN = (hi - lo) - TP - FN —
pure set arithmetic over one tagged union of the two sets and two
aggregations, with no join. Note the TN formula mirrors a reference quirk
(results_analyzer.py:33-41): its ``tn += 1`` falls through after ``fp += 1``
(no else), so false positives also count as true negatives; goldens in
tests/test_solver.py:49 encode that behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def confusion_matrix(
    predicted: DataFrame,
    actual: DataFrame,
    window: tuple[int, int] | None = None,
) -> DataFrame:
    """Per-series confusion counts of predicted vs actual change points.

    predicted/actual: (series_id, change_point). window=None uses the
    reference default: [min, max] over the union, per series.
    Returns (series_id, tp, tn, fp, fn, accuracy, precision, recall).

    One row per distinct (series_id, change_point) of the union carries
    ``in_p`` / ``in_a`` membership flags; a per-series aggregate counts them
    inside the window. No join, so no plan depends on which input adaptive
    execution sees finish first.
    """
    cp = "change_point"
    points = (
        predicted.select("series_id", cp, F.lit(1).alias("in_p"), F.lit(0).alias("in_a"))
        .unionByName(actual.select("series_id", cp, F.lit(0).alias("in_p"), F.lit(1).alias("in_a")))
        .groupBy("series_id", cp)
        .agg(F.max("in_p").alias("in_p"), F.max("in_a").alias("in_a"))
    )
    if window is None:
        lo, hi = F.min(cp), F.max(cp)

        def in_window(flag):  # [min, max): every point but the last
            return F.sum(flag) - F.max_by(flag, cp)
    else:
        lo, hi = F.lit(window[0]), F.lit(window[1])
        inside = (F.col(cp) >= window[0]) & (F.col(cp) < window[1])

        def in_window(flag):
            return F.sum(F.when(inside, flag).otherwise(0))

    counts = points.groupBy("series_id").agg(
        (hi - lo).alias("width"),
        in_window(F.col("in_p")).alias("n_pred"),
        in_window(F.col("in_a")).alias("n_act"),
        in_window(F.col("in_p") * F.col("in_a")).alias("tp"),
    )
    out = counts.select(
        "series_id",
        "tp",
        (F.col("width") - F.col("n_act")).alias("tn"),
        (F.col("n_pred") - F.col("tp")).alias("fp"),
        (F.col("n_act") - F.col("tp")).alias("fn"),
    )
    total = F.col("tp") + F.col("tn") + F.col("fp") + F.col("fn")
    return out.select(
        "series_id",
        "tp",
        "tn",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("tn") == 0, 0.0)
        .otherwise((F.col("tp") + F.col("tn")) / total)
        .alias("accuracy"),
        F.when(F.col("tp") == 0, 0.0)
        .otherwise(F.col("tp") / (F.col("tp") + F.col("fp")))
        .alias("precision"),
        F.when(F.col("tp") == 0, 0.0)
        .otherwise(F.col("tp") / (F.col("tp") + F.col("fn")))
        .alias("recall"),
    )


def result_diff(predicted: DataFrame, actual: DataFrame) -> DataFrame:
    """Sorted symmetric difference of change-point sets per series
    (reference icpd_solver.py:41-50) via two anti-joins."""
    p = predicted.select("series_id", "change_point").distinct()
    a = actual.select("series_id", "change_point").distinct()
    only_p = p.join(a, ["series_id", "change_point"], "left_anti")
    only_a = a.join(p, ["series_id", "change_point"], "left_anti")
    return only_p.unionByName(only_a).orderBy("series_id", "change_point")
