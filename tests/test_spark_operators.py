"""Spark operator tests: CPD-over-groups parity with local kernels, rollup
tier math vs pandas oracle, gap-fill, segments round-trip, metrics goldens."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pysatl_cpd_spark.detectors import BayesianOffline, CusumDetector
from pysatl_cpd_spark.operators.cpd import (
    detect_lockstep_colocated,
    detect_offline_chunked,
    detect_windowed,
    sequential,
)
from pysatl_cpd_spark.operators.gapfill import gap_fill
from pysatl_cpd_spark.operators.metrics import confusion_matrix, result_diff
from pysatl_cpd_spark.operators.rollup import DEFAULT_TIERS, apply_retention, rollup_all_tiers
from pysatl_cpd_spark.operators.segments import (
    assign_segments,
    decode_segments,
    encode_segments_colocated,
)


def detect_sequential(df, factory):
    """Whole-series detection with a per-series kernel."""
    return detect_lockstep_colocated(df, sequential(factory))


def make_series_df(spark, seeds=(1, 2, 3), n=500, cp=250):
    rows = []
    for seed in seeds:
        np.random.seed(seed)
        data = np.concatenate(
            [np.random.normal(0, 1, cp), np.random.normal(5, 2, n - cp)]
        )
        rows.extend((f"s{seed}", t, float(v)) for t, v in enumerate(data))
    return spark.createDataFrame(rows, "series_id string, t long, value double")


class TestDetectOverGroups:
    def test_matches_local_kernel(self, spark):
        df = make_series_df(spark)
        got = {
            r["series_id"]: r["change_point"]
            for r in detect_sequential(df, BayesianOffline).collect()
        }
        for seed in (1, 2, 3):
            np.random.seed(seed)
            data = np.concatenate(
                [np.random.normal(0, 1, 250), np.random.normal(5, 2, 250)]
            )
            local = BayesianOffline().localize(data)
            assert got[f"s{seed}"] == local[0]

    def test_index_remap_with_sparse_t(self, spark):
        # global t values offset by 1000: detections must come back offset
        rows = []
        np.random.seed(1)
        data = np.concatenate(
            [np.random.normal(0, 1, 250), np.random.normal(5, 2, 250)]
        )
        rows = [("s", 1000 + 2 * t, float(v)) for t, v in enumerate(data)]
        df = spark.createDataFrame(rows, "series_id string, t long, value double")
        got = detect_sequential(df, BayesianOffline).collect()[0]["change_point"]
        local_cp = BayesianOffline().localize(data)[0]
        assert got == 1000 + 2 * local_cp

    def test_chunked_equals_unchunked_on_clear_cp(self, spark):
        df = make_series_df(spark, seeds=(7,))
        plain = {
            r["change_point"]
            for r in detect_sequential(df, lambda: CusumDetector(k=1.0, h=10.0)).collect()
        }
        chunked = {
            r["change_point"]
            for r in detect_offline_chunked(
                df, lambda: CusumDetector(k=1.0, h=10.0), chunk_size=400, overlap=200
            ).collect()
        }
        # the true CP (≈250) must survive chunking
        assert any(225 <= c <= 275 for c in plain)
        assert any(225 <= c <= 275 for c in chunked)

    def test_windowed_dedupes(self, spark):
        df = make_series_df(spark, seeds=(1,))
        out = detect_windowed(
            df, lambda: CusumDetector(k=1.0, h=10.0), window_length=300, shift_factor=0.5
        ).toPandas()
        assert out.duplicated(["series_id", "change_point"]).sum() == 0


class TestRollup:
    def test_tiers_vs_pandas(self, spark):
        pdf = pd.DataFrame(
            {
                "key": ["a"] * 200 + ["b"] * 100,
                "ts": pd.date_range("2024-01-01", periods=300, freq="47s")
                .to_series()
                .reset_index(drop=True),
                "value": np.arange(300, dtype=float),
            }
        )
        df = spark.createDataFrame(pdf)
        tiers = rollup_all_tiers(df, ["key"])
        got_1h = (
            tiers["1h"].toPandas().sort_values(["key", "bucket"]).reset_index(drop=True)
        )
        exp = (
            pdf.assign(bucket=pdf["ts"].dt.floor("h"))
            .groupby(["key", "bucket"])
            .agg(
                n_points=("value", "size"),
                min_value=("value", "min"),
                max_value=("value", "max"),
                sum_value=("value", "sum"),
                first_value=("value", "first"),
                last_value=("value", "last"),
            )
            .reset_index()
        )
        assert len(got_1h) == len(exp)
        merged = got_1h.merge(exp, on=["key", "bucket"], suffixes=("", "_exp"))
        for col in ["n_points", "min_value", "max_value", "first_value", "last_value"]:
            assert (merged[col] == merged[f"{col}_exp"]).all(), col
        assert np.allclose(merged["sum_value"], merged["sum_value_exp"])
        assert np.allclose(
            merged["avg_value"], merged["sum_value_exp"] / merged["n_points_exp"]
        )

    def test_retention_prunes(self, spark):
        pdf = pd.DataFrame(
            {
                "key": ["a"] * 30,
                "ts": pd.date_range("2024-01-01", periods=30, freq="D"),
                "value": np.ones(30),
            }
        )
        df = spark.createDataFrame(pdf)
        tiers = rollup_all_tiers(df, ["key"])
        pruned = apply_retention(tiers["1m"], DEFAULT_TIERS[0])  # 7 days
        assert pruned.count() == 8  # horizon inclusive


class TestGapfill:
    def test_locf_and_interp(self, spark):
        pdf = pd.DataFrame(
            {
                "key": ["a"] * 3,
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00", "2024-01-01 00:02", "2024-01-01 00:04"]
                ),
                "value": [1.0, 3.0, 5.0],
            }
        )
        out = (
            gap_fill(spark.createDataFrame(pdf), ["key"], tier="1m")
            .orderBy("bucket")
            .toPandas()
        )
        assert len(out) == 5
        assert out["value_locf"].tolist() == [1.0, 1.0, 3.0, 3.0, 5.0]
        assert out["value_interp"].tolist() == [1.0, 2.0, 3.0, 4.0, 5.0]


class TestSegments:
    def test_encode_decode_identity(self, spark):
        df = make_series_df(spark, seeds=(1,))
        cps = spark.createDataFrame(
            [("s1", 250)], "series_id string, change_point long"
        )
        seg = assign_segments(df, cps)
        enc = encode_segments_colocated(df, cps)
        assert enc.count() == 2
        dec = decode_segments(enc).toPandas().sort_values("t").reset_index(drop=True)
        orig = df.toPandas().sort_values("t").reset_index(drop=True)
        assert np.array_equal(dec["t"].values, orig["t"].values)
        assert np.array_equal(dec["value"].values, orig["value"].values)
        # segment boundary honored
        seg_pdf = seg.toPandas()
        assert (seg_pdf.loc[seg_pdf["t"] < 250, "segment_id"] == 0).all()
        assert (seg_pdf.loc[seg_pdf["t"] >= 250, "segment_id"] == 1).all()


class TestMetrics:
    def test_reference_golden(self, spark):
        # reference tests/test_solver.py:49 golden: pred=[4,5,6,7],
        # actual=[3,5,6], window None → (TP,TN,FP,FN)=(2,1,1,1),
        # accuracy 0.6, precision 2/3, recall 2/3
        pred = spark.createDataFrame(
            [("x", c) for c in [4, 5, 6, 7]], "series_id string, change_point long"
        )
        act = spark.createDataFrame(
            [("x", c) for c in [3, 5, 6]], "series_id string, change_point long"
        )
        row = confusion_matrix(pred, act).collect()[0]
        assert (row["tp"], row["tn"], row["fp"], row["fn"]) == (2, 1, 1, 1)
        assert row["accuracy"] == pytest.approx(0.6)
        assert row["precision"] == pytest.approx(2 / 3)
        assert row["recall"] == pytest.approx(2 / 3)

    def test_explicit_window_goldens(self, spark):
        # reference parametrized goldens with explicit windows
        pred = spark.createDataFrame(
            [("x", c) for c in [4, 5, 6, 7]], "series_id string, change_point long"
        )
        act = spark.createDataFrame(
            [("x", c) for c in [3, 5, 6]], "series_id string, change_point long"
        )
        row = confusion_matrix(pred, act, window=(5, 6)).collect()[0]
        assert (row["tp"], row["tn"], row["fp"], row["fn"]) == (1, 0, 0, 0)
        row = confusion_matrix(pred, act, window=(0, 100)).collect()[0]
        assert (row["tp"], row["tn"], row["fp"], row["fn"]) == (2, 97, 2, 1)

    def test_result_diff_golden(self, spark):
        # reference: [1,2,3] vs [2,3,4] → [1,4]
        a = spark.createDataFrame(
            [("x", c) for c in [1, 2, 3]], "series_id string, change_point long"
        )
        b = spark.createDataFrame(
            [("x", c) for c in [2, 3, 4]], "series_id string, change_point long"
        )
        got = [r["change_point"] for r in result_diff(a, b).collect()]
        assert got == [1, 4]


def test_cusum_prefilter_gating_is_exact(spark):
    """The JVM pre-filter is an exact gate: detection over the flagged
    subset produces the identical CP set as over all series (unflagged series
    provably alarm nowhere — same statistic, same learned mu)."""
    from pysatl_cpd_spark.detectors import CusumDetector
    from pysatl_cpd_spark.operators.cusum import cusum_prefilter
    from pysatl_cpd_spark.operators.series import turn_rate_series
    from pysatl_cpd_spark.sources.transcripts import transcripts_table

    tr = transcripts_table(spark, n_conversations=12, avg_turns=250, seed=7)
    series = turn_rate_series(tr).cache()
    factory = lambda: CusumDetector(k=0.05, h=2.0)  # noqa: E731
    ungated = {
        (r.series_id, r.change_point) for r in detect_sequential(series, factory).collect()
    }
    alarmed = cusum_prefilter(series, k=0.05, h=2.0)
    gated_series = series.join(F.broadcast(alarmed), "series_id", "left_semi")
    gated = {
        (r.series_id, r.change_point)
        for r in detect_sequential(gated_series, factory).collect()
    }
    assert gated == ungated
    # and the gate actually prunes (otherwise it's not a pre-filter)
    assert alarmed.count() <= series.select("series_id").distinct().count()
    assert {r.series_id for r in alarmed.collect()} >= {s for s, _ in ungated}


def test_distinct_sketch_hierarchy(spark):
    """HLL distinct-count tiers: the hierarchical (1m -> 1h -> 1d sketch
    union) estimate is IDENTICAL to sketching raw directly (union = register
    max), and within 5% of exact distinct counts."""
    from pysatl_cpd_spark.operators.rollup import (
        rollup_distinct_hierarchy,
        rollup_tier_distinct,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    tiers = rollup_distinct_hierarchy(ev, ["event_type"])
    day_h = {
        (r.event_type, r.bucket): r.distinct_est for r in tiers["1d"].collect()
    }
    day_direct = {
        (r.event_type, r.bucket): r.distinct_est
        for r in rollup_tier_distinct(ev, "1d", ["event_type"]).collect()
    }
    assert day_h == day_direct  # union-of-parts == sketch-of-whole
    exact = {
        (r.event_type, r.bucket): r.n
        for r in ev.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("bucket")
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for k, est in day_h.items():
        assert abs(est - exact[k]) / max(exact[k], 1) < 0.05, (k, est, exact[k])


def test_segment_gapfill_turns(spark):
    """North-rule gap-fill between change points: holes in the per-segment
    turn grid get LOCF + linear interpolation; segment boundaries are never
    bridged (each segment fills independently)."""
    from pysatl_cpd_spark.operators.gapfill import segment_gapfill_turns

    series = spark.createDataFrame(
        [("s", 0, 1.0), ("s", 1, 2.0), ("s", 4, 8.0),   # hole at t=2,3
         ("s", 5, 10.0), ("s", 7, 20.0)],                # hole at t=6
        "series_id string, t long, value double",
    )
    cps = spark.createDataFrame([("s", 5)], "series_id string, change_point long")
    rows = {
        (r.series_id, r.segment_id, r.t): r
        for r in segment_gapfill_turns(series, cps).collect()
    }
    assert len(rows) == 8  # seg0: t 0..4 (5 rows), seg1: t 5..7 (3 rows)
    # linear interp inside seg0's hole: 2.0 -> 8.0 over t in (1, 4)
    assert abs(rows[("s", 0, 2)].value_interp - 4.0) < 1e-12
    assert abs(rows[("s", 0, 3)].value_interp - 6.0) < 1e-12
    assert rows[("s", 0, 2)].value_locf == 2.0 and rows[("s", 0, 3)].value_locf == 2.0
    # seg1 fills between its own points only (5 -> 7), never from seg0
    assert abs(rows[("s", 1, 6)].value_interp - 15.0) < 1e-12
    assert rows[("s", 1, 6)].value_locf == 10.0
    # observed rows pass through untouched
    assert rows[("s", 0, 4)].value_interp == 8.0 and rows[("s", 1, 5)].value_locf == 10.0


def test_north_star_composition_end_to_end(spark):
    """The full north-rule pipeline composes: synthesize transcripts →
    turn-rate series → CUSUM change points → per-segment gap-fill →
    Gorilla-encode the INTERPOLATED series → decode → the filled grid comes
    back bit-exact (per-turn equality under stable ordering, preserved
    through every stage)."""
    from pyspark.sql import functions as F

    from pysatl_cpd_spark.detectors import CusumDetector
    from pysatl_cpd_spark.operators.gapfill import segment_gapfill_turns
    from pysatl_cpd_spark.operators.series import turn_rate_series
    from pysatl_cpd_spark.sources.transcripts import transcripts_table

    tr = transcripts_table(spark, n_conversations=6, avg_turns=200, seed=9)
    series = turn_rate_series(tr.filter(F.col("role") != "tool")).cache()
    cps = detect_sequential(series, lambda: CusumDetector(k=0.05, h=2.0)).cache()
    filled = segment_gapfill_turns(series, cps).select(
        "series_id", "t", F.col("value_interp").alias("value")
    ).cache()
    assert filled.count() > series.count()  # real holes were filled

    encoded = encode_segments_colocated(filled, cps)
    decoded = decode_segments(encoded).select("series_id", "t", "value")
    assert decoded.exceptAll(filled).count() == 0
    assert filled.exceptAll(decoded).count() == 0
