"""Per-series metrics instrumentation of the detection operator."""

import numpy as np
from _reference import detect_ref

from pysatl_cpd_spark.detectors import (
    ArgmaxLocalizer,
    BayesianOnlineDetector,
    ConstantHazard,
    GaussianConjugate,
    ThresholdDetector,
)
from pysatl_cpd_spark.operators.cpd import detect_colocated_instrumented, sequential


def test_instrumented_matches_plain(spark):
    rows = []
    for seed in (1, 2):
        np.random.seed(seed)
        data = np.concatenate(
            [np.random.normal(0, 1, 250), np.random.normal(5, 2, 250)]
        )
        rows.extend((f"s{seed}", t, float(v)) for t, v in enumerate(data))
    df = spark.createDataFrame(rows, "series_id string, t long, value double")
    factory = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(1.0 / (1.0 - 0.5 ** (1.0 / 500))),
        GaussianConjugate(),
        50,
        ThresholdDetector(0.04),
        ArgmaxLocalizer(),
    )
    plain = detect_ref(df, factory)
    inst = detect_colocated_instrumented(df, sequential(factory)).collect()
    from_inst = {
        (r["series_id"], cp) for r in inst for cp in r["change_points"]
    }
    assert plain == from_inst
    assert all(r["n_points"] == 500 for r in inst)
    assert all(r["kernel_ms"] > 0 for r in inst)
    assert all(r["n_change_points"] == len(r["change_points"]) for r in inst)


def test_instrumented_bucketed_parity(spark):
    """The instrumented emit (many series per mapInArrow call) emits the
    same per-series rows — every column except the dispatch-dependent
    kernel_ms timing and partition_id — whatever the input partitioning,
    including one partition where every series shares a call."""
    rows = []
    for seed in range(6):
        np.random.seed(seed)
        data = np.concatenate(
            [np.random.normal(0, 1, 80), np.random.normal(6, 1, 80)]
        )
        rows.extend((f"s{seed}", t, float(v)) for t, v in enumerate(data))
    df = spark.createDataFrame(rows, "series_id string, t long, value double")
    factory = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(1.0 / (1.0 - 0.5 ** (1.0 / 500))),
        GaussianConjugate(),
        20,
        ThresholdDetector(0.04),
        ArgmaxLocalizer(),
    )

    def key_rows(collected):
        return {
            (
                r["series_id"], r["n_points"], r["n_change_points"],
                tuple(r["change_points"]),
            )
            for r in collected
        }

    fac = sequential(factory)
    per_series = key_rows(
        detect_colocated_instrumented(df.repartition(6, "series_id"), fac).collect()
    )
    for parts in (1, 2, 13):
        got = detect_colocated_instrumented(
            df.repartition(parts, "series_id"), fac
        ).collect()
        assert key_rows(got) == per_series and len(got) == 6
        assert all(r["kernel_ms"] > 0 for r in got)


def test_colocated_instrumented_matches_plain_and_reports_lineage(spark):
    """The zero-exchange instrumented dispatch: detections equal the plain
    colocated dispatch; every series reports the partition that processed
    it (consistent with its co-located placement), its n_points, and a
    kernel_ms. Plan stays exchange-free after the caller repartition."""
    from pysatl_cpd_spark.detectors.cusum import LockstepCusum
    from pysatl_cpd_spark.operators.cpd import (
        detect_colocated_instrumented,
        detect_lockstep_colocated,
    )

    rows = []
    rng = np.random.default_rng(3)
    for s in range(10):
        data = np.concatenate(
            [rng.normal(0, 1, 150), rng.normal(6, 1, 150)]
        )
        rows.extend((f"s{s}", t, float(v)) for t, v in enumerate(data))
    df = (
        spark.createDataFrame(rows, "series_id string, t long, value double")
        .repartition(4, "series_id")
        .cache()
    )
    fac = lambda: LockstepCusum(k=0.05, h=2.0)  # noqa: E731

    inst_df = detect_colocated_instrumented(df, fac)
    plan = inst_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan.split("InMemoryRelation")[0]

    inst = inst_df.collect()
    plain = {
        (r.series_id, r.change_point)
        for r in detect_lockstep_colocated(df, fac).collect()
    }
    from_inst = {
        (r.series_id, cp) for r in inst for cp in r.change_points
    }
    assert from_inst == plain and plain
    assert {r.series_id for r in inst} == {f"s{s}" for s in range(10)}
    assert all(r.n_points == 300 for r in inst)
    assert all(r.n_change_points == len(r.change_points) for r in inst)
    assert all(r.kernel_ms >= 0.0 for r in inst)
    # lineage: one partition per series, within the caller's 4 partitions
    assert all(0 <= r.partition_id < 4 for r in inst)


def test_colocated_instrumented_long_keys(spark):
    """A long key (the compacted path) passes through: int64 series ids in,
    int64 series ids out, with the same per-series metrics."""
    from pysatl_cpd_spark.detectors.cusum import LockstepCusum
    from pysatl_cpd_spark.operators.cpd import detect_colocated_instrumented

    rows = []
    rng = np.random.default_rng(5)
    for code in (3, 7):
        data = np.concatenate([rng.normal(0, 1, 80), rng.normal(6, 1, 80)])
        rows.extend((code, t, float(v)) for t, v in enumerate(data))
    df = spark.createDataFrame(
        rows, "series_id long, t long, value double"
    ).repartition(2, "series_id")
    fac = lambda: LockstepCusum(k=0.05, h=2.0)  # noqa: E731
    inst = detect_colocated_instrumented(df, fac).collect()
    assert {r.series_id for r in inst} == {3, 7}
    assert all(r.n_points == 160 for r in inst)
    assert sum(r.n_change_points for r in inst) > 0
