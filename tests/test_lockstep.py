"""Differential parity: lockstep (cross-series vectorized) BOCPD must emit
BIT-IDENTICAL change points to the sequential
BayesianLinearHeuristic(BayesianOnlineDetector(...)) stack on every series."""

import numpy as np
import pytest
from _reference import counts_ref, detect_ref

from pysatl_cpd_spark.detectors import (
    ArgmaxLocalizer,
    BayesianLinearHeuristic,
    BayesianOnlineDetector,
    ConstantHazard,
    HeuristicGaussianVsExponential,
    ThresholdDetector,
)
from pysatl_cpd_spark.detectors.lockstep import LockstepLinearBOCPD

RATE = 1.0 / (1.0 - 0.5 ** (1.0 / 500))
LSS = 20
THR = 0.04
START_AFTER = 500
PREP = 250


def _sequential_cps(values: np.ndarray) -> list[int]:
    inner = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(RATE),
        HeuristicGaussianVsExponential(),
        LSS,
        ThresholdDetector(THR),
        ArgmaxLocalizer(),
    )
    det = BayesianLinearHeuristic(inner, START_AFTER, PREP)
    return det.process_series(np.asarray(values, dtype=np.float64))


def _lockstep(series: list[np.ndarray]) -> list[list[int]]:
    return LockstepLinearBOCPD(RATE, LSS, THR, START_AFTER, PREP).process_many(
        series
    )


def _gap_series(rng, n_segments, seg_len_lo=40, seg_len_hi=150) -> np.ndarray:
    """Flagship-shaped series: exponential inter-turn gaps, scale switching
    per segment (what turn_rate_series feeds the detector)."""
    parts = []
    for _ in range(n_segments):
        scale = rng.uniform(0.5, 30.0)
        parts.append(
            rng.exponential(scale, rng.integers(seg_len_lo, seg_len_hi))
        )
    return np.concatenate(parts)


def _gauss_series(rng, n_segments) -> np.ndarray:
    """Level-shifting gaussian series (selects the GaussianConjugate model)."""
    parts = []
    for _ in range(n_segments):
        mu = rng.uniform(-5, 5)
        parts.append(rng.normal(mu, 1.0, rng.integers(50, 160)))
    return np.concatenate(parts)


def test_lockstep_matches_sequential_exponential_batch():
    rng = np.random.default_rng(1)
    series = [_gap_series(rng, rng.integers(1, 7)) for _ in range(60)]
    got = _lockstep(series)
    for i, s in enumerate(series):
        assert got[i] == _sequential_cps(s), f"series {i}"


def test_lockstep_matches_sequential_gaussian_batch():
    rng = np.random.default_rng(2)
    series = [_gauss_series(rng, rng.integers(1, 6)) for _ in range(40)]
    got = _lockstep(series)
    for i, s in enumerate(series):
        assert got[i] == _sequential_cps(s), f"series {i}"


def test_lockstep_mixed_models_and_lengths():
    rng = np.random.default_rng(3)
    series: list[np.ndarray] = []
    for i in range(50):
        kind = i % 4
        if kind == 0:
            series.append(_gap_series(rng, rng.integers(1, 5)))
        elif kind == 1:
            series.append(_gauss_series(rng, rng.integers(1, 5)))
        elif kind == 2:  # too short to finish training
            series.append(rng.normal(size=rng.integers(1, LSS)))
        else:  # mixed-model switches across detections
            series.append(
                np.concatenate(
                    [
                        rng.exponential(5.0, 80),
                        rng.normal(50.0, 0.5, 80),
                        rng.exponential(0.3, 80),
                    ]
                )
            )
    got = _lockstep(series)
    for i, s in enumerate(series):
        assert got[i] == _sequential_cps(s), f"series {i} (kind {i % 4})"


def test_lockstep_extreme_values_and_collapses():
    """Zeros, constants, huge jumps, negatives — the collapse / NaN paths."""
    rng = np.random.default_rng(4)
    series = [
        np.zeros(100),
        np.ones(150),
        np.concatenate([np.full(60, 1e-12), np.full(60, 1e12)]),
        np.concatenate([rng.exponential(1.0, 60), np.zeros(60)]),
        np.concatenate([rng.normal(0, 1, 60), rng.normal(0, 1, 60) - 100.0]),
        np.concatenate([np.full(30, 5.0), rng.exponential(1e-6, 200)]),
        rng.normal(0.0, 1e-9, 120),
    ]
    got = _lockstep(series)
    for i, s in enumerate(series):
        assert got[i] == _sequential_cps(s), f"series {i}"


def test_lockstep_rotation_lanes_evacuate():
    """Change-free stretches >= start_after trigger the heuristic's duplicate
    rotation, which lockstep does not vectorize — those lanes must fall back
    to the sequential twin and still match exactly."""
    rng = np.random.default_rng(5)
    series = [
        rng.exponential(2.0, 1300),  # wt passes 500 and 750 if undetected
        _gap_series(rng, 3),
        np.concatenate([rng.exponential(2.0, 700), rng.exponential(40.0, 300)]),
        rng.normal(3.0, 1.0, 900),
    ]
    got = _lockstep(series)
    for i, s in enumerate(series):
        assert got[i] == _sequential_cps(s), f"series {i}"


def test_lockstep_empty_and_single():
    assert _lockstep([]) == []
    assert _lockstep([np.array([1.0, 2.0])]) == [[]]
    rng = np.random.default_rng(6)
    s = _gap_series(rng, 3)
    assert _lockstep([s]) == [_sequential_cps(s)]


@pytest.mark.parametrize("kind", ["gauss", "expo"])
def test_cohort_buffers_hold_only_finite_values(kind):
    """The kernels compute on a cohort's padded columns before masking
    them, so a fresh cohort and a grown one must hold no uninitialized
    memory. Freed inf-filled blocks of the same sizes sit on the heap first,
    so a buffer that is not cleared picks their values up."""
    from pysatl_cpd_spark.detectors.lockstep import _Cohort

    def dirty_heap(shape):
        junk = [np.full(shape, np.inf) for _ in range(32)]
        del junk

    dirty_heap((16, 64))
    co = _Cohort(kind, 16, cap=64)
    dirty_heap((16, 128))
    grown = _Cohort(kind, 16, cap=64)
    grown.ensure_width(100)
    for cohort in (co, grown):
        for name, arr in vars(cohort).items():
            if isinstance(arr, np.ndarray):
                assert np.isfinite(arr).all(), name
    assert grown.cap == 128


@pytest.mark.parametrize("seed", [7, 8, 9])
def test_lockstep_fuzz(seed):
    rng = np.random.default_rng(seed)
    series = []
    for _ in range(30):
        n_seg = int(rng.integers(1, 6))
        if rng.random() < 0.5:
            series.append(_gap_series(rng, n_seg, 25, 120))
        else:
            series.append(_gauss_series(rng, n_seg))
    got = _lockstep(series)
    for i, s in enumerate(series):
        assert got[i] == _sequential_cps(s), f"seed {seed} series {i}"


def test_detect_online_lockstep_operator_parity(spark):
    """Operator-level differential on real synthesized transcripts: the
    lockstep operator returns exactly the same (series_id, change_point)
    rows as a local loop of the sequential kernel."""
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
    from pysatl_cpd_spark.operators.series import turn_rate_series
    from pysatl_cpd_spark.sources.transcripts import transcripts_table

    tr = transcripts_table(
        spark, n_conversations=60, avg_turns=250, seed=11, with_text=False
    )
    series = turn_rate_series(tr).cache()

    inner = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(RATE),
        HeuristicGaussianVsExponential(),
        LSS,
        ThresholdDetector(THR),
        ArgmaxLocalizer(),
    )
    seq_fac = lambda: BayesianLinearHeuristic(inner, START_AFTER, PREP)  # noqa: E731
    lock_fac = lambda: LockstepLinearBOCPD(  # noqa: E731
        RATE, LSS, THR, START_AFTER, PREP
    )

    seq = detect_ref(series, seq_fac)
    lock = {
        (r.series_id, r.change_point)
        for r in detect_lockstep_colocated(series, lock_fac).collect()
    }
    series.unpersist()
    assert seq == lock and len(seq) > 10


def test_lockstep_colocated_zero_exchange_and_parity(spark):
    """detect_lockstep_colocated over an explicitly repartitioned series must
    add ZERO exchanges beyond the caller's own repartition, and emit exactly
    the rows of the kernel run one series at a time in a local loop (kernel
    lanes are independent of batch composition)."""
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
    from pysatl_cpd_spark.operators.series import turn_rate_series
    from pysatl_cpd_spark.sources.transcripts import transcripts_table

    tr = transcripts_table(
        spark, n_conversations=40, avg_turns=220, seed=23, with_text=False
    ).repartition(8, "conv_id")
    series = turn_rate_series(tr).cache()
    lock_fac = lambda: LockstepLinearBOCPD(  # noqa: E731
        RATE, LSS, THR, START_AFTER, PREP
    )

    out = detect_lockstep_colocated(series, lock_fac)
    plan = out._jdf.queryExecution().executedPlan().toString()
    base_plan = series._jdf.queryExecution().executedPlan().toString()
    # the detection itself adds ZERO exchanges on top of the input plan's own
    # (synthesis range-repartition + the caller's conv_id repartition)
    assert plan.count("Exchange hashpartitioning") == base_plan.count(
        "Exchange hashpartitioning"
    ), plan[:800]

    colocated = {(r.series_id, r.change_point) for r in out.collect()}
    want = detect_ref(series, lock_fac)
    series.unpersist()
    assert colocated == want and len(colocated) > 5


def test_lockstep_colocated_edge_shapes(spark):
    """Colocated dispatch with empty partitions and degenerate series: more
    partitions than series (zero-row Arrow inputs), single-point series,
    and a no-detection workload — must match the local kernel loop
    exactly."""
    from pysatl_cpd_spark.detectors.cusum import LockstepCusum
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated

    rows = [("solo", 0, 1.0)]
    for t in range(120):
        rows.append(("flat", t, 0.5))
        rows.append(("step", t, 0.0 if t < 60 else 9.0))
    series = spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(16, "series_id")
    fac = lambda: LockstepCusum(k=0.5, h=5.0, learning_steps=20)  # noqa: E731

    coloc = {
        (r.series_id, r.change_point)
        for r in detect_lockstep_colocated(series, fac).collect()
    }
    assert coloc == detect_ref(series, fac)
    assert any(s == "step" for s, _ in coloc)  # the step series detects
    assert all(s != "flat" for s, _ in coloc)  # the flat one does not


def test_exact_row_sums_bitwise():
    """_exact_row_sums must reproduce the sequential kernel's 1D pairwise
    sums BYTE-for-byte at every row's exact length (incl. strided views,
    fancy-indexed groups, and extreme magnitudes)."""
    from pysatl_cpd_spark.detectors.lockstep import _exact_row_sums

    rng = np.random.default_rng(42)
    for _ in range(300):
        R = int(rng.integers(1, 12))
        cap = int(rng.integers(2, 700))
        lengths = rng.integers(1, cap, size=R).astype(np.int64)
        extra = int(rng.integers(0, 2))
        mat = rng.standard_normal((R, cap)) * np.exp(
            rng.standard_normal((R, 1)) * 40
        )
        got = _exact_row_sums(mat, lengths, extra)
        for i in range(R):
            # sequential style: contiguous slice of a scratch buffer
            buf = np.empty(cap + 3)
            n = int(lengths[i]) + extra
            buf[:n] = mat[i, :n]
            want = buf[:n].sum()
            assert np.float64(want).tobytes() == np.float64(got[i]).tobytes()


def test_lockstep_r1_replay_collapse():
    """Constructed differential for the r==1 replay-collapse case: a
    gaussian regime switches to an exponential-looking one containing small
    negatives; after a detection the retrained EXPO model replays a negative
    as its very first post-training observation (posterior length 1), the
    posterior collapses during replay, and — like the sequential stack,
    which discards replay _fired — lockstep must NOT force-fire at the next
    fresh observation. (A lingering-flag force-fire here was a parity bug.)"""
    rate, lss, thr, sa, prep = 50.0, 5, 0.04, 500, 250

    def make_series(seed):
        rng = np.random.default_rng(seed)
        a = rng.normal(3.0, 2.0, 30)
        b = rng.exponential(3.0, 40)
        for pos in rng.choice(len(b), size=6, replace=False):
            b[pos] = -abs(rng.normal(0.3, 0.2))
        return np.concatenate([a, b])

    inner = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(rate),
        HeuristicGaussianVsExponential(),
        lss,
        ThresholdDetector(thr),
        ArgmaxLocalizer(),
    )
    hit = 0
    for seed in (219, 289, 727, 740, 872):  # pre-searched collapse seeds
        s = make_series(seed)
        det = LockstepLinearBOCPD(rate, lss, thr, sa, prep)
        got = det.process_many([s])[0]
        want = BayesianLinearHeuristic(inner, sa, prep).process_series(s)
        assert got == want, f"seed {seed}"
        hit += det._r1_replay_collapses
    assert hit > 0  # the scenario genuinely occurred


def _posterior_trace_sequential(stack_factory, values):
    """Record every _recursion_step posterior (replay steps included) of a
    sequential run — the 1:1 step twin of the lockstep probe for a single
    lane (no duplicate detectors: keep series shorter than start_after)."""
    traces = []
    orig = BayesianOnlineDetector._recursion_step

    def patched(self, observation):
        orig(self, observation)
        traces.append(self._rl_probs.copy())

    BayesianOnlineDetector._recursion_step = patched
    try:
        stack_factory().process_series(np.asarray(values, dtype=np.float64))
    finally:
        BayesianOnlineDetector._recursion_step = orig
    return traces


@pytest.mark.parametrize("seed", [20, 21, 22])
def test_lockstep_posterior_bit_identical(seed):
    """The FULL posterior vector after every recursion step must be
    byte-identical between lockstep and sequential — the exact-length
    reduction guarantee, not just cp-list equality."""
    rng = np.random.default_rng(seed)
    series = [
        _gap_series(rng, 3, 30, 90),
        _gauss_series(rng, 2)[:400],
        np.concatenate([rng.exponential(1.0, 60), np.zeros(40)]),
    ]
    inner = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(RATE),
        HeuristicGaussianVsExponential(),
        LSS,
        ThresholdDetector(THR),
        ArgmaxLocalizer(),
    )
    for s in series:
        s = s[:450]  # stay below start_after: no duplicate detectors
        seq_trace = _posterior_trace_sequential(
            lambda: BayesianLinearHeuristic(inner, START_AFTER, PREP), s
        )
        det = LockstepLinearBOCPD(RATE, LSS, THR, START_AFTER, PREP)
        lock_trace = []
        det._posterior_probe = lambda lane, post: lock_trace.append(
            post.copy()
        )
        det.process_many([s])
        assert len(seq_trace) == len(lock_trace)
        for a, b in zip(seq_trace, lock_trace):
            assert a.shape == b.shape
            assert a.tobytes() == b.tobytes()


def test_lockstep_bare_mode_parity():
    """bare=True + pinned model == BayesianOnlineDetector(...).process_series
    (the cpd_bocpd_online contract stack), change point for change point."""
    from pysatl_cpd_spark.detectors import GaussianConjugate

    rng = np.random.default_rng(30)
    series = [
        _gauss_series(rng, 3),
        _gap_series(rng, 3),
        np.concatenate([rng.normal(0, 1, 80), rng.normal(8, 1, 80)]),
        np.zeros(100),
        rng.normal(0, 1, 10),  # too short to finish training
    ]
    got = LockstepLinearBOCPD(
        RATE, LSS, THR, model="gauss", bare=True
    ).process_many(series)
    for i, s in enumerate(series):
        det = BayesianOnlineDetector(
            ConstantHazard(RATE),
            GaussianConjugate(),
            LSS,
            ThresholdDetector(THR),
            ArgmaxLocalizer(),
        )
        assert got[i] == det.process_series(
            np.asarray(s, dtype=np.float64)
        ), f"series {i}"


from hypothesis import given, settings, strategies as st  # noqa: E402


@st.composite
def _series_batch(draw):
    """1-6 short series mixing exponential/gaussian/constant segments,
    including adversarial values (zeros, negatives, huge magnitudes)."""
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    series = []
    for _ in range(draw(st.integers(1, 6))):
        parts = []
        for _ in range(draw(st.integers(1, 4))):
            kind = draw(st.sampled_from(["exp", "gauss", "const", "wild"]))
            n = draw(st.integers(5, 90))
            if kind == "exp":
                parts.append(rng.exponential(draw(st.floats(1e-6, 50.0)), n))
            elif kind == "gauss":
                parts.append(
                    rng.normal(draw(st.floats(-100, 100)), draw(st.floats(1e-9, 10)), n)
                )
            elif kind == "const":
                parts.append(np.full(n, draw(st.floats(-1e6, 1e6))))
            else:
                parts.append(
                    rng.choice([0.0, -1.0, 1e12, 1e-12, 5.0], size=n)
                )
        series.append(np.concatenate(parts))
    return series


@settings(max_examples=30, deadline=None)
@given(_series_batch())
def test_lockstep_hypothesis_parity(series):
    """Property: lockstep == sequential, point for point, on arbitrary
    segment mixtures including degenerate/adversarial values."""
    got = _lockstep(series)
    for i, s in enumerate(series):
        assert got[i] == _sequential_cps(s), f"series {i} len {len(s)}"


@settings(max_examples=20, deadline=None)
@given(_series_batch())
def test_lockstep_bare_hypothesis_parity(series):
    """Property for the PROMOTED contract stack (bare mode, pinned
    Gaussian — cpd_bocpd_online's kernel): lockstep == bare sequential
    detector on arbitrary adversarial batches."""
    from pysatl_cpd_spark.detectors import GaussianConjugate

    got = LockstepLinearBOCPD(
        RATE, LSS, THR, model="gauss", bare=True
    ).process_many(series)
    for i, s in enumerate(series):
        det = BayesianOnlineDetector(
            ConstantHazard(RATE),
            GaussianConjugate(),
            LSS,
            ThresholdDetector(THR),
            ArgmaxLocalizer(),
        )
        want = det.process_series(np.asarray(s, dtype=np.float64))
        assert got[i] == want, f"series {i} len {len(s)}"


def _drop_sequential(values: np.ndarray, thr: float = 0.3) -> list[int]:
    from pysatl_cpd_spark.detectors import DropDetector, GaussianConjugate

    det = BayesianOnlineDetector(
        ConstantHazard(RATE),
        GaussianConjugate(),
        LSS,
        DropDetector(thr),
        ArgmaxLocalizer(),
    )
    return det.process_series(np.asarray(values, dtype=np.float64))


def test_lockstep_drop_detector_parity():
    """detector="drop" == BayesianOnlineDetector(..., DropDetector, ...)
    .process_series (the cpd_detect_counts contract stack), change point for
    change point — including the drop rule's quirks: _prev records once per
    (re)learn and never updates; a collapse short-circuits the detect call."""
    rng = np.random.default_rng(31)
    series = [
        _gauss_series(rng, 3),
        _gap_series(rng, 3),
        np.concatenate([rng.normal(0, 1, 80), rng.normal(8, 1, 80)]),
        np.zeros(100),  # flat: collapse paths
        np.concatenate([np.zeros(60), np.ones(60) * 50]),  # hard collapse
        rng.normal(0, 1, 10),  # too short to finish training
        rng.normal(0, 1, LSS),  # exactly one training window
        rng.normal(0, 1, LSS + 1),  # one post-training obs (records _prev)
    ]
    got = LockstepLinearBOCPD(
        RATE, LSS, 0.3, model="gauss", bare=True, detector="drop"
    ).process_many(series)
    for i, s in enumerate(series):
        assert got[i] == _drop_sequential(s), f"series {i}"


@pytest.mark.parametrize("seed", [41, 42, 43])
def test_lockstep_drop_detector_fuzz(seed):
    rng = np.random.default_rng(seed)
    series = []
    for _ in range(30):
        n_seg = int(rng.integers(1, 6))
        if rng.random() < 0.5:
            series.append(_gap_series(rng, n_seg, 25, 120))
        else:
            series.append(_gauss_series(rng, n_seg))
    for thr in (0.1, 0.3):
        got = LockstepLinearBOCPD(
            RATE, LSS, thr, model="gauss", bare=True, detector="drop"
        ).process_many(series)
        for i, s in enumerate(series):
            assert got[i] == _drop_sequential(s, thr), (
                f"seed {seed} thr {thr} series {i}"
            )


@settings(max_examples=20, deadline=None)
@given(_series_batch())
def test_lockstep_drop_hypothesis_parity(series):
    """Property for the cpd_detect_counts stack (bare gauss + DropDetector):
    lockstep == sequential on arbitrary adversarial batches."""
    got = LockstepLinearBOCPD(
        RATE, LSS, 0.3, model="gauss", bare=True, detector="drop"
    ).process_many(series)
    for i, s in enumerate(series):
        assert got[i] == _drop_sequential(s), f"series {i} len {len(s)}"


def test_detect_counts_lockstep_operator_parity(spark):
    """detect_counts_lockstep == the sequential kernel's fire counts row for
    row — INCLUDING series with zero change points, which a naive
    groupBy-count over detections would drop."""
    from pysatl_cpd_spark.detectors import (
        DropDetector,
        GaussianConjugate as GC,
    )
    from pysatl_cpd_spark.operators.cpd import detect_counts_lockstep

    rng = np.random.default_rng(77)
    rows = []
    for s in range(8):
        # half the series flat-ish (zero detections), half with level shifts
        if s % 2:
            vals = rng.normal(0, 1, 90)
        else:
            vals = np.concatenate(
                [rng.normal(0, 1, 60), rng.normal(9, 1, 60)]
            )
        rows += [
            (f"s{s}", int(t), float(v)) for t, v in enumerate(vals)
        ]
    df = spark.createDataFrame(rows, "series_id string, t long, value double")

    seq_factory = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(RATE), GC(), LSS, DropDetector(0.3), ArgmaxLocalizer()
    )
    lock_factory = lambda: LockstepLinearBOCPD(  # noqa: E731
        RATE, LSS, 0.3, model="gauss", bare=True, detector="drop"
    )
    want = counts_ref(df, seq_factory)
    got = {
        (r.series_id, r.n_change_points)
        for r in detect_counts_lockstep(df, lock_factory).collect()
    }
    assert got == want and len(got) == 8
    assert any(c == 0 for _, c in got)  # the zero-count rows are present


def test_far_back_localization_quirk_parity():
    """Reference-faithful failure-mode parity (bayesian_linear_heuristic.py
    :73-86): a localization landing further back than start_after makes
    work_time jump the duplicate-creation trigger, and the == stage_end
    assert then fires with no duplicate prepared. Both the sequential
    wrapper and the lockstep kernel must raise — identically, not silently
    diverge. Series: seeded pure noise found by the round-8 memory probe,
    minimized to its 3844-point crash prefix."""
    from pysatl_cpd_spark.detectors import GaussianConjugate
    from pysatl_cpd_spark.detectors.linear_heuristic import BayesianLinearHeuristic

    rng = np.random.default_rng(7)
    rng.normal(size=1_000_000)  # advance the stream to the probe's sid 44
    for _ in range(1, 44):
        rng.normal(size=50_000)
    series = rng.normal(size=50_000)[:3844]

    seq = BayesianLinearHeuristic(
        lambda: BayesianOnlineDetector(
            ConstantHazard(RATE), GaussianConjugate(), 20,
            ThresholdDetector(0.04), ArgmaxLocalizer(),
        ),
        500,
        250,
    )
    with pytest.raises(AssertionError):
        seq.process_series(series)
    with pytest.raises(AssertionError):
        LockstepLinearBOCPD(
            RATE, 20, 0.04, start_after=500, prep=250
        ).process_many([series])
