"""Lockstep (cross-series vectorized) BOCPD batch driver.

The sequential detector stack (`BayesianLinearHeuristic` wrapping
`BayesianOnlineDetector`) costs ~30 small-array numpy calls per observation —
per-call overhead dominates, and one 400-turn conversation takes ~15 ms of
pure Python/numpy dispatch. At 10^12 turns that dispatch overhead IS the
detect stage. This module runs the SAME recursion for a whole batch of
series simultaneously: one global step advances every active series by one
observation, so each numpy call covers ~L series (2D arrays, lanes x
run-length), amortizing dispatch ~L-fold.

Exactness contract: change points match
``BayesianLinearHeuristic(lambda: BayesianOnlineDetector(ConstantHazard(rate),
HeuristicGaussianVsExponential(), lss, ThresholdDetector(thr),
ArgmaxLocalizer()), start_after, prep).process_series(values)`` for every
series. Mechanisms:

- identical per-element fp operation order (the 2D ufuncs broadcast the same
  scalar/grid operands the 1D kernels use; multiplications commuted only) —
  every ELEMENTWISE value is bit-identical;
- the two per-step reductions (cp_mass, evidence) are taken at each row's
  EXACT run-length count, not the cohort's padded width: rows are grouped
  by current run length and each group reduced with ``sum(axis=1)`` over
  the unpadded extent. numpy's pairwise-summation tree is a pure function
  of (contiguous layout, length), so each row's sum is BIT-IDENTICAL to
  the sequential kernel's 1D ``tmp[:r].sum()`` / ``probs[:r+1].sum()``
  (verified by tests/test_lockstep.py's posterior byte-equality trace).
  The posterior is therefore bit-identical, not merely ulp-faithful, and
  lockstep is safe on the hash-gated contract path;
- the truncate-retrain-REPLAY after a detection is re-expressed as "rejoin
  the lockstep at the truncation point with threshold checks suppressed
  until the stream position already reached" — observation-for-observation
  the same recursion the sequential replay loop runs. Threshold detections
  are suppressed during replay in the sequential code too, and a posterior
  COLLAPSE during replay sets a ``_fired`` the sequential ``localize``
  discards at the end of the firing call — so no flag may outlive the
  replay here either. For a collapse at run length >= 2 the posterior
  keeps a trailing zero through every later step, so the first fresh
  observation fires via the ordinary ``last < thr`` check in both kernels;
  for a collapse at run length 1 neither kernel fires (a lingering-flag
  force-fire here was a parity bug, removed — see
  tests/test_lockstep.py::test_lockstep_r1_replay_collapse);
- model selection per (re)learn delegates to the REAL
  ``HeuristicGaussianVsExponential.learn`` on the same 20-point sample;
- the rare regimes the 2D kernels do not model — the linear heuristic's
  duplicate-detector rotation (work_time hitting ``start_after`` or
  ``start_after + prep``) — EVACUATE the series: it is reprocessed from
  scratch by the sequential twin, which is the ground truth by construction.

Differential parity is enforced by tests/test_lockstep.py across random
series, planted change points, degenerate flat/extreme streams, and
rotation-triggering lanes.
"""

from __future__ import annotations

import numpy as np
import numpy.typing as npt

from pysatl_cpd_spark.detectors.bayesian_online import BayesianOnlineDetector
from pysatl_cpd_spark.detectors.detection import (
    ArgmaxLocalizer,
    DropDetector,
    ThresholdDetector,
)
from pysatl_cpd_spark.detectors.hazards import ConstantHazard
from pysatl_cpd_spark.detectors.likelihoods import (
    ExponentialConjugate,
    GaussianConjugate,
    HeuristicGaussianVsExponential,
    _EXPO_GRIDS,
    _ExpoGrids,
    _GAUSS_GRIDS,
    _GaussGrids,
)
from pysatl_cpd_spark.detectors.linear_heuristic import BayesianLinearHeuristic
from pysatl_cpd_spark.detectors.special import _quiet_fp

FloatArray = npt.NDArray[np.float64]

_ROW_SUM_CONTRACT_VERIFIED = False


def _verify_row_sum_contract() -> None:
    """Once-per-process runtime guard for the bit-identity contract that
    ``_exact_row_sums_grouped`` relies on: ``sum(axis=1)`` over strided /
    fancy-indexed 2D row views must use the same pairwise-summation tree as
    a contiguous 1D sum. This is a numpy implementation detail (pinned by
    tests/test_lockstep.py::test_exact_row_sums_bitwise at CI time) — the
    runtime check means an interpreter-environment change (numpy upgrade)
    cannot silently bypass the test and flip threshold tie-breaks on the
    hash-gated contract queries. Cost: ~100µs at first detector construction.
    """
    global _ROW_SUM_CONTRACT_VERIFIED
    if _ROW_SUM_CONTRACT_VERIFIED:
        return
    rng = np.random.default_rng(987654)
    # > 128 columns so numpy's pairwise blocking (unrolled below 8, blocked
    # at 128) is actually exercised, on the layouts the kernel produces
    base = rng.normal(size=(12, 300)) * np.exp(rng.normal(size=(12, 300)))
    for mat in (base, base[::2], base[[7, 2, 9, 0, 4]], base[:, :257]):
        for l in (5, 127, 129, mat.shape[1]):
            rows2d = mat[:, :l].sum(axis=1)
            for i in range(mat.shape[0]):
                if rows2d[i] != np.ascontiguousarray(mat[i, :l]).sum():
                    raise RuntimeError(
                        "numpy sum(axis=1) diverged bitwise from the "
                        "contiguous 1D sum; the lockstep exact-row-sum "
                        "contract does not hold under this numpy build"
                    )
    _ROW_SUM_CONTRACT_VERIFIED = True


def _row_length_groups(
    lengths: npt.NDArray[np.int64],
) -> list[tuple[int, npt.NDArray[np.intp]]]:
    """Partition row indices by length with ONE argsort + boundary scan —
    the grouping is computed once per lockstep step and shared by both
    per-step reductions (cp_mass, evidence)."""
    order = np.argsort(lengths, kind="stable")
    sl = lengths[order]
    bounds = np.flatnonzero(sl[1:] != sl[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [lengths.shape[0]]))
    return [(int(sl[s]), order[s:e]) for s, e in zip(starts, ends)]


def _exact_row_sums_grouped(
    mat: FloatArray,
    groups: list[tuple[int, npt.NDArray[np.intp]]],
    extra: int,
    R: int,
    out: FloatArray,
) -> None:
    """``out[i] = mat[i, :lengths[i]+extra].sum()`` — each row reduced at its
    EXACT length so the pairwise-summation tree matches the sequential
    kernel's 1D sums bit-for-bit. A group's ``sum(axis=1)`` applies the same
    per-row pairwise reduction a standalone contiguous 1D sum uses
    (empirically byte-verified in
    tests/test_lockstep.py::test_exact_row_sums_bitwise)."""
    for l, rows in groups:
        if rows.shape[0] == R:  # single group: strided view, no gather copy
            out[:R] = mat[:R, : l + extra].sum(axis=1)
        else:
            out[rows] = mat[rows, : l + extra].sum(axis=1)


def _exact_row_sums(
    mat: FloatArray, lengths: npt.NDArray[np.int64], extra: int
) -> FloatArray:
    """Convenience wrapper (tests): grouped exact-length row sums."""
    out = np.empty(lengths.shape[0])
    _exact_row_sums_grouped(
        mat, _row_length_groups(lengths), extra, lengths.shape[0], out
    )
    return out


class _Cohort:
    """One model cohort (gaussian or exponential): contiguous rows of 2D
    posterior/parameter state for the lanes currently using that model."""

    def __init__(self, kind: str, n_rows: int, cap: int = 256) -> None:
        self.kind = kind
        self.n_rows = n_rows
        self.cap = cap
        self.count = 0
        self.lane_of_row = np.full(n_rows, -1, dtype=np.int64)
        shape = (n_rows, cap)
        # posterior ping-pong (zero-padded invariant) + scratch. Every buffer
        # starts zeroed: the kernels compute on padded columns before
        # copyto(invalid) masks them, so those hold zeros or finite values
        # left by earlier lanes, never uninitialized memory
        self.rl_a = np.zeros(shape)
        self.rl_b = np.zeros(shape)
        self.s1 = np.zeros(shape)
        self.s2 = np.zeros(shape)
        self.bmask = np.zeros(shape, dtype=bool)
        self.invalid = np.ones(shape, dtype=bool)  # True where col >= r
        self.r = np.zeros(n_rows, dtype=np.int64)
        if kind == "gauss":
            self.mu_a = np.zeros(shape)
            self.mu_b = np.zeros(shape)
            self.beta_a = np.zeros(shape)
            self.beta_b = np.zeros(shape)
            self.mu0 = np.zeros(n_rows)
            self.beta0 = np.zeros(n_rows)
        else:
            self.scale_a = np.zeros(shape)
            self.scale_b = np.zeros(shape)
            self.scale0 = np.zeros(n_rows)

    _2D = (
        "rl_a", "rl_b", "s1", "s2", "bmask", "invalid",
        "mu_a", "mu_b", "beta_a", "beta_b", "scale_a", "scale_b",
    )

    def ensure_width(self, w: int) -> None:
        if self.cap >= w:
            return
        cap = max(2 * self.cap, w)
        for name in self._2D:
            old = getattr(self, name, None)
            if old is None:
                continue
            if name == "invalid":
                new = np.ones((self.n_rows, cap), dtype=bool)
            else:
                new = np.zeros((self.n_rows, cap), dtype=old.dtype)
            new[:, : self.cap] = old
            setattr(self, name, new)
        self.cap = cap

    def add_row(self, lane: int) -> int:
        row = self.count
        self.count += 1
        self.lane_of_row[row] = lane
        return row

    def remove_row(self, row: int) -> tuple[int, int]:
        """Swap-remove; returns (moved_lane, its_new_row) or (-1, -1)."""
        last = self.count - 1
        moved = -1
        if row != last:
            for name in self._2D:
                arr = getattr(self, name, None)
                if arr is not None:
                    arr[row] = arr[last]
            self.r[row] = self.r[last]
            self.lane_of_row[row] = self.lane_of_row[last]
            if self.kind == "gauss":
                self.mu0[row] = self.mu0[last]
                self.beta0[row] = self.beta0[last]
            else:
                self.scale0[row] = self.scale0[last]
            moved = int(self.lane_of_row[row])
        self.lane_of_row[last] = -1
        self.count = last
        return moved, row

    def reset_row(self, row: int) -> None:
        """Fresh posterior [1.0] after a (re)learn."""
        self.rl_a[row, :] = 0.0
        self.rl_b[row, :] = 0.0
        self.rl_a[row, 0] = 1.0
        self.invalid[row, :] = True
        self.invalid[row, 0] = False
        self.r[row] = 1


class LockstepLinearBOCPD:
    """Batch driver with the semantics of
    BayesianLinearHeuristic(BayesianOnlineDetector(ConstantHazard(rate),
    HeuristicGaussianVsExponential(), lss, ThresholdDetector(threshold),
    ArgmaxLocalizer()), start_after, prep).process_series per series —
    bit-identical (elementwise ops AND exact-length reductions; see the
    module docstring).

    ``model`` pins the likelihood instead of per-sample selection:
    ``"heuristic"`` (default) | ``"gauss"`` | ``"expo"``.

    ``bare=True`` drops the linear-heuristic wrapper entirely: no duplicate
    rotation, and change points are reported as the bare detector's
    ``t - run_length`` (no epoch offset) — the semantics of
    ``BayesianOnlineDetector(...).process_series``. ``start_after``/``prep``
    are ignored in bare mode.

    ``detector`` picks the firing rule: ``"threshold"`` (default —
    ``ThresholdDetector``: fire when the max-run-length probability sits
    below the threshold) or ``"drop"`` (``DropDetector``: fire when it has
    fallen by >= threshold from the FIRST post-(re)learn max-run-length
    probability — the sequential detector records ``_prev`` once after each
    ``clear()`` and never updates it, detection.py:40-47). The drop rule
    needs one extra scalar of per-lane state (``prev`` + a validity flag):
    recorded on the first FRESH non-collapsed step after each (re)learn —
    replayed observations never reach the detector sequentially
    (bayesian_online.py:171-173 calls only ``_recursion_step``), so they
    record nothing here either, and a posterior collapse short-circuits the
    ``detect`` call (``self._fired or ...``) so it neither records nor
    consults ``prev``. Everything downstream of the fire decision
    (localize, truncate-retrain-replay, rotation) is rule-independent."""

    def __init__(
        self,
        rate: float,
        learning_sample_size: int,
        threshold: float,
        start_after: int | None = None,
        prep: int | None = None,
        *,
        model: str = "heuristic",
        bare: bool = False,
        detector: str = "threshold",
    ) -> None:
        _verify_row_sum_contract()
        self.rate = float(rate)
        self.hazard = 1.0 / float(rate)
        self.lss = int(learning_sample_size)
        self.threshold = float(threshold)
        if model not in ("heuristic", "gauss", "expo"):
            raise ValueError("model must be heuristic|gauss|expo")
        if detector not in ("threshold", "drop"):
            raise ValueError("detector must be threshold|drop")
        self.model = model
        self.detector = detector
        self.bare = bool(bare)
        if self.bare:
            self.start_after = None
            self.prep = None
        else:
            if start_after is None or prep is None:
                raise ValueError("start_after/prep required unless bare=True")
            self.start_after = int(start_after)
            self.prep = int(prep)
            if not self.lss < self.start_after:
                raise ValueError("learning_sample_size must be < start_after")
        # test/debug instrumentation (no effect on results)
        self._posterior_probe = None  # callable(lane, posterior_1d_view)
        self._replay_collapses = 0
        self._r1_replay_collapses = 0

    # -- sequential twin (ground truth; used for evacuated lanes) ----------

    def _make_model(self):
        if self.model == "heuristic":
            return HeuristicGaussianVsExponential()
        if self.model == "gauss":
            return GaussianConjugate()
        return ExponentialConjugate()

    def _sequential(self):
        det_cls = ThresholdDetector if self.detector == "threshold" else DropDetector
        inner = lambda: BayesianOnlineDetector(  # noqa: E731
            ConstantHazard(self.rate),
            self._make_model(),
            self.lss,
            det_cls(self.threshold),
            ArgmaxLocalizer(),
        )
        if self.bare:
            return inner()  # process_series() self-clears per series
        return BayesianLinearHeuristic(inner, self.start_after, self.prep)

    # -- batch API ----------------------------------------------------------

    def process_many(self, series: list[FloatArray]) -> list[list[int]]:
        _quiet_fp()
        out: list[list[int]] = [[] for _ in series]
        if not series:
            return out
        evacuated: list[int] = []
        self._run_lockstep(series, out, evacuated)
        seq = self._sequential()
        for i in evacuated:
            out[i] = seq.process_series(np.asarray(series[i], dtype=np.float64))
        return out

    # -- lockstep core ------------------------------------------------------

    def _run_lockstep(
        self,
        series: list[FloatArray],
        out: list[list[int]],
        evacuated: list[int],
    ) -> None:
        lss, thr = self.lss, self.threshold
        h, one_minus = self.hazard, 1.0 - self.hazard
        L = len(series)
        n = np.array([len(s) for s in series], dtype=np.int64)
        maxn = int(n.max()) if L else 0
        V = np.zeros((L, maxn))
        for i, s in enumerate(series):
            V[i, : n[i]] = np.asarray(s, dtype=np.float64)

        cursor = np.zeros(L, dtype=np.int64)  # next stream position to feed
        epoch = np.zeros(L, dtype=np.int64)  # heuristic _epoch_start
        suppress = np.zeros(L, dtype=np.int64)  # replay end (threshold gate)
        # drop-detector state: sequential DropDetector._prev per lane —
        # recorded once per (re)learn on the first fresh non-collapsed step,
        # never updated afterwards (see class docstring)
        prev = np.zeros(L)
        prev_valid = np.zeros(L, dtype=bool)
        active = np.zeros(L, dtype=bool)
        cohort_of = np.full(L, -1, dtype=np.int64)  # 0 gauss / 1 expo
        row_of = np.full(L, -1, dtype=np.int64)

        gauss = _Cohort("gauss", L)
        expo = _Cohort("expo", L)
        cohorts = (gauss, expo)
        ggrids: _GaussGrids = _GAUSS_GRIDS.setdefault(
            float(lss), _GaussGrids(float(lss))
        )
        egrids: _ExpoGrids = _EXPO_GRIDS.setdefault(
            float(lss), _ExpoGrids(float(lss))
        )

        chooser = HeuristicGaussianVsExponential()

        def learn_and_place(lane: int, s0: int) -> None:
            """(Re)learn at stream position s0; lane rejoins with cursor
            s0+lss, or deactivates if the tail cannot complete training."""
            prev_valid[lane] = False  # detector.clear() on every (re)learn
            if s0 + lss > n[lane]:
                self._drop_lane(lane, cohorts, cohort_of, row_of, active)
                return
            if self.model == "heuristic":
                chooser.learn(V[lane, s0 : s0 + lss])
                chosen = chooser._chosen
            else:
                chosen = self._make_model()
                chosen.learn(V[lane, s0 : s0 + lss])
            want = 0 if isinstance(chosen, GaussianConjugate) else 1
            old_c, old_r = int(cohort_of[lane]), int(row_of[lane])
            if old_c != -1 and (old_c != want or not active[lane]):
                moved, moved_row = cohorts[old_c].remove_row(old_r)
                if moved != -1:
                    row_of[moved] = moved_row
                cohort_of[lane] = -1
                row_of[lane] = -1
            if cohort_of[lane] == -1:
                cohort_of[lane] = want
                row_of[lane] = cohorts[want].add_row(lane)
            row = int(row_of[lane])
            co = cohorts[want]
            if want == 0:
                assert isinstance(chosen, GaussianConjugate)
                mu0, _k0, _a0, b0 = chosen._prior
                co.mu0[row], co.beta0[row] = mu0, b0
                co.mu_a[row, 0], co.beta_a[row, 0] = mu0, b0
            else:
                assert isinstance(chosen, ExponentialConjugate)
                _s0p, sc0 = chosen._prior
                co.scale0[row] = sc0
                co.scale_a[row, 0] = sc0
            co.reset_row(row)
            cursor[lane] = s0 + lss
            active[lane] = cursor[lane] < n[lane]
            if not active[lane] and cohort_of[lane] != -1:
                moved, moved_row = cohorts[int(cohort_of[lane])].remove_row(row)
                if moved != -1:
                    row_of[moved] = moved_row
                cohort_of[lane] = -1
                row_of[lane] = -1

        def check_training_span(lane: int, fresh_lo: int, fresh_hi: int) -> bool:
            """True if a heuristic rotation boundary falls inside the fresh
            observations consumed while (re)training — sequential would
            create/promote a duplicate there; evacuate to stay exact.
            Fresh obs at position q has work_time q - epoch."""
            if self.bare:
                return False
            es = int(epoch[lane])
            for boundary in (self.start_after, self.start_after + self.prep):
                if fresh_lo <= boundary + es < fresh_hi:
                    return True
            return False

        # ---- initial training for every lane ----
        for lane in range(L):
            if n[lane] < lss:
                continue
            if check_training_span(lane, 0, lss):
                evacuated.append(lane)
                continue
            active[lane] = True
            learn_and_place(lane, 0)

        # ---- global lockstep loop ----
        while True:
            fired_lanes: list[int] = []
            any_active = False
            for co in cohorts:
                R = co.count
                if R == 0:
                    continue
                any_active = True
                w = int(co.r[:R].max())
                co.ensure_width(w + 2)
                lanes_c = co.lane_of_row[:R]
                obs = V[lanes_c, cursor[lanes_c]]

                pred = self._predict(co, R, w, obs, ggrids, egrids)
                # zero the padded columns so rl*pred sums stay exact
                np.copyto(pred[:R, :w], 0.0, where=co.invalid[:R, :w])

                rl = co.rl_a
                tmp = co.s2
                probs = co.rl_b
                r_arr = co.r[:R]
                # cp_mass = sum((rl*h)*pred); probs[1:] = (rl*(1-h))*pred
                # both reductions at each row's EXACT run length — the
                # pairwise tree then matches the sequential 1D sums bitwise;
                # one shared length-grouping serves both reductions
                groups = _row_length_groups(r_arr)
                cp_mass = np.empty(R)
                evidence = np.empty(R)
                np.multiply(rl[:R, :w], h, out=tmp[:R, :w])
                np.multiply(tmp[:R, :w], pred[:R, :w], out=tmp[:R, :w])
                _exact_row_sums_grouped(tmp, groups, 0, R, cp_mass)
                np.multiply(rl[:R, :w], one_minus, out=tmp[:R, :w])
                np.multiply(
                    tmp[:R, :w], pred[:R, :w], out=probs[:R, 1 : w + 1]
                )
                probs[:R, 0] = cp_mass
                _exact_row_sums_grouped(probs, groups, 1, R, evidence)
                collapsed = evidence == 0.0
                ok = ~collapsed
                np.divide(
                    probs[:R, : w + 1],
                    evidence[:, None],
                    out=probs[:R, : w + 1],
                    where=ok[:, None],
                )
                # collapsed lanes keep posterior length r with [1, 0, ...]
                # and SKIP the likelihood update (sequential semantics)
                col_rows = np.nonzero(collapsed)[0]
                for row in col_rows:
                    r_row = int(co.r[row])
                    probs[row, 0] = 1.0
                    probs[row, 1 : r_row + 1] = 0.0
                    probs[row, r_row + 1 : w + 2] = 0.0

                self._update(co, R, w, obs, ggrids, col_rows)
                co.rl_a, co.rl_b = co.rl_b, co.rl_a
                grow = np.nonzero(ok)[0]
                co.r[:R][grow] += 1
                # maintain the invalid (col >= r) mask incrementally
                co.invalid[grow, co.r[:R][grow] - 1] = False

                # ---- detection decision per row ----
                rl_now = co.rl_a
                last = rl_now[np.arange(R), co.r[:R] - 1]
                lanes_pos = cursor[lanes_c]  # position just consumed
                fresh = lanes_pos >= suppress[lanes_c]
                fired = collapsed.copy()
                if self.detector == "threshold":
                    fired |= last < thr
                else:
                    pv = prev_valid[lanes_c]
                    fired |= ~collapsed & pv & ((prev[lanes_c] - last) >= thr)
                fired &= fresh
                if self.detector == "drop":
                    # record _prev: first fresh non-collapsed step per
                    # (re)learn — sequential detect() is reached only when
                    # not _fired, and replayed obs never reach the detector
                    rec = fresh & ~collapsed & ~prev_valid[lanes_c]
                    rec_lanes = lanes_c[rec]
                    prev[rec_lanes] = last[rec]
                    prev_valid[rec_lanes] = True
                # replay collapse needs NO carried flag: sequential discards
                # its replay _fired, and for r>=2 the reset posterior keeps a
                # trailing zero so the first fresh obs fires via last<thr in
                # both kernels; for r==1 neither kernel fires
                rc = collapsed & ~fresh
                if rc.any():
                    self._replay_collapses += int(rc.sum())
                    self._r1_replay_collapses += int(
                        (rc & (r_arr == 1)).sum()
                    )
                if self._posterior_probe is not None:
                    for row in range(R):
                        self._posterior_probe(
                            int(lanes_c[row]),
                            rl_now[row, : int(co.r[row])],
                        )

                # store LANE ids: swap-removes below invalidate row indices
                for row in np.nonzero(fired)[0]:
                    fired_lanes.append(int(lanes_c[row]))

                # non-fired rows advance; heuristic rotation boundary check
                adv = ~fired
                adv_lanes = lanes_c[adv]
                cursor[adv_lanes] += 1
                if not self.bare:
                    wt = lanes_pos[adv] - epoch[adv_lanes]
                    rot = (wt == self.start_after) | (
                        wt == self.start_after + self.prep
                    )
                    # only FRESH observations advance heuristic time;
                    # replayed ones never reach the wrapper sequentially
                    rot &= fresh[adv]
                    for lane in adv_lanes[rot]:
                        evacuated.append(int(lane))
                        self._drop_lane(
                            int(lane), cohorts, cohort_of, row_of, active
                        )
                done = adv_lanes[cursor[adv_lanes] >= n[adv_lanes]]
                for lane in done:
                    if active[lane]:
                        active[lane] = False
                        self._drop_lane(
                            int(lane), cohorts, cohort_of, row_of, active
                        )

            # ---- handle fired lanes (rare: ~cps per series) ----
            for lane in fired_lanes:
                if not active[lane]:
                    continue
                co = cohorts[int(cohort_of[lane])]
                row = int(row_of[lane])
                p = int(cursor[lane])  # position just consumed
                r_now = int(co.r[row])
                post = co.rl_a[row, :r_now]
                run_length = 0 if r_now == 1 else int(np.argmax(post[:-1]))
                cp_main = (p + 1) - run_length
                # bare detector reports t - run_length; the heuristic
                # wrapper adds its epoch offset (reference semantics)
                cp = cp_main if self.bare else int(epoch[lane]) + cp_main
                out[lane].append(cp)
                epoch[lane] = cp
                s0 = p + 1 - run_length
                suppress[lane] = p + 1
                # fresh observations consumed while retraining: check the
                # rotation boundaries the sequential wrapper would hit
                fresh_lo = p + 1
                fresh_hi = max(s0 + lss, p + 1)
                if check_training_span(lane, fresh_lo, fresh_hi):
                    evacuated.append(lane)
                    self._drop_lane(lane, cohorts, cohort_of, row_of, active)
                    continue
                learn_and_place(lane, s0)

            if not any_active:
                break

    # -- model kernels (2D twins of the 1D predict/update, same op order) ---

    @staticmethod
    def _predict(
        co: _Cohort,
        R: int,
        w: int,
        obs: FloatArray,
        g: _GaussGrids,
        e: _ExpoGrids,
    ) -> FloatArray:
        if co.kind == "gauss":
            g.ensure(w + 2)
            s, z = co.s1, co.s2
            mu, beta = co.mu_a, co.beta_a
            with np.errstate(over="ignore"):  # padded-column garbage only
                np.multiply(beta[:R, :w], g.kp1[:w], out=s[:R, :w])
                np.divide(s[:R, :w], g.ak[:w], out=s[:R, :w])
                np.subtract(obs[:, None], mu[:R, :w], out=z[:R, :w])
                np.multiply(z[:R, :w], z[:R, :w], out=z[:R, :w])
                np.divide(z[:R, :w], s[:R, :w], out=z[:R, :w])
                np.log(s[:R, :w], out=s[:R, :w])
                np.add(g.ldfpi[:w], s[:R, :w], out=s[:R, :w])
                np.multiply(s[:R, :w], 0.5, out=s[:R, :w])
                np.subtract(g.lgdiff[:w], s[:R, :w], out=s[:R, :w])
                np.divide(z[:R, :w], g.df[:w], out=z[:R, :w])
                np.log1p(z[:R, :w], out=z[:R, :w])
                np.multiply(z[:R, :w], g.dfp1h[:w], out=z[:R, :w])
                np.subtract(s[:R, :w], z[:R, :w], out=s[:R, :w])
                np.exp(s[:R, :w], out=s[:R, :w])
            # padded-column garbage (log of stale params) is zeroed by the
            # caller's copyto(invalid); valid columns propagate inf/nan
            # exactly like the sequential (unsanitized) gaussian predict
            return s
        e.ensure(w + 2)
        t, p = co.s2, co.s1  # pdf lands in s1: s2 doubles as the caller's tmp
        scale = co.scale_a
        # over=ignore: PADDED columns hold stale tiny scales whose quotients
        # overflow to inf; they are zeroed by the caller. Valid columns
        # behave exactly like the sequential kernel (divide/invalid already
        # silenced by _quiet_fp).
        with np.errstate(over="ignore"):
            np.divide(obs[:, None], scale[:R, :w], out=t[:R, :w])
            np.add(t[:R, :w], 1.0, out=t[:R, :w])
            np.power(t[:R, :w], e.negc1[:w], out=t[:R, :w])
            np.divide(e.c[:w], scale[:R, :w], out=p[:R, :w])
            np.multiply(p[:R, :w], t[:R, :w], out=p[:R, :w])
        neg = obs < 0
        if neg.any():
            p[:R][neg] = 0.0
        b = co.bmask
        np.less_equal(scale[:R, :w], 0.0, out=b[:R, :w])
        if b[:R, :w].any():
            p[:R, :w][b[:R, :w]] = np.nan
        np.isfinite(p[:R, :w], out=b[:R, :w])
        if not b[:R, :w].all():
            np.nan_to_num(p[:R, :w], copy=False)
        return p

    @staticmethod
    def _update(
        co: _Cohort,
        R: int,
        w: int,
        obs: FloatArray,
        g: _GaussGrids,
        skip_rows: npt.NDArray[np.intp],
    ) -> None:
        if co.kind == "gauss":
            z = co.s2
            mu, beta = co.mu_a, co.beta_a
            np.subtract(obs[:, None], mu[:R, :w], out=z[:R, :w])
            np.multiply(z[:R, :w], z[:R, :w], out=z[:R, :w])
            np.multiply(g.k[:w], z[:R, :w], out=z[:R, :w])
            np.divide(z[:R, :w], g.twok1[:w], out=z[:R, :w])
            np.add(beta[:R, :w], z[:R, :w], out=co.beta_b[:R, 1 : w + 1])
            np.multiply(mu[:R, :w], g.k[:w], out=z[:R, :w])
            np.add(z[:R, :w], obs[:, None], out=z[:R, :w])
            np.divide(z[:R, :w], g.kp1[:w], out=co.mu_b[:R, 1 : w + 1])
            co.mu_b[:R, 0] = co.mu0[:R]
            co.beta_b[:R, 0] = co.beta0[:R]
            for row in skip_rows:  # collapsed: params must NOT advance
                co.mu_b[row, : w + 2] = co.mu_a[row, : w + 2]
                co.beta_b[row, : w + 2] = co.beta_a[row, : w + 2]
            co.mu_a, co.mu_b = co.mu_b, co.mu_a
            co.beta_a, co.beta_b = co.beta_b, co.beta_a
        else:
            np.add(
                co.scale_a[:R, :w], obs[:, None], out=co.scale_b[:R, 1 : w + 1]
            )
            co.scale_b[:R, 0] = co.scale0[:R]
            for row in skip_rows:
                co.scale_b[row, : w + 2] = co.scale_a[row, : w + 2]
            co.scale_a, co.scale_b = co.scale_b, co.scale_a

    @staticmethod
    def _drop_lane(lane, cohorts, cohort_of, row_of, active) -> None:
        active[lane] = False
        c = int(cohort_of[lane])
        if c != -1:
            moved, moved_row = cohorts[c].remove_row(int(row_of[lane]))
            if moved != -1:
                row_of[moved] = moved_row
            cohort_of[lane] = -1
            row_of[lane] = -1
