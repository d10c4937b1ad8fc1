"""Cross-series LOCKSTEP driver for the OFFLINE BOCPD detector.

Batch twin of ``BayesianOffline.localize`` (bayesian_offline.py — itself the
parity implementation of the reference ``bayesian_algorithm.py``): all series
in a bucket advance through the learn → recurse → localize → rewind scan in
lockstep rounds, every per-observation numpy call covering the whole batch.
Reuses the proven 2D Gaussian predict/update from ``detectors/lockstep.py``
(the cohort machinery whose posterior traces are byte-equal to the
sequential ``GaussianConjugate``) and the exact-length row reductions, so
per-series output is BIT-IDENTICAL to the sequential detector
(tests/test_lockstep_offline.py differential + fuzz suite).

Sequential semantics reproduced exactly (bayesian_offline.py:68-99):
  - learn priors on ``learning_steps`` points, advance t by
    ``learning_steps - 1`` (the last learning point is also the first
    observed point — the reference quirk);
  - per step: pred over run lengths, collapse iff every pred is zero
    (growth/likelihood untouched), else
    cp_mass = sum((growth*pred)*h) and growth' = (growth*pred)*(1-h) in the
    sequential MULTIPLY ORDER, evidence summed over gap+2 entries (one
    trailing zero included — the pairwise tree length matters bitwise);
  - detector fires when the max-run-length probability < threshold; a fire
    or collapse is honored only while ``t < n - 1`` (window-end discard);
  - localization: argmax over growth[:gap][:-1] (0 if degenerate), change
    point = t - run_length + 1, REWIND t to the change point and relearn;
    a collapse localizes to t without rewinding.

Only the Gaussian-conjugate likelihood (the ``BayesianOffline`` default) is
supported. Both reference trajectories are available:

  - ``mode="localize"`` (default): fire → localize → REWIND to the change
    point and relearn — ``BayesianOffline.localize`` bit for bit;
  - ``mode="detect"``: the reference's counting trajectory (cpd_core.py
    detect path) — fire → count → relearn FROM THE CURRENT t, no rewind.
    Every fire is bookkept exactly like a collapse (record ``t``, cursor
    unchanged), so the scan is strictly simpler than localize; the emitted
    per-lane list holds the fire times and its length IS
    ``BayesianOffline.detect(window)`` (differential-tested).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import numpy.typing as npt

from pysatl_cpd_spark.detectors.bayesian_offline import DEFAULT_HAZARD_RATE
from pysatl_cpd_spark.detectors.likelihoods import _GAUSS_GRIDS, _GaussGrids
from pysatl_cpd_spark.detectors.lockstep import (
    LockstepLinearBOCPD,
    _Cohort,
    _exact_row_sums_grouped,
    _row_length_groups,
    _verify_row_sum_contract,
)

FloatArray = npt.NDArray[np.float64]


@dataclass
class LockstepBayesianOffline:
    """Batched ``BayesianOffline(learning_steps, GaussianConjugate(),
    ConstantHazard(rate), ThresholdDetector(threshold), ArgmaxLocalizer())``
    with ``process_many(list[series]) -> list[list[int]]`` — the lockstep
    kernel contract shared with ``LockstepLinearBOCPD`` / ``LockstepCusum``,
    so it drops into ``detect_lockstep_colocated`` unchanged.

    ``mode="detect"`` runs the reference's COUNTING trajectory instead
    (``BayesianOffline.detect``): no rewind — after any fire (threshold or
    collapse) the scan relearns from the current ``t`` — and the emitted
    list per lane holds the fire times, so ``len(cps)`` equals the
    sequential detect count exactly; drop it into ``detect_counts_lockstep``
    for the distributed count dispatch."""

    learning_steps: int = 50
    rate: float = DEFAULT_HAZARD_RATE
    threshold: float = 0.04
    mode: str = "localize"

    def __post_init__(self) -> None:
        if self.mode not in ("localize", "detect"):
            raise ValueError(f"mode must be localize|detect, got {self.mode!r}")
        _verify_row_sum_contract()

    def process_many(self, series: "list[FloatArray]") -> "list[list[int]]":
        arrs = [np.asarray(v, dtype=np.float64) for v in series]
        L = len(arrs)
        lens = np.array([a.shape[0] for a in arrs], dtype=np.int64)
        cps: list[list[int]] = [[] for _ in arrs]
        if L == 0:
            return cps
        lss = self.learning_steps
        h = 1.0 / float(self.rate)
        one_minus = 1.0 - h
        thr = self.threshold

        m = float(lss)
        g = _GAUSS_GRIDS.get(m)
        if g is None:
            g = _GAUSS_GRIDS.setdefault(m, _GaussGrids(m))
        # the expo grids arg of _predict is unused for a gauss cohort; the
        # cohort API still wants a placeholder
        egrids = None

        cursor = np.zeros(L, dtype=np.int64)  # the sequential ``t``
        needs_learn = [lane for lane in range(L) if 0 + lss < lens[lane]]
        co = _Cohort("gauss", L)
        cohort_row = np.full(L, -1, dtype=np.int64)

        def learn_lane(lane: int) -> None:
            """Sequential GaussianConjugate.learn on this lane's window —
            identical 1D reductions — then place a fresh posterior row."""
            t0 = int(cursor[lane])
            data = arrs[lane][t0 : t0 + lss]
            mu0 = float(data.mean())
            beta0 = float(((data - mu0) ** 2).sum() / 2.0)
            row = co.add_row(lane)
            cohort_row[lane] = row
            co.ensure_width(2)
            co.reset_row(row)
            co.mu0[row] = mu0
            co.beta0[row] = beta0
            co.mu_a[row, 0] = mu0
            co.beta_a[row, 0] = beta0
            cursor[lane] = t0 + lss - 1

        for lane in needs_learn:
            learn_lane(lane)

        while co.count:
            R = co.count
            w = int(co.r[:R].max())
            co.ensure_width(w + 2)
            lanes_c = co.lane_of_row[:R].copy()
            # loop-top window-end exit: lanes at t == n-1 leave the
            # recursion BEFORE consuming anything; their pending state is
            # discarded (sequential phase-3 is skipped when t == n-1, and
            # the outer while then ends — lss >= 1)
            done_rows = np.nonzero(cursor[lanes_c] >= lens[lanes_c] - 1)[0]
            if done_rows.size:
                for row in sorted((int(r) for r in done_rows), reverse=True):
                    lane = int(co.lane_of_row[row])
                    moved, moved_row = co.remove_row(row)
                    if moved != -1:
                        cohort_row[moved] = moved_row
                    cohort_row[lane] = -1
                continue  # re-snapshot rows after removals

            obs = np.empty(R)
            for row in range(R):
                lane = int(lanes_c[row])
                obs[row] = arrs[lane][cursor[lane]]
            cursor[lanes_c] += 1  # obs = window[t]; t += 1

            r_arr = co.r[:R]
            groups = _row_length_groups(r_arr)
            pred = LockstepLinearBOCPD._predict(co, R, w, obs, g, egrids)
            np.copyto(pred[:R, :w], 0.0, where=co.invalid[:R, :w])
            # collapse: every predictive probability exactly zero over the
            # row's run lengths (padded columns already zeroed)
            collapsed = ~(pred[:R, :w] != 0.0).any(axis=1)

            rl = co.rl_a
            tmp = co.s2
            probs = co.rl_b
            # sequential multiply ORDER: a = growth*pred, then a*h / a*(1-h)
            np.multiply(rl[:R, :w], pred[:R, :w], out=tmp[:R, :w])
            cp_mass = np.empty(R)
            evidence = np.empty(R)
            a_h = co.s1  # scratch: a*h for the cp_mass reduction
            np.multiply(tmp[:R, :w], h, out=a_h[:R, :w])
            _exact_row_sums_grouped(a_h, groups, 0, R, cp_mass)
            np.multiply(tmp[:R, :w], one_minus, out=probs[:R, 1 : w + 1])
            probs[:R, 0] = cp_mass
            # evidence = sum(growth[:gap+2]) — gap+2 = r_old+2 entries, one
            # trailing zero included (zero-padded invariant provides it)
            _exact_row_sums_grouped(probs, groups, 2, R, evidence)
            ok = ~collapsed
            if not (evidence[ok] > 0.0).all():
                raise AssertionError("evidence must be positive")
            np.divide(
                probs[:R, : w + 2],
                evidence[:, None],
                out=probs[:R, : w + 2],
                where=ok[:, None],
            )
            col_rows = np.nonzero(collapsed)[0]
            LockstepLinearBOCPD._update(co, R, w, obs, g, col_rows)
            co.rl_a, co.rl_b = co.rl_b, co.rl_a
            grow = np.nonzero(ok)[0]
            co.r[:R][grow] += 1
            co.invalid[grow, co.r[:R][grow] - 1] = False

            rl_now = co.rl_a
            last = rl_now[np.arange(R), co.r[:R] - 1]
            fired = collapsed | (last < thr)
            if not fired.any():
                continue
            # phase 3 per fired row (scalar bookkeeping; honored only while
            # t < n - 1 — the loop-top gate above handles the == case next
            # round for non-fired rows, but a fired row must check NOW)
            relearn: list[int] = []
            for row in sorted((int(r) for r in np.nonzero(fired)[0]), reverse=True):
                lane = int(co.lane_of_row[row])
                t = int(cursor[lane])
                n = int(lens[lane])
                if t < n - 1:
                    if self.mode == "detect" or collapsed[row]:
                        # counting trajectory (and collapse in either mode):
                        # record the fire time, cursor unchanged — relearn
                        # resumes from the current t (no rewind)
                        cps[lane].append(t)
                    else:
                        # localize over growth[:gap] = new posterior minus
                        # its last entry; argmax over that slice's [:-1]
                        gap = int(co.r[row]) - 1
                        head = rl_now[row, :gap]
                        run_length = (
                            0 if gap == 1 else int(np.argmax(head[:-1]))
                        )
                        cp = t - run_length + 1
                        cps[lane].append(cp)
                        cursor[lane] = cp  # REWIND
                # fired at t == n-1: discarded, lane simply ends
                moved, moved_row = co.remove_row(row)
                if moved != -1:
                    cohort_row[moved] = moved_row
                cohort_row[lane] = -1
                if t < n - 1 and cursor[lane] + lss < n:
                    relearn.append(lane)
            for lane in relearn:
                learn_lane(lane)

        return cps
