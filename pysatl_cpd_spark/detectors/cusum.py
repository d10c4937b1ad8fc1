"""CUSUM change detection (Page 1954). Not present in the reference library —
added per the north star. Two forms:

1. ``cusum_stat`` — the *reset-free* one-sided statistic in closed form:
       S_t = max(0, S_{t-1} + (x_t - mu0 - k))
   unrolls to  S_t = C_t - min(0, min_{j<=t} C_j)  with C = cumsum(x - mu0 - k).
   Because running cumsum and running min are both SQL window functions, this
   exact statistic is *also* computed JVM-side in the engine
   (see operators/cusum.py) — the numpy version here is the oracle/UDF twin.

2. ``CusumDetector`` — the alarmed/reset variant used for localization:
   two-sided, restarts S after each alarm, and reports the change point as the
   start of the current excursion (the last time S was 0 before the alarm).
   Vectorized per segment: each alarm costs one O(remaining) numpy pass, so a
   series with few alarms is processed in a handful of vector ops.

3. ``LockstepCusum`` — the CROSS-SERIES batched twin of ``CusumDetector``
   (same design as detectors/lockstep.py for BOCPD): all series in a bucket
   advance through the alarm→restart loop in lockstep rounds, and every numpy
   call in a round covers the whole batch as a padded 2D array. Per-series
   output is bit-identical to ``CusumDetector.localize`` (differential tests
   in tests/test_lockstep_cusum.py) because every float op — the sequential
   learning-mean cumsum, the drift cumsum, and the running-min accumulate —
   performs the identical left-to-right additions per row; ``cumsum`` /
   ``minimum.accumulate`` are sequential BY DEFINITION along the axis (unlike
   ``sum``'s pairwise tree), and a construction-time self-check re-verifies
   the row/1D bitwise agreement at runtime anyway.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np
import numpy.typing as npt

FloatArray = npt.NDArray[np.float64]


def cusum_stat(values: FloatArray, mu0: float, k: float) -> FloatArray:
    """Reset-free one-sided CUSUM statistic, closed form (no Python loop)."""
    c = np.cumsum(np.asarray(values, dtype=np.float64) - mu0 - k)
    return c - np.minimum(np.minimum.accumulate(c), 0.0)


def _first_alarm(values: FloatArray, mu0: float, k: float, h: float, upper: bool) -> tuple[int, int] | None:
    """First (alarm_idx, excursion_start) for one direction, or None."""
    x = values if upper else -values
    m = mu0 if upper else -mu0
    c = np.cumsum(x - m - k)
    floor = np.minimum(np.minimum.accumulate(c), 0.0)
    s = c - floor
    over = np.nonzero(s > h)[0]
    if over.size == 0:
        return None
    alarm = int(over[0])
    # excursion start: last index before the alarm where the statistic was 0
    zeros = np.nonzero(s[: alarm + 1] <= 0.0)[0]
    start = int(zeros[-1]) + 1 if zeros.size > 0 else 0
    return alarm, start


@dataclass
class CusumDetector:
    """Two-sided CUSUM with reset-on-alarm and excursion-start localization.

    ``mu0``: in-control mean; if None it is estimated from the first
    ``learning_steps`` points after each reset. ``k``: slack (half the shift
    to detect). ``h``: decision threshold.
    """

    k: float = 0.5
    h: float = 5.0
    mu0: Optional[float] = None
    learning_steps: int = 50

    def localize(self, window: FloatArray) -> list[int]:
        values = np.asarray(window, dtype=np.float64)
        n = values.shape[0]
        cps: list[int] = []
        pos = 0
        while pos < n:
            if self.mu0 is not None:
                mu = self.mu0
                seg_start = pos
            else:
                if pos + self.learning_steps >= n:
                    break
                # sequential (left-to-right) mean, NOT np.mean's pairwise
                # summation: bit-identical to a SQL running-window sum, which
                # is what makes this detector's full output oracle-checkable
                mu = float(np.cumsum(values[pos : pos + self.learning_steps])[-1]) / self.learning_steps
                seg_start = pos + self.learning_steps
            seg = values[seg_start:]
            hits = [
                _first_alarm(seg, mu, self.k, self.h, upper=True),
                _first_alarm(seg, mu, self.k, self.h, upper=False),
            ]
            hits = [x for x in hits if x is not None]
            if not hits:
                break
            alarm, start = min(hits)
            cps.append(seg_start + start)
            pos = seg_start + alarm + 1
        return cps

    def detect(self, window: FloatArray) -> int:
        return len(self.localize(window))


_AXIS_ACCUMULATE_VERIFIED = False


def _verify_axis_accumulate() -> None:
    """Construction-time guard for the lockstep bit-identity contract: the
    batched kernel assumes ``np.cumsum(..., axis=1)`` and
    ``np.minimum.accumulate(..., axis=1)`` over (possibly strided) 2D rows
    perform the same left-to-right sequence of ops as the contiguous 1D call.
    That holds by the definition of accumulate (sequential, unlike ``sum``'s
    pairwise tree), but it is an implementation detail a numpy upgrade could
    in principle change — so verify it bitwise once per process on layouts
    matching what process_many builds (contiguous, row-sliced, fancy-indexed).
    """
    global _AXIS_ACCUMULATE_VERIFIED
    if _AXIS_ACCUMULATE_VERIFIED:
        return
    rng = np.random.default_rng(12345)
    base = rng.normal(size=(8, 64)) * np.exp(rng.normal(size=(8, 64)))
    for mat in (base, base[::2], base[:, ::3], base[[5, 1, 4, 0, 2]]):
        cs = np.cumsum(mat, axis=1)
        mn = np.minimum.accumulate(mat, axis=1)
        for i in range(mat.shape[0]):
            row = np.ascontiguousarray(mat[i])
            if not (
                np.array_equal(cs[i], np.cumsum(row))
                and np.array_equal(mn[i], np.minimum.accumulate(row))
            ):
                raise RuntimeError(
                    "numpy axis-1 cumsum/minimum.accumulate diverged bitwise "
                    "from the 1D path; the LockstepCusum bit-identity "
                    "contract does not hold under this numpy build"
                )
    _AXIS_ACCUMULATE_VERIFIED = True


@dataclass
class LockstepCusum:
    """Cross-series batched ``CusumDetector`` (same parameters, bit-identical
    per-series output — see module docstring §3 and tests/test_lockstep_cusum.py).

    ``process_many(series_list)`` advances every series through the
    alarm→restart localization loop in LOCKSTEP ROUNDS: one round gathers the
    active tails into a NaN-padded 2D array and finds each series' next
    (alarm, excursion_start) with whole-batch cumsum / running-min /
    first-crossing ops. Round count = max alarms over the batch + 1, so a
    bucket of B series costs ~B-fold fewer numpy dispatches than the
    sequential per-series loop — the same amortization that made the BOCPD
    lockstep kernel ~3.6x faster per core (detectors/lockstep.py). Padding
    waste is bounded by tail-length spread within a batch; the operator
    layer batches the series of a hash partition, which mixes lengths
    uniformly.
    """

    k: float = 0.5
    h: float = 5.0
    mu0: Optional[float] = None
    learning_steps: int = 50

    def __post_init__(self) -> None:
        _verify_axis_accumulate()

    @staticmethod
    def _first_alarms_2d(
        x: FloatArray, mu: FloatArray, k: float, h: float
    ) -> tuple[npt.NDArray[np.bool_], npt.NDArray[np.int64], npt.NDArray[np.int64]]:
        """Batched ``_first_alarm`` for one direction over NaN-padded tails.

        Identical op sequence per row: c = cumsum(x - mu - k) along the row,
        floor = min(running-min(c), 0), s = c - floor; first s > h is the
        alarm, last s <= 0 at-or-before it (+1) is the excursion start. NaN
        padding is inert: it propagates through cumsum/accumulate and every
        NaN comparison is False, so padded columns can neither alarm nor
        register as zeros. Returns (has_alarm, alarm_idx, start_idx)."""
        c = np.cumsum(x - mu[:, None] - k, axis=1)
        floor = np.minimum(np.minimum.accumulate(c, axis=1), 0.0)
        s = c - floor
        over = s > h
        has = over.any(axis=1)
        alarm = over.argmax(axis=1).astype(np.int64)
        idx = np.arange(s.shape[1], dtype=np.int64)
        zeros = (s <= 0.0) & (idx[None, :] <= alarm[:, None])
        last_zero = np.where(
            zeros.any(axis=1),
            s.shape[1] - 1 - zeros[:, ::-1].argmax(axis=1),
            np.int64(-1),
        )
        return has, alarm, last_zero + 1

    def process_many(self, series: "list[FloatArray]") -> "list[list[int]]":
        arrs = [np.asarray(v, dtype=np.float64) for v in series]
        lens = np.array([a.shape[0] for a in arrs], dtype=np.int64)
        pos = np.zeros(len(arrs), dtype=np.int64)
        cps: list[list[int]] = [[] for _ in arrs]
        learn = self.learning_steps
        if self.mu0 is None:
            active = pos + learn < lens
        else:
            active = pos < lens
        while active.any():
            act = np.flatnonzero(active)
            if self.mu0 is None:
                # sequential learning mean, batched: identical left-to-right
                # adds as CusumDetector's cumsum(values[pos:pos+learn])[-1]
                mat = np.empty((act.size, learn), dtype=np.float64)
                for j, i in enumerate(act):
                    mat[j] = arrs[i][pos[i] : pos[i] + learn]
                mu = np.cumsum(mat, axis=1)[:, -1] / learn
                seg_start = pos[act] + learn
            else:
                mu = np.full(act.size, float(self.mu0))
                seg_start = pos[act].copy()
            tail_lens = lens[act] - seg_start
            m = int(tail_lens.max())
            x = np.full((act.size, m), np.nan)
            for j, i in enumerate(act):
                x[j, : tail_lens[j]] = arrs[i][seg_start[j] :]
            has_up, alarm_up, start_up = self._first_alarms_2d(x, mu, self.k, self.h)
            has_dn, alarm_dn, start_dn = self._first_alarms_2d(-x, -mu, self.k, self.h)
            # lexicographic min over the available (alarm, start) hits —
            # the sequential code's min(hits) with upper listed first
            use_dn = has_dn & (
                ~has_up
                | (alarm_dn < alarm_up)
                | ((alarm_dn == alarm_up) & (start_dn < start_up))
            )
            hit = has_up | has_dn
            alarm = np.where(use_dn, alarm_dn, alarm_up)
            start = np.where(use_dn, start_dn, start_up)
            for j, i in enumerate(act):
                if hit[j]:
                    cps[i].append(int(seg_start[j] + start[j]))
            pos[act] = np.where(hit, seg_start + alarm + 1, lens[act])
            if self.mu0 is None:
                active = pos + learn < lens
            else:
                active = pos < lens
        return cps
