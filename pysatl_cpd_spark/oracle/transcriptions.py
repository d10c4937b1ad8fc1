"""Flat-numpy transcriptions of the sequential detectors, used to compute
expected change-point rows that are inlined as DuckDB VALUES oracles
(the same literal-inlining technique as the IVF centroid oracle).

What a VALUES oracle built from these verifies about the engine: the Spark
path end-to-end — series extraction and (ts, event_id) ordering, per-group
sort inside the grouped UDF, window assignment, local→global index remap,
Arrow round-trips, and cross-process determinism of the kernels. What it does
NOT independently verify: the floating-point recursions themselves — integer
outputs (argmax indices, threshold crossings) require bit-identical fp
trajectories, so each per-step formula here follows the published equations
in the same operation order as the engine kernels. The recursion *math* is
separately differential-tested against a literal paper transcription in
tests/test_bocpd_differential.py; this module restructures all control flow
(flat scans and explicit state machines instead of component classes) so
state-machine and plumbing defects cannot be shared.

Shared math utilities (Student-t / Lomax densities, Lanczos lgamma) are
imported from detectors/special.py the way numpy itself is shared.

No pyspark imports — oracles must build without a JVM.
"""

from __future__ import annotations

import math

import numpy as np

from pysatl_cpd_spark.detectors.special import lomax_pdf, sanitize_pdf, student_t_pdf

RATE_DEFAULT = 1.0 / (1.0 - 0.5 ** (1.0 / 500))


# ---------------------------------------------------------------------------
# input series (sf parquet → ordered per-user numpy series, via DuckDB)
# ---------------------------------------------------------------------------


def events_series_arrays(sf_dir: str) -> dict[str, np.ndarray]:
    """Per-user value series ordered by (ts, event_id) — the transcription of
    operators/series.events_series, read with DuckDB instead of Spark."""
    import duckdb

    rows = duckdb.connect().execute(
        f"""
        SELECT CAST(user_id AS VARCHAR) AS series_id, value
        FROM read_parquet('{sf_dir}/events.parquet')
        ORDER BY user_id, ts, event_id
        """
    ).fetchall()
    out: dict[str, list[float]] = {}
    for sid, v in rows:
        out.setdefault(sid, []).append(float(v))
    return {k: np.asarray(v, dtype=np.float64) for k, v in out.items()}


# ---------------------------------------------------------------------------
# conjugate predictive models (flat state, paper op-order)
# ---------------------------------------------------------------------------


class _TGauss:
    """Normal-Inverse-Gamma conjugate / Student-t predictive (Murphy 2007)."""

    def __init__(self) -> None:
        self.clear()

    def clear(self) -> None:
        self.prior = None
        self.mu = self.k = self.al = self.be = self.lg = None

    def learn(self, data: np.ndarray) -> None:
        m = data.shape[0]
        mu0 = float(data.mean())
        b0 = float(((data - mu0) ** 2).sum() / 2.0)
        a0 = m / 2.0
        self.prior = (mu0, float(m), a0, b0)
        self.mu = np.array([mu0])
        self.k = np.array([float(m)])
        self.al = np.array([a0])
        self.be = np.array([b0])
        self.lg = np.array([math.lgamma(a0), math.lgamma(a0 + 0.5)])

    def update(self, x: float) -> None:
        mu0, k0, a0, b0 = self.prior
        r = self.mu.shape[0]
        be = np.empty(r + 1)
        mu = np.empty(r + 1)
        be[1:] = self.be + self.k * (x - self.mu) ** 2 / (2.0 * self.k + 1.0)
        mu[1:] = (self.mu * self.k + x) / (self.k + 1.0)
        kk = np.empty(r + 1)
        al = np.empty(r + 1)
        np.add(self.k, 1.0, out=kk[1:])
        np.add(self.al, 0.5, out=al[1:])
        mu[0], kk[0], al[0], be[0] = mu0, k0, a0, b0
        self.mu, self.k, self.al, self.be = mu, kk, al, be
        self.lg = np.append(self.lg, math.lgamma(a0 + 0.5 * self.lg.shape[0]))

    def predict(self, x: float) -> np.ndarray:
        r = self.al.shape[0]
        df = 2.0 * self.al
        scale2 = self.be * (self.k + 1.0) / (self.al * self.k)
        z2 = (x - self.mu) ** 2 / scale2
        log_norm = (
            self.lg[1 : r + 1]
            - self.lg[:r]
            - 0.5 * (np.log(df) + math.log(math.pi) + np.log(scale2))
        )
        return np.exp(log_norm - ((df + 1.0) / 2.0) * np.log1p(z2 / df))

    def prior_log_prob(self, sample: np.ndarray) -> float:
        mu0, k0, a0, b0 = self.prior
        df = 2.0 * a0
        scale = np.sqrt(b0 * (k0 + 1.0) / (a0 * k0))
        probs = student_t_pdf(sample, df=df, loc=mu0, scale=scale)
        with np.errstate(divide="ignore"):
            return float(np.sum(np.log(probs)))


class _TExpo:
    """Exponential-Gamma conjugate / Lomax predictive."""

    def __init__(self) -> None:
        self.clear()

    def clear(self) -> None:
        self.prior = None
        self.shape = self.scale = None

    def learn(self, data: np.ndarray) -> None:
        s0 = float(data.shape[0])
        sc0 = float(data.sum())
        self.prior = (s0, sc0)
        self.shape = np.array([s0])
        self.scale = np.array([sc0])

    def update(self, x: float) -> None:
        s0, sc0 = self.prior
        r = self.shape.shape[0]
        sh = np.empty(r + 1)
        sc = np.empty(r + 1)
        np.add(self.shape, 1.0, out=sh[1:])
        np.add(self.scale, x, out=sc[1:])
        sh[0], sc[0] = s0, sc0
        self.shape, self.scale = sh, sc

    def predict(self, x: float) -> np.ndarray:
        return sanitize_pdf(lomax_pdf(x, c=self.shape, scale=self.scale))

    def prior_prob(self, sample: np.ndarray) -> float:
        s0, sc0 = self.prior
        return float(np.prod(sanitize_pdf(lomax_pdf(sample, c=s0, scale=sc0))))


class _THeuristic:
    """Learn-time model selection: Gaussian vs Exponential conjugate by
    probability of the learning sample under each learned prior."""

    def __init__(self) -> None:
        self.chosen = None

    def clear(self) -> None:
        self.chosen = None

    def learn(self, data: np.ndarray) -> None:
        g, e = _TGauss(), _TExpo()
        g.learn(data)
        e.learn(data)
        p_g = float(np.exp(g.prior_log_prob(data)))
        p_e = e.prior_prob(data)
        self.chosen = g if p_g >= p_e else e

    def update(self, x: float) -> None:
        self.chosen.update(x)

    def predict(self, x: float) -> np.ndarray:
        return self.chosen.predict(x)


# ---------------------------------------------------------------------------
# run-length-posterior detectors (flat)
# ---------------------------------------------------------------------------


class _ThresholdFire:
    def __init__(self, thr: float) -> None:
        self.thr = thr

    def clear(self) -> None:
        pass

    def fire(self, rl: np.ndarray) -> bool:
        return rl.shape[0] > 0 and bool(rl[-1] < self.thr)


class _DropFire:
    """Fires when max-run-length probability drops >= thr versus the FIRST
    probability observed after (re)training (the stored baseline is set once
    and not advanced — engine/reference semantics)."""

    def __init__(self, thr: float) -> None:
        self.thr = thr
        self.prev = None

    def clear(self) -> None:
        self.prev = None

    def fire(self, rl: np.ndarray) -> bool:
        if rl.shape[0] == 0:
            return False
        last = float(rl[-1])
        if self.prev is None:
            self.prev = last
            return False
        return (self.prev - last) >= self.thr


def _argmax_localize(rl: np.ndarray) -> int:
    return 0 if rl.shape[0] == 1 else int(np.argmax(rl[:-1]))


# ---------------------------------------------------------------------------
# online protocol: train → recursion → truncate-retrain-replay
# ---------------------------------------------------------------------------


class _OnlineBocpd:
    """One flat state machine for the reference's online protocol."""

    def __init__(self, make_like, learn_n: int, rate: float, firer) -> None:
        self.make_like = make_like
        self.learn_n = learn_n
        self.h = 1.0 / rate
        self.firer = firer
        self.like = make_like()
        self.training: list[float] = []
        self.history: list[float] = []
        self.t = 0
        self.is_training = True
        self.rl = np.empty(0)
        self.collapsed = False

    def _train_one(self, obs: float) -> None:
        self.training.append(obs)
        if len(self.training) == self.learn_n:
            self.like.clear()
            self.firer.clear()
            self.like.learn(np.asarray(self.training))
            self.is_training = False
            self.rl = np.array([1.0])

    def _step(self, obs: float) -> None:
        pred = self.like.predict(obs)
        r = self.rl.shape[0]
        cp_mass = float(np.sum(self.rl * self.h * pred))
        probs = np.empty(r + 1)
        np.multiply(self.rl * (1.0 - self.h), pred, out=probs[1:])
        probs[0] = cp_mass
        evidence = float(probs.sum())
        if evidence == 0.0:
            self.collapsed = True
            self.rl = np.zeros(r)
            self.rl[0] = 1.0
            return
        self.rl = probs / evidence
        self.like.update(obs)

    def localize(self, obs: float) -> int | None:
        """Feed one observation; return the detector-local change point."""
        self.history.append(obs)
        self.t += 1
        if self.is_training:
            self._train_one(obs)
            return None
        self._step(obs)
        if not (self.collapsed or self.firer.fire(self.rl)):
            self.collapsed = False
            return None
        self.collapsed = False
        run_length = _argmax_localize(self.rl)
        cp = self.t - run_length
        self.history = self.history[-run_length:] if run_length > 0 else []
        self.training = []
        self.like.clear()
        self.firer.clear()
        self.is_training = True
        for o in self.history[: min(len(self.history), self.learn_n)]:
            self._train_one(o)
        if len(self.history) >= self.learn_n:
            for o in self.history[self.learn_n :]:
                self._step(o)
        self.collapsed = False
        return cp


def online_cps(x: np.ndarray, make_like, learn_n: int, rate: float, firer) -> list[int]:
    det = _OnlineBocpd(make_like, learn_n, rate, firer)
    out = []
    for v in np.asarray(x, dtype=np.float64):
        cp = det.localize(float(v))
        if cp is not None:
            out.append(cp)
    return out


class _LinearWrap:
    """Duplicate-rotation wrapper bounding posterior length (linear heuristic)."""

    def __init__(self, make_det, start_after: int, prep_time: int) -> None:
        self.make_det = make_det
        self.sa = start_after
        self.pt = prep_time
        self.main = make_det()
        self.dup = None
        self.time = 0
        self.epoch = 0

    def localize(self, obs: float) -> int | None:
        res = self.main.localize(obs)
        if res is not None:
            cp = self.epoch + res
            self.epoch = cp
            self.dup = None
            self.time += 1
            return cp
        work = self.time - self.epoch
        end = self.sa + self.pt
        if work == self.sa:
            self.dup = self.make_det()
        elif self.sa < work < end:
            if self.dup is not None:
                self.dup.localize(obs)
        elif work == end:
            self.main = self.dup
            self.dup = None
            self.epoch = self.time - self.pt
        self.time += 1
        return None


# ---------------------------------------------------------------------------
# offline BOCPD protocol (learn → recursion-until-fire → rewind)
# ---------------------------------------------------------------------------


def offline_cps(x: np.ndarray, learn_n: int, rate: float, thr: float) -> list[int]:
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    like = _TGauss()
    cps: list[int] = []
    t = 0

    def reset(at: int) -> np.ndarray:
        like.clear()
        g = np.zeros(max(n - at, 0))
        if g.shape[0] > 0:
            g[0] = 1.0
        return g

    growth = reset(0)
    collapsed = False
    while t + learn_n < n:
        like.learn(x[t : t + learn_n])
        t += learn_n - 1
        gap = 0
        while t < n - 1 and not collapsed and not bool(growth[gap] < thr):
            obs = float(x[t])
            t += 1
            gap += 1
            pred = like.predict(obs)
            if np.count_nonzero(pred) == 0:
                collapsed = True
                continue
            hz = np.full(gap, 1.0 / rate)
            cp_prob = float(np.sum(growth[:gap] * pred * hz))
            growth[1 : gap + 1] = growth[:gap] * pred * (1.0 - hz)
            growth[0] = cp_prob
            evidence = float(np.sum(growth[: gap + 2]))
            growth[: gap + 2] /= evidence
            like.update(obs)
        if t < n - 1:
            if collapsed:
                cps.append(t)
            else:
                run_length = _argmax_localize(growth[:gap])
                cp = t - run_length + 1
                cps.append(cp)
                t = cp
            growth = reset(t)
            collapsed = False
    return cps


def offline_count(x: np.ndarray, learn_n: int, rate: float, thr: float) -> int:
    """Counting trajectory of the offline detector (reference detect mode):
    identical recursion, but a fire only increments the count — NO rewind,
    the next learn window starts at the current t."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    like = _TGauss()
    count = 0
    t = 0

    def reset(at: int) -> np.ndarray:
        like.clear()
        g = np.zeros(max(n - at, 0))
        if g.shape[0] > 0:
            g[0] = 1.0
        return g

    growth = reset(0)
    collapsed = False
    while t + learn_n < n:
        like.learn(x[t : t + learn_n])
        t += learn_n - 1
        gap = 0
        while t < n - 1 and not collapsed and not bool(growth[gap] < thr):
            obs = float(x[t])
            t += 1
            gap += 1
            pred = like.predict(obs)
            if np.count_nonzero(pred) == 0:
                collapsed = True
                continue
            hz = np.full(gap, 1.0 / rate)
            cp_prob = float(np.sum(growth[:gap] * pred * hz))
            growth[1 : gap + 1] = growth[:gap] * pred * (1.0 - hz)
            growth[0] = cp_prob
            evidence = float(np.sum(growth[: gap + 2]))
            growth[: gap + 2] /= evidence
            like.update(obs)
        if t < n - 1:
            count += 1
            growth = reset(t)
            collapsed = False
    return count


# ---------------------------------------------------------------------------
# windowed detectors (scrubber law + per-window kernels)
# ---------------------------------------------------------------------------


def scrubber_slices(n: int, window_length: int, shift: int) -> list[tuple[int, np.ndarray]]:
    """(start, positions) of every nonempty scrubber window over n points."""
    out = []
    k = 0
    while k * shift < n:
        start = k * shift
        out.append((start, np.arange(start, min(n, start + window_length))))
        k += 1
    return out


def knn_window_cps(w: np.ndarray, k: int, thr: float, indent: float) -> list[int]:
    """Chen-Zhang kNN-graph split statistic over one window (1-D or vector
    observations); the crossing counts and graph invariants are integers
    computed directly (exact in fp), the distance matrix and neighbour
    selection mirror the engine's calls (argpartition selection is part of
    the operator's tie semantics)."""
    x = np.asarray(w, dtype=np.float64)
    n = x.shape[0]
    if n == 0 or np.all(x == x.flat[0]):
        return []
    first = int(n * indent)
    last = int(n * (1 - indent))
    if n <= k:
        stats = np.full(n, -float(k))
        return [i + first for i, v in enumerate(stats[first:last]) if v > thr]

    xm = x.reshape(-1, 1) if x.ndim == 1 else x
    sq = (xm**2).sum(axis=1)
    d2 = sq[:, None] - 2.0 * xm @ xm.T + sq[None, :]
    d = np.sqrt(np.maximum(d2, 0.0))
    np.fill_diagonal(d, np.inf)
    k_eff = min(k, n - 1)
    nearest = np.argpartition(d, k_eff - 1, axis=1)[:, :k_eff]
    m = np.zeros((n, n), dtype=np.int64)
    m[np.arange(n)[:, None], nearest] = 1

    sum_1 = float((m * m.T).sum()) / n
    indeg = m.sum(axis=0)
    sum_2 = float((indeg * (indeg - 1)).sum() + m.sum()) / n

    wmat = m + m.T
    s = np.empty(n, dtype=np.float64)
    for t in range(n):
        s[t] = 2.0 * float(np.triu(wmat)[: t + 1, t + 1 :].sum())

    tt = np.arange(n, dtype=np.float64)
    n1, n2 = tt, n - tt
    expectation = 4.0 * k * n1 * n2 / (n - 1)
    h = 4.0 * (n1 - 1.0) * (n2 - 1.0) / ((n - 2.0) * (n - 3.0))
    variance = (expectation / k) * (
        h * (sum_1 + k - 2.0 * k**2 / (n - 1)) + (1.0 - h) * (sum_2 - k**2)
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        stat = -(s - expectation) / np.sqrt(variance)
    stat = np.where((variance <= 0) | ~np.isfinite(stat), -float(k), stat)
    return [i + first for i, v in enumerate(stat[first:last]) if v > thr]


def classification_window_cps(
    w: np.ndarray, k: int, thr: float, indent: float
) -> list[int]:
    """kNN-classifier split quality (MCC) over one window."""
    x = np.asarray(w, dtype=np.float64).reshape(-1, 1)
    n = x.shape[0]
    if n == 0:
        return []
    train = x[0::2]
    test = x[1::2]
    first = int(n * indent)
    last = int(n * (1 - indent))
    sq_tr = (train**2).sum(axis=1)
    sq_te = (test**2).sum(axis=1)
    d = sq_te[:, None] - 2.0 * test @ train.T + sq_tr[None, :]
    k_eff = min(k, train.shape[0])
    nearest = np.argpartition(d, k_eff - 1, axis=1)[:, :k_eff]
    out = []
    for t in range(first, last):
        barrier = t // 2
        ytr = (np.arange(train.shape[0]) > barrier).astype(np.intp)
        votes = ytr[nearest].mean(axis=1)
        classes = (votes > 0.5).astype(np.intp)
        before, after = classes[:barrier], classes[barrier:]
        tp = float(after.sum())
        fp = float(before.sum())
        tn = barrier - fp
        fn = len(after) - tp
        pos, neg = tp + fn, fp + tn
        pp, pn = tp + fp, fn + tn
        if pp == 0 or pn == 0:
            q = -1.0
        else:
            q = math.sqrt((tp / pos) * (tn / neg) * (tp / pp) * (tn / pn)) - math.sqrt(
                (fn / pos) * (fp / neg) * (fn / pn) * (fp / pp)
            )
        if q > thr:
            out.append(t)
    return out


def _density_weights(
    w: np.ndarray, bandwidth: float, reg: float, method: str
) -> np.ndarray:
    """Normalized per-point importance weights for one window — KLIEP
    (Sugiyama 2008 fixed-point) or RuLSIF (Liu 2013 closed form). Matrix
    expressions keep the kernels' operation order (threshold crossings on
    weights require identical fp trajectories)."""
    x = np.asarray(w, dtype=np.float64)
    half = x.shape[0] // 2
    ref, test = x[:half], x[half:]
    if len(test) == 0 or len(ref) == 0:
        return np.ones(x.shape[0])
    centers = test[np.linspace(0, len(test) - 1, min(100, len(test))).astype(int)]

    def design(pts):
        d2 = ((pts.reshape(-1, 1)[:, None, :] - centers.reshape(-1, 1)[None, :, :]) ** 2).sum(axis=2)
        return np.exp(-d2 / (2.0 * bandwidth**2))

    k_test, k_ref = design(test), design(ref)
    if method == "kliep":
        alpha = np.ones(centers.shape[0])
        b = k_ref.mean(axis=0)
        for _ in range(200):
            ratio = k_test @ alpha
            grad = k_test.T @ (1.0 / np.maximum(ratio, 1e-300)) / len(test)
            alpha = np.maximum(alpha * grad / (b + reg * alpha + 1e-300), 0.0)
            denom = float(b @ alpha)
            if denom > 0:
                alpha /= denom
        coef = alpha
    else:
        mix = 0.1
        h_mat = (1.0 - mix) * (k_ref.T @ k_ref) / len(ref) + mix * (k_test.T @ k_test) / len(test)
        coef = np.linalg.solve(h_mat + reg * np.eye(centers.shape[0]), k_test.mean(axis=0))
        wts = np.maximum(design(x) @ coef, 0.0)
        mean = wts.mean()
        return wts / mean if mean > 0 else np.ones_like(wts)
    wts = design(x) @ coef
    mean = wts.mean()
    return wts / mean if mean > 0 else np.ones_like(wts)


def density_window_cps(w: np.ndarray, method: str, thr: float = 1.5) -> list[int]:
    wts = _density_weights(w, bandwidth=1.0, reg=0.01, method=method)
    return np.nonzero(wts > thr)[0].tolist()


def windowed_cps(
    x: np.ndarray, window_length: int, shift: int, window_fn
) -> list[int]:
    """Scrubber + per-window kernel + global remap + distinct (sorted)."""
    hits: set[int] = set()
    for start, positions in scrubber_slices(len(x), window_length, shift):
        for local in window_fn(x[positions]):
            hits.add(start + local)
    return sorted(hits)


# ---------------------------------------------------------------------------
# expected-rows builders (one per contract query)
# ---------------------------------------------------------------------------


def expected_cp_rows(query: str, sf_dir: str) -> list[tuple[str, int]]:
    """(series_id, change_point) rows a given contract query must produce."""
    series = events_series_arrays(sf_dir)
    rows: list[tuple[str, int]] = []
    for sid in series:
        x = series[sid]
        n = x.shape[0]
        if query == "cpd_bocpd_offline":
            cps = offline_cps(x, learn_n=20, rate=RATE_DEFAULT, thr=0.04)
        elif query == "cpd_bocpd_online":
            cps = online_cps(x, _TGauss, 20, RATE_DEFAULT, _ThresholdFire(0.04))
        elif query == "cpd_linear_heuristic":
            det = _LinearWrap(
                lambda: _OnlineBocpd(_THeuristic, 10, 50.0, _ThresholdFire(0.04)),
                500,
                250,
            )
            cps = [c for c in (det.localize(float(v)) for v in x) if c is not None]
        elif query == "cpd_knn":
            cps = windowed_cps(
                x, 48, 24, lambda w: knn_window_cps(w, k=7, thr=4.5, indent=0.25)
            )
        elif query == "cpd_classification":
            cps = windowed_cps(
                x, 48, 24, lambda w: classification_window_cps(w, 7, 0.5, 0.25)
            )
        elif query == "cpd_kliep":
            cps = windowed_cps(x, 100, 33, lambda w: density_window_cps(w, "kliep"))
        elif query == "cpd_rulsif":
            cps = windowed_cps(x, 100, 33, lambda w: density_window_cps(w, "rulsif"))
        else:
            raise ValueError(query)
        rows.extend((sid, int(c)) for c in cps if c < n)
    return rows


def events_multivariate_arrays(sf_dir: str) -> dict[str, np.ndarray]:
    """Per-user (n, 2) observation matrices [value, inter-event gap seconds]
    — the transcription of the cpd_knn_multivariate query's vec column
    (gap = lag over (ts, event_id) order, first row 0.0, ts cast to double
    as µs / 1e6 like Spark's timestamp→double)."""
    import duckdb

    rows = duckdb.connect().execute(
        f"""
        SELECT CAST(user_id AS VARCHAR) AS series_id, epoch_us(ts) AS us, value
        FROM read_parquet('{sf_dir}/events.parquet')
        ORDER BY user_id, ts, event_id
        """
    ).fetchall()
    grouped: dict[str, list[tuple[int, float]]] = {}
    for sid, us, v in rows:
        grouped.setdefault(sid, []).append((int(us), float(v)))
    out = {}
    for sid, pairs in grouped.items():
        us = np.array([p[0] for p in pairs], dtype=np.int64)
        vals = np.array([p[1] for p in pairs], dtype=np.float64)
        tsd = us.astype(np.float64) / 1e6
        gaps = np.concatenate([[0.0], tsd[1:] - tsd[:-1]])
        out[sid] = np.column_stack([vals, gaps])
    return out


def knn_multivariate_rows(sf_dir: str, k: int, thr: float, indent: float) -> list[tuple[str, int]]:
    """Expected rows for cpd_knn_multivariate: whole-series kNN statistic
    over the 2-D observation matrix, per user."""
    rows: list[tuple[str, int]] = []
    for sid, mat in events_multivariate_arrays(sf_dir).items():
        rows.extend((sid, int(c)) for c in knn_window_cps(mat, k, thr, indent))
    return rows


def expected_count_rows(sf_dir: str) -> list[tuple[str, int]]:
    """(series_id, n_change_points) for cpd_detect_counts (DropDetector 0.3);
    counts include every localization, mirroring detect_counts_lockstep (no
    < n cut)."""
    series = events_series_arrays(sf_dir)
    rows = []
    for sid in series:
        cps = online_cps(series[sid], _TGauss, 20, RATE_DEFAULT, _DropFire(0.3))
        rows.append((sid, len(cps)))
    return rows


def expected_offline_count_rows(sf_dir: str) -> list[tuple[str, int]]:
    """(series_id, n_change_points) for cpd_bocpd_offline_counts — the
    offline detector's COUNT trajectory (no rewind), one row per series,
    zero counts included. Params chosen so the sf0.01 gate is non-vacuous:
    (learn_n=10, rate=50, thr=0.04) fires on 47/150 series (measured);
    the defaults fired on only 2."""
    series = events_series_arrays(sf_dir)
    return [
        (sid, offline_count(series[sid], learn_n=10, rate=50.0, thr=0.04))
        for sid in series
    ]
