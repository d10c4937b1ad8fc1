"""Local references for the distributed per-series operators: collect
every series, then run the kernel in a plain Python loop, one fresh
detector per series. Parity tests compare the Spark operators against
these."""

from __future__ import annotations

import numpy as np

from pysatl_cpd_spark.operators.gorilla import encode_segment


def collect_series(df, value_col: str = "value") -> dict:
    """{series_id: (t, values)}, each ordered by t."""
    by_id: dict = {}
    for sid, t, v in df.select("series_id", "t", value_col).collect():
        by_id.setdefault(sid, []).append((t, v))
    out = {}
    for sid, pts in by_id.items():
        pts.sort(key=lambda p: p[0])
        out[sid] = (
            np.array([t for t, _ in pts], dtype=np.int64),
            np.array([v for _, v in pts], dtype=np.float64),
        )
    return out


def run_kernel(detector, values: np.ndarray) -> "list[int]":
    """One series through any kernel contract."""
    if hasattr(detector, "process_many"):
        return detector.process_many([values])[0]
    if hasattr(detector, "process_series"):
        return detector.process_series(values)
    return detector.localize(values)


def detect_ref(df, factory) -> set:
    """{(series_id, change_point)}; a fire localized past the last
    observation has no ``t`` and is dropped, as in the operator."""
    return {
        (sid, int(t[c]))
        for sid, (t, v) in collect_series(df).items()
        for c in run_kernel(factory(), v)
        if c < t.shape[0]
    }


def counts_ref(df, factory) -> set:
    """{(series_id, raw fire count)}, zero counts included."""
    return {
        (sid, len(run_kernel(factory(), v)))
        for sid, (_, v) in collect_series(df).items()
    }


def encode_ref(series_df, cps_df) -> set:
    """{(series_id, segment_id, n_points, t_min, t_max, first_value,
    last_value, blob)}: each series split where a change point lands, the
    segment id being the count of change points at or before t."""
    cps: dict = {}
    for sid, cp in cps_df.select("series_id", "change_point").collect():
        cps.setdefault(sid, set()).add(cp)
    rows = set()
    for sid, (t, v) in collect_series(series_df).items():
        seg = np.cumsum(np.isin(t, sorted(cps.get(sid, ()))))
        for s in np.unique(seg):
            m = seg == s
            ts, vs = t[m], v[m]
            rows.add((
                sid, int(s), int(ts.shape[0]), int(ts[0]), int(ts[-1]),
                float(vs[0]), float(vs[-1]), encode_segment(ts, vs),
            ))
    return rows
