"""Output checks. Each returns a list of problems; an empty list means the
outputs are correct. ``perturb`` damages one output before checking, so the
benchmark's own tests can show that a wrong output fails the check."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from workloads import DETECTOR, QUERY_MIX

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
RETENTION_DAYS = {"1h": 90}
SAMPLE_SERIES = 8


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def sequential_detector():
    """The sequential stack the lockstep kernel must match bit for bit."""
    from pysatl_cpd_spark.detectors import (
        ArgmaxLocalizer,
        BayesianLinearHeuristic,
        BayesianOnlineDetector,
        ConstantHazard,
        HeuristicGaussianVsExponential,
        ThresholdDetector,
    )

    inner = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(DETECTOR["rate"]),
        HeuristicGaussianVsExponential(),
        DETECTOR["learning_sample_size"],
        ThresholdDetector(DETECTOR["threshold"]),
        ArgmaxLocalizer(),
    )
    return BayesianLinearHeuristic(inner, DETECTOR["start_after"], DETECTOR["prep"])


def check_rollup(
    spark, input_dir: str, out_dir: str, seed: int, perturb: str | None = None
) -> tuple[list[str], int]:
    """Returns (problems, raw points). Checks one job's committed outputs:
    change points of a seeded sample of series against the sequential
    detector, every Gorilla blob against the series points, and point
    conservation series -> segments -> 1m -> 1h -> 1d with the retention
    horizons."""
    from pysatl_cpd_spark.operators.gorilla import decode_batch
    from pysatl_cpd_spark.operators.series import turn_rate_series

    problems: list[str] = []
    raw = spark.read.parquet(os.path.join(input_dir, "transcripts")).select(
        "conv_id", "turn_idx", "ts"
    )
    raw_points = raw.count()
    series = turn_rate_series(raw).toPandas().sort_values(["series_id", "t"])
    segs = _read(os.path.join(out_dir, "segments")).sort_values(["series_id", "segment_id"])
    tiers = {t: _read(os.path.join(out_dir, f"tier_{t}")) for t in ("1m", "1h", "1d")}
    if perturb == "tier_row":
        tiers["1d"] = tiers["1d"].iloc[1:]
    elif perturb == "change_point":
        later = segs.index[segs["segment_id"] > segs.groupby("series_id")["segment_id"].transform("min")]
        segs.loc[later[0], "t_min"] += 1

    by_series = {
        sid: (g["t"].to_numpy(np.int64), g["value"].to_numpy(np.float64))
        for sid, g in series.groupby("series_id", sort=True)
    }
    if int(segs["n_points"].sum()) != len(series):
        problems.append(f"segments hold {int(segs['n_points'].sum())} points, series {len(series)}")

    # every blob decodes to exactly its slice of the series
    decoded = decode_batch(list(segs["blob"]))
    bad_blobs = 0
    for (ts, vals), sid, lo, hi in zip(decoded, segs["series_id"], segs["t_min"], segs["t_max"]):
        t, v = by_series.get(sid, (np.empty(0, np.int64), np.empty(0)))
        m = (t >= lo) & (t <= hi)
        if not (np.array_equal(ts, t[m]) and np.array_equal(vals.view(np.int64), v[m].view(np.int64))):
            bad_blobs += 1
    if bad_blobs:
        problems.append(f"{bad_blobs} of {len(segs)} blobs differ from the series")

    # change points of a seeded sample
    ids = sorted(by_series)
    rng = np.random.default_rng([seed, 11])
    sample = set(rng.choice(ids, size=min(SAMPLE_SERIES, len(ids)), replace=False).tolist())
    starts = segs.groupby("series_id")["t_min"].apply(lambda s: sorted(s.tolist())[1:])
    det = sequential_detector()
    for sid in sorted(sample):
        t, v = by_series[sid]
        want = [int(t[c]) for c in det.process_series(v) if 0 < c < len(t)]
        got = [int(x) for x in starts.get(sid, [])]
        if sorted(set(want)) != got:
            problems.append(f"{sid}: change points {got[:5]} != sequential {want[:5]}")

    # point conservation and retention horizons
    m1, h1, d1 = tiers["1m"], tiers["1h"], tiers["1d"]
    if int(m1["n_points"].sum()) != raw_points:
        problems.append(f"1m tier holds {int(m1['n_points'].sum())} points, input {raw_points}")
    if int(d1["n_points"].sum()) != raw_points:
        problems.append(f"1d tier holds {int(d1['n_points'].sum())} points, input {raw_points}")
    for name, tier, trunc in (("1h", h1, "h"), ("1d", d1, "D")):
        want = m1.assign(bucket=m1["bucket"].dt.floor(trunc)).groupby(["conv_id", "bucket"])["n_points"].sum()
        days = RETENTION_DAYS.get(name)
        if days is not None:
            horizon = want.index.get_level_values("bucket").max().floor("D") - pd.Timedelta(days=days)
            want = want[want.index.get_level_values("bucket") >= horizon]
            if len(tier) and tier["bucket"].min() < horizon:
                problems.append(f"{name} tier keeps buckets before the {days}-day horizon")
        got = tier.set_index(["conv_id", "bucket"])["n_points"].sort_index()
        if not got.equals(want.sort_index().astype(got.dtype)):
            problems.append(f"{name} tier rows disagree with the 1m tier ({len(got)} vs {len(want)} rows)")
    return problems, raw_points


# -- query mix -------------------------------------------------------------------


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, engine-neutral form: sorted columns and rows, ints
    as int64, floats rounded to 9 places, timestamps at microseconds."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif kind == "O":
            df[c] = df[c].astype(str)
        elif kind == "f":
            df[c] = df[c].round(9)
        elif kind in "iub":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    a, b = normalize(a), normalize(b)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            x, y = x.astype(float), y.astype(float)
            if not np.all((np.abs(x - y) < 1e-9) | (np.isnan(x) & np.isnan(y))):
                return False
        elif not np.array_equal(x, y):
            return False
    return True


def digest(df: pd.DataFrame) -> str:
    return hashlib.sha256(normalize(df).to_csv(index=False).encode()).hexdigest()


def recorded_digests() -> dict[str, str]:
    with open(DIGESTS) as f:
        return json.load(f)


def oracle_frame(name: str, input_dir: str, con) -> pd.DataFrame | None:
    """The query's DuckDB twin over the same parquet, or the sequential
    transcription for the two BOCPD queries; None for digest-checked ones."""
    import __spark_entry__ as entry
    from pysatl_cpd_spark.oracle.transcriptions import expected_cp_rows

    if name in ("cpd_bocpd_offline", "cpd_linear_heuristic"):
        return pd.DataFrame(expected_cp_rows(name, input_dir), columns=["series_id", "change_point"])
    sql = entry._oracle_sql_static().get(name)
    return None if sql is None else con.execute(sql).df()


def check_query_mix(spark, input_dir: str, queries, perturb: str | None = None) -> tuple[list[str], dict[str, pd.DataFrame]]:
    """Runs each mix query once more, collected, and compares it with its
    oracle. The flagship synthesizes a fixed input, so its output is compared
    with a recorded digest (its DuckDB twin takes ~15 s; the benchmark's
    tests re-derive the digest from that twin)."""
    import duckdb

    from inputs import QUERY_TABLES

    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    digests = recorded_digests()
    problems: list[str] = []
    outputs: dict[str, pd.DataFrame] = {}
    for name in QUERY_MIX:
        got = queries[name](spark, input_dir).toPandas()
        if perturb == "query_row" and name == QUERY_MIX[0]:
            got = got.iloc[1:]
        outputs[name] = got
        want = oracle_frame(name, input_dir, con)
        if want is None:
            ok = digest(got) == digests.get(name)
        else:
            ok = frames_equal(got, want)
        if not ok:
            problems.append(f"{name}: output differs from its oracle")
    con.close()
    return problems, outputs
