"""CPD-adaptive segmentation + Gorilla materialization.

Segments are the half-open stretches between detected change points. The
segment id assignment is relational (marker join + running sum, no UDF);
the codec runs on the co-located per-series runner
(``operators/colocated.py::map_series``), emitting one compressed blob +
summary row per segment. decode_segments reverses the codec for
verification, proving the per-row invariant decode(encode(s)) == s.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

from pysatl_cpd_spark.operators.colocated import map_series
from pysatl_cpd_spark.operators.gorilla import encode_segment

_SUMMARY_COLS = (
    "segment_id", "n_points", "t_min", "t_max",
    "min_value", "max_value", "first_value", "last_value",
)
_SUMMARY_SCHEMA = (
    "segment_id long, n_points long, t_min long, t_max long, "
    "min_value double, max_value double, first_value double, last_value double"
)
# after the series_id key, which keeps the input's type
_SEGMENT_SCHEMA = f"{_SUMMARY_SCHEMA}, blob binary"


def _markers(cps_df: DataFrame) -> DataFrame:
    """(series_id, t, _cp=1) once per distinct change point."""
    return cps_df.select(
        "series_id", F.col("change_point").alias("t"), F.lit(1).alias("_cp")
    ).distinct()


def assign_segments(series_df: DataFrame, cps_df: DataFrame) -> DataFrame:
    """series (series_id, t, value) × change points (series_id, change_point)
    → + segment_id: number of change points at or before t."""
    joined = series_df.join(_markers(cps_df), on=["series_id", "t"], how="left")
    run = W.partitionBy("series_id").orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    return joined.withColumn(
        "segment_id", F.coalesce(F.sum("_cp").over(run), F.lit(0)).cast("long")
    ).drop("_cp")


def _summarize(out: dict, segment_id: int, ts: np.ndarray, values: np.ndarray) -> None:
    """Append one segment's summary row to the column lists in ``out``."""
    for col, v in zip(_SUMMARY_COLS, (
        segment_id, int(ts.shape[0]), int(ts[0]), int(ts[-1]),
        float(np.min(values)), float(np.max(values)),
        float(values[0]), float(values[-1]),
    )):
        out[col].append(v)


def _runs(labels: np.ndarray) -> "tuple[np.ndarray, np.ndarray]":
    """[lo, hi) bounds of the runs of equal values in ``labels``."""
    bounds = np.flatnonzero(labels[1:] != labels[:-1]) + 1
    return (
        np.concatenate([[0], bounds]),
        np.concatenate([bounds, [labels.shape[0]]]),
    )


def encode_segments_colocated(
    series_df: DataFrame, cps_df: DataFrame, flush_points: int = 4_000_000
) -> DataFrame:
    """(series_id, t, value) x change points (series_id, change_point) ->
    one Gorilla blob + summary row per segment: (series_id, segment_id,
    n_points, t_min, t_max, min/max/first/last value, blob). The key keeps
    the input's type, so a dense ``long`` code passes through.

    The change-point markers arrive by broadcast join (no shuffle; the
    streamed side of a BroadcastHashJoin keeps its partitioning) and each
    series is split at its markers on the runner: segment_id = the running
    count of markers at or before t, so a marker on a series' first row
    labels it segment 1. ``t`` doubles as the int64 timestamp stream. Every
    segment is independent, so peak memory is one flush of series plus
    its output rows."""
    joined = series_df.select("series_id", "t", "value").join(
        F.broadcast(_markers(cps_df)), on=["series_id", "t"], how="left"
    )

    def emit(batch):
        counts = []
        out = {k: [] for k in (*_SUMMARY_COLS, "blob")}
        for _, a in batch:
            ts, values = a["t"], a["value"].astype(np.float64, copy=False)
            cum = np.cumsum(a["_cp"], dtype=np.int64)
            los, his = _runs(cum)
            for lo, hi in zip(los, his):
                _summarize(out, int(cum[lo]), ts[lo:hi], values[lo:hi])
                out["blob"].append(encode_segment(ts[lo:hi], values[lo:hi]))
            counts.append(len(los))
        return counts, out

    return map_series(
        joined, ["series_id"], ["t", "value", "_cp"], emit,
        _SEGMENT_SCHEMA, flush_points,
    )


def roundtrip_summaries(segmented: DataFrame) -> DataFrame:
    """Fused encode -> decode -> per-segment summary for codec-verification
    queries (gorilla_roundtrip): each segment is Gorilla-encoded and the BLOB
    is immediately decoded back, with the summary computed from the DECODED
    arrays — the same encode_segment/decode_segment calls the two-stage
    operator chain makes, minus the Arrow round-trip of every raw point back
    to the JVM between the stages. Input (series_id, t, value, segment_id)
    with segment ids non-decreasing in t (as ``assign_segments`` makes
    them); output one row per segment (series_id, segment_id, n_points,
    t_min, t_max, min/max/first/last of the decoded values). Callers
    combine per series with sum/min/max + struct-extreme semantics."""
    from pysatl_cpd_spark.operators.gorilla import decode_batch

    def emit(batch):
        segs, blobs, counts = [], [], []
        for _, a in batch:
            los, his = _runs(a["segment_id"])
            segs += [int(a["segment_id"][lo]) for lo in los]
            values = a["value"].astype(np.float64, copy=False)
            blobs += [encode_segment(a["t"][lo:hi], values[lo:hi]) for lo, hi in zip(los, his)]
            counts.append(len(los))
        # ONE vectorized decode_batch pass: per-blob decode_segment costs
        # ~2.8 ms of anchor setup while decode_batch amortizes it to
        # ~0.05 ms/blob (measured)
        out = {k: [] for k in _SUMMARY_COLS}
        for seg, (dts, dvals) in zip(segs, decode_batch(blobs)):
            _summarize(out, seg, dts, dvals)
        return counts, out

    return map_series(
        segmented, ["series_id"], ["t", "value", "segment_id"], emit,
        _SUMMARY_SCHEMA,
    )


def compact_segments(encoded: DataFrame, min_points: int = 4096) -> DataFrame:
    """Blob maintenance (the Gorilla paper's block-merge): adjacent segments
    of a series whose point counts fall below ``min_points`` are decoded,
    concatenated in time order, and re-encoded as one blob, greedily until
    each output segment reaches the floor (the final segment of a series may
    stay smaller). Output schema == encode_segments_colocated's, with
    ``segment_id`` renumbered densely; summaries are recomputed from the merged points, so
    compact(decode) == decode — the roundtrip invariant is preserved and
    pytest-asserted. Each series' blobs, ordered by ``t_min``, are one
    series of the runner; decode/encode are the vectorized batch kernels,
    so compaction cost is O(points) numpy, not per-point Python."""
    from pysatl_cpd_spark.operators.gorilla import decode_batch

    def emit(batch):
        counts = []
        out = {k: [] for k in (*_SUMMARY_COLS, "blob")}
        for _, a in batch:
            n_before = len(out["blob"])
            acc: list = []

            def flush() -> None:
                if not acc:
                    return
                ts = np.concatenate([t for t, _ in acc])
                vals = np.concatenate([v for _, v in acc])
                _summarize(out, len(out["blob"]) - n_before, ts, vals)
                out["blob"].append(encode_segment(ts, vals))
                acc.clear()

            n_acc = 0
            for ts, vals in decode_batch([bytes(b) for b in a["blob"]]):
                acc.append((ts, vals))
                n_acc += len(ts)
                if n_acc >= min_points:
                    flush()
                    n_acc = 0
            flush()
            counts.append(len(out["blob"]) - n_before)
        return counts, out

    return map_series(
        encoded.select("series_id", F.col("t_min").alias("t"), "blob"),
        ["series_id"], ["t", "blob"], emit, _SEGMENT_SCHEMA,
    )


def decode_segments(encoded: DataFrame) -> DataFrame:
    """Inverse: explode blobs back to (series_id, segment_id, t, value)."""

    def run(batches):
        from pysatl_cpd_spark.operators.gorilla import decode_batch

        for pdf in batches:
            decoded = decode_batch([bytes(b) for b in pdf["blob"]])
            counts = np.array([ts.shape[0] for ts, _ in decoded], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "series_id": pd.Series(
                        np.repeat(pdf["series_id"].to_numpy(), counts), dtype=str
                    ),
                    "segment_id": pd.Series(
                        np.repeat(pdf["segment_id"].to_numpy(), counts), dtype="int64"
                    ),
                    "t": pd.Series(
                        np.concatenate([ts for ts, _ in decoded] or [np.empty(0, np.int64)]),
                        dtype="int64",
                    ),
                    "value": pd.Series(
                        np.concatenate([v for _, v in decoded] or [np.empty(0)]),
                        dtype="float64",
                    ),
                }
            )

    return encoded.select("series_id", "segment_id", "blob").mapInPandas(
        run, "series_id string, segment_id long, t long, value double"
    )
