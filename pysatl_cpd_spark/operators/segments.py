"""CPD-adaptive segmentation + Gorilla materialization.

Segments are the half-open stretches between detected change points:
segment_id is the running count of change points at or before ``t``.
``assign_segments`` computes it relationally (marker join + running sum);
the codec runs on the co-located per-series runner
(``operators/colocated.py::map_series``) and emits one compressed blob +
summary row per segment. ``encode_segments_colocated`` takes its cut
positions from one of two places:

  - fused: when ``cps_df`` is the untouched, uncached result of
    ``detect_lockstep_colocated(series_df, factory)`` on the same
    ``series_df`` object (``cpd.detection_of``), detection runs inside the
    encode pass: one ``map_series`` pass per series calls
    ``factory().process_many`` on each flush and cuts at the kernel's local
    indices. No marker shuffle, broadcast or second Python pass.
  - markers: for any other change points (detected on another DataFrame,
    such as a filtered subset; supplied by the caller; derived; cached) the
    distinct (series_id, t) markers are broadcast-joined onto the series.

Both feed one split -> summarize -> encode helper and emit the same bytes.
A detector factory must be deterministic: Spark may recompute detection
anyway, and the fused path runs it again when the change points are also
consumed elsewhere. Each flush's segments are summarized with vectorized
reductions and encoded with one ``gorilla.encode_batch`` call.
decode_segments reverses the codec for verification, proving the per-row
invariant decode(encode(s)) == s.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from pysatl_cpd_spark.operators.colocated import map_series
from pysatl_cpd_spark.operators.cpd import _values as kernel_input, detection_of
from pysatl_cpd_spark.operators.gorilla import decode_batch, encode_batch

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


def _summaries(
    seg_ids: np.ndarray, ts: np.ndarray, values: np.ndarray,
    starts: np.ndarray, ends: np.ndarray,
) -> dict:
    """Summary columns of the segments ``[starts[i], ends[i])`` that tile
    the concatenated ``ts``/``values``, one vectorized reduction each.

    A nonzero, non-NaN extreme has one bit pattern, so the reduceat result
    equals ``np.min``/``np.max`` bit for bit. A zero or NaN extreme does
    not (±0.0 compare equal, NaNs carry payloads, and which one np.min
    returns depends on its SIMD lanes), so those segments take np.min /
    np.max itself, the rule of encoding each segment on its own."""
    mins = np.minimum.reduceat(values, starts)
    maxs = np.maximum.reduceat(values, starts)
    for ext, fn in ((mins, np.min), (maxs, np.max)):
        for i in np.flatnonzero((ext == 0) | np.isnan(ext)):
            ext[i] = fn(values[starts[i]:ends[i]])
    return {
        "segment_id": seg_ids, "n_points": ends - starts,
        "t_min": ts[starts], "t_max": ts[ends - 1],
        "min_value": mins, "max_value": maxs,
        "first_value": values[starts], "last_value": values[ends - 1],
    }


def _encoded(
    seg_ids: np.ndarray, ts: np.ndarray, values: np.ndarray,
    starts: np.ndarray, ends: np.ndarray,
) -> dict:
    """``_summaries`` + one Gorilla blob per segment, all blobs of the call
    encoded by one ``encode_batch``."""
    out = _summaries(seg_ids, ts, values, starts, ends)
    out["blob"] = encode_batch(_pieces(ts, values, starts, ends))
    return out


def _pieces(ts, values, starts, ends) -> list:
    """The (ts, values) views of every segment."""
    return [(ts[lo:hi], values[lo:hi]) for lo, hi in zip(starts.tolist(), ends.tolist())]


def _split(batch, labels: "list[np.ndarray]"):
    """Cut the series of a ``map_series`` batch into segments: one starts
    at every series head and wherever the series' non-decreasing label
    changes. Returns (segments per series, segment ids, ts, values,
    starts, ends) over the batch's concatenated arrays."""
    sizes = [a["t"].shape[0] for _, a in batch]
    ts = np.concatenate([a["t"] for _, a in batch])
    values = np.concatenate([a["value"] for _, a in batch]).astype(np.float64, copy=False)
    seg = np.concatenate(labels).astype(np.int64, copy=False)
    heads = np.concatenate([[0], np.cumsum(sizes)[:-1]]).astype(np.int64)
    new = np.ones(ts.shape[0], dtype=bool)
    new[1:] = seg[1:] != seg[:-1]
    new[heads] = True
    starts = np.flatnonzero(new)
    ends = np.append(starts[1:], ts.shape[0])
    counts = np.add.reduceat(new.astype(np.int64), heads)
    return counts, seg[starts], ts, values, starts, ends


def _cut_labels(n: int, fires) -> np.ndarray:
    """Segment ids of an ``n``-point series cut at the kernel's local
    indices: the running count of cuts at or before each row. Indices past
    the last observation are dropped; duplicates cut once."""
    cut = np.zeros(n, dtype=np.int64)
    fires = np.asarray(fires, dtype=np.int64)
    cut[fires[fires < n]] = 1
    return np.cumsum(cut)


def encode_segments_colocated(
    series_df: DataFrame, cps_df: DataFrame, flush_points: int = 4_000_000
) -> DataFrame:
    """(series_id, t, value) x change points (series_id, change_point) ->
    one Gorilla blob + summary row per segment: (series_id, segment_id,
    n_points, t_min, t_max, min/max/first/last value, blob). The key keeps
    the input's type, so a dense ``long`` code passes through.

    Each series is split where a change point lands: segment_id = the
    running count of change points at or before t (``t`` is unique within
    a series), so a change point on a series' first row labels it
    segment 1. ``t`` doubles as the int64 timestamp stream. Every segment
    is independent, so peak memory is one flush of series plus its output
    rows. The cut positions come from one of two places:

      - fused: ``cps_df`` is the untouched result of
        ``detect_lockstep_colocated(series_df, factory)`` on this very
        ``series_df`` object, and not cached. Then one ``map_series`` pass
        runs ``factory().process_many`` on each flush and cuts at the
        kernel's local indices; detection is not materialized and no
        marker join runs.
      - markers: any other ``cps_df`` (change points detected on another
        DataFrame, supplied by the caller, or cached). The distinct
        change points arrive by broadcast join (no shuffle; the streamed
        side of a BroadcastHashJoin keeps its partitioning) as a ``_cp``
        flag column.

    Both paths emit the same rows. The detector factory must be
    deterministic: Spark may recompute a detection anyway, and the fused
    path runs detection again when the change points are also used
    elsewhere."""
    source = detection_of(cps_df)
    if source is not None and source[0] is series_df and not cps_df.is_cached:
        factory = source[1]

        def fused(batch):
            values = kernel_input(batch)  # exactly what detection feeds it
            fires = factory().process_many(values)
            counts, *rows = _split(
                batch, [_cut_labels(v.shape[0], f) for v, f in zip(values, fires)]
            )
            return counts, _encoded(*rows)

        return map_series(
            series_df, ["series_id"], ["t", "value"], fused,
            _SEGMENT_SCHEMA, flush_points,
        )

    joined = series_df.select("series_id", "t", "value").join(
        F.broadcast(_markers(cps_df)), on=["series_id", "t"], how="left"
    )

    def marked(batch):
        counts, *rows = _split(
            batch, [np.cumsum(a["_cp"], dtype=np.int64) for _, a in batch]
        )
        return counts, _encoded(*rows)

    return map_series(
        joined, ["series_id"], ["t", "value", "_cp"], marked,
        _SEGMENT_SCHEMA, flush_points,
    )


def roundtrip_summaries(segmented: DataFrame) -> DataFrame:
    """Fused encode -> decode -> per-segment summary for codec-verification
    queries (gorilla_roundtrip): each segment is Gorilla-encoded and the BLOB
    is immediately decoded back, with the summary computed from the DECODED
    arrays — the same encode_batch/decode_batch calls the two-stage
    operator chain makes, minus the Arrow round-trip of every raw point back
    to the JVM between the stages. Input (series_id, t, value, segment_id)
    with segment ids non-decreasing in t (as ``assign_segments`` makes
    them); output one row per segment (series_id, segment_id, n_points,
    t_min, t_max, min/max/first/last of the decoded values). Callers
    combine per series with sum/min/max + struct-extreme semantics."""

    def emit(batch):
        counts, seg_ids, ts, values, starts, ends = _split(
            batch, [a["segment_id"] for _, a in batch]
        )
        # decoding is lossless, so the decoded segments tile the same
        # [starts, ends) of their concatenation
        decoded = decode_batch(encode_batch(_pieces(ts, values, starts, ends)))
        return counts, _summaries(
            seg_ids,
            np.concatenate([t for t, _ in decoded]),
            np.concatenate([v for _, v in decoded]),
            starts, ends,
        )

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
    def emit(batch):
        counts, seg_ids, sizes, parts = [], [], [], []
        for _, a in batch:
            n_before, n_acc = len(sizes), 0
            for ts, vals in decode_batch([bytes(b) for b in a["blob"]]):
                parts.append((ts, vals))
                n_acc += ts.shape[0]
                if n_acc >= min_points:
                    sizes.append(n_acc)
                    n_acc = 0
            if n_acc:
                sizes.append(n_acc)
            counts.append(len(sizes) - n_before)
            seg_ids += range(counts[-1])
        ends = np.cumsum(sizes, dtype=np.int64)
        return counts, _encoded(
            np.array(seg_ids, dtype=np.int64),
            np.concatenate([t for t, _ in parts]),
            np.concatenate([v for _, v in parts]),
            ends - np.array(sizes, dtype=np.int64), ends,
        )

    return map_series(
        encoded.select("series_id", F.col("t_min").alias("t"), "blob"),
        ["series_id"], ["t", "blob"], emit, _SEGMENT_SCHEMA,
    )


def decode_segments(encoded: DataFrame) -> DataFrame:
    """Inverse: explode blobs back to (series_id, segment_id, t, value).
    The key keeps the encoded key's type."""
    out_schema = StructType([
        StructField("series_id", encoded.schema["series_id"].dataType, True),
        StructField("segment_id", LongType(), True),
        StructField("t", LongType(), True),
        StructField("value", DoubleType(), True),
    ])
    arrow_schema = to_arrow_schema(out_schema)

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            decoded = decode_batch(rb.column("blob").to_pylist())
            owners = pa.array(np.repeat(
                np.arange(rb.num_rows), [ts.shape[0] for ts, _ in decoded]
            ))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("series_id").take(owners).cast(arrow_schema.field(0).type),
                    rb.column("segment_id").take(owners).cast(pa.int64()),
                    pa.array(np.concatenate([np.empty(0, np.int64)] + [t for t, _ in decoded])),
                    pa.array(np.concatenate([np.empty(0)] + [v for _, v in decoded])),
                ],
                schema=arrow_schema,
            )

    return encoded.select("series_id", "segment_id", "blob").mapInArrow(run, out_schema)
