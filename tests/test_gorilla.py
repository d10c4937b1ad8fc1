"""Gorilla codec: lossless round-trip property (hypothesis) + edge cases,
and the batched encoder's bytes pinned to the per-segment encoder's."""

import hashlib

import numpy as np
from _reference import encode_ref
from hypothesis import given, settings
from hypothesis import strategies as st

from pysatl_cpd_spark.operators.gorilla import (
    decode_batch,
    decode_segment,
    encode_batch,
    encode_segment,
)


@st.composite
def segments(draw):
    n = draw(st.integers(min_value=0, max_value=200))
    deltas = draw(
        st.lists(
            st.integers(min_value=1, max_value=10**9), min_size=n, max_size=n
        )
    )
    start = draw(st.integers(min_value=-(10**12), max_value=10**12))
    ts = np.cumsum([start] + deltas[:-1]).astype(np.int64) if n else np.empty(0, np.int64)
    values = draw(
        st.lists(
            st.floats(allow_nan=False, width=64), min_size=n, max_size=n
        )
    )
    return ts, np.asarray(values, dtype=np.float64)


@settings(max_examples=200, deadline=None)
@given(segments())
def test_roundtrip_exact(seg):
    ts, values = seg
    ts2, v2 = decode_segment(encode_segment(ts, values))
    assert np.array_equal(ts, ts2)
    assert np.array_equal(values.view(np.uint64), v2.view(np.uint64))


def test_nan_and_inf_roundtrip():
    ts = np.arange(5, dtype=np.int64)
    values = np.array([np.nan, np.inf, -np.inf, 0.0, -0.0])
    ts2, v2 = decode_segment(encode_segment(ts, values))
    assert np.array_equal(ts, ts2)
    assert np.array_equal(values.view(np.uint64), v2.view(np.uint64))


def test_constant_series_compresses(self=None):
    ts = (1_700_000_000_000_000 + np.arange(1000, dtype=np.int64) * 1_000_000)
    values = np.full(1000, 42.5)
    blob = encode_segment(ts, values)
    # regular cadence + constant value ⇒ ~2 bits/point after the header
    assert len(blob) < 300
    ts2, v2 = decode_segment(blob)
    assert np.array_equal(ts, ts2) and np.array_equal(values, v2)


def _pinned_batch():
    """Seeded segments covering lengths 0, 1, 2 and up to 600 (across the
    512-record anchor), constant runs, NaN, ±inf, ±0.0, subnormals and
    64-bit timestamp deltas."""
    rng = np.random.default_rng(20261017)
    segs = []
    for n in (0, 1, 2, 3, 511, 512, 513, 514, 600):
        ts = np.cumsum(rng.integers(1, 1000, n)).astype(np.int64) - 500
        segs.append((ts, rng.normal(size=n)))
    segs.append((np.arange(300, dtype=np.int64) * 10, np.full(300, 2.5)))
    segs.append((np.arange(50, dtype=np.int64), np.zeros(50)))
    special = np.array(
        [np.nan, np.inf, -np.inf, 0.0, -0.0, 1.0, -0.0, 0.0, np.nan, 5e-324, -1e308]
    )
    segs.append((np.arange(special.shape[0], dtype=np.int64) * 3, special))
    wide = np.array(
        [-(2**62), 0, 2**62, 2**62 + 1, 2**62 + 1000, -5, 7, 7, 2**40], dtype=np.int64
    )
    segs.append((wide, rng.normal(size=wide.shape[0])))
    for _ in range(40):
        n = int(rng.integers(0, 600))
        ts = np.cumsum(rng.integers(1, 5000, n)).astype(np.int64)
        segs.append((ts, np.round(rng.normal(size=n), int(rng.integers(0, 6)))))
    return segs


# SHA-256 over (4-byte length + blob) of every blob of _pinned_batch(), as
# the per-segment encoder wrote them before encode_batch existed
PINNED_SHA256 = "b2db62fe5b53df0d724b9e8cc89c2a7c48d24e9616828c1af38fc0f1bebd7d81"


def test_encode_batch_bytes_pinned(monkeypatch):
    from pysatl_cpd_spark.operators import gorilla

    segs = _pinned_batch()
    blobs = encode_batch(segs)
    assert blobs == [encode_segment(ts, v) for ts, v in segs]
    digest = hashlib.sha256(b"".join(len(b).to_bytes(4, "big") + b for b in blobs))
    assert digest.hexdigest() == PINNED_SHA256
    # the same bytes when the batch is cut into many packing passes
    monkeypatch.setattr(gorilla, "_BATCH_POINTS", 700)
    assert encode_batch(segs) == blobs


@st.composite
def wild_segments(draw):
    """Any int64 timestamps (wrapping deltas) and any float64 bits."""
    n = draw(st.integers(min_value=0, max_value=80))
    ts = draw(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=n, max_size=n))
    bits = draw(st.lists(st.integers(0, 2**64 - 1), min_size=n, max_size=n))
    return (
        np.array(ts, dtype=np.int64),
        np.array(bits, dtype=np.uint64).view(np.float64),
    )


@settings(max_examples=100, deadline=None)
@given(st.lists(st.one_of(segments(), wild_segments()), max_size=8))
def test_batch_roundtrip_exact(segs):
    for (ts, values), (ts2, v2) in zip(segs, decode_batch(encode_batch(segs))):
        assert np.array_equal(ts, ts2)
        assert np.array_equal(values.view(np.uint64), v2.view(np.uint64))


def test_summaries_match_per_segment_reductions():
    """The vectorized summaries equal np.min/np.max/first/last of each
    segment bit for bit, signed zeros and NaN payloads included."""
    from pysatl_cpd_spark.operators.segments import _summaries

    nan_payload = np.array([0x7FF8000000000123], dtype=np.uint64).view(np.float64)[0]
    segs = [
        [0.0, -0.0], [-0.0, 0.0], [1.0, 0.0, -0.0, 3.0],
        [1.0] * 20 + [-0.0] + [0.0] * 20, [-1.0] * 9 + [0.0, -0.0] * 9,
        [1.0, nan_payload, np.nan], [np.nan, 2.0], [np.inf, -np.inf, 5.0],
        [-0.0], [3.5], [2.0, 2.0, -7.25, 9.0, 1e-310],
    ]
    rng = np.random.default_rng(3)
    segs += [list(rng.choice([0.0, -0.0, 1.5, -2.5], size=int(rng.integers(1, 70))))
             for _ in range(60)]
    values = np.concatenate([np.array(s, dtype=np.float64) for s in segs])
    ts = np.arange(values.shape[0], dtype=np.int64) * 7
    ends = np.cumsum([len(s) for s in segs])
    starts = ends - [len(s) for s in segs]
    got = _summaries(np.arange(len(segs)), ts, values, starts, ends)
    bits = lambda x: np.float64(x).view(np.uint64)  # noqa: E731
    for i, (lo, hi) in enumerate(zip(starts, ends)):
        v = values[lo:hi]
        assert got["n_points"][i] == hi - lo
        assert (got["t_min"][i], got["t_max"][i]) == (ts[lo], ts[hi - 1])
        for col, want in (
            ("min_value", np.min(v)), ("max_value", np.max(v)),
            ("first_value", v[0]), ("last_value", v[-1]),
        ):
            assert bits(got[col][i]) == bits(want), (col, i, list(v))


def test_decode_rejects_blob_without_v2_marker():
    """Blobs come from outside input: one that does not start with the v2
    marker (0x47), empty ones included, is refused, not decoded as noise."""
    import pytest

    good = encode_segment(np.array([1, 2], np.int64), np.array([0.5, 1.5]))
    for bad in (b"", b"\x00\x00\x00\x02" + good[5:], b"\x46" + good[1:]):
        with pytest.raises(ValueError, match="0x47"):
            decode_batch([good, bad])
    # the zero-length segment is a 5-byte v2 header, not an empty blob
    empty = encode_segment(np.empty(0, np.int64), np.empty(0))
    assert empty == b"\x47\x00\x00\x00\x00"
    assert [len(t) for t, _ in decode_batch([empty, good])] == [0, 2]


def test_compact_segments_roundtrip(spark):
    """Compaction merges small adjacent blobs without losing a point:
    decode(compact(encoded)) == decode(encoded) == the original series,
    segment count drops, and summaries match the merged points."""
    from pyspark.sql import functions as F

    from pysatl_cpd_spark.operators.segments import (
        compact_segments,
        decode_segments,
        encode_segments_colocated,
    )

    rng = np.random.default_rng(11)
    rows = []
    for s in range(4):
        ts = np.cumsum(rng.integers(1, 9, 500))
        vals = rng.normal(size=500)
        rows += [(f"s{s}", int(t), float(v)) for t, v in zip(ts, vals)]
    series = spark.createDataFrame(rows, "series_id string, t long, value double")
    # many tiny segments: a change point every ~50 points
    cps = series.filter(F.col("t") % 50 == 3).select(
        "series_id", F.col("t").alias("change_point")
    )
    encoded = encode_segments_colocated(series, cps).cache()
    compacted = compact_segments(encoded, min_points=200).cache()

    n_before = encoded.count()
    n_after = compacted.count()
    assert n_after < n_before
    assert compacted.filter(F.col("n_points") < 200).groupBy("series_id").count().count() <= 4  # only tails

    orig = decode_segments(encoded).select("series_id", "t", "value")
    comp = decode_segments(compacted).select("series_id", "t", "value")
    assert orig.exceptAll(comp).count() == 0 and comp.exceptAll(orig).count() == 0
    # summaries consistent with their own blobs
    chk = compacted.select(
        "series_id", "n_points",
        (F.col("t_max") >= F.col("t_min")).alias("ord_ok"),
    ).toPandas()
    assert chk["ord_ok"].all()
    assert int(compacted.agg(F.sum("n_points")).collect()[0][0]) == len(rows)


def test_encode_colocated_matches_adaptive(spark):
    """encode_segments_colocated over explicitly repartitioned series must
    emit byte-identical rows (blob included) to a local split-and-encode
    loop, and add no exchange on the series side beyond the
    caller's repartition."""
    from pyspark.sql import functions as F

    from pysatl_cpd_spark.operators.segments import encode_segments_colocated

    rng = np.random.default_rng(5)
    rows = []
    for s in range(7):
        ts = np.cumsum(rng.integers(1, 9, 300))
        vals = rng.normal(size=300)
        rows += [(f"s{s}", int(t), float(v)) for t, v in zip(ts, vals)]
    series = spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(4, "series_id")
    cps = series.filter(F.col("t") % 70 == 3).select(
        "series_id", F.col("t").alias("change_point")
    )

    def key(df):
        return {
            (
                r["series_id"], r["segment_id"], r["n_points"], r["t_min"],
                r["t_max"], r["first_value"], r["last_value"], bytes(r["blob"]),
            )
            for r in df.collect()
        }

    col = encode_segments_colocated(series, cps)
    plan = col._jdf.queryExecution().executedPlan().toString()
    base = series._jdf.queryExecution().executedPlan().toString()
    # markers side aggregates (distinct on the tiny cps set) but the SERIES
    # side gains no exchange: count only grows by the marker-side distinct
    assert plan.count("Exchange hashpartitioning") <= base.count(
        "Exchange hashpartitioning"
    ) + 2, plan[:800]
    assert key(col) == encode_ref(series, cps)


def test_encode_colocated_edge_shapes(spark):
    """Edge parity vs the local encode loop: no change points at all;
    a marker on a series' first row; back-to-back markers (single-point
    segments); more partitions than series (some partitions empty)."""
    from pyspark.sql import functions as F

    from pysatl_cpd_spark.operators.segments import encode_segments_colocated

    rows = []
    for s, ts_list in (
        ("a", [1, 2, 3, 4, 5, 6]),
        ("b", [10, 20, 30]),
        ("c", [7]),
    ):
        rows += [(s, t, float(t) * 0.5) for t in ts_list]
    series = spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(8, "series_id")  # > n_series: some partitions empty

    def key(df):
        return {
            (r["series_id"], r["segment_id"], r["n_points"], r["t_min"],
             r["t_max"], bytes(r["blob"]))
            for r in df.collect()
        }

    cases = [
        [],                                  # no markers
        [("a", 1)],                          # marker on first row of a
        [("a", 3), ("a", 4), ("b", 30)],     # adjacent markers + last row
    ]
    for markers in cases:
        cps = spark.createDataFrame(
            markers or [("zzz", -1)], "series_id string, change_point long"
        )
        if not markers:
            cps = cps.filter(F.col("change_point") > 0)  # truly empty
        got = key(encode_segments_colocated(series, cps))
        want = {r[:5] + r[7:] for r in encode_ref(series, cps)}
        assert got == want, (markers, got ^ want)
