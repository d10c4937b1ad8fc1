"""encode_segments_colocated's two sources of cut positions: the fused
pass (detection runs inside the encode pass, on the series the change
points were detected on) and the broadcast-marker join (every other
change-point DataFrame). Both must emit the rows of the local
split-and-encode reference, byte for byte; these tests also pin which path
a caller gets. decode_segments must hand back the encoded key type."""

from types import SimpleNamespace

import numpy as np
import pytest
from _reference import encode_ref
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
from pysatl_cpd_spark.operators.segments import (
    decode_segments,
    encode_segments_colocated,
)

N_PTS = 40


def _scripted():
    """Kernel factory whose fires are scripted by each series' first value
    (the case id), covering the cut edge cases."""

    def fires(v):
        n = v.shape[0]
        return {
            0: [],                    # no change points
            1: [0],                   # a fire on the first row
            2: [10, 11, 12],          # adjacent fires
            3: [5, n, n + 3],         # localized past the last observation
            4: [7, 7, 20, 20, 7],     # duplicate fires, unsorted
            5: [n - 1],               # a fire on the last row
        }[int(v[0])]

    return lambda: SimpleNamespace(process_many=lambda vs: [fires(v) for v in vs])


def _series(spark, key_type):
    rng = np.random.default_rng(23)
    rows = []
    for s in range(12):
        ts = np.cumsum(rng.integers(1, 9, N_PTS))
        vals = rng.normal(size=N_PTS)
        vals[0] = s % 6
        sid = s * 1000 + 7 if key_type == "long" else f"s{s:02d}"
        rows += [(sid, int(t), float(v)) for t, v in zip(ts, vals)]
    return spark.createDataFrame(
        rows, f"series_id {key_type}, t long, value double"
    ).repartition(3, "series_id")


def _rows(df):
    return sorted(tuple(bytes(x) if isinstance(x, (bytes, bytearray)) else x for x in r)
                  for r in df.collect())


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("key_type", ["string", "long"])
def test_fused_marker_and_reference_agree(spark, key_type):
    """Fused (many Arrow batches and kernel flushes per partition), marker
    (cached change points) and the local reference emit the same rows."""
    series = _series(spark, key_type)
    fac = _scripted()
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf_key)
    try:
        spark.conf.set(conf_key, "13")
        fused = encode_segments_colocated(
            series, detect_lockstep_colocated(series, fac), flush_points=50
        )
        assert "BroadcastExchange" not in _plan(fused)
        fused_rows = _rows(fused)
    finally:
        spark.conf.set(conf_key, old)
    cps = detect_lockstep_colocated(series, fac).cache()
    try:
        marker = encode_segments_colocated(series, cps)
        assert "BroadcastExchange" in _plan(marker)
        assert fused_rows == _rows(marker)
        ref = encode_ref(series, cps)
    finally:
        cps.unpersist()
    cols = (0, 1, 2, 3, 4, 7, 8, 9)  # encode_ref's columns, blob last
    assert {tuple(r[i] for i in cols) for r in fused_rows} == ref
    # segments per case 0..5: 1, 1, 4, 2, 3, 2; each case twice
    assert len(fused_rows) == 2 * 13


def test_path_selection(spark):
    """The fused path runs only for the untouched, uncached result of
    detect_lockstep_colocated on the very series DataFrame being encoded;
    its plan has no broadcast, no marker aggregate and no shuffle beyond
    the series' own."""
    series = _series(spark, "string")
    fac = _scripted()

    fused = _plan(encode_segments_colocated(series, detect_lockstep_colocated(series, fac)))
    shuffles = _plan(series).count("Exchange hashpartitioning")
    assert "BroadcastExchange" not in fused
    assert "HashAggregate" not in fused
    assert fused.count("MapInArrow") == 1
    assert fused.count("Exchange hashpartitioning") == shuffles

    # detection on another DataFrame: a broadcast left-semi join
    alarmed = series.filter(F.col("series_id") != "s00").select("series_id")
    gated = series.join(F.broadcast(alarmed), "series_id", "left_semi")
    cached = detect_lockstep_colocated(series, fac).cache()
    try:
        for cps in (
            detect_lockstep_colocated(gated, fac),
            detect_lockstep_colocated(series, fac).filter(F.col("change_point") >= 0),
            cached,
        ):
            plan = _plan(encode_segments_colocated(series, cps))
            assert "BroadcastExchange" in plan
            assert "HashAggregate" in plan
    finally:
        cached.unpersist()


def test_decode_segments_keeps_long_key(spark):
    """decode(encode(s)) == s with a long key, and the key stays long."""
    series = _series(spark, "long")
    enc = encode_segments_colocated(series, detect_lockstep_colocated(series, _scripted()))
    dec = decode_segments(enc)
    assert isinstance(dec.schema["series_id"].dataType, LongType)
    got = sorted(tuple(r) for r in dec.select("series_id", "t", "value").collect())
    assert got == sorted(tuple(r) for r in series.collect())
    assert all(isinstance(r[0], int) for r in got)
