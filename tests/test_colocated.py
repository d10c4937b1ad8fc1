"""Streaming colocated runner (operators/colocated.py): the co-location
decision, and parity of the sorted-batch-stream paths under adversarial
batch/flush sizes (series spanning many Arrow batches; many kernel flushes
per partition)."""

import numpy as np
from _reference import detect_ref, encode_ref
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


def _series_df(spark, n_series=6, n_pts=120, parts=4):
    rng = np.random.default_rng(11)
    rows = []
    for s in range(n_series):
        ts = np.cumsum(rng.integers(1, 5, n_pts))
        vals = np.concatenate(
            [rng.normal(0, 1, n_pts // 2), rng.normal(4, 1, n_pts - n_pts // 2)]
        )
        rows += [(f"s{s}", int(t), float(v)) for t, v in zip(ts, vals)]
    return spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(parts, "series_id")


def test_detect_colocated_multi_batch_multi_flush_parity(spark):
    """Force every series across many Arrow batches (tiny
    maxRecordsPerBatch) and many kernel flushes per partition (tiny
    flush_points): output must equal the local kernel loop exactly."""
    from pysatl_cpd_spark.detectors import LockstepCusum
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated

    series = _series_df(spark)
    fac = lambda: LockstepCusum(k=0.05, h=2.0)  # noqa: E731
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "17")
        got = {
            (r.series_id, r.change_point)
            for r in detect_lockstep_colocated(
                series, fac, flush_points=50
            ).collect()
        }
    finally:
        spark.conf.set(key, old)
    want = detect_ref(series, fac)
    assert got == want and len(got) >= 1


def test_encode_colocated_multi_batch_multi_flush_parity(spark):
    from pysatl_cpd_spark.operators.segments import encode_segments_colocated

    series = _series_df(spark)
    cps = series.filter(F.col("t") % 37 == 3).select(
        "series_id", F.col("t").alias("change_point")
    )

    def key_rows(df):
        return {
            (
                r["series_id"], r["segment_id"], r["n_points"], r["t_min"],
                r["t_max"], r["first_value"], r["last_value"], bytes(r["blob"]),
            )
            for r in df.collect()
        }

    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf_key)
    try:
        spark.conf.set(conf_key, "13")
        got = key_rows(encode_segments_colocated(series, cps, flush_points=50))
    finally:
        spark.conf.set(conf_key, old)
    assert got == encode_ref(series, cps)


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    n_series=st.integers(1, 6),
    int_keys=st.booleans(),
)
def test_iter_sorted_series_random_batch_splits(seed, n_series, int_keys):
    """Property: for ANY batch segmentation of a sorted (key, t) stream —
    including zero-row batches and series spanning many batches — the
    iterator yields each series exactly once, contiguous, in order, for
    both string and int64 keys."""
    import pyarrow as pa

    from pysatl_cpd_spark.operators.colocated import iter_sorted_series

    rng = np.random.default_rng(seed)
    keys = []
    ts = []
    vals = []
    want = {}
    for s in range(n_series):
        n = int(rng.integers(1, 40))
        k = s * 7 if int_keys else f"s{s:03d}"
        keys += [k] * n
        ts += list(range(n))
        vals += [float(v) for v in rng.normal(size=n)]
        want[k] = (list(range(n)), vals[-n:])
    # random segmentation incl. empty batches
    cuts = sorted(
        int(c) for c in rng.integers(0, len(keys) + 1, size=int(rng.integers(0, 6)))
    )
    bounds = [0] + cuts + [len(keys)]
    key_type = pa.int64() if int_keys else pa.string()
    batches = [
        pa.record_batch(
            [
                pa.array(keys[lo:hi], key_type),
                pa.array(ts[lo:hi], pa.int64()),
                pa.array(vals[lo:hi], pa.float64()),
            ],
            names=["series_id", "t", "value"],
        )
        for lo, hi in zip(bounds[:-1], bounds[1:])
    ]
    got = {
        sid: (cols["t"].tolist(), cols["value"].tolist())
        for sid, cols in iter_sorted_series(batches, ("t", "value"))
    }
    assert got == want


def _events(spark):
    """A small events table: (event_id, ts, user_id, value)."""
    return spark.range(600).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.col("id") * 7).alias("ts"),
        (F.col("id") % 9).alias("user_id"),
        (F.col("id") % 13).cast("double").alias("value"),
    )


def _kept(df, keys=("series_id",)):
    from pysatl_cpd_spark.operators.colocated import colocate

    return colocate(df, keys) is df


def test_colocate_keeps_hash_partitioned_inputs(spark):
    """Inputs whose plan already hash-partitions on exactly the key get no
    new exchange: the perfbench rollup shape (repartition on conv_id, rate
    window, alias to series_id), the ``events_series(colocate=n)`` frame the
    cpd_* queries read, and the flagship's cache + broadcast left-semi gate
    while the cache is still unfilled (AQE reports UnknownPartitioning for
    it; the check reads the plan that fills the cache)."""
    from pysatl_cpd_spark.operators.cusum import cusum_prefilter
    from pysatl_cpd_spark.operators.series import events_series, turn_rate_series
    from pysatl_cpd_spark.sources.transcripts import transcripts_table

    tr = transcripts_table(
        spark, n_conversations=8, avg_turns=60, seed=5, with_text=False
    )
    assert _kept(
        turn_rate_series(tr.select("conv_id", "turn_idx", "ts").repartition(4, "conv_id"))
    )
    assert _kept(events_series(_events(spark), colocate=4))

    cached = turn_rate_series(tr).repartition(4, "series_id").cache()
    try:
        alarmed = cusum_prefilter(cached, k=0.05, h=2.0)
        gated = cached.join(F.broadcast(alarmed), "series_id", "left_semi")
        exec_plan = gated._jdf.queryExecution().executedPlan()
        assert "UnknownPartitioning" in exec_plan.inputPlan().outputPartitioning().toString()
        assert _kept(gated) and _kept(cached)
    finally:
        cached.unpersist()


def test_colocate_repartitions_everything_else(spark):
    """Window-only series (the window's own exchange is one AQE may
    coalesce), unpartitioned and round-robin frames, and a partitioning on a
    strict subset of the keys all get ``repartition(n, *keys)``, after which
    every series sits inside one partition. (Spark drops that repartition
    when it equals the exchange below it, as for the window here when
    shuffle partitions == default parallelism.)"""
    from pysatl_cpd_spark.operators.colocated import colocate
    from pysatl_cpd_spark.operators.series import events_series

    events = _events(spark)
    colocated = events_series(events, colocate=4)
    cases = [
        (events_series(events), ("series_id",)),
        (_series_df(spark).repartition(4), ("series_id",)),
        (spark.createDataFrame([("a", 0, 1.0)], "series_id string, t long, value double"), ("series_id",)),
        (colocated.withColumn("chunk_id", F.col("t") % 3), ("series_id", "chunk_id")),
    ]
    for df, keys in cases:
        assert not _kept(df, keys)
        fixed = colocate(df, keys)
        spans = (
            fixed.withColumn("_pid", F.spark_partition_id())
            .groupBy(*keys)
            .agg(F.countDistinct("_pid").alias("n"))
            .filter("n > 1")
            .count()
        )
        assert spans == 0


def test_map_series_composite_keys_and_list_columns(spark):
    """Composite keys arrive as tuples, list columns as (n, dim) matrices,
    each group ordered by t; the output key keeps the input key's type."""
    from pysatl_cpd_spark.operators.colocated import map_series

    rows = [
        (k, w, t, [float(t), float(-t)])
        for k in (3, 9) for w in (0, 1) for t in range(5 * w, 5 * w + 4)
    ]
    df = spark.createDataFrame(
        rows[::-1], "series_id long, window_id long, t long, vec array<double>"
    )

    def emit(batch):
        return [1] * len(batch), {
            "window_id": [k[1] for k, _ in batch],
            "first": [float(a["vec"][0, 0]) for _, a in batch],
            "dims": [int(a["vec"].shape[1]) for _, a in batch],
            "ordered": [bool((a["t"][1:] > a["t"][:-1]).all()) for _, a in batch],
        }

    out = map_series(
        df, ["series_id", "window_id"], ["t", "vec"], emit,
        "window_id long, first double, dims int, ordered boolean",
    )
    assert dict(out.dtypes)["series_id"] == "bigint"
    got = {tuple(r) for r in out.collect()}
    assert got == {(k, w, float(5 * w), 2, True) for k in (3, 9) for w in (0, 1)}
