"""Labeled-dataset CSV round-trip (reference layout: sample.csv +
changepoints.csv per dataset directory)."""

import numpy as np
from _reference import detect_ref
from pyspark.sql import functions as F

from pysatl_cpd_spark.sources.io import read_labeled_datasets, write_labeled_dataset


def test_csv_roundtrip(spark, tmp_path):
    np.random.seed(3)
    rows = []
    for name in ("ds_a", "ds_b"):
        vals = np.random.normal(0, 1, 40)
        rows.extend((name, t, float(v)) for t, v in enumerate(vals))
    series = spark.createDataFrame(rows, "series_id string, t long, value double")
    cps = spark.createDataFrame(
        [("ds_a", 10), ("ds_a", 25), ("ds_b", 5)],
        "series_id string, change_point long",
    )
    root = str(tmp_path / "datasets")
    write_labeled_dataset(series, cps, root)

    series2, cps2 = read_labeled_datasets(spark, root)
    orig = series.orderBy("series_id", "t").toPandas()
    back = series2.orderBy("series_id", "t").toPandas()
    assert np.allclose(orig["value"], back["value"])
    assert orig["series_id"].tolist() == back["series_id"].tolist()
    got_cps = {(r["series_id"], r["change_point"]) for r in cps2.collect()}
    assert got_cps == {("ds_a", 10), ("ds_a", 25), ("ds_b", 5)}


def test_asciidoc_description_written(spark, tmp_path):
    """S5 parity: per-dataset description.adoc in the reference's AsciiDoc
    shape (generator/dataset_description.py:62-100)."""
    from pysatl_cpd_spark.sources.io import write_labeled_dataset

    series = spark.createDataFrame(
        [("a", t, float(t < 3)) for t in range(6)], "series_id string, t long, value double"
    )
    cps = spark.createDataFrame([("a", 3)], "series_id string, change_point long")
    write_labeled_dataset(
        series, cps, str(tmp_path),
        descriptions={"a": [{"type": "normal", "mean": 0.0, "variance": 1.0},
                            {"type": "normal", "mean": 10.0, "variance": 1.0}]},
    )
    adoc = (tmp_path / "a" / "description.adoc").read_text()
    assert "= Sample a" in adoc
    assert "Sample length:: 6" in adoc
    assert "Sub-samples lengths:: [3, 3]" in adoc
    assert "Change points:: [3]" in adoc
    assert ". normal" in adoc and "mean:: 10.0" in adoc


def test_catalog_parquet_roundtrip_and_iceberg_gate(spark, tmp_path):
    """Table refs: parquet path round-trips with day partitioning; the
    iceberg: branch fails with the deployment recipe when no Iceberg catalog
    is on the session (this container ships no runtime jar)."""
    import pytest
    from pyspark.sql import functions as F

    from pysatl_cpd_spark.sources.catalog import load_table, write_table

    df = spark.createDataFrame(
        [("c1", 0, "2024-01-01 00:00:00"), ("c1", 1, "2024-01-02 00:00:00")],
        "conv_id string, turn_idx int, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    path = str(tmp_path / "tr")
    write_table(df, path, mode="create")
    back = load_table(spark, f"parquet:{path}")
    assert back.count() == 2 and "_day" in back.columns

    with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
        load_table(spark, "iceberg:ice.db.transcripts")


def test_bucketed_series_detection_is_shuffle_free(spark, tmp_path):
    """Co-location law: detection over a series table bucketed by its group
    key runs with ZERO exchanges (the ingest shuffle is paid once: the
    bucketed scan already hash-partitions on series_id, so the runner adds
    none), and the results equal the sequential kernel run per series in a
    local loop."""
    from pysatl_cpd_spark.detectors import CusumDetector
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated, sequential
    from pysatl_cpd_spark.operators.series import events_series
    from pysatl_cpd_spark.sources.catalog import write_bucketed_series

    series = events_series(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    bucketed = write_bucketed_series(
        series, "series_bucketed_t", n_buckets=8, path=str(tmp_path / "series_b")
    )

    factory = lambda: CusumDetector(k=1.0, h=10.0)  # noqa: E731
    out_b = detect_lockstep_colocated(bucketed, sequential(factory))
    plan = out_b._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0, plan[:500]

    got_b = {(r.series_id, r.change_point) for r in out_b.collect()}
    assert got_b == detect_ref(series, factory) and got_b


def test_bucketed_table_feeds_colocated_lockstep(spark, tmp_path):
    """The full production detect plan: bucket-ingest the series table once
    (write_bucketed_series), then run the zero-exchange LOCKSTEP dispatch
    straight off the bucketed scan — no exchange anywhere in the detection
    plan, rows equal to the local kernel loop. (Companion to the
    sequential-kernel law above, for the batched kernel.)"""
    from pysatl_cpd_spark.detectors.cusum import LockstepCusum
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
    from pysatl_cpd_spark.operators.series import events_series
    from pysatl_cpd_spark.sources.catalog import write_bucketed_series

    series = events_series(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    bucketed = write_bucketed_series(
        series, "series_bucketed_lockstep_t", n_buckets=8,
        path=str(tmp_path / "series_lb"),
    )

    fac = lambda: LockstepCusum(k=1.0, h=10.0)  # noqa: E731
    out = detect_lockstep_colocated(bucketed, fac)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan[:500]

    got = {(r.series_id, r.change_point) for r in out.collect()}
    assert got == detect_ref(series, fac) and got


def test_bucketed_table_with_many_files_per_bucket(spark, tmp_path):
    """A bucketed table written from 6 input partitions into 4 buckets
    holds 24 files, so each bucket is several files. Spark de-buckets a
    scan whose consumers require no distribution, and mapInArrow requires
    none: the files are then read as independent splits and series split
    across partitions. The session keeps bucketed scans bucketed, so
    detection off the table equals detection after an explicit
    ``repartition(4, "series_id")``, with zero exchanges."""
    from pysatl_cpd_spark.detectors.cusum import LockstepCusum
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
    from pysatl_cpd_spark.sources.catalog import write_bucketed_series

    rng = np.random.default_rng(40)
    rows = []
    for s in range(40):
        levels = np.repeat(rng.normal(0.0, 3.0, 8), 250)
        values = levels + rng.normal(0.0, 1.0, 2000)
        rows += [(f"s{s:02d}", t, float(v)) for t, v in enumerate(values)]
    series = spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(6)
    table = write_bucketed_series(
        series, "series_bucketed_multifile_t", n_buckets=4,
        path=str(tmp_path / "series_mf"),
    )
    assert len(table.inputFiles()) > 4

    fac = lambda: LockstepCusum(k=0.05, h=2.0)  # noqa: E731
    out = detect_lockstep_colocated(table, fac)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan[:500]
    got = {(r.series_id, r.change_point) for r in out.collect()}
    # the repartition matches the bucketing, so Spark plans it away and the
    # scan decides co-location on both sides; the local loop does not
    # depend on the scan at all
    repartitioned = {
        (r.series_id, r.change_point)
        for r in detect_lockstep_colocated(
            table.repartition(4, "series_id"), fac
        ).collect()
    }
    assert got == repartitioned == detect_ref(table, fac) and got


def test_load_table_multi_format(spark, tmp_path):
    """orc:/csv:/json: refs read back the same rows parquet does."""
    from pysatl_cpd_spark.sources.catalog import load_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -0.25), (3, "c", 0.0)],
        "id long, name string, value double",
    )
    want = {(r.id, r.name, r.value) for r in df.collect()}
    for fmt in ("parquet", "orc", "json"):
        path = str(tmp_path / fmt)
        df.write.format(fmt).save(path)
        back = load_table(spark, f"{fmt}:{path}")
        assert {(int(r.id), r.name, float(r.value)) for r in back.collect()} == want, fmt
    path = str(tmp_path / "csv")
    df.write.option("header", "true").csv(path)
    back = load_table(spark, f"csv:{path}")
    assert {(int(r.id), r.name, float(r.value)) for r in back.collect()} == want


def test_write_table_format_roundtrip(spark, tmp_path):
    """write_table honors the ref's named format, so the same ref
    round-trips through load_table (review finding: it always wrote
    parquet)."""
    from pyspark.sql import functions as F

    from pysatl_cpd_spark.sources.catalog import load_table, write_table

    df = spark.createDataFrame(
        [("c1", "2024-01-01 00:00:00", 1.5), ("c2", "2024-01-02 00:00:00", -2.0)],
        "conv_id string, ts_s string, value double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    want = {(r.conv_id, float(r.value)) for r in df.collect()}
    for fmt in ("orc", "csv", "json"):
        ref = f"{fmt}:{tmp_path / ('t_' + fmt)}"
        write_table(df, ref, mode="create")
        back = load_table(spark, ref)
        assert {(r.conv_id, float(r.value)) for r in back.collect()} == want, fmt


def test_bucketed_coded_table_feeds_long_key_colocated(spark, tmp_path):
    """write_bucketed_series_coded: the dense-int factorization paid at
    ingest — the coded bucketed scan feeds the long-keyed colocated detect
    with ZERO exchanges, and after the broadcast re-attach the rows equal
    the string-keyed kernel loop. Codes must be stable across re-reads
    (stored, not session-pinned)."""
    from pysatl_cpd_spark.detectors.cusum import LockstepCusum
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
    from pysatl_cpd_spark.operators.keycompact import attach_series_id
    from pysatl_cpd_spark.operators.series import events_series
    from pysatl_cpd_spark.sources.catalog import write_bucketed_series_coded

    series = events_series(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    points, dim = write_bucketed_series_coded(
        series, "series_bucketed_coded_t", n_buckets=8,
        path=str(tmp_path / "series_coded"),
    )
    assert dict(points.dtypes)["series_id"] == "bigint"
    # dim is dense + stable: re-read equals first read
    dmap = {r.series_id: r.code for r in dim.collect()}
    assert sorted(dmap.values()) == list(range(len(dmap)))

    fac = lambda: LockstepCusum(k=1.0, h=10.0)  # noqa: E731
    out = detect_lockstep_colocated(points, fac)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0, plan[:500]

    got = {
        (r.series_id, r.change_point)
        for r in attach_series_id(out, dim).collect()
    }
    assert got == detect_ref(series, fac) and got


def test_bucketed_coded_write_rejects_append(spark, tmp_path):
    """mode='append' would re-factorize codes from the new batch alone
    (its code 0 = the batch's first sorted key, colliding with stored
    codes) and clobber the persisted dim — the writer must refuse loudly
    instead of corrupting the code space (round-8 advice)."""
    import pytest

    from pysatl_cpd_spark.sources.catalog import write_bucketed_series_coded

    df = spark.createDataFrame(
        [("a", 0, 1.0)], "series_id string, t long, value double"
    )
    with pytest.raises(ValueError, match="overwrite"):
        write_bucketed_series_coded(
            df, "series_coded_append_t", n_buckets=2, mode="append",
            path=str(tmp_path / "coded_append"),
        )


def _open_counting_jobs(spark, group, path, **kw):
    """Open ``path`` through read_parquet inside a job group; returns the
    DataFrame and the number of Spark jobs the open ran."""
    from pysatl_cpd_spark.sources.io import read_parquet

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = read_parquet(spark, path, **kw)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_reuses_schema_of_unchanged_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)

    first, jobs_first = _open_counting_jobs(spark, "rp_first", path)
    again, jobs_again = _open_counting_jobs(spark, "rp_again", path)
    assert (jobs_first, jobs_again) == (1, 0)
    assert again.schema == first.schema
    assert sorted(r.id for r in again.collect()) == list(range(5))


def test_read_parquet_sees_overwrite_with_extra_column(spark, tmp_path):
    """A single parquet file rewritten in place with one more column."""
    import pandas as pd

    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"id": [0, 1, 2]}).to_parquet(path, index=False)
    _open_counting_jobs(spark, "rp_before", path)

    pd.DataFrame({"id": [0, 1, 2], "extra": [0, 2, 4]}).to_parquet(path, index=False)
    df, jobs = _open_counting_jobs(spark, "rp_after", path)
    assert jobs == 1
    assert df.columns == ["id", "extra"]
    assert sorted((r.id, r.extra) for r in df.collect()) == [(0, 0), (1, 2), (2, 4)]


def test_read_parquet_sees_added_part_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).coalesce(1).write.parquet(path)
    _open_counting_jobs(spark, "rp_parts_before", path)

    spark.range(3, 7).coalesce(1).write.mode("append").parquet(path)
    df, jobs = _open_counting_jobs(spark, "rp_parts_after", path)
    assert jobs == 1
    assert sorted(r.id for r in df.collect()) == list(range(7))


def test_read_parquet_schema_matches_inference(spark, tmp_path):
    """Timestamp, array and write-time non-nullable columns: the remembered
    open and the ``schema=`` open report exactly the schema a fresh
    ``spark.read.parquet`` infers (every column nullable)."""
    from pysatl_cpd_spark.sources.io import read_parquet

    path = str(tmp_path / "t.parquet")
    written = spark.range(4).select(
        F.col("id"),
        F.lit(7).alias("seven"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.array(F.col("id"), F.lit(1)).alias("arr"),
        F.when(F.col("id") > 1, F.lit("x")).alias("maybe"),
    )
    assert not written.schema["id"].nullable and not written.schema["seven"].nullable
    written.write.parquet(path)

    inferred = spark.read.parquet(path).schema
    assert all(f.nullable for f in inferred.fields)
    read_parquet(spark, path)  # stores the inferred schema
    assert read_parquet(spark, path).schema == inferred
    assert read_parquet(spark, path, schema=written.schema).schema == inferred


def test_read_parquet_local_path_resolution(spark):
    """Only paths on the local filesystem are stamped; another filesystem's
    URI gets plain inference."""
    import os

    from pysatl_cpd_spark.sources.io import _local_path

    assert _local_path(spark, "hdfs://namenode/warehouse/t.parquet") is None
    assert _local_path(spark, "s3a://bucket/t.parquet") is None
    assert _local_path(spark, "file:///tmp/t.parquet") == "/tmp/t.parquet"
    assert _local_path(spark, "rel/t.parquet") == os.path.abspath("rel/t.parquet")
