"""Table-format abstraction: Iceberg-first with a parquet-path fallback.

The engine's target input shape (BASELINE.json input_hint) is an Iceberg
table of multi-turn transcripts. This container ships no Iceberg runtime jar
(and has no network to fetch one — DNS resolution to repo1.maven.org/pypi
re-probed and still blocked in rounds 4, 5, 6, 7, 8 and 9), so the Iceberg branch is
env-gated the same way real deployments gate it: it activates when the
session has an Iceberg-capable catalog configured (``ICEBERG_SUBMIT_CONF``
below is the spark-submit recipe). Everything downstream of this module consumes plain
DataFrames, so the storage format is invisible to the operators.

Table references:
  - ``iceberg:catalog.db.table``  → ``spark.table`` / ``writeTo`` (v2 API)
  - ``parquet:/path`` or ``/path`` → parquet read/write
  - ``orc:/path`` / ``csv:/path`` / ``json:/path`` → the named format
    (ORC columnar with pushdown; CSV with header+inference and JSON
    line-delimited for ingest interchange)

Partitioning for the 10^12-turn transcripts table: ``days(ts)`` (time prune
for retention + rollup windows) × ``bucket(conv_id)`` (co-locates each
conversation's turns so the per-conv detector groupBy shuffles within, not
across, buckets; bucket count sized to executor count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pysatl_cpd_spark.sources.io import read_parquet

# The documented cluster configuration for the Iceberg branch (public Iceberg
# runtime artifact + a Hadoop-warehouse catalog; any Iceberg catalog works).
ICEBERG_SUBMIT_CONF = [
    "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version>",
    "--conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    "--conf spark.sql.catalog.ice=org.apache.iceberg.spark.SparkCatalog",
    "--conf spark.sql.catalog.ice.type=hadoop",
    "--conf spark.sql.catalog.ice.warehouse=<warehouse-uri>",
]

TRANSCRIPTS_PARTITION_HINT = "days(ts), bucket(<n_executors>, conv_id)"


_PATH_FORMATS = ("parquet", "orc", "csv", "json")


def parse_ref(ref: str) -> tuple[str, str]:
    """Split a table reference into (kind, target)."""
    if ref.startswith("iceberg:"):
        return "iceberg", ref[len("iceberg:") :]
    for fmt in _PATH_FORMATS:
        if ref.startswith(fmt + ":"):
            return fmt, ref[len(fmt) + 1 :]
    return "parquet", ref


def _iceberg_unavailable(exc: Exception) -> NotImplementedError:
    conf = "\n  ".join(ICEBERG_SUBMIT_CONF)
    return NotImplementedError(
        "Iceberg table access needs an Iceberg-capable catalog on the session; "
        "this environment has no Iceberg runtime jar. Deploy with:\n  " + conf
    )


def load_table(spark: SparkSession, ref: str) -> DataFrame:
    """Read a table reference. Iceberg refs resolve through the session
    catalog (predicate pushdown, partition pruning, snapshot isolation come
    from the Iceberg source); path refs read directly in the named format —
    ``parquet:`` (default, columnar + pushdown), ``orc:`` (same class),
    ``csv:`` / ``json:`` (row formats for ingest interchange; csv reads with
    header + schema inference, json as line-delimited records)."""
    kind, target = parse_ref(ref)
    if kind == "iceberg":
        try:
            return spark.table(target)
        except Exception as exc:  # noqa: BLE001 - catalog missing/misconfigured
            raise _iceberg_unavailable(exc) from exc
    if kind == "csv":
        return spark.read.option("header", "true").option(
            "inferSchema", "true"
        ).csv(target)
    if kind == "parquet":
        return read_parquet(spark, target)
    return spark.read.format(kind).load(target)


def write_bucketed_series(
    df: DataFrame,
    table_name: str,
    n_buckets: int,
    key_col: str = "series_id",
    sort_cols: tuple[str, ...] = ("series_id", "t"),
    mode: str = "overwrite",
    path: str | None = None,
) -> DataFrame:
    """Persist a keyed series table bucketed + sorted by its group key so
    the per-series runner (operators/colocated.py) reads it SHUFFLE-FREE:
    the bucketed scan hash-partitions on the key, so ``colocate`` adds no
    exchange and the detector stage reads straight into Python workers
    (plan-asserted in tests). The session keeps such scans bucketed
    (session.get_spark); a de-bucketed scan reads each file as its own
    split and would split series across partitions. This is the 100 TB
    co-location story — pay the shuffle once at ingest, never again per
    detection run.
    Size ``n_buckets`` to the executor count. ``path`` makes it an external
    table at that location (session-safe: the default managed location
    outlives the in-memory catalog and collides on re-create). Returns the
    re-read table."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    writer = df.write.bucketBy(n_buckets, key_col).sortBy(*sort_cols).mode(mode)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
    return spark.table(table_name)


def write_bucketed_series_coded(
    df: DataFrame,
    table_name: str,
    n_buckets: int,
    mode: str = "overwrite",
    path: str | None = None,
    dim_path: str | None = None,
) -> "tuple[DataFrame, DataFrame]":
    """``write_bucketed_series`` with the dense-int key compaction paid AT
    INGEST (operators/keycompact.py): factorize ``series_id`` once into a
    deterministic int64 ``code``, store the points table bucketed + sorted
    BY THE CODE, and persist the (series_id, code) dim table alongside.
    Downstream zero-exchange detect/encode then carry the ``long`` key —
    no repeated string column ever crosses the Arrow socket on any later
    detection run, and the factorization join is amortized into the one
    ingest shuffle a bucketed table pays anyway. Returns ``(points, dim)``
    re-read from storage (codes are therefore stable across sessions —
    stronger than the in-memory helper's cache pin).

    ``dim_path``: parquet location for the dim table (defaults to
    ``<path>_dim`` when ``path`` is given, else a managed table
    ``<table_name>_dim``).

    Only ``mode="overwrite"`` is supported (round-8 advice): an append
    would re-factorize codes from the NEW batch alone — its code 0 is the
    batch's first sorted key, colliding with codes already stored in the
    points table — and destroy the persisted dim mapping: exactly the
    silent series-merge corruption this module exists to prevent. Append
    ingest needs the dim extended from the PERSISTED mapping (new keys get
    codes after the existing max); until that exists, fail loudly."""
    from pysatl_cpd_spark.operators.keycompact import series_key_dim

    if mode != "overwrite":
        raise ValueError(
            "write_bucketed_series_coded supports only mode='overwrite': "
            f"mode={mode!r} would re-factorize codes from the incoming "
            "batch and corrupt the stored code space (see docstring)"
        )
    spark = df.sparkSession
    dim = series_key_dim(df)
    coded = df.join(F.broadcast(dim), "series_id").select(
        F.col("code").alias("series_id"),
        *[c for c in df.columns if c != "series_id"],
    )
    points = write_bucketed_series(
        coded, table_name, n_buckets, mode=mode, path=path
    )
    if dim_path is None and path is not None:
        dim_path = path + "_dim"
    if dim_path is not None:
        dim.write.mode(mode).parquet(dim_path)
        dim_out = read_parquet(spark, dim_path, schema=dim.schema)
    else:
        spark.sql(f"DROP TABLE IF EXISTS {table_name}_dim")
        dim.write.mode(mode).saveAsTable(f"{table_name}_dim")
        dim_out = spark.table(f"{table_name}_dim")
    dim.unpersist()
    return points, dim_out


def write_table(
    df: DataFrame,
    ref: str,
    mode: str = "append",
    bucket_conv: int | None = None,
    ts_col: str = "ts",
    conv_col: str = "conv_id",
) -> None:
    """Write a DataFrame to a table reference.

    Iceberg: DataFrameWriterV2 with the transcripts partition spec —
    ``days(ts) × bucket(bucket_conv, conv_id)`` — so retention deletes and
    tier scans prune by day while each conversation stays within one bucket.
    Parquet: a derived ``_day`` partition column approximates the day
    transform (bucketing needs a table format; documented, not emulated).
    """
    from pyspark.sql import functions as F

    kind, target = parse_ref(ref)
    if kind == "iceberg":
        try:
            writer = df.writeTo(target)
            if bucket_conv:
                writer = writer.partitionedBy(
                    F.days(F.col(ts_col)), F.bucket(bucket_conv, F.col(conv_col))
                )
            if mode == "create":
                writer.createOrReplace()
            else:
                writer.append()
            return
        except NotImplementedError:
            raise
        except Exception as exc:  # noqa: BLE001
            raise _iceberg_unavailable(exc) from exc
    # path formats write in the ref's named format so the same ref
    # round-trips through load_table (csv keeps its header; the _day
    # partition column applies to the columnar formats only — csv/json are
    # interchange formats, not partitioned tables)
    wmode = "overwrite" if mode == "create" else mode
    if kind == "csv":
        df.write.mode(wmode).option("header", "true").csv(target)
        return
    if kind == "json":
        df.write.mode(wmode).json(target)
        return
    out = df.withColumn("_day", F.to_date(F.col(ts_col)))
    out.write.mode(wmode).partitionBy("_day").format(kind).save(target)
