"""Parquet opens and labeled-dataset IO (parity: reference
labeled_data.py:78-104 and generator/saver.py:42-81).

``read_parquet`` is the package's one way to open a parquet table. The
reference persists generated datasets as per-name directories holding
``sample.csv`` (values; univariate = one column, multivariate = comma-joined
vector per line) + ``changepoints.csv`` (one index per line). This module
reads/writes the same layout through Spark (schema declared, no inference
games) and offers the engine-native parquet form as the default sink.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

# session settings that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


class _SchemaLRU:
    """Bounded map from (local path, file stamp, inference settings) to the
    schema Spark inferred for it; least recently used entry goes first."""

    def __init__(self, size: int) -> None:
        self.size = size
        self._lock = threading.Lock()
        self._entries: OrderedDict[tuple, StructType] = OrderedDict()

    def get(self, key: tuple) -> StructType | None:
        with self._lock:
            schema = self._entries.get(key)
            if schema is not None:
                self._entries.move_to_end(key)
            return schema

    def put(self, key: tuple, schema: StructType) -> None:
        with self._lock:
            self._entries[key] = schema
            self._entries.move_to_end(key)
            while len(self._entries) > self.size:
                self._entries.popitem(last=False)


_SCHEMAS = _SchemaLRU(64)


def _local_path(spark: SparkSession, path: str) -> str | None:
    """Absolute local path Spark resolves ``path`` to, or None when the path
    names another filesystem (a URI scheme, or a non-local default FS)."""
    parts = urlsplit(path)
    if parts.scheme == "file":
        return os.path.abspath(parts.path)
    if parts.scheme:
        return None
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    if default_fs and urlsplit(default_fs).scheme != "file":
        return None
    return os.path.abspath(path)


def _file_stamp(local: str) -> tuple:
    """(size, mtime_ns, inode) of a file, or of every file under a directory;
    raises OSError when the path does not exist."""
    st = os.stat(local)
    if not os.path.isdir(local):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    stamp = []
    for root, dirs, files in os.walk(local, followlinks=True):
        dirs.sort()
        for name in sorted(files):
            file = os.path.join(root, name)
            st = os.stat(file)
            stamp.append((os.path.relpath(file, local), st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(stamp)


def read_parquet(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """Open a parquet file or directory table without a schema-inference job
    where the schema is already known.

    ``spark.read.parquet(path)`` runs one Spark job per open to read a
    footer: 0.11-0.15 s on a 4-vCPU VM, against 0.017 s for an open that is
    given its schema, and most queries open the same unchanged tables again.
    So: with ``schema`` (a table the caller just wrote), open with it; else,
    for a local path, reuse the schema Spark inferred at an earlier open of
    the same files, keyed on the absolute path, each file's (size, mtime_ns,
    inode) and the settings that steer inference. A miss, a missing path or
    a non-local URI opens with plain inference. Spark marks every column of
    a schema-given read nullable, as it does on inference, so the result
    has the same schema either way."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    local = _local_path(spark, path)
    if local is None:
        return spark.read.parquet(path)
    try:
        stamp = _file_stamp(local)
    except OSError:
        return spark.read.parquet(path)
    key = (local, stamp, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    cached = _SCHEMAS.get(key)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS.put(key, df.schema)
    return df


def dataset_asciidoc(
    name: str,
    n_points: int,
    change_points: list[int],
    distributions: list[dict] | None = None,
    image_path: str | None = None,
) -> str:
    """AsciiDoc dataset description (reference
    generator/dataset_description.py:62-100 format: title, horizontal list of
    lengths/change points, numbered distribution sections)."""
    boundaries = [0, *sorted(change_points), n_points]
    sub_lengths = [boundaries[i + 1] - boundaries[i] for i in range(len(boundaries) - 1)]
    lines = [
        f"= Sample {name}",
        "",
        "[horizontal]",
        f"Sample length:: {n_points}",
        f"Sub-samples lengths:: {sub_lengths}",
        f"Change points:: {sorted(change_points)}",
    ]
    if distributions:
        lines += ["", "== Distributions", ""]
        for dist in distributions:
            lines.append(f". {dist.get('type', 'unknown')}")
            lines.append("[horizontal]")
            for key, val in dist.items():
                if key != "type":
                    lines.append(f"{key}:: {val}")
    if image_path:
        lines += ["", f"image::{image_path}[Sample plot]"]
    return "\n".join(lines) + "\n"


def write_labeled_dataset(
    series_df: DataFrame,
    cps_df: DataFrame,
    root: str,
    descriptions: dict[str, list[dict]] | None = None,
    plot: bool = False,
) -> None:
    """Write the reference dataset layout, one directory per series_id:
    sample.csv + changepoints.csv + description.adoc (reference
    generator/saver.py:42-81). ``plot=True`` additionally writes the
    sample.png overlay when matplotlib is importable (absent in this
    container — skipped with the layout otherwise identical)."""
    series_pdf = series_df.orderBy("series_id", "t").toPandas()
    cps_pdf = cps_df.toPandas()
    for name, grp in series_pdf.groupby("series_id"):
        d = os.path.join(root, str(name))
        os.makedirs(d, exist_ok=True)
        grp["value"].to_csv(os.path.join(d, "sample.csv"), index=False, header=False)
        cps = sorted(
            cps_pdf.loc[cps_pdf["series_id"] == name, "change_point"].tolist()
        )
        with open(os.path.join(d, "changepoints.csv"), "w") as fh:
            fh.writelines(f"{c}\n" for c in cps)
        image_name = None
        if plot:
            try:  # pragma: no cover - matplotlib not in this container
                import matplotlib

                matplotlib.use("Agg")
                import matplotlib.pyplot as plt

                vals = grp["value"].to_numpy()
                plt.plot(vals)
                if cps:
                    plt.vlines(x=cps, ymin=vals.min(), ymax=vals.max(), colors="orange", ls="--")
                plt.savefig(os.path.join(d, "sample.png"))
                plt.close()
                image_name = "sample.png"
            except ImportError:
                pass
        with open(os.path.join(d, "description.adoc"), "w") as fh:
            fh.write(
                dataset_asciidoc(
                    str(name),
                    len(grp),
                    cps,
                    (descriptions or {}).get(str(name)),
                    image_name,
                )
            )


def read_labeled_datasets(spark: SparkSession, root: str) -> tuple[DataFrame, DataFrame]:
    """Scan a directory of reference-layout datasets back into the long
    (series_id, t, value) + (series_id, change_point) frames."""
    series_parts = []
    cp_rows = []
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        sample = os.path.join(d, "sample.csv")
        cps = os.path.join(d, "changepoints.csv")
        if not os.path.isfile(sample):
            continue
        df = (
            spark.read.schema("value double")
            .csv(sample)
            .select(
                F.lit(name).alias("series_id"),
                (F.monotonically_increasing_id()).alias("_mid"),
                "value",
            )
        )
        series_parts.append(df)
        if os.path.isfile(cps):
            with open(cps) as fh:
                cp_rows.extend((name, int(line)) for line in fh if line.strip())

    from pyspark.sql import Window as W

    series = series_parts[0]
    for part in series_parts[1:]:
        series = series.unionByName(part)
    w = W.partitionBy("series_id").orderBy("_mid")
    series = series.select(
        "series_id", (F.row_number().over(w) - 1).alias("t"), "value"
    )
    cps_df = spark.createDataFrame(
        cp_rows or [], "series_id string, change_point long"
    )
    return series, cps_df
