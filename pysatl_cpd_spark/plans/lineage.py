"""Per-stage lineage + metrics and exact resume-from-checkpoint.

The north rule requires every partition/stage to emit lineage + metrics rows
and re-runs to be idempotent. Mechanism (no Catalyst involvement — pure
engine logic, mirroring the reference pipeline's metadata threading,
benchmarking/pipeline/pipeline.py:216-230, but as durable tables):

  - a job is a sequence of named stages; each stage writes its output to
    ``<root>/<stage>/data`` (parquet) plus a ``_LINEAGE`` JSON sidecar with
    the stage key: (stage name, input fingerprint, params fingerprint);
  - on re-run, a stage whose sidecar matches its key is skipped and its
    persisted output is reused — exact resume, because every stage in this
    engine is a pure function of (inputs, params, seed) (the window transform
    and all RNGs are keyed, SURVEY.md §4);
  - metrics rows (rows in/out, wall seconds, partition count) append to
    ``<root>/_metrics`` for observability.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from pysatl_cpd_spark.sources.io import read_parquet


def _fingerprint(obj) -> str:
    import hashlib

    return hashlib.md5(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


@dataclass
class StageResult:
    df: DataFrame
    skipped: bool
    seconds: float


class CheckpointedJob:
    def __init__(self, spark: SparkSession, root: str, job_params: dict | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.params_fp = _fingerprint(job_params or {})
        os.makedirs(self.root, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        return f"{self.root}/{stage}/data", f"{self.root}/{stage}/_LINEAGE"

    def table_name(self, stage: str) -> str:
        """Catalog name for a bucketed stage output (root-scoped)."""
        import hashlib
        import re

        safe = re.sub(r"[^0-9a-zA-Z_]", "_", stage)
        return f"ckpt_{safe}_{hashlib.md5(self.root.encode()).hexdigest()[:8]}"

    def _read_stage(self, name: str, data_path: str, bucketing: dict | None) -> DataFrame:
        """Re-open a persisted stage. Bucketed outputs come back through the
        catalog so the bucketed distribution survives the resume; if the
        catalog is fresh (new session), the external table is re-registered
        over the same files — Spark recovers bucket ids from the file names,
        so the downstream groupBy stays shuffle-free across restarts."""
        if not bucketing:
            return read_parquet(self.spark, data_path)
        table = self.table_name(name)
        if not self.spark.catalog.tableExists(table):
            schema = read_parquet(self.spark, data_path).schema
            cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
            sort = ", ".join(f"`{c}`" for c in bucketing["sort_cols"])
            self.spark.sql(
                f"CREATE TABLE {table} ({cols}) USING PARQUET "
                f"CLUSTERED BY (`{bucketing['key']}`) SORTED BY ({sort}) "
                f"INTO {bucketing['n_buckets']} BUCKETS LOCATION '{data_path}'"
            )
        return self.spark.table(table)

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        inputs_fp: str = "",
        params: dict | None = None,
        bucket_key: str | None = None,
        n_buckets: int = 8,
        sort_cols: tuple[str, ...] | None = None,
    ) -> StageResult:
        """Run (or resume) one stage. ``build`` produces the stage DataFrame;
        it is only invoked on a cache miss. ``bucket_key`` persists the output
        bucketed+sorted on that key (sources/catalog.write_bucketed_series),
        making every downstream groupBy/applyInPandas on the key shuffle-free
        — including after a resume."""
        data_path, lineage_path = self._paths(name)
        bucketing = (
            {
                "key": bucket_key,
                "n_buckets": n_buckets,
                "sort_cols": list(sort_cols or (bucket_key, "t")),
            }
            if bucket_key
            else None
        )
        key = {
            "stage": name,
            "inputs": inputs_fp,
            "job_params": self.params_fp,
            "params": _fingerprint(params or {}),
            "bucketing": bucketing,
        }
        if os.path.exists(lineage_path):
            with open(lineage_path) as fh:
                recorded = json.load(fh)
            if {k: recorded.get(k) for k in key} == key:
                return StageResult(self._read_stage(name, data_path, bucketing), True, 0.0)

        t0 = time.perf_counter()
        df = build()
        if bucketing:
            from pysatl_cpd_spark.sources.catalog import write_bucketed_series

            out = write_bucketed_series(
                df,
                self.table_name(name),
                n_buckets,
                key_col=bucket_key,
                sort_cols=tuple(bucketing["sort_cols"]),
                path=data_path,
            )
        else:
            df.write.mode("overwrite").parquet(data_path)
            out = read_parquet(self.spark, data_path, schema=df.schema)
        seconds = time.perf_counter() - t0

        n_rows = out.count()
        record = dict(
            key,
            rows=n_rows,
            partitions=out.rdd.getNumPartitions(),
            seconds=round(seconds, 3),
            finished_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        )
        tmp = lineage_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, lineage_path)  # atomic commit: stage is done
        self._append_metrics(record)
        return StageResult(out, False, seconds)

    def stage_fp(self, name: str) -> str:
        """Fingerprint of a completed stage (to key downstream stages on)."""
        _, lineage_path = self._paths(name)
        with open(lineage_path) as fh:
            return _fingerprint(json.load(fh))

    def _append_metrics(self, record: dict) -> None:
        with open(f"{self.root}/_metrics", "a") as fh:
            fh.write(json.dumps(record) + "\n")

    def run_chain(
        self, specs: list["StageSpec"], initial_fields: set[str] | None = None
    ) -> dict[str, StageResult]:
        """Validate then run a declared stage chain. Validation happens BEFORE
        any stage executes (the reference pipeline's config-time fail-fast,
        pipeline.py:79-151); each stage's ``build`` receives the dict of prior
        StageResults and its declared outputs are asserted against the actual
        DataFrame columns after it runs."""
        check_stage_chain(specs, initial_fields or set())
        results: dict[str, StageResult] = {}
        prior_fp = ""
        for spec in specs:
            res = self.stage(
                spec.name,
                lambda s=spec: s.build(results),
                inputs_fp=prior_fp,
                params=spec.params,
                bucket_key=spec.bucket_key,
                n_buckets=spec.n_buckets,
                sort_cols=spec.sort_cols,
            )
            declared = _published(spec.outputs)
            actual = set(res.df.columns)
            missing = declared - actual
            if missing:
                raise KeyError(
                    f"stage '{spec.name}' declared outputs {sorted(missing)} "
                    f"absent from its actual schema {sorted(actual)}"
                )
            results[spec.name] = res
            prior_fp = self.stage_fp(spec.name)
        return results


# -- declared stage chains with config-time compatibility validation ----------


@dataclass
class StageSpec:
    """A pipeline step with declared data fields (reference step.py field
    declaration + rename maps): ``inputs`` is a set of required field names or
    a rename map {available_name: local_name}; ``outputs`` is a set of
    published field names or a rename map {local_name: published_name}."""

    name: str
    build: Callable[[dict], DataFrame]
    inputs: set | dict = field(default_factory=set)
    outputs: set | dict = field(default_factory=set)
    params: dict | None = None
    # bucketed persistence (shuffle-free downstream groupBy, incl. on resume)
    bucket_key: str | None = None
    n_buckets: int = 8
    sort_cols: tuple[str, ...] | None = None


def _required(inputs: set | dict) -> set[str]:
    return set(inputs.keys()) if isinstance(inputs, dict) else set(inputs)


def _published(outputs: set | dict) -> set[str]:
    return set(outputs.values()) if isinstance(outputs, dict) else set(outputs)


def check_stage_chain(specs: list[StageSpec], initial_fields: set[str] | None = None) -> None:
    """The reference pipeline's step-compatibility law (_check_two_steps,
    pipeline.py:79-151): walking the chain, every stage's declared inputs must
    be covered by the accumulated outputs of prior stages (plus
    ``initial_fields``); fail at job-build time with the exact missing set
    instead of at runtime inside Spark."""
    available = set(initial_fields or set())
    for spec in specs:
        missing = _required(spec.inputs) - available
        if missing:
            raise KeyError(
                f"stage '{spec.name}' requires fields {sorted(missing)} not produced by "
                f"any prior stage; available here: {sorted(available)}. Rename a prior "
                f"stage's outputs or fix the chain order."
            )
        available |= _published(spec.outputs)
