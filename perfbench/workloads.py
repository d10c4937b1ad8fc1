"""The timed operations: the nine-step transcript rollup job and one pass of
the query mix. Both call only public package functions. With tracing on, a
span wraps each layer's call, and a lazy layer's output is cached and counted
at its span boundary so the span holds that layer's work."""

from __future__ import annotations

import functools
import os
import time

from pyspark.sql import functions as F

# bench.py's flagship detector parameters
DETECTOR = {
    "rate": 1.0 / (1.0 - 0.5 ** (1.0 / 500)),
    "learning_sample_size": 20,
    "threshold": 0.04,
    "start_after": 500,
    "prep": 250,
}

# bench.py's HEADLINE queries plus the oracle-checked flagship, in pass order
QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "events_rollup_1m",
    "events_rollup_1h",
    "events_sessionize",
    "events_gapfill",
    "cusum_scores",
    "top_events_per_user",
    "shingle_jaccard",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "embeddings_cosine_topk",
    "cpd_bocpd_offline",
    "cpd_linear_heuristic",
    "cpd_cusum_localized",
    "gorilla_roundtrip",
    "transcripts_cpd_rollup",
)

# input tables each mix query scans; the flagship synthesizes its own input
QUERY_INPUTS = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "shingle_jaccard": ("documents",),
    "minhash_lsh_pairs": ("documents",),
    "simhash_pairs": ("documents",),
    "embeddings_cosine_topk": ("embeddings",),
    "transcripts_cpd_rollup": (),
}


def query_input_rows(name: str, rows: dict[str, int]) -> int:
    return sum(rows[t] for t in QUERY_INPUTS.get(name, ("events",)))


def make_detector():
    """Detector factory for the job; a partial over the package class, so the
    Python workers unpickle it without importing the benchmark's modules."""
    from pysatl_cpd_spark.detectors import LockstepLinearBOCPD

    return functools.partial(LockstepLinearBOCPD, **DETECTOR)


class Materializer:
    """When tracing, caches a layer's output and computes it in full through
    the `noop` sink (no extra exchange); a no-op otherwise. Row counts are
    taken at release, after the spans have closed."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.cached: dict = {}

    def __call__(self, name: str, df):
        if not self.enabled:
            return df
        df = df.cache()
        df.write.format("noop").mode("overwrite").save()
        self.cached[name] = df
        return df

    def release(self) -> dict[str, int]:
        counts = {name: df.count() for name, df in self.cached.items()}
        for df in self.cached.values():
            df.unpersist()
        return counts


def rollup_job(spark, input_dir: str, out_dir: str, tracer) -> tuple[list[float], dict[str, int]]:
    """Read -> project -> repartition -> turn-rate series -> lockstep BOCPD ->
    Gorilla segments -> write segments -> 1m/1h/1d rollup (1m base table) ->
    retention -> write the 1h and 1d tiers. Returns the wall seconds of the
    two tier writes, which are the job's queries over its stored 1m table,
    and the row count of each layer output counted while tracing."""
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
    from pysatl_cpd_spark.operators.rollup import (
        DEFAULT_TIERS,
        apply_retention,
        rollup_all_tiers,
    )
    from pysatl_cpd_spark.operators.segments import encode_segments_colocated
    from pysatl_cpd_spark.operators.series import turn_rate_series

    span, keep = tracer.span, Materializer(tracer.enabled)
    actions: list[float] = []
    n_parts = spark.sparkContext.defaultParallelism
    with span("job"):
        with span("series"):
            tr = (
                spark.read.parquet(os.path.join(input_dir, "transcripts"))
                .select("conv_id", "turn_idx", "ts")
                .repartition(n_parts, "conv_id")
            )
            series = keep("series", turn_rate_series(tr))
        with span("detect"):
            cps = keep("detect", detect_lockstep_colocated(series, make_detector()))
        with span("encode"):
            segments = keep("encode", encode_segments_colocated(series, cps))
        with span("sink.segments"):
            segments.write.parquet(os.path.join(out_dir, "segments"))
        with span("rollup.1m"):
            tiers = rollup_all_tiers(
                tr.select("conv_id", "ts", F.lit(1.0).alias("value")),
                ["conv_id"],
                base_table_path=os.path.join(out_dir, "tier_1m"),
            )
        by_name = {t.name: t for t in DEFAULT_TIERS}
        kept = {}
        for name in ("1h", "1d"):
            with span(f"rollup.{name}"):
                kept[name] = keep(f"rollup.{name}", tiers[name])
        with span("rollup.retention"):
            for name in ("1h", "1d"):
                kept[name] = keep(
                    f"retention.{name}", apply_retention(kept[name], by_name[name])
                )
        with span("sink.tiers"):
            for name in ("1h", "1d"):
                path = os.path.join(out_dir, f"tier_{name}")
                t0 = time.perf_counter()
                kept[name].write.parquet(path)
                actions.append(time.perf_counter() - t0)
    return actions, keep.release()


def query_pass(spark, input_dir: str, tracer, queries) -> dict[str, float]:
    """One pass over the mix; each query goes to the `noop` sink so every
    column is computed. Returns seconds per query."""
    times: dict[str, float] = {}
    for name in QUERY_MIX:
        with tracer.span(f"query.{name}"):
            t0 = time.perf_counter()
            queries[name](spark, input_dir).write.format("noop").mode("overwrite").save()
            times[name] = time.perf_counter() - t0
    return times
