"""Interleaved A/B: round-6 (whole-partition combine_chunks + Python sort)
vs round-7 (JVM sortWithinPartitions + streaming per-series iteration)
colocated detect/encode on IDENTICAL cached input, same JVM, alternating
reps — the admissible serde-share evidence under the spread discipline
(measured round 7: detect 11.43 vs 11.45 s min, encode 6.30 vs 6.20 s at
local[32] on 9.6M pts — wall-neutral; the streamed path is kept for its
O(series) peak-memory bound, see BENCH.md).

Prereqs: /tmp/scaling_series.parquet from scripts/scaling_bench.py's prep,
and the round-6 segments module extracted once with
  git show 97c390f:pysatl_cpd_spark/operators/segments.py \
    > /tmp/oldmods/old_segments.py
(the old detect arm is small and inlined below).

Usage: python scripts/ab_colocated_serde.py [cores] [reps]
"""

import importlib.util
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from pysatl_cpd_spark.detectors.lockstep import LockstepLinearBOCPD  # noqa: E402
from pysatl_cpd_spark.operators.cpd import (  # noqa: E402
    CP_SCHEMA,
    _lockstep_arrow_table,
    _prepared,
    detect_lockstep_colocated,
)
from pysatl_cpd_spark.operators.segments import (  # noqa: E402
    encode_segments_colocated,
)
from pysatl_cpd_spark.session import get_spark  # noqa: E402

spec = importlib.util.spec_from_file_location(
    "old_segments", "/tmp/oldmods/old_segments.py"
)
old_segments = importlib.util.module_from_spec(spec)
spec.loader.exec_module(old_segments)


def old_detect(series_df, lockstep_factory):
    """Round-6 detect_lockstep_colocated: materialize the whole partition,
    pyarrow-sort it in Python, run the kernel once."""
    pruned = _prepared(series_df)

    def run(batches):
        import pyarrow as pa

        batch_list = list(batches)
        if not batch_list:
            return
        table = pa.Table.from_batches(batch_list).combine_chunks()
        out = _lockstep_arrow_table(table, lockstep_factory)
        yield from out.to_batches()

    return pruned.mapInArrow(run, CP_SCHEMA)


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(cores=cores, app_name="ab_serde", shuffle_partitions=128)
    series = spark.read.parquet("/tmp/scaling_series.parquet")
    series_c = series.repartition(128, "series_id").cache()
    n = series_c.count()
    factory = lambda: LockstepLinearBOCPD(  # noqa: E731
        rate=1.0 / (1.0 - 0.5 ** (1.0 / 500)),
        learning_sample_size=20,
        threshold=0.04,
        start_after=500,
        prep=250,
    )
    # fixed change points for the encode A/B — MATERIALIZED to parquet:
    # a .cache() here would plan-match the detect_new arm and turn it into
    # a cache read (observed: 0.36 s "detection")
    detect_lockstep_colocated(series_c, factory).write.mode("overwrite").parquet(
        "/tmp/ab_cps.parquet"
    )
    cps = spark.read.parquet("/tmp/ab_cps.parquet")
    n_cps = cps.count()
    print(f"# points={n} cps={n_cps} cores={cores}", flush=True)

    arms = {
        "detect_old": lambda: old_detect(series_c, factory).count(),
        "detect_new": lambda: detect_lockstep_colocated(series_c, factory).count(),
        "encode_old": lambda: old_segments.encode_segments_colocated(
            series_c, cps
        ).count(),
        "encode_new": lambda: encode_segments_colocated(series_c, cps).count(),
    }
    for fn in arms.values():  # warm every worker/codepath once
        fn()
    times = {k: [] for k in arms}
    for _ in range(reps):
        for k, fn in arms.items():  # interleaved: old/new alternate per rep
            t0 = time.perf_counter()
            fn()
            times[k].append(round(time.perf_counter() - t0, 2))
    out = {
        k: {"min": min(v), "med": sorted(v)[len(v) // 2], "all": v}
        for k, v in times.items()
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
