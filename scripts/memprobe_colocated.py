"""Measure the O(series) peak-memory claim of the streamed colocated runner.

operators/colocated.py asserts the streamed per-series iteration bounds
Python-side peak memory at O(one series) where the round-6 path
(``pa.Table.from_batches(...).combine_chunks()`` + Python sort + per-column
takes) held O(partition) x ~3 copies. This probe measures it: ONE partition
holding a hot conversation (1M turns) plus a growing number of normal
neighbor series, detect run per arm in a FRESH process (one job per
invocation, so ``ru_maxrss`` — the process-lifetime peak — is attributable
to the arm), worker peak RSS emitted as a metrics row from inside the UDF
(the instrumented-dispatch pattern).

Usage: python scripts/memprobe_colocated.py {streamed|materialized} <n_neighbors>
Prints one JSON line {"arm":..., "n_neighbors":..., "n_points":..., "maxrss_mb":...}.
Drive the sweep with scripts/memprobe_sweep.sh; results in BENCH.md.
"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HOT_TURNS = 1_000_000
NEIGHBOR_TURNS = 50_000


def main():
    arm = sys.argv[1]
    n_neighbors = int(sys.argv[2])
    assert arm in ("streamed", "materialized")

    from pyspark.sql import SparkSession

    from pysatl_cpd_spark.session import _tune_allocator

    _tune_allocator()
    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"memprobe_{arm}_{n_neighbors}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .getOrCreate()
    )

    # synthesize (series_id, t, value) batches executor-side — generation is
    # itself streaming (one batch at a time), so it cannot mask the arms'
    # memory behavior. series_id strings mimic conv ids (~12 chars).
    def gen(batches):
        import numpy as np
        import pyarrow as pa

        rng = np.random.default_rng(7)
        for batch in batches:
            for sid in batch.column(0).to_pylist():
                n = HOT_TURNS if sid == 0 else NEIGHBOR_TURNS
                name = f"conv-{sid:07d}"
                for lo in range(0, n, 500_000):
                    hi = min(lo + 500_000, n)
                    yield pa.record_batch(
                        [
                            pa.array([name] * (hi - lo), pa.string()),
                            pa.array(
                                np.arange(lo, hi, dtype=np.int64), pa.int64()
                            ),
                            pa.array(rng.normal(size=hi - lo), pa.float64()),
                        ],
                        names=["series_id", "t", "value"],
                    )

    series = (
        spark.range(0, n_neighbors + 1)
        .repartition(1)
        .mapInArrow(gen, "series_id string, t long, value double")
        .repartition(1, "series_id")  # ONE partition: the hot-day case
        .sortWithinPartitions("series_id", "t")
    )

    # CUSUM kernel (the contract flagship's detector): memory behavior is
    # what this probe measures and the Arrow/iterator paths are identical
    # per kernel; the linear-heuristic BOCPD cannot run this workload — its
    # reference-faithful far-back-localization assert fires on long pure
    # noise (found by this probe's first run; quirk pinned in
    # tests/test_lockstep.py::test_far_back_localization_quirk_parity)
    from pysatl_cpd_spark.detectors.cusum import LockstepCusum

    # rare-alarm parameters: each CUSUM alarm restarts a lockstep round over
    # the remaining tail, so flagship-style (k=0.05, h=2.0) on pure noise
    # alarms every ~10^2 points and turns a 1M-pt series quadratic; at
    # (k=0.5, h=8.0) alarms are rare and the scan is the O(n) pass whose
    # memory we want to observe
    factory = lambda: LockstepCusum(k=0.5, h=8.0)  # noqa: E731

    def run_streamed(batches):
        import resource

        import pyarrow as pa

        from pysatl_cpd_spark.operators.colocated import iter_sorted_series

        n_pts = 0
        n_cps = 0
        for _sid, cols in iter_sorted_series(batches, ("t", "value")):
            import numpy as np

            v = cols["value"].astype(np.float64, copy=False)
            n_pts += v.shape[0]
            n_cps += sum(len(c) for c in factory().process_many([v]))
        peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        yield pa.record_batch(
            [
                pa.array([n_pts], pa.int64()),
                pa.array([n_cps], pa.int64()),
                pa.array([peak], pa.float64()),
            ],
            names=["n_points", "n_cps", "maxrss_mb"],
        )

    def run_materialized(batches):
        import resource

        import pyarrow as pa

        from pysatl_cpd_spark.operators.cpd import _lockstep_arrow_table

        batch_list = list(batches)
        n_pts = 0
        n_cps = 0
        if batch_list:
            table = pa.Table.from_batches(batch_list).combine_chunks()
            n_pts = table.num_rows
            out = _lockstep_arrow_table(table, factory)
            n_cps = out.num_rows
        peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        yield pa.record_batch(
            [
                pa.array([n_pts], pa.int64()),
                pa.array([n_cps], pa.int64()),
                pa.array([peak], pa.float64()),
            ],
            names=["n_points", "n_cps", "maxrss_mb"],
        )

    run = run_streamed if arm == "streamed" else run_materialized
    rows = series.mapInArrow(
        run, "n_points long, n_cps long, maxrss_mb double"
    ).collect()
    row = max(rows, key=lambda r: r.n_points)  # the one loaded partition
    print(
        json.dumps(
            {
                "arm": arm,
                "n_neighbors": n_neighbors,
                "n_points": row.n_points,
                "n_cps": row.n_cps,
                "maxrss_mb": round(row.maxrss_mb, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
