"""Encode-path twin of memprobe_colocated.py (round-8 verdict task 4).

encode_segments_colocated streams the same sorted partitions as the
streamed detect runner and additionally holds Gorilla OUTPUT buffers; the
round-8 four-point RSS table covered detect only. This probe measures the
encode stage: ONE partition holding a hot conversation (1M turns, a change
point every 10k turns) plus a growing number of normal neighbor series,
encode run per arm in a FRESH process, worker peak RSS emitted from inside
the UDF.

Arms:
- streamed: the shipped shape — iter_sorted_series one series at a time,
  per-segment encode_segment, flush every 8192 segments (the loop body of
  operators/segments.encode_segments_colocated.run).
- materialized: the pre-round-7 shape — whole-partition Arrow table +
  pandas sort + per-group numpy split (encode_segments_adaptive.run's
  memory behavior on one partition).

Usage: python scripts/memprobe_encode.py {streamed|materialized} <n_neighbors>
Prints one JSON line; results table in BENCH.md round-9 section.
"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HOT_TURNS = 1_000_000
NEIGHBOR_TURNS = 50_000
CP_EVERY = 10_000


def main():
    arm = sys.argv[1]
    n_neighbors = int(sys.argv[2])
    assert arm in ("streamed", "materialized")

    from pyspark.sql import SparkSession

    from pysatl_cpd_spark.session import _tune_allocator

    _tune_allocator()
    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"memprobe_encode_{arm}_{n_neighbors}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .getOrCreate()
    )

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
                    t = np.arange(lo, hi, dtype=np.int64)
                    cp = ((t % CP_EVERY) == 0) & (t > 0)
                    yield pa.record_batch(
                        [
                            pa.array([name] * (hi - lo), pa.string()),
                            pa.array(t, pa.int64()),
                            pa.array(rng.normal(size=hi - lo), pa.float64()),
                            pa.array(cp.astype(np.int64), pa.int64()),
                        ],
                        names=["series_id", "t", "value", "_cp"],
                    )

    series = (
        spark.range(0, n_neighbors + 1)
        .repartition(1)
        .mapInArrow(gen, "series_id string, t long, value double, _cp long")
        .repartition(1, "series_id")
        .sortWithinPartitions("series_id", "t")
    )

    def run_streamed(batches):
        import resource

        import numpy as np
        import pyarrow as pa

        from pysatl_cpd_spark.operators.colocated import iter_sorted_series
        from pysatl_cpd_spark.operators.gorilla import encode_segment

        n_segments = 0
        n_pts = 0
        blob_bytes = 0
        pending = 0
        for _sid, cols in iter_sorted_series(batches, ("t", "value", "_cp")):
            ts = cols["t"]
            values = cols["value"].astype(np.float64, copy=False)
            cp = cols["_cp"]
            bounds = np.flatnonzero(cp[1:] == 1) + 1
            n = ts.shape[0]
            n_pts += n
            blobs = []
            for lo, hi in zip(
                np.concatenate([[0], bounds]), np.concatenate([bounds, [n]])
            ):
                blobs.append(encode_segment(ts[lo:hi], values[lo:hi]))
                n_segments += 1
                pending += 1
                if pending >= 8192:  # flush_segments: drop the output buffer
                    blob_bytes += sum(len(b) for b in blobs)
                    blobs, pending = [], 0
            blob_bytes += sum(len(b) for b in blobs)
        peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        yield pa.record_batch(
            [
                pa.array([n_pts], pa.int64()),
                pa.array([n_segments], pa.int64()),
                pa.array([blob_bytes], pa.int64()),
                pa.array([peak], pa.float64()),
            ],
            names=["n_points", "n_segments", "blob_bytes", "maxrss_mb"],
        )

    def run_materialized(batches):
        import resource

        import numpy as np
        import pyarrow as pa

        from pysatl_cpd_spark.operators.gorilla import encode_segment

        batch_list = list(batches)
        n_pts = n_segments = blob_bytes = 0
        if batch_list:
            pdf = pa.Table.from_batches(batch_list).combine_chunks().to_pandas()
            pdf = pdf.sort_values(["series_id", "t"], kind="mergesort")
            sids = pdf["series_id"].to_numpy()
            ts = pdf["t"].to_numpy(dtype=np.int64)
            values = pdf["value"].to_numpy(dtype=np.float64)
            cp = pdf["_cp"].to_numpy(dtype=np.int64)
            n_pts = len(sids)
            new_series = np.empty(n_pts, dtype=bool)
            new_series[0] = True
            new_series[1:] = sids[1:] != sids[:-1]
            bounds = np.flatnonzero(new_series[1:] | (cp[1:] == 1)) + 1
            blobs = []
            for lo, hi in zip(
                np.concatenate([[0], bounds]), np.concatenate([bounds, [n_pts]])
            ):
                blobs.append(encode_segment(ts[lo:hi], values[lo:hi]))
                n_segments += 1
            blob_bytes = sum(len(b) for b in blobs)
        peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        yield pa.record_batch(
            [
                pa.array([n_pts], pa.int64()),
                pa.array([n_segments], pa.int64()),
                pa.array([blob_bytes], pa.int64()),
                pa.array([peak], pa.float64()),
            ],
            names=["n_points", "n_segments", "blob_bytes", "maxrss_mb"],
        )

    run = run_streamed if arm == "streamed" else run_materialized
    rows = series.mapInArrow(
        run, "n_points long, n_segments long, blob_bytes long, maxrss_mb double"
    ).collect()
    row = max(rows, key=lambda r: r.n_points)
    print(
        json.dumps(
            {
                "arm": arm,
                "n_neighbors": n_neighbors,
                "n_points": row.n_points,
                "n_segments": row.n_segments,
                "blob_mb": round(row.blob_bytes / 1048576.0, 1),
                "maxrss_mb": round(row.maxrss_mb, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
