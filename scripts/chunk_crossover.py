"""Chunk-stitch crossover for the single-hot-series bound (round-8 verdict
task 5).

The streamed colocated runner is O(largest series) in WALL TIME too: one
10^8-turn conversation is one sequential kernel lane. The escape hatch
(chunk_series + stitch, operators/cpd.py) fans one series over many tasks
at the cost of an explode + shuffle + overlap recompute. This bench finds
where chunking starts to win: ONE hot series of N points, detect via

- colocated: detect_lockstep_colocated on a single partition (the shipped
  zero-exchange path — one sequential lane), vs
- chunked:   detect_offline_chunked(chunk_size, overlap) on local[32].

Both arms use the CUSUM detector in rare-alarm mode (k=0.5, h=8 — flagship
k/h on pure noise alarms every ~100 pts and turns the scan quadratic,
drowning the dispatch cost this bench isolates). The chunked arm's output
equals the plain arm's up to seam effects bounded by the overlap — the
correctness contract is pinned in tests/test_skew.py; THIS script measures
wall only.

Usage: python scripts/chunk_crossover.py [sizes_csv] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sizes = [int(s) for s in (sys.argv[1] if len(sys.argv) > 1 else
                              "1000000,4000000,16000000").split(",")]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pysatl_cpd_spark.detectors.cusum import CusumDetector, LockstepCusum
    from pysatl_cpd_spark.operators.cpd import (
        detect_lockstep_colocated,
        detect_offline_chunked,
    )
    from pysatl_cpd_spark.session import get_spark

    spark = get_spark(cores=32, app_name="chunk_crossover")

    def hot_series(n: int):
        def gen(batches):
            import numpy as np
            import pyarrow as pa

            rng = np.random.default_rng(7)
            for batch in batches:
                for _ in batch.column(0).to_pylist():
                    for lo in range(0, n, 500_000):
                        hi = min(lo + 500_000, n)
                        yield pa.record_batch(
                            [
                                pa.array(["hot"] * (hi - lo)),
                                pa.array(range(lo, hi), type=pa.int64()),
                                pa.array(rng.normal(size=hi - lo)),
                            ],
                            names=["series_id", "t", "value"],
                        )

        return (
            spark.range(0, 1)
            .repartition(1)
            .mapInArrow(gen, "series_id string, t long, value double")
        )

    # warm python workers
    df0 = hot_series(100_000).repartition(1, "series_id").cache()
    df0.count()
    detect_lockstep_colocated(df0, lambda: LockstepCusum(k=0.5, h=8.0)).count()
    detect_offline_chunked(
        df0, lambda: CusumDetector(k=0.5, h=8.0), chunk_size=200_000, overlap=2_000
    ).count()
    df0.unpersist()

    for n in sizes:
        df = hot_series(n).repartition(1, "series_id").cache()
        df.count()
        res = {"colocated": [], "chunked": []}
        for _ in range(reps):
            t0 = time.perf_counter()
            detect_lockstep_colocated(
                df, lambda: LockstepCusum(k=0.5, h=8.0)
            ).count()
            res["colocated"].append(round(time.perf_counter() - t0, 2))
            t0 = time.perf_counter()
            detect_offline_chunked(
                df, lambda: CusumDetector(k=0.5, h=8.0),
                chunk_size=200_000, overlap=2_000,
            ).count()
            res["chunked"].append(round(time.perf_counter() - t0, 2))
        print(json.dumps({
            "n_points": n,
            "colocated_min": min(res["colocated"]),
            "chunked_min": min(res["chunked"]),
            "colocated": res["colocated"],
            "chunked": res["chunked"],
        }), flush=True)
        df.unpersist()


if __name__ == "__main__":
    main()
