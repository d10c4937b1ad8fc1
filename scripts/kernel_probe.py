"""Kernel-only 8-vs-32 scaling probe: the REAL lockstep detect kernel on the
REAL series (same parquet the scaling bench reads), pure multiprocessing —
no Spark, no Arrow serde, no scan. Decomposes the isolated-pair detect gap:
if the bare kernel itself scales like the end-to-end detect stage, the gap
is the kernel's own memory-bandwidth demand (2D lane batches), not serde.

Interleaved min-of-N, each level adjacent to the same numpy ceiling probe
scaling_bench uses. Prereq: /tmp/scaling_series.parquet from
scripts/scaling_bench.py's prep step.

Measured round 7 (9.6M pts): kernel-only 31.54 s @ 8 workers vs 8.92 s
@ 32 → raw 8→32 efficiency 0.884, normalized 0.987 against the adjacent
ceiling, 1.075M pts/s at 32 workers — the detector kernel itself scales;
the end-to-end gap is the JVM scan/serde/scheduling share (see BENCH.md
round-7 decomposition).

Usage: python scripts/kernel_probe.py [reps]
"""

import ctypes
import json
import multiprocessing as mp
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

try:
    libc = ctypes.CDLL("libc.so.6", use_errno=True)
    libc.mallopt(ctypes.c_int(-3), ctypes.c_int(1 << 30))
    libc.mallopt(ctypes.c_int(-1), ctypes.c_int(1 << 30))
except Exception:
    pass

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

N_BUCKETS = 128
BUCKETS: "list[list[np.ndarray]]" = []


def load():
    t = pq.read_table("/tmp/scaling_series.parquet", columns=["series_id", "t", "value"])
    import pyarrow.compute as pc

    order = pc.sort_indices(
        t, sort_keys=[("series_id", "ascending"), ("t", "ascending")]
    )
    sid = pc.take(t.column("series_id"), order).combine_chunks()
    v = pc.take(t.column("value"), order).combine_chunks().to_numpy().astype(np.float64)
    codes = pc.dictionary_encode(sid).indices.to_numpy()
    bounds = np.flatnonzero(np.diff(codes)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [codes.shape[0]]))
    buckets = [[] for _ in range(N_BUCKETS)]
    for i, (s, e) in enumerate(zip(starts, ends)):
        buckets[i % N_BUCKETS].append(v[s:e])
    return buckets, int(v.shape[0]), len(starts)


def work(bi):
    from pysatl_cpd_spark.detectors.lockstep import LockstepLinearBOCPD

    factory = LockstepLinearBOCPD(
        rate=1.0 / (1.0 - 0.5 ** (1.0 / 500)),
        learning_sample_size=20,
        threshold=0.04,
        start_after=500,
        prep=250,
    )
    return sum(len(c) for c in factory.process_many(BUCKETS[bi]))


def ceiling_work(_):
    rng = np.random.default_rng(0)
    x = rng.normal(size=40000)
    acc = 0.0
    for i in range(1200):
        c = np.cumsum(x - x.mean() - 0.1)
        acc += float((c - np.minimum.accumulate(c)).max())
    return acc


def timed_map(pool, fn, args):
    t0 = time.perf_counter()
    pool.map(fn, args)
    return time.perf_counter() - t0


def main():
    global BUCKETS
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    BUCKETS, n_pts, n_series = load()
    print(f"# points={n_pts} series={n_series} buckets={N_BUCKETS}", flush=True)
    res = {"kernel8": [], "kernel32": [], "ceil8": [], "ceil32": []}
    pools = {}
    for n in (8, 32):
        pools[n] = mp.Pool(n)
        pools[n].map(work, range(n))  # warm
    for _ in range(reps):
        for n in (8, 32):
            res[f"kernel{n}"].append(round(timed_map(pools[n], work, range(N_BUCKETS)), 2))
            res[f"ceil{n}"].append(round(timed_map(pools[n], ceiling_work, range(n)), 3))
    for p in pools.values():
        p.terminate()
    mins = {k: min(v) for k, v in res.items()}
    eff = (mins["kernel8"] / mins["kernel32"]) / 4.0
    hw = mins["ceil8"] / mins["ceil32"]
    per_rep = [
        round(((k8 / k32) / 4.0) / (c8 / c32), 3)
        for k8, k32, c8, c32 in zip(
            res["kernel8"], res["kernel32"], res["ceil8"], res["ceil32"]
        )
    ]
    out = dict(
        res,
        kernel_eff_min=round(eff, 3),
        hw_ceiling_min=round(hw, 3),
        kernel_eff_normalized_min=round(min(eff / hw, 1.0), 3),
        kernel_eff_normalized_per_rep=per_rep,
        throughput32=round(n_pts / mins["kernel32"], 1),
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
