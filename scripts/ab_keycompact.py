"""Interleaved A/B: string-keyed vs dense-int-coded colocated detect/encode
on the 9.6M-pt scaling series (the round-7 kernel-only decomposition put
~20% of the 32-core detect stage in Arrow socket + scheduling; the string
series_id is the fat repeated column in those socket bytes — the coded arm
streams (int64, t, value) instead, collision-free via keycompact).

Both arms run on IDENTICAL pre-cached co-located input (the compaction
happens at the ingest repartition, where the one shuffle is paid anyway);
the one-time coding cost (dim factorization + broadcast join) is reported
separately. The coded arms include the broadcast re-attach of the string id
on the OUTPUT side, so both arms produce identical rows (asserted once).

Prereq: /tmp/scaling_series.parquet (scripts/scaling_bench.py prep).
Usage: python scripts/ab_keycompact.py [cores] [reps]
"""

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pysatl_cpd_spark.detectors.lockstep import LockstepLinearBOCPD  # noqa: E402
from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated  # noqa: E402
from pysatl_cpd_spark.operators.keycompact import (  # noqa: E402
    attach_series_id,
    compact_series_key,
)
from pysatl_cpd_spark.operators.segments import (  # noqa: E402
    encode_segments_colocated,
)
from pysatl_cpd_spark.session import get_spark  # noqa: E402


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(cores=cores, app_name="ab_keycompact", shuffle_partitions=128)
    series = spark.read.parquet("/tmp/scaling_series.parquet")

    series_str = series.repartition(128, "series_id").cache()
    n = series_str.count()

    t0 = time.perf_counter()
    series_cod, dim = compact_series_key(series, n_partitions=128)
    series_cod = series_cod.cache()
    n2 = series_cod.count()
    coding_sec = time.perf_counter() - t0
    assert n == n2

    factory = lambda: LockstepLinearBOCPD(  # noqa: E731
        rate=1.0 / (1.0 - 0.5 ** (1.0 / 500)),
        learning_sample_size=20,
        threshold=0.04,
        start_after=500,
        prep=250,
    )

    # fixed change points for the encode A/B, materialized (see ab_colocated_serde)
    detect_lockstep_colocated(series_str, factory).write.mode("overwrite").parquet(
        "/tmp/ab_cps.parquet"
    )
    cps_str = spark.read.parquet("/tmp/ab_cps.parquet")
    detect_lockstep_colocated(series_cod, factory, key_type="long").write.mode(
        "overwrite"
    ).parquet("/tmp/ab_cps_coded.parquet")
    cps_cod = spark.read.parquet("/tmp/ab_cps_coded.parquet")
    n_cps = cps_str.count()

    # one-time parity assertion: coded + re-attach == string rows
    got = {
        (r.series_id, r.change_point)
        for r in attach_series_id(cps_cod, dim).collect()
    }
    want = {(r.series_id, r.change_point) for r in cps_str.collect()}
    assert got == want, "coded path diverged"
    print(f"# points={n} cps={n_cps} cores={cores} coding_sec={coding_sec:.2f}",
          flush=True)

    arms = {
        "detect_str": lambda: detect_lockstep_colocated(series_str, factory).count(),
        "detect_coded": lambda: attach_series_id(
            detect_lockstep_colocated(series_cod, factory, key_type="long"), dim
        ).count(),
        "encode_str": lambda: encode_segments_colocated(series_str, cps_str).count(),
        "encode_coded": lambda: attach_series_id(
            encode_segments_colocated(
                series_cod, cps_cod, key_type="long"
            ),
            dim,
        ).count(),
    }
    for fn in arms.values():  # warm every worker/codepath once
        fn()
    times = {k: [] for k in arms}
    for _ in range(reps):
        for k, fn in arms.items():  # interleaved: arms alternate per rep
            t0 = time.perf_counter()
            fn()
            times[k].append(round(time.perf_counter() - t0, 2))
    out = {
        k: {"min": min(v), "med": sorted(v)[len(v) // 2], "all": v}
        for k, v in times.items()
    }
    out["coding_sec"] = round(coding_sec, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
