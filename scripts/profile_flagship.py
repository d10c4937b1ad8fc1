"""Per-stage timing of bench.py's run_flagship pipeline (guide §1: measure
first). Replicates the frozen harness's stages exactly, but materializes each
one separately through count()/noop so the time of synthesis+ingest, series
window, detect, encode, and every rollup tier is visible on its own.

Usage: python scripts/profile_flagship.py [n_convs] [avg_turns] [reps]
Env: SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from pysatl_cpd_spark.detectors.lockstep import LockstepLinearBOCPD  # noqa: E402
from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated  # noqa: E402
from pysatl_cpd_spark.operators.rollup import rollup_all_tiers  # noqa: E402
from pysatl_cpd_spark.operators.segments import encode_segments_colocated  # noqa: E402
from pysatl_cpd_spark.operators.series import turn_rate_series  # noqa: E402
from pysatl_cpd_spark.session import get_spark  # noqa: E402
from pysatl_cpd_spark.sources.transcripts import transcripts_table  # noqa: E402


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 1500
    avg_turns = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cores=cores, app_name="profile_flagship")
    sc = spark.sparkContext

    # warm Python workers / Arrow / JIT like bench.py does
    tr0 = transcripts_table(
        spark, n_conversations=64, avg_turns=100, seed=42, with_text=False
    ).select("conv_id", "turn_idx", "ts")
    tr0 = tr0.repartition(sc.defaultParallelism, "conv_id").cache()
    s0 = turn_rate_series(tr0).cache()
    detect_lockstep_colocated(s0, lambda: LockstepLinearBOCPD(
        rate=1.0 / (1.0 - 0.5 ** (1.0 / 500)), learning_sample_size=20,
        threshold=0.04, start_after=500, prep=250)).count()
    encode_segments_colocated(s0, spark.createDataFrame(
        [], "series_id string, change_point long")).count()
    s0.unpersist(); tr0.unpersist()

    for rep in range(reps):
        stages: dict[str, float] = {}

        def timed(name, fn):
            sc.setJobDescription(name)
            t0 = time.perf_counter()
            r = fn()
            stages[name] = round(time.perf_counter() - t0, 3)
            sc.setJobDescription(None)
            return r

        t_all = time.perf_counter()
        tr = (
            transcripts_table(
                spark, n_conversations=n_convs, avg_turns=avg_turns,
                seed=42, with_text=False,
            )
            .select("conv_id", "turn_idx", "ts")
            .repartition(sc.defaultParallelism, "conv_id")
            .cache()
        )
        timed("1_synth+ingest+cache", lambda: tr.count())
        series = turn_rate_series(tr).cache()
        timed("2_series_window+cache", lambda: series.count())
        factory = lambda: LockstepLinearBOCPD(  # noqa: E731
            rate=1.0 / (1.0 - 0.5 ** (1.0 / 500)),
            learning_sample_size=20, threshold=0.04,
            start_after=500, prep=250,
        )
        cps = timed("3_detect", lambda: detect_lockstep_colocated(series, factory))
        # bench counts encoded (detect plan is consumed inside it)
        timed("3+4_detect+encode", lambda: encode_segments_colocated(series, cps).count())
        # the 1m parquet write is EAGER inside rollup_all_tiers — time the call
        tiers = timed("5a_rollup_1m_write", lambda: rollup_all_tiers(
            tr.select("conv_id", "ts", F.lit(1.0).alias("value")),
            ["conv_id"], base_table_path="/tmp/prof_rollup_1m.parquet",
        ))
        timed("5b_rollup_1m_sum", lambda: int(
            tiers["1m"].agg(F.sum("n_points")).collect()[0][0]))
        timed("6_rollup_1h", lambda: tiers["1h"].count())
        timed("7_rollup_1d", lambda: tiers["1d"].count())
        series.unpersist(); tr.unpersist()
        total = round(time.perf_counter() - t_all, 3)
        print(f"rep{rep} total={total} " + " ".join(
            f"{k}={v}" for k, v in stages.items()), flush=True)


if __name__ == "__main__":
    main()
