"""End-to-end engine job with lineage + exact resume — the Spark analogue of
the reference benchmarking Pipeline (generation → detection → rollup →
report), run twice to demonstrate stage skipping.

Usage: python scripts/run_pipeline.py [workdir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from pysatl_cpd_spark.detectors import (  # noqa: E402
    ArgmaxLocalizer,
    BayesianLinearHeuristic,
    BayesianOnlineDetector,
    ConstantHazard,
    HeuristicGaussianVsExponential,
    ThresholdDetector,
)
from pysatl_cpd_spark.operators.cpd import (  # noqa: E402
    detect_lockstep_colocated,
    sequential,
)
from pysatl_cpd_spark.operators.metrics import confusion_matrix  # noqa: E402
from pysatl_cpd_spark.operators.rollup import rollup_tier  # noqa: E402
from pysatl_cpd_spark.operators.segments import encode_segments_colocated  # noqa: E402
from pysatl_cpd_spark.operators.series import turn_rate_series  # noqa: E402
from pysatl_cpd_spark.plans.lineage import CheckpointedJob, StageSpec  # noqa: E402
from pysatl_cpd_spark.session import get_spark  # noqa: E402
from pysatl_cpd_spark.sources.transcripts import (  # noqa: E402
    expected_change_points,
    synthesize_transcripts,
)


def run(workdir: str) -> None:
    spark = get_spark(app_name="pysatl_cpd_pipeline")
    job = CheckpointedJob(spark, workdir, {"seed": 42, "n_conv": 200, "turns": 300})

    def gen_stage(_):
        return synthesize_transcripts(spark, n_conversations=200, avg_turns=300, seed=42)

    def series_stage(res):
        return turn_rate_series(res["generate"].df.drop("is_cp"))

    def detect_stage(res):
        return detect_lockstep_colocated(
            res["series"].df,
            sequential(lambda: BayesianLinearHeuristic(
                lambda: BayesianOnlineDetector(
                    ConstantHazard(1.0 / (1.0 - 0.5 ** (1.0 / 500))),
                    HeuristicGaussianVsExponential(),
                    20,
                    ThresholdDetector(0.04),
                    ArgmaxLocalizer(),
                ),
                500,
                250,
            )),
        )

    def segments_stage(res):
        return encode_segments_colocated(res["series"].df, res["detect"].df)

    def rollup_stage(res):
        return rollup_tier(
            res["generate"].df.select("conv_id", "ts", F.lit(1.0).alias("value")),
            "1h",
            ["conv_id"],
        )

    def report_stage(res):
        return confusion_matrix(res["detect"].df, expected_change_points(res["generate"].df))

    # declared chain: inputs/outputs are validated BEFORE any stage runs
    # (reference pipeline.py:79-151 _check_two_steps / step.py rename maps)
    specs = [
        StageSpec(
            "generate",
            gen_stage,
            inputs=set(),
            outputs={"conv_id", "turn_idx", "role", "text", "tool", "ts", "is_cp"},
        ),
        StageSpec(
            # bucketed by series: the detect/segments runners downstream
            # read this stage SHUFFLE-FREE, on first run and on resume
            "series",
            series_stage,
            inputs={"conv_id", "turn_idx", "ts"},
            outputs={"series_id", "t", "value"},
            bucket_key="series_id",
            n_buckets=8,
        ),
        StageSpec(
            "detect",
            detect_stage,
            inputs={"series_id", "t", "value"},
            outputs={"series_id", "change_point"},
        ),
        StageSpec(
            "segments",
            segments_stage,
            inputs={"series_id", "change_point", "t", "value"},
            outputs={"series_id", "segment_id", "n_points"},
        ),
        StageSpec(
            "rollup_1h",
            rollup_stage,
            inputs={"conv_id", "ts"},
            outputs={"bucket", "n_points"},
        ),
        StageSpec(
            "report",
            report_stage,
            inputs={"series_id", "change_point"},
            outputs={"series_id", "precision", "recall"},
        ),
    ]
    results = job.run_chain(specs)
    for name, res in results.items():
        print(f"{name}: skipped={res.skipped} rows={res.df.count()}")
    results["report"].df.select(
        F.count(F.lit(1)).alias("series"),
        F.avg("precision").alias("avg_precision"),
        F.avg("recall").alias("avg_recall"),
    ).show()


if __name__ == "__main__":
    workdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pysatl_cpd_pipeline"
    run(workdir)
    print("--- second invocation (resume) ---")
    run(workdir)
