"""Plan shape of every queries() entry that runs a CPD or segment operator:
the number of shuffle exchanges in the final adaptive plan after an sf0.001
run may not rise. The pins are the counts measured before the per-series
runner (operators/colocated.py) replaced the salted grouped-map
dispatchers, with this suite's session (4 cores, 4 shuffle partitions).
Cached subplans are printed inside their InMemoryRelation and count too."""

import re

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

SHUFFLES_BEFORE_RUNNER = {
    "gorilla_roundtrip": 6,
    "cpd_bocpd_offline": 2,
    "cpd_bocpd_online": 2,
    "cpd_linear_heuristic": 2,
    "cpd_cusum_localized": 2,
    "cpd_classification": 6,
    "cpd_knn": 3,
    "cpd_knn_multivariate": 4,
    "cpd_graph": 6,
    "cpd_kliep": 6,
    "cpd_rulsif": 6,
    "cpd_detect_counts": 4,
    "transcripts_cpd_rollup": 39,
    "transcripts_segment_gapfill": 80,
    "cpd_bocpd_offline_counts": 4,
    "cpd_colocated_metrics": 12,
    "transcripts_cpd_rollup_coded": 26,
}


def _shuffles(plan: str) -> int:
    return sum(
        1
        for line in plan.splitlines()
        if re.search(r"\b(Exchange|ReusedExchange) ", line)
        and "BroadcastExchange" not in line
    )


@pytest.mark.parametrize("name", sorted(SHUFFLES_BEFORE_RUNNER))
def test_cpd_query_gains_no_exchange(spark, name):
    df = entry.queries()[name](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan or "AdaptiveSparkPlan" not in plan
    assert _shuffles(plan) <= SHUFFLES_BEFORE_RUNNER[name], plan[:1500]
