"""Value parity with DuckDB inside tier-1: the events queries that run the
package's rollup, retention, gap-fill and CUSUM operators, each compared at
sf0.01 with its oracle_sql() twin by scripts/check_oracle.py's own
comparison (dtype drift, columns, row count, order-insensitive values)."""

import os
import sys

import pytest

import __spark_entry__ as entry

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from check_oracle import SF_DIR, compare, connect, normalize  # noqa: E402

OPERATOR_QUERIES = [
    "events_rollup_1m",
    "events_rollup_1h",
    "events_rollup_1d",
    "events_rollup_tiers",
    "rollup_retention",
    "events_gapfill",
    "cusum_scores",
    "cusum_first_alarms",
]


@pytest.fixture(scope="module")
def duck():
    return connect()


@pytest.fixture(scope="module")
def oracles():
    return entry.oracle_sql()


@pytest.fixture()
def both(spark, duck, oracles):
    """Runs a query on Spark and its oracle on DuckDB."""

    def run(name):
        got = entry.queries()[name](spark, SF_DIR).toPandas()
        return got, duck.execute(oracles[name]).df()

    return run


@pytest.mark.parametrize("name", OPERATOR_QUERIES)
def test_query_matches_its_oracle(both, name):
    got, want = both(name)
    assert len(want) > 0
    assert compare(got, want) == []


def test_a_perturbed_result_fails(both):
    """The comparison above is not vacuous: one cent on one bucket, a lost
    row or an int column turned float each fail it; row order does not."""
    got, want = both("rollup_retention")
    assert compare(got.iloc[::-1], want) == []
    assert normalize(got.iloc[::-1]).equals(normalize(got))

    one_cent = got.copy()
    one_cent.loc[0, "sum_value"] += 0.01
    assert compare(one_cent, want)[-1].startswith("VALUE MISMATCH in 1 rows")
    assert compare(got.iloc[1:], want) == [f"ROWCOUNT {len(got) - 1} vs {len(want)}"]
    drift = compare(got.astype({"n_points": "float64"}), want)
    assert drift and drift[0].startswith("DTYPE DRIFT col n_points")
