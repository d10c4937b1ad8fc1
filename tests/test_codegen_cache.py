"""Warm queries compile nothing: once a query has run, its whole-stage
generated classes stay in Spark's generated-code cache, so running it again
compiles 0 classes (counted by session.codegen_compiles). With Spark's
default cache of 100 entries a query_mix pass, which needs about 220
classes, recompiled every one of them on every pass."""

import pytest

import __spark_entry__ as entry
from bench import HEADLINE
from pysatl_cpd_spark.session import codegen_compiles

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def second_pass_compiles(spark):
    """Every queries() entry run twice in the same order (about two minutes on
    4 cores); returns the classes each compiled in the second pass."""
    queries = entry.queries()

    def one_pass() -> dict[str, int]:
        compiled = {}
        for name, fn in queries.items():
            c0 = codegen_compiles(spark)
            fn(spark, SF).write.format("noop").mode("overwrite").save()
            compiled[name] = codegen_compiles(spark) - c0
        return compiled

    first = one_pass()
    assert sum(first.values()) > 0  # the counter counts
    return one_pass()


def test_warm_query_mix_compiles_nothing(second_pass_compiles):
    """The benchmark's query mix: bench.py's headline queries plus the
    flagship."""
    mix = [*HEADLINE, "transcripts_cpd_rollup"]
    assert {name: second_pass_compiles[name] for name in mix} == dict.fromkeys(mix, 0)


# Entries whose plan can differ between two runs of the same query, so a
# warm run may compile the other plan's classes. Each was seen compiling in
# some of 22 warm passes over every entry at sf0.001; no other entry did.
RUN_VARIANT = {
    # adaptive execution picks a join's strategy or build side when the first
    # of its inputs finishes, and which input that is varies from run to run
    "dedup_clusters": "broadcast or sort-merge join in a label-propagation round",
    "theta_user_overlap": "build side of the click/view sketch join",
}


def test_warm_queries_compile_nothing(second_pass_compiles):
    """Every other queries() entry, including those whose adaptive plans
    number their codegen stages differently from run to run."""
    compiled = {k: v for k, v in second_pass_compiles.items() if v and k not in RUN_VARIANT}
    assert compiled == {}
