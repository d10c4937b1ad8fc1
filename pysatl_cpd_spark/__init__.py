"""pysatl_cpd_spark — a from-scratch, PySpark-native time-series CPD + rollup engine.

Re-expresses the query/data-processing capabilities of the reference
``Wenderlog/pysatl-cpd`` library (read-only at ``/root/reference``) in idiomatic
Spark: the relational spine (scans, rollup aggregates, gap-fill, joins, top-k,
retention pruning) is declarative DataFrame/SQL handled by Catalyst; the
non-relational CPD math (BOCPD run-length posteriors, CUSUM, classification /
kNN / graph / density-ratio statistics) lives in vectorized numpy kernels
applied per complete, ordered series on one co-located mapInArrow runner
(operators/colocated.py).

Layout:
    detectors/   pure-numpy CPD kernels (no Spark imports; unit-testable)
    operators/   Spark DataFrame operators (CPD apply, scrubber windows,
                 rollup tiers, gap-fill, Gorilla codec, metrics, dedup,
                 similarity search)
    functions/   column-level text/quality functions (JVM-side F.* exprs)
    sources/     deterministic synthesis (transcripts, distributions) + IO
    streaming/   Structured Streaming stateful online CPD
    plans/       lineage + checkpoint/resume helpers
"""

__version__ = "0.1.0"
