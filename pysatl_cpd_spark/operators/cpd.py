"""Distributed change-point detection over keyed series.

Every detector runs through the one co-located runner
(``operators/colocated.py::map_series``): co-locate the series on their
key, sort each partition by ``(key, t)`` in the JVM, stream complete series
into a ``process_many(list[np.ndarray]) -> list[list[int]]`` kernel in
flush-sized batches, and emit (series_id, change_point) rows with
series-local indices remapped to the carried global index column (the
reference's index-remap law, cpd_core.py:41). Per-series kernels
(``localize`` / ``process_series``) enter through ``sequential``.

The variation between detector families is only the key and the emit:

  - whole series: key ``series_id``; points, counts or instrumented rows;
  - scrubber windows: key ``(series_id, window_id)`` (``assign_windows``);
  - hot-key chunks: key ``(series_id, chunk_id)`` (``chunk_series``) so one
    giant conversation fans out over many tasks; chunk windows overlap by
    the detector's horizon and detections are deduped on the absolute
    index, so the stitch is exact;
  - vector observations: a list column, read as an ``(n, dim)`` matrix.

``detect_lockstep_colocated`` remembers which series and factory produced
its result (``detection_of``). ``segments.encode_segments_colocated`` uses
that record to run the detector inside its own pass when it encodes the
same series with those change points, so detect -> encode costs one Python
pass per series. Detector factories must be deterministic: a detection may
be computed more than once.
"""

from __future__ import annotations

import time
from types import SimpleNamespace
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F

from pysatl_cpd_spark.operators.colocated import map_series


def _prepared(series_df: DataFrame) -> DataFrame:
    # manual column pruning: the UDF barrier hides this from Catalyst
    return series_df.select("series_id", "t", "value")


def _run_one(detector, values: np.ndarray) -> "list[int]":
    if hasattr(detector, "process_series"):
        return detector.process_series(values)
    return detector.localize(values)


def sequential(factory: "Callable[[], object]") -> "Callable[[], object]":
    """Lift a per-series kernel (``process_series``, else window
    ``localize``) to the ``process_many`` contract, a fresh detector per
    series."""
    many = lambda series: [_run_one(factory(), v) for v in series]  # noqa: E731
    return lambda: SimpleNamespace(process_many=many)


def _values(batch) -> "list[np.ndarray]":
    return [a["value"].astype(np.float64, copy=False) for _, a in batch]


def _remap(t: np.ndarray, cps: "list[int]") -> "list[int]":
    """Series-local indices -> the carried global ``t``. A fire localized
    past the last observation has no ``t`` and is dropped."""
    return [int(t[c]) for c in cps if c < t.shape[0]]


def _points(factory: "Callable[[], object]"):
    """Emit: one (series_id, change_point) row per localized change point."""

    def emit(batch):
        all_cps = factory().process_many(_values(batch))
        remapped = [_remap(a["t"], cps) for (_, a), cps in zip(batch, all_cps)]
        return [len(r) for r in remapped], {
            "change_point": [c for r in remapped for c in r]
        }

    return emit


# Kept in the DataFrame's own __dict__, read with vars(): DataFrame.__getattr__
# resolves an unknown name as a column, which costs a schema round trip.
_DETECTION = "_pysatl_detection"


def detect_lockstep_colocated(
    series_df: DataFrame,
    lockstep_factory: "Callable[[], object]",
    flush_points: int = 4_000_000,
) -> DataFrame:
    """(series_id, t, value) -> (series_id, change_point), where
    change_point is the global ``t`` of each detected index.

    ``lockstep_factory`` -> an object with ``process_many(list[np.ndarray])
    -> list[list[int]]`` (``LockstepLinearBOCPD``, ``LockstepCusum``,
    ``LockstepBayesianOffline``, or ``sequential(factory)``). Series
    accumulate into kernel calls of ~``flush_points`` points, so a
    cross-series kernel keeps its amortization while peak memory stays
    bounded by the flush size. Kernel lanes are independent, so batch
    composition never changes a series' output. ``series_id`` may be a
    string or a ``long``; the output key has the input's type.

    The result remembers ``(series_df, lockstep_factory)`` (see
    ``detection_of``), so ``encode_segments_colocated(series_df, result)``
    can run this detection inside its own pass instead of joining the
    change points back. The factory must therefore be deterministic, as
    Spark also assumes when it recomputes a lost or uncached result."""
    out = map_series(
        series_df, ["series_id"], ["t", "value"], _points(lockstep_factory),
        "change_point long", flush_points,
    )
    vars(out)[_DETECTION] = (series_df, lockstep_factory)
    return out


def detection_of(cps_df: DataFrame) -> "tuple[DataFrame, Callable[[], object]] | None":
    """``(series_df, factory)`` when ``cps_df`` is the DataFrame that
    ``detect_lockstep_colocated(series_df, factory)`` returned, else None.
    A DataFrame derived from it (select, filter, join, ...) is a new object
    and carries no record."""
    return vars(cps_df).get(_DETECTION)


def detect_counts_lockstep(
    series_df: DataFrame, lockstep_factory: "Callable[[], object]"
) -> DataFrame:
    """Detection-count mode (reference CpdCore.detect / OnlineCpdSolver.run
    detect path): one ``(series_id, n_change_points)`` row per series,
    zero-count series included, which a groupBy-count over the change-point
    rows would silently drop. Counts are RAW FIRE COUNTS,
    ``len(process_many([values])[0])``: the reference's count mode sums every
    ``detect()`` fire, so unlike the localized emit no ``c < len`` cut is
    applied. A posterior-collapse fire at a series' final observation
    (only reachable with overflow-magnitude values) therefore counts, as it
    does sequentially."""

    def emit(batch):
        all_cps = lockstep_factory().process_many(_values(batch))
        return [1] * len(batch), {"n_change_points": [len(c) for c in all_cps]}

    return map_series(
        series_df, ["series_id"], ["t", "value"], emit, "n_change_points long"
    )


def detect_colocated_instrumented(
    series_df: DataFrame, lockstep_factory: "Callable[[], object]"
) -> DataFrame:
    """Detection with per-series lineage + metrics rows (north-rule: every
    unit of work emits lineage + metrics): (series_id, partition_id,
    n_points, n_change_points, kernel_ms, change_points). ``partition_id``
    is the partition that processed the series (per-partition lineage for
    exact resume bookkeeping).

    Per-series ``kernel_ms`` needs one kernel call per series, so this
    emit trades the cross-series amortization for attribution. Use
    ``detect_lockstep_colocated`` when only detections are needed."""

    def emit(batch):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        out = {k: [] for k in (
            "n_points", "n_change_points", "kernel_ms", "change_points",
        )}
        for v, (_, a) in zip(_values(batch), batch):
            t0 = time.perf_counter()
            cps = lockstep_factory().process_many([v])[0]
            out["kernel_ms"].append((time.perf_counter() - t0) * 1000.0)
            remapped = _remap(a["t"], cps)
            out["n_points"].append(int(v.shape[0]))
            out["n_change_points"].append(len(remapped))
            out["change_points"].append(remapped)
        return [1] * len(batch), dict(out, partition_id=[pid] * len(batch))

    return map_series(
        series_df, ["series_id"], ["t", "value"], emit,
        "partition_id int, n_points long, n_change_points long, "
        "kernel_ms double, change_points array<long>",
    )


def detect_offline_multivariate(
    series_df: DataFrame, algorithm_factory: "Callable[[], object]"
) -> DataFrame:
    """Multivariate variant: series_df is (series_id, t, vec array<double>).
    Each series reaches the kernel as an (n, dim) matrix, for detectors
    that accept vector observations (classification / kNN / graph
    families)."""
    return map_series(
        series_df.withColumnRenamed("vec", "value"), ["series_id"],
        ["t", "value"], _points(sequential(algorithm_factory)),
        "change_point long",
    )


# -- scrubber: overlapping sliding windows as a relational transform ---------


def assign_windows(
    series_df: DataFrame,
    window_length: int = 100,
    shift_factor: float = 1.0 / 3.0,
) -> DataFrame:
    """LinearScrubber law as arithmetic (reference linear.py:37-53): hop
    ``shift = max(1, int(window_length*shift_factor))``; window k covers
    per-series positions [k*shift, k*shift + window_length). A row whose dense
    position is p lands in every k in [ceil((p-window_length+1)/shift),
    floor(p/shift)] — produced with sequence+explode, no UDF.

    Returns (series_id, window_id, pos, t, value); ``pos`` is the dense
    per-series position, carried so downstream can remap window-local indices.
    """
    shift = max(1, int(window_length * shift_factor))
    w = W.partitionBy("series_id").orderBy("t")
    with_pos = _prepared(series_df).withColumn("pos", F.row_number().over(w) - F.lit(1))
    k_min = F.greatest(
        F.lit(0),
        F.ceil((F.col("pos") - F.lit(window_length - 1)) / F.lit(shift)).cast("long"),
    )
    k_max = F.floor(F.col("pos") / F.lit(shift)).cast("long")
    return with_pos.withColumn(
        "window_id", F.explode(F.sequence(k_min, k_max))
    ).select("series_id", "window_id", "pos", "t", "value")


def detect_windowed(
    series_df: DataFrame,
    algorithm_factory: "Callable[[], object]",
    window_length: int = 100,
    shift_factor: float = 1.0 / 3.0,
    dedupe: bool = True,
) -> DataFrame:
    """Offline detector over scrubber windows (the reference CpdCore.localize
    composition): window-local detections are remapped via the carried global
    index and concatenated; overlapping windows re-detect the same point, so
    ``dedupe`` keeps one row per (series_id, change_point). Each window is
    one series of the runner, keyed ``(series_id, window_id)``."""
    windows = assign_windows(series_df, window_length, shift_factor)
    out = map_series(
        windows, ["series_id", "window_id"], ["t", "value"],
        _points(sequential(algorithm_factory)), "change_point long",
    )
    return out.distinct() if dedupe else out


# -- skew: chunk + overlap + stitch ------------------------------------------


def chunk_series(
    series_df: DataFrame,
    chunk_size: int,
    overlap: int,
) -> DataFrame:
    """Split each series into overlapping chunks for hot-key (skew) handling:
    chunk c covers dense positions [c*(chunk_size-overlap), ... + chunk_size).
    Group key becomes (series_id, chunk_id) so a 10^6-turn conversation fans
    out over many tasks instead of pinning one.

    WHEN TO CHUNK (measured crossover, BENCH.md round-9 table, local[32],
    chunk_size=200k/overlap=2k, rare-alarm CUSUM; the sweep script that
    measured it is in git history):
    the single colocated lane wins below ~250k points (0.36 s vs 0.48 s —
    the explode+shuffle overhead exceeds the fan-out gain), the arms cross
    between 250k and 500k (0.94 vs 0.78 at 500k), and past ~1M the chunked
    path wins outright and increasingly (3.1 vs 1.4 s at 1M; 54.8 vs 4.1 s
    at 4M — restart-style detectors like CUSUM rescan the remaining tail on
    every alarm, so an unchunked lane goes superlinear while chunking also
    BOUNDS each rescan to one chunk). Rule of thumb: chunk any series
    longer than ~2x chunk_size when idle cores exist. CAVEAT: the overlap
    must cover the detector's horizon (CUSUM learning window, BOCPD
    learn+prep) or seam detections diverge from the unchunked run —
    correctness at seams is pinned in tests/test_skew.py."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap
    w = W.partitionBy("series_id").orderBy("t")
    with_pos = _prepared(series_df).withColumn("pos", F.row_number().over(w) - F.lit(1))
    c_min = F.greatest(
        F.lit(0),
        F.ceil((F.col("pos") - F.lit(chunk_size - 1)) / F.lit(step)).cast("long"),
    )
    c_max = F.floor(F.col("pos") / F.lit(step)).cast("long")
    return with_pos.withColumn("chunk_id", F.explode(F.sequence(c_min, c_max)))


def detect_offline_chunked(
    series_df: DataFrame,
    algorithm_factory: "Callable[[], object]",
    chunk_size: int = 20000,
    overlap: int = 500,
) -> DataFrame:
    """Offline detection with hot-key chunking. Detections are absolute
    (remapped through the carried t), so stitching = distinct on (series, t)."""
    return map_series(
        chunk_series(series_df, chunk_size, overlap),
        ["series_id", "chunk_id"], ["t", "value"],
        _points(sequential(algorithm_factory)), "change_point long",
    ).distinct()
