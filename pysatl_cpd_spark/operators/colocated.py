"""The one per-series execution path: co-locate, sort, stream, flush.

Every detector family and the segment codec run the same way (the reference
library's shape): one kernel over each complete, ordered series. This
module is that path.

  - ``colocate(df, keys)`` establishes co-location: it reads the physical
    plan that will run and keeps ``df`` when that plan already
    hash-partitions on exactly ``keys``, else adds
    ``repartition(defaultParallelism, *keys)``. The caller asserts nothing,
    so a split series cannot silently reach a kernel. An explicit
    repartition is also exempt from AQE's byte-based coalescing, which
    would otherwise merge a small-but-Python-heavy stage onto a few cores.
  - ``map_series`` is the runner: a JVM-side ``sortWithinPartitions`` (a
    local Tungsten sort, no exchange) feeds ``mapInArrow``, and
    ``iter_sorted_series`` walks the sorted batch stream one complete
    series at a time. Series are buffered into flush-sized batches so a
    cross-series (lockstep) kernel amortizes its per-step numpy dispatch
    over many series (*Accelerating Python UDFs in Vectorized Query
    Execution*, CIDR 2022; *Massively-Parallel Change Detection for
    Satellite Time Series*, ICDE 2020), while peak Python memory stays
    bounded by the flush size, not the partition size.

Each batch column is read as a numpy view (zero-copy for numeric columns)
and sliced at key boundaries; a series spanning batches is stitched with
one ``np.concatenate``, the copy the kernel needs anyway.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType


def _cat(parts: "list[np.ndarray]") -> np.ndarray:
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _column_numpy(arr) -> np.ndarray:
    """One Arrow column as numpy: nulls filled with 0 (only the optional
    marker column ``_cp`` is nullable here); a list column (a vector
    observation per row) becomes a 2-D ``(rows, dim)`` array."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        flat = arr.flatten().to_numpy(zero_copy_only=False)
        return flat.reshape(len(arr), -1)
    if arr.null_count:
        arr = pc.fill_null(arr, 0)
    return arr.to_numpy(zero_copy_only=False)


def _key_codes(arr) -> "tuple[np.ndarray, list | None]":
    """Codes whose runs mark key boundaries, plus the vocabulary they index
    (``None``: integer keys are their own codes, no dictionary hash)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_integer(arr.type):
        return arr.to_numpy(), None
    enc = pc.dictionary_encode(arr)
    return enc.indices.to_numpy(), enc.dictionary.to_pylist()


def iter_sorted_series(
    batches: "Iterable[object]",
    cols: "tuple[str, ...]",
    keys: "Sequence[str]" = ("series_id",),
) -> "Iterator[tuple[object, dict[str, np.ndarray]]]":
    """Yield ``(key, {col: contiguous numpy array})`` per COMPLETE series
    from a pyarrow RecordBatch stream sorted by ``(*keys, t)``.

    Contract: the stream is partition-local and ALREADY SORTED by the keys
    (``sortWithinPartitions`` upstream), so each series is one contiguous
    run across the batch sequence. The key is the python value for one key
    column and a tuple for composite keys (scrubber windows, skew chunks).
    Integer keys skip the per-batch dictionary hash: boundaries come
    straight from ``np.diff`` on the zero-copy numpy view."""
    single = len(keys) == 1
    pending_key: "object | None" = None
    pending: "dict[str, list[np.ndarray]]" = {}
    for batch in batches:
        if batch.num_rows == 0:  # zero-row batches still carry schema
            continue
        schema = batch.schema
        coded = [_key_codes(batch.column(schema.get_field_index(k))) for k in keys]
        cols_np = {c: _column_numpy(batch.column(schema.get_field_index(c))) for c in cols}
        change = np.zeros(batch.num_rows - 1, dtype=bool)
        for codes, _ in coded:
            change |= np.diff(codes) != 0
        bounds = np.flatnonzero(change) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [batch.num_rows]))
        for s, e in zip(starts, ends):
            parts = tuple(
                int(codes[s]) if vocab is None else vocab[codes[s]]
                for codes, vocab in coded
            )
            name = parts[0] if single else parts
            if name != pending_key:
                if pending_key is not None:
                    yield pending_key, {c: _cat(v) for c, v in pending.items()}
                pending_key = name
                pending = {c: [] for c in cols}
            for c in cols:
                pending[c].append(cols_np[c][s:e])
    if pending_key is not None:
        yield pending_key, {c: _cat(v) for c, v in pending.items()}


def _hash_key_sets(partitioning) -> "list[set[str]]":
    """Column-name sets a physical partitioning hash-partitions on."""
    kind = partitioning.getClass().getSimpleName()
    if kind == "PartitioningCollection":
        subs = partitioning.partitionings()
        return [ks for i in range(subs.size()) for ks in _hash_key_sets(subs.apply(i))]
    if kind != "HashPartitioning":
        return []
    exprs = partitioning.expressions()
    names = set()
    for i in range(exprs.size()):
        e = exprs.apply(i)
        if e.getClass().getSimpleName() != "AttributeReference":
            return []
        names.add(e.name())
    return [names]


def _see_through_caches(plan, jvm):
    """``plan`` with every cache scan replaced by the plan that fills it.

    A cache built over an explicit repartition reports UnknownPartitioning
    until it is filled: AQE wraps the cached plan and may still change its
    final stage. The stored partitions are the repartition's all the same,
    so the check reads the cached plan's AQE input plan instead. A
    broadcast side never passes its partitioning to the join above it, so
    the walk does not enter one."""
    name = plan.nodeName()
    if name == "BroadcastExchange":
        return plan
    if name == "InMemoryTableScan":
        cached = plan.relation().cachedPlan()
        if cached.nodeName() == "AdaptiveSparkPlan":
            cached = cached.inputPlan()
        return _see_through_caches(cached, jvm)
    kids = plan.children()
    old = [kids.apply(i) for i in range(kids.size())]
    new = [_see_through_caches(k, jvm) for k in old]
    if all(a is b for a, b in zip(old, new)):
        return plan
    lst = jvm.java.util.ArrayList()
    for k in new:
        lst.add(k)
    return plan.withNewChildren(
        jvm.scala.jdk.javaapi.CollectionConverters.asScala(lst).toSeq()
    )


def colocate(df: DataFrame, keys: "Sequence[str]") -> DataFrame:
    """``df`` with every series (one value of ``keys``) inside one
    partition. Returns ``df`` unchanged when the plan that will run already
    hash-partitions on exactly ``keys``, else adds
    ``repartition(defaultParallelism, *keys)``.

    The check reads AQE's input plan: it is built after Spark decides which
    bucketed scans stay bucketed, and before the ENSURE_REQUIREMENTS
    exchanges that AQE may coalesce. A strict subset of ``keys`` does not
    count: for chunked input it would put every chunk of a hot series back
    into one task."""
    want = set(keys)
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    if want in _hash_key_sets(plan.outputPartitioning()):
        return df
    seen = _see_through_caches(plan, df.sparkSession._jvm)
    if seen is not plan and want in _hash_key_sets(seen.outputPartitioning()):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def map_series(
    df: DataFrame,
    keys: "Sequence[str]",
    cols: "Sequence[str]",
    fn: "Callable[[list], tuple[Sequence[int], dict[str, object]]]",
    schema: str,
    flush_points: int = 4_000_000,
) -> DataFrame:
    """Run ``fn`` over every complete series of ``df``, ordered by ``t``.

    ``fn`` receives a batch ``[(key, {col: array}), ...]`` of about
    ``flush_points`` input rows and returns ``(rows_per_series, columns)``: how many output rows
    each series of the batch produced, and the values of the ``schema``
    columns for those rows in batch order. The runner prepends the first
    key column, so the output key type is the input key type (a dense
    ``long`` code passes through as itself)."""
    keys = list(keys)
    fields = StructType.fromDDL(schema).fields
    out_schema = StructType(
        [StructField(keys[0], df.schema[keys[0]].dataType, True), *fields]
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)
    pruned = df.select(*dict.fromkeys([*keys, "t", *cols]))
    prepared = colocate(pruned, keys).sortWithinPartitions(*keys, "t")
    single = len(keys) == 1

    def run(batches):
        import pyarrow as pa

        def flush(buf):
            counts, out = fn(buf)
            owners = np.repeat(np.arange(len(buf)), counts)
            if owners.shape[0]:
                heads = [k if single else k[0] for k, _ in buf]
                key_col = pa.array(heads, arrow_schema.field(0).type).take(owners)
                yield pa.RecordBatch.from_arrays(
                    [key_col]
                    + [pa.array(out[f.name], f.type) for f in list(arrow_schema)[1:]],
                    schema=arrow_schema,
                )

        buf: list = []
        buf_rows = 0
        for key, arrays in iter_sorted_series(batches, tuple(cols), keys):
            buf.append((key, arrays))
            buf_rows += arrays[cols[0]].shape[0]
            if buf_rows >= flush_points:
                yield from flush(buf)
                buf, buf_rows = [], 0
        if buf:
            yield from flush(buf)

    return prepared.mapInArrow(run, out_schema)
