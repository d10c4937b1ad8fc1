"""Seeded benchmark inputs, generated once per (workload, seed, sizes) and cached.

The rollup workload reads a plain (not day-partitioned) parquet transcripts
table made by ``sources.transcripts.synthesize_transcripts``. The query mix
reads a small star schema plus events, documents and embeddings, generated
here with numpy. Every distribution parameter below was measured on the
engine's seed-42 test tables at sf0.001, sf0.01 and sf0.1 (perfbench/README.md
lists the measurements). Every query has non-empty work, and its DuckDB twin
reads the same files.

The cache key holds a hash of the generator code, so a change to this file or
to ``sources/transcripts.py`` makes new inputs rather than reusing old ones.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. `smoke` shrinks every workload for the benchmark's own
# tests; it is never used for reported numbers.
SIZES = {
    "rollup_uniform": {"n_conversations": 750, "avg_turns": 400},
    "query_mix": {"scale": 0.01},
}
SMOKE_SIZES = {
    "rollup_uniform": {"n_conversations": 40, "avg_turns": 400},
    "query_mix": {"scale": 0.002},
}

QUERY_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")


def sizes_for(workload: str, smoke: bool) -> dict:
    return dict((SMOKE_SIZES if smoke else SIZES)[workload])


HERE = os.path.dirname(os.path.abspath(__file__))
GENERATOR_SOURCES = (
    os.path.join(HERE, "inputs.py"),
    os.path.join(os.path.dirname(HERE), "pysatl_cpd_spark", "sources", "transcripts.py"),
)


def generator_hash() -> str:
    h = hashlib.sha256()
    for path in GENERATOR_SOURCES:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _key(workload: str, seed: int, sizes: dict) -> str:
    tag = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    return f"{workload}-seed{seed}-{tag}-{generator_hash()}"


def prepare(spark, cache_root: str, workload: str, seed: int, sizes: dict) -> tuple[str, float]:
    """Return (input directory, seconds spent generating it; 0.0 on a cache hit)."""
    path = os.path.join(cache_root, _key(workload, seed, sizes))
    if os.path.exists(os.path.join(path, "_DONE")):
        return path, 0.0
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    if workload == "query_mix":
        write_query_tables(path, seed, sizes["scale"])
    else:
        write_transcripts_plain(spark, os.path.join(path, "transcripts"), seed, sizes)
    seconds = time.perf_counter() - t0
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write(repr(seconds))
    return path, seconds


def datagen_seconds(path: str) -> float:
    """How long the cached input at ``path`` took to generate."""
    with open(os.path.join(path, "_DONE")) as f:
        return float(f.read())


def write_transcripts_plain(spark, path: str, seed: int, sizes: dict) -> None:
    from pysatl_cpd_spark.sources.transcripts import transcripts_table

    transcripts_table(spark, seed=seed, with_text=True, **sizes).write.mode(
        "overwrite"
    ).parquet(path)


# -- query-mix tables ----------------------------------------------------------

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
# the 30 words of the test documents; a near-duplicate appends "dup"
_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo_d + rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> dict:
    """Uniform words, 10-99 a document. One document in 20 is replaced by a
    copy of a random other document with " dup" appended. That is the test
    tables' only near-duplicate kind: 243 of their 256 sf0.1 pairs with
    shingle Jaccard >= 0.6, the rest being two copies of one document or a
    copy of a copy."""
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), int(k))]) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, n // 20, replace=False):
        j = (int(i) + int(rng.integers(1, n))) % n
        texts[i] = texts[j] + " dup"
    lang = np.where(rng.random(n) < 0.4, "en", _LANGS[rng.integers(1, 5, n)])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Isotropic unit vectors with labels drawn independently of them: in the
    test tables a vector's nearest neighbour shares its label 1 time in 10."""
    vecs = rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), pa.array(vecs.ravel())
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": rng.integers(0, labels, n).astype(np.int32),
        }
    )


def query_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Seeded tables with the row counts and key ranges of the engine's
    test tables at the same scale factor."""
    rng = np.random.default_rng([seed, 7])
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = max(int(15_000 * scale), 10)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    customer = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    }
    orders = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    }
    lineitem = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, max(int(200_000 * scale), 1), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, max(int(10_000 * scale), 1), n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    }
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    events = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    return {
        "customer": pa.table(customer),
        "orders": pa.table(orders),
        "lineitem": pa.table(lineitem),
        "events": pa.table(events),
        "documents": pa.table(_documents(rng, max(int(50_000 * scale), 500))),
        "embeddings": _embeddings(rng, max(int(20_000 * scale), 500)),
    }


def write_query_tables(path: str, seed: int, scale: float) -> None:
    os.makedirs(path, exist_ok=True)
    for name, table in query_tables(seed, scale).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))


def table_rows(path: str) -> dict[str, int]:
    return {
        t: pq.ParquetFile(os.path.join(path, f"{t}.parquet")).metadata.num_rows
        for t in QUERY_TABLES
    }
