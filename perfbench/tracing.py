"""Spans, Spark's own metrics and process memory, read from the benchmark side.

A span records name, start, end, parent and run id; spans stay in memory
and are written as JSON when the run ends. While a span is open the Spark
job description names it, so the SQL executions and stages it launched can
be read back from Spark's status stores (which work with the UI disabled).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

# -- spans ---------------------------------------------------------------------


class Tracer:
    """Records spans when enabled; with ``enabled=False`` every span is free."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "parent": parent, "run_id": self.run_id, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(idx)
        sc.setJobDescription(self.description(name))
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["name"] if self._stack else None
            sc.setJobDescription(self.description(outer) if outer else None)

    def description(self, name: str) -> str:
        return f"{self.run_id}:{name}"

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def with_self_times(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the part child spans cover."""
        out = []
        for i, s in enumerate(self.spans):
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == i
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in kids:
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            dur = s["end"] - s["start"]
            out.append({**s, "duration_s": dur, "self_s": dur - covered})
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.with_self_times(), f, indent=1)


# -- Spark SQL metrics -----------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric -> seconds, bytes or a count."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def sql_metrics(spark, description_prefix: str) -> list[tuple[str, str, float]]:
    """(node name, metric name, value) for every plan node of every SQL
    execution whose description starts with ``description_prefix``."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows: list[tuple[str, str, float]] = []
    for ex in _seq(store.executionsList()):
        desc = ex.description() or ""
        if not desc.startswith(description_prefix):
            continue
        values = store.executionMetrics(ex.executionId())
        for node in _seq(store.planGraph(ex.executionId()).allNodes()):
            for metric in _seq(node.metrics()):
                v = values.get(metric.accumulatorId())
                if v.isDefined():
                    rows.append((node.name(), metric.name(), parse_metric(v.get())))
    return rows


def metric_sum(rows, node_prefix: str, metric_name: str) -> float:
    return sum(v for n, m, v in rows if n.startswith(node_prefix) and m == metric_name)


def exchange_count(rows) -> int:
    return sum(1 for n, m, _ in rows if n.startswith("Exchange") and m == "number of partitions")


# -- Spark stage metrics ---------------------------------------------------------


def stage_metrics(spark, description_prefix: str) -> list[dict]:
    """Per-stage run/CPU/GC/spill/shuffle numbers from the app status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    out = []
    for st in _seq(stages):
        desc = st.description()
        desc = desc.get() if desc.isDefined() else ""
        if not desc.startswith(description_prefix):
            continue
        out.append(
            {
                "stage_id": st.stageId(),
                "attempt": st.attemptId(),
                "description": desc,
                "tasks": st.numTasks(),
                "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "fetch_wait_s": st.shuffleFetchWaitTime() / 1e3,
            }
        )
    return out


def task_run_times(spark, stage_id: int, attempt: int) -> list[float]:
    store = spark.sparkContext._jsc.sc().statusStore()
    times = []
    for task in _seq(store.taskList(stage_id, attempt, 1_000_000)):
        metrics = task.taskMetrics()
        if metrics.isDefined():
            times.append(metrics.get().executorRunTime() / 1e3)
    return times


def job_count(spark, description_prefix: str) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    n = 0
    for job in _seq(store.jobsList(None)):
        desc = job.description()
        if desc.isDefined() and desc.get().startswith(description_prefix):
            n += 1
    return n


def drain_listeners(spark, timeout_s: float = 10.0) -> None:
    """The status stores are filled by an asynchronous listener bus."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1000))


# -- process memory -----------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _statm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read()
    except OSError:
        return ""


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and its descendants (JVM, Python workers). A
    child spawned with a shared address space (the JVM's posix_spawn child
    before exec) reads the same counters as its parent and is counted once.
    RSS is read from statm, which, unlike smaps, does not walk page tables
    under the JVM's memory-map lock."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root, "")]
    while todo:
        pid, parent_statm = todo.pop()
        statm = _statm(pid)
        todo.extend((k, statm) for k in kids.get(pid, ()))
        if statm and statm != parent_statm:
            total += int(statm.split()[1]) * page
    return total


class MemSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
