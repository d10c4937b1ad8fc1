"""The benchmark's own tests. Each smoke run starts a Spark JVM on tiny
inputs, so the whole file takes a few minutes.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def names(kind: str) -> list[str]:
    return [m["name"] for m in spec()[kind]]


def bench(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_metric_names_are_valid_and_match_the_spec():
    declared = names("end_to_end") + names("per_layer")
    assert all(NAME.match(n) for n in declared)
    assert len(set(declared)) == len(declared)
    assert "setup_s" in names("end_to_end")
    e2e = run.end_to_end_metrics([1.0], [2.0], [0.5], 10, 2**20)
    assert list(e2e) == names("end_to_end")
    traced = {
        "tracer": tracing.Tracer(None, "t", enabled=False), "counts": {}, "all_sql": [],
        "series_sql": [], "detect_sql": [], "encode_sql": [], "stages": [],
        "skew": 0.0, "jobs": 0, "wall": 1.0, "overhead": 0.0,
    }
    layers = run.layer_metrics(traced, 1.0, 1.0, 1.0, 10, {}, 4)
    assert list(layers) == names("per_layer")
    assert {m["unit"] for m in spec()["per_layer"]} == {v["unit"] for v in layers.values()}


def test_workloads_in_spec_are_runnable():
    assert [w["name"] for w in spec()["workloads"]] == list(run.WORKLOADS)


def test_sql_metric_parser():
    assert tracing.parse_metric("total (min, med, max (stageId: taskId))\n4.4 s (1.1 s, ...)") == 4.4
    assert tracing.parse_metric("total (min, med, max)\n2.0 KiB (1 KiB)") == 2048.0
    assert tracing.parse_metric("1,234") == 1234.0
    assert tracing.parse_metric("32 ms") == pytest.approx(0.032)


def test_self_time_subtracts_child_spans():
    t = tracing.Tracer(None, "t", enabled=True)
    t.spans = [
        {"name": "job", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"name": "b", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    spans = t.with_self_times()
    assert spans[0]["self_s"] == pytest.approx(5.0)
    assert spans[1]["self_s"] == pytest.approx(3.0)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_prints_every_end_to_end_metric(workload):
    out = result(bench(workload, "--smoke", "--trace", "0"))
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == names("end_to_end")
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_smoke_run_prints_every_layer_metric():
    out = result(bench("rollup_uniform", "--smoke", "--trace", "1"))
    assert out["correct"] is True
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert list(m) == names("per_layer")
    for name in ("detect.points", "detect.python_s", "encode.segments", "series.exchange_count",
                 "rollup.rows_1m", "sink.bytes", "session.tasks"):
        assert m[name] > 0, name
    # stage run time cannot exceed wall time x cores (5% for listener timing)
    assert 0 < m["session.cores_busy_ratio"] <= 1.05


@pytest.mark.parametrize(
    "workload,damage",
    [("rollup_uniform", "tier_row"), ("rollup_uniform", "change_point"), ("query_mix", "query_row")],
)
def test_perturbed_output_fails_the_check(workload, damage):
    out = result(bench(workload, "--smoke", "--trace", "0", "--perturb", damage))
    assert out["correct"] is False
    assert out["failed"] > 0


def test_flagship_digest_matches_its_duckdb_twin():
    import duckdb

    import __spark_entry__ as entry
    import checks

    want = duckdb.connect().execute(entry._flagship_sql()).df()
    assert checks.digest(want) == checks.recorded_digests()["transcripts_cpd_rollup"]


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rollup_uniform", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
