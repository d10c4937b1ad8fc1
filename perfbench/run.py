"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload rollup_uniform --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints one JSON result as the last line of
standard output: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it records the environment.
See perfbench/README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("rollup_uniform", "query_mix")
WARM_SETUPS = 2
sys.path.insert(0, HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    p.add_argument(
        "--perturb",
        choices=("tier_row", "change_point", "query_row"),
        help="damage one output before the check (must make the check fail)",
    )
    return p.parse_args(argv)


def heap_mb() -> int:
    """Driver heap: a quarter of MemAvailable, capped at 2 GiB (the workloads
    need far less), so the Python workers and the page cache keep the rest."""
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable"))
    return max(512, min(2048, avail_kb // 4096))


def isolate(run_dir: str, heap: int) -> None:
    """Keep Spark's scratch and temp files inside the run dir; no progress
    bars; the driver heap committed up front (-Xms), so its size does not
    vary with when the collector chose to grow it."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Xms{heap}m"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def start_session(cores: int, heap: int):
    """Session plus a small pass through a shuffle, Arrow and the Python workers."""
    from pyspark.sql import functions as F

    from pysatl_cpd_spark.session import get_spark

    spark = get_spark(cores=cores, app_name="perfbench", driver_memory=f"{heap}m")
    spark.sparkContext.setLogLevel("ERROR")
    (
        spark.range(200_000)
        .repartition(cores)
        .mapInArrow(lambda batches: batches, "id long")
        .groupBy((F.col("id") % 97).alias("k"))
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, shut the JVM down and wait for it and its workers."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores stdin close is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def output_stats(out_dir: str) -> dict:
    """Sizes of one rollup job's committed outputs."""
    import pyarrow.parquet as pq

    total = files = 0
    for dirpath, _, names in os.walk(out_dir):
        for n in names:
            if n.startswith("part-"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    segs = pq.read_table(os.path.join(out_dir, "segments"), columns=["series_id", "blob"])
    rows = {t: pq.read_table(os.path.join(out_dir, f"tier_{t}"), columns=["n_points"]).num_rows
            for t in ("1m", "1h", "1d")}
    return {
        "bytes": total,
        "files": files,
        "series": len(set(segs.column("series_id").to_pylist())),
        "segments": segs.num_rows,
        "blob_bytes": sum(len(b) for b in segs.column("blob").to_pylist()),
        **{f"rows_{t}": n for t, n in rows.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__
        import pysatl_cpd_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import numpy
    import pyarrow

    import checks
    import inputs
    import tracing
    import workloads as wl

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    cores = len(os.sched_getaffinity(0))
    heap = heap_mb()
    isolate(run_dir, heap)
    sizes = inputs.sizes_for(args.workload, args.smoke)
    rollup = args.workload == "rollup_uniform"

    # The cold set-up launches the JVM; setup_s is the median of the warm
    # set-ups after it, each a fresh session in the running JVM.
    spark = start_session(cores, heap)
    cold_setup_s = time.perf_counter() - PROCESS_START
    setup_times = []
    for _ in range(WARM_SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cores, heap)
        setup_times.append(time.perf_counter() - t0)

    input_dir, datagen_s = inputs.prepare(
        spark, os.path.join(WORK, "inputs"), args.workload, args.seed, sizes
    )
    queries = __spark_entry__.queries()
    untraced = tracing.Tracer(spark, run_id, enabled=False)
    n_ops = [0]

    def run_op(tracer):
        """One operation: (wall s, Spark action times, output dir, layer counts)."""
        n_ops[0] += 1
        t = time.perf_counter()
        if rollup:
            out_dir = os.path.join(run_dir, f"out{n_ops[0]}")
            actions, counts = wl.rollup_job(spark, input_dir, out_dir, tracer)
        else:
            out_dir, counts = None, {}
            actions = list(wl.query_pass(spark, input_dir, tracer, queries).values())
        return time.perf_counter() - t, actions, out_dir, counts

    # Untimed warm-up, so codegen, JIT and kernel caches fill. Rollup runs two
    # jobs: after one, the next still ran 5-20% slower than the one after it.
    # The mix runs one pass, the checked one (each query collected and
    # compared with its oracle); a second pass did not narrow the spread
    # between runs. A rollup job is checked on the last timed job's outputs.
    t = time.perf_counter()
    if rollup:
        run_op(untraced)
        run_op(untraced)
    else:
        problems, outputs = guarded({}, checks.check_query_mix, spark, input_dir, queries, args.perturb)
    warm_s = time.perf_counter() - t

    # a rollup job is one operation; in the mix each query execution is one,
    # the checked pass's included
    unit = 1 if rollup else len(wl.QUERY_MIX)
    attempted = 0 if rollup else unit
    failed = 0
    op_times: list[float] = []
    action_times: list[float] = []
    last_out = None
    with tracing.MemSampler() as mem:
        start = time.perf_counter()
        while True:
            attempted += unit
            try:
                wall, actions, last_out, _ = run_op(untraced)
                op_times.append(wall)
                action_times.extend(actions)
            except Exception as e:  # noqa: BLE001 - counted, not fatal
                failed += unit
                print(f"perfbench: operation failed: {e!r}", file=sys.stderr)
                if failed >= 3 * unit:
                    break
            if time.perf_counter() - start >= args.seconds:
                break

    traced = None
    if args.trace:
        traced = trace_op(spark, tracing, run_op, run_id, median(op_times), rollup)
        last_out = traced["out_dir"]

    stats = {}
    if rollup and last_out is None:
        problems, points = ["no rollup job completed"], 0
    elif rollup:
        problems, points = guarded(
            0, checks.check_rollup, spark, input_dir, last_out, args.seed, args.perturb
        )
        stats = output_stats(last_out)
    else:
        rows = inputs.table_rows(input_dir)
        flagship = outputs.get("transcripts_cpd_rollup")
        points = sum(wl.query_input_rows(n, rows) for n in wl.QUERY_MIX) + (
            0 if flagship is None else int(flagship["n_points"].sum())
        )
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    failed += min(len(problems), unit)

    if args.trace:
        metrics = layer_metrics(traced, inputs.datagen_seconds(input_dir), cold_setup_s, warm_s,
                                points, stats, cores)
    else:
        metrics = end_to_end_metrics(setup_times, op_times, action_times, points, mem.peak)
    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "cores": cores, "driver_heap_mb": heap,
        "loop": "closed, 1 client", "sizes": sizes, "points": points,
        "datagen_s": datagen_s, "cold_setup_s": cold_setup_s, "setup_samples_s": setup_times,
        "warmup_op_s": warm_s, "op_samples_s": op_times, "action_samples_s": action_times,
        "problems": problems,
    }
    stop_jvm(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def guarded(default, check, *args):
    """Run an output check; one that raises is reported as a failed check,
    with ``default`` in place of its second result."""
    try:
        return check(*args)
    except Exception as e:  # noqa: BLE001 - reported in the result, not fatal
        return [f"{check.__name__} raised {e!r}"], default


def end_to_end_metrics(setup_times, op_times, action_times, points, peak_rss_bytes) -> dict:
    job_s = median(op_times)
    return {
        "setup_s": metric(median(setup_times), "s"),
        "job_s": metric(job_s, "s"),
        "points_per_s": metric(points / job_s if job_s else 0.0, "pts/s"),
        "query_p50_s": metric(median(action_times), "s"),
        "peak_rss_mb": metric(peak_rss_bytes / 2**20, "MB"),
    }


def trace_op(spark, tracing, run_op, run_id: str, untraced_s: float, rollup: bool) -> dict:
    """One traced operation, then Spark's SQL and stage metrics for its jobs."""
    tracer = tracing.Tracer(spark, run_id, enabled=True)
    wall, _, out_dir, counts = run_op(tracer)
    tracing.drain_listeners(spark)
    tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"))
    prefix = tracer.description("")
    all_sql = tracing.sql_metrics(spark, prefix)
    detect_stages = tracing.stage_metrics(spark, tracer.description("detect"))
    skew = 0.0
    if detect_stages:
        longest = max(detect_stages, key=lambda s: s["run_s"])
        times = tracing.task_run_times(spark, longest["stage_id"], longest["attempt"])
        if times and median(times) > 0:
            skew = max(times) / median(times)
    return {
        "out_dir": out_dir,
        "wall": wall,
        "overhead": wall - untraced_s,
        "tracer": tracer,
        "counts": counts,
        "all_sql": all_sql,
        # the rollup job's exchange is the series repartition; in the mix,
        # every query's exchanges count
        "series_sql": tracing.sql_metrics(spark, tracer.description("series")) if rollup else all_sql,
        "detect_sql": tracing.sql_metrics(spark, tracer.description("detect")),
        "encode_sql": tracing.sql_metrics(spark, tracer.description("encode")),
        "stages": tracing.stage_metrics(spark, prefix),
        "skew": skew,
        "jobs": tracing.job_count(spark, prefix),
    }


def layer_metrics(t: dict, datagen_s, cold_setup_s, warm_s, points, stats, cores) -> dict:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    import tracing
    import workloads as wl

    span_s, counts = t["tracer"].seconds, t["counts"]
    sql = lambda key, node, name: tracing.metric_sum(t[key], node, name)  # noqa: E731
    python = lambda key, name: sql(key, "MapInArrow", name)  # noqa: E731
    boundary = lambda key: (  # noqa: E731
        python(key, "data sent to Python workers") + python(key, "data returned from Python workers")
    )
    detect_py = python("detect_sql", "time to run Python workers")
    pts = counts.get("series", 0)
    per_pt = lambda x: x / pts if pts else 0.0  # noqa: E731
    stages = t["stages"]
    m = {
        "sources.scan_s": metric(sql("all_sql", "Scan", "scan time"), "s"),
        "sources.scan_bytes": metric(sql("all_sql", "Scan", "size of files read"), "B"),
        "sources.datagen_s": metric(datagen_s, "s"),
        "series.s": metric(span_s("series"), "s"),
        "series.exchange_count": metric(tracing.exchange_count(t["series_sql"]), "count"),
        "series.exchange_bytes": metric(sql("series_sql", "Exchange", "shuffle bytes written"), "B"),
        "series.fetch_wait_s": metric(sql("series_sql", "Exchange", "fetch wait time"), "s"),
        "detect.s": metric(span_s("detect"), "s"),
        "detect.python_s": metric(detect_py, "s"),
        "detect.python_boot_s": metric(python("detect_sql", "time to start Python workers"), "s"),
        "detect.boundary_bytes": metric(boundary("detect_sql"), "B"),
        "detect.points": metric(pts, "count"),
        "detect.series": metric(stats.get("series", 0), "count"),
        "detect.change_points": metric(counts.get("detect", 0), "count"),
        "detect.pts_per_core_s": metric(pts / detect_py if detect_py else 0.0, "pts/s"),
        "encode.s": metric(span_s("encode"), "s"),
        "encode.python_s": metric(python("encode_sql", "time to run Python workers"), "s"),
        "encode.boundary_bytes": metric(boundary("encode_sql"), "B"),
        "encode.segments": metric(stats.get("segments", 0), "count"),
        "encode.blob_bytes_per_point": metric(per_pt(stats.get("blob_bytes", 0)), "B/pt"),
        "rollup.1m_s": metric(span_s("rollup.1m"), "s"),
        "rollup.1h_s": metric(span_s("rollup.1h"), "s"),
        "rollup.1d_s": metric(span_s("rollup.1d"), "s"),
        "rollup.retention_s": metric(span_s("rollup.retention"), "s"),
        "rollup.rows_1m": metric(stats.get("rows_1m", 0), "count"),
        "rollup.rows_1h": metric(stats.get("rows_1h", 0), "count"),
        "rollup.rows_1d": metric(stats.get("rows_1d", 0), "count"),
        "sink.s": metric(span_s("sink.segments") + span_s("sink.tiers"), "s"),
        "sink.bytes": metric(stats.get("bytes", 0), "B"),
        "sink.files": metric(stats.get("files", 0), "count"),
        "sink.bytes_per_point": metric(stats.get("bytes", 0) / points if stats else 0.0, "B/pt"),
    }
    for name in wl.QUERY_MIX:
        m[f"query.{name}_s"] = metric(span_s(f"query.{name}"), "s")
    m.update({
        "session.cold_setup_s": metric(cold_setup_s, "s"),
        "session.warmup_op_s": metric(warm_s, "s"),
        "session.cores_busy_ratio": metric(sum(s["run_s"] for s in stages) / (t["wall"] * cores), "ratio"),
        "session.task_skew": metric(t["skew"], "ratio"),
        "session.tasks": metric(sum(s["tasks"] for s in stages), "count"),
        "session.jobs": metric(t["jobs"], "count"),
        "session.gc_s": metric(sum(s["gc_s"] for s in stages), "s"),
        "session.spill_bytes": metric(sum(s["spill_bytes"] for s in stages), "B"),
        "trace.overhead_s": metric(t["overhead"], "s"),
    })
    return m


if __name__ == "__main__":
    sys.exit(main())
