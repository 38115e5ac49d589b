"""Seeded OSMesa benchmark: one workload per invocation.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 25 --trace 0

Run from the repository root. A run sets the session up (JVM and session
start + seeded inputs + warm-up), runs one measured pass of the workload's
fixed work, checks its outputs, sets up again by restarting the session
(`setup_s` is the median of all set-ups), and prints one JSON object as
the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The work, not `--seconds`, sets how long the pass takes; `--seconds` is
accepted so every workload has the same command line. `--trace 0` reports
the end-to-end metrics; `--trace 1` runs the same pass with spans on and
reports the per-layer metrics. Either way a side file with the pass, its
spans and counters is written to .perfbench_work/results/. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_SAMPLES = 7
# Spark cores: fewer than the machine has, so that a run needs fewer
# cores than a shared host gives it (the JVM's JIT and GC threads, the
# Python driver and workers also want some)
MAX_CPUS = 2
DRIVER_MEMORY = "3g"

END_TO_END = {"setup_s": "s", "wall_s": "s", "step_p50_s": "s"}
EXTRA_METRICS = [
    "queries.py4j_calls", "queries.user_statistics_ctor_jobs",
    "streaming.input_rows", "streaming.dead_letter_rows",
    "streaming.query_planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.state_rows", "streaming.state_mem_mb",
    "sinks.upsert.table_rows", "sinks.upsert.rewrite_ratio",
    "sinks.mvt.tiles_written", "sinks.mvt.tile_mb",
    "proc.cpu_s", "proc.peak_rss_mb", "proc.load_1m", "proc.steal_pct",
    "trace.overhead_pct",
]
UNITS = {
    "wall_s": "s", "self_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "python_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
    "state_mem_mb": "MB", "tile_mb": "MB", "peak_rss_mb": "MB",
    "query_planning_ms": "ms", "add_batch_ms": "ms", "wal_commit_ms": "ms",
    "commit_offsets_ms": "ms", "rewrite_ratio": "ratio", "load_1m": "load",
    "overhead_pct": "%", "steal_pct": "%",
}


def _environment(work: str) -> int:
    """Keep every file the run writes (temp files, Spark local dirs, the
    JVM's tmpdir, the shipped package zip, the event log) inside the
    working directory, and cap the threads of Spark, the JVM's garbage
    collector and the numeric libraries."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "events")):
        os.makedirs(d, exist_ok=True)
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-XX:ParallelGCThreads={cpus} -XX:ConcGCThreads=1"
        ),
        # one thread per numpy / Arrow call in the driver and every worker
        **dict.fromkeys(("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"), "1"),
    })
    return cpus


def _new_session(work: str, cpus: int):
    from osmesa_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    pids = [p for p in process_tree() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def measure(args, wl, work: str, cpus: int) -> dict:
    """Set up, run the measured pass and check it, then set up again
    SETUP_SAMPLES - 1 times; returns the raw record."""
    from perfbench import trace as TR

    spark, setup = None, []

    def set_up(i: int) -> dict:
        nonlocal spark
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = _new_session(work, cpus)
        sizes = wl.make_inputs(os.path.join(work, f"inputs{i}"), args.seed)
        wl.warm_up(spark)
        setup.append(time.perf_counter() - t0)
        return sizes

    try:
        # the first set-up also starts the JVM
        sizes = set_up(0)
        tracer = TR.Tracer(enabled=bool(args.trace))
        tracer.bind(spark)
        if args.trace:
            from osmesa_spark.sinks import mvt
            from osmesa_spark.sinks.upsert import CheckpointTable, ParquetUpsertTable

            tracer.wrap(ParquetUpsertTable, "upsert_stats", "sinks.upsert")
            tracer.wrap(CheckpointTable, "save", "sinks.upsert")
            tracer.wrap(mvt, "write_tile_pyramid_grouped", "sinks.mvt")
            tracer.wrap(mvt, "save_pyramid_in_zips", "sinks.mvt")

        out = os.path.join(work, "pass")
        with tracer.measured_pass() as rec:
            result = wl.run_pass(spark, tracer, out)
        result["out"] = out
        load_1m = os.getloadavg()[0]
        peak_rss = TR.proc_peak_rss_mb()

        # output checks, outside the timed region
        t0 = time.perf_counter()
        try:
            checks = wl.check(spark, result)
        except Exception as exc:  # noqa: BLE001 — a failed check, not a crash
            checks = {f"check raised {type(exc).__name__}: {exc}"[:300]: False}
        check_s = time.perf_counter() - t0
        app_id = spark.sparkContext.applicationId

        # the other set-up samples restart the session in the running JVM
        for i in range(1, SETUP_SAMPLES):
            set_up(i)
    finally:
        _shutdown(spark)

    log = TR.event_log_path(os.path.join(work, "events"), app_id)
    jobs = TR.read_event_log(log) if log else []
    TR.attribute(tracer, jobs)
    w = result.get("ctor_windows", {}).get("osm_user_statistics")
    if w:
        # the pass must not be served a stats table built before it
        rec["user_statistics_ctor_jobs"] = sum(1 for j in jobs if w[0] <= j["submit"] <= w[1])
        checks["osm_user_statistics_pays_stats_pipeline"] = rec["user_statistics_ctor_jobs"] > 0
    return {
        "setup": setup, "sizes": sizes, "result": result, "tracer": tracer,
        "checks": checks, "check_s": check_s, "load_1m": load_1m,
        "peak_rss": peak_rss, "jobs": jobs,
    }


def layer_metrics(r: dict) -> dict[str, float]:
    """Every per-layer metric: span fields, then the extras; 0 for a layer
    the workload does not reach."""
    from perfbench import trace as TR
    from perfbench.workloads import SPANS

    tracer, rec = r["tracer"], r["tracer"].pass_rec
    metrics = TR.span_metrics(tracer, SPANS)
    extras = dict.fromkeys(EXTRA_METRICS, 0.0)
    extras.update(r["result"]["extras"])

    def span_sum(name: str, key: str) -> float:
        return sum(s.get(key, 0) for s in tracer.spans if s["name"] == name)

    rows = extras["sinks.upsert.table_rows"]
    written = span_sum("sinks.upsert", "records_written")
    extras["sinks.upsert.rewrite_ratio"] = written / rows if rows else 0.0
    extras["queries.py4j_calls"] = span_sum("queries.ctor", "py4j_calls")
    extras["queries.user_statistics_ctor_jobs"] = rec.get("user_statistics_ctor_jobs", 0)
    extras["proc.cpu_s"] = rec["cpu_s"]
    extras["proc.peak_rss_mb"] = r["peak_rss"]
    extras["proc.load_1m"] = r["load_1m"]
    extras["proc.steal_pct"] = rec["steal_pct"]
    extras["trace.overhead_pct"] = 100.0 * tracer.own_s / rec["wall_s"]
    metrics.update(extras)
    names = [f"{s}.{f}" for s in SPANS for f in TR.SPAN_FIELDS] + EXTRA_METRICS
    return {k: metrics[k] for k in names}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is always the one in this checkout, built from its source
    if not os.path.isfile(os.path.join(ROOT, "osmesa_spark", "__init__.py")):
        print(f"perfbench: no osmesa_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench import workloads as W

    classes = {c.name: c for c in (W.OsmBackfillCatchup, W.QuerySuite)}
    if args.workload not in classes:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(
        WORK_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    try:
        cpus = _environment(work)
        r = measure(args, classes[args.workload](), work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result, rec, checks = r["result"], r["tracer"].pass_rec, r["checks"]
    attempted = result["attempted"] + len(checks)
    failed = result["failed"] + sum(not ok for ok in checks.values())
    if args.trace:
        metrics = layer_metrics(r)
        units = {k: UNITS.get(k.rsplit(".", 1)[-1], "count") for k in metrics}
    else:
        metrics = {
            "setup_s": statistics.median(r["setup"]),
            "wall_s": rec["wall_s"],
            # no steps only when a stream failed, which fails the run
            "step_p50_s": statistics.median(result["steps"] or [0.0]),
        }
        units = END_TO_END

    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    side_path = os.path.join(
        WORK_ROOT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(side_path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "sizes": r["sizes"],
            "setup_s_samples": r["setup"], "load_1m": r["load_1m"],
            "peak_rss_mb": r["peak_rss"], "pass": rec, "steps": result["steps"],
            "spans": r["tracer"].spans, "jobs": r["jobs"] if args.trace else [],
            "checks": checks, "check_s": r["check_s"],
            "check_detail": result.get("detail", {}),
            "errors": result["errors"], "metrics": metrics,
        }, f, indent=1, default=str)

    counters = ", ".join(
        f"{k}={rec[k]:.4g}"
        for k in ("cpu_s", "jobs", "tasks", "exec_cpu_s", "shuffle_mb", "steal_pct")
    )
    print(
        f"# {args.workload} seed={args.seed} step samples={len(result['steps'])} "
        f"fail_ratio={failed}/{attempted} load_1m={r['load_1m']:.2f} pass: {counters}"
    )
    for name, ok in checks.items():
        if not ok:
            print(f"# check failed: {name}")
    for e in result["errors"]:
        print(f"# error: {e}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
