"""perfbench: end-to-end and per-layer benchmark of eventstreamml_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload lifecycle-50k --seed 1 --seconds 8 --trace 0

Workloads (closed loop: one client, one operation at a time, on
``local[<cores>]``):

- ``lifecycle-50k``: the E1 -> E2 -> E3 lifecycle on seeded synthetic
  input (``lifecycle.py``); one operation is one whole pass.
- ``catalog-sf0.01``: a seeded, cost-stratified sample of the registered
  batch and streaming queries (``catalog.py``); one operation is one
  query, timed as build + collect.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
wrappers of ``probe.py`` and prints the per-layer metrics. Outputs are
checked after the timed region; the last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. A progress
summary goes to stderr. Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"catalog-sf0.01": None, "lifecycle-50k": (50_000, 500)}


def _process_age_s() -> float:
    """Seconds since this process started (interpreter start-up
    included), from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and make the engine importable in Spark's Python workers wherever
    the benchmark is launched from."""
    os.makedirs(work)
    for k in ("TMPDIR", "TEMP", "TMP"):
        os.environ[k] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [ROOT, HERE]
    os.chdir(work)


def _worker_import(batches):
    import eventstreamml_spark  # noqa: F401  (fails if workers cannot see the engine)

    yield from batches


def _calibrate(spark) -> float:
    """bench.py's fixed host workload, one spark.range(50M) aggregate.
    Recorded only, never used to scale other figures."""
    t0 = time.perf_counter()
    spark.range(50_000_000).selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
    return time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    from probe import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _lifecycle(spark, seed, size, tracer, work):
    """One whole pass, which on local[4] (about 40 s) already outlasts
    the benchmark's ``--seconds``; its output is checked after the
    timed region."""
    import lifecycle

    from probe import next_job_id

    n_events, n_subjects = size
    sc = spark.sparkContext
    latencies, failures, ranges = {}, {}, []
    out_dir = os.path.join(work, "tensorized")
    first = next_job_id(sc)
    t0 = time.perf_counter()
    try:
        with tracer.span("lifecycle"):
            state = lifecycle.run_pass(spark, seed, n_events, n_subjects, out_dir, tracer.span)
    except Exception as exc:
        failures["pass"] = f"{type(exc).__name__}: {str(exc)[:300]}"
    else:
        latencies["pass"] = time.perf_counter() - t0
        ranges.append((first, next_job_id(sc)))
        bad = lifecycle.check(spark, state, n_events)
        if bad:
            failures["pass"] = "; ".join(bad)
    return {
        "attempted": 1, "latencies": latencies, "failures": failures,
        "op_p50_s": latencies.get("pass"),
        "wall": sum(latencies.values()), "job_ranges": ranges, "layer": {},
    }


def _catalog(spark, seed, seconds, tracer, listener):
    import catalog

    state = catalog.run(spark, seed, seconds, tracer, listener)
    return {
        "attempted": len(state["names"]),
        "latencies": state["latencies"],
        "op_p50_s": catalog.median_latency(state["latencies"]) if state["latencies"] else None,
        "failures": catalog.check(state),
        "wall": state["wall"], "job_ranges": state["job_ranges"], "layer": state["layer"],
    }


def _per_layer(res, tracer, setup, calibration, rss, sc) -> dict:
    """Every per-layer metric: self time and counters of each spanned
    layer, query and streaming figures, Spark totals, set-up and host."""
    from probe import drain_listeners, job_counters

    m = {}
    layers = tracer.layers()
    empty = {"s": 0.0, "jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0}
    for name in ("dataset", "preprocessing.functors", "operators.setops"):
        L = layers.get(name, empty)
        m[f"{name}.s"] = (L["s"], "s")
        m[f"{name}.jobs"] = (L["jobs"], "count")
    for name in (
        "preprocessing.pipeline", "preprocessing.categorical", "preprocessing.orchestrate.fit",
        "preprocessing.orchestrate.transform", "vocabulary", "export.tensorize", "export.write",
    ):
        L = layers.get(name, empty)
        m[f"{name}.s"] = (L["s"], "s")
        m[f"{name}.jobs"] = (L["jobs"], "count")
        m[f"{name}.tasks"] = (L["tasks"], "count")
        m[f"{name}.cpu_s"] = (L["cpu_s"], "s")
        m[f"{name}.shuffle_mb"] = (L["shuffle_read_mb"] + L["shuffle_write_mb"], "MB")

    q = res["layer"]
    m["queries.build_s"] = (q.get("build_s", 0.0), "s")
    m["queries.build_jobs"] = (q.get("build_jobs", 0), "count")
    m["queries.exec_s"] = (q.get("exec_s", 0.0), "s")
    m["queries.exec_jobs"] = (q.get("exec_jobs", 0), "count")
    m["queries.jobs_p50"] = (statistics.median(q["jobs"].values()) if q.get("jobs") else 0, "count")
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = (q.get(f"{p}_ms", 0.0), "ms")
    calls, load_s = tracer.timers.get("sources.testdata.load", [0, 0.0])
    m["sources.testdata.load_calls"] = (calls, "count")
    m["sources.testdata.load_s"] = (load_s, "s")
    for k, unit in (
        ("batches", "count"), ("trigger_ms", "ms"), ("add_batch_ms", "ms"),
        ("wal_commit_ms", "ms"), ("commit_offsets_ms", "ms"), ("state_rows", "count"),
        ("state_mem_mb", "MB"), ("outside_trigger_s", "s"),
    ):
        m[f"streaming.{k}"] = (q.get(k, 0), unit)
    m["streaming.query_s"] = (sum(q.get("streaming_latencies", [])), "s")

    drain_listeners(sc)
    ids = [j for lo, hi in res["job_ranges"] for j in range(lo, hi)]
    c = job_counters(sc, ids)
    cores = sc.defaultParallelism
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
        ("cpu_s", "s"), ("run_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("input_mb", "MB"), ("spill_mb", "MB"),
    ):
        m[f"spark.{k}"] = (c[k], unit)
    m["spark.core_util"] = (c["cpu_s"] / (res["wall"] * cores) if res["wall"] else 0.0, "ratio")
    pins, pin_s = tracer.timers.get("spark.pin", [0, 0.0])
    m["spark.pins"] = (pins, "count")
    m["spark.pin_s"] = (pin_s, "s")

    for k in ("import_s", "session_s", "warm_s"):
        m[f"setup.{k}"] = (setup[k], "s")
    m["host.calibration_start_s"] = (calibration[0], "s")
    m["host.calibration_end_s"] = (calibration[1], "s")
    m["host.peak_rss_mb"] = (rss, "MB")
    m["trace.overhead_frac"] = (
        tracer.overhead_s / max(res["wall"] - tracer.overhead_s, 1e-9), "ratio"
    )
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "eventstreamml_spark")):
        print(f"perfbench: no eventstreamml_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _prepare_env(work)
    spark = None
    try:
        # set-up: imports, session, warm-up
        import eventstreamml_spark.queries  # noqa: F401
        from eventstreamml_spark.session import get_spark

        import probe

        t_import = time.perf_counter()
        import_s = _process_age_s()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        spark.range(0, 64, 1, spark.sparkContext.defaultParallelism).mapInArrow(
            _worker_import, "id long"
        ).collect()
        if args.workload.startswith("catalog"):
            import catalog

            catalog.warm_up(spark, eventstreamml_spark.queries.queries())
        t_warm = time.perf_counter()
        setup = {
            "import_s": import_s,
            "session_s": t_session - t_import,
            "warm_s": t_warm - t_session,
        }
        setup_s = sum(setup.values())

        cal_start = _calibrate(spark)
        t_measure = time.perf_counter()
        tracer = probe.Tracer(spark.sparkContext, enabled=bool(args.trace))
        listener = None
        if args.trace:
            probe.install_wrappers(tracer)
            listener = probe.streaming_listener(spark)
        if args.workload.startswith("lifecycle"):
            res = _lifecycle(spark, args.seed, WORKLOADS[args.workload], tracer, work)
        else:
            res = _catalog(spark, args.seed, args.seconds, tracer, listener)
        t_checked = time.perf_counter()
        rss = probe.peak_rss_mb()
        cal_end = _calibrate(spark)
        if not res["latencies"]:
            print(f"perfbench: every operation failed: {res['failures']}", file=sys.stderr)
            return 1

        if args.trace:
            metrics = _per_layer(
                res, tracer, setup, (cal_start, cal_end), rss, spark.sparkContext
            )
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (res["op_p50_s"], "s"),
            }
        n_failed = len(res["failures"])
        summary = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "ops": len(res["latencies"]), "wall_s": round(res["wall"], 3),
            "measure_and_check_s": round(t_checked - t_measure, 3),
            "latencies_s": {k: round(t, 3) for k, t in res["latencies"].items()},
            "setup": {k: round(v, 3) for k, v in setup.items()},
            "calibration_s": [round(cal_start, 4), round(cal_end, 4)],
            "failures": res["failures"],
            "jobs_by_op": res["layer"].get("jobs", {}),
        }
        result = {
            "correct": n_failed == 0,
            "attempted": res["attempted"],
            "failed": n_failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("# " + json.dumps(summary), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
