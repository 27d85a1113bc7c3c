#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload offline_recs --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. The run generates its
inputs from ``--seed`` under ``perfbench/work/``, starts the engine's
session with ``SPARK_GRAFT_CPUS`` set to the machine's core count, sets
the workload up, warms it, measures it for ``--seconds``, checks its
outputs, stops Spark and prints one JSON line as the last line of
standard output:

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
spans and the Spark event log and reports the per-layer metrics. A full
report (environment, every op, cache state, per-layer metrics) is
written to ``perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "cqu_bigdata_recommender_system_for_movies_spark"
SETUP_REPEATS = 3  # the workload's one-time build is timed this many times


class Ctx:
    """What a workload needs: the session, its inputs and the tracer."""

    def __init__(self, spark, data_dir, work_dir, seed, tracer, tables):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.tables = tables
        self.table_names = tuple(tables)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str, trace: bool) -> str | None:
    """Point every temporary path of Spark and the engine inside ``work``
    and pass Spark settings through spark-submit, leaving the engine's
    session factory untouched."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    log_dir = None
    if trace:
        from tracing import event_log_confs

        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += event_log_confs(log_dir)
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    args = []
    for c in confs:
        args += ["--conf", c]
    args += ["--driver-java-options", f'"{java_opts}"', "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args)
    return log_dir


def calibration_probe(spark) -> float:
    """A fixed CPU-bound Spark job, median of three (report-only: never
    used to normalise a metric)."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 3_000_000, 1, 4).selectExpr("sum(id * id % 7)").collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def stop_spark(spark) -> None:
    """Stop streams and the state store while the RPC env is alive, stop
    the session, then end the gateway JVM and wait for every process this
    run started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    from tracing import process_tree

    for q in spark.streams.active:
        q.stop()
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception as exc:  # noqa: BLE001 — teardown must go on
        log(f"StateStore.stop failed: {exc}")
    children = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        log(f"engine package {PKG}/ not found next to perfbench/; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    if args.seed < 0:
        log("--seed must be >= 0")
        return 2
    cls = WORKLOADS[args.workload]
    sf = cls.sf if args.sf is None else args.sf

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, cls, sf, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cls, sf: float, work: str) -> int:
    log_dir = configure_env(work, bool(args.trace))
    import gen
    from tracing import Tracer, loadavg, tree_peak_rss_mb

    env = {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_before": loadavg(),
        "versions": versions(),
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "seconds": args.seconds,
        "trace": args.trace,
    }
    data_dir = os.path.join(work, "data")
    t = time.perf_counter()
    tables = gen.build_tables(args.seed, sf)
    gen.write_tables(tables, data_dir)
    env["gen_s"] = time.perf_counter() - t
    env["rows"] = {k: v.num_rows for k, v in tables.items()}

    tracer = Tracer(bool(args.trace))
    progress_log = None
    with tracer.op("setup"):
        t = time.perf_counter()
        with tracer.span("session.start"):
            from cqu_bigdata_recommender_system_for_movies_spark.session import get_spark

            spark = get_spark("perfbench")
        session_start = time.perf_counter() - t
        try:
            t = time.perf_counter()
            with tracer.span("session.warmup"):
                spark.range(0, 100_000, 1, 4).selectExpr("sum(id)").collect()
            session_warmup = time.perf_counter() - t
            if args.trace:
                progress_log = add_progress_listener(spark)
            workload = cls(Ctx(spark, data_dir, work, args.seed, tracer, tables))
            builds = []
            for _ in range(SETUP_REPEATS):
                t = time.perf_counter()
                workload.build()
                builds.append(time.perf_counter() - t)
            t = time.perf_counter()
            with tracer.span("workload.warmup"):
                workload.warmup()
            warmup = time.perf_counter() - t
        except BaseException:
            stop_spark(spark)
            raise
    try:
        with tracer.span("env.calibration"):
            env["calibration_s"] = calibration_probe(spark)
        t = time.perf_counter()
        with tracer.span("workload.run"):
            workload.run(args.seconds)
        env["timed_s"] = time.perf_counter() - t
        peak_rss = tree_peak_rss_mb()
        t = time.perf_counter()
        with tracer.span("check"):
            problems = workload.check()
        env["check_s"] = time.perf_counter() - t
        env["cache_after"] = workload.ops[-1]["cache"] if workload.ops else {}
    finally:
        progress = list(progress_log.events) if progress_log else []
        t = time.perf_counter()
        stop_spark(spark)
        env["stop_s"] = time.perf_counter() - t
    env["loadavg_after"] = loadavg()

    if problems:
        for p in problems:
            log(f"CHECK FAILED: {p}")
        workload.ops[-1]["ok"] = False
    attempted = len(workload.ops)
    failed = sum(1 for o in workload.ops if not o["ok"])
    setup_s = session_start + session_warmup + statistics.median(builds) + warmup
    e2e = dict(workload.e2e())
    e2e["setup_s"] = setup_s
    setup_detail = {
        "session_start_s": session_start,
        "session_warmup_s": session_warmup,
        "builds_s": builds,
        "workload_warmup_s": warmup,
    }

    report = {
        "env": env,
        "setup": setup_detail,
        "end_to_end": e2e,
        "peak_rss_mb": peak_rss,
        "extra": workload.extra,
        "ops": workload.ops,
        "problems": problems,
        "fail_ratio": failed / attempted,
    }
    if args.trace:
        from layers import layer_metrics

        layers, accounting = layer_metrics(
            tracer.spans,
            log_dir,
            progress,
            workload,
            e2e,
            env["calibration_s"],
            peak_rss,
        )
        report["per_layer"] = layers
        report["accounting"] = accounting
        if not accounting["ok"]:
            for p in accounting["problems"]:
                log(f"TRACE ACCOUNTING FAILED: {p}")
            if not problems:  # count the run's last op as failed, once
                failed += 1
            problems = problems + accounting["problems"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": unit_of(k)} for k in E2E_ORDER}

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(results, stem + ".spans.json"))

    line = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(line), flush=True)
    return 0


# The op's wall time (op_s) is reported (report file, per-layer
# trace.op_s) but not bounded: on a shared host it moves with other
# guests' load by more than the largest bound allows (perfbench/README.md).
# Its two factors, CPU time and cores busy, move far less.
E2E_ORDER = ("op_cpu_s", "op_cores", "setup_s")
E2E_UNITS = {"op_cpu_s": "s", "op_cores": "cores", "setup_s": "s"}


def unit_of(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    from layers import LAYER_UNITS

    return LAYER_UNITS[name]


def add_progress_listener(spark):
    """Collect every streaming query's progress (the engine's own
    maintenance loop included) through a listener."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = ProgressLog()
    spark.streams.addListener(listener)
    return listener


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
