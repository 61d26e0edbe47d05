"""Benchmark for calidad_del_aire_etl_spark.

    python3 perfbench/run.py --workload {dashboard_refresh,stream_ingest}
                             --seed N --seconds S --trace {0,1}

Works from any directory. It builds its inputs from the seed inside a
scratch directory of the checkout (`.perfbench/`), runs the workload
closed-loop with one client on `local[nproc]` for S seconds, checks the
outputs outside the timed window and prints one JSON object as the last
line of stdout: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1` (Spark event log on, spans recorded). A full
record with the host shape and the per-op values is written under
`.perfbench/records/`; `perfbench/diff.py` compares such records.

Exit codes: 0 when every output check passed, 1 when one failed, 2 when
the package is missing, 3 on the time guard.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "calidad_del_aire_etl_spark"
# a run must end within 180 s; stop cleanly before that
TIME_GUARD_S = 170
DRIVER_MEM = "2g"


class TimeGuard(Exception):
    pass


def _on_alarm(signum, frame):
    raise TimeGuard(f"run exceeded {TIME_GUARD_S} s")


def configure_env(work: str, trace: bool) -> str | None:
    """Launch confs and paths, set before the first `get_session`: the
    Python workers import the package from ROOT, every temp file lands
    in `work`, and a traced run writes an uncompressed, non-rolling
    event log there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # a fixed, pre-touched heap: the JVM's peak RSS minus this heap is
    # then exactly its peak non-heap memory, whatever G1 did with the heap
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    args = ["--driver-java-options", f"-Xms{heap} -XX:+AlwaysPreTouch -Dderby.system.home={tmp}"]
    # also reaches the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        for k, v in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", "file://" + log_dir),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ):
            args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    os.makedirs(work)
    log_dir = configure_env(work, bool(args.trace))
    os.chdir(os.path.join(work, "tmp"))  # derby.log and spark-warehouse/ land here
    sys.path.insert(0, ROOT)

    from perfbench import host

    # set-up, part 1: from process start to the program imported
    from calidad_del_aire_etl_spark.session import get_session

    import_s = host.process_age_s()

    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host.host_shape(),
        "loadavg_before": os.getloadavg(),
        "cpu_probe_before_s": host.cpu_probe_s(),
    }
    tracer = trace.Tracer() if args.trace else trace.NullTracer()
    wl = WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    wl.prepare()
    record["inputs_s"] = time.perf_counter() - t
    host.reset_peak_rss()

    spark = None
    try:
        # set-up, part 2: the JVM and session start cold, then one untimed
        # warm-up op. The benchmark's own work in between (inputs, host
        # probe) is not counted.
        wl.land_next()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_session("perfbench")
        if args.trace:
            trace.install_wrappers(tracer)
        t1 = time.perf_counter()
        with tracer.span("session.warmup"):
            wl.op(spark, tracer, None)
        setup = {"import_s": import_s, "start_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
        record["setup"] = setup
        record["driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory", None)

        # the timed window: closed loop, one client
        sc = spark.sparkContext
        me = os.getpid()
        jiffies0 = host.cpu_jiffies()
        durations, cpus, jobs, rows, failed, op_spans = [], [], [], 0, 0, []
        status = sc._jsc.sc().statusTracker()
        w0 = time.perf_counter()
        while time.perf_counter() - w0 < args.seconds and wl.has_next():
            wl.land_next()
            i = len(durations)
            progress = [] if args.trace else None
            tag = f"{trace.OP_TAG}{i}"
            tracer.op = i
            # the tag reaches the stream thread too; the stream replaces the group
            sc.setJobGroup(tag, args.workload)
            sc.addJobTag(tag)
            with tracer.span("op") as sp:
                c0 = host.tree_cpu_s(me)
                t0 = time.perf_counter()
                try:
                    rows += wl.op(spark, tracer, progress)
                    ok = True
                except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                    print(f"op {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
                    ok = False
                durations.append(time.perf_counter() - t0)
                cpus.append(host.tree_cpu_s(me) - c0)
            sc.removeJobTag(tag)
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(status.getJobIdsForTag(tag)))
            if args.trace:
                sp["progress"] = progress
                op_spans.append(sp)
            tracer.op = None
            failed += not (ok and wl.check_op())
        wall = time.perf_counter() - w0
        steal, total = (b - a for a, b in zip(jiffies0, host.cpu_jiffies()))
        record["window_steal_share"] = steal / total if total else 0.0
        mem = host.peak_mem_b(me, spark)
        record["memory_b"] = mem
        out_b = wl.out_bytes_per_op()
        app_id = sc.applicationId

        problems = wl.check(spark)
        if problems:
            print("output check failed:\n" + "\n".join(problems), file=sys.stderr)
            failed = len(durations)
    finally:
        stop_spark(spark)

    n = len(durations)
    e2e = {
        "setup_s": sum(setup.values()),
        "op_p50_s": statistics.median(durations),
        "rows_per_s": rows / wall,
        # the same first ops in every run: later ops run on a JVM further
        # warmed up, so a mean over all ops would fall as more fit the window
        "cpu_s_per_op": statistics.fmean(cpus[: wl.cpu_ops]),
        "jobs_per_op": statistics.median(jobs),
        "peak_mem_mb": sum(mem.values()) / 2**20,
        "out_bytes_per_op": out_b,
    }
    record.update(
        ops=n,
        op_s=durations,
        op_cpu_s=cpus,
        window_s=wall,
        end_to_end=e2e,
        loadavg_after=os.getloadavg(),
        cpu_probe_after_s=host.cpu_probe_s(),
        failed=failed,
    )
    if args.trace:
        log = trace.EventLog(trace.find_event_log(log_dir, app_id))
        per_op = [trace.op_metrics(log, tracer, sp) for sp in op_spans]
        record["per_op"] = per_op
        layer = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
        layer["session.start_s"] = setup["start_s"]
        layer["session.warmup_s"] = setup["warmup_s"]
        layer["trace.op_p50_s"] = e2e["op_p50_s"]
        record["per_layer"] = layer
        tracer.dump(os.path.join(records, f"{args.workload}-seed{args.seed}-spans.json"))
    # the metric names and units are the ones BENCHMARK.json declares
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = record["per_layer"] if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(records, name), "w") as fh:
        json.dump(record, fh, indent=1)
    # every end-to-end figure, gated or not, with the host shape
    print(json.dumps({"end_to_end": e2e, "host": record["host"], "record": os.path.join(".perfbench", "records", name)}))
    print(json.dumps({"correct": failed == 0, "attempted": n, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard_refresh", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(TIME_GUARD_S)
    try:
        return run(args)
    except TimeGuard as e:
        print(str(e), file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}"), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
