"""Spans at the package's layer boundaries plus Spark event-log counters.

Spans are recorded only from the benchmark's side: the workload code
opens them around the calls it makes (session start, warm-up, each op,
`render_png`, `run_incremental_rollup`), and `install_wrappers` swaps
the registry's query callables and `registry.load` for wrappers that
open a span per call. Nothing in the package is edited.

Layers are the package modules. `registry` spans are query construction
(`registry.queries()` and each query callable); `sources` spans are
table reads (`registry.load`); `sinks` are the write executions found in
the event log (their plan is a file-write command); `operators` is all
Spark work an op runs; `streaming` spans are the stream query's start
and run.

Jobs are attributed to an op by its job tag where the tag propagated and
by time window otherwise (streaming jobs run on the stream thread). The
loop is closed with one client, so op windows never overlap. Inside an
op, a job belongs to the innermost span open at its submission.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

OP_TAG = "perfbench-op-"

PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_recv",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
}
WRITE_NODES = ("InsertIntoHadoopFsRelationCommand", "WriteFiles", "SaveIntoDataSourceCommand")


class Tracer:
    """In-memory span list: name, start, end, parent span and op id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NullTracer(Tracer):
    """Untraced runs: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


def install_wrappers(tracer: Tracer) -> None:
    """Open a `registry` span per query construction and a `sources`
    span per table read, for every caller inside the package."""
    import sys

    from calidad_del_aire_etl_spark import registry

    orig_queries, orig_load = registry.queries, registry.load

    def load(*args, **kwargs):
        with tracer.span("sources.read", table=args[2] if len(args) > 2 else kwargs.get("name")):
            return orig_load(*args, **kwargs)

    def wrap_query(name, fn):
        def construct(*args, **kwargs):
            with tracer.span("registry.construct", query=name):
                return fn(*args, **kwargs)

        return construct

    def queries():
        with tracer.span("registry.queries"):
            qs = orig_queries()
        return {n: wrap_query(n, fn) for n, fn in qs.items()}

    registry.queries, registry.load = queries, load
    for modname, mod in list(sys.modules.items()):
        if modname.startswith("calidad_del_aire_etl_spark.") and getattr(mod, "load", None) is orig_load:
            mod.load = load


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def _walk_plan(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _walk_plan(c)


class EventLog:
    """The counters of one Spark application's uncompressed event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}
        self.accum_names: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, exe: dict, info: dict) -> None:
        for node in _walk_plan(info):
            if any(w in node.get("nodeName", "") for w in WRITE_NODES):
                exe["write"] = True
            for m in node.get("metrics", []):
                self.accum_names[m["accumulatorId"]] = m["name"]

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": ev["Stage IDs"],
                "tags": (props.get("spark.job.tags") or "").split(","),
                "execution": int(props["spark.sql.execution.id"])
                if props.get("spark.sql.execution.id")
                else None,
                "names": [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])],
                "call_site": props.get("callSite.short", ""),
            }
            self.jobs[job["id"]] = job
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            self.stages.setdefault(
                info["Stage ID"], {"submit": None, "end": None, "tasks": []}
            )["submit"] = (info.get("Submission Time") or 0) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], {"submit": None, "end": None, "tasks": []})
            st["end"] = (info.get("Completion Time") or 0) / 1000.0
            if st["submit"] is None:
                st["submit"] = (info.get("Submission Time") or 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exe = {"start": ev["time"] / 1000.0, "end": None, "write": False, "files": 0}
            self.executions[ev["executionId"]] = exe
            self._plan(exe, ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            exe = self.executions.get(ev["executionId"])
            if exe is not None:
                self._plan(exe, ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            exe = self.executions.get(ev["executionId"])
            if exe is not None:
                exe["end"] = ev["time"] / 1000.0
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            exe = self.executions.get(ev["executionId"])
            if exe is not None:
                for acc_id, value in ev["accumUpdates"]:
                    if self.accum_names.get(acc_id) == "number of written files":
                        exe["files"] += int(value)

    def _task(self, ev: dict) -> None:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
        inp, out = m.get("Input Metrics") or {}, m.get("Output Metrics") or {}
        task = {
            "launch": info["Launch Time"] / 1000.0,
            "finish": info["Finish Time"] / 1000.0,
            "failed": bool(info.get("Failed")) or ev["Task End Reason"]["Reason"] != "Success",
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "result_b": m.get("Result Size", 0),
            "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
            "spill_b": m.get("Disk Bytes Spilled", 0),
            "bytes_read": inp.get("Bytes Read", 0),
            "rows_read": inp.get("Records Read", 0),
            "bytes_written": out.get("Bytes Written", 0),
            "rows_written": out.get("Records Written", 0),
        }
        for acc in info.get("Accumulables", []):
            key = PY_METRICS.get(acc.get("Name"))
            if key is not None:
                task[key] = task.get(key, 0) + int(acc.get("Update") or 0)
        self.stages.setdefault(ev["Stage ID"], {"submit": None, "end": None, "tasks": []})[
            "tasks"
        ].append(task)


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


# ---------------------------------------------------------------------------
# Per-op attribution
# ---------------------------------------------------------------------------


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _self_s(span: dict, spans: list[dict]) -> float:
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == span["id"]]
    return (span["end"] - span["start"]) - _union_s(_clip(kids, span["start"], span["end"]))


def _layer(name: str) -> str:
    return name.split(".", 1)[0]


def op_metrics(log: EventLog, tracer: Tracer, op_span: dict) -> dict:
    """Every per-layer counter for one op."""
    op_id = op_span["op"]
    lo, hi = op_span["start"], op_span["end"]
    spans = [s for s in tracer.spans if s["op"] == op_id]
    tag = f"{OP_TAG}{op_id}"
    jobs = [
        j
        for j in log.jobs.values()
        if tag in j["tags"] or (lo <= j["start"] <= hi and not any(t.startswith(OP_TAG) for t in j["tags"] if t))
    ]
    for j in jobs:
        j_end = j["end"] if j["end"] is not None else hi
        j["_iv"] = (j["start"], j_end)
        inner = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        j["_span"] = max(inner, key=lambda s: s["start"]) if inner else None
        chain, s = [], j["_span"]
        while s is not None:
            chain.append(s["name"])
            s = tracer.spans[s["parent"]] if s["parent"] is not None else None
        j["_chain"] = chain

    def tasks_of(js):
        return [t for j in js for sid in j["stages"] for t in log.stages.get(sid, {}).get("tasks", [])]

    def ran_stages(js):
        return [log.stages[sid] for j in js for sid in j["stages"] if log.stages.get(sid, {}).get("tasks")]

    def sum_of(ts, key):
        return sum(t.get(key, 0) for t in ts)

    all_tasks = tasks_of(jobs)
    stages = ran_stages(jobs)
    job_iv = [j["_iv"] for j in jobs]
    m: dict[str, float] = {}

    # operators: everything the op executed in Spark
    m["operators.jobs"] = len(jobs)
    m["operators.stages"] = len(stages)
    m["operators.tasks"] = len(all_tasks)
    m["operators.executor_cpu_s"] = sum_of(all_tasks, "cpu_s")
    m["operators.executor_run_s"] = sum_of(all_tasks, "run_s")
    m["operators.gc_s"] = sum_of(all_tasks, "gc_s")
    for key in ("shuffle_read_b", "shuffle_write_b", "spill_b"):
        m[f"operators.{key}"] = sum_of(all_tasks, key)
    for key in PY_METRICS.values():
        v = sum_of(all_tasks, key)
        # Python SQL timings are nanosecond metrics
        m[f"operators.{key}"] = v / 1e9 if key.endswith("_s") else v
    m["operators.checkpoint_jobs"] = sum(
        1
        for j in jobs
        if any(w in (j["call_site"] + " ".join(j["names"])).lower() for w in ("checkpoint", "persist"))
    )
    longest = max(stages, key=lambda s: (s["end"] or 0) - (s["submit"] or 0), default=None)
    if longest:
        durs = [t["finish"] - t["launch"] for t in longest["tasks"]]
        med = statistics.median(durs)
        m["operators.task_skew"] = max(durs) / med if med > 0 else 1.0
    else:
        m["operators.task_skew"] = 0.0

    # sources: table reads (spans) and scan input
    src_jobs = [j for j in jobs if any(_layer(n) == "sources" for n in j["_chain"])]
    src_spans = [s for s in spans if _layer(s["name"]) == "sources"]
    m["sources.read_s"] = sum(s["end"] - s["start"] for s in src_spans)
    m["sources.read_jobs"] = len(src_jobs)
    m["sources.bytes_read"] = sum_of(all_tasks, "bytes_read")
    m["sources.rows_read"] = sum_of(all_tasks, "rows_read")

    # registry: query construction, with the jobs it fires
    reg_spans = [s for s in spans if s["name"] == "registry.construct"]
    reg_jobs = [j for j in jobs if "registry.construct" in j["_chain"]]
    m["registry.construct_s"] = sum(s["end"] - s["start"] for s in reg_spans)
    m["registry.construct_jobs"] = len(reg_jobs)
    m["registry.construct_job_s"] = sum(
        _union_s(_clip(job_iv, s["start"], s["end"])) for s in reg_spans
    )

    # plans
    render = [s for s in spans if s["name"] == "plans.render"]
    m["plans.render_s"] = sum(s["end"] - s["start"] for s in render)
    m["plans.driver_render_s"] = sum(
        (s["end"] - s["start"]) - _union_s(_clip(job_iv, s["start"], s["end"])) for s in render
    )
    render_jobs = [j for j in jobs if "plans.render" in j["_chain"]]
    m["plans.result_bytes"] = sum_of(tasks_of(render_jobs), "result_b")

    # sinks: write executions
    w_jobs = [j for j in jobs if j["execution"] is not None and log.executions.get(j["execution"], {}).get("write")]
    w_exec = {j["execution"] for j in w_jobs}
    w_tasks = tasks_of(w_jobs)
    m["sinks.jobs"] = len(w_jobs)
    m["sinks.write_s"] = _union_s(
        [(log.executions[e]["start"], log.executions[e]["end"] or hi) for e in w_exec]
    )
    m["sinks.bytes_written"] = sum_of(w_tasks, "bytes_written")
    m["sinks.rows_written"] = sum_of(w_tasks, "rows_written")
    m["sinks.files_written"] = sum(log.executions[e]["files"] for e in w_exec)

    # streaming: the query's progress reports, recorded on the op span
    prog = op_span.get("progress") or []
    dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in prog) / 1e3  # noqa: E731
    st = [s for s in spans if s["name"] == "streaming.start"]
    m["streaming.start_s"] = sum(s["end"] - s["start"] for s in st)
    m["streaming.trigger_s"] = dur("triggerExecution")
    m["streaming.add_batch_s"] = dur("addBatch")
    m["streaming.planning_s"] = dur("queryPlanning")
    m["streaming.commit_s"] = dur("walCommit") + dur("commitOffsets")
    m["streaming.input_rows"] = sum(p.get("numInputRows", 0) for p in prog)
    m["streaming.rollup_bytes_read"] = sum_of(w_tasks, "bytes_read") if prog else 0

    # engine-wide
    m["spark.driver_only_s"] = (hi - lo) - _union_s(_clip(job_iv, lo, hi))
    m["spark.task_wait_s"] = sum(
        min(t["launch"] for t in s["tasks"]) - s["submit"] for s in stages if s["submit"]
    )
    m["spark.failed_tasks"] = sum(1 for t in all_tasks if t["failed"])

    # self time per layer (span duration minus what its child spans cover)
    for layer in ("plans", "registry", "sources", "streaming"):
        m[f"{layer}.self_s"] = sum(_self_s(s, tracer.spans) for s in spans if _layer(s["name"]) == layer)
    m["op.self_s"] = _self_s(op_span, tracer.spans)
    return m
