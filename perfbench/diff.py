"""Compare two sets of benchmark records, one row per workload and metric.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are record files written by run.py (under
`.perfbench/records/`) or directories holding them. Per workload:

- end-to-end metrics (untraced records): medians of each side, judged by
  the bound and direction in BENCHMARK.json; the recorded wall figures
  that BENCHMARK.json does not gate are shown as ratios;
- counters (traced records with the same seed): per-op values compared
  exactly over the ops both runs reached;
- executor CPU seconds (traced records with the same seed): NEW / BASE.

Exit code 1 when an end-to-end metric regressed past its bound.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COUNTERS = [
    "operators.jobs",
    "operators.stages",
    "operators.tasks",
    "operators.shuffle_read_b",
    "operators.shuffle_write_b",
    "operators.spill_b",
    "operators.checkpoint_jobs",
    "registry.construct_jobs",
    "sources.read_jobs",
    "sources.rows_read",
    "sinks.jobs",
    "sinks.rows_written",
    "sinks.files_written",
    "streaming.input_rows",
    "spark.failed_tasks",
]


def load(path: str) -> list[dict]:
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith("json")]
    else:
        files = [path]
    out = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if isinstance(rec, dict) and "workload" in rec:
            out.append(rec)
    return out


def rows(base: list[dict], new: list[dict], bench: dict) -> list[tuple]:
    spec = {m["name"]: m for m in bench["end_to_end"]}
    out = []
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        b0 = [r for r in base if r["workload"] == wl and not r["trace"]]
        n0 = [r for r in new if r["workload"] == wl and not r["trace"]]
        recorded = sorted({k for r in b0 + n0 for k in r["end_to_end"]})
        for name in list(spec) + [k for k in recorded if k not in spec]:
            bv = [r["end_to_end"][name] for r in b0 if name in r["end_to_end"]]
            nv = [r["end_to_end"][name] for r in n0 if name in r["end_to_end"]]
            if not bv or not nv:
                continue
            b, n = statistics.median(bv), statistics.median(nv)
            change = (n - b) / b if b else 0.0
            if name not in spec:
                # recorded but not gated: wall time on a shared host
                out.append((wl, name, "e2e, no bound", b, n, f"{change:+.1%} ratio={n / b:.3f}" if b else "-"))
                continue
            m = spec[name]
            worse = change if m["better"] == "lower" else -change
            verdict = "REGRESSED" if worse > m["bound"] else "improved" if worse < -m["bound"] else "within bound"
            out.append((wl, name, "e2e", b, n, f"{change:+.1%} (bound {m['bound']:.0%}) {verdict}"))
        b1 = {r["seed"]: r for r in base if r["workload"] == wl and r["trace"]}
        n1 = {r["seed"]: r for r in new if r["workload"] == wl and r["trace"]}
        for seed in sorted(b1.keys() & n1.keys()):
            bo, no = b1[seed]["per_op"], n1[seed]["per_op"]
            k = min(len(bo), len(no))
            for name in COUNTERS + ["operators.executor_cpu_s"]:
                bl = [op.get(name) for op in bo[:k]]
                nl = [op.get(name) for op in no[:k]]
                if name == "operators.executor_cpu_s":
                    b, n = sum(bl), sum(nl)
                    out.append((wl, name, f"cpu seed={seed}", b, n, f"ratio={n / b:.3f}" if b else "-"))
                else:
                    diffs = [i for i in range(k) if bl[i] != nl[i]]
                    verdict = "equal" if not diffs else f"DIFF at ops {diffs}"
                    out.append((wl, name, f"counter seed={seed} ops={k}", sum(bl), sum(nl), verdict))
    return out


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    table = rows(load(sys.argv[1]), load(sys.argv[2]), bench)
    print(f"{'workload':18s} {'metric':28s} {'kind':26s} {'base':>14s} {'new':>14s}  verdict")
    for wl, name, kind, b, n, verdict in table:
        print(f"{wl:18s} {name:28s} {kind:26s} {b:14.6g} {n:14.6g}  {verdict}")
    return 1 if any("REGRESSED" in r[5] for r in table) else 0


if __name__ == "__main__":
    sys.exit(main())
