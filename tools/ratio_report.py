"""Join a bench JSON (bench.py output) with a baseline JSON
(tools/baseline.py output) and print the data-bound ratio table the
per-round perf review reads — the same comparison VERDICT's
"performance vs baseline" section makes, reproducible in one command.

Usage: python tools/ratio_report.py <bench.json> <baseline.json> [--bound 0.5]

- suite totals + comparable-subset ratio;
- every data-bound query (twin >= bound seconds) with its ratio,
  breaches of the 2x rule flagged;
- the fixed-floor bucket (twin < bound) summarized, not listed —
  those ratios are SF-invariant scheduling overhead, not plan quality.
"""

from __future__ import annotations

import json
import re
import sys


def _overlay(bench: dict, base: dict) -> tuple[dict, dict, dict]:
    """Resolve the SF10-ledger shape: start from each file's flat
    ``queries`` map, then apply the bench file's ``r{N}_updates``
    blocks in round order. Update entries may be floats (spark
    seconds) or dicts carrying both postures — ``spark_pair`` /
    ``duck_pair`` (fresh-process same-window pair) and ``warm_s``
    (rep-3 warm-session wall, the posture a long-lived cluster pays).
    Returns (spark_seconds, duck_seconds, warm_seconds) keyed by
    query. Plain bench.py/baseline.py outputs have no update blocks
    and pass through unchanged."""
    sq = dict(bench.get("queries", {}))
    dq = dict(base.get("queries", {}))
    warm: dict = {}
    bkt: dict = {}
    upds = sorted(
        (k for k in bench if re.fullmatch(r"r\d+_updates", k)),
        key=lambda k: int(k[1:].split("_")[0]),
    )
    for uk in upds:
        for name, e in bench[uk].get("queries", {}).items():
            if isinstance(e, dict):
                if e.get("spark_pair") is not None:
                    sq[name] = e["spark_pair"]
                if e.get("duck_pair") is not None:
                    dq[name] = e["duck_pair"]
                if e.get("warm_s") is not None:
                    warm[name] = e["warm_s"]
                if e.get("bucketed_warm_s") is not None:
                    bkt[name] = e["bucketed_warm_s"]
            else:
                sq[name] = e
    return sq, dq, warm, bkt


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: ratio_report.py <bench.json> <baseline.json> [--bound S]")
    bench_path, base_path = sys.argv[1], sys.argv[2]
    bound = float(sys.argv[sys.argv.index("--bound") + 1]) if "--bound" in sys.argv else 0.5
    bench = json.load(open(bench_path))
    if "parsed" in bench:  # driver-recorded BENCH_rN.json wraps the line
        bench = bench["parsed"]
    if "queries" not in bench and bench.get("detail"):
        # round-5 bench protocol: the final stdout line is a compact
        # summary pointing at the per-query detail file committed next
        # to bench.py
        import os

        here = os.path.dirname(os.path.abspath(bench_path))
        summary = bench
        for cand in (os.path.join(here, bench["detail"]), bench["detail"]):
            if os.path.exists(cand):
                bench = json.load(open(cand))
                break
        else:
            sys.exit(f"per-query detail file {summary['detail']!r} not found")
        # the detail file is mutable state a later run can overwrite —
        # refuse to join a summary against a detail from a different run
        mismatches = [
            f"{k}: summary={summary[k]!r} detail={bench.get(k)!r}"
            for k in ("value", "sf")
            if summary.get(k) != bench.get(k)
        ]
        if summary.get("n_queries") not in (None, len(bench.get("queries", {}))):
            mismatches.append(
                f"n_queries: summary={summary['n_queries']} "
                f"detail={len(bench.get('queries', {}))}"
            )
        if mismatches:
            sys.exit(
                "detail file does not match the summary (stale or "
                "overwritten by a later run): " + "; ".join(mismatches)
            )
    base = json.load(open(base_path))
    if "window_steal_share" in bench:
        print(f"host steal share over the timed loop: {bench['window_steal_share']:.1%}\n")
    bq, dq, warm, bkt = _overlay(bench, base)
    comp = {k: v for k, v in bq.items() if k in dq and dq[k] is not None}
    ds, dd = sum(comp.values()), sum(dq[k] for k in comp)
    total = bench.get("value", sum(bq.values()))
    print(f"suite total: spark {total:.1f}s over {len(bq)} queries")
    if dd > 0:
        print(
            f"comparable {len(comp)}: spark {ds:.1f}s vs duckdb {dd:.1f}s"
            f" -> {ds / dd:.2f}x single-node"
        )
    else:
        print("no comparable queries between the two files")
    rows = sorted(
        ((v / dq[k], v, dq[k], k) for k, v in comp.items() if dq[k] >= bound),
        reverse=True,
    )
    print(f"\ndata-bound queries (twin >= {bound}s): {len(rows)}")
    for r, s, t, k in rows:
        flag = "  <-- OVER 2x" if r > 2 else ""
        w = (
            f"  warm {warm[k]:5.2f} ({warm[k] / t:.2f}x)"
            if k in warm else ""
        )
        b = (
            f"  bucketed {bkt[k]:5.2f} ({bkt[k] / t:.2f}x)"
            if k in bkt else ""
        )
        print(f"  {r:5.2f}x  spark {s:6.2f}  duck {t:6.2f}  {k}{w}{b}{flag}")
    floor = [k for k in comp if dq[k] < bound]
    fs = sum(comp[k] for k in floor)
    print(
        f"\nfixed-floor bucket (twin < {bound}s): {len(floor)} queries,"
        f" spark {fs:.1f}s total — SF-invariant scheduling/plan floor,"
        " amortizes at scale"
    )


if __name__ == "__main__":
    main()
