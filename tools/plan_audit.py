"""Auto-generated physical-plan audit for every headline query.

Emits a markdown table: shuffle count, broadcast joins, sort-merge
joins, cartesian/BNLJ (should be zero), whole-stage-codegen spans, and
whether the parquet scan carries pushed filters. This is the "is the
plan the one you'd want at 100x" evidence, regenerated per round so it
can't drift from the code.

Usage: python tools/plan_audit.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# Hard ceiling on formatted-plan size. A query whose explain text carries
# more Exchange mentions than this has runaway lineage (iterative loops /
# multi-branch reuse re-expanding subtrees) — plan COMPILATION becomes the
# bottleneck even when execution reads caches. docs_full_pipeline hit 1113
# mentions in round 2; after checkpointing the CC labels it sits ~12.
EXCHANGE_MENTION_CEILING = 120


def main() -> None:
    from bench import HEADLINE
    from calidad_del_aire_etl_spark import registry
    from calidad_del_aire_etl_spark.session import get_session

    spark = get_session("plan_audit")
    qs = registry.queries()

    print("# PLANS — physical-plan audit (auto-generated)\n")
    print("Regenerate with `python tools/plan_audit.py > PLANS.md`.")
    print("Counts from `explain('formatted')`, which mentions each node")
    print("twice (tree + detail); numbers below are raw mention counts.\n")
    print("| query | exchanges | broadcast joins | SMJ | BNLJ/cartesian | python stages | pushed filters |")
    print("|---|---|---|---|---|---|---|")
    oversized: list[tuple[str, int]] = []
    for name in HEADLINE:
        try:
            df = qs[name](spark, SF)
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            py_stages = (
                p.count("MapInPandas")
                + p.count("FlatMapGroupsInPandas")
                + p.count("FlatMapCoGroupsInPandas")
                + p.count("ArrowEvalPython")
            ) // 2  # formatted explain mentions each node twice
        except Exception as e:  # pragma: no cover
            print(f"| {name} | ERROR: {type(e).__name__} | | | | | |")
            continue
        row = (
            name,
            p.count("Exchange"),
            p.count("BroadcastHashJoin"),
            p.count("SortMergeJoin"),
            p.count("CartesianProduct") + p.count("BroadcastNestedLoopJoin"),
            py_stages,
            "yes" if "PushedFilters: [" in p and "PushedFilters: []" not in p else "—",
        )
        print("| " + " | ".join(str(x) for x in row) + " |")
        if p.count("Exchange") > EXCHANGE_MENTION_CEILING:
            oversized.append((name, p.count("Exchange")))
    print(
        "\nReading guide: a non-zero BNLJ/cartesian count is acceptable"
        "\nONLY for two sanctioned patterns. (1) scalar broadcast —"
        "\ncrossJoin(broadcast(«1-row relation»)) carrying a"
        "\ntotal/threshold/codebook into the plan (ann topk codebooks,"
        "\ntfidf N, heavy-hitters error bound, q11 threshold)."
        "\n(2) broadcast query/hub set — crossJoin(broadcast(«k-row bounded"
        "\nrelation»)) scoring a streaming corpus against a small fixed set"
        "\n(ann_range_search, embed_matryoshka_recall, bruteforce scoring):"
        "\nthe small side is bounded by the query/hub count, the big side"
        "\nstreams, no shuffle — the correct distributed brute-force plan."
        "\nBNLJ between two unbounded multi-row relations is a bug"
        "\n(the r9 vocab_coverage rk<=top_n join was exactly that and was"
        "\nreplaced by a running-sum equi-join). SMJ only where both sides"
        "\nare fact-sized, plus one unavoidable case: FULL OUTER joins"
        "\ncannot broadcast in Spark, so a full-outer fusion of two"
        "\nalready-top-k-bounded lists (ann_hybrid_rrf, the eval joins)"
        "\nplans as an SMJ over ≤ 2k rows — bounded, not fact-sized."
        "\nmapInPandas queries show 0 codegen spans by"
        "\nconstruction (Python stage); pushed filters apply only to"
        "\nqueries whose scan has a selective predicate."
    )
    spark.stop()
    assert not oversized, (
        f"plan-size ceiling ({EXCHANGE_MENTION_CEILING} Exchange mentions) "
        f"exceeded: {oversized} — runaway lineage; checkpoint the iterative "
        "or multi-consumer boundary"
    )


if __name__ == "__main__":
    main()
