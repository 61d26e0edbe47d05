"""Plan-shape regression tests: the scale properties the operators were
designed for, asserted on the optimizer's output so they can't silently
regress.

Each guard pins a property that was explicitly engineered (and in two
cases, a pathology that was explicitly fixed — see operators/dedup.py
docstrings):

- dimension joins broadcast, never sort-merge;
- filters reach the parquet scan (PushedFilters non-empty);
- the MinHash signature's md5 shingle hash appears in the plan exactly
  once per join side (Catalyst project-collapse would inline it into the
  K-iteration lambda → K× recompute);
- no inferred `size(shingles) > 0` filter re-evaluating the shingle
  expression below the spread repartition;
- single-shuffle window ops stay single-shuffle.

Counts are against `explain("formatted")` text, which mentions each
physical node twice (tree + detail section); bounds account for that.
"""

from __future__ import annotations

import pytest

from calidad_del_aire_etl_spark import registry

SF = "/root/testdata/sf0.001"


def plan(spark, name: str) -> str:
    df = registry.queries()[name](spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q5_star_join_shape(spark):
    # r10 shape: every dimension still broadcasts, and the one
    # fact-fact join (lineitem x date-filtered orders) is a hinted
    # ShuffledHashJoin — keyed exchanges on both fact sides, NO sort
    # (the q9 discipline; strategy measured at sf10 in the docstring).
    p = plan(spark, "tpch_q5_local_supplier")
    assert p.count("BroadcastHashJoin") >= 8  # 4 dim joins × 2 mentions
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p
    # three shuffles total: two fact sides + the final aggregation
    assert p.count("Exchange hashpartitioning") <= 6


def test_q1_filter_pushdown_and_codegen(spark):
    p = plan(spark, "tpch_q1_pricing")
    assert "LessThanOrEqual(l_shipdate" in p  # inside Scan's PushedFilters
    assert p.count("Exchange") <= 2  # one agg shuffle


def test_minhash_signature_computed_once_per_side(spark):
    p = plan(spark, "dedup_minhash_lsh")
    # one md5 mention per self-join side; project-collapse inlining the
    # shingle hash into the K-lambda (or an inferred size()>0 filter)
    # would add more
    assert p.count("md5") <= 2
    assert "Condition : (size(transform" not in p


def test_jaccard_no_inferred_generate_filter(spark):
    p = plan(spark, "dedup_ngram_jaccard")
    # 2 join sides + 2 size-count branches (the legitimate ns = size(sh)
    # projections); the InferFiltersFromGenerate regression doubled this
    # with pushed-down FILTER re-evaluations of the shingle expression
    assert p.count("md5") <= 4
    assert "Condition : (size(transform" not in p


def test_rolling_mean_single_window_shuffle(spark):
    p = plan(spark, "dash_rolling_mean")
    assert p.count("Exchange") <= 2


def test_full_pipeline_no_duplicate_branches(spark):
    p = plan(spark, "etl_full_pipeline")
    # The fact chain shuffles once, INSIDE the pinned checkpoint job; the
    # downstream plan holds only the tiny bounds aggregate + its
    # broadcast. The dedup window and the final (date,user_id) aggregate
    # must ride the checkpointed user_id clustering: any hashpartitioning
    # exchange in this plan means the pin was lost (r3 fusion regression).
    assert p.count("Exchange hashpartitioning") <= 2  # bounds partial agg only
    assert "Scan parquet" not in p  # both consumers read the checkpoint
    assert p.count("Window") >= 1  # dedup window present, over Sort only


def test_pinned_checkpoint_preserves_clustering_for_downstream(spark):
    """checkpoint_keeping_partitioning contract: a window keyed on a
    SUPERSET of the upstream partition key plans as Sort-no-Exchange
    over the checkpoint scan (under AQE a plain localCheckpoint reports
    UnknownPartitioning and re-shuffles)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from calidad_del_aire_etl_spark.session import checkpoint_keeping_partitioning

    df = registry.load(spark, SF, "events").repartition(8, "user_id")
    ck = checkpoint_keeping_partitioning(df)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts")
    out = ck.withColumn("rn", F.row_number().over(w))
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in p
    assert "Sort" in p


def test_pinned_checkpoint_concurrent_calls_both_preserve_plans(spark):
    """VERDICT r14 #6: the AQE flip inside checkpoint_keeping_partitioning
    is session-wide; two concurrent calls must not race the set/restore
    (one thread restoring while the other is mid-materialization would
    leave the second checkpoint under AQE, losing its partitioning pin).
    The module lock serializes the window: BOTH results must plan the
    downstream superset-key window as Sort-no-Exchange, and the session
    must come out with AQE restored."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from calidad_del_aire_etl_spark.session import checkpoint_keeping_partitioning

    base = registry.load(spark, SF, "events")

    def one(key):
        df = base.repartition(8, key)
        return key, checkpoint_keeping_partitioning(df)

    with ThreadPoolExecutor(max_workers=2) as pool:
        results = list(pool.map(one, ["user_id", "event_type"]))
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    for key, ck in results:
        w = Window.partitionBy(key, "props").orderBy("ts")
        out = ck.withColumn("rn", F.row_number().over(w))
        p = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in p, f"{key}: partitioning pin lost\n{p}"
        assert "Sort" in p


def test_iqr_join_method_broadcasts_bounds(spark):
    df = registry.load(spark, SF, "events")
    from calidad_del_aire_etl_spark.operators import cleaning

    out = cleaning.iqr_clip(df, ["value"], group_cols=["event_type"], k=3.0)
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q10_pushdown_and_broadcast(spark):
    p = plan(spark, "tpch_q10_returned")
    assert "EqualTo(l_returnflag,R)" in p  # selective filter at the scan
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q6_zero_joins_full_pushdown(spark):
    p = plan(spark, "tpch_q6_forecast")
    assert "Join" not in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity,24.0)" in p


def test_range_join_uses_equi_key_not_nested_loop(spark):
    """The equi-key must carry the join; a pure-range plan degrades to
    BNLJ/cartesian, which is O(n·m) at scale."""
    p = plan(spark, "range_join_incidents")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "EqualTo(event_type,error)" in p  # trigger filter at the scan


def test_funnel_two_shuffles_max(spark):
    # groupBy user_id + groupBy depth — nothing else may shuffle
    p = plan(spark, "window_funnel")
    assert p.count("Exchange hashpartitioning") <= 4  # 2 nodes × 2 mentions


def test_pack_sequences_single_shard_shuffle(spark):
    p = plan(spark, "corpus_pack_sequences")
    assert p.count("Exchange hashpartitioning") <= 4  # window + agg reuse shard key
    # tokenization must not be re-evaluated below the window sort
    assert p.count("split(") <= 2


def test_runtime_bloom_filter_injects_for_selective_join(spark):
    """The session enables runtime bloom-filter pruning; default size
    thresholds gate it to production-scale scans, so this test lowers
    the application threshold to prove injection on a selective
    dim-filtered shuffle join (the 100 TB behavior in miniature)."""
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in optimized.lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_flagship_jaccard_hot_shingle_cap_present(spark):
    """docs_full_pipeline must run Jaccard with the max_doc_freq hot-key
    guard wired in. Since r3 the CC stage materializes eagerly, so the
    Jaccard subplan is no longer visible in the flagship's FINAL plan;
    the guard is asserted in two parts: (a) the operator with a cap
    plans the two-phase doc-frequency drop (broadcast anti-join on the
    hot set), (b) the flagship actually passes the cap (source
    tripwire, both engines' twins)."""
    import inspect

    from calidad_del_aire_etl_spark.operators import dedup
    from calidad_del_aire_etl_spark.registry import load

    docs = load(spark, SF, "documents").select("doc_id", "text")
    pairs = dedup.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=128
    )
    p = pairs._sc._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted"
    )
    # Two-phase skew-safe guard (r2 ADVICE): map-side-combined doc
    # frequency count, hot set broadcast into a LeftAnti join that thins
    # the exploded relation before the pair shuffle.
    assert "BroadcastHashJoin LeftAnti" in p, (
        "hot-shingle broadcast anti-join guard missing from jaccard plan"
    )
    assert "__df" in p and "> 128" in p, (
        "doc-frequency cap predicate missing from jaccard plan"
    )
    # the registered callable is wrapped, so inspect the module source:
    # the cap must appear on BOTH the Spark call and the SQL twin
    # (the flagship lives in queries/q06_docs_pipeline since the r10
    # registry split)
    from calidad_del_aire_etl_spark.queries import q06_docs_pipeline

    src = inspect.getsource(q06_docs_pipeline)
    assert src.count("max_doc_freq=128") >= 2, (
        "flagship no longer passes the hot-key cap on both engines"
    )


def test_q9_dims_broadcast_single_fact_shuffle(spark):
    """Q9's three dims (part/supplier/nation) must broadcast; only the
    lineitem-orders fact-fact join and the final agg shuffle."""
    p = plan(spark, "tpch_q9_profit")
    assert p.count("BroadcastHashJoin") >= 6  # 3 joins x 2 mentions
    assert p.count("Exchange hashpartitioning") <= 6  # join + agg (x2 mentions) + slack


def test_q2_argmin_window_partitioned_by_part(spark):
    """Q2's min-cost pick must be a per-part window (bounded state),
    never a global sort."""
    p = plan(spark, "tpch_q2_min_cost")
    assert "windowspecdefinition(ps_partkey" in p


def test_dash_kpis_single_fact_pass(spark):
    """Both KPI branches (daily stats and worst-group argmax) must reduce
    from ONE fact pass: a second parquet scan means a branch went back
    to the fact (r2 VERDICT regression), and a nested-loop or cartesian
    join means the branches were computed apart and joined back."""
    p = plan(spark, "dash_kpis")
    assert p.count("Scan parquet") == 2  # one scan node, mentioned twice
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


# The blowup-prone subset: iterative fixpoints, multi-consumer
# checkpoint boundaries, the composed flagships — historically the only
# places formatted plans ballooned (r2: 1100+ Exchange mentions from
# iterative lineage re-expansion). The fast default gate covers these
# on every run; the full 138-query sweep is the per-round slow gate.
_BLOWUP_PRONE = [
    "docs_full_pipeline", "dedup_cluster_resolve", "dedup_cluster_star",
    "dedup_minhash_eval", "ann_graph_topk", "ann_graph_insert",
    "ann_graph_recall_eval", "scd2_apply_incremental",
    "dash_spearman_matrix", "tpch_q21_waiting", "dedup_containment",
    "graph_triangles", "corpus_bpe_merges", "dedup_incremental_minhash",
    "etl_full_pipeline",
]


def test_blowup_prone_plans_under_ceiling(spark):
    """Fast default-run slice of the plan-size gate (VERDICT r14 #2:
    the full sweep at ~144 s exceeded the driver's pytest budget;
    it remains the per-round slow gate below)."""
    import sys as _sys, os as _os

    _sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), "..", "tools"))
    from plan_audit import EXCHANGE_MENTION_CEILING

    qs = registry.queries()
    oversized = []
    for name in _BLOWUP_PRONE:
        p_text = plan(spark, name)
        n = p_text.count("Exchange")
        if n > EXCHANGE_MENTION_CEILING:
            oversized.append((name, n))
    assert not oversized, f"plan-size ceiling exceeded: {oversized}"


@pytest.mark.slow
def test_every_headliner_under_plan_size_ceiling(spark):
    """Hard gate on formatted-plan size for EVERY benched query (r3
    VERDICT #7): plan_audit.py only failed when run as a script, so a
    ballooning plan (the r2 flagship hit 1100+ Exchange mentions from
    iterative lineage re-expansion) could land without tripping CI.
    Exchange-mention count is the canary — lineage blowup inflates it
    first; the ceiling is far above any sane plan (~30) but far below
    the pathology (1100+)."""
    import sys as _sys, os as _os

    _sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), "..", "tools"))
    from plan_audit import EXCHANGE_MENTION_CEILING
    from bench import HEADLINE

    qs = registry.queries()
    oversized = []
    for name in HEADLINE:
        p_text = plan(spark, name)
        n = p_text.count("Exchange")
        if n > EXCHANGE_MENTION_CEILING:
            oversized.append((name, n))
    assert not oversized, (
        f"plan-size ceiling ({EXCHANGE_MENTION_CEILING} Exchange mentions) "
        f"exceeded: {oversized} — runaway lineage; checkpoint the iterative "
        "or multi-consumer boundary"
    )
