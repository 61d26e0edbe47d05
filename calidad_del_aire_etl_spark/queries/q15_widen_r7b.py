"""Widening batch (r7b-r10): Benford, Gini, seasonal, graph ANN, BPE loop — registered queries, split out of registry.py
(round 10, VERDICT r9 #8: 3.9k lines had become the merge-conflict
magnet)."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ..functions import (  # noqa: F401
    aqi_from_pm25,
    aqi_sql,
    quality_category,
    quality_category_sql,
    r4,
)
from ..operators import aggregates, cleaning, features  # noqa: F401
from ..registry import (  # noqa: F401
    _GAPPY_EVENTS_SQL,
    _gappy_events,
    load,
    register,
)
from ..operators import ann  # noqa: F401
from ..operators import corpus  # noqa: F401
from ..operators import analytics2  # noqa: F401
from ..operators import validation  # noqa: F401

# ---------------------------------------------------------------------------
# Round-7 batch 2: Benford screen, Gini concentration, seasonal
# decomposition, Gopher quality rules, CCNet perplexity buckets.
# ---------------------------------------------------------------------------


@register(
    "benford_price_test",
    validation.benford_test_sql("lineitem", "l_extendedprice"),
)
def q_benford_price_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11h — Benford first-digit screen over
    lineitem.l_extendedprice: per-digit observed vs expected share and
    χ² contribution (operators/validation.py:benford_test) — the
    fraud / synthetic-data / unit-mixup detector. One 9-group
    map-side-combined aggregate; scan-bound at any SF."""
    li = load(spark, sf_dir, "lineitem")
    return validation.benford_test(li, "l_extendedprice")


@register(
    "revenue_gini_by_nation",
    analytics2.gini_by_group_sql(
        "(SELECT n_name, o.o_custkey AS cust, o.o_totalprice AS amt "
        " FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        " JOIN nation n ON c.c_nationkey = n.n_nationkey)",
        "n_name", "cust", "amt",
    ),
)
def q_revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31k — Gini concentration of customer revenue within
    each nation (operators/analytics2.py:gini_by_group): how unequal is
    spend across customers per market. Fact aggregate is map-side
    combined; nation dims broadcast; the exact rank window per nation is
    the oracle contract (the 100 TB path swaps it for a Lorenz
    histogram, see docstring)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name"),
            F.col("o_custkey").alias("cust"),
            F.col("o_totalprice").alias("amt"),
        )
    )
    return analytics2.gini_by_group(joined, "n_name", "cust", "amt")


@register("seasonal_decompose", analytics2.seasonal_decompose_sql())
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #20b — classical additive trend/seasonal/residual
    decomposition of the per-type hourly series
    (operators/analytics2.py:seasonal_decompose); the profile behind
    seasonal_anomaly. One table-sized aggregate to hourly grain; all
    windows after it are calendar-bounded."""
    ev = load(spark, sf_dir, "events")
    return analytics2.seasonal_decompose(ev)


@register(
    "corpus_gopher_rules",
    corpus.gopher_rules_sql("documents", "text", "source"),
)
def q_corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49l — Gopher document-quality rules (Rae et al. 2021)
    with per-source pass rates and per-rule fail counts
    (operators/corpus.py:gopher_rules). All seven rules are JVM
    higher-order-function expressions over the split arrays — no UDF,
    no text shuffle; the one exchange carries a row per source."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.gopher_rules(docs, "text", "source")


@register(
    "corpus_perplexity_buckets",
    corpus.perplexity_buckets_sql("documents", "doc_id", "text", "lang"),
)
def q_corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49m — CCNet head/middle/tail perplexity buckets per
    language (Wenzek et al. 2020): tercile documents within each lang
    by unigram mean log-probability and report bucket sizes and score
    ranges (operators/corpus.py:perplexity_buckets). Rides
    unigram_logprob's broadcast-head/shuffled-tail token join."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.perplexity_buckets(docs, "doc_id", "text", "lang")


@register(
    "revenue_gini_by_nation_hist",
    analytics2.gini_by_group_hist_sql(
        "(SELECT n_name, o.o_custkey AS cust, o.o_totalprice AS amt "
        " FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        " JOIN nation n ON c.c_nationkey = n.n_nationkey)",
        "n_name", "cust", "amt",
    ),
)
def q_revenue_gini_by_nation_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31k (scale variant) — Lorenz-histogram Gini of
    customer revenue per nation (operators/analytics2.py:
    gini_by_group_hist): the 100 TB path revenue_gini_by_nation's
    docstring promises, as a registered query. 256 fixed-width bins per
    nation replace the exact per-nation rank window over customer-grain
    rows — every table-sized step is a map-side-combined aggregate; the
    only window runs over <= 256 bin rows per nation. Deterministic, so
    the DuckDB twin hash-matches; a tolerance pytest pins it within
    0.01 of the exact Gini."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name"),
            F.col("o_custkey").alias("cust"),
            F.col("o_totalprice").alias("amt"),
        )
    )
    return analytics2.gini_by_group_hist(joined, "n_name", "cust", "amt")


@register(
    "corpus_perplexity_buckets_approx",
    corpus.perplexity_buckets_approx_sql("documents", "doc_id", "text", "lang"),
)
def q_corpus_perplexity_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49m (scale variant) — histogram-cut head/middle/tail
    perplexity split (operators/corpus.py:perplexity_buckets_approx):
    the 100 TB path corpus_perplexity_buckets' docstring promises, as a
    registered query. 512 fixed-width score bins per language replace
    the exact per-language NTILE over doc-grain rows — after the
    unigram score, the whole plan is an aggregate tree (per-bin
    histogram, a <= 512-row window, a 3-row rollup); no doc-grain sort
    or re-join. Deterministic, so the DuckDB twin hash-matches; a
    tolerance pytest pins bucket sizes within bin-straddle of exact
    terciles."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.perplexity_buckets_approx(docs, "doc_id", "text", "lang")


@register(
    "corpus_dup_spans_exact",
    corpus.dup_spans_exact_sql("documents", "doc_id", "text", span_len=32),
)
def q_corpus_dup_spans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49b (full-coverage variant) — duplicated-substring
    profile at stride 1 (operators/corpus.py:dup_spans_exact): the
    exact span-level signal of Lee et al. 2022, catching duplicates the
    strided corpus_dup_spans misses when occurrences start at different
    offsets modulo the stride. Codegen'd md5-prefix hash per position,
    one exchange on the span hash with a min/max window duplicate flag,
    linear in corpus bytes, self-join-free."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.dup_spans_exact(docs, "doc_id", "text", span_len=32)


from ..operators import ann_graph  # noqa: E402
from ..sources.readers import file_signature  # noqa: E402

# sf_dir -> memo key of the standing graph over its embeddings table
_EMBEDDINGS_MEMO_KEYS: dict[str, str] = {}


def _embeddings_memo_key(spark: SparkSession, sf_dir: str) -> str | None:
    """Memo key of the standing graph index over ``sf_dir``'s embeddings:
    the table path plus a digest of its file signature, so a table
    rewritten under the same path builds a fresh index instead of
    serving the stale one. Entries memoized under the path's previous
    signature are evicted, which releases their checkpoint blocks.
    None (no memo) when the table cannot be listed."""
    sig = file_signature(spark, f"{sf_dir}/embeddings.parquet")
    if sig is None:
        return None
    key = f"{sf_dir}/embeddings@{hashlib.md5(repr(sig).encode()).hexdigest()}"
    old = _EMBEDDINGS_MEMO_KEYS.get(sf_dir)
    if old is not None and old != key:
        ann_graph.clear_graph_memo(old)
    _EMBEDDINGS_MEMO_KEYS[sf_dir] = key
    return key


@register(
    "ann_graph_topk",
    ann_graph.graph_beam_topk_sql(
        "embeddings", "vec_id", "embedding", "id < 10", k=5
    ),
)
def q_ann_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31j — graph ANN: NN-Descent k-NN graph (Dong et al.
    2011) + hub-seeded beam search (operators/ann_graph.py), the
    distributable counterpart of the HNSW/SW-graph family. Build is
    iterated local joins hash-partitioned on node id (O(N k^2 d) per
    round); search touches <= beam*k rows per query per hop.

    Promoted from rows-only to FULL hash parity (r13, VERDICT r12 #7):
    every decision in the build and search is deterministic
    (md5-ordered hubs, r4-rounded tie-breaks), so graph_beam_topk_sql
    replays the identical walk as unrolled CTEs — the same twin
    ann_graph_recall_eval has hash-matched since r9, now checking the
    raw (query_id, neighbor_id, cosine, rank) relation itself. Recall,
    determinism, and degree invariants remain pinned in
    tests/test_ann_graph.py."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann_graph.graph_beam_topk(
        em, "vec_id", "embedding", lambda c: c < 10, k=5,
        memo_key=_embeddings_memo_key(spark, sf_dir),
    )


@register(
    "ann_graph_insert",
    ann_graph.nndescent_insert_sql(
        "embeddings", "vec_id", "embedding", "vec_id % 5 = 0", k=8
    ),
)
def q_ann_graph_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31j2 — incremental graph-ANN maintenance
    (operators/ann_graph.py:nndescent_insert): a 20% arrival batch is
    inserted into the standing NN-Descent index by batched beam-search
    placement (new->old), back-link merge into only the touched old
    nodes, and one bounded new<->new local join — the standing index is
    never re-scored, the graph-ANN sibling of dedup_incremental_minhash.

    Promoted from rows-only to FULL hash parity (r13, VERDICT r12 #7):
    nndescent_insert_sql unrolls the standing build over the old
    subset, the arrivals' beam placement, and all three edge sources
    into the graph family's deterministic CTE replay — every top-k cut
    shares the engines' tie-break. Coverage/quality/locality invariants
    stay pinned in tests/test_ann_graph.py."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann_graph.nndescent_insert(
        em, "vec_id", "embedding", lambda c: c % 5 == 0, k=8,
        memo_key=_embeddings_memo_key(spark, sf_dir), pred_tag="mod5",
    )


@register(
    "ann_graph_recall_eval",
    ann_graph.graph_recall_eval_sql(
        "embeddings", "vec_id", "embedding", "q.vec_id < 10", "id < 10", k=5
    ),
)
def q_ann_graph_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31j3 — recall@5 of the NN-Descent beam search vs the
    exact brute-force ranking, per query (VERDICT r9 #3): closes the
    graph-ANN verification gap. The graph BUILD stays rows-only, but
    every decision in it is deterministic (md5-ordered hubs, r4-rounded
    tie-breaks), so the oracle twin replays the IDENTICAL build+search
    as unrolled CTEs (the embed_kmeans discipline) — the pair's output
    quality is now hash-checkable, not just pytest-pinned."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann_graph.graph_recall_eval(
        em, "vec_id", "embedding", lambda c: c < 10, k=5,
        memo_key=_embeddings_memo_key(spark, sf_dir),
    )


@register(
    "ann_range_search",
    ann.range_search_sql("embeddings", "vec_id", "embedding", "q.vec_id < 10", 0.30),
)
def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #30b — cosine RANGE search (all neighbors with rounded
    cosine >= 0.30 per query, FAISS range_search semantics): the
    unknown-result-count companion to top-k. Broadcast query set, one
    shuffle-free corpus scan, threshold applied to the r4-rounded score
    so the boundary is engine-stable."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.range_search(em, "vec_id", "embedding", lambda c: c < 10, 0.30)


@register(
    "embed_matryoshka_recall",
    ann.matryoshka_recall_sql(
        "embeddings", "vec_id", "embedding", "q.vec_id < 10", k=5, dims=(4, 8, 16)
    ),
)
def q_embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31h2 — Matryoshka truncation recall (Kusupati et al.
    2022): recall@5 of prefix-dimension cosine search (dims 4/8/16) vs
    the full-dim exact top-5. One broadcast of the query set and ONE
    corpus scan scores every truncation side by side (stack unpivot);
    per-dim top-k windows run over the tiny scored relation."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.matryoshka_recall(
        em, "vec_id", "embedding", lambda c: c < 10, k=5, dims=(4, 8, 16)
    )


@register(
    "corpus_bpe_pair_counts",
    corpus.bpe_pair_counts_sql("documents", "text", k=50),
)
def q_corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47b — BPE merge-step pair statistics (Sennrich et al.
    2016): corpus-wide adjacent character-pair frequencies (with
    end-of-word marker), weighted by word frequency — the first-merge
    decision of a distributed tokenizer trainer. Tokens collapse to the
    Heaps'-bounded distinct-word relation before any pair explosion."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.bpe_pair_counts(docs, "text", k=50)


@register(
    "corpus_span_dedup_emit",
    corpus.span_dedup_emit_sql("documents", "doc_id", "text", span_len=32, drop_frac=0.3),
)
def q_corpus_span_dedup_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49g3 — the REMOVAL step of Lee et al. 2022 span dedup
    (VERDICT r9 #7): per-doc duplicated-CHAR fraction (interval union of
    the stride-1 duplicated spans — tighter than the span fraction) and
    the emit action (drop > 0.3, clip if any dup chars, else keep) — the
    decision analog of dedup_keep_best, built on the proven
    corpus_dup_spans_exact machinery. All-integer interval arithmetic,
    so both engines agree exactly; planted-doc pytest in
    tests/test_round10_ops.py."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.span_dedup_emit(docs, "doc_id", "text", span_len=32, drop_frac=0.3)


@register(
    "corpus_bpe_merges",
    corpus.bpe_merges_sql("documents", "text", n_merges=6),
)
def q_corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47d — the BPE trainer LOOP (Sennrich et al. 2016;
    VERDICT r9 #6): 6 iterated merge decisions over the Heaps'-bounded
    distinct-word relation, extending corpus_bpe_pair_counts (the first
    decision) into the merge-table artifact a tokenizer ships with.
    Per step: combiner-backed pair count over the vocab relation, ONE
    argmax row to the driver (codebook discipline), literal-replace
    broadcast back. Oracle = the loop unrolled into per-step CTEs;
    pytest pins the loop against a reference BPE on a toy corpus."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.bpe_merges(docs, "text", n_merges=6)


@register(
    "corpus_vocab_coverage",
    corpus.vocab_coverage_sql("documents", "text", top_ns=(10, 50, 200)),
)
def q_corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47c — top-N vocabulary token coverage / OOV-rate curve
    (tokenizer vocab sizing): combiner-backed word count, TakeOrdered
    top-max(N) (no full vocabulary sort), all remaining math on <= 200
    rows with the corpus total riding a 1-row broadcast."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.vocab_coverage(docs, "text", top_ns=(10, 50, 200))


from ..operators import analytics  # noqa: E402


@register(
    "dash_rolling_mean_centered",
    """
    SELECT event_id, user_id, value,
           CASE WHEN COUNT(value) OVER w >= 6 THEN
             ROUND(AVG(value) OVER w + 1e-9, 4)
           END AS rolling_mean
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING)
    """,
)
def q_dash_rolling_mean_centered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14f — CENTERED 6-row rolling mean, the reference
    dashboard's exact frame (dashboard_calidad_aire.py:126 uses
    rolling(window=6, center=True): rows [-3, +2] with pandas'
    min_periods=window NaN edges) — closes VERDICT r9 missing #1, the
    3-hour phase shift a dashboard user would see against the trailing
    variant. Same one-shuffle window plan as dash_rolling_mean."""
    ev = load(spark, sf_dir, "events")
    out = analytics.rolling_mean(
        ev, "ts", "user_id", "value", window_rows=6,
        order_tiebreak=["event_id"], center=True,
    )
    return out.select("event_id", "user_id", "value", "rolling_mean")


@register(
    "corpus_bpe_encode",
    corpus.bpe_encode_stats_sql("documents", "doc_id", "text", n_merges=6),
)
def q_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47e — the ENCODER side of the BPE family: apply the
    trained merge table to every document and report per-doc token
    statistics (tokens/word, chars/token) — the sequence-length readout
    a vocab decision is actually made on. Encoding is k chained literal
    replaces in ONE projection over the corpus (all-JVM, no UDF); the
    trainer's merges arrive as collected literals (codebook
    discipline), so encoder and trainer share the greedy scan by
    construction."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.bpe_encode_stats(docs, "doc_id", "text", n_merges=6)
