"""Widening batch (r4-r6): readability, LM scoring, split hygiene, profiling — registered queries, split out of registry.py
(round 10, VERDICT r9 #8: 3.9k lines had become the merge-conflict
magnet). PURELY MECHANICAL: bodies are byte-identical to the original
section."""

from __future__ import annotations

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
from ..operators import multimodal  # noqa: F401
from ..operators import general  # noqa: F401
from ..operators import validation  # noqa: F401
from ..operators import sketches  # noqa: F401
from .q10_geo import _user_coords_sql  # noqa: F401
from ..operators import behavior  # noqa: F401
from ..operators import dedup  # noqa: F401
from ..operators import graph  # noqa: F401
from ..operators import ann  # noqa: F401
from ..operators import analytics2  # noqa: F401
from ..operators import corpus  # noqa: F401
from ..operators import text  # noqa: F401

# ---------------------------------------------------------------------------
# Round-4 additions: readability, unigram-LM scoring, split hygiene,
# robust outliers, CUSUM changepoints.
# ---------------------------------------------------------------------------


@register("text_readability", text.readability_sql("documents", "doc_id", "text"))
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #35e — Flesch-style readability from three regexp
    counts; zero-shuffle narrow projection."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.readability(docs, "doc_id", "text")


@register(
    "corpus_unigram_logprob",
    corpus.unigram_logprob_sql("documents", "doc_id", "text"),
)
def q_corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49h — CCNet-style unigram-LM quality score; the
    Zipf-head token join broadcasts (skew guard), only the long tail
    shuffles."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.unigram_logprob(docs, "doc_id", "text")


@register(
    "corpus_split_decontaminated",
    corpus.split_decontaminated_sql("documents", "doc_id", "text"),
)
def q_corpus_split_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49i — hash-deterministic train/test split with
    verbatim n-gram leakage flags; the train side never shuffles."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.split_decontaminated(docs, "doc_id", "text")


@register("etl_outlier_mad", analytics2.mad_outliers_sql(3.5))
def q_etl_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #4b — robust median/MAD outliers per event type
    (50% breakdown point vs the IQR/z rules); fact never shuffles,
    per-type stats broadcast."""
    return analytics2.mad_outliers(load(spark, sf_dir, "events"), 3.5)


@register(
    "ann_pq_topk",
    ann.pq_topk_sql(
        "embeddings", "vec_id", "embedding", "label", "id < 10", k=5, m_subspaces=8
    ),
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31f — product-quantized top-5: 8 subspace codes per
    vector (32x less corpus bandwidth than float32), asymmetric-distance
    scoring; codebook collected once, single window shuffle."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.pq_topk(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, m_subspaces=8
    )


@register(
    "ann_ivfpq_topk",
    ann.ivfpq_topk_sql(
        "embeddings",
        "vec_id",
        "embedding",
        "label",
        "id < 10",
        k=5,
        nprobe=2,
        m_subspaces=8,
    ),
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31g — IVF+PQ top-5 (the FAISS billion-scale layout):
    coarse nprobe=2 cell pruning composed with 8-subspace PQ codes, so a
    query scans ~nprobe/|cells| of the rows AND 32x fewer bytes per row;
    one collected codebook serves both quantizers."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.ivfpq_topk(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, nprobe=2,
        m_subspaces=8,
    )


@register("events_cusum_alarms", analytics2.cusum_alarms_sql(0.5, 5.0))
def q_events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #18b — one-sided CUSUM drift alarms per user via the
    prefix-sum closed form: one window shuffle, no iteration."""
    return analytics2.cusum_alarms(load(spark, sf_dir, "events"), 0.5, 5.0)


@register(
    "graph_triangles",
    graph.triangle_count_sql(
        dedup.jaccard_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.5)
    ),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24u — triangle count over the near-dup graph via
    degree-oriented node-iterator (Suri-Vassilvitskii): out-degree
    bounded O(sqrt(m)) per node, no last-reducer skew."""
    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return graph.triangle_count(pairs)


@register("basket_affinity", behavior.basket_affinity_sql(3, 50))
def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24v — market-basket part-pair lift: order-keyed
    self-join (fan-out bounded by basket size), scalar N broadcast,
    TakeOrdered top-50."""
    return behavior.basket_affinity(load(spark, sf_dir, "lineitem"), 3, 50)


@register("conversion_attribution", behavior.conversion_attribution_sql())
def q_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24w — first/last-touch attribution per purchase in
    ONE window pass (conditional running min/max of an encoded touch
    key) — no conversions×touches self-join."""
    return behavior.conversion_attribution(load(spark, sf_dir, "events"))


from ..operators import cms as _cms  # noqa: E402


@register(
    "cms_user_counts",
    _cms.cms_frequency_profile_sql("events", "user_id", eps=0.001, delta=0.01),
)
def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #22c — Count-Min per-user event-frequency estimates:
    mergeable d×w partition sketches sum-merged on the driver, broadcast
    vectorized probe; never-undercount + eps·N bounds pytest-proven
    (tests/test_cms.py).

    Promoted from rows-only to FULL hash parity (r13, VERDICT r12 #7
    direction): with the double hash moved to the engines' shared
    md5-prefix bigints (operators/cms.py), every CMS counter is an
    exact integer both engines reproduce — the twin replays the touched
    cells and the min-probe, no sketch-byte opacity left."""
    ev = load(spark, sf_dir, "events")
    return _cms.cms_frequency_profile(ev, "user_id", eps=0.001, delta=0.01)


@register("ab_welch_t", analytics2.ab_welch_t_sql(2))
def q_ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23m — Welch unequal-variance t statistic per event
    type over a deterministic md5 user split; one map-side-combined
    stats aggregate, fact never re-shuffles."""
    return analytics2.ab_welch_t(load(spark, sf_dir, "events"), 2)


@register(
    "dedup_semantic",
    ann.semantic_dedup_sql("embeddings", "vec_id", "embedding", k=8, iters=3, tau=0.35),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #29d — SemDeDup: k-means-partitioned embedding near-dup
    removal (cos ≥ 0.35 within a learned cluster) — catches paraphrase
    dups every lexical family misses; quadratic term bounded per
    cluster."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.semantic_dedup(em, "vec_id", "embedding", k=8, iters=3, tau=0.35)


@register("decayed_counts", analytics2.decayed_counts_sql(7.0))
def q_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23n — exponentially-decayed (7-day half-life) activity
    per event type; deterministic max-ts anchor broadcast as a scalar."""
    return analytics2.decayed_counts(load(spark, sf_dir, "events"), 7.0)


@register("daily_percentile_bands", analytics2.daily_percentile_bands_sql())
def q_daily_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23o — exact p50/p95 daily bands per event type (tail
    divergence = the capacity signal); one partial-aggregated pass."""
    return analytics2.daily_percentile_bands(load(spark, sf_dir, "events"))


@register(
    "geo_close_pairs",
    f"""
    SELECT a.user_id AS id_a, b.user_id AS id_b,
           ROUND(111.32 * sqrt((a.ulat - b.ulat) * (a.ulat - b.ulat)
                 + (a.ulon - b.ulon) * (a.ulon - b.ulon)) + 1e-9, 4) AS dist_km
    FROM ({_user_coords_sql()}) a JOIN ({_user_coords_sql()}) b
      ON a.user_id < b.user_id
    WHERE 111.32 * sqrt((a.ulat - b.ulat) * (a.ulat - b.ulat)
                + (a.ulon - b.ulon) * (a.ulon - b.ulon)) <= 10.0
    """,
)
def q_geo_close_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24g — user pairs within 10 km via grid-cell bucketing
    (3×3 neighbor replication, per-cell-bounded quadratic term); the
    oracle is the naive all-pairs theta join — identical output proves
    the banding is exact."""
    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct().select(
        "user_id",
        (F.lit(40.4) + (F.col("user_id") % 200) * 0.01 - 1.0).alias("ulat"),
        (F.lit(-3.7) + ((F.col("user_id") * 7) % 200) * 0.01 - 1.0).alias("ulon"),
    )
    return general.geo_close_pairs(users, "user_id", "ulat", "ulon", max_km=10.0)


@register(
    "dedup_keep_best",
    dedup.dedup_keep_best_sql("documents", "doc_id", "text", n=3, threshold=0.5),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26e — the dedup DECISION step: Jaccard near-dup pairs
    → connected components → keep the highest-quality doc per cluster
    (tie: lowest id). One quality projection + one per-cluster window on
    top of the proven pair/CC machinery."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.dedup_keep_best(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "dedup_containment",
    dedup.containment_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.6),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26f — sub-document duplication via shingle overlap
    coefficient |A∩B|/min(|A|,|B|) ≥ 0.6: the short-doc-pasted-into-
    long-doc dups symmetric Jaccard under-reports; same skew-guarded
    pair machinery."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.6)


@register(
    "quantile_rollup_merge",
    sketches.quantile_histogram_rollup_sql("events", "ts", "event_type", "value", 256),
)
def q_quantile_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #22d — mergeable histogram percentiles: daily 256-bin
    partials per event type sum-merged to month-grain p50/p95 with no
    fact rescan (the rolling-percentile analog of hll_rollup_merge);
    in-bin interpolation error ≤ one bin width, pytest-pinned."""
    ev = load(spark, sf_dir, "events")
    return sketches.quantile_histogram_rollup(ev, "ts", "event_type", "value", 256)


@register(
    "lang_id_eval",
    f"""
    WITH pred AS ({text.lang_id_sql("documents", "doc_id", "text")})
    SELECT d.lang AS label_lang, p.detected_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / CAST(SUM(COUNT(*)) OVER (PARTITION BY d.lang) AS DOUBLE)
                 + 1e-9, 4) AS frac_of_label
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #32b — classifier evaluation loop: confusion matrix of
    the stopword-profile language ID against the corpus's labeled
    ``lang`` column, with per-label recall fractions. One narrow scoring
    projection + one (label, pred) groupBy — the share-of-label window
    runs over the ≤|langs|² matrix, never the corpus."""
    docs = load(spark, sf_dir, "documents", spread=True)
    scored = text.lang_scores(docs.select("doc_id", "lang", "text"), "text")
    pred = scored.select("doc_id", "lang", text.lang_pick().alias("detected_lang"))
    from pyspark.sql import Window

    cell = pred.groupBy(
        F.col("lang").alias("label_lang"), "detected_lang"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = Window.partitionBy("label_lang")
    return cell.select(
        "label_lang",
        "detected_lang",
        "n_docs",
        r4(F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double")).alias(
            "frac_of_label"
        ),
    ).orderBy("label_lang", "detected_lang")


@register(
    "corpus_sentence_dedup",
    corpus.sentence_dedup_sql("documents", "doc_id", "text", max_df=3),
)
def q_corpus_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49j — CCNet-style sentence-level boilerplate removal:
    drop sentences appearing in > 3 distinct docs, reassemble documents
    in order. Broadcast anti-join on the small boilerplate set — the
    corpus never shuffles on sentence text."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.sentence_dedup(docs, "doc_id", "text", max_df=3)


@register("mm_phash_dedup", None)  # fingerprint over binary payload — rows-only
def q_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #37b — multimodal near-dup: 64-bit average-hash
    fingerprints over binary payloads, 4×16-bit pigeonhole band join
    (exact for Hamming ≤ 3), JVM-side popcount verification. Rows-only
    (fingerprint rides a pandas UDF); banding exactness and planted-dup
    recall are pytest-pinned (tests/test_general_multimodal.py)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    payload = multimodal.with_binary_payload(docs.select("doc_id", "text"), "text")
    return multimodal.phash_near_dup_pairs(payload, "doc_id", max_hamming=3)


@register("top_event_paths", behavior.top_event_paths_sql(3, 20))
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24x — top-20 three-step event-type journeys (sliding
    n-grams per user): one window shuffle, map-side-combined path
    counts, TakeOrdered top-k."""
    return behavior.top_event_paths(load(spark, sf_dir, "events"), 3, 20)


@register(
    "text_bm25_topk",
    text.bm25_topk_sql("documents", "doc_id", "text", ["hash", "join", "spark"], k=10),
)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #35f — BM25 ranked retrieval: top-10 docs for a fixed
    query term set. Zero wide shuffles: per-doc tfs are a narrow array
    projection, corpus stats one broadcast 1-row aggregate, top-k plans
    as TakeOrdered."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.bm25_topk(docs, "doc_id", "text", ["hash", "join", "spark"], k=10)


@register("pareto_frontier", analytics2.pareto_frontier_sql("part"))
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24h — 2-D Pareto frontier (skyline) of parts: best
    price-for-size shortlist. Two-phase: Arrow-batched conservative
    local prune (no shuffle), exact tie-correct global check over the
    tiny survivor set. Oracle is the quadratic NOT-EXISTS definition,
    proving the pruning drops nothing."""
    return analytics2.pareto_frontier(
        load(spark, sf_dir, "part"), "p_partkey", "p_retailprice", "p_size"
    )


@register("item_cf_cosine", behavior.item_cf_cosine_sql(min_co_users=2))
def q_item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23q — item-item collaborative-filtering cosine over
    implicit interaction counts (Sarwar et al. WWW'01): fact reduces to
    the rating matrix first; pair fan-out per user bounded by catalog
    size; norms broadcast."""
    return behavior.item_cf_cosine(load(spark, sf_dir, "events"), min_co_users=2)


_FD_CANDIDATES = [
    ("event_id", "user_id"),
    ("event_id", "event_type"),
    ("user_id", "event_type"),
    ("event_type", "user_id"),
]


@register("fd_profile", validation.fd_profile_sql("events", _FD_CANDIDATES))
def q_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11e — functional-dependency profiler: key detection /
    schema inference over candidate (lhs → rhs) pairs in ONE full-scan
    multi-distinct aggregate (Catalyst expand), reshaped long via
    stack."""
    return validation.fd_profile(load(spark, sf_dir, "events"), _FD_CANDIDATES)


_INC_ORACLE = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_custkey", "events", "user_id"),
]


@register("inclusion_profile", validation.inclusion_profile_sql(_INC_ORACLE))
def q_inclusion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11f — inclusion-dependency (FK) discovery: each
    candidate's child reduces to distinct keys first, LEFT ANTI join
    against the parent's keys counts orphans (the last candidate is a
    deliberately-wrong FK, proving violations are reported)."""
    t = {n: load(spark, sf_dir, n) for n in ["lineitem", "orders", "part", "customer", "events"]}
    return validation.inclusion_profile(
        [
            ("lineitem", t["lineitem"], "l_orderkey", "orders", t["orders"], "o_orderkey"),
            ("lineitem", t["lineitem"], "l_partkey", "part", t["part"], "p_partkey"),
            ("orders", t["orders"], "o_custkey", "customer", t["customer"], "c_custkey"),
            ("customer", t["customer"], "c_custkey", "events", t["events"], "user_id"),
        ]
    )


@register("text_hash_features", text.hash_features_sql("documents", "doc_id", "text", k=16))
def q_text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #35g — feature hashing (Weinberger ICML'09): 16-dim
    hashed bag-of-words count vectors, one narrow zero-shuffle
    projection; integer counts → exact parity."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.hash_features(docs, "doc_id", "text", k=16)


@register("user_feature_matrix", analytics2.user_feature_matrix_sql())
def q_user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23r — point-in-time per-user ML feature matrix
    (recency / frequency@7d,30d / monetary / breadth / lifetime) in ONE
    conditional-aggregate fact pass against a deterministic max-ts
    anchor."""
    return analytics2.user_feature_matrix(load(spark, sf_dir, "events"))


@register(
    "session_stats",
    general.SESSION_STATS_SQL.format(
        sessionize=general.SESSIONIZE_SQL.format(gap_us=30 * 60 * 1_000_000)
    ),
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23s — per-user session distribution profile (counts,
    events/session, duration, bounce rate) layered on sessionize; AQE
    keeps it at one fact shuffle."""
    return general.session_stats(load(spark, sf_dir, "events"), gap_minutes=30)


@register(
    "dedup_minhash_eval",
    dedup.minhash_eval_sql("documents", "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5),
)
def q_dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #27c — MinHash+LSH candidate quality vs exact-Jaccard
    ground truth: precision/recall in one row (the num_hashes×bands
    tuning evidence); both sides are the proven banded pair machinery."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.minhash_eval(docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5)


@register("scd2_apply_incremental", general.SCD2_SQL)
def q_scd2_apply_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #3e — incremental SCD2 apply: history built from
    events before 2024-01-24, then the remaining days applied as a
    change batch. The oracle is the FULL REBUILD over all events —
    hash-parity proves apply∘build ≡ rebuild, closed rows never
    reprocessed (untouched keys stream through an anti-join)."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24").cast("timestamp")
    before = ev.filter(F.col("ts") < cutoff)
    after = ev.filter(F.col("ts") >= cutoff)
    return general.scd2_apply(general.scd2_from_changelog(before), after)


@register(
    "ann_recall_eval",
    ann.recall_eval_sql(
        "embeddings", "vec_id", "embedding", "label",
        "q.vec_id < 10", "id < 10", k=5, nprobe=2,
    ),
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31h — recall@5 of the IVF index vs the exact
    brute-force ranking, per query — the |cells|×nprobe tuning evidence;
    joins two proven relations on (query, neighbor) pairs."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.recall_eval(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, nprobe=2
    )


@register(
    "embed_cluster_purity",
    ann.cluster_purity_sql("embeddings", "vec_id", "embedding", "label", k=8, iters=3),
)
def q_embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31i — per-cluster majority-label purity of the k-means
    partition against the labeled column: the
    does-the-space-separate-classes check before trusting clusters for
    SemDeDup/IVF; oracle = unrolled-k-means CTE + purity arithmetic."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.cluster_purity(em, "vec_id", "embedding", "label", k=8, iters=3)


@register("etl_calendar_dim", features.CALENDAR_DIM_SQL)
def q_etl_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #6c — calendar dimension spanning the fact's date
    range (dag:220-226 materialized as a dimension): 1-row min/max
    anchor + distributed sequence explode, no fact rescan; gap-free
    even over event-less dates."""
    return features.calendar_dim(load(spark, sf_dir, "events"))


@register("holt_trend_forecast", analytics2.holt_sql(alpha=0.5, beta=0.3, horizon=3))
def q_holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #22f — per-user Holt double exponential smoothing
    (level + linear trend) with a 3-step-ahead forecast: the short-
    horizon sensor projection one notch past ema_per_user's flat EMA.
    Same fold discipline: one groupBy shuffle into a sorted array, the
    two-state recurrence as a JVM-side higher-order aggregate."""
    return analytics2.holt_per_group(
        load(spark, sf_dir, "events"), alpha=0.5, beta=0.3, horizon=3
    )


@register(
    "quality_auc_eval",
    f"""
    WITH scored AS ({text.quality_score_sql("documents", "doc_id", "text")}),
    j AS (
      SELECT s.quality_score, d.lang
      FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    )
    {text.score_auc_sql("j", "quality_score", "lang = 'en'")}
    """,
)
def q_quality_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #33g — ROC-AUC of the heuristic quality score against
    the English weak label (Mann-Whitney with tie-averaged ranks): the
    calibration readout for the corpus quality filter, in the same
    eval family as lang_id_eval / ann_recall_eval. Scale-safe: ranks
    come from a distinct-score cumulative window (4-decimal scores cap
    that relation at ~10^4 rows at any corpus size)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    scored = text.quality_score(docs, "text")
    return text.score_auc(scored, "quality_score", F.col("lang") == "en")


@register(
    "er_blocked_match",
    general.blocked_fuzzy_match_sql(
        "customer", "supplier",
        ["c_nationkey"], ["s_nationkey"],
        "c_custkey", "s_suppkey", "c_name", "s_name",
        max_dist=12,
    ),
)
def q_er_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24b — blocked fuzzy entity matching (record linkage):
    customers linked to same-nation suppliers by Levenshtein distance,
    best match per customer. Candidate pairs exist only inside the
    blocking-key equi-join — the operator never cross-joins, and the
    block key is the caller's cardinality contract (see
    operators/general.py:blocked_fuzzy_match)."""
    # spread=True: the probe side fans out |block| candidates per row
    # through the Levenshtein scorer — a 1-file scan would run the whole
    # candidate stream in ONE task (measured 3.8 s; 32-way ~1.1 s)
    cust = load(spark, sf_dir, "customer", spread=True).withColumnRenamed(
        "c_nationkey", "__nk"
    )
    supp = load(spark, sf_dir, "supplier").withColumnRenamed("s_nationkey", "__nk")
    return general.blocked_fuzzy_match(
        cust, supp, ["__nk"],
        "c_custkey", "s_suppkey", "c_name", "s_name", max_dist=12,
    )


@register(
    "corpus_dsir_weights",
    corpus.dsir_weights_sql(
        "documents", "doc_id", "text",
        "source IN ('src0','src1','src2','src3')",
        head_size=1024,
    ),
)
def q_corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49c — DSIR importance weights (Xie et al. 2023): score
    every document by log p_target / p_background under two Zipf-head
    bag-of-words LMs, target = the trusted source set; resampling by
    exp(weight) shifts the corpus mixture toward the target domain
    without training a classifier. One explode pass + one head
    aggregate; the LM ratio table broadcasts (operators/corpus.py:
    dsir_weights)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.dsir_weights(
        docs, "doc_id", "text",
        F.col("source").isin("src0", "src1", "src2", "src3"),
        head_size=1024,
    )


