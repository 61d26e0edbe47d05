"""Round-10 widening: LSH parameter sweep, hybrid sparse+dense
retrieval, quality-score calibration."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import analytics, ann, corpus, dedup, text
from ..registry import load, register


@register(
    "dedup_lsh_tuning",
    dedup.lsh_tuning_sql("documents", "doc_id", "text", n=3, threshold=0.5),
)
def q_dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #27d — MinHash-LSH (num_hashes × bands) parameter sweep:
    the banding S-curve P(candidate|s) = 1-(1-s^r)^b integrated over the
    corpus's OWN observed pair-Jaccard mass, pricing every candidate
    config's expected TP/FP/recall in ONE pass over the proven banded
    pair relation (operators/dedup.py:lsh_tuning) — how a pipeline picks
    its signature width without re-signing a 100 TB corpus per config.
    Per-config masses are extra map-side-combined SUM columns on the one
    aggregate; integer-quantized so partition order can't flip a hash."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.lsh_tuning(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "ann_hybrid_rrf",
    ann.hybrid_rrf_topk_sql(
        "documents",
        "embeddings",
        "doc_id",
        "text",
        "vec_id",
        "embedding",
        ["hash", "join", "spark"],
        query_vec_id=0,
        n=20,
        k=10,
    ),
)
def q_ann_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #30c — hybrid retrieval: BM25 keyword top-20 over the
    document text fused with the exact dense cosine top-20 for the
    query embedding (vec_id 0) via Reciprocal Rank Fusion
    (operators/ann.py:hybrid_rrf_topk). Each list is one proven
    single-scan plan (broadcast stats / broadcast query); the fusion
    join and final top-k run on ≤ 2n rows, so the corpus is scanned
    once per modality and nothing else shuffles at any scale."""
    docs = load(spark, sf_dir, "documents", spread=True)
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return ann.hybrid_rrf_topk(
        docs,
        emb,
        "doc_id",
        "text",
        "vec_id",
        "embedding",
        ["hash", "join", "spark"],
        query_vec_id=0,
        n=20,
        k=10,
    )


@register(
    "quality_calibration_eval",
    text.calibration_eval_sql("documents", "doc_id", "text", "lang = 'en'"),
)
def q_quality_calibration_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #33i — reliability diagram / ECE buckets of the
    heuristic quality score against the English weak label
    (operators/text.py:calibration_eval): per-decile mean score vs
    empirical positive rate, gap, and ECE contribution. quality_auc_eval
    checks ranking; this checks whether the score's VALUE reads as a
    probability before it's thresholded as one. One narrow scoring
    projection + one map-side-combined aggregate to ≤ 10 rows."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.calibration_eval(docs, "text", F.col("lang") == "en")


@register(
    "corpus_kn_bigram_logprob",
    corpus.kn_bigram_logprob_sql("documents", "doc_id", "text"),
)
def q_corpus_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49n — per-document mean log2 probability under an
    interpolated Kneser-Ney BIGRAM LM trained on the corpus itself
    (operators/corpus.py:kn_bigram_logprob): the word-ORDER-aware step
    up from unigram_logprob's CCNet filter (scrambled/template spam
    built from common words scores low here, not there). Bigrams are
    built map-side from two shifted array slices (no positional
    self-join); the model is the Heaps-bounded distinct-bigram
    relation; the score join broadcasts the 4096-bigram Zipf head so
    only the tiny-fan-out tail shuffles."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.kn_bigram_logprob(docs, "doc_id", "text")


@register(
    "embed_ivf_balance",
    ann.ivf_balance_sql("embeddings", "vec_id", "embedding", "label"),
)
def q_embed_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31l — IVF index-health readout
    (operators/ann.py:ivf_balance): per-cell population after
    nearest-centroid assignment, corpus share, and the FAISS-style
    imbalance factor |C|·Σ(n_c/N)² that prices expected probe cost —
    the COST-side tuning evidence pairing ann_recall_eval's quality
    side. Literal-codebook assignment projection (zero joins/shuffles
    on the corpus) + one |cells|-row aggregate."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.ivf_balance(em, "vec_id", "embedding", "label")


@register(
    "ann_pq_recall_eval",
    ann.pq_recall_eval_sql(
        "embeddings", "vec_id", "embedding", "label",
        "q.vec_id < 10", "id < 10", k=5, m_subspaces=8,
    ),
)
def q_ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31m — recall@5 of the PQ asymmetric-distance ranking
    vs the EXACT squared-L2 ranking (operators/ann.py:pq_recall_eval):
    the quantization-dial tuning evidence completing the eval family
    (ann_recall_eval = nprobe dial, embed_matryoshka_recall =
    truncation dial, this = code budget). The L2 truth is evaluated in
    PQ's own metric so the readout measures quantization loss, not
    metric mismatch; both relations are single-scan plans and the join
    carries 2·|queries|·k rows."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.pq_recall_eval(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, m_subspaces=8
    )


@register(
    "ann_nprobe_sweep",
    ann.ivf_nprobe_sweep_sql(
        "embeddings", "vec_id", "embedding", "label",
        "q.vec_id < 10", "id < 10", k=5, nprobes=(1, 2, 3, 4),
    ),
)
def q_ann_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31n — IVF recall@5 at EVERY probe depth 1..4 in one
    pass (operators/ann.py:ivf_nprobe_sweep): probe-candidate sets
    nest, so the corpus is scanned once at the deepest setting and
    each shallower depth's top-k is recovered with a conditional
    running-count window — the dedup_lsh_tuning discipline (price all
    dial settings without re-running the index) applied to IVF.
    ann_recall_eval stays as the single-setting driver-verified
    baseline; this is how the nprobe is actually chosen."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.ivf_nprobe_sweep(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5,
        nprobes=(1, 2, 3, 4),
    )


@register(
    "dash_downsample_ltob",
    analytics.downsample_ltob_sql("events", bucket_size=100),
)
def q_dash_downsample_ltob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14g — Largest-Triangle-One-Bucket plot downsampling
    (operators/analytics.py:downsample_ltob): per series keep the
    visually-extreme point of every 100-row bucket — the reduction a
    dashboard applies before a million-point series leaves the
    cluster (the reference plots full series; at 100 TB only the
    reduction can travel). Bucket selections are independent (LTOB,
    not the sequential LTTB), so the whole pass is two windows on one
    series-key shuffle."""
    ev = load(spark, sf_dir, "events")
    return analytics.downsample_ltob(ev, bucket_size=100)


@register(
    "dash_downsample_lttb",
    analytics.downsample_lttb_sql("events", bucket_size=100),
)
def q_dash_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14h — Largest-Triangle-Three-Buckets downsampling
    (operators/analytics.py:downsample_lttb): the canonical sequential
    dashboard reduction (Steinarsson 2013 §4.2) — each bucket's pick
    anchors on the PREVIOUS bucket's pick and the next bucket's
    centroid, preserving line shape where LTOB's independent picks
    can't. The per-series sequential dependence runs as a JVM
    higher-order fold on one series-key shuffle (the ema/holt shape);
    parity is pinned against a plain-Python reference and the DuckDB
    fold twin (primitive-list accumulator — see the operator docstring
    for the struct-list corruption it works around)."""
    ev = load(spark, sf_dir, "events")
    return analytics.downsample_lttb(ev, bucket_size=100)


@register(
    "embed_knn_label_eval",
    ann.knn_label_eval_sql(
        "embeddings", "vec_id", "embedding", "label",
        "q.vec_id % 20 = 0", k=5,
    ),
)
def q_embed_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31o — k-NN label-consistency probe
    (operators/ann.py:knn_label_eval): every 20th vector's label is
    predicted by majority vote among its 5 exact-cosine neighbors and
    scored against its own label, per-label accuracy out — the
    standard embedding-quality eval (k-NN probe): it reads near-chance
    on a collapsed space and high when the geometry respects labels.
    Pure composition: the proven bruteforce top-k feeds a count +
    row_number vote argmax (tie → smallest label), all
    partial-aggregated; swap the candidate generator for IVF/graph at
    100 TB and the vote/score stages are unchanged."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return ann.knn_label_eval(
        emb, "vec_id", "embedding", "label",
        lambda c: c % 20 == 0, k=5,
    )
