"""Dedup suite, similarity search, and text analysis — registered queries, split out of registry.py
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

# ---------------------------------------------------------------------------
# Dedup suite (SURVEY §2 #25-29), similarity search (#30-31), and text
# analysis (#32-35) — the LLM-data-pipeline operators on documents/embeddings.
# ---------------------------------------------------------------------------

from ..operators import ann, dedup, text  # noqa: E402


@register("dedup_exact_docs", dedup.exact_dedup_sql("documents", "doc_id", "text"))
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #25 — exact dedup by content hash."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.exact_dedup(docs, "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    dedup.jaccard_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.5),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26 — word-3-gram Jaccard near-dup pairs (j ≥ 0.5)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "dedup_minhash_lsh",
    dedup.minhash_lsh_pairs_sql("documents", "doc_id", "text", n=3, num_hashes=16, bands=4),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #27 — MinHash(16) + LSH(4 bands) candidate pairs."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=16, bands=4)


@register("dedup_simhash", dedup.simhash_sql("documents", "doc_id", "text", bits=16))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #28 — 16-bit frequency-weighted SimHash fingerprints."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.simhash(docs, "doc_id", "text", bits=16)


@register(
    "dedup_embedding_cosine",
    dedup.embedding_cosine_pairs_sql("embeddings", "vec_id", "embedding", "label", 0.35),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #29 — partition-local embedding near-dup pairs (cos ≥ 0.35)."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return dedup.embedding_cosine_pairs(em, "vec_id", "embedding", "label", 0.35)


@register(
    "ann_bruteforce_topk",
    ann.bruteforce_topk_sql("embeddings", "vec_id", "embedding", "q.vec_id < 10", k=5),
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #30 — exact cosine top-5 for query vectors vec_id < 10."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.bruteforce_topk(em, "vec_id", "embedding", lambda c: c < 10, k=5)


@register(
    "ann_lsh_topk",
    ann.lsh_topk_sql("embeddings", "vec_id", "embedding", "id < 10", k=5),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31 — LSH-bucketed cosine top-5 (approximate scale path).
    Recall vs brute force additionally asserted in tests/test_ann.py."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.lsh_topk(em, "vec_id", "embedding", lambda c: c < 10, k=5)


@register(
    "ann_ivf_topk",
    ann.ivf_topk_sql(
        "embeddings", "vec_id", "embedding", "label", "id < 10", k=5, nprobe=2
    ),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31b — IVF top-5: per-label centroid codebook,
    nearest-centroid assignment, nprobe=2 probing."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.ivf_topk(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, nprobe=2
    )


@register(
    "ann_sq_topk",
    ann.sq_topk_sql("embeddings", "vec_id", "embedding", "q.id < 10", k=5),
)
def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31c — int8 scalar-quantized cosine top-5: 4× fewer
    corpus-side bytes than float32 brute force; integer dot products
    make the twin hash-exact. Recall vs exact asserted in tests/test_ann.py."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.sq_topk(em, "vec_id", "embedding", lambda c: c < 10, k=5)


@register(
    "dedup_cluster_resolve",
    dedup.resolve_duplicate_clusters_sql(
        "documents",
        "doc_id",
        dedup.jaccard_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.5),
    ),
)
def q_dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26b — near-dup pairs → connected components → one
    canonical survivor per duplicate cluster."""
    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    # checkpoint=False: the standalone query is collected once, so the
    # eager checkpoint's extra materialization job is pure cost here
    # (r3 VERDICT #3); the composed pipelines keep the default.
    return dedup.resolve_duplicate_clusters(docs, "doc_id", pairs, checkpoint=False)


@register(
    "dedup_incremental_minhash",
    dedup.incremental_minhash_dedup_sql(
        "documents",
        "doc_id",
        "text",
        corpus_pred="doc_id % 5 != 0",
        new_pred="doc_id % 5 = 0",
        n=3,
        threshold=0.5,
    ),
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #27b — incremental dedup: the 'new batch' (every 5th
    doc) is LSH-probed against the 'corpus' (the rest) WITHOUT
    re-signing the corpus — the daily-increment pattern that avoids
    re-hashing 100 TB per load. New side broadcasts (the scale
    asymmetry); corpus band store streams map-side."""
    docs = load(spark, sf_dir, "documents", spread=True)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new_batch = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup.incremental_minhash_dedup(
        corpus, new_batch, "doc_id", "text", n=3, threshold=0.5
    )


@register(
    "dedup_cluster_star",
    dedup.resolve_duplicate_clusters_sql(
        "documents",
        "doc_id",
        dedup.jaccard_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.5),
    ),
)
def q_dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26c — same clustering as dedup_cluster_resolve via
    alternating large-star/small-star contraction: O(log² n) rounds in
    component size, independent of diameter — the scale path for
    chain-shaped revision clusters. Identical oracle (exact transitive
    closure), so parity proves the two CC variants agree."""
    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return dedup.resolve_duplicate_clusters_star(
        docs, "doc_id", pairs, checkpoint=False
    )


@register("text_lang_id", text.lang_id_sql("documents", "doc_id", "text"))
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #32 — stopword-profile language ID."""
    docs = load(spark, sf_dir, "documents", spread=True)
    scored = text.lang_scores(docs.select("doc_id", "text"), "text")
    langs = list(text.LANG_MARKERS)
    return scored.select(
        "doc_id",
        text.lang_pick().alias("detected_lang"),
        *[f"score_{lg}" for lg in langs],
    )


@register("text_quality_score", text.quality_score_sql("documents", "doc_id", "text"))
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #33 — length/stopword/punctuation quality score."""
    docs = load(spark, sf_dir, "documents", spread=True)
    out = text.quality_score(docs.select("doc_id", "text"), "text")
    return out.select("doc_id", "n_words", "stopword_ratio", "punct_ratio", "quality_score")


@register(
    "text_token_count",
    text.TOKEN_COUNTS_SQL.format(table="documents", id_col="doc_id", t="text"),
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #34 — whitespace + BPE-ish class token counts."""
    docs = load(spark, sf_dir, "documents", spread=True)
    out = text.token_counts(docs.select("doc_id", "text"), "text")
    return out.select(
        "doc_id", "ws_tokens", "alpha_tokens", "num_tokens", "symbol_tokens", "n_chars_measured"
    )


@register("text_fingerprint", text.fingerprint_sql("documents", "doc_id", "text", gram=8))
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #35 — min-md5 char-8-gram document fingerprint."""
    docs = load(spark, sf_dir, "documents", spread=True)
    out = text.fingerprint(docs.select("doc_id", "text"), "text", gram=8)
    return out.select("doc_id", "fingerprint", "n_shingles")


