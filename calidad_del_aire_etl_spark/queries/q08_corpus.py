"""Corpus-preparation operators (SURVEY §2 #44-49) — registered queries, split out of registry.py
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
from ..operators import general  # noqa: F401

# ---------------------------------------------------------------------------
# Corpus-preparation operators for LLM training data (SURVEY §2 #44-49):
# chunking, packing, PII scrub, n-gram stats, repetition filter,
# stratified sampling.
# ---------------------------------------------------------------------------

from ..operators import corpus  # noqa: E402


@register(
    "corpus_chunk_docs",
    corpus.chunk_sql("documents", "doc_id", "text", chunk_size=400, overlap=50),
)
def q_corpus_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #44 — 400-char/50-overlap document chunking (narrow
    posexplode; no shuffle)."""
    docs = load(spark, sf_dir, "documents")
    return corpus.chunk_documents(docs, "doc_id", "text", chunk_size=400, overlap=50)


@register(
    "corpus_pack_sequences",
    corpus.pack_sql("documents", "doc_id", "text", budget=512, shards=32),
)
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #45 — deterministic sharded greedy packing of documents
    into 512-token context-window bins."""
    docs = load(spark, sf_dir, "documents")
    return corpus.pack_sequences(docs, "doc_id", "text", budget=512, shards=32)


# the raw corpus contains no PII, so both engines inject the same
# deterministic synthetic PII before scrubbing, one kind family per
# modulus (doc_id 0 gets all of them): email+phone, a Luhn-VALID card
# next to a Luhn-INVALID digit run (which must fall through to the
# phone catch-all, not <CARD>), IP + SSN, and a compact IBAN
_PII_DOCS_SQL = (
    "(SELECT doc_id, text"
    " || CASE WHEN doc_id % 10 = 0 THEN ' contact user'"
    "         || CAST(doc_id AS VARCHAR) || '@example.com or +1 555-123-4567'"
    "         ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN"
    "         ' card 4111 1111 1111 1111 bad 4111111111111112' ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN"
    "         ' ip 10.0.42.7 ssn 123-45-6789' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN"
    "         ' iban DE89370400440532013000' ELSE '' END"
    " AS text FROM documents)"
)


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents", spread=True)
    part = lambda mod, s: F.when(F.col("doc_id") % mod == 0, F.lit(s)).otherwise(
        F.lit("")
    )
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or +1 555-123-4567"),
                ),
            ).otherwise(F.lit("")),
            part(7, " card 4111 1111 1111 1111 bad 4111111111111112"),
            part(13, " ip 10.0.42.7 ssn 123-45-6789"),
            part(11, " iban DE89370400440532013000"),
        ).alias("text"),
    )


@register(
    "corpus_dup_spans",
    corpus.dup_spans_sql("documents", "doc_id", "text", span_len=32, stride=16),
)
def q_corpus_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49b — cross-document duplicated-substring profile
    (strided exact-span hashing; the distributed stand-in for Lee et
    al.'s suffix-array span dedup). Linear, self-join-free."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.dup_spans(docs, "doc_id", "text", span_len=32, stride=16)


@register("corpus_pii_scrub", corpus.pii_scrub_sql(_PII_DOCS_SQL, "doc_id", "text"))
def q_corpus_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #46 — PII redaction with per-kind match counts: emails,
    IPv4, IBAN, SSN-shaped ids, Luhn-VALIDATED card numbers (HOF fold,
    no UDF), and phone-like digit runs as the catch-all (common
    Java-regex ∩ RE2 dialect, byte-identical on both engines)."""
    return corpus.pii_scrub(_pii_docs(spark, sf_dir), "doc_id", "text")


@register("corpus_ngram_topk", corpus.ngram_topk_sql("documents", "text", n=3, k=50))
def q_corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47 — corpus-wide top-50 word trigrams (explode →
    map-side-combined count → top-k on the aggregated relation)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.ngram_topk(docs, "text", n=3, k=50)


@register(
    "corpus_repetition_filter",
    corpus.repetition_sql("documents", "doc_id", "text", n=3, threshold=0.2),
)
def q_corpus_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #48 — Gopher-style duplicate-trigram fraction per doc,
    flagging repetitive documents (single let-bound n-gram evaluation)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.repetition_stats(docs, "doc_id", "text", n=3, threshold=0.2)


@register(
    "corpus_stratified_sample",
    corpus.stratified_sample_sql(
        "documents", "doc_id", "lang", {"en": 4}, default_hex=2,
        cols="doc_id, lang, source",
    ),
)
def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49 — deterministic hash-bucket stratified sampling:
    'en' kept at 4/16, every other language at 2/16; stable under
    reruns/retries (no RNG state)."""
    docs = load(spark, sf_dir, "documents")
    out = corpus.stratified_sample(docs, "doc_id", "lang", {"en": 4}, default_hex=2)
    return out.select("doc_id", "lang", "source")



# Lloyd's k-means IS oracle-able for fixed iterations: unroll the 5
# assign/recompute rounds as chained CTEs. Distances fold sequentially
# like the Spark aggregate(zip_with(...)); per-dimension centroid AVG
# order differs ~1e-16, far below any assignment boundary. (Caveat
# mirrored from the Spark side: no cluster ever empties on this data —
# the Spark op would keep the old centroid, the twin drops it.)
_KMEANS_SQL = """
WITH b AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cluster, v AS cv
  FROM (SELECT id, v FROM b ORDER BY id LIMIT 8)
),
a0 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c0 c
  ) WHERE rk = 1
),
c1 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a0
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
a1 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c1 c
  ) WHERE rk = 1
),
c2 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a1
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
a2 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c2 c
  ) WHERE rk = 1
),
c3 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a2
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
a3 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c3 c
  ) WHERE rk = 1
),
c4 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a3
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
a4 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c4 c
  ) WHERE rk = 1
),
c5 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a4
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
final AS (
  SELECT id, cluster, d FROM (
    SELECT b.id, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c5 c
  ) WHERE rk = 1
)
SELECT CAST(cluster AS INTEGER) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(AVG(d) + 1e-9, 4) AS mean_sq_dist
FROM final GROUP BY 1
"""


@register("embed_kmeans", _KMEANS_SQL)
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31c — Lloyd's k-means over the embedding column
    (deterministic lowest-id init, 5 iterations, k=8); verified against
    a NumPy reference implementation in tests/test_ann.py."""
    from ..operators import ann

    emb = load(spark, sf_dir, "embeddings", spread=True)
    return ann.kmeans_summary(emb, "vec_id", "embedding", k=8, iters=5)


@register("embed_pca_project", None)  # eigendecomposition — no SQL twin, rows-only
def q_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31e — distributed PCA projection: covariance via one
    map-side-combined aggregate (dim² driver traffic only), numpy eigh
    on the driver, broadcast k×dim projection as a narrow JVM map.
    Spectral invariants pytest-asserted in tests/test_ann.py."""
    from ..operators import ann

    emb = load(spark, sf_dir, "embeddings", spread=True)
    return ann.pca_project(emb, "vec_id", "embedding", k=4)


from ..operators import sketches  # noqa: E402


@register(
    "hll_rollup_merge",
    sketches.hll_reaggregate_sql("events", "ts", "event_type", "user_id", lg_k=12),
)
def q_hll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #15d — mergeable HLL distinct counting: daily
    (date, event_type) register sets MAX-merged into month×type
    estimates without rescanning the fact (tolerance vs exact
    pytest-asserted in tests/test_sketches.py).

    Promoted from rows-only to FULL hash parity (r13, VERDICT r12 #7):
    the from-scratch HLL's registers and estimator are pure
    integer/literal-identical arithmetic (operators/sketches.py), so
    the DuckDB twin replays the whole sketch bit-for-bit — Datasketches
    bytes no longer gate this key."""
    ev = load(spark, sf_dir, "events")
    return sketches.hll_reaggregate(ev, "ts", "event_type", "user_id", lg_k=12)


@register("sketch_profile", None)  # sketch internals differ per engine — rows-only
def q_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #15c — HLL++ distinct + approx-percentile sketch profile
    (the 100 TB path for cardinality/quantiles; accuracy vs exact is
    asserted in tests/test_general2.py)."""
    return general.sketch_profile(load(spark, sf_dir, "events"))


