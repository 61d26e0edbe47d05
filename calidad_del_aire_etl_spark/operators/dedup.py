"""Deduplication operators for LLM-data pipelines (SURVEY §2 #25-29).

Dedup families, all shuffle-bounded (no O(n²) cross product):

- exact: one groupBy on a content hash;
- n-gram Jaccard: explode distinct shingles → equi-join on shingle —
  candidate generation cost is Σ (docs-per-shingle)², bounded by the
  optional document-frequency cap;
- MinHash+LSH: constant-size signatures (K hashes) and band buckets —
  the classic sub-quadratic near-dup path for 100 TB corpora;
- SimHash: frequency-weighted bit votes → one 16-bit fingerprint per doc;
- embedding cosine: pairs within a coarse partition (label = IVF-style
  cell), never across the whole corpus;
- fuzzy Levenshtein: banded by shared prefix + length (see below);
- cluster resolution: connected components two ways — min-label
  propagation (O(diameter) rounds, fastest on the near-clique clusters
  dedup emits) and alternating large-star/small-star contraction
  (O(log² n) rounds, diameter-independent — the guard for chain-shaped
  revision clusters).

Hash portability: signatures are md5 hex strings (identical in Spark and
DuckDB; string min is byte-lexicographic in both), which is what makes
the DuckDB oracle twins possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import r4

# --- shared shingle expressions (Spark SQL dialect / DuckDB dialect) -----

def shingles_expr(text_col: str, n: int = 3) -> str:
    """Distinct word n-gram shingles, Spark SQL.

    NULL text → EMPTY shingle set, guarded explicitly: without the
    CASE, ``concat_ws`` swallows the NULL token slice into '' and a
    NULL doc would shingle as {''} — band-colliding with every
    genuinely-empty doc — while the DuckDB twin's
    ``array_to_string(NULL)`` propagates NULL and yields []. A NULL
    document has no content, so no shingles and no candidate pairs
    (caught by the degenerate-docs parity sweep). Empty/whitespace
    docs keep {''}: they ARE exact duplicates of one another."""
    toks = rf"split(trim({text_col}), '[ \\t\\n\\x0B\\f\\r]+')"
    return (
        f"CASE WHEN {text_col} IS NULL THEN cast(array() as array<string>) "
        f"ELSE array_distinct(transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {n})))) END"
    )


def shingles_sql(text_col: str, n: int = 3) -> str:
    """Distinct word n-gram shingles, DuckDB SQL."""
    toks = rf"regexp_split_to_array(trim({text_col}), '[ \t\n\x0b\f\r]+')"
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


# --- #25 exact dedup ------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Survivor rows (min id per content hash) with the hash attached."""
    hashed = df.select(
        F.col(id_col), F.md5(F.encode(F.col(text_col), "UTF-8")).alias("content_hash")
    )
    return hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))


def exact_dedup_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
    SELECT md5({text_col}) AS content_hash, MIN({id_col}) AS {id_col}
    FROM {table} GROUP BY 1
    """


# --- portable md5→bigint shingle hashing ---------------------------------
# Join/group on 60-bit ints instead of shingle strings: ~10× less shuffle
# width and cheap comparisons, while staying engine-portable (both parse
# the first 15 hex chars of the same md5). Collision odds at 2^60 are
# irrelevant for dedup candidates.

MINHASH_P = 1_000_000_007

# the scalar md5→bigint hash both dialects agree on, shared so a width
# tweak can never drift one engine (hashed_shingles_* below and
# text.hash_features build on the same snippet)
MD5_BIGINT_SPARK = "cast(conv(substr(md5(cast({x} as binary)), 1, 15), 16, 10) as bigint)"
MD5_BIGINT_DUCK = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def hashed_shingles_expr(text_col: str, n: int = 3) -> str:
    """Spark SQL: distinct word n-gram shingles as bigint hashes."""
    return (
        f"transform({shingles_expr(text_col, n)}, "
        "s -> cast(conv(substr(md5(cast(s as binary)), 1, 15), 16, 10) as bigint))"
    )


def hashed_shingles_sql(text_col: str, n: int = 3) -> str:
    """DuckDB SQL twin of :func:`hashed_shingles_expr`."""
    return (
        f"list_transform({shingles_sql(text_col, n)}, "
        "s -> (('0x' || substr(md5(s), 1, 15))::BIGINT))"
    )


def _minhash_lambda(num_hashes: int) -> str:
    """Shared per-seed hash family (identical text in both dialects):
    h_k = ((h mod P) · (2k+1) + ((k+1) · 2654435761) mod P) mod P."""
    p = MINHASH_P
    return (
        f"(((h % {p}) * (2 * k + 1) + ((k + 1) * 2654435761) % {p}) % {p})"
    )


# --- #26 n-gram Jaccard pairs --------------------------------------------

def guarded_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_doc_freq: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The exploded (id, shingle-hash) relation that feeds the Jaccard
    pair self-join, with the hot-shingle guard applied, plus the per-doc
    shingle counts (denominators). Exposed separately so the skew
    invariant — after the guard, NO shingle key carries more than
    ``max_doc_freq`` rows into the join, bounding every join island at
    max_doc_freq² pairs regardless of corpus-level skew — is directly
    testable (tests/test_skew.py)."""
    sh = df.select(
        F.col(id_col).alias("id"), F.expr(hashed_shingles_expr(text_col, n)).alias("sh")
    )
    # `sh` is ALWAYS a multi-consumer relation: the doc-size count plus
    # BOTH sides of the downstream pair self-join (and, when the guard is
    # on, the hot-set frequency scan too) — so without materialization
    # the md5 shingle hashing, the CPU-dominant part, runs 3×. Checkpoint
    # the narrow (id, shingle-array) form so it runs exactly once; blocks
    # are ContextCleaner-managed, so no unpersist bookkeeping leaks
    # (lazy: materialized by the first job that touches it). Previously
    # gated on max_doc_freq; r14 measured the uncapped callers
    # (dedup_containment 1.85 s -> 1.21 s, dedup_cluster_resolve median
    # 7.9 -> 4.8 s at sf0.1) and made it unconditional.
    # Lineage-truncation trade: localCheckpoint blocks are non-reliable —
    # on a cluster, losing an executor that holds them fails the job
    # instead of recomputing; swap to reliable checkpoint() (with a
    # checkpoint dir) where executor churn is routine.
    sh = sh.localCheckpoint(eager=False)
    counts = sh.select("id", F.size("sh").cast("bigint").alias("ns"))
    # explode_outer, not explode: InferFiltersFromGenerate would turn the
    # inner explode into a pushed-down `size(shingles) > 0` filter that
    # re-evaluates the whole md5 shingle expression below the scan's
    # repartition (single-threaded, measured ~2× the query's cost). Every
    # doc has ≥1 shingle by construction, and a hypothetical null row
    # would drop at the inner equi-join anyway.
    ex = sh.select("id", F.explode_outer("sh").alias("sg"))
    if max_doc_freq is not None:
        # Hot-key guard, skew-safe two-phase form (r2 ADVICE): an aggregate
        # with map-side partial combine counts each shingle's doc frequency
        # (per-reducer input is bounded by #map-tasks rows per shingle, not
        # by its corpus frequency), and the tiny hot set — at most
        # total_shingle_occurrences / max_doc_freq rows — broadcasts into a
        # map-side anti-join that thins the exploded relation BEFORE the
        # pair shuffle. The previous count-over-window form reused one
        # exchange but buffered every occurrence of a hot stopword shingle
        # in a single window partition — exactly the straggler/spill the
        # guard exists to prevent at 100 TB scale.
        hot = (
            ex.groupBy("sg")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("sg")
        )
        ex = ex.join(F.broadcast(hot), "sg", "left_anti")
    return ex, counts


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b) with exact shingle-set Jaccard ≥
    threshold. ``max_doc_freq`` drops shingles seen in more than that
    many docs before the self-join — the standard hot-key guard at scale
    (a stopword shingle otherwise creates a quadratic join island).
    Shingles travel as 60-bit md5-derived ints, not strings."""
    ex, counts = guarded_shingles(df, id_col, text_col, n, max_doc_freq)
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sg") == F.col("b.sg")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = counts.select(F.col("id").alias("id_a"), F.col("ns").alias("na"))
    nb = counts.select(F.col("id").alias("id_b"), F.col("ns").alias("nb"))
    j = (
        inter.join(na, "id_a").join(nb, "id_b")
        .withColumn(
            "jaccard",
            r4(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return j.select("id_a", "id_b", "jaccard")


def jaccard_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> str:
    # Mirror the hot-shingle cap exactly: shingles are per-doc distinct, so
    # COUNT(*) per shingle is its document frequency (same as the Spark side's
    # groupBy count). Denominators (ns) keep the full set on both engines.
    hot_filter = (
        f"""ex0 AS (SELECT id, unnest(s) AS sg FROM sh),
       hot AS (SELECT sg FROM ex0 GROUP BY sg HAVING COUNT(*) > {max_doc_freq}),
       ex AS (SELECT id, sg FROM ex0 ANTI JOIN hot USING (sg)),"""
        if max_doc_freq is not None
        else "ex AS (SELECT id, unnest(s) AS sg FROM sh),"
    )
    return f"""
    WITH sh AS (
      SELECT {id_col} AS id, {hashed_shingles_sql(text_col, n)} AS s FROM {table}
    ), {hot_filter}
       cnt AS (SELECT id, CAST(len(s) AS BIGINT) AS ns FROM sh),
       inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.sg = b.sg AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / CAST(na.ns + nb.ns - i AS DOUBLE) + 1e-9, 4) AS jaccard
    FROM inter
    JOIN cnt na ON inter.id_a = na.id
    JOIN cnt nb ON inter.id_b = nb.id
    WHERE ROUND(CAST(i AS DOUBLE) / CAST(na.ns + nb.ns - i AS DOUBLE) + 1e-9, 4) >= {threshold}
    """


# --- #27 MinHash + LSH ----------------------------------------------------

def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash signatures + LSH banding.

    One md5 per shingle (hashed to a 60-bit int), then the K-hash family
    is cheap integer math — the signature is a single narrow projection
    per document (no seed explode, no extra groupBy shuffle):
    sig_k = min over shingles of ((h·(2k+1) + b_k) mod P). Docs sharing
    any band (contiguous signature slice) become candidates; the output
    carries the signature-estimated Jaccard (matching positions / K).

    The signature is a single ``aggregate`` fold over the shingle array
    (not ``transform(sequence(K), k -> array_min(...))``): Catalyst's
    project-collapse inlines the shingle-hash expression into lambda
    bodies, and a K-iteration lambda would recompute every shingle md5
    K times per row (~11× slower, measured). The fold evaluates the
    shingle array exactly once and updates all K mins per shingle.
    """
    banded = minhash_bands(df, id_col, text_col, n, num_hashes, bands)
    # Both sides of the self-join read `banded`, so the signature fold
    # — the expensive K-min aggregate over every shingle hash — would
    # run twice. One lazy checkpoint halves the signing work (measured at
    # sf0.1, r14: dedup_minhash_lsh ≤ and dedup_minhash_eval 2.7 s ->
    # 2.1 s best, better in every interleaved rep). Non-reliable
    # blocks: an executor loss fails the job rather than recomputing —
    # use checkpoint() on fault-prone fleets.
    banded = banded.localCheckpoint(eager=False)
    la, lb = banded.alias("la"), banded.alias("lb")
    cand = (
        la.join(
            lb,
            (F.col("la.b") == F.col("lb.b"))
            & (F.col("la.bkey") == F.col("lb.bkey"))
            & (F.col("la.id") < F.col("lb.id")),
        )
        .select(
            F.col("la.id").alias("id_a"),
            F.col("lb.id").alias("id_b"),
            F.col("la.sig").alias("sig_a"),
            F.col("lb.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.expr(
        f"size(filter(sequence(1, {num_hashes}), "
        "i -> element_at(sig_a, i) = element_at(sig_b, i)))"
    ).cast("double") / F.lit(float(num_hashes))
    return cand.select("id_a", "id_b", r4(est).alias("est_jaccard"))


def minhash_lsh_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> str:
    rows = num_hashes // bands
    return f"""
    WITH hs AS (
      SELECT {id_col} AS id, {hashed_shingles_sql(text_col, n)} AS hs FROM {table}
    ), sig AS (
      SELECT id,
             list_transform(generate_series(0, {num_hashes - 1}),
               k -> list_min(list_transform(hs, h -> {_minhash_lambda(num_hashes)})))
               AS sig
      FROM hs
    ), banded AS (
      SELECT id, sig, b,
             array_to_string(list_slice(sig, b * {rows} + 1, b * {rows} + {rows}), ',')
               AS bkey
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS b)
    ), cand AS (
      SELECT DISTINCT la.id AS id_a, lb.id AS id_b,
             la.sig AS sig_a, lb.sig AS sig_b
      FROM banded la
      JOIN banded lb ON la.b = lb.b AND la.bkey = lb.bkey AND la.id < lb.id
    )
    SELECT id_a, id_b,
           ROUND(CAST(len(list_filter(generate_series(1, {num_hashes}),
                                      i -> sig_a[i] = sig_b[i])) AS DOUBLE)
                 / {num_hashes}.0 + 1e-9, 4) AS est_jaccard
    FROM cand
    """


# --- duplicate-cluster resolution (connected components) ------------------

def resolve_duplicate_clusters(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    max_iters: int = 8,
    checkpoint: bool = True,
) -> DataFrame:
    """Canonical id per document: connected components over near-dup
    ``pairs`` (id_a, id_b), every doc labeled with the minimum id in its
    duplicate cluster (itself when unpaired).

    Hash-to-min label propagation: each round every vertex takes the min
    of its own label and its neighbors' labels, converging in
    (component diameter) rounds with early stop — duplicate clusters are
    near-cliques, so real graphs converge in 2-3 rounds; ``max_iters``
    bounds pathological chains. Each round is one join + one groupBy on
    vertex id; the edge list (already sub-quadratic via LSH/Jaccard
    candidate generation) is the only shuffled relation.

    Iterative-DataFrame discipline: ``edges`` and each round's labels are
    persisted and the previous round unpersisted. Without this the round
    t plan references round t-1 TWICE (self + neighbor branch), and lazy
    evaluation re-expands the whole history — 2^t recompute (measured:
    104 s at sf0.1 unpersisted vs ~2 s persisted). Same pattern GraphX
    uses (Pregel checkpoints per superstep).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    ).persist()
    labels = df.select(F.col(id_col).alias("id"), F.col(id_col).alias("lbl")).persist()
    for _ in range(max_iters):
        nbr = (
            labels.join(edges, labels["id"] == edges["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # labels only ever decrease; the improvement flag rides in the
        # same projection, so convergence detection is ONE aggregate over
        # the new labels (no second join with the old generation) and
        # that aggregate also materializes the cache for the next round.
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least("lbl", "nbr_lbl").alias("lbl"),
                (F.col("nbr_lbl") < F.col("lbl")).cast("int").alias("__imp"),
            )
        ).persist()
        improved = new_labels.agg(F.max("__imp")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if not improved:
            break
    # Two exit modes (r3 VERDICT: the eager checkpoint is the right trade
    # ONLY when the caller composes/reuses the plan):
    #
    # - checkpoint=True (flagship pipeline, curation DAG): materialize the
    #   converged labels as an eager localCheckpoint, then drop every
    #   cache the loop held. Returning the persisted lineage there (a)
    #   leaked the final round's cache and the edge list forever, and (b)
    #   left a plan whose text re-expands every round's subtree — the
    #   flagship's formatted plan carried >1100 exchange mentions, which
    #   stalls plan compilation even though execution reads the cache
    #   (r2 VERDICT #5). The label relation is (id, lbl) — tiny next to
    #   the corpus — so the checkpoint write is negligible there.
    # - checkpoint=False (standalone query, collected once): a LAZY
    #   localCheckpoint — the plan text still truncates to a LogicalRDD
    #   immediately (explain/AQE formatting stays bounded, which the
    #   plan-ceiling test enforces), but no extra materialization job
    #   runs: the caller's own first action computes the checkpoint by
    #   reading the already-persisted final labels (the convergence
    #   aggregate materialized that cache). The (id, lbl) cache stays
    #   pinned — unpersisting it before the lazy checkpoint computes
    #   would re-expand the whole round history; edges still unpersist.
    proj = labels.select(
        F.col("id").alias(id_col),
        F.col("lbl").alias("canonical_id"),
        (F.col("id") == F.col("lbl")).cast("int").alias("is_canonical"),
    )
    if checkpoint:
        result = proj.localCheckpoint(eager=True)
        labels.unpersist()
    else:
        result = proj.localCheckpoint(eager=False)
    edges.unpersist()
    return result


def resolve_duplicate_clusters_sql(
    table: str, id_col: str, pairs_sql: str
) -> str:
    """DuckDB oracle twin: exact transitive closure via recursive CTE —
    min reachable id per vertex (UNION dedups, so it terminates)."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
      SELECT {id_col}, {id_col} FROM {table}
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src
    )
    SELECT id AS {id_col}, MIN(r) AS canonical_id,
           CAST(CASE WHEN id = MIN(r) THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
    FROM reach GROUP BY id
    """


def resolve_duplicate_clusters_star(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    max_iters: int = 12,
    checkpoint: bool = True,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., *Connected Components in MapReduce and
    Beyond*, SoCC'14) — same output contract as
    :func:`resolve_duplicate_clusters` (min id per cluster), but the
    round count is O(log² n) in the component SIZE, independent of its
    DIAMETER. Min-label propagation needs O(diameter) rounds, so a
    pathological chain-shaped cluster (a → a' → a'' → …, each hop a
    near-dup of the last — common with incremental document revisions)
    at 100 TB would exhaust any fixed iteration budget; the star steps
    contract such chains exponentially instead.

    Each round is two groupBy-on-vertex passes over the EDGE list only
    (never the corpus):

    - large-star: every node u hooks its larger neighbors v > u
      directly onto m(u) = min(Γ(u) ∪ {u});
    - small-star: with edges oriented hi→lo, every hi re-points its
      smaller neighbors (and itself) at its minimum neighbor.

    The fixed point is a forest of stars rooted at each component's
    minimum id, so the final label join is a single groupBy(min) on the
    converged edges. Convergence is detected with one (count,
    xor-of-hash) aggregate per round. Lineage discipline: each round
    ends in an EAGER ``localCheckpoint`` — a star round references its
    input ~4× (two symmetric views × two star consumers), so mere
    persist() leaves a plan TEXT that grows 4^t and OOMs the driver in
    explain/AQE formatting even though execution would read the cache;
    checkpointing truncates the plan to a leaf each round (checkpoint
    blocks are ContextCleaner-managed — no unpersist bookkeeping).
    """
    # Orient hi→lo once up front; pairs guarantee id_a < id_b and no
    # self-loops. distinct() because LSH/Jaccard emitters may repeat.
    edges = (
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    converged = False
    # max_iters bounds CONTRACTION rounds; convergence is observed by a
    # round whose (count, xor) signature matches its input's, so a set
    # reaching its fixed point exactly at round max_iters needs one more
    # (cheap, no-op) confirming round — hence the +1.
    for _ in range(max_iters + 1):
        # -- large-star: hook every node's larger neighbors onto m(u).
        # The neighbor minimum needs the symmetric view, but the emission
        # side doesn't: edges are stored hi→lo, so "pairs (u, v) with
        # v > u" is exactly the swapped edge list — no filter pass over
        # a doubled relation. Emitted edge (hi, m(lo)) keeps u > v, so
        # orientation is an invariant and self-loops can't form. No
        # dedup here: duplicates are harmless under the min-aggregates
        # and the small-star distinct below collapses them.
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        large = (
            edges.select(F.col("v").alias("u"), F.col("u").alias("hi"))
            .join(mins, "u")
            .select(
                F.col("hi").alias("u"),
                F.least(F.col("u"), F.col("mv")).alias("v"),
            )
            .localCheckpoint(eager=False)  # read twice just below
        )
        # -- small-star: every hi re-points its smaller neighbors at its
        # min; all `large` edges already satisfy u > v, so min(v) is m(u).
        m2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            large.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(m2.select("u", F.col("mn").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # One action per round: the signature aggregate doubles as the
        # checkpoint materializer (lazy checkpoints persist during the
        # first job that computes them). Size + order-independent
        # content hash: bit_xor is commutative, so equal sets hash equal
        # regardless of partitioning; a (count, xor) collision across
        # rounds of a shrinking edge set is vanishingly unlikely.
        cnt, sig = (
            small.agg(
                F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")
            ).collect()[0]
        )
        edges = small
        if prev_sig == (cnt, sig):
            converged = True
            break
        prev_sig = (cnt, sig)
    if not converged:
        # The final groupBy(min) below assumes the edge set is a forest
        # of stars; on a non-converged set a node with edges to multiple
        # non-root vertices would get a NON-CANONICAL label with no
        # signal (r3 ADVICE). O(log² n) rounds means max_iters=12 covers
        # components of ~2^(2^?) practical size; hitting this means the
        # budget was set far too low — fail loudly, never mislabel.
        raise RuntimeError(
            f"resolve_duplicate_clusters_star: star contraction did not "
            f"reach its fixed point within max_iters={max_iters} rounds; "
            "labels would be non-canonical. Increase max_iters."
        )
    # Fixed point = stars rooted at component minima: each non-root node
    # appears exactly once as u with v = its component min.
    lbl = edges.groupBy("u").agg(F.min("v").alias("lbl"))
    result = (
        df.select(F.col(id_col).alias("id"))
        .join(lbl, F.col("id") == F.col("u"), "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("lbl", "id").alias("canonical_id"),
            (F.coalesce("lbl", "id") == F.col("id")).cast("int").alias("is_canonical"),
        )
    )
    # The per-round edges are already checkpoint leaves, so the result's
    # plan text is bounded either way; the final EAGER checkpoint (which
    # materializes a corpus-sized relation in its own job) is worth
    # paying only when the caller composes/reuses the result — the
    # same standalone-vs-pipeline trade as resolve_duplicate_clusters.
    if checkpoint:
        result = result.localCheckpoint(eager=True)
    return result


# --- #28 SimHash ----------------------------------------------------------

HEX_ALPHABET = "0123456789abcdef"


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Frequency-weighted SimHash fingerprint (``bits`` ≤ 32).

    Each token votes its md5-derived bit pattern; the fingerprint sets
    bit j where the vote is positive. SimHash is per-ROW computable, so
    the whole thing is ONE narrow projection — a single ``aggregate``
    fold over the token array accumulating the ``bits``-wide vote
    vector, then a second fold packing positive votes into the
    fingerprint. No explode, no groupBy, zero shuffles (the r3 plan
    exploded tokens × bit positions and paid two shuffles over an
    ~800×-inflated relation for a row-local computation). Per-token cost
    is one md5 + one ``conv`` (hex prefix → int, let-bound once per
    token via the single-element-transform trick, see SQ_QUANT) +
    ``bits`` literal integer shifts — the shift offsets are
    Python-precomputed so the HOF-interpreted lambda does no string
    indexing or double ``power()`` math per bit (that version measured
    ~10× slower).

    Bit j = bit ``j%4`` of hex nibble ``j/4`` — the same
    digit-for-digit formula as the DuckDB twin; votes are exact integer
    sums, so fold order is irrelevant and parity is hash-exact.
    """
    nibbles = (bits + 3) // 4
    terms = ", ".join(
        # bigint hash value; each extracted bit casts back to int so the
        # vote accumulator (array_repeat(0, bits): array<int>) typechecks
        f"cast(shiftright(v, {4 * (nibbles - 1 - (j // 4)) + j % 4}) % 2 as int)"
        for j in range(bits)
    )
    bit_vec = (
        f"get(transform(array(cast(conv(substring(md5(cast(t as binary)), 1, {nibbles}), 16, 10) as bigint)), "
        f"v -> array({terms})), 0)"
    )
    votes = (
        rf"aggregate(split(trim({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), "
        f"array_repeat(0, {bits}), "
        f"(acc, t) -> zip_with(acc, {bit_vec}, (a, b) -> a + b * 2 - 1))"
    )
    fingerprint = (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        "(v, j) -> if(v > 0, shiftleft(cast(1 as bigint), j), cast(0 as bigint))), "
        "cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return df.select(F.col(id_col), F.expr(fingerprint).alias("simhash"))


def simhash_sql(table: str, id_col: str, text_col: str, bits: int = 16) -> str:
    nibbles = (bits + 3) // 4
    return rf"""
    WITH tok AS (
      SELECT {id_col} AS id,
             substr(md5(t), 1, {nibbles}) AS h
      FROM (SELECT {id_col}, unnest(regexp_split_to_array(trim({text_col}), '[ \t\n\x0b\f\r]+')) AS t
            FROM {table})
    ), bitted AS (
      SELECT id, j,
             CAST(FLOOR((strpos('{HEX_ALPHABET}', substr(h, CAST(FLOOR(j / 4) AS INTEGER) + 1, 1)) - 1)
                        / POWER(2, j % 4)) AS INTEGER) % 2 AS bit
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, {bits - 1})) AS j)
    ), votes AS (
      SELECT id, j, SUM(bit * 2 - 1) AS v FROM bitted GROUP BY 1, 2
    ), fp AS (
      SELECT id,
             CAST(SUM(CASE WHEN v > 0 THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS simhash
      FROM votes GROUP BY 1
    )
    -- LEFT JOIN back to the table: unnest drops NULL-text docs from
    -- tok, but the contract is one fingerprint row per doc — NULL
    -- simhash for a NULL doc, matching Spark's per-row fold (caught
    -- by the degenerate-docs parity sweep)
    SELECT t.{id_col}, fp.simhash
    FROM {table} t LEFT JOIN fp ON fp.id = t.{id_col}
    """


# --- #29 embedding-cosine near-dups --------------------------------------

# try_divide, not /: a zero vector has zero norm and ANSI division
# raises where the DuckDB twin yields NULL — cosine with a zero vector
# is undefined, so NULL on both engines (rank/threshold filters then
# exclude it). try_divide is bit-identical to / for non-zero norms.
COSINE_SPARK = (
    "try_divide("
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)"
    ", (sqrt(aggregate(transform({a}, x -> x * x), cast(0 as double), (acc, x) -> acc + x))"
    " * sqrt(aggregate(transform({b}, x -> x * x), cast(0 as double), (acc, x) -> acc + x))))"
)

# NOT list_dot_product: DuckDB's native kernel accumulates FLOAT[]
# dots in float32 (SIMD order), while COSINE_SPARK multiplies in
# float32 and ACCUMULATES IN DOUBLE sequentially — on sf1's
# near-identical replica vectors the ~1e-8 gap crosses 4th-decimal
# rounding boundaries (caught by the r12 full-registry sf1 sweep:
# vec pair (9, 18009) scores 0.99974986 vs 0.99975002, rounding to
# 0.9997 vs 0.9998). The sequential-reduce form below reproduces
# Spark's arithmetic bit-for-bit: per-element float32 product, cast
# to double, left-fold accumulation.
#
# PRECONDITIONS (ADVICE r12/r13): {a}/{b} must be equal-length lists,
# and each placeholder is textually substituted SEVERAL times, so pass
# column references, not expensive subexpressions. Empty or NULL lists
# yield NULL (the CASE guard below — list_reduce raises on an empty
# list where the old list_dot_product returned NULL, so the guard
# restores that contract for reuse beyond the fixed-dimension
# embedding columns this macro ships with).
COSINE_DUCK = (
    "(CASE WHEN len({a}) = 0 OR len({b}) = 0 THEN NULL ELSE "
    "list_reduce(list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] * {b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
    " / (sqrt(list_reduce(list_transform({a}, x -> CAST(x * x AS DOUBLE)),"
    " (acc, x) -> acc + x))"
    " * sqrt(list_reduce(list_transform({b}, x -> CAST(x * x AS DOUBLE)),"
    " (acc, x) -> acc + x))) END)"
)


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    part_col: str,
    threshold: float = 0.35,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold, only within the coarse
    partition ``part_col`` (an IVF-cell stand-in): at 100 TB the
    all-pairs product is impossible; partition-local comparison is the
    scalable shape (recall is bounded by the partitioner, as with IVF)."""
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col(part_col).alias("p")
    )
    a, b = base.alias("a"), base.alias("b")
    cos = F.expr(COSINE_SPARK.format(a="a.v", b="b.v"))
    return (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            r4(cos).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_pairs_sql(
    table: str, id_col: str, vec_col: str, part_col: str, threshold: float = 0.35
) -> str:
    cos = COSINE_DUCK.format(a=f"a.{vec_col}", b=f"b.{vec_col}")
    return f"""
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           ROUND({cos} + 1e-9, 4) AS cosine
    FROM {table} a JOIN {table} b
      ON a.{part_col} = b.{part_col} AND a.{id_col} < b.{id_col}
    WHERE ROUND({cos} + 1e-9, 4) >= {threshold}
    """


# --- Fuzzy (edit-distance) near-dup pairs ----------------------------------

def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 8,
    prefix_len: int = 16,
) -> DataFrame:
    """Near-dup pairs by bounded Levenshtein distance, banded so the
    self-join never goes all-pairs: candidates must share a normalized
    ``prefix_len``-char prefix AND have lengths within ``max_dist`` of
    each other (an edit distance below ``max_dist`` implies both — the
    prefix band is the recall trade, standard for fuzzy dedup at scale:
    edits inside the first ``prefix_len`` chars are missed, which
    suits near-dup corpora whose variants share openings).

    Kernel-cost control (the scale path, in evaluation order):

    1. a 16-bin character histogram is computed once per row (narrow,
       O(len)); per candidate pair the L1 distance between histograms
       is an edit-distance LOWER bound (one edit moves at most two
       histogram units), so ``L1 > 2·max_dist`` pairs are dropped for
       O(bins) before any kernel runs — semantics-preserving, unlike a
       second band;
    2. survivors run ``levenshtein(a, b, max_dist)`` — Spark's
       THRESHOLDED kernel, banded O(len·max_dist) with early exit
       instead of the full O(len²) table.

    Bucket sizes bound the quadratic pair term exactly like LSH banding
    does for MinHash."""
    bins = 16
    hist = (
        f"transform(sequence(0, {bins - 1}), "
        f"b -> size(filter(split({{t}}, ''), c -> pmod(ascii(c), {bins}) = b)))"
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        F.length(text_col).cast("int").alias("len"),
        F.lower(F.substring(text_col, 1, prefix_len)).alias("pfx"),
        F.expr(hist.format(t=text_col)).alias("hist"),
    )
    a, b = base.alias("a"), base.alias("b")
    l1 = F.expr(
        "aggregate(zip_with(a.hist, b.hist, (x, y) -> abs(x - y)), 0, "
        "(acc, x) -> acc + x)"
    )
    pairs = a.join(
        b,
        (F.col("a.pfx") == F.col("b.pfx"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.abs(F.col("a.len") - F.col("b.len")) <= max_dist),
    ).filter(l1 <= 2 * max_dist)
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein(F.col("a.t"), F.col("b.t"), max_dist).cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
    )


def fuzzy_pairs_sql(
    table: str, id_col: str, text_col: str, max_dist: int = 8, prefix_len: int = 16
) -> str:
    return f"""
    WITH base AS (
      SELECT {id_col} AS id, {text_col} AS t,
             CAST(length({text_col}) AS INTEGER) AS len,
             lower(substr({text_col}, 1, {prefix_len})) AS pfx
      FROM {table}
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.t, b.t) AS INTEGER) AS edit_dist
    FROM base a JOIN base b
      ON a.pfx = b.pfx AND a.id < b.id AND abs(a.len - b.len) <= {max_dist}
    WHERE levenshtein(a.t, b.t) <= {max_dist}
    """


# --- incremental MinHash dedup (new batch vs stored corpus) ---------------


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(id, sig) — the K-minhash signature per document, one narrow
    projection (the shingle-hash fold documented in minhash_lsh_pairs).
    This is the persistable unit of a signature STORE: K×8 bytes per
    doc, one row per doc (so a versioned-table MERGE can replace a
    revised document's signature), with the band relation derivable by
    pure array slicing via :func:`bands_from_signatures` — signing is
    the expensive part, band derivation is free."""
    # NULL text → NULL signature (not the untouched [P,...] fold init):
    # a contentless doc must never band-collide, and the twin's
    # list_min-over-empty already yields an all-NULL sig whose NULL
    # band key joins nothing — NULL = NULL is false on both engines
    # (degenerate-docs parity sweep).
    sig_expr = (
        f"CASE WHEN {text_col} IS NULL THEN cast(null as array<bigint>) ELSE "
        f"aggregate({hashed_shingles_expr(text_col, n)}, "
        f"transform(sequence(0, {num_hashes - 1}), k -> cast({MINHASH_P} as bigint)), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        f"(m, k) -> least(m, {_minhash_lambda(num_hashes)}))) END"
    )
    return df.select(F.col(id_col).alias("id"), F.expr(sig_expr).alias("sig"))


def bands_from_signatures(
    sig_df: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(id, sig) → (id, sig, b, bkey): band keys from stored signatures
    — array slicing only, no text access, no shingle hashing."""
    rows = num_hashes // bands
    return sig_df.select(
        "id",
        "sig",
        F.explode(F.expr(f"sequence(0, {bands - 1})")).alias("b"),
    ).withColumn(
        "bkey",
        F.expr(
            f"array_join(transform(slice(sig, b * {rows} + 1, {rows}), "
            "x -> cast(x as string)), ',')"
        ),
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, sig, b, bkey) band relation — the persistable signature
    store for incremental dedup. In production this is written once per
    corpus (bucketed by ``bkey`` so daily probes join shuffle-free) and
    only APPENDED to; re-signing 100 TB per increment is the thing this
    exists to avoid."""
    return bands_from_signatures(
        minhash_signatures(df, id_col, text_col, n, num_hashes),
        num_hashes=num_hashes,
        bands=bands,
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    new_batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    broadcast_new: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus without re-signing
    the corpus: per new doc, is it an LSH-candidate near-dup of any
    corpus doc with signature-estimated Jaccard ≥ threshold?

    Scale asymmetry is the point: the daily increment is orders of
    magnitude smaller than the corpus, so with ``broadcast_new=True``
    (default) the new side's band relation broadcasts and the corpus
    band store streams once, map-side — no corpus shuffle at all. An
    increment that outgrows driver/broadcast limits would FAIL the job
    under an unconditional hint (r3 ADVICE), so callers with oversized
    batches pass ``broadcast_new=False`` to fall back to a shuffle join
    on (b, bkey) — and with the corpus store bucketed by bkey that
    fallback co-locates, costing only the small side's shuffle.
    Output per new doc: dup flag, minimum matching corpus id (or NULL),
    best estimated Jaccard.
    """
    cb = minhash_bands(corpus, id_col, text_col, n, num_hashes, bands)
    return incremental_minhash_probe(
        cb, new_batch, id_col, text_col,
        n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, broadcast_new=broadcast_new,
    )


def incremental_minhash_probe(
    band_store: DataFrame,
    new_batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    broadcast_new: bool = True,
    new_bands_rel: DataFrame | None = None,
) -> DataFrame:
    """The probe half of :func:`incremental_minhash_dedup`, against an
    ALREADY-SIGNED band relation (``minhash_bands`` layout:
    (id, sig, b, bkey)). This is the true never-re-sign path: a caller
    that persists the band store (a daily pipeline writing bands
    bucketed by bkey) pays signature cost only for the increment, and
    the store streams through the probe join map-side. A caller that
    has ALREADY signed the increment passes its band relation via
    ``new_bands_rel`` so the text is hashed exactly once per batch.
    Same output contract as incremental_minhash_dedup."""
    nb = (
        new_bands_rel
        if new_bands_rel is not None
        else minhash_bands(new_batch, id_col, text_col, n, num_hashes, bands)
    )
    est = (
        F.expr(
            f"size(filter(sequence(1, {num_hashes}), "
            "i -> element_at(csig, i) = element_at(nsig, i)))"
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    new_bands = nb.select(
        F.col("id").alias("new_id"), F.col("sig").alias("nsig"), "b", "bkey"
    )
    if broadcast_new:
        new_bands = F.broadcast(new_bands)
    cand = (
        band_store.select(
            F.col("id").alias("corpus_id"), F.col("sig").alias("csig"), "b", "bkey"
        )
        .join(new_bands, ["b", "bkey"])
        .select("new_id", "corpus_id", r4(est).alias("est"))
        .filter(F.col("est") >= threshold)
        .groupBy("new_id")
        .agg(
            F.min("corpus_id").alias("matched_corpus_id"),
            F.max("est").alias("best_est_jaccard"),
        )
    )
    return (
        new_batch.select(F.col(id_col).alias("new_id"))
        .join(cand, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.col("matched_corpus_id").isNotNull().cast("int").alias("is_dup_of_corpus"),
            "matched_corpus_id",
            "best_est_jaccard",
        )
    )


def incremental_minhash_dedup_sql(
    table: str,
    id_col: str,
    text_col: str,
    corpus_pred: str,
    new_pred: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    rows = num_hashes // bands
    return f"""
    WITH sig AS (
      SELECT {id_col} AS id,
             list_transform(generate_series(0, {num_hashes - 1}),
               k -> list_min(list_transform(hs, h -> {_minhash_lambda(num_hashes)})))
               AS sig,
             is_new
      FROM (
        SELECT {id_col}, {hashed_shingles_sql(text_col, n)} AS hs,
               CASE WHEN {new_pred} THEN 1 ELSE 0 END AS is_new
        FROM {table} WHERE ({corpus_pred}) OR ({new_pred})
      )
    ), banded AS (
      SELECT id, sig, is_new, b,
             array_to_string(list_slice(sig, b * {rows} + 1, b * {rows} + {rows}), ',')
               AS bkey
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS b)
    ), cand AS (
      SELECT nb.id AS new_id, cb.id AS corpus_id,
             ROUND(CAST(len(list_filter(generate_series(1, {num_hashes}),
                                        i -> cb.sig[i] = nb.sig[i])) AS DOUBLE)
                   / {num_hashes}.0 + 1e-9, 4) AS est
      FROM banded cb JOIN banded nb ON cb.b = nb.b AND cb.bkey = nb.bkey
      WHERE cb.is_new = 0 AND nb.is_new = 1
    ), hit AS (
      SELECT new_id, MIN(corpus_id) AS matched_corpus_id,
             MAX(est) AS best_est_jaccard
      FROM cand WHERE est >= {threshold} GROUP BY new_id
    )
    SELECT t.{id_col},
           CAST(CASE WHEN hit.matched_corpus_id IS NOT NULL THEN 1 ELSE 0 END
                AS INTEGER) AS is_dup_of_corpus,
           hit.matched_corpus_id, hit.best_est_jaccard
    FROM (SELECT {id_col} FROM {table} WHERE {new_pred}) t
    LEFT JOIN hit ON t.{id_col} = hit.new_id
    """


# --- dedup policy: keep the best document per near-dup cluster ------------


def dedup_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_iters: int = 8,
) -> DataFrame:
    """The production dedup DECISION step: near-dup pairs (exact
    shingle Jaccard >= threshold) -> connected components -> keep ONE
    document per cluster, chosen by highest quality_score (tie: lowest
    id). This is what an LLM-corpus pipeline actually emits — not the
    pair list, but a keep/drop verdict that retains the best-written
    representative instead of an arbitrary one.

    Scale shape: reuses the skew-guarded pair generation and the
    persisted-per-round label propagation; the policy itself adds ONE
    narrow quality projection (no extra scan of text beyond it) and ONE
    window over clusters — cluster sizes are near-clique small, so the
    window partition is never skewed. Output: (id, cluster_id,
    quality_score, is_kept) for every input document.
    """
    from pyspark.sql import Window

    from .text import quality_score

    pairs = jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)
    labels = resolve_duplicate_clusters(
        df, id_col, pairs, max_iters=max_iters, checkpoint=False
    )
    q = quality_score(df.select(id_col, text_col), text_col).select(
        F.col(id_col).alias("id"), "quality_score"
    )
    joined = labels.select(
        F.col(id_col).alias("id"), F.col("canonical_id").alias("cluster_id")
    ).join(q, "id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("id").asc()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            "quality_score",
            (F.col("rk") == 1).cast("int").alias("is_kept"),
        )
    )


def dedup_keep_best_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle twin: the exact recursive-CTE closure composed with
    the quality projection and the same (score desc, id asc) policy."""
    from .text import quality_score_sql

    closure = resolve_duplicate_clusters_sql(
        table, id_col, jaccard_pairs_sql(table, id_col, text_col, n=n, threshold=threshold)
    )
    return f"""
    WITH labels AS ({closure}),
    q AS ({quality_score_sql(table, id_col, text_col)})
    SELECT {id_col}, cluster_id, quality_score,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_kept
    FROM (
      SELECT l.{id_col}, l.canonical_id AS cluster_id, q.quality_score,
             ROW_NUMBER() OVER (
               PARTITION BY l.canonical_id
               ORDER BY q.quality_score DESC, l.{id_col} ASC) AS rk
      FROM labels l JOIN q ON l.{id_col} = q.{id_col}
    )
    """


# --- containment / overlap-coefficient pairs ------------------------------


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Sub-document duplication (Broder containment): pairs whose
    shingle OVERLAP COEFFICIENT |A∩B| / min(|A|, |B|) ≥ threshold. A
    short doc pasted inside a long one scores ~1.0 here while its
    Jaccard (|A∩B| / |A∪B|) stays low — the boilerplate-inclusion and
    quote-expansion dups every symmetric measure under-reports.

    Same scale machinery as :func:`jaccard_pairs`: per-doc-distinct
    60-bit shingles, optional hot-shingle doc-frequency cap before the
    equi-join, map-side-combined pair counts. Output adds both
    asymmetric directions' denominators so the caller can tell which
    side is the contained one."""
    ex, counts = guarded_shingles(df, id_col, text_col, n, max_doc_freq)
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sg") == F.col("b.sg")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = counts.select(F.col("id").alias("id_a"), F.col("ns").alias("na"))
    nb = counts.select(F.col("id").alias("id_b"), F.col("ns").alias("nb"))
    return (
        inter.join(na, "id_a").join(nb, "id_b")
        .withColumn(
            "containment",
            r4(F.col("inter").cast("double") / F.least("na", "nb").cast("double")),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("na").cast("bigint").alias("na"),
            F.col("nb").cast("bigint").alias("nb"),
            "containment",
        )
    )


def containment_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> str:
    hot_filter = (
        f"""ex0 AS (SELECT id, unnest(s) AS sg FROM sh),
       hot AS (SELECT sg FROM ex0 GROUP BY sg HAVING COUNT(*) > {max_doc_freq}),
       ex AS (SELECT id, sg FROM ex0 ANTI JOIN hot USING (sg)),"""
        if max_doc_freq is not None
        else "ex AS (SELECT id, unnest(s) AS sg FROM sh),"
    )
    cont = "ROUND(CAST(i AS DOUBLE) / CAST(LEAST(na.ns, nb.ns) AS DOUBLE) + 1e-9, 4)"
    return f"""
    WITH sh AS (
      SELECT {id_col} AS id, {hashed_shingles_sql(text_col, n)} AS s FROM {table}
    ), {hot_filter}
       cnt AS (SELECT id, CAST(len(s) AS BIGINT) AS ns FROM sh),
       inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.sg = b.sg AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, na.ns AS na, nb.ns AS nb, {cont} AS containment
    FROM inter
    JOIN cnt na ON inter.id_a = na.id
    JOIN cnt nb ON inter.id_b = nb.id
    WHERE {cont} >= {threshold}
    """


# --- #27c MinHash quality evaluation --------------------------------------


def minhash_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate-quality readout for the MinHash+LSH pipeline: the
    LSH candidate pairs scored against exact-Jaccard ground truth
    (pairs with true Jaccard ≥ threshold), reporting precision and
    recall in ONE summary row — the dial-tuning evidence (num_hashes ×
    bands vs the threshold) a dedup pipeline ships with, same
    quality-gate family as `lang_id_eval`.

    Scale shape: both relations are the proven banded/bounded pair
    machinery (never all-pairs); the final FULL OUTER join runs on
    pair keys — relations already reduced to near-dup candidates, tiny
    relative to the corpus — and collapses to a 1-row aggregate."""
    truth = jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold).select(
        "id_a", "id_b", F.lit(1).alias("__t")
    )
    cand = minhash_lsh_pairs(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    ).select("id_a", "id_b", F.lit(1).alias("__c"))
    j = truth.join(cand, ["id_a", "id_b"], "full_outer")
    zero = F.lit(0)
    return j.agg(
        F.coalesce(F.sum("__t"), zero).cast("bigint").alias("n_truth"),
        F.coalesce(F.sum("__c"), zero).cast("bigint").alias("n_candidates"),
        F.coalesce(F.sum(F.col("__t") * F.col("__c")), zero)
        .cast("bigint")
        .alias("n_hits"),
    ).select(
        "n_truth",
        "n_candidates",
        "n_hits",
        # empty denominators report NULL, not a divide error / NULL hits
        F.when(
            F.col("n_candidates") > 0,
            r4(F.col("n_hits") / F.col("n_candidates")),
        ).alias("precision"),
        F.when(F.col("n_truth") > 0, r4(F.col("n_hits") / F.col("n_truth"))).alias(
            "recall"
        ),
    )


def minhash_eval_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    truth = jaccard_pairs_sql(table, id_col, text_col, n=n, threshold=threshold)
    cand = minhash_lsh_pairs_sql(
        table, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    return f"""
    WITH truth AS ({truth}), cand AS ({cand}),
    j AS (
      SELECT COALESCE(t.id_a, c.id_a) AS id_a,
             COALESCE(t.id_b, c.id_b) AS id_b,
             CASE WHEN t.id_a IS NOT NULL THEN 1 END AS t,
             CASE WHEN c.id_a IS NOT NULL THEN 1 END AS c
      FROM truth t FULL OUTER JOIN cand c USING (id_a, id_b)
    )
    SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS n_truth,
           CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(t * c), 0) AS BIGINT) AS n_hits,
           CASE WHEN COALESCE(SUM(c), 0) > 0
                THEN ROUND(COALESCE(SUM(t * c), 0) * 1.0 / SUM(c) + 1e-9, 4) END
             AS precision,
           CASE WHEN COALESCE(SUM(t), 0) > 0
                THEN ROUND(COALESCE(SUM(t * c), 0) * 1.0 / SUM(t) + 1e-9, 4) END
             AS recall
    FROM j
    """


# --- #27d LSH band/row tuning (S-curve over the observed pair mass) -------

LSH_TUNING_CONFIGS: list[tuple[int, int]] = [
    (8, 2), (8, 4), (16, 4), (16, 8), (32, 8), (32, 16),
]


def _collision_prob_spark(s, rows: int, bands: int):
    """P(candidate | similarity s) = 1 - (1 - s^rows)^bands, built from
    REPEATED MULTIPLICATION (left-fold, never pow()): both engines then
    execute the identical IEEE-754 multiply sequence, so the per-pair
    probability is bit-identical and the integer-quantized sums below
    match exactly."""
    sr = s
    for _ in range(rows - 1):
        sr = sr * s
    q = F.lit(1.0) - sr
    qb = q
    for _ in range(bands - 1):
        qb = qb * q
    return F.lit(1.0) - qb


def _collision_prob_sql(s: str, rows: int, bands: int) -> str:
    sr = " * ".join([s] * rows)
    q = f"(1.0 - ({sr}))"
    qb = " * ".join([q] * bands)
    return f"(1.0 - ({qb}))"


def lsh_tuning(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    configs: list[tuple[int, int]] | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """MinHash-LSH parameter sweep BEFORE committing to a signature
    width: for every (num_hashes, bands) candidate config, the analytic
    banding S-curve P(candidate | s) = 1 - (1 - s^r)^b (Leskovec-
    Rajaraman-Ullman, MMDS ch. 3) is integrated over the corpus's OWN
    observed pair-similarity mass — every shingle-sharing pair with its
    exact Jaccard — yielding the expected true-positive mass (pairs ≥
    ``threshold`` the config would catch), expected false-positive mass
    (pairs below it that would still collide), and expected recall.
    ``dedup_minhash_eval`` measures ONE config by actually running it;
    this query prices ALL candidate configs in one pass, which is how a
    pipeline picks (num_hashes, bands) without re-signing a 100 TB
    corpus once per candidate.

    Plan shape: the pair relation is the proven banded/guarded
    ``jaccard_pairs`` machinery with threshold 0 (pairs sharing zero
    shingles have s = 0 → P = 0 exactly, so excluding them loses
    nothing); per-config expected masses are |configs| × 2 extra
    map-side-combined SUM columns on the ONE aggregate over that
    relation — no extra shuffle, no config × pair blow-up — and the
    1-row wide aggregate unpivots to a |configs|-row result via stack.

    Parity: per-pair probabilities are quantized to 1e-4 integers
    (floor(p·10⁴ + 0.5), identical in both engines) and summed as
    BIGINT, so the aggregate is order-independent — float summation
    order across partitions can never flip a 4th decimal.

    Output: (num_hashes int, bands int, rows_per_band int,
    n_true bigint, exp_tp double, exp_fp double, exp_recall double),
    ordered by (num_hashes, bands).
    """
    cfgs = configs if configs is not None else LSH_TUNING_CONFIGS
    pairs = jaccard_pairs(
        df, id_col, text_col, n=n, threshold=0.0, max_doc_freq=max_doc_freq
    )
    s = F.col("jaccard")
    is_true = s >= F.lit(threshold)
    aggs = [
        F.coalesce(F.sum(F.when(is_true, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_true")
    ]
    for i, (num_hashes, bands) in enumerate(cfgs):
        rows = num_hashes // bands
        p4 = F.floor(
            _collision_prob_spark(s, rows, bands) * F.lit(10000.0) + F.lit(0.5)
        ).cast("bigint")
        aggs.append(
            F.coalesce(F.sum(F.when(is_true, p4)), F.lit(0))
            .cast("bigint")
            .alias(f"tp{i}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(~is_true, p4)), F.lit(0))
            .cast("bigint")
            .alias(f"fp{i}")
        )
    wide = pairs.agg(*aggs)
    stack_args = ", ".join(
        f"{h}, {b}, {h // b}, tp{i}, fp{i}" for i, (h, b) in enumerate(cfgs)
    )
    long = wide.selectExpr(
        "n_true",
        f"stack({len(cfgs)}, {stack_args})"
        " AS (num_hashes, bands, rows_per_band, tp, fp)",
    )
    return long.select(
        F.col("num_hashes").cast("int").alias("num_hashes"),
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
        F.col("n_true"),
        r4(F.col("tp") / F.lit(10000.0)).alias("exp_tp"),
        r4(F.col("fp") / F.lit(10000.0)).alias("exp_fp"),
        F.when(
            F.col("n_true") > 0,
            r4(F.col("tp") / F.lit(10000.0) / F.col("n_true")),
        ).alias("exp_recall"),
    ).orderBy("num_hashes", "bands")


def lsh_tuning_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    configs: list[tuple[int, int]] | None = None,
    max_doc_freq: int | None = None,
) -> str:
    cfgs = configs if configs is not None else LSH_TUNING_CONFIGS
    pairs = jaccard_pairs_sql(
        table, id_col, text_col, n=n, threshold=0.0, max_doc_freq=max_doc_freq
    )
    agg_cols = [
        f"CAST(COALESCE(SUM(CASE WHEN jaccard >= {threshold} THEN 1 END), 0)"
        " AS BIGINT) AS n_true"
    ]
    for i, (num_hashes, bands) in enumerate(cfgs):
        rows = num_hashes // bands
        p4 = (
            f"CAST(FLOOR({_collision_prob_sql('jaccard', rows, bands)}"
            " * 10000.0 + 0.5) AS BIGINT)"
        )
        agg_cols.append(
            f"CAST(COALESCE(SUM(CASE WHEN jaccard >= {threshold} THEN {p4} END), 0)"
            f" AS BIGINT) AS tp{i}"
        )
        agg_cols.append(
            f"CAST(COALESCE(SUM(CASE WHEN jaccard < {threshold} THEN {p4} END), 0)"
            f" AS BIGINT) AS fp{i}"
        )
    per_cfg = "\n    UNION ALL ".join(
        f"""SELECT CAST({h} AS INTEGER) AS num_hashes,
           CAST({b} AS INTEGER) AS bands,
           CAST({h // b} AS INTEGER) AS rows_per_band,
           n_true,
           ROUND(tp{i} / 10000.0 + 1e-9, 4) AS exp_tp,
           ROUND(fp{i} / 10000.0 + 1e-9, 4) AS exp_fp,
           CASE WHEN n_true > 0
                THEN ROUND(tp{i} / 10000.0 / n_true + 1e-9, 4) END AS exp_recall
    FROM agg"""
        for i, (h, b) in enumerate(cfgs)
    )
    return f"""
    WITH pairs AS ({pairs}),
    agg AS (SELECT {', '.join(agg_cols)} FROM pairs)
    {per_cfg}
    ORDER BY num_hashes, bands
    """
