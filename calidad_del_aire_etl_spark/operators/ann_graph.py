"""Graph-based approximate nearest neighbor (SURVEY §2 #31j): a
distributed NN-Descent k-NN graph plus beam search over it — the
Spark-distributable counterpart of the HNSW/SW-graph family, closing the
one remaining ANN layout gap (VERDICT r8 "What's missing" #3).

Why not literal HNSW: HNSW's insert loop is inherently sequential (each
insertion greedy-searches the graph built so far) and its layered
skip-list lives in one address space — it does not distribute. The
published distributed equivalents keep the two ideas separable:

- **NN-Descent** (Dong, Moses, Li — WWW 2011) builds the k-NN graph by
  iterated local joins: "a neighbor of my neighbor is probably my
  neighbor". Each round joins the edge list with itself on the shared
  endpoint, scores the new candidate pairs, and keeps the best k per
  node — embarrassingly parallel, O(N·k²·d) work per round, converges
  in a handful of rounds.
- **Beam (best-first) search** over the finished graph answers queries,
  seeded from a small global hub set (the distributable stand-in for
  HNSW's upper layers: a deterministic md5-ordered sample every node
  and every query can reach, so the graph needs no global entry point).

Scale shape: the hub set (64 rows) broadcasts; every other step is an
equi-join or aggregate hash-partitioned on node id — no global sort and
no driver-side state. Pair scoring is ONE Arrow-batched ``mapInPandas``
einsum per round (the repo's vector-kernel fast path); all joins and
top-k cuts stay JVM-side. The per-round candidate set is bounded to
N·(2·sample_k)² EXACTLY by capping both the forward (rank ≤ sample_k)
and the reversed adjacency (windowed top-sample_k — a popular node's
in-degree is otherwise unbounded and round-2 expansion measured 2.6 M
pairs uncapped vs 60 k capped at N=2000, same recall band); per beam
hop each query touches ≤ beam·graph_k rows. Checkpoints are EAGER:
each round materializes once at build time — the lazy variant re-ran
round subtrees at the final action and doubled end-to-end wall
(14.8 s → 7.7 s measured at sf0.1, best-of-2).

Determinism: hub choice orders by md5(id); all top-k cuts break ties on
(cosine desc, neighbor id asc) over r4-rounded cosines — stable across
runs and partitionings. Registered rows-only (iterative algorithm — the
driver's DuckDB oracle cannot express the fixpoint); the guarantees live
in tests/test_ann_graph.py: recall@k vs brute force, determinism, and
graph-degree invariants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import r4
from .ann import VALID_VEC_DUCK, _np_round4, _sql_type, valid_vec


def _topk_per_node(scored: DataFrame, k: int, id_col: str = "id",
                   nb_col: str = "nb", dedup: bool = True) -> DataFrame:
    """Best k rows per node by (cosine desc, neighbor asc); input may
    hold duplicate (id, nb) pairs from different candidate sources.
    ``dedup=False`` skips the (id, nb) pre-aggregate — one exchange
    saved — at call sites whose input is unique BY CONSTRUCTION (seed
    cross-products, reversals of an already-unique adjacency)."""
    if dedup:
        scored = scored.groupBy(id_col, nb_col).agg(
            F.max("cosine").alias("cosine")
        )
    else:
        scored = scored.select(id_col, nb_col, "cosine")
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col(nb_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def _fold_cosine(V: "np.ndarray", W: "np.ndarray") -> "np.ndarray":  # noqa: F821
    """COSINE_SPARK's arithmetic, reproduced BIT-FOR-BIT in numpy:
    per-element float32 product, cast to double, accumulated in index
    order — vectorized over ROWS, sequential over DIMS, so every
    partial sum equals the JVM fold's (and therefore COSINE_DUCK's,
    by the pinned float32 test) while still running at numpy speed."""
    import numpy as np

    n, d = V.shape
    num = np.zeros(n, dtype=np.float64)
    dv = np.zeros(n, dtype=np.float64)
    dw = np.zeros(n, dtype=np.float64)
    for j in range(d):
        num += (V[:, j] * W[:, j]).astype(np.float64)
        dv += (V[:, j] * V[:, j]).astype(np.float64)
        dw += (W[:, j] * W[:, j]).astype(np.float64)
    return num / (np.sqrt(dv) * np.sqrt(dw))


def _score_pairs(pairs: DataFrame, left: str, right: str,
                 id_t: str) -> DataFrame:
    """Arrow-batched cosine for (left, right, v, nv) pair rows via the
    fold-exact kernel (:func:`_fold_cosine`), r4-rounded like every
    other scored site. Returns (left, right, cosine).

    r13 history: the original einsum kernel computed float64 PRODUCTS,
    matching the family's COSINE_DUCK twins only up to the 1e-9 nudge;
    an intermediate JVM higher-order-function rewrite was bit-identical
    but interpreted per element — the NN-Descent build scores N·k²
    pairs per round and the bench charged it +55 % on
    ann_graph_insert's standing build. The fold-exact numpy kernel is
    both: float32 products accumulated in double in index order
    (bit-identical to COSINE_SPARK/COSINE_DUCK) at vectorized speed."""

    def _score(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["v"].map(lambda x: np.asarray(x, dtype=np.float32)))
            W = np.vstack(pdf["nv"].map(lambda x: np.asarray(x, dtype=np.float32)))
            yield pd.DataFrame({
                left: pdf[left].values,
                right: pdf[right].values,
                "cosine": _np_round4(_fold_cosine(V, W)),
            })

    return pairs.mapInPandas(
        _score, f"{left} {id_t}, {right} {id_t}, cosine double"
    )


def hub_sample(base: DataFrame, n_hubs: int) -> DataFrame:
    """Deterministic global hub set: first ``n_hubs`` nodes by md5(id).
    Bounded (TakeOrdered, never a full materialized sort) and
    broadcastable; serves as NN-Descent's seed edges and beam search's
    entry points."""
    return (
        base.orderBy(F.md5(F.col("id").cast("string")), F.col("id").asc())
        .limit(n_hubs)
        .select(F.col("id").alias("hid"), F.col("v").alias("hv"))
    )


# Session-scoped index store: built k-NN graphs keyed by (session, user
# key, build params). A graph-ANN index is build-once-query-many — the
# registered topk / recall-eval / insert queries all need the same
# standing index, and rebuilding it per query was ~3× the family's wall
# (VERDICT r10 next #5). Entries hold eagerly-checkpointed DataFrames;
# keeping the reference pins the checkpoint blocks for the session.
_GRAPH_MEMO: dict = {}


def clear_graph_memo(memo_key: str | None = None) -> int:
    """Evict memoized standing graphs — every entry, or only those
    whose caller-supplied key is ``memo_key`` (including derived
    ``{memo_key}#...`` sub-keys). Entries hold localCheckpointed
    DataFrames whose blocks stay pinned for the process lifetime while
    referenced; dropping the reference lets Spark's ContextCleaner
    release them. Returns the number of entries evicted."""
    keys = [
        k
        for k in _GRAPH_MEMO
        if memo_key is None
        or k[1] == memo_key
        or str(k[1]).startswith(f"{memo_key}#")
    ]
    for k in keys:
        _GRAPH_MEMO.pop(k, None)
    return len(keys)


def nndescent_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    n_hubs: int = 64,
    sample_k: int = 4,
    memo_key: str | None = None,
) -> DataFrame:
    """Approximate k-NN graph via NN-Descent. Returns
    ``(id, neighbor_id, cosine, rank)`` — k rows per node.

    Seed: every node scores the broadcast hub set and keeps its best k
    (hub-mediated co-membership then acts like coarse IVF cells for the
    first local join). Each round: take each node's best ``sample_k``
    edges (NN-Descent's sampling rate ρ = sample_k/k — the paper's own
    cost control; the full symmetrized join measured 2.6 M candidate
    pairs per round at N=2000 vs ~0.3 M sampled, for the same recall
    band), symmetrize, join with itself on the shared endpoint
    (neighbor-of-neighbor candidates), score the pairs, and keep the
    best k per node against the incumbent graph. ``localCheckpoint``
    cuts the per-round lineage so the plan stays round-sized (the
    star-CC discipline).

    ``memo_key``: session-scoped index reuse — pass a stable key (e.g.
    the table path) to persist the built graph for the session, the
    build-once-query-many posture of every real graph-ANN store. The
    memo is keyed by build params too, so differently-shaped requests
    never collide; callers that mutate data under the same key must
    omit it (tests do)."""
    if memo_key is not None:
        mk = (df.sparkSession, memo_key, id_col, vec_col, k, iters,
              n_hubs, sample_k)
        hit = _GRAPH_MEMO.get(mk)
        if hit is not None:
            return hit
    id_t = _sql_type(df, id_col)
    # cosine-ANN family contract: NULL/zero vectors are not indexable
    base = df.filter(valid_vec(vec_col)).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    hubs = hub_sample(base, n_hubs)

    seed_pairs = (
        base.crossJoin(F.broadcast(hubs))
        .filter(F.col("id") != F.col("hid"))
        .select("id", F.col("hid").alias("nb"), "v", F.col("hv").alias("nv"))
    )
    seed = _score_pairs(seed_pairs, "id", "nb", id_t)
    # seed pairs are unique (one row per node×hub) — skip the dedup pass
    graph = _topk_per_node(seed, k, dedup=False).localCheckpoint()

    vecs = base  # (id, v), joined by key — no broadcast: corpus-sized
    for _ in range(iters):
        sampled = graph.filter(F.col("rank") <= sample_k)
        # cap the REVERSED adjacency per node too: a popular node's
        # in-degree is unbounded (every seed edge points at a hub), and
        # pairs-through-node scale as indeg x outdeg — one window over
        # the edge list bounds every node's expansion to 2*sample_k
        # total, making the candidate set exactly <= N*(2*sample_k)^2
        # the reversal of an already-unique adjacency is unique — skip
        # the dedup pre-aggregate, keep only the per-node cap window
        rev = _topk_per_node(
            graph.select(F.col("nb").alias("id"), F.col("id").alias("nb"),
                         "cosine"),
            sample_k,
            dedup=False,
        )
        edges = sampled.select("id", "nb").unionByName(rev.select("id", "nb"))
        e1 = edges.alias("e1")
        e2 = edges.alias("e2")
        cand = (
            e1.join(e2, F.col("e1.nb") == F.col("e2.id"))
            .select(F.col("e1.id").alias("id"), F.col("e2.nb").alias("nb"))
            .filter(F.col("id") != F.col("nb"))
            .distinct()
        )
        pair_rows = (
            cand.join(vecs.select(F.col("id"), F.col("v")), "id")
            .join(
                vecs.select(F.col("id").alias("nb"), F.col("v").alias("nv")),
                "nb",
            )
            .select("id", "nb", "v", "nv")
        )
        scored = _score_pairs(pair_rows, "id", "nb", id_t)
        merged = graph.select("id", "nb", "cosine").unionByName(scored)
        graph = _topk_per_node(merged, k).localCheckpoint()

    out = graph.select(
        F.col("id").alias(id_col),
        F.col("nb").alias("neighbor_id"),
        "cosine",
        "rank",
    )
    if memo_key is not None:
        _GRAPH_MEMO[mk] = out
    return out


def _symmetrize(g: DataFrame, id_col: str) -> DataFrame:
    """Undirected edge list of a (id, neighbor_id, ...) graph frame."""
    return (
        g.select(F.col(id_col).alias("id"), F.col("neighbor_id").alias("nb"))
        .unionByName(
            g.select(
                F.col("neighbor_id").alias("id"), F.col(id_col).alias("nb")
            )
        )
        .distinct()
        .localCheckpoint()
    )


def _edges_for(g: DataFrame, id_col: str, edges_memo: tuple | None) -> DataFrame:
    """Symmetrized edge list of a standing graph, memoized under the
    graph's own memo scope (r15, VERDICT r14 #3): the undirected
    adjacency IS the search structure of the standing index — beam
    search walks it, never the raw graph — so a build-once-query-many
    index stores it alongside the graph instead of re-running the
    symmetrizing distinct (one eager job) on every query against the
    same standing index. ``edges_memo`` is the full memo tuple (None →
    no memoization, e.g. mutating callers); eviction rides
    :func:`clear_graph_memo`'s ``{memo_key}#...`` prefix rule."""
    if edges_memo is not None:
        hit = _GRAPH_MEMO.get(edges_memo)
        if hit is not None:
            return hit
    edges = _symmetrize(g, id_col)
    if edges_memo is not None:
        _GRAPH_MEMO[edges_memo] = edges
    return edges


def _beam_states(
    base: DataFrame,
    edges: DataFrame,
    queries: DataFrame,
    id_t: str,
    beam: int,
    hops: int,
    n_hubs: int,
    materialize_final: bool = True,
) -> DataFrame:
    """Hub-seeded parallel beam search: per query, the best ``beam``
    graph nodes after ``hops`` expand-score-prune rounds. Shared by
    :func:`graph_beam_topk` (answering queries) and
    :func:`nndescent_insert` (placing new vectors).

    ``materialize_final=False`` skips the LAST hop's eager checkpoint
    (r15): a caller that consumes the final state exactly once (the
    top-k cut in graph_beam_topk) re-executes nothing by taking it as
    live lineage, and the hop's work simply moves into the consumer's
    action — one fewer sequential job barrier on the query path.
    Callers with multi-consumer finals (nndescent_insert) keep their
    own materialization downstream."""
    hubs = hub_sample(base, n_hubs)
    seed_pairs = (
        F.broadcast(queries)
        .crossJoin(F.broadcast(hubs))
        .select("qid", F.col("hid").alias("node"),
                F.col("qv").alias("v"), F.col("hv").alias("nv"))
    )
    state = _score_pairs(seed_pairs, "qid", "node", id_t)
    # query×hub seed rows are unique — skip the dedup pre-aggregate
    state = _topk_per_node(state, beam, id_col="qid", nb_col="node",
                           dedup=False)
    state = state.localCheckpoint()

    for hop in range(hops):
        # the beam state is tiny (≤ |queries|·beam rows) and a
        # materialized leaf — broadcast it so the corpus-sized edge
        # list is never shuffled per hop (guide §3.1; statically the
        # checkpointed LogicalRDD reports no size, so the planner
        # would SMJ/shuffle both sides and only AQE could demote it
        # AFTER the edge list's exchange map-write was already paid).
        # The frontier side is deliberately NOT hinted: broadcasting a
        # multi-stage derived subtree forces a driver-barrier build
        # (measured +0.5 s median per query at sf0.1, interleaved
        # C/D/E/B A/B), while AQE's runtime conversion makes the same
        # broadcast decision from the frontier's actual size for free.
        frontier = (
            F.broadcast(state)
            .join(edges, state.node == edges.id)
            .select("qid", F.col("nb").alias("node"))
            .distinct()
        )
        pair_rows = (
            frontier.join(
                base.select(F.col("id").alias("node"),
                            F.col("v").alias("nv")), "node"
            )
            .join(F.broadcast(queries), "qid")
            .select("qid", "node", F.col("qv").alias("v"), "nv")
        )
        scored = _score_pairs(pair_rows, "qid", "node", id_t)
        merged = state.select("qid", "node", "cosine").unionByName(scored)
        state = _topk_per_node(merged, beam, id_col="qid", nb_col="node")
        if materialize_final or hop < hops - 1:
            state = state.localCheckpoint()
    return state


def graph_beam_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids_pred,
    k: int = 5,
    graph_k: int = 8,
    iters: int = 2,
    beam: int = 8,
    hops: int = 3,
    n_hubs: int = 64,
    memo_key: str | None = None,
) -> DataFrame:
    """ANN top-k via beam search over the NN-Descent graph — the full
    graph-ANN query path (build once, search cheaply), output-compatible
    with the other ``ann_*_topk`` operators:
    ``(query_id, neighbor_id, cosine, rank)``.

    Search: each query seeds its beam with the broadcast hubs, then for
    ``hops`` rounds expands the beam's graph neighbors, scores the new
    nodes against the query vector, and keeps the best ``beam`` — the
    parallel-beam variant of best-first graph search (DiskANN's search
    loop batched across queries). Per hop per query the frontier is
    ≤ beam·graph_k rows; queries are broadcast so the only shuffled
    relation is frontier-sized, never corpus-sized."""
    id_t = _sql_type(df, id_col)
    base = df.filter(valid_vec(vec_col)).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    queries = base.filter(query_ids_pred(F.col("id"))).select(
        F.col("id").alias("qid"), F.col("v").alias("qv")
    )
    g = nndescent_graph(df, id_col, vec_col, k=graph_k, iters=iters,
                        n_hubs=n_hubs, memo_key=memo_key)
    edges = _edges_for(
        g, id_col,
        None if memo_key is None else (
            df.sparkSession, f"{memo_key}#edges", id_col, vec_col,
            graph_k, iters, n_hubs,
        ),
    )
    # the final beam state feeds exactly one consumer (the top-k cut):
    # take it as live lineage — the last hop executes inside the
    # query's own action instead of behind one more job barrier
    state = _beam_states(base, edges, queries, id_t, beam, hops, n_hubs,
                         materialize_final=False)
    final = state.filter(F.col("qid") != F.col("node"))
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("node").asc()
    )
    return (
        final.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("node").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def nndescent_insert(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    new_pred,
    k: int = 8,
    iters: int = 2,
    beam: int = 8,
    hops: int = 3,
    n_hubs: int = 64,
    memo_key: str | None = None,
    pred_tag: str | None = None,
) -> DataFrame:
    """Incremental index maintenance — insert a batch of new vectors
    into the NN-Descent graph WITHOUT rebuilding it (the batched
    counterpart of HNSW/DiskANN insertion, and the graph-ANN sibling of
    ``dedup_incremental_minhash``'s persisted-band probe). Rows matching
    ``new_pred`` are the arriving batch; the rest are the standing
    index. Returns the UPDATED full graph ``(id, neighbor_id, cosine,
    rank)`` covering old + new nodes.

    Three edge sources, all batch-sized (the standing index is never
    re-scored):

    1. **new→old**: each new vector beam-searches the old graph
       (hub-seeded, ≤ beam·k rows per query per hop) — HNSW's insert
       search, batched across the arrivals.
    2. **old→new** (back-links): the same scored pairs flipped and
       merged into the touched old nodes' lists — only nodes a search
       visited re-rank, everyone else's adjacency is untouched.
    3. **new↔new**: arrivals sharing an old neighbor are scored against
       each other (one NN-Descent-style local join over the new→old
       edge list) so a clustered batch links internally instead of only
       through the old index.

    ``memo_key`` + ``pred_tag``: the standing index is memoized under
    ``{memo_key}#standing:{pred_tag}``. ``pred_tag`` must name the
    arrival predicate (e.g. ``"mod5"``) and is REQUIRED whenever
    ``memo_key`` is set — the predicate is a Python callable the memo
    cannot hash, and without the tag two calls sharing a memo_key but
    partitioning the corpus differently would silently reuse a standing
    graph built over the wrong subset. Callers that mutate the data
    under the same key must omit memo_key (see nndescent_graph).
    Evict with :func:`clear_graph_memo`.
    """
    if memo_key is not None and pred_tag is None:
        raise ValueError(
            "nndescent_insert: memo_key requires pred_tag — the memo "
            "cannot hash new_pred, so the tag must identify the arrival "
            "subset to keep standing graphs from colliding across "
            "different predicates"
        )
    id_t = _sql_type(df, id_col)
    base = df.filter(valid_vec(vec_col)).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    old = base.filter(~new_pred(F.col("id")))
    new = base.filter(new_pred(F.col("id")))

    # the STANDING index is what a real store maintains across arrival
    # batches — memoize it under its own key (never colliding with the
    # full-corpus graph: the relation here excludes the arrivals, and
    # the pred_tag scopes it to this arrival predicate)
    standing_key = (
        None if memo_key is None else f"{memo_key}#standing:{pred_tag}"
    )
    g_old = nndescent_graph(
        df.filter(~new_pred(F.col(id_col))), id_col, vec_col,
        k=k, iters=iters, n_hubs=n_hubs,
        memo_key=standing_key,
    ).select(
        F.col(id_col).alias("id"), F.col("neighbor_id").alias("nb"),
        "cosine", "rank",
    )
    # the standing index's symmetrized adjacency is memoized with it —
    # an arrival batch walks the SAME stored structure every query
    edges_old = _edges_for(
        g_old.select(F.col("id").alias("gid"),
                     F.col("nb").alias("neighbor_id"))
        .withColumnRenamed("gid", "id"),
        "id",
        None if standing_key is None else (
            df.sparkSession, f"{standing_key}#edges", id_col, vec_col,
            k, iters, n_hubs,
        ),
    )
    old_adj, new_adj = insert_into_graph(
        old, g_old, new, id_t, edges_old, k=k, beam=beam, hops=hops,
        n_hubs=n_hubs,
    )
    return (
        old_adj.unionByName(new_adj)
        .select(
            F.col("id").alias(id_col),
            F.col("nb").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def insert_into_graph(
    old: DataFrame,
    g_old: DataFrame,
    new: DataFrame,
    id_t: str,
    edges_old: DataFrame,
    k: int = 8,
    beam: int = 8,
    hops: int = 3,
    n_hubs: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Core of the insert path, against an EXISTING standing graph
    (:func:`nndescent_insert` builds that graph in-process).
    ``old``/``new`` are (id, v) relations; ``g_old`` is (id, nb, cosine,
    rank) and ``edges_old`` its (possibly memoized) symmetrized
    adjacency (:func:`_edges_for`). Returns ``(old_adj, new_adj)`` — the
    re-ranked adjacency of ALL old nodes (only those receiving a
    back-link can differ from ``g_old``) and the new nodes' adjacency.
    """
    arrivals = new.select(F.col("id").alias("qid"), F.col("v").alias("qv"))
    # the final hop is taken as live lineage and materialized ONCE as
    # new_out below — placed's only consumer — so the last hop's merge
    # window runs inside new_out's materialization instead of behind
    # its own job barrier, and the four new_out readers share one leaf
    placed = _beam_states(old, edges_old, arrivals, id_t, beam, hops,
                          n_hubs, materialize_final=False)

    # 1) new→old out-edges: best k of the beam state per arrival; the
    # beam state is unique on (qid, node) by construction — skip the
    # dedup pre-aggregate (one exchange saved)
    new_out = _topk_per_node(
        placed.select("qid", "node", "cosine"), k, id_col="qid",
        nb_col="node", dedup=False,
    ).select(
        F.col("qid").alias("id"), F.col("node").alias("nb"), "cosine"
    ).localCheckpoint(eager=False)

    # 3) new↔new via shared old neighbor (one bounded local join)
    n1 = new_out.alias("n1")
    n2 = new_out.alias("n2")
    nn_cand = (
        n1.join(n2, F.col("n1.nb") == F.col("n2.nb"))
        .select(F.col("n1.id").alias("id"), F.col("n2.id").alias("nb"))
        .filter(F.col("id") != F.col("nb"))
        .distinct()
    )
    nn_pairs = (
        nn_cand.join(new.select("id", "v"), "id")
        .join(new.select(F.col("id").alias("nb"), F.col("v").alias("nv")), "nb")
        .select("id", "nb", "v", "nv")
    )
    nn_scored = _score_pairs(nn_pairs, "id", "nb", id_t)

    new_adj = _topk_per_node(
        new_out.unionByName(nn_scored), k
    ).select("id", "nb", "cosine", "rank")

    # 2) back-links: flip the new→old edges into the touched old lists
    back = new_out.select(
        F.col("nb").alias("id"), F.col("id").alias("nb"), "cosine"
    )
    old_adj = _topk_per_node(
        g_old.select("id", "nb", "cosine").unionByName(back), k
    ).select("id", "nb", "cosine", "rank")
    return old_adj, new_adj


def graph_beam_topk_sql(
    table: str,
    id_col: str,
    vec_col: str,
    query_pred_sql: str,
    k: int = 5,
    graph_k: int = 8,
    iters: int = 2,
    sample_k: int = 4,
    beam: int = 8,
    hops: int = 3,
    n_hubs: int = 64,
) -> str:
    """DuckDB twin of :func:`graph_beam_topk` — the ENTIRE deterministic
    algorithm (md5-ordered hubs, ``iters`` NN-Descent rounds with the
    sample_k forward/reverse caps, graph symmetrization, ``hops``
    beam-search expansions, final re-rank) unrolled into chained CTEs,
    the same discipline as embed_kmeans's unrolled-k-means oracle. Every
    top-k cut uses the engines' shared tie-break (r4-rounded cosine
    desc, id asc), so both engines walk the identical graph and beam.
    ``query_pred_sql`` is a predicate over the aliased column ``id``
    (e.g. ``"id < 10"``)."""
    parts, sprev = _build_and_beam_parts(
        f"SELECT {id_col} AS id, {vec_col} AS v FROM {table} "
        f"WHERE {VALID_VEC_DUCK.format(v=vec_col)}",
        f"SELECT id AS qid, v AS qv FROM base WHERE {query_pred_sql}",
        graph_k=graph_k, iters=iters, sample_k=sample_k,
        beam=beam, hops=hops, n_hubs=n_hubs,
    )
    ctes = ",\n".join(parts)
    return f"""
    WITH {ctes}
    SELECT qid AS query_id, node AS neighbor_id, cosine,
           CAST(rank AS INTEGER) AS rank FROM (
      SELECT qid, node, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cosine DESC, node ASC) AS rank
      FROM (SELECT qid, node, cosine FROM {sprev} WHERE qid != node)
    ) WHERE rank <= {k}
    """


def _cos_sql(a: str, b: str) -> str:
    from .dedup import COSINE_DUCK

    return f"ROUND({COSINE_DUCK.format(a=a, b=b)} + 1e-9, 4)"


def _topk_nodes_sql(src_sql: str, kk: int, idc: str, nbc: str) -> str:
    # _topk_per_node twin: dedup (id, nb) on MAX(cosine), then
    # ROW_NUMBER by (cosine DESC, nb ASC) capped at kk
    return f"""
    SELECT {idc}, {nbc}, cosine, rank FROM (
      SELECT {idc}, {nbc}, cosine,
             ROW_NUMBER() OVER (PARTITION BY {idc}
               ORDER BY cosine DESC, {nbc} ASC) AS rank
      FROM (SELECT {idc}, {nbc}, MAX(cosine) AS cosine
            FROM ({src_sql}) GROUP BY {idc}, {nbc})
    ) WHERE rank <= {kk}"""


def _build_and_beam_parts(
    base_sql: str,
    q_sql: str,
    graph_k: int,
    iters: int,
    sample_k: int,
    beam: int,
    hops: int,
    n_hubs: int,
) -> tuple[list[str], str]:
    """Shared CTE generator for the graph family twins: the NN-Descent
    build over ``base`` (md5-ordered hubs, ``iters`` rounds), graph
    symmetrization (``edges``), and the ``hops``-round beam search for
    the query set ``q``. Returns (CTE parts, final beam-state name);
    the final graph CTE is ``g{iters}``. Extracted from
    graph_beam_topk_sql (r13) so nndescent_insert_sql can reuse the
    identical build+beam replay over the OLD subset."""
    cos, topk_nodes = _cos_sql, _topk_nodes_sql

    parts = [
        f"base AS MATERIALIZED ({base_sql})",
        f"""hubs AS MATERIALIZED (SELECT id AS hid, v AS hv FROM base
            ORDER BY md5(CAST(id AS VARCHAR)), id ASC LIMIT {n_hubs})""",
        "g0 AS MATERIALIZED ("
        + topk_nodes(
            f"""SELECT b.id AS id, h.hid AS nb, {cos('b.v', 'h.hv')} AS cosine
                FROM base b CROSS JOIN hubs h WHERE b.id != h.hid""",
            graph_k, "id", "nb",
        )
        + ")",
    ]
    prev = "g0"
    for r in range(1, iters + 1):
        parts += [
            f"s{r} AS MATERIALIZED (SELECT id, nb FROM {prev} WHERE rank <= {sample_k})",
            f"rev{r} AS MATERIALIZED ("
            + topk_nodes(
                f"SELECT nb AS id, id AS nb, cosine FROM {prev}",
                sample_k, "id", "nb",
            )
            + ")",
            f"""e{r} AS MATERIALIZED (SELECT id, nb FROM s{r}
                 UNION SELECT id, nb FROM rev{r})""",
            f"""cand{r} AS MATERIALIZED (SELECT DISTINCT e1.id AS id, e2.nb AS nb
                 FROM e{r} e1 JOIN e{r} e2 ON e1.nb = e2.id
                 WHERE e1.id != e2.nb)""",
            f"""sc{r} AS MATERIALIZED (SELECT c.id, c.nb, {cos('bi.v', 'bn.v')} AS cosine
                 FROM cand{r} c JOIN base bi ON c.id = bi.id
                 JOIN base bn ON c.nb = bn.id)""",
            f"g{r} AS MATERIALIZED ("
            + topk_nodes(
                f"""SELECT id, nb, cosine FROM {prev}
                    UNION ALL SELECT id, nb, cosine FROM sc{r}""",
                graph_k, "id", "nb",
            )
            + ")",
        ]
        prev = f"g{r}"
    parts += [
        f"""edges AS MATERIALIZED (SELECT id, nb FROM {prev}
             UNION SELECT nb AS id, id AS nb FROM {prev})""",
        f"q AS MATERIALIZED ({q_sql})",
        # beam seed: queries x hubs, NO self-filter (matches _beam_states)
        "st0 AS MATERIALIZED ("
        + topk_nodes(
            f"""SELECT q.qid AS qid, h.hid AS node, {cos('q.qv', 'h.hv')} AS cosine
                FROM q CROSS JOIN hubs h""",
            beam, "qid", "node",
        )
        + ")",
    ]
    sprev = "st0"
    for h in range(1, hops + 1):
        parts += [
            f"""fr{h} AS MATERIALIZED (SELECT DISTINCT s.qid, e.nb AS node
                 FROM {sprev} s JOIN edges e ON s.node = e.id)""",
            f"""ssc{h} AS MATERIALIZED (SELECT f.qid, f.node, {cos('q.qv', 'b.v')} AS cosine
                 FROM fr{h} f JOIN base b ON f.node = b.id
                 JOIN q ON f.qid = q.qid)""",
            f"st{h} AS MATERIALIZED ("
            + topk_nodes(
                f"""SELECT qid, node, cosine FROM {sprev}
                    UNION ALL SELECT qid, node, cosine FROM ssc{h}""",
                beam, "qid", "node",
            )
            + ")",
        ]
        sprev = f"st{h}"
    return parts, sprev


def nndescent_insert_sql(
    table: str,
    id_col: str,
    vec_col: str,
    new_pred_sql: str,
    k: int = 8,
    iters: int = 2,
    sample_k: int = 4,
    beam: int = 8,
    hops: int = 3,
    n_hubs: int = 64,
) -> str:
    """DuckDB twin of :func:`nndescent_insert` — the standing-graph
    build over the OLD subset, the arrivals' beam placement, and all
    three edge sources (new→old top-k, new↔new via shared old
    neighbor, back-links merged into the old lists) unrolled into the
    same CTE chain discipline as graph_beam_topk_sql. ``new_pred_sql``
    is the arrival predicate over the RAW table column (e.g.
    ``"vec_id % 5 = 0"``); every top-k cut uses the engines' shared
    tie-break, so the outputs hash-match row for row."""
    cos, topk_nodes = _cos_sql, _topk_nodes_sql
    parts, sprev = _build_and_beam_parts(
        # base = the STANDING index (old rows); arrivals come from the
        # full table and beam-search against it
        f"SELECT {id_col} AS id, {vec_col} AS v FROM {table} "
        f"WHERE NOT ({new_pred_sql}) AND {VALID_VEC_DUCK.format(v=vec_col)}",
        f"SELECT {id_col} AS qid, {vec_col} AS qv FROM {table} "
        f"WHERE ({new_pred_sql}) AND {VALID_VEC_DUCK.format(v=vec_col)}",
        graph_k=k, iters=iters, sample_k=sample_k,
        beam=beam, hops=hops, n_hubs=n_hubs,
    )
    g_old = f"g{iters}"
    parts += [
        # 1) new->old out-edges: best k of the final beam state
        "new_out AS MATERIALIZED ("
        + topk_nodes(
            f"SELECT qid, node, cosine FROM {sprev}", k, "qid", "node"
        )
        + ")",
        # 3) new<->new via shared old neighbor (bounded local join)
        """nn_cand AS MATERIALIZED (
          SELECT DISTINCT n1.qid AS id, n2.qid AS nb
          FROM new_out n1 JOIN new_out n2 ON n1.node = n2.node
          WHERE n1.qid != n2.qid)""",
        f"""nn_sc AS MATERIALIZED (
          SELECT c.id, c.nb, {cos('qa.qv', 'qb.qv')} AS cosine
          FROM nn_cand c JOIN q qa ON c.id = qa.qid
          JOIN q qb ON c.nb = qb.qid)""",
        "new_adj AS MATERIALIZED ("
        + topk_nodes(
            """SELECT qid AS id, node AS nb, cosine FROM new_out
               UNION ALL SELECT id, nb, cosine FROM nn_sc""",
            k, "id", "nb",
        )
        + ")",
        # 2) back-links folded into the standing lists
        "old_adj AS MATERIALIZED ("
        + topk_nodes(
            f"""SELECT id, nb, cosine FROM {g_old}
                UNION ALL SELECT node AS id, qid AS nb, cosine FROM new_out""",
            k, "id", "nb",
        )
        + ")",
    ]
    ctes = ",\n".join(parts)
    return f"""
    WITH {ctes}
    SELECT id AS {id_col}, nb AS neighbor_id, cosine,
           CAST(rank AS INTEGER) AS rank
    FROM (SELECT * FROM old_adj UNION ALL SELECT * FROM new_adj)
    """


def graph_recall_eval(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids_pred,
    k: int = 5,
    graph_k: int = 8,
    iters: int = 2,
    beam: int = 8,
    hops: int = 3,
    n_hubs: int = 64,
    memo_key: str | None = None,
) -> DataFrame:
    """Recall@k of the NN-Descent beam search vs the exact brute-force
    ranking, one row per query — the graph-ANN analog of
    ``ann.recall_eval`` (VERDICT r9 #3): the graph BUILD stays rows-only
    (iterative fixpoint), but because every decision in it is
    deterministic (md5 hubs, r4 tie-breaks), the search OUTPUT is a pure
    function of the data and the oracle twin replays the identical walk
    as unrolled SQL — making the pair's quality hash-checkable."""
    from .ann import bruteforce_topk

    exact = bruteforce_topk(df, id_col, vec_col, query_ids_pred, k=k).select(
        "query_id", "neighbor_id", F.lit(1).alias("__e")
    )
    approx = graph_beam_topk(
        df, id_col, vec_col, query_ids_pred, k=k, graph_k=graph_k,
        iters=iters, beam=beam, hops=hops, n_hubs=n_hubs,
        memo_key=memo_key,
    ).select("query_id", "neighbor_id", F.lit(1).alias("__a"))
    j = exact.join(approx, ["query_id", "neighbor_id"], "full_outer")
    per_q = j.groupBy("query_id").agg(
        F.sum("__e").cast("bigint").alias("n_exact"),
        F.coalesce(F.sum(F.col("__e") * F.col("__a")), F.lit(0))
        .cast("bigint")
        .alias("n_hits"),
    )
    return per_q.select(
        "query_id",
        "n_exact",
        "n_hits",
        r4(F.col("n_hits") / F.col("n_exact")).alias("recall_at_k"),
    ).orderBy("query_id")


def graph_recall_eval_sql(
    table: str,
    id_col: str,
    vec_col: str,
    bf_pred_sql: str,
    graph_pred_sql: str,
    k: int = 5,
    graph_k: int = 8,
    iters: int = 2,
    beam: int = 8,
    hops: int = 3,
    n_hubs: int = 64,
) -> str:
    from .ann import bruteforce_topk_sql

    exact = bruteforce_topk_sql(table, id_col, vec_col, bf_pred_sql, k=k)
    approx = graph_beam_topk_sql(
        table, id_col, vec_col, graph_pred_sql, k=k, graph_k=graph_k,
        iters=iters, beam=beam, hops=hops, n_hubs=n_hubs,
    )
    return f"""
    WITH exact AS ({exact}), approx AS ({approx}),
    j AS (
      SELECT COALESCE(e.query_id, a.query_id) AS query_id,
             CASE WHEN e.query_id IS NOT NULL THEN 1 END AS e,
             CASE WHEN a.query_id IS NOT NULL THEN 1 END AS a
      FROM exact e FULL OUTER JOIN approx a
        USING (query_id, neighbor_id)
    )
    SELECT query_id,
           CAST(SUM(e) AS BIGINT) AS n_exact,
           CAST(COALESCE(SUM(e * a), 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(SUM(e * a), 0) * 1.0 / SUM(e) + 1e-9, 4) AS recall_at_k
    FROM j GROUP BY 1 ORDER BY 1
    """
