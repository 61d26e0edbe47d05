"""Guarantees for the graph-ANN operator (NN-Descent k-NN graph + beam
search, operators/ann_graph.py): registered rows-only — the iterative
fixpoint is not DuckDB-expressible — so recall, determinism, and graph
invariants are pinned here instead (the sketch-operator test pattern).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from calidad_del_aire_etl_spark.operators import ann, ann_graph

SF = "/root/testdata/sf0.001"


def _em(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.mark.slow
def test_nndescent_graph_invariants(spark):
    g = ann_graph.nndescent_graph(_em(spark), "vec_id", "embedding", k=6, iters=2)
    rows = g.collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r["vec_id"], []).append(r)
    # exactly k neighbors per node (N=500 >> k), no self-loops,
    # ranks contiguous, cosines non-increasing within a node
    assert len(by_node) == 500
    for node, nbrs in by_node.items():
        assert len(nbrs) == 6
        assert all(r["neighbor_id"] != node for r in nbrs)
        ranked = sorted(nbrs, key=lambda r: r["rank"])
        assert [r["rank"] for r in ranked] == list(range(1, 7))
        cos = [r["cosine"] for r in ranked]
        assert all(a >= b for a, b in zip(cos, cos[1:]))


@pytest.mark.slow
def test_nndescent_improves_over_seed_round(spark):
    """NN-Descent's whole point: local joins lift neighbor quality over
    the hub-seeded graph. Mean kept-cosine must strictly improve."""
    em = _em(spark)
    seed = ann_graph.nndescent_graph(em, "vec_id", "embedding", k=6, iters=0)
    ref = ann_graph.nndescent_graph(em, "vec_id", "embedding", k=6, iters=2)
    m0 = seed.agg(F.avg("cosine")).collect()[0][0]
    m2 = ref.agg(F.avg("cosine")).collect()[0][0]
    assert m2 > m0 + 0.01, (m0, m2)


@pytest.mark.slow
def test_graph_beam_recall_vs_bruteforce(spark):
    em = _em(spark)
    exact = ann.bruteforce_topk(em, "vec_id", "embedding", lambda c: c < 10, k=5)
    approx = ann_graph.graph_beam_topk(
        em, "vec_id", "embedding", lambda c: c < 10, k=5
    )
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, recall


@pytest.mark.slow
def test_graph_beam_deterministic(spark):
    em = _em(spark)
    a = sorted(map(tuple, ann_graph.graph_beam_topk(
        em, "vec_id", "embedding", lambda c: c < 5, k=5).collect()))
    b = sorted(map(tuple, ann_graph.graph_beam_topk(
        em, "vec_id", "embedding", lambda c: c < 5, k=5).collect()))
    assert a == b


def test_graph_beam_output_contract(spark):
    out = ann_graph.graph_beam_topk(
        _em(spark), "vec_id", "embedding", lambda c: c < 3, k=4
    )
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    rows = out.collect()
    qids = {r["query_id"] for r in rows}
    assert qids == {0, 1, 2}
    for q in qids:
        ranks = sorted(r["rank"] for r in rows if r["query_id"] == q)
        assert ranks == list(range(1, len(ranks) + 1))
        assert all(r["neighbor_id"] != q for r in rows if r["query_id"] == q)


@pytest.mark.slow
def test_nndescent_insert_covers_all_nodes(spark):
    """Inserting a 20% batch yields a full graph: every node (old and
    new) has k ranked neighbors, no self-loops, no edges to nowhere."""
    em = _em(spark)
    g = ann_graph.nndescent_insert(
        em, "vec_id", "embedding", lambda c: c % 5 == 0, k=6
    )
    rows = g.collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r["vec_id"], []).append(r)
    assert len(by_node) == 500
    ids = set(by_node)
    for node, nbrs in by_node.items():
        assert 1 <= len(nbrs) <= 6
        assert all(r["neighbor_id"] != node for r in nbrs)
        assert all(r["neighbor_id"] in ids for r in nbrs)
        ranks = sorted(r["rank"] for r in nbrs)
        assert ranks == list(range(1, len(ranks) + 1))


@pytest.mark.slow
def test_nndescent_insert_quality_near_full_rebuild(spark):
    """The incremental graph's kept-neighbor quality (mean cosine) must
    land within a small band of a from-scratch rebuild on the same
    data — the insert path is an approximation of the rebuild, not a
    degradation."""
    em = _em(spark)
    full = ann_graph.nndescent_graph(em, "vec_id", "embedding", k=6, iters=2)
    incr = ann_graph.nndescent_insert(
        em, "vec_id", "embedding", lambda c: c % 5 == 0, k=6
    )
    mf = full.agg(F.avg("cosine")).collect()[0][0]
    mi = incr.agg(F.avg("cosine")).collect()[0][0]
    assert mi > mf - 0.05, (mf, mi)


@pytest.mark.slow
def test_nndescent_insert_preserves_untouched_old_nodes(spark):
    """An old node no insert search visited keeps its adjacency
    byte-identical to the old-only build (locality: inserts only touch
    what they see)."""
    em = _em(spark)
    old_only = ann_graph.nndescent_graph(
        em.filter(F.col("vec_id") % 5 != 0), "vec_id", "embedding", k=6
    )
    incr = ann_graph.nndescent_insert(
        em, "vec_id", "embedding", lambda c: c % 5 == 0, k=6
    )
    old_rows = {}
    for r in old_only.collect():
        old_rows.setdefault(r["vec_id"], set()).add(
            (r["neighbor_id"], r["cosine"])
        )
    touched = {
        r["vec_id"]
        for r in incr.collect()
        if r["vec_id"] % 5 != 0 and r["neighbor_id"] % 5 == 0
    }
    incr_rows = {}
    for r in incr.collect():
        if r["vec_id"] % 5 != 0:
            incr_rows.setdefault(r["vec_id"], set()).add(
                (r["neighbor_id"], r["cosine"])
            )
    untouched = set(old_rows) - touched
    assert untouched, "expected some untouched old nodes"
    same = sum(1 for n in untouched if incr_rows[n] == old_rows[n])
    assert same == len(untouched), (same, len(untouched))


@pytest.mark.slow
def test_graph_recall_eval_matches_manual_intersection(spark):
    """graph_recall_eval's per-query n_hits must equal the literal
    intersection of the two relations it claims to compare (the eval
    can't over- or under-count); recall is n_hits/k in [0,1]."""
    from calidad_del_aire_etl_spark.operators import ann, ann_graph

    em = _em(spark)
    pred = lambda c: c < 5  # noqa: E731
    ev = {
        r["query_id"]: (r["n_exact"], r["n_hits"], r["recall_at_k"])
        for r in ann_graph.graph_recall_eval(
            em, "vec_id", "embedding", pred, k=5
        ).collect()
    }
    exact = ann.bruteforce_topk(em, "vec_id", "embedding", pred, k=5).collect()
    approx = ann_graph.graph_beam_topk(
        em, "vec_id", "embedding", pred, k=5
    ).collect()
    truth = {}
    for q in ev:
        e = {r["neighbor_id"] for r in exact if r["query_id"] == q}
        a = {r["neighbor_id"] for r in approx if r["query_id"] == q}
        truth[q] = (len(e), len(e & a))
    for q, (n_exact, n_hits, rec) in ev.items():
        assert (n_exact, n_hits) == truth[q]
        assert abs(rec - round(n_hits / n_exact + 1e-9, 4)) < 1e-12
        assert 0.0 <= rec <= 1.0


@pytest.mark.slow
def test_insert_memo_requires_pred_tag_and_keys_by_it(spark):
    """memo_key without pred_tag must fail loudly (the memo cannot hash
    new_pred, so an untagged standing graph would be silently reused
    across DIFFERENT arrival predicates — the wrong-corpus-subset
    hazard); distinct pred_tags must build distinct standing graphs."""
    import pytest as _pytest

    em = _em(spark)
    with _pytest.raises(ValueError, match="pred_tag"):
        ann_graph.nndescent_insert(
            em, "vec_id", "embedding", lambda c: c % 5 == 0, k=6,
            memo_key="memo-test",
        )

    ann_graph.clear_graph_memo("memo-test")
    ann_graph.nndescent_insert(
        em, "vec_id", "embedding", lambda c: c % 5 == 0, k=6,
        memo_key="memo-test", pred_tag="mod5",
    ).count()
    keys_mod5 = {
        k[1] for k in ann_graph._GRAPH_MEMO if str(k[1]).startswith("memo-test")
    }
    ann_graph.nndescent_insert(
        em, "vec_id", "embedding", lambda c: c % 7 == 0, k=6,
        memo_key="memo-test", pred_tag="mod7",
    ).count()
    keys_both = {
        k[1] for k in ann_graph._GRAPH_MEMO if str(k[1]).startswith("memo-test")
    }
    # r15: the symmetrized adjacency of each standing graph is memoized
    # alongside it (an #edges sub-key) — beam search walks the edge
    # list, so the standing store keeps both
    assert keys_mod5 == {
        "memo-test#standing:mod5", "memo-test#standing:mod5#edges",
    }
    assert keys_both == {
        "memo-test#standing:mod5", "memo-test#standing:mod5#edges",
        "memo-test#standing:mod7", "memo-test#standing:mod7#edges",
    }
    # eviction hook: clears this key's entries (and derived sub-keys)
    # without touching other keys
    n = ann_graph.clear_graph_memo("memo-test")
    assert n == 4
    assert not any(
        str(k[1]).startswith("memo-test") for k in ann_graph._GRAPH_MEMO
    )


def test_standing_index_rebuilds_when_embeddings_rewritten(spark, tmp_path):
    """The registered graph queries memoize their standing index per
    embeddings table. Rewriting the table under the same path must
    build a fresh index: the second answer matches the DuckDB twin on
    the new vectors, and no entry of the old index stays memoized."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from calidad_del_aire_etl_spark import oracle, registry

    sf = str(tmp_path)
    path = tmp_path / "embeddings.parquet"
    shutil.copy(f"{SF}/embeddings.parquet", path)
    fn = registry.queries()["ann_graph_topk"]
    sql = registry.oracle_sql()["ann_graph_topk"]

    def check() -> str:
        got: dict = {}
        con = oracle.duck_connection(sf)
        try:
            _, problems = oracle.compare_query(spark, con, fn, sql, sf, out=got)
        finally:
            con.close()
        assert not problems, "; ".join(problems)
        return oracle.value_hash(got["oracle_df"])

    before = check()
    t = pq.read_table(path)
    flipped = pa.array(
        [[-x for x in v] if i % 3 else v
         for i, v in enumerate(t["embedding"].to_pylist())],
        type=t.schema.field("embedding").type,
    )
    pq.write_table(t.set_column(t.schema.get_field_index("embedding"),
                                "embedding", flipped), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**10))
    assert check() != before  # the rewrite changes the answer

    prefix = f"{sf}/embeddings@"
    keys = {str(k[1]).split("#")[0] for k in ann_graph._GRAPH_MEMO
            if str(k[1]).startswith(prefix)}
    assert len(keys) == 1
    assert ann_graph.clear_graph_memo(keys.pop()) > 0
