"""Round-11 additions: Arrow-kernel two-pass LM scorers
(unigram_logprob / kn_bigram_logprob rewrite) — edge-whitespace
tokenizer parity and forced-tail-path parity against the DuckDB twins.
"""

from __future__ import annotations

import pandas as pd
import pytest

from calidad_del_aire_etl_spark import oracle
from calidad_del_aire_etl_spark.operators import corpus
from calidad_del_aire_etl_spark.session import pin_oracle_compat

# texts exercising every edge of the Java split semantics the Arrow
# tokenizer must reproduce: empty string ('' -> ['']), whitespace-only,
# edge tabs (leading/trailing '' tokens survive trim-of-spaces-only),
# interior runs, NULL, and mixed-case
_EDGE_TEXTS = [
    "",
    "  ",
    "a\tb",
    "\ta b",
    "a b\t",
    "a  b",
    " a b ",
    None,
    "A B a\nb",
    "x\x0by\fz\rw",
    "the the the unique",
]


def _edge_docs_parquet(tmp_path):
    rows = [
        (i, t, "es", f"src{i % 3}", len(t) if t else 0)
        for i, t in enumerate(_EDGE_TEXTS * 5)
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


@pytest.mark.parametrize(
    "key",
    ["corpus_unigram_logprob", "corpus_kn_bigram_logprob",
     "corpus_perplexity_buckets", "corpus_perplexity_buckets_approx",
     "text_token_count"],
)
def test_lm_scorers_edge_whitespace_twins_agree(spark, tmp_path, key):
    """The Arrow tokenizer (corpus._arrow_token_lists) must reproduce
    Java split semantics exactly — including '' tokens from empty
    strings and edge non-space whitespace — or the LM scores diverge
    from the regexp_split_to_array twins on exactly these inputs."""
    from calidad_del_aire_etl_spark import registry

    pin_oracle_compat(spark)
    sf = _edge_docs_parquet(tmp_path)
    q = registry.queries()
    o = registry.oracle_sql()
    con = oracle.duck_connection(sf)
    n, problems = oracle.compare_query(spark, con, q[key], o[key], sf)
    assert problems == [], f"{key}: {problems}"
    assert n > 0


def test_unigram_logprob_forced_tail_path_matches_twin(spark, tmp_path):
    """head_size=2 pushes most of the vocabulary through the
    distributed tail-residual join — the path a 100 TB vocabulary
    actually takes — and the result must still hash-match the twin,
    which has no head/tail notion at all."""
    pin_oracle_compat(spark)
    sf = _edge_docs_parquet(tmp_path)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_log2_prob"])
        for r in corpus.unigram_logprob(docs, "doc_id", "text", head_size=2).collect()
    }
    con = oracle.duck_connection(sf)
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            corpus.unigram_logprob_sql("documents", "doc_id", "text")
        ).fetchall()
    }
    assert got == want


def test_kn_bigram_forced_tail_path_matches_twin(spark, tmp_path):
    pin_oracle_compat(spark)
    sf = _edge_docs_parquet(tmp_path)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_log2_prob"])
        for r in corpus.kn_bigram_logprob(
            docs, "doc_id", "text", head_size=3
        ).collect()
    }
    con = oracle.duck_connection(sf)
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            corpus.kn_bigram_logprob_sql("documents", "doc_id", "text")
        ).fetchall()
    }
    assert got == want


def _basket_fixture(spark):
    # 4 orders: basket {1,2,3} twice, {1,2} once (plus a dup line), {9} once
    rows = [
        (100, 1), (100, 2), (100, 3),
        (200, 1), (200, 2), (200, 3),
        (300, 1), (300, 2), (300, 2),
        (400, 9),
    ]
    return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")


def _expected_basket_affinity():
    # n=4 orders; n_1=3, n_2=3, n_3=2; pairs with support>=2:
    # (1,2):3 lift=3*4/(3*3)=1.3333; (1,3):2 lift=2*4/(3*2)=1.3333;
    # (2,3):2 lift=1.3333 — ties break (pa, pb) ascending
    return [
        (1, 2, 3, 1.3333),
        (1, 3, 2, 1.3333),
        (2, 3, 2, 1.3333),
    ]


def test_basket_affinity_hand_computed(spark):
    from calidad_del_aire_etl_spark.operators import behavior

    out = [
        tuple(r)
        for r in behavior.basket_affinity(
            _basket_fixture(spark), min_support=2
        ).collect()
    ]
    assert out == _expected_basket_affinity()


def test_basket_affinity_carries_orders_across_arrow_batches(spark):
    """Force 2-row Arrow batches so every basket straddles a batch
    boundary — the per-partition carry in pair_gen must reassemble them
    (a dropped carry would halve the pair supports)."""
    from calidad_del_aire_etl_spark.operators import behavior

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        li = _basket_fixture(spark).coalesce(1)
        out = [
            tuple(r)
            for r in behavior.basket_affinity(li, min_support=2).collect()
        ]
    finally:
        spark.conf.set(key, old)
    assert out == _expected_basket_affinity()


def _lttb_reference(pts, bs):
    """Plain-Python LTTB (Steinarsson 2013 §4.2) with the operators'
    exact rounding/tie rules: pts = [(xu, y)] sorted; returns
    [(bucket, xu, y, area-or-None)]."""
    import math

    def r4_(v):
        v = v + 1e-9
        s = -1.0 if v < 0 else 1.0
        return s * math.floor(abs(v) * 1e4 + 0.5) / 1e4

    n = len(pts)
    if n == 0:
        return []
    out = [(0, pts[0][0], pts[0][1], None)]
    m = 0 if n <= 2 else math.ceil((n - 2) / bs)
    px, py = pts[0]
    for b in range(1, m + 1):
        # clip at n-1: the global last point is its own bucket and must
        # not leak into the final middle bucket or the m-1 centroid
        bucket = pts[1 + (b - 1) * bs : min(1 + (b - 1) * bs + bs, n - 1)]
        tgt = (
            pts[1 + b * bs : min(1 + b * bs + bs, n - 1)]
            if b < m
            else [pts[n - 1]]
        )
        dxb = sum(t[0] - px for t in tgt) / len(tgt)
        yb = sum(t[1] for t in tgt) / len(tgt)
        best = None
        for p in bucket:
            a = r4_(abs((p[0] - px) * (yb - py) - dxb * (p[1] - py)) / 2e6)
            if best is None or a > best[0]:
                best = (a, p[0], p[1])
        out.append((b, best[1], best[2], best[0]))
        px, py = best[1], best[2]
    if n >= 2:
        out.append((m + 1, pts[n - 1][0], pts[n - 1][1], None))
    return out


def test_downsample_lttb_matches_python_reference(spark):
    """Hand-size fixture covering: 11-point series (3 middle buckets of
    3, incl. a tied-area bucket), a 1-point series (first point only),
    a 2-point series (no middle buckets). Spark AND the DuckDB twin
    must both reproduce the plain-Python reference."""
    import duckdb
    import pandas as pd

    from calidad_del_aire_etl_spark.operators import analytics

    rows, eid = [], 0
    for i, v in enumerate([5.0, 1.0, 9.0, 2.0, 7.0, 7.0, 3.0, 8.0, 4.0, 6.0, 2.5]):
        rows.append((eid, "a", f"2024-01-01 00:{i:02d}:00", v))
        eid += 1
    rows.append((eid, "b", "2024-01-01 00:00:00", 3.3))
    rows.append((eid + 1, "c", "2024-01-01 00:00:00", 1.0))
    rows.append((eid + 2, "c", "2024-01-01 00:05:00", 2.0))
    eid += 3
    # 12-point series: 10 middle points with bs=3 → buckets of 3,3,3,1;
    # the non-divisible case where unclipped slices would leak the
    # global last point into bucket 4's candidates and bucket 3's
    # next-bucket centroid
    for i, v in enumerate(
        [5.0, 1.0, 9.0, 2.0, 7.0, 7.5, 3.0, 8.0, 4.0, 6.0, 2.5, 9.5]
    ):
        rows.append((eid + i, "d", f"2024-01-01 01:{i:02d}:00", v))
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])

    want = []
    for et in ["a", "b", "c", "d"]:
        pts = sorted(
            (int(pd.Timestamp(r.ts).value // 1000), r.value)
            for r in pdf.itertuples()
            if r.event_type == et
        )
        want.extend((et, b, xu, y, a) for b, xu, y, a in _lttb_reference(pts, 3))

    pin_oracle_compat(spark)
    got = [
        tuple(r)
        for r in analytics.downsample_lttb(
            spark.createDataFrame(pdf), bucket_size=3
        ).collect()
    ]
    assert got == want

    con = duckdb.connect()
    con.register("events_pd", pdf)
    con.execute("CREATE VIEW events AS SELECT * FROM events_pd")
    duck = [
        tuple(r)
        for r in con.execute(
            analytics.downsample_lttb_sql("events", bucket_size=3)
        ).fetchall()
    ]
    assert duck == want


def _real_ish_decoder():
    """A 'real decoder' for the multimodal seam: PIL when the optional
    dependency is present (decode a real image, 8-bin luminance
    histogram), else a byte-reversing stand-in. Either way: a
    deterministic callable bytes -> 8 floats that RAISES on empty
    payloads, exactly the contract the stub documents."""
    try:
        import io

        from PIL import Image  # optional — absent in this container

        def decode(b: bytes):
            if not b:
                raise NotImplementedError("real decoder required")
            img = Image.open(io.BytesIO(b)).convert("L")
            hist = img.histogram()
            total = sum(hist) or 1
            return [sum(hist[i * 32 : (i + 1) * 32]) / total for i in range(8)]

        def payload_of(text: str) -> bytes:
            img = Image.new("L", (8, 8), color=sum(map(ord, text)) % 256)
            buf = io.BytesIO()
            img.save(buf, format="PNG")
            return buf.getvalue()

        return decode, payload_of
    except ImportError:

        def decode(b: bytes):
            if not b:
                raise NotImplementedError("real decoder required")
            rev = bytes(reversed(b))
            return [rev[i % len(rev)] / 255.0 for i in range(8)]

        def payload_of(text: str) -> bytes:
            return text.encode("utf-8")

        return decode, payload_of


def test_multimodal_decoder_seam_preserves_contract(spark):
    """Injecting a real decoder through feature_extract's seam must
    preserve every invariant the stub established: output schema,
    one row per payload, per-row failure flags (empty payload ->
    ok=False, zero vector, job survives), determinism across runs, and
    feature values equal to the decoder applied driver-side."""
    from calidad_del_aire_etl_spark.operators import multimodal

    decode, payload_of = _real_ish_decoder()
    rows = [
        (0, payload_of("alpha beta")),
        (1, payload_of("gamma")),
        (2, b""),  # corrupt blob: must flag, not kill the job
        (3, payload_of("delta epsilon zeta")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = multimodal.feature_extract(df, "doc_id", decoder=decode)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "byte_len", "ok", "features",
    ]
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 4
    assert got[2]["ok"] is False and got[2]["features"] == [0.0] * 8
    for i in (0, 1, 3):
        assert got[i]["ok"] is True
        assert got[i]["byte_len"] == len(rows[i][1])
        assert got[i]["features"] == [float(x) for x in decode(rows[i][1])]
    rerun = {r["doc_id"]: r for r in
             multimodal.feature_extract(df, "doc_id", decoder=decode).collect()}
    assert {k: v["features"] for k, v in got.items()} == {
        k: v["features"] for k, v in rerun.items()
    }


def test_multimodal_wrong_arity_decoder_flags_rows(spark):
    """A decoder that returns the wrong number of features must not
    produce ragged ok=True rows (the docstring promises length
    FEATURE_DIM); the arity check routes it through the per-row
    failure path: ok=False, zero vector, job survives."""
    from calidad_del_aire_etl_spark.operators import multimodal

    def bad_decode(data: bytes):
        return [1.0, 2.0, 3.0]  # arity 3, FEATURE_DIM is 8

    df = spark.createDataFrame(
        [(0, b"abc"), (1, b"defg")], "doc_id long, payload binary"
    )
    got = {
        r["doc_id"]: r
        for r in multimodal.feature_extract(df, "doc_id", decoder=bad_decode).collect()
    }
    for i in (0, 1):
        assert got[i]["ok"] is False
        assert got[i]["features"] == [0.0] * multimodal.FEATURE_DIM


def test_arrow_tokenizer_matches_java_split_semantics():
    """Direct kernel-level pin: Arrow split_pattern_regex under
    utf8_trim(' ') reproduces split(lower(trim(s)), '\\s+') for every
    edge case, including the ''-token rows."""
    toks = corpus._arrow_token_lists(pd.Series(_EDGE_TEXTS))
    assert toks.to_pylist() == [
        [""],
        [""],
        ["a", "b"],
        ["", "a", "b"],
        ["a", "b", ""],
        ["a", "b"],
        ["a", "b"],
        None,
        ["a", "b", "a", "b"],
        ["x", "y", "z", "w"],
        ["the", "the", "the", "unique"],
    ]
