from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from calidad_del_aire_etl_spark.operators import general, multimodal


def test_sessionize_gap_splits(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 1, 10.0),
        (2, t0 + dt.timedelta(minutes=10), 1, 20.0),
        (3, t0 + dt.timedelta(minutes=50), 1, 30.0),  # 40-min gap → new session
        (4, t0, 2, 5.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    out = general.sessionize(df, gap_minutes=30).collect()
    got = {(r["user_id"], r["session_id"]): (r["n_events"], r["duration_us"]) for r in out}
    assert got[(1, 1)] == (2, 600_000_000)
    assert got[(1, 2)] == (1, 0)
    assert got[(2, 1)] == (1, 0)


def test_q1_decimal_sums_exact(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = general.q1_pricing_summary(li).collect()
    assert len(out) > 0
    for r in out:
        # exact decimal → sum of 2-decimal inputs has at most 2 decimals
        assert abs(r["sum_qty"] * 100 - round(r["sum_qty"] * 100)) < 1e-6
        assert r["count_order"] > 0


def test_topk_dense_ranks(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = general.topk_per_group(orders, k=3).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["o_orderpriority"], []).append(r["rank"])
    for g, ranks in by_g.items():
        assert sorted(ranks) == [1, 2, 3]


def test_multimodal_feature_extract_plumbing(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "zzz"), (3, "")], "doc_id long, text string"
    )
    withbin = multimodal.with_binary_payload(df, "text")
    out = {r["doc_id"]: r for r in multimodal.feature_extract(withbin, "doc_id").collect()}
    assert out[1]["ok"] and out[2]["ok"]
    assert not out[3]["ok"]  # empty payload → stubbed decoder raises, flagged not killed
    assert len(out[1]["features"]) == multimodal.FEATURE_DIM
    assert abs(sum(out[1]["features"]) - 1.0) < 1e-3  # normalized histogram
    assert out[1]["byte_len"] == 11


def test_binary_meta(spark):
    df = spark.createDataFrame([(1, "abcd")], "doc_id long, text string")
    r = multimodal.binary_meta(multimodal.with_binary_payload(df, "text")).collect()[0]
    assert r["byte_len"] == 4
    assert r["magic_hex"] == "61626364"
    assert len(r["sha256"]) == 64


def test_asof_join_picks_latest_at_or_before(spark):
    """Crafted series: right values at t=1,5 (user 1); left rows at
    t=0 (no match), t=1 (equal-ts visible), t=7 (picks t=5)."""
    import datetime as dt

    from calidad_del_aire_etl_spark.operators.general import asof_join

    def t(m):
        return dt.datetime(2024, 1, 1, 10, m)

    left = spark.createDataFrame(
        [(1, t(0), 100, 1.0), (1, t(1), 101, 2.0), (1, t(7), 102, 3.0), (2, t(3), 103, 4.0)],
        "user_id int, ts timestamp, event_id int, value double",
    )
    right = spark.createDataFrame(
        [(1, t(1), 900, 11.0), (1, t(5), 901, 55.0), (3, t(0), 902, 99.0)],
        "user_id int, ts timestamp, event_id int, value double",
    )
    out = {r["event_id"]: r["asof_value"]
           for r in asof_join(left, right, ["user_id"], "ts", "value",
                              tiebreak_col="event_id").collect()}
    assert out == {100: None, 101: 11.0, 102: 55.0, 103: None}


def test_frame_sample_offsets_and_rowcount(spark):
    from calidad_del_aire_etl_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, "a" * 300), (2, "b" * 64), (3, "")], "doc_id bigint, text string"
    )
    wb = multimodal.with_binary_payload(df, "text")
    out = multimodal.frame_sample(wb, "doc_id", frame_size=64, every_kth=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc1: 300 bytes → 5 frames (0..4), sampled 0,2,4
    assert [r["frame_idx"] for r in sorted(by_doc[1], key=lambda r: r["frame_idx"])] == [0, 2, 4]
    assert sorted(r["frame_offset"] for r in by_doc[1]) == [0, 128, 256]
    last = max(by_doc[1], key=lambda r: r["frame_idx"])
    assert last["frame_len"] == 300 - 256  # tail frame is short
    assert by_doc[2][0]["frame_len"] == 64
    assert 3 not in by_doc  # empty payload → no frames
    # digests are real sha256 of the chunk bytes
    import hashlib
    assert by_doc[2][0]["frame_sha256"] == hashlib.sha256(b"b" * 64).hexdigest()


def test_cogroup_align_greedy_forward_matching(spark):
    import datetime as dt

    from calidad_del_aire_etl_spark.operators import multimodal

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    clicks = spark.createDataFrame(
        [(1, t(0)), (1, t(10)), (2, t(0)), (3, t(5))], "user_id bigint, ts timestamp"
    )
    buys = spark.createDataFrame(
        [(1, t(2)), (1, t(11)), (2, t(0)), (9, t(1))], "user_id bigint, ts timestamp"
    )
    out = {
        r["user_id"]: r
        for r in multimodal.cogroup_align(clicks, buys, "user_id", "ts").collect()
    }
    # u1: click@0→buy@2 (120s), click@10→buy@11 (60s) → mean 90s
    assert out[1]["aligned_pairs"] == 2 and out[1]["mean_gap_s"] == 90.0
    # u2: buy at the same instant counts (>= t)
    assert out[2]["aligned_pairs"] == 1 and out[2]["mean_gap_s"] == 0.0
    # u3: left only, no match; u9: right only, zero left
    assert out[3]["aligned_pairs"] == 0 and out[3]["mean_gap_s"] is None
    assert out[9]["n_left"] == 0 and out[9]["n_right"] == 1


def test_corpus_is_ascii_for_frame_oracle(spark, sf_dir):
    """The mm_frame_sample DuckDB oracle slices frames with VARCHAR
    substr, which equals byte slicing only while the corpus is pure
    ASCII — pin that assumption so a testdata change can't silently
    skew the parity check."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_multibyte = docs.filter(
        F.octet_length(F.col("text")) != F.length(F.col("text"))
    ).count()
    assert n_multibyte == 0


def test_feature_extract_batch_path_matches_rowwise_decode(spark):
    """The vectorized whole-batch histogram must agree bit-for-bit with
    the per-row _fake_decode fallback on every payload shape (empty,
    1-byte, long, all-identical bytes) — the two code paths implement
    the same decode and must never drift."""
    texts = ["hello world", "", "a", "z" * 4096, "mixed 123 \t\n content"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    withbin = multimodal.with_binary_payload(df, "text")
    out = {r["doc_id"]: r for r in multimodal.feature_extract(withbin, "doc_id").collect()}
    for i, t in enumerate(texts):
        if not t:
            assert not out[i]["ok"]
            assert out[i]["features"] == [0.0] * multimodal.FEATURE_DIM
        else:
            assert out[i]["ok"]
            assert out[i]["features"] == multimodal._fake_decode(t.encode())
            assert out[i]["byte_len"] == len(t.encode())


def test_phash_band_join_is_exact_for_hamming_le_3(spark):
    """The 4x16 pigeonhole banding must find EXACTLY the pairs a
    brute-force popcount over all fingerprint pairs finds (hamming <=
    3): planted near-identical payloads (tiny tail edits) land inside
    the budget, unrelated payloads stay out."""
    from calidad_del_aire_etl_spark.operators import multimodal

    base = "the quick brown fox jumps over the lazy dog " * 40
    rows = [
        (1, base),
        (2, base[:-3] + "cat"),            # tiny tail edit -> near-dup
        (3, base.replace("quick", "azure")),  # small edit
        (4, "completely different content " * 50),
        (5, base),                          # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    payload = multimodal.with_binary_payload(docs, "text")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_near_dup_pairs(payload, "doc_id", max_hamming=3).collect()
    }
    fps = {r["id"]: r["fp"] for r in multimodal.phash64(payload, "doc_id").collect()}
    expect = {}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1")
            if h <= 3:
                expect[(a, b)] = h
    assert got == expect, f"banding missed or invented pairs: {got} vs {expect}"
    assert (1, 5) in got and got[(1, 5)] == 0  # exact dup
    assert (1, 2) in got                       # planted tail edit
