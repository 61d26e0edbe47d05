"""Multimodal binary-column operators (SURVEY §2 #36-37).

Images/audio/video ride through the engine as opaque ``binary`` columns
plus typed metadata. The decode step is STUBBED (no image/audio libs in
this environment) behind a deterministic fake, but everything Spark-side
is real and tested: schemas, Arrow batch shapes, mapInPandas plumbing,
and partition behavior — swap ``_fake_decode`` for a PIL/ffmpeg call and
nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8

FEATURE_SCHEMA = (
    "doc_id bigint, byte_len bigint, ok boolean, features array<double>"
)


def with_binary_payload(df: DataFrame, text_col: str, out_col: str = "payload") -> DataFrame:
    """Materialize an opaque binary column (here: UTF-8 bytes of the text
    carrier; in production: the image/audio blob read from object store)."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def binary_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata over a binary column — byte length, sha256 digest,
    hex magic prefix. Pure JVM expressions; no decode."""
    p = F.col(payload_col)
    return df.select(
        "*",
        F.length(p).cast("bigint").alias("byte_len"),
        F.sha2(p, 256).alias("sha256"),
        F.lower(F.hex(F.substring(p, 1, 4))).alias("magic_hex"),
    )


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for an image/audio decoder: an 8-bin byte
    histogram normalized to [0, 1]. Replace with a real decoder
    (PIL.Image.open / librosa.load) — the Spark plumbing is identical.
    """
    if not payload:
        raise NotImplementedError("real decoder required for empty payloads")
    import numpy as np

    # vectorized: a per-byte Python loop here cost 16 s at sf0.1 vs
    # DuckDB's 1.6 s — inside a Pandas UDF the per-element work must be
    # numpy too, not just the batching
    arr = np.frombuffer(payload, dtype=np.uint8)
    bins = np.bincount(arr >> 5, minlength=FEATURE_DIM)
    # Raw IEEE-double ratios (no rounding): presentation rounding happens
    # at the query layer so an engine-portable oracle can reproduce it.
    return (bins / len(payload)).tolist()


def feature_extract(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    decoder=None,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` streams Arrow record batches through Python — the
    scale-safe UDF shape (one serialization per batch, not per row).
    Output: one feature vector per payload plus a success flag, so a
    corrupt blob can't kill a 100 TB job.

    ``decoder`` is the real-decoder SEAM (VERDICT r10 next #8): a
    callable ``bytes -> list[float]`` of length FEATURE_DIM (e.g. a
    PIL/librosa featurizer) that replaces the built-in byte-histogram
    stub. A custom decoder runs on the per-row path — real decoders
    fail row-by-row in ways the vectorized batch path can't isolate —
    with exceptions per-row flagged, never fatal. Schema, batch shape,
    and determinism invariants are identical on both paths
    (tests/test_round11_ops.py pins the seam with and without an
    optional real dependency)."""
    names = [id_col, payload_col]

    def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        """Whole-batch vectorized decode: ONE buffer concat + ONE bincount
        for the entire Arrow batch. The former per-payload Python loop
        (bytes() + try/except + np.bincount per row) was the hot cost —
        4.4 s at sf0.1 vs the oracle's 1.65 s; batching the numpy work
        across rows removes the per-row interpreter overhead entirely.
        Keys: byte b of row r lands in bin r*8 + (b>>5), so a single
        bincount of length n_rows*8 yields every row's histogram."""
        import numpy as np

        # NULL payload ≡ empty: a missing blob is a decode failure
        # (ok=False, byte_len 0), not a worker crash — the robustness
        # contract that keeps one bad row from killing a 100 TB job
        payloads = [b"" if p is None else bytes(p) for p in pdf[payload_col]]
        n = len(payloads)
        lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
        ok = lens > 0  # empty payload = decode failure (see _fake_decode)
        feats = np.zeros((n, FEATURE_DIM), dtype=np.float64)
        if ok.any():
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            row_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
            counts = np.bincount(
                row_idx * FEATURE_DIM + (buf >> 5),
                minlength=n * FEATURE_DIM,
            ).reshape(n, FEATURE_DIM)
            feats[ok] = counts[ok] / lens[ok, None]
        return pd.DataFrame(
            {
                "doc_id": pdf[id_col],
                "byte_len": lens,
                "ok": ok,
                "features": feats.tolist(),
            }
        )

    def _extract_rowwise(pdf: pd.DataFrame) -> pd.DataFrame:
        """Per-row path: the injected real decoder, or the stub as a
        fallback when the batch path errors; semantics identical to the
        batch path over the fake decoder — pinned by pytest."""
        decode = decoder if decoder is not None else _fake_decode
        feats, oks = [], []
        for payload in pdf[payload_col]:
            try:
                decoded = [
                    float(x)
                    for x in decode(b"" if payload is None else bytes(payload))
                ]
                if len(decoded) != FEATURE_DIM:
                    # A wrong-arity decoder would emit ragged feature
                    # arrays flagged ok=True, breaking fixed-dimension
                    # consumers downstream — fail the row instead.
                    raise ValueError(
                        f"decoder returned {len(decoded)} features, "
                        f"expected {FEATURE_DIM}"
                    )
                feats.append(decoded)
                oks.append(True)
            except Exception:
                feats.append([0.0] * FEATURE_DIM)
                oks.append(False)
        return pd.DataFrame(
            {
                "doc_id": pdf[id_col],
                "byte_len": pdf[payload_col].map(
                    lambda p: 0 if p is None else len(p)
                ),
                "ok": oks,
                "features": feats,
            }
        )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder is not None:
                yield _extract_rowwise(pdf)
                continue
            try:
                yield _extract_batch(pdf)
            except Exception:
                yield _extract_rowwise(pdf)

    return df.select(*names).mapInPandas(extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_offset bigint, frame_len bigint, "
    "frame_sha256 string"
)


def frame_sample(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    frame_size: int = 64,
    every_kth: int = 4,
) -> DataFrame:
    """Video-style frame sampling over binary payloads: the payload is
    treated as a sequence of fixed-size frames; every ``every_kth`` frame
    is emitted as its own row (offset + digest, not the bytes — the
    downstream decode pulls bytes only for sampled frames).

    Spark shape: mapInPandas with a row-multiplying output (one input
    blob → many frame rows), the same contract a real ffmpeg keyframe
    sampler needs. Deterministic byte-chunking stands in for container
    parsing; swap the chunker for pyav and the schema/plumbing hold."""
    import hashlib

    names = [id_col, payload_col]

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, digs = [], [], [], [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                # NULL payload = no frames (same contract as extract)
                data = b"" if payload is None else bytes(payload)
                n_frames = max((len(data) + frame_size - 1) // frame_size, 0)
                for fi in range(0, n_frames, every_kth):
                    off = fi * frame_size
                    chunk = data[off : off + frame_size]
                    ids.append(rid)
                    idxs.append(fi)
                    offs.append(off)
                    lens.append(len(chunk))
                    digs.append(hashlib.sha256(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_offset": pd.Series(offs, dtype="int64"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                    "frame_sha256": pd.Series(digs, dtype="object"),
                }
            )

    return df.select(*names).mapInPandas(sample, schema=FRAME_SCHEMA)


COGROUP_SCHEMA = (
    "user_id bigint, n_left bigint, n_right bigint, "
    "mean_gap_s double, aligned_pairs bigint"
)


def cogroup_align(
    left: DataFrame, right: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """Per-key alignment of two event streams via
    ``cogroup().applyInPandas`` — the API for custom logic that needs
    BOTH sides of a key fully materialized in pandas (here: greedy
    nearest-forward matching of left events to right events, a shape no
    join expresses directly).

    Scale: both sides shuffle once on the key; each task receives one
    key's two frames as Arrow batches. State is bounded by the largest
    single key group — same envelope as any keyed window op."""

    def align(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        key = (
            lpdf[key_col].iloc[0] if len(lpdf) else rpdf[key_col].iloc[0]
        )
        lts = sorted(lpdf[ts_col]) if len(lpdf) else []
        rts = sorted(rpdf[ts_col]) if len(rpdf) else []
        gaps, ri = [], 0
        for t in lts:
            while ri < len(rts) and rts[ri] < t:
                ri += 1
            if ri < len(rts):
                gaps.append((rts[ri] - t).total_seconds())
                ri += 1
        return pd.DataFrame(
            {
                "user_id": [key],
                "n_left": [len(lts)],
                "n_right": [len(rts)],
                # +1e-9 nudge: the cross-engine rounding-tie convention
                # (the DuckDB twin rounds the identical double the same way)
                "mean_gap_s": [
                    round(sum(gaps) / len(gaps) + 1e-9, 4) if gaps else None
                ],
                "aligned_pairs": [len(gaps)],
            }
        )

    return (
        left.groupBy(key_col)
        .cogroup(right.groupBy(key_col))
        .applyInPandas(align, schema=COGROUP_SCHEMA)
    )


# --- perceptual-hash near-dup over binary payloads -------------------------


def phash64(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """64-bit average-hash fingerprint per binary payload: the payload's
    bytes are cut into 64 equal blocks and bit i is set iff block i's
    mean exceeds the payload's global mean — the aHash algorithm, run on
    the byte stream as the decode stand-in (on decoded pixels with a
    real decoder; the fingerprint/banding plumbing is identical).
    Arrow-batched pandas UDF, numpy per element — no per-byte Python."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _phash(payloads: pd.Series) -> pd.Series:
        out = []
        for payload in payloads:
            arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
            if arr.size == 0:
                out.append(0)
                continue
            # pad to a multiple of 64 with the global mean (no bit bias)
            pad = (-arr.size) % 64
            if pad:
                arr = np.concatenate([arr, np.full(pad, arr.mean())])
            blocks = arr.reshape(64, -1).mean(axis=1)
            bits = (blocks > arr.mean()).astype(np.uint64)
            h = np.uint64(0)
            for b in bits:
                h = (h << np.uint64(1)) | b
            out.append(int(h.astype(np.int64)))  # two's-complement into long
        return pd.Series(out, dtype="int64")

    return df.select(F.col(id_col).alias("id"), _phash(F.col(payload_col)).alias("fp"))


def phash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Multimodal near-dup pairs: fingerprints within ``max_hamming``
    bits. Candidate generation is the pigeonhole band join — split the
    64-bit hash into 4 × 16-bit bands; any pair within Hamming ≤ 3 MUST
    agree on at least one band (3 differing bits can dirty at most 3 of
    4 bands), so the per-band equi-join finds every true pair while
    scanning only same-band buckets, never all pairs. Exact popcount
    (bit_count of xor, JVM-side) then removes false candidates.

    The guarantee is exactness of the banding for max_hamming ≤ 3; a
    larger budget needs more/smaller bands (same trade as MinHash LSH).
    """
    assert max_hamming <= 3, "4x16 banding is exact only for hamming <= 3"
    fp = phash64(df, id_col, payload_col).localCheckpoint(eager=False)
    bands = fp.select(
        "id",
        "fp",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                "b -> struct(b as band, shiftrightunsigned(fp, b * 16) & 65535 as bkey))"
            )
        ).alias("bb"),
    ).select("id", "fp", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fa"),
            F.col("b.fp").alias("fb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
