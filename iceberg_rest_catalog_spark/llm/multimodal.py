"""Multimodal column plumbing (SURVEY §2.C q_multimodal_cols).

Images/audio/video ride as opaque ``binary`` payload columns with a typed
metadata struct next to them. This module exercises the full Spark-side
pipeline a real multimodal corpus needs:

1. construct binary payloads + typed metadata,
2. round-trip them through a partitioned parquet write/read (binary, struct
   and array columns must survive the sink),
3. run a "decode / feature-extract" stage as an Arrow-batched
   ``mapInPandas`` — the exact batch shape (iterator of pandas DataFrames)
   a real image decoder would use.

The decode step is a DETERMINISTIC FAKE (byte length, first byte, evenly
sampled frame offsets): the real image/audio libraries are not in this
container. Swap ``_fake_decode_batch`` for a real decoder without touching
any Spark plumbing — schema, partitioning and batch iteration stay as-is.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F

from ..operators.common import scratch_dir, t
from ..registry import query

_MIMES = ("image/png", "audio/wav", "video/mp4")

_DECODE_SCHEMA = (
    "doc_id long, mime string, n_bytes int, first_byte int, frame_offsets string"
)


def _fake_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for decode/resize/frame-sample.

    A real decoder would open payload bytes with PIL/ffmpeg here; the Arrow
    batch shape (columnar pandas in, columnar pandas out) is identical.
    Empty payloads decode to first_byte = -1 (the oracle mirrors the
    sentinel); first_byte is the first PAYLOAD byte — the oracle computes
    it from hex(encode(text)), so multi-byte UTF-8 first characters agree
    byte-for-byte with the decoder.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        n_bytes = payloads.map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "n_bytes": n_bytes,
                "first_byte": payloads.map(lambda b: b[0] if len(b) else -1),
                "frame_offsets": n_bytes.map(
                    lambda n: ",".join(str(i * (n // 4)) for i in range(4))
                ),
            }
        )


@query(
    "q_multimodal_cols",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/png'
                           WHEN 1 THEN 'audio/wav'
                           ELSE 'video/mp4' END          AS mime,
           octet_length(encode(text))                    AS n_bytes,
           CASE WHEN text = '' THEN -1
                ELSE ('0x' || substr(hex(encode(text)), 1, 2))::BIGINT
           END                                           AS first_byte,
           array_to_string(list_transform(generate_series(0, 3),
                           i -> i * (octet_length(encode(text)) // 4)), ',')
                                                         AS frame_offsets
    FROM documents
    WHERE text IS NOT NULL
    """,
)
def q_multimodal_cols(spark, sf_dir):
    """Binary payload + typed metadata: parquet round-trip, then an
    Arrow-batched mapInPandas decode stage. Map-only end to end — at 100 TB
    the decode parallelism equals the input partition count; no shuffle.
    NULL payloads (missing objects) are filtered before the decode stage —
    a real decoder would crash on them exactly like the fake one does."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    mm = d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.element_at(F.array(*[F.lit(m) for m in _MIMES]), (F.col("doc_id") % 3 + 1).cast("int"))
            .alias("mime"),
            F.col("n_chars").alias("n_chars"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
        F.array(F.col("n_chars"), F.col("doc_id")).alias("dims"),
    )
    # Round-trip: binary + struct + array columns must survive the sink.
    path = scratch_dir(sf_dir, "multimodal")
    mm.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).select(
        "doc_id", "payload", F.col("meta.mime").alias("mime")
    )
    return back.mapInPandas(_fake_decode_batch, schema=_DECODE_SCHEMA)


# `feature` is serialized as a comma-joined 4-decimal string rather than
# array<double>: downstream value-hash harnesses canonicalize rows with
# pandas sort_values, which cannot factorize list cells. The numeric
# vector is recovered with split(feature, ',') when needed.
_RESIZE_SCHEMA = (
    "doc_id long, width int, height int, out_w int, out_h int, feature string"
)


def _fake_resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for resize + feature extraction. A real
    implementation decodes the payload, resizes to fit 224 on the long
    side, and runs an encoder; here the geometry is integer-exact (so the
    oracle reproduces it) and the 8-dim "embedding" is a fixed function of
    the first payload byte. Arrow batch shape identical to production."""
    for pdf in batches:
        w, h = pdf["width"], pdf["height"]
        long_side = w.combine(h, max)
        scale_needed = long_side > 224
        out_w = (w * 224 // long_side).where(scale_needed, w)
        out_h = (h * 224 // long_side).where(scale_needed, h)
        fb = pdf["payload"].map(lambda b: b[0] if len(b) else 0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": w,
                "height": h,
                "out_w": out_w,
                "out_h": out_h,
                "feature": fb.map(
                    lambda x: ",".join(
                        f"{((x * 31 + i) % 97) / 97.0:.4f}" for i in range(8)
                    )
                ),
            }
        )


@query(
    "q_multimodal_resize",
    oracle="""
    SELECT doc_id,
           CAST(100 + doc_id % 1200 AS INT)       AS width,
           CAST(100 + (doc_id * 7) % 900 AS INT)  AS height,
           CAST(CASE WHEN greatest(100 + doc_id % 1200, 100 + (doc_id * 7) % 900) > 224
                THEN (100 + doc_id % 1200) * 224 // greatest(100 + doc_id % 1200, 100 + (doc_id * 7) % 900)
                ELSE 100 + doc_id % 1200 END AS INT) AS out_w,
           CAST(CASE WHEN greatest(100 + doc_id % 1200, 100 + (doc_id * 7) % 900) > 224
                THEN (100 + (doc_id * 7) % 900) * 224 // greatest(100 + doc_id % 1200, 100 + (doc_id * 7) % 900)
                ELSE 100 + (doc_id * 7) % 900 END AS INT) AS out_h,
           array_to_string(
               list_transform(range(0, 8),
                              i -> printf('%.4f',
                                   (((CASE WHEN text = '' THEN 0
                                      ELSE ('0x' || substr(hex(encode(text)), 1, 2))::BIGINT
                                      END) * 31 + i) % 97) / 97.0)),
               ',') AS feature
    FROM documents
    WHERE text IS NOT NULL
    """,
)
def q_multimodal_resize(spark, sf_dir):
    """Resize + feature-extract stage over multimodal payloads: typed
    (width, height) metadata rides next to the binary column, an
    Arrow-batched mapInPandas computes fit-to-224 output geometry
    (integer-exact, so the oracle reproduces it) and a deterministic fake
    8-dim feature vector — swap `_fake_resize_batch` for a PIL/encoder
    implementation without touching the Spark plumbing.

    Scale: mapInPandas streams Arrow batches; geometry/feature output is
    O(docs), payload bytes never shuffle (the stage is map-only). NULL
    payloads are filtered before decode, like q_multimodal_cols."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        (F.lit(100) + F.col("doc_id") % 1200).cast("int").alias("width"),
        (F.lit(100) + (F.col("doc_id") * 7) % 900).cast("int").alias("height"),
    )
    return d.mapInPandas(_fake_resize_batch, _RESIZE_SCHEMA)


N_FRAME_SLOTS = 4

_FRAME_SCHEMA = "doc_id long, slot int, frame_idx int, ts_ms long, phash string"


def _fake_frame_sample_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for video frame sampling: a real
    implementation seeks ffmpeg to each sampled timestamp and emits one
    decoded frame per slot; here frame geometry comes from the typed
    metadata and the per-frame 'perceptual hash' is a fixed function of
    (first payload byte, frame index). The ROW-MULTIPLYING shape — one
    input video row fans out to N_FRAME_SLOTS output frame rows inside the
    Python stage — is exactly production's."""
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        import numpy as np

        doc_id = np.repeat(pdf["doc_id"].to_numpy(), N_FRAME_SLOTS)
        n_frames = np.repeat(pdf["n_frames"].to_numpy(), N_FRAME_SLOTS)
        fps = np.repeat(pdf["fps"].to_numpy(), N_FRAME_SLOTS)
        fb = np.repeat(
            pdf["payload"].map(lambda b: b[0] if len(b) else 0).to_numpy(),
            N_FRAME_SLOTS,
        )
        slot = np.tile(np.arange(N_FRAME_SLOTS), n)
        frame_idx = slot * (n_frames - 1) // (N_FRAME_SLOTS - 1)
        yield pd.DataFrame(
            {
                "doc_id": doc_id,
                "slot": slot.astype("int32"),
                "frame_idx": frame_idx.astype("int32"),
                "ts_ms": frame_idx * 1000 // fps,
                "phash": [
                    f"{(int(b) * 131 + int(i) * 17) % 65536:04x}"
                    for b, i in zip(fb, frame_idx)
                ],
            }
        )


@query(
    "q_multimodal_frame_sample",
    oracle=f"""
    WITH v AS (
      SELECT doc_id,
             1 + doc_id % 300 AS n_frames,
             24 + (doc_id % 2) * 6 AS fps,
             CASE WHEN text = '' THEN 0
                  ELSE ('0x' || substr(hex(encode(text)), 1, 2))::BIGINT
             END AS fb
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, CAST(s AS INT) AS slot,
           CAST(s * (n_frames - 1) // {N_FRAME_SLOTS - 1} AS INT) AS frame_idx,
           CAST((s * (n_frames - 1) // {N_FRAME_SLOTS - 1}) * 1000 // fps
                AS BIGINT) AS ts_ms,
           printf('%04x',
                  (fb * 131
                   + (s * (n_frames - 1) // {N_FRAME_SLOTS - 1}) * 17)
                  % 65536) AS phash
    FROM v, (SELECT unnest(generate_series(0, {N_FRAME_SLOTS - 1})) AS s)
    """,
)
def q_multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling: each video row (binary payload + typed
    n_frames/fps metadata) fans out to {N_FRAME_SLOTS} uniformly-spaced
    sampled frames — slot s maps to frame s*(n_frames-1)//(slots-1), so
    short clips repeat their only frames and long clips sample evenly, the
    standard uniform temporal sampling for video training data.

    The decode is a deterministic fake (no ffmpeg in this container;
    metadata is derived from doc_id so the oracle reproduces it); the
    Spark plumbing is production-real: Arrow-batched mapInPandas whose
    OUTPUT is a multiple of its input rows — the frame-explosion stage.
    Map-only: payload bytes never shuffle, output is O(docs x slots), and
    at 100 TB the stage parallelism equals the input partition count."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        (F.lit(1) + F.col("doc_id") % 300).cast("long").alias("n_frames"),
        (F.lit(24) + (F.col("doc_id") % 2) * 6).cast("long").alias("fps"),
    )
    return d.mapInPandas(_fake_frame_sample_batch, _FRAME_SCHEMA)


N_AUDIO_WINDOWS = 4

_AUDIO_SCHEMA = "doc_id long, duration_ms long, win int, energy long, peak int"


def _audio_feature_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL windowed audio features (not a stub): the payload is treated as
    8-bit 8 kHz mono PCM and each row fans out to N_AUDIO_WINDOWS windows
    with exact per-window energy (sum of sample values) and peak — the
    numpy-over-Arrow-batch shape a real feature extractor (RMS, VAD,
    loudness) uses. Sample i belongs to window i*W//n (floor), matching
    the oracle's integer arithmetic exactly."""
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "duration_ms": [], "win": [], "energy": [], "peak": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(payload, dtype=np.uint8)
            n = b.size
            if n == 0:
                continue
            w = np.arange(n) * N_AUDIO_WINDOWS // n
            dur = n * 1000 // 8000
            for win in range(N_AUDIO_WINDOWS):
                m = b[w == win]
                if m.size == 0:
                    continue
                out["doc_id"].append(doc_id)
                out["duration_ms"].append(dur)
                out["win"].append(win)
                out["energy"].append(int(m.sum()))
                out["peak"].append(int(m.max()))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "duration_ms": pd.Series(out["duration_ms"], dtype="int64"),
                "win": pd.Series(out["win"], dtype="int32"),
                "energy": pd.Series(out["energy"], dtype="int64"),
                "peak": pd.Series(out["peak"], dtype="int32"),
            }
        )


@query(
    "q_multimodal_audio",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ),
    samples AS (
      SELECT doc_id, n,
             i * {N_AUDIO_WINDOWS} // n AS win,
             ('0x' || substr(hx, i * 2 + 1, 2))::BIGINT AS v
      FROM a, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i)
    )
    SELECT doc_id,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(win AS INT) AS win,
           CAST(sum(v) AS BIGINT) AS energy,
           CAST(max(v) AS INT) AS peak
    FROM samples GROUP BY doc_id, n, win
    """,
)
def q_multimodal_audio(spark, sf_dir):
    """Audio feature extraction over binary payloads: per-window energy +
    peak treating the payload as 8-bit 8 kHz PCM. Unlike the image/video
    stages this one is NOT stubbed — the numpy window/energy math is the
    real computation shape (swap the 8-bit interpretation for
    np.frombuffer(dtype=int16) when real WAV bytes arrive).

    Map-only mapInPandas; each doc fans out to at most {N_AUDIO_WINDOWS}
    windows, so output is O(docs), payloads never shuffle, and the oracle
    re-derives the identical windows byte-for-byte from hex(payload)."""
    d = t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    ).select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return d.mapInPandas(_audio_feature_batch, _AUDIO_SCHEMA)


def _phash_oracle() -> str:
    """DuckDB mirror of q_multimodal_phash_dedup: identical byte sampling,
    exact mean (sum/64 is a power-of-two division — bit-exact in binary),
    identical word packing and chunk/verify chain."""
    return """
    WITH p AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
      WHERE text IS NOT NULL AND octet_length(encode(text)) >= 64
    ), b AS (
      SELECT doc_id, i,
             ('0x' || substr(hx, 1 + 2 * i * (n // 64), 2))::BIGINT AS byte
      FROM p, LATERAL (SELECT unnest(generate_series(0, 63)) AS i)
    ), m AS (
      SELECT doc_id, sum(byte) / 64.0 AS mean FROM b GROUP BY doc_id
    ), ph AS (
      SELECT b.doc_id,
             CAST(sum(CASE WHEN i < 32 AND byte > mean
                           THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                  AS BIGINT) AS pa,
             CAST(sum(CASE WHEN i >= 32 AND byte > mean
                           THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END)
                  AS BIGINT) AS pb
      FROM b JOIN m USING (doc_id) GROUP BY b.doc_id
    ), chunks AS (
      SELECT doc_id, 0 AS chunk, pa & 65535 AS ch FROM ph
      UNION ALL SELECT doc_id, 1, (pa >> 16) & 65535 FROM ph
      UNION ALL SELECT doc_id, 2, pb & 65535 FROM ph
      UNION ALL SELECT doc_id, 3, (pb >> 16) & 65535 FROM ph
    ), cold AS (
      SELECT chunk, ch FROM chunks GROUP BY chunk, ch
      HAVING count(*) <= 100
    ), hot AS (
      SELECT chunk, ch FROM chunks GROUP BY chunk, ch
      HAVING count(*) > 100
    ), acct AS (
      SELECT CAST((SELECT count(*) FROM hot) AS BIGINT) AS n_hot_buckets,
             CAST((SELECT count(DISTINCT c.doc_id)
                   FROM chunks c JOIN hot USING (chunk, ch)) AS BIGINT)
               AS n_hot_docs
    ), kept AS (
      SELECT c.* FROM chunks c JOIN cold USING (chunk, ch)
    ), cand AS (
      SELECT DISTINCT ca.doc_id AS doc_a, cb.doc_id AS doc_b
      FROM kept ca JOIN kept cb USING (chunk, ch)
      WHERE ca.doc_id < cb.doc_id
    )
    SELECT doc_a, doc_b,
           bit_count(xor(pa.pa, pb.pa)) + bit_count(xor(pa.pb, pb.pb))
             AS hamming,
           acct.n_hot_buckets, acct.n_hot_docs
    FROM cand
    JOIN ph pa ON pa.doc_id = doc_a
    JOIN ph pb ON pb.doc_id = doc_b
    CROSS JOIN acct
    WHERE bit_count(xor(pa.pa, pb.pa)) + bit_count(xor(pa.pb, pb.pb)) <= 3
    """


def _phash_words(d):
    """(doc_id, pa, pb): the 64-bit average hash of each row's payload as
    two 32-bit words.  ``d`` carries ``doc_id``, the payload as hex ``hx``
    and its byte length ``n`` (>= 64).  Bit i is set when sampled byte i
    is strictly greater than the mean of the 64 samples."""
    # Three stacked projections — map-only, no explode, no window, no
    # shuffle.  Nested higher-order lambdas would re-inline the byte
    # sampler; the staging avoids that without extra rows: `bytes` and
    # `mean` are ALIASES referenced many times by the next projection, and
    # CollapseProject refuses to merge projections when it would duplicate
    # a non-cheap alias — so each value is computed once per row inside
    # one WholeStageCodegen span.  The word packing is 64 unrolled CASE
    # terms (plain expressions, not a lambda).  mean = fold-sum / 64.0 is
    # the oracle's sum(byte)/64.0 exactly (integer sum, power-of-two
    # division).
    b = d.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 63), i -> "
            "CAST(conv(substring(hx, 1 + 2 * i * CAST(n / 64 AS INT), 2), "
            "16, 10) AS BIGINT))"
        ).alias("bytes"),
    )
    m = b.select(
        "doc_id",
        "bytes",
        (
            F.expr("aggregate(bytes, 0L, (acc, x) -> acc + x)") / F.lit(64.0)
        ).alias("mean"),
    )
    bit = lambda i: F.when(  # noqa: E731
        F.col("bytes")[i] > F.col("mean"), F.lit(1 << (i % 32)).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    pa = bit(0)
    for i in range(1, 32):
        pa = pa + bit(i)
    pb = bit(32)
    for i in range(33, 64):
        pb = pb + bit(i)
    return m.select("doc_id", pa.alias("pa"), pb.alias("pb"))


@query("q_multimodal_phash_dedup", oracle=_phash_oracle())
def q_multimodal_phash_dedup(spark, sf_dir):
    """Perceptual-hash near-dup pairs over BINARY payloads: a 64-bit
    average-hash (64 evenly-strided payload bytes thresholded against
    their exact mean — the aHash recipe applied to raw bytes; a real
    image pipeline swaps the byte sampler for decoded-pixel sampling
    without touching anything downstream), 16-bit chunk blocking
    (pigeonhole: hamming<=3 pairs MUST share a chunk), bit_count(xor)
    verify — near-dup DETECTION for the modality exact md5 can't serve
    (two re-encodes of one image differ in bytes but not in structure;
    here, near-dup payloads differ in a few sampled bytes).

    Scale shape: the hash is ONE map-side expression chain over the
    payload (hex slice + integer fold — no explode, no shuffle; payload
    bytes never leave the scan); candidates come from the 4-way chunk
    equi-join exactly like q_dedup_simhash (never all-pairs); verify is
    O(candidates). The mean is sum/64 — a power-of-two division, so the
    threshold compares bit-exact doubles on both engines. Payloads
    shorter than 64 bytes are excluded (stride 0 would resample byte 0;
    a production caller pads or whole-hashes the sub-64 tail)."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.hex(F.encode("text", "utf-8")).alias("hx"))
        .withColumn("n", (F.length("hx") / 2).cast("int"))
        .filter(F.col("n") >= 64)
    )
    ph = _phash_words(d)
    # The four 16-bit chunk memberships as ONE posexplode (4 rows per doc)
    # instead of a 4-arm unionAll that re-derived the hash per arm, behind
    # ONE tiny Exchange keyed by (chunk, ch): chunks is referenced three
    # times downstream (bucket counts, hot accounting, kept) and without a
    # shuffle boundary each reference RE-COMPUTES the whole hash subtree
    # (measured 28 duplicated scan+hash copies in the plan); partitioning
    # by the downstream group/join key lets the bucket-count aggregate run
    # exchange-free.  ~32 bytes a row — strictly cheaper than the
    # 64x|docs| explode shuffle the old window plan paid.
    chunks = ph.select(
        "doc_id",
        "pa",
        "pb",
        F.posexplode(
            F.array(
                F.col("pa").bitwiseAND(65535),
                F.shiftright("pa", 16).bitwiseAND(65535),
                F.col("pb").bitwiseAND(65535),
                F.shiftright("pb", 16).bitwiseAND(65535),
            )
        ).alias("chunk", "ch"),
    ).repartition("chunk", "ch")
    # FREQUENT-BUCKET SUPPRESSION (cap 100, the standard LSH hot-bucket
    # gate): average-hash bits over a stylistically uniform corpus are
    # highly correlated, so a few chunk values collect a corpus-fraction
    # of docs and the blocking join degenerates quadratically (measured:
    # candidate pairs 833 -> 64.7k -> 4.5M for 500 -> 5k -> 50k docs,
    # max bucket 14 -> 85 -> 677 — SCALE.md round 8). A bucket past the
    # cap signals degenerate hash bits, not near-duplicates; suppressing
    # it bounds candidates at O(|buckets| x cap^2) with a measured,
    # report-able recall trade. The cap does not bind at the oracle
    # gate's sf0.01 (max bucket 14) — the value-hash covers the capped
    # plan on both engines either way, since the oracle applies the
    # identical HAVING.
    bn = chunks.groupBy("chunk", "ch").agg(F.count("*").alias("bn"))
    cold = bn.filter(F.col("bn") <= 100).select("chunk", "ch")
    # NO SILENT CAPS: surface the suppression in the output itself —
    # n_hot_buckets (chunk values past the cap) and n_hot_docs (distinct
    # docs that lost at least one chunk membership; they remain candidates
    # via their other, colder chunks).  Both are 1-row aggregates that
    # broadcast onto every emitted pair, so a consumer sees the recall
    # trade without reading SCALE.md.  0 at the oracle gate's sf0.01
    # (max bucket 14); 677-doc-scale at x10 (SCALE.md round 8).
    hot = bn.filter(F.col("bn") > 100).select("chunk", "ch")
    acct = (
        hot.agg(F.count("*").cast("bigint").alias("n_hot_buckets"))
        .crossJoin(
            chunks.join(hot, ["chunk", "ch"])
            .select("doc_id")
            .distinct()
            .agg(F.count("*").cast("bigint").alias("n_hot_docs"))
        )
    )
    kept = chunks.join(cold, ["chunk", "ch"])
    hamming = F.bit_count(
        F.col("a.pa").bitwiseXOR(F.col("b.pa"))
    ) + F.bit_count(F.col("a.pb").bitwiseXOR(F.col("b.pb")))
    return (
        kept.alias("a")
        .join(kept.alias("b"), ["chunk", "ch"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
        .crossJoin(F.broadcast(acct))
    )


@query(
    "q_multimodal_bytes_audit",
    oracle="""
    WITH ingest AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
    ),
    a AS (
      SELECT CASE doc_id % 3 WHEN 0 THEN 'image/png'
                             WHEN 1 THEN 'audio/wav'
                             ELSE 'video/mp4' END AS mime,
             md5(text) AS h,
             octet_length(encode(text)) AS nb
      FROM ingest
    ),
    fam AS (
      SELECT mime, h, count(*) AS n, max(nb) AS nb
      FROM a GROUP BY mime, h
    )
    SELECT mime,
           CAST(sum(n) AS BIGINT) AS n_assets,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(n) - count(*) AS BIGINT) AS dup_assets,
           CAST(sum((n - 1) * nb) AS BIGINT) AS wasted_bytes,
           CAST(max(n) AS BIGINT) AS max_family
    FROM fam GROUP BY mime ORDER BY mime
    """,
)
def q_multimodal_bytes_audit(spark, sf_dir):
    """Byte-level ASSET audit over the opaque binary payload column:
    per mime type, exact-duplicate families by payload md5 — asset
    count, distinct count, duplicated assets, WASTED BYTES (payload
    bytes beyond each family's first copy — the dedup savings a content-
    addressed store would reclaim), and the largest family.  The
    storage-ops twin of q_dedup_exact (text) and q_multimodal_phash_dedup
    (perceptual): byte identity is the cheapest dedup tier and runs
    BEFORE any decode.

    Scale shape: hash and length are computed MAP-SIDE from the payload
    (the bytes themselves never shuffle — the multimodal family
    discipline); one (mime, hash) count shuffle over 16-byte keys, then
    a |mime|-row rollup.  At 100 TB of video this plan moves kilobytes.

    Payloads are the fixture's deterministic encode(text) bytes with the
    q_multimodal_cols mime assignment; the ingest stream re-uploads the
    doc_id %% 7 slice (the same file arriving twice — the duplication
    byte-identity actually catches in production), so the DuckDB oracle
    reproduces the exact hash families from the text column and the
    report is non-degenerate.

    Reference scope: no content-addressing in the reference facade
    (api/router/router.go:9-55); the audit a catalog's
    content-addressed FileIO (catalog/fileio.py) would run at ingest."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    ingest = d.unionByName(d.filter(F.col("doc_id") % 7 == 0))
    a = ingest.select(
        F.element_at(
            F.array(*[F.lit(m) for m in _MIMES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("mime"),
        F.md5(F.encode("text", "UTF-8")).alias("h"),
        F.length(F.encode("text", "UTF-8")).alias("nb"),
    )
    fam = a.groupBy("mime", "h").agg(
        F.count("*").alias("n"), F.max("nb").alias("nb_max")
    )
    return (
        fam.groupBy("mime")
        .agg(
            F.sum("n").cast("long").alias("n_assets"),
            F.count("*").cast("long").alias("n_distinct"),
            (F.sum("n") - F.count("*")).cast("long").alias("dup_assets"),
            F.sum((F.col("n") - 1) * F.col("nb_max")).cast("long").alias("wasted_bytes"),
            F.max("n").cast("long").alias("max_family"),
        )
        .orderBy("mime")
    )


RETRIEVAL_K = 10  # recall@k cut — the standard CLIP-eval report point
CAP_DIM = 64      # caption-embedding dim == the image-embedding dim

_RETRIEVAL_ORACLE = f"""
WITH ctok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents WHERE text IS NOT NULL
),
csp AS (
  SELECT doc_id,
         ('0x' || substr(md5(w), 1, 11))::BIGINT % {CAP_DIM} AS idx,
         sum(CASE WHEN ('0x' || substr(md5(w), 12, 1))::INT % 2 = 0
                  THEN 1 ELSE -1 END) AS v
  FROM ctok GROUP BY doc_id, idx
),
dims AS (SELECT unnest(range(0, {CAP_DIM})) AS dim),
capv AS (
  SELECT i.doc_id,
         list(CAST(coalesce(s.v, 0) AS DOUBLE) ORDER BY dm.dim) AS cemb
  FROM (SELECT DISTINCT doc_id FROM csp) i
  CROSS JOIN dims dm
  LEFT JOIN csp s ON s.doc_id = i.doc_id AND s.idx = dm.dim
  GROUP BY i.doc_id
),
capnz AS (
  SELECT doc_id, cemb FROM capv
  WHERE list_sum(list_transform(cemb, x -> x * x)) > 0
),
img AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS iemb
  FROM embeddings WHERE embedding IS NOT NULL
),
pairs AS (
  SELECT c.doc_id AS id, c.cemb, i.iemb
  FROM capnz c JOIN img i ON i.vec_id = c.doc_id
),
qs AS (SELECT GREATEST(25, (count(*) + 399) // 400) AS qstep FROM pairs),
t2i AS (
  SELECT q.id AS qid, t.id AS tid,
         round(list_cosine_similarity(q.cemb, t.iemb), 4) AS cos
  FROM pairs q CROSS JOIN pairs t CROSS JOIN qs
  WHERE q.id % qs.qstep = 0
),
i2t AS (
  SELECT q.id AS qid, t.id AS tid,
         round(list_cosine_similarity(q.iemb, t.cemb), 4) AS cos
  FROM pairs q CROSS JOIN pairs t CROSS JOIN qs
  WHERE q.id % qs.qstep = 0
),
rt AS (
  SELECT qid, tid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, tid) AS rk
  FROM t2i
),
ri AS (
  SELECT qid, tid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, tid) AS rk
  FROM i2t
),
ht AS (
  SELECT count(DISTINCT qid) AS nq,
         count(CASE WHEN tid = qid THEN 1 END) AS hits
  FROM rt WHERE rk <= {RETRIEVAL_K}
),
hi AS (
  SELECT count(DISTINCT qid) AS nq,
         count(CASE WHEN tid = qid THEN 1 END) AS hits
  FROM ri WHERE rk <= {RETRIEVAL_K}
)
SELECT 'image->text' AS direction, {RETRIEVAL_K} AS k,
       CAST(nq AS BIGINT) AS n_queries, CAST(hits AS BIGINT) AS n_hits,
       CAST((hits * 20000 + nq) // (2 * nq) AS DOUBLE) / 10000 AS recall
FROM hi
UNION ALL
SELECT 'text->image', {RETRIEVAL_K}, CAST(nq AS BIGINT), CAST(hits AS BIGINT),
       CAST((hits * 20000 + nq) // (2 * nq) AS DOUBLE) / 10000
FROM ht
ORDER BY direction
"""


@query("q_multimodal_retrieval_eval", oracle=_RETRIEVAL_ORACLE)
def q_multimodal_retrieval_eval(spark, sf_dir):
    """Cross-modal retrieval eval (the CLIP-eval measurement, VERDICT r13
    item 6): caption embeddings vs image embeddings in BOTH directions —
    for each probe query, rank the other modality's full paired corpus by
    exact rounded cosine and report recall@{RETRIEVAL_K} of the
    ground-truth partner (doc_id == vec_id is the caption<->image pairing,
    q_caption_pairs' fixture convention).  This is the number a
    multimodal curation pipeline trusts its paired data by: low
    text->image recall means captions don't describe their images (or the
    encoders are misaligned) long before any training run shows it.

    Caption encoder: the deterministic signed hashing-trick featurizer
    (q_text_hashing_features' portable-md5 convention, signed variant)
    into the SAME {CAP_DIM}-dim space as the image embeddings — the
    container ships no real text encoder (the q_multimodal_cols stub
    discipline: the measurement plumbing is real, the encoder is
    swappable).  Zero-norm captions (sign-cancelled) are excluded from
    the eval set on both engines.

    Scale shape (q_sim_recall_eval's plan): the probe batch is pinned at
    ~RECALL_TARGET_PROBES queries by the recall_qstep_for stride — a
    recall CI depends on batch SIZE, not fraction — and each direction is
    ONE corpus scan with the probe batch BROADCAST against it (a bounded-
    build-side BNLJ, never corpus x corpus); the pair frame materializes
    once (localCheckpoint) and feeds all four roles (probe/corpus x two
    directions).  Ranking is on the 4dp-rounded cosine with partner-id
    tiebreak, so top-{RETRIEVAL_K} membership is bit-stable across
    engines; recall uses the pure-long half-up form (hits/n_queries lands
    on exact 4-dp midpoints for round batch sizes).

    Reference scope: no eval surface in the reference facade
    (api/router/router.go:9-55); composes q_caption_pairs' pairing with
    q_sim_recall_eval's probe-batch audit discipline."""
    from pyspark.sql import Window as W

    from ..operators.common import r4
    from .similarity import _dbl, recall_qstep_for

    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sp = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("w"), 1, 11), 16, 10).cast("long")
                % CAP_DIM
            ).alias("idx"),
            F.when(
                F.conv(F.substring(F.md5("w"), 12, 1), 16, 10).cast("int") % 2
                == 0,
                1,
            )
            .otherwise(-1)
            .alias("sgn"),
        )
        .groupBy("doc_id", "idx")
        .agg(F.sum("sgn").alias("v"))
    )
    capv = (
        sp.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("idx"), F.col("v")))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, {CAP_DIM - 1}),"
                " d -> CAST(coalesce(m[d], 0) AS DOUBLE))"
            ).alias("cemb"),
        )
        .filter(
            F.expr(
                "aggregate(transform(cemb, x -> x * x),"
                " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            )
            > 0
        )
    )
    img = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", _dbl("embedding").alias("iemb"))
    )
    # the eval-pair frame materializes ONCE and feeds probe + corpus in
    # both directions (4 consumers).  Vectors are PRE-NORMALIZED to unit
    # length here — once per row, not once per pair — so the pair-scoring
    # hot path is ONE JVM fold (dot) instead of three (dot + both norms
    # re-derived per pair).  Measured r14: the Arrow _dot_pd variant was
    # tried and REVERTED — at 64 dims the per-pair Arrow transfer of two
    # vectors costs more than the interpreted fold saves (x10 wall 23.6
    # -> 36.0 s); the matryoshka 5-10x claim holds for its two-dots-per-
    # pair shape, not this one-dot shape.
    from .similarity import _norm

    def _unit(col):
        n = _norm(F.col(col))
        return F.transform(F.col(col), lambda x: x / n)

    pairs = (
        capv.join(img, capv.doc_id == img.vec_id)
        .select(
            F.col("doc_id").alias("id"),
            _unit("cemb").alias("cemb"),
            _unit("iemb").alias("iemb"),
        )
        .localCheckpoint()
    )
    qstep = recall_qstep_for(pairs.count())
    probes = pairs.filter(F.col("id") % qstep == 0)

    # r17 note: a combined both-directions-in-one-pass form (one BNLJ, one
    # qid Exchange, two Window nodes, one aggregate) was built, verified
    # against the oracle at all three SFs — and REVERTED: it measured
    # 3.9 -> 4.8 s because the per-direction rk<=K filter right after
    # row_number() is what lets Spark push a WindowGroupLimit (top-K per
    # partition before the full sort); the fused form ranks the whole
    # candidate frame twice with no group limit.
    def _direction(qcol: str, tcol: str, name: str):
        from .similarity import _dot

        q = probes.select(F.col("id").alias("qid"), F.col(qcol).alias("qv"))
        c = pairs.select(F.col("id").alias("tid"), F.col(tcol).alias("tv"))
        w = W.partitionBy("qid").orderBy(F.desc("cos"), "tid")
        ranked = (
            c.join(F.broadcast(q))  # bounded probe batch x one corpus scan
            .withColumn("cos", r4(_dot(F.col("qv"), F.col("tv"))))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= RETRIEVAL_K)
        )
        return ranked.agg(
            F.lit(name).alias("direction"),
            F.lit(RETRIEVAL_K).alias("k"),
            F.countDistinct("qid").cast("long").alias("n_queries"),
            F.sum(F.when(F.col("tid") == F.col("qid"), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )

    return (
        _direction("cemb", "iemb", "text->image")
        .unionByName(_direction("iemb", "cemb", "image->text"))
        .select(
            "direction",
            "k",
            "n_queries",
            "n_hits",
            (
                F.expr("(n_hits * 20000 + n_queries) DIV (2 * n_queries)")
                .cast("double")
                / 10000
            ).alias("recall"),
        )
        .orderBy("direction")
    )
