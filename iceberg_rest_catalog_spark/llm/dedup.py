"""Deduplication operators over ``documents`` / ``embeddings`` (SURVEY §2.C).

Five strategies, each shaped for 100 TB:

- exact:      hash-groupBy (one shuffle, map-side combine)
- MinHash LSH: banded signatures + groupBy(band) bucket join — candidate
              pairs come from bucket co-membership, NEVER an all-pairs join.
              Signatures use an md5-derived multiply-mod-prime family (one
              digest per shingle -> 44-bit w -> h_i = (c_i*w + d_i) mod P)
              so DuckDB reproduces them exactly: every dedup operator here,
              including the LSH and SimHash ones, is value-checked, not
              rows-only.
- SimHash:    64-bit signature per doc (map-only), 16-bit chunk blocking
              (pigeonhole: hamming<=3 pairs share a chunk), bit_count verify
- n-gram Jaccard: inverted-index self-join on shingles with a frequent-
              shingle cap (df cap bounds bucket size, the classic skew guard)
- embedding:  cosine near-dup inside label blocks via anti-join; on
              unlabeled corpora the block key becomes an SRP-LSH bucket
              (sign bits of dot(v, fixed hyperplanes)) — same plan shape.

The fixture corpus contains planted near-duplicate documents (max trigram
Jaccard 0.989), so fuzzy/minhash/simhash produce non-empty, verifiable
output on the raw tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.common import fixpoint, r4, scratch_dir, t
from ..registry import query

N_HASHES = 16
N_BANDS = 4  # r = 4 rows/band: P(candidate) = 1-(1-j^4)^4; j=0.99 -> ~1.0
SHINGLE_DF_CAP = 50  # drop shingles occurring in more docs (skew guard)

# Multiply-mod-prime universal family for the minhashes: ONE md5 per
# shingle yields a 44-bit word w (11 hex chars); minhash i minimizes
# h_i = (c_i * w + d_i) mod P.  The modular wraparound makes the 16
# minimizers independent — monotone families (h_i = a + i*b, or positive
# linear mixes of digest words) share one "small" minimizing shingle across
# every i, inflating signature agreement: measured 135 and 53 pairs at
# est>=0.5 vs the true 25 at sf0.01; this family gives exactly 25, all with
# exact Jaccard >= 0.5.  Bounds: c < 2^18, w < 2^44 keeps c*w + d < 2^63,
# inside BIGINT for DuckDB, whose integer arithmetic errors on overflow.
# Engine-portable by construction: md5 + hex-parse + % run identically in
# DuckDB, so every LSH-derived operator below is value-checked, not
# rows-only.
_P = 17592186044423  # smallest prime > 2^44
_PARAMS = (
    (259786, 610682961596),
    (140043, 117908811856),
    (35550, 237085159523),
    (171746, 412099847596),
    (261632, 687126221315),
    (30843, 440442314551),
    (207098, 812210612251),
    (214699, 879133394334),
    (64381, 678780765557),
    (240870, 341212806774),
    (186823, 914705967827),
    (81128, 783624745471),
    (244796, 808047940193),
    (238022, 1060538500821),
    (37546, 987134627340),
    (186112, 107004884168),
)


def _shingles(d, n=3, dedup=True):
    """Word n-gram shingles per doc: (doc_id, sh). Computed with
    higher-order functions + one explode; no Python.

    ``dedup``: True gives global set semantics via .distinct() — a full
    shuffle, only acceptable when a shuffle on (doc_id, sh) follows anyway
    (exact Jaccard). "doc" gives per-document set semantics MAP-SIDE
    (array_distinct before the explode — no shuffle), which is the right
    distinct for per-doc gram joins at corpus scale. False keeps the raw
    multiset (minhash signatures are identical either way).

    FAN-OUT PARALLELISM: Spark sizes input splits by SCAN bytes, but this
    stage fans each doc out ~|tokens| shingle rows and pays an md5 per
    row — on a corpus that arrives in fewer splits than cores (one small
    parquet file at bench scale; the tail of any file listing at cluster
    scale) the entire token-volume-bound pipeline serializes onto those
    few tasks. Round-8 profiling showed the whole LSH family bottlenecked
    on ONE task this way (~1.7 s of a 2.5 s signature build). When the
    incoming partition count is below the session's shuffle parallelism,
    hash-repartition by doc_id first: one small shuffle of the raw docs
    buys full-width execution of the expensive fan-out + hash stage.
    When the input already has enough splits (any real 100 TB scan), this
    is a no-op — no extra shuffle (operators/common.py widen)."""
    from ..operators.common import widen

    d = widen(d, "doc_id")
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    if dedup == "doc":
        return d.select("doc_id", F.explode(F.array_distinct(grams)).alias("sh"))
    out = d.select("doc_id", F.explode(grams).alias("sh"))
    return out.distinct() if dedup else out


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS h, min(doc_id) AS kept_doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: keep the lowest doc_id per md5(text).
    One hash aggregate — the cheapest dedup there is at any scale."""
    d = t(spark, sf_dir, "documents")
    return (
        d.withColumn("h", F.md5("text"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
    )


def _minhash_pairs(spark, sf_dir, threshold=0.5):
    """Near-dup pairs via MinHash + banded LSH over word-3-gram shingles.

    Pipeline (all shuffle-parallel): shingle explode -> 16 minhashes per doc
    (one hash aggregate) -> 4 band keys -> groupBy(band) bucket self-join
    for candidates -> signature-agreement Jaccard estimate -> threshold.
    Candidate generation cost is bounded by bucket sizes, not n^2; skewed
    buckets are split by AQE skew-join handling.

    Hash family: ONE md5 per shingle yields a 44-bit word; minhash i
    minimizes the multiply-mod-prime h_i = (c_i*w + d_i) mod P (see _PARAMS
    note). Engine-portable (md5 + hex-parse + integer arithmetic run
    identically in DuckDB), so the signatures — and therefore est_jaccard —
    are value-checked by the oracle, not rows-only. It is also CHEAPER than
    the previous 16x xxhash64(sh, seed) per shingle: one digest, 16 cheap
    multiply-mod chains.

    Design note (measured): a map-only alternative — 16x
    array_min(transform(grams, hash)) with no explode — is 12x SLOWER
    (19.9s vs 1.6s at sf0.1) because higher-order functions are interpreted
    and re-evaluate the gram array per hash, while explode + min()
    stays inside whole-stage codegen. The extra shuffle is the cheap part.
    """
    # NULL-text docs are excluded by contract (a null document has no
    # content to near-duplicate). Without the explicit filter the engines
    # diverge: Spark's size(NULL) = -1 + never-null concat_ws give every
    # NULL doc an ''-shingle signature (so they all pair up at est 1.0)
    # while SQL NULL propagation silently drops them.
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bands = _signature_bands(d)
    return _candidate_pairs(
        bands, bands, threshold, pair_filter=F.col("doc_a") < F.col("doc_b")
    ).distinct()


def _candidate_pairs(a_bands, b_bands, threshold, pair_filter=None):
    """Join two banded signature frames on the band bucket and score every
    candidate pair by signature agreement — the single definition of the
    LSH candidate/score convention, shared by the symmetric self-join
    (:func:`_minhash_pairs`) and the asymmetric batch->corpus join
    (:func:`q_dedup_incremental`) so the two tiers cannot drift apart.

    Returns (doc_a, doc_b, est_jaccard) with est >= threshold; pairs
    sharing several bands appear once per shared band (callers .distinct()
    when pair-set semantics are needed). ``pair_filter`` prunes the join
    output before scoring (e.g. doc_a < doc_b for the self-join)."""
    a = a_bands.select(
        "band", "bh", F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")
    )
    b = b_bands.select(
        "band", "bh", F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")
    )
    j = a.join(b, ["band", "bh"])
    if pair_filter is not None:
        j = j.filter(pair_filter)
    agree = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m)
    )
    return j.select(
        "doc_a",
        "doc_b",
        r4(agree / F.lit(float(N_HASHES))).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= threshold)


def _signatures(d):
    """(doc_id, h0..h15) — one MinHash signature row per doc; the
    materialized form of the LSH index (see :func:`q_dedup_index`)."""
    # No .distinct() before the signature aggregate: min(hash) over the
    # shingle MULTISET equals min over the set, so deduplicating first would
    # only add a full extra shuffle for an identical signature.
    sh = _shingles(d, dedup=False)
    hx = sh.select(
        "doc_id",
        F.conv(F.substring(F.md5("sh"), 1, 11), 16, 10).cast("long").alias("w"),
    )
    return hx.groupBy("doc_id").agg(
        *[
            F.min((F.lit(c) * F.col("w") + F.lit(d)) % F.lit(_P)).alias(f"h{i}")
            for i, (c, d) in enumerate(_PARAMS)
        ]
    )


def _signature_bands(d):
    """(doc_id, sig: array<long>[16], band, bh) — the shared MinHash
    signature + banded-LSH explode used by every LSH dedup operator
    (symmetric self-join in :func:`_minhash_pairs`, asymmetric batch->corpus
    join in :func:`q_dedup_incremental`). One scan, one shuffle."""
    return _explode_bands(_signatures(d))


def _explode_bands(sig):
    """Band-explode a signature frame (doc_id, h0..h15) into
    (doc_id, sig array, band, bh struct) — map-only."""
    r = N_HASHES // N_BANDS
    # Carry the full signature array through the band explode: the bucket
    # self-join then yields candidate pairs AND both signatures in ONE
    # shuffle — the corpus is scanned/minhashed exactly once (the naive
    # cand-join-sig-join-sig shape recomputes the signature pipeline 3x).
    # The bucket key is the band's raw 4-value struct (not a hash of it):
    # struct equality joins exactly the oracle's candidate set, and 4 longs
    # of shuffle key is noise next to the carried signature array.
    bands = sig.select(
        "doc_id",
        F.array(*[F.col(f"h{i}") for i in range(N_HASHES)]).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.struct(
                            *[
                                F.col(f"h{j * r + i}").alias(f"v{i + 1}")
                                for i in range(r)
                            ]
                        ).alias("bh"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sig", "b.band", "b.bh")
    return bands


def _lsh_ctes(cand_where: str = "ba.doc_id < bb.doc_id") -> str:
    """The shared DuckDB CTE chain mirroring _minhash_pairs' candidate
    stage: shingles -> md5-derived word w -> 16 multiply-mod-prime
    minhashes h_i = min((c_i*w + d_i) mod P) over per-hash constants
    (c_i, d_i) from _PARAMS -> 4 bands -> band-sharing candidate pairs
    (NOT the monotone a + i*b family, which _PARAMS rejects as biased:
    it preserves ordering between docs, so all 16 minima tend to agree
    or disagree together). Every LSH-based oracle below
    (fuzzy, cluster, fuzzy_verified, containment, cluster_verified) builds
    on this so the candidate SET is identical on both engines by
    construction — correctness never rides on probabilistic LSH recall."""
    h_cols = ",\n             ".join(
        f"min(({c} * w + {d}) % {_P}) AS h{i}"
        for i, (c, d) in enumerate(_PARAMS)
    )
    r = N_HASHES // N_BANDS
    bands_union = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {j} AS band, {vs} FROM sig".format(
            j=j,
            vs=", ".join(f"h{j * r + i} AS v{i + 1}" for i in range(r)),
        )
        for j in range(N_BANDS)
    )
    return f"""sh AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ') AS s
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
                      1, greatest(len(string_split(text, ' ')) - 2, 1))) AS i)
      WHERE text IS NOT NULL
    ), hx AS (
      SELECT doc_id,
             ('0x' || substr(md5(s), 1, 11))::BIGINT AS w
      FROM sh
    ), sig AS (
      SELECT doc_id,
             {h_cols}
      FROM hx GROUP BY doc_id
    ), bands AS (
      {bands_union}
    ), cand AS (
      SELECT DISTINCT ba.doc_id AS doc_a, bb.doc_id AS doc_b
      FROM bands ba JOIN bands bb
        USING (band, {", ".join(f"v{i + 1}" for i in range(r))})
      WHERE {cand_where}
    )"""


# per-doc distinct trigram sets — the exact-verify side of the oracles.
# Docs with no trigrams (< 3 tokens, incl. empty) are excluded: they cannot
# near-duplicate at trigram granularity, and keeping them makes the Jaccard
# / containment denominators zero (all empty docs share one minhash
# signature, so they ALWAYS pair up in the candidate stage).
_TRIGRAM_CTE = """g AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
      WHERE len(sh) > 0
    )"""


def _minhash_oracle(threshold: float) -> str:
    """DuckDB mirror of _minhash_pairs: candidates from _lsh_ctes, ranked
    by signature agreement."""
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    return f"""
    WITH {_lsh_ctes()}
    SELECT doc_a, doc_b, round(({agree}) / 16.0, 4) AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    WHERE ({agree}) / 16.0 >= {threshold}
    """


@query("q_dedup_fuzzy", oracle=_minhash_oracle(0.5))
def q_dedup_fuzzy(spark, sf_dir):
    """Near-dup pairs via MinHash + banded LSH (see _minhash_pairs). The
    md5-derived signature family is engine-portable, so the oracle rebuilds
    the identical signatures and bands in SQL — a full value check of the
    LSH pipeline, upgraded from the rows-only check the old xxhash64
    signatures allowed."""
    return _minhash_pairs(spark, sf_dir)


def _incremental_oracle(threshold: float = 0.5) -> str:
    """DuckDB mirror of q_dedup_incremental: identical signatures, but the
    candidate join is ASYMMETRIC (batch side doc_id % 5 = 0 vs corpus side
    doc_id % 5 <> 0), plus the exact-md5 tier and the per-batch-doc
    verdict join."""
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    ctes = _lsh_ctes(cand_where="ba.doc_id % 5 = 0 AND bb.doc_id % 5 <> 0")
    return f"""
    WITH {ctes},
    near AS (
      SELECT doc_a AS doc_id, count(DISTINCT doc_b) AS n_near
      FROM cand
      JOIN sig sa ON sa.doc_id = doc_a
      JOIN sig sb ON sb.doc_id = doc_b
      WHERE ({agree}) / 16.0 >= {threshold}
      GROUP BY doc_a
    ),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents
      WHERE text IS NOT NULL AND doc_id % 5 = 0
    ),
    corpus_h AS (
      SELECT DISTINCT md5(text) AS h FROM documents
      WHERE text IS NOT NULL AND doc_id % 5 <> 0
    )
    SELECT b.doc_id,
           CAST(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS exact_dup,
           CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near,
           CAST(CASE WHEN c.h IS NULL AND COALESCE(n.n_near, 0) = 0
                THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM batch b
    LEFT JOIN corpus_h c USING (h)
    LEFT JOIN near n ON n.doc_id = b.doc_id
    """


@query("q_dedup_incremental", oracle=_incremental_oracle())
def q_dedup_incremental(spark, sf_dir):
    """Incremental (delta-vs-corpus) dedup: admit a NEW batch of documents
    against an EXISTING corpus — the shape production pipelines actually
    run at 100 TB, where the corpus is never re-deduplicated; only the
    day's delta is checked against it. Batch membership is deterministic
    here (doc_id % 5 == 0, ~20% of docs) so both engines split identically.

    Two tiers, mirroring a real ingest gate:

    - EXACT: md5(text) left-join against the corpus's distinct hash set —
      at scale this is the materialized content-hash index (or a bloom
      filter pushed to the scan); the join key is a 128-bit hash, so the
      shuffle carries no text.
    - NEAR: the same banded MinHash-LSH signatures as q_dedup_fuzzy
      (:func:`_signature_bands`, localCheckpointed so the token-volume-
      bound shingle/minhash pipeline materializes ONCE and both join
      sides read the checkpoint — without it Spark cannot reuse the
      exchange across the two differently-filtered sides and runs the
      pipeline twice), but the bucket join is ASYMMETRIC batch->corpus:
      candidates are
      bounded by bucket co-membership exactly as in the self-join case,
      and the output is per-batch-doc, never per-pair. At scale the
      corpus side of this join is a MATERIALIZED signature index (write
      it once, partitioned/bucketed by the band struct); the daily cost
      is then |delta| signatures + one bucket join, not a corpus
      re-scan — this function computes both sides from the raw table
      only because the fixture ships no precomputed index.

    Returns one row per non-null-text batch doc: (doc_id, exact_dup 0/1,
    n_near = distinct corpus near-dups at est_jaccard >= 0.5, kept 0/1).
    kept = no exact copy AND no near-dup — the admitted set."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    is_batch = (F.col("doc_id") % 5) == 0

    bands = _signature_bands(d).localCheckpoint()
    near = (
        _candidate_pairs(bands.filter(is_batch), bands.filter(~is_batch), 0.5)
        .select("doc_a", "doc_b")
        .distinct()  # a pair sharing several bands counts once
        .groupBy("doc_a")
        .agg(F.count("*").alias("n_near"))
        .withColumnRenamed("doc_a", "doc_id")
    )

    batch = d.filter(is_batch).select("doc_id", F.md5("text").alias("h"))
    corpus_h = (
        d.filter(~is_batch).select(F.md5("text").alias("h")).distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    return _ingest_verdict(batch, corpus_h, near)


def _ingest_verdict(batch_hashed, corpus_h, near):
    """(doc_id, exact_dup, n_near, kept) — the admission verdict join,
    shared by the batch incremental gate (:func:`q_dedup_incremental`)
    and the streaming ingest gate (streaming/queries.py). ``batch_hashed``
    is (doc_id, h=md5(text)); ``corpus_h`` is the corpus's distinct hash
    set flagged with in_corpus=1; ``near`` is (doc_id, n_near)."""
    n_near = F.coalesce(F.col("n_near"), F.lit(0))
    return (
        batch_hashed.join(corpus_h, "h", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("in_corpus").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("exact_dup"),
            n_near.cast("long").alias("n_near"),
            F.when(F.col("in_corpus").isNull() & (n_near == 0), 1)
            .otherwise(0)
            .cast("long")
            .alias("kept"),
        )
    )


@query(
    "q_dedup_index",
    oracle=f"""
    WITH {_lsh_ctes()}
    SELECT doc_id, {", ".join(f"h{i}" for i in range(N_HASHES))} FROM sig
    """,
)
def q_dedup_index(spark, sf_dir):
    """Materialize the MinHash-LSH SIGNATURE INDEX — the write path whose
    read path is q_dedup_incremental's corpus side. The banded signature
    frame is written to parquet PARTITIONED BY band (so a band-bucket
    probe join partition-prunes to 1/N_BANDS of the index), then read
    back through the partition filter to prove the round trip, and the
    per-doc signature rows (doc_id, h0..h15) are returned.

    At 100 TB this is the nightly index build: one corpus scan + one
    hash aggregate + a map-only band explode; the daily incremental gate
    then joins |delta| signatures against this index instead of
    re-scanning the corpus. The oracle value-checks the signatures
    themselves (the `sig` CTE of the shared LSH chain), so index builder
    and oracle agree bit-for-bit on every minhash."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sig = _signatures(d)
    bands = _explode_bands(sig)
    path = scratch_dir(sf_dir, "lsh_index")
    bands.write.mode("overwrite").partitionBy("band").parquet(path)
    # read back ONE band partition (partition-pruned scan) and unpack the
    # carried signature array — every doc appears in every band, so band 0
    # alone reconstructs the full per-doc signature table.
    back = spark.read.parquet(path).filter(F.col("band") == 0)
    return back.select(
        "doc_id",
        *[F.col("sig")[i].alias(f"h{i}") for i in range(N_HASHES)],
    )


SPAN_W = 20  # tokens per rolling window (Lee et al. use 50 BPE tokens)


@query(
    "q_dedup_spans",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             md5(array_to_string(
                 list_slice(string_split(text, ' '), i, i + {SPAN_W - 1}), ' '))
               AS h
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
                      1, greatest(len(string_split(text, ' ')) - {SPAN_W - 1},
                                  1))) AS i)
      WHERE text IS NOT NULL
    ),
    df AS (SELECT h, count(*) AS n FROM w GROUP BY h)
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN df.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeated,
           CAST(max(df.n) AS BIGINT) AS max_span_df
    FROM w JOIN df USING (h)
    GROUP BY w.doc_id
    """,
)
def q_dedup_spans(spark, sf_dir):
    """Substring-level duplicate-span detection — the rolling-window exact
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better": a document is penalized not for being a near-copy of
    another document but for CONTAINING any {SPAN_W}-token span that
    occurs more than once in the corpus (cross-doc boilerplate, quoted
    passages, within-doc repetition alike). Doc-level MinHash misses a
    paragraph pasted into an otherwise unique page; this catches it.

    Per doc: total spans, spans whose corpus frequency > 1, and the max
    span frequency (a redaction-priority signal).

    Scale: one scan -> rolling-window explode (the token-volume-bound
    step, same cost class as the shingle pipeline) -> ONE hash aggregate
    over span hashes (map-side combined; the md5 keys are uniform so the
    shuffle cannot skew) -> join back on hash -> per-doc aggregate. No
    self-join, no candidate pairs: cost is O(tokens), which is the floor
    for this operator at any scale. The true suffix-array construction
    is strictly more expensive and only needed for variable-length
    maximal matches; the fixed-W rolling hash is the standard
    production approximation."""
    from ..operators.common import widen

    # widen(): the span explode + per-span md5 is the same fan-out map
    # shape as the shingle pipeline (operators/common.py widen) — no-op
    # on a many-split scan, parallelizes the few-split bench fixture.
    d = widen(
        t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()), "doc_id"
    )
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (SPAN_W - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, SPAN_W)),
    )
    w = d.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.md5("g").alias("h")
    )
    df_counts = w.groupBy("h").agg(F.count("*").alias("n"))
    return (
        w.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_repeated"),
            F.max("n").alias("max_span_df"),
        )
    )


def _simhash_oracle() -> str:
    """DuckDB mirror of q_dedup_simhash: identical md5-derived token bits,
    identical vote/threshold/chunk-blocking recurrence."""
    va = ",\n             ".join(
        f"sum(CASE WHEN (a >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS va{i}"
        for i in range(32)
    )
    vb = ",\n             ".join(
        f"sum(CASE WHEN (b >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS vb{i}"
        for i in range(32)
    )
    sa = " + ".join(f"CASE WHEN va{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(32))
    sb = " + ".join(f"CASE WHEN vb{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(32))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ), hx AS (
      SELECT doc_id,
             ('0x' || substr(md5(tk), 1, 8))::BIGINT AS a,
             ('0x' || substr(md5(tk), 9, 8))::BIGINT AS b
      FROM tok
    ), votes AS (
      SELECT doc_id,
             {va},
             {vb}
      FROM hx GROUP BY doc_id
    ), sim AS (
      SELECT doc_id, CAST({sa} AS BIGINT) AS sa, CAST({sb} AS BIGINT) AS sb
      FROM votes
    ), chunks AS (
      SELECT doc_id, 0 AS chunk, sa & 65535 AS ch FROM sim
      UNION ALL SELECT doc_id, 1, (sa >> 16) & 65535 FROM sim
      UNION ALL SELECT doc_id, 2, sb & 65535 FROM sim
      UNION ALL SELECT doc_id, 3, (sb >> 16) & 65535 FROM sim
    ), cand AS (
      SELECT DISTINCT ca.doc_id AS doc_a, cb.doc_id AS doc_b
      FROM chunks ca JOIN chunks cb USING (chunk, ch)
      WHERE ca.doc_id < cb.doc_id
    )
    SELECT doc_a, doc_b,
           bit_count(xor(pa.sa, pb.sa)) + bit_count(xor(pa.sb, pb.sb)) AS hamming
    FROM cand
    JOIN sim pa ON pa.doc_id = doc_a
    JOIN sim pb ON pb.doc_id = doc_b
    WHERE bit_count(xor(pa.sa, pb.sa)) + bit_count(xor(pa.sb, pb.sb)) <= 3
    """


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark, sf_dir):
    """Near-dup pairs via 64-bit SimHash + chunk blocking.

    The 64 signature bits come as two 32-bit halves (sa, sb) of one md5 per
    token — engine-portable, so the oracle value-checks the whole
    vote/threshold/blocking recurrence (upgraded from rows-only under the
    old xxhash64 votes). Candidates must share one of four 16-bit chunks
    (pigeonhole guarantees recall for hamming<=3); verification is
    bit_count(xor) on each half."""
    from ..operators.common import widen

    # widen(): per-token md5 vote explode — same fan-out map shape as the
    # shingle pipeline (operators/common.py widen).
    d = widen(t(spark, sf_dir, "documents"), "doc_id")
    th = d.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
    return _simhash_pairs_from_tokens(th)


def _simhash_pairs_from_tokens(th):
    """(doc_id, tk) occurrences -> hamming<=3 near-dup pairs; the unit of
    ``tk`` (unigram vs shingle) is the caller's choice.

    Bit votes as 64 codegen'd aggregates over exploded token hashes — the
    same explode+agg-beats-interpreted-HOF trade-off measured for MinHash
    (a nested transform/filter HOF form of this was 15s at sf0.1; this
    shape is ~1s). Map-side partial aggregation keeps the shuffle at one
    row of 64 counters per doc per partition."""
    hx = th.select(
        "doc_id",
        F.conv(F.substring(F.md5("tk"), 1, 8), 16, 10).cast("long").alias("a"),
        F.conv(F.substring(F.md5("tk"), 9, 8), 16, 10).cast("long").alias("b"),
    )
    votes = hx.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("a", i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"va{i}")
            for i in range(32)
        ],
        *[
            F.sum(
                F.when(F.shiftright("b", i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"vb{i}")
            for i in range(32)
        ],
    )

    def _half(prefix):
        col = None
        for i in range(32):
            term = F.when(
                F.col(f"{prefix}{i}") > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            col = term if col is None else col + term
        return col

    sim = votes.select("doc_id", _half("va").alias("sa"), _half("vb").alias("sb"))
    chunks = sim.select(
        "doc_id",
        "sa",
        "sb",
        F.explode(
            F.expr(
                """array(struct(0 AS chunk, sa & 65535 AS ch),
                         struct(1 AS chunk, shiftrightunsigned(sa, 16) & 65535 AS ch),
                         struct(2 AS chunk, sb & 65535 AS ch),
                         struct(3 AS chunk, shiftrightunsigned(sb, 16) & 65535 AS ch))"""
            )
        ).alias("c"),
    ).select("doc_id", "sa", "sb", "c.chunk", "c.ch")
    hamming = F.bit_count(
        F.col("a.sa").bitwiseXOR(F.col("b.sa"))
    ) + F.bit_count(F.col("a.sb").bitwiseXOR(F.col("b.sb")))
    return (
        chunks.alias("a")
        .join(chunks.alias("b"), ["chunk", "ch"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


def _simhash_shingle_oracle() -> str:
    """DuckDB mirror of q_dedup_simhash_shingle: the plain-SimHash
    recurrence over word-3-gram shingles (same shingle construction as
    _lsh_ctes, same md5 halves, same vote/chunk/verify chain)."""
    va = ",\n             ".join(
        f"sum(CASE WHEN (a >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS va{i}"
        for i in range(32)
    )
    vb = ",\n             ".join(
        f"sum(CASE WHEN (b >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS vb{i}"
        for i in range(32)
    )
    sa = " + ".join(f"CASE WHEN va{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(32))
    sb = " + ".join(f"CASE WHEN vb{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(32))
    return f"""
    WITH tok AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ') AS tk
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
                      1, greatest(len(string_split(text, ' ')) - 2, 1))) AS i)
      WHERE text IS NOT NULL
    ), hx AS (
      SELECT doc_id,
             ('0x' || substr(md5(tk), 1, 8))::BIGINT AS a,
             ('0x' || substr(md5(tk), 9, 8))::BIGINT AS b
      FROM tok
    ), votes AS (
      SELECT doc_id,
             {va},
             {vb}
      FROM hx GROUP BY doc_id
    ), sim AS (
      SELECT doc_id, CAST({sa} AS BIGINT) AS sa, CAST({sb} AS BIGINT) AS sb
      FROM votes
    ), chunks AS (
      SELECT doc_id, 0 AS chunk, sa & 65535 AS ch FROM sim
      UNION ALL SELECT doc_id, 1, (sa >> 16) & 65535 FROM sim
      UNION ALL SELECT doc_id, 2, sb & 65535 FROM sim
      UNION ALL SELECT doc_id, 3, (sb >> 16) & 65535 FROM sim
    ), cand AS (
      SELECT DISTINCT ca.doc_id AS doc_a, cb.doc_id AS doc_b
      FROM chunks ca JOIN chunks cb USING (chunk, ch)
      WHERE ca.doc_id < cb.doc_id
    )
    SELECT doc_a, doc_b,
           bit_count(xor(pa.sa, pb.sa)) + bit_count(xor(pa.sb, pb.sb)) AS hamming
    FROM cand
    JOIN sim pa ON pa.doc_id = doc_a
    JOIN sim pb ON pb.doc_id = doc_b
    WHERE bit_count(xor(pa.sa, pb.sa)) + bit_count(xor(pa.sb, pb.sb)) <= 3
    """


@query("q_dedup_simhash_shingle", oracle=_simhash_shingle_oracle())
def q_dedup_simhash_shingle(spark, sf_dir):
    """Boilerplate-robust SimHash: signature unit = word-3-gram shingle
    (round 5) — the same shingle space the MinHash/Jaccard family uses.

    Unigram SimHash degenerates on boilerplate-heavy or small-vocabulary
    corpora: tokens shared by a large fraction of documents bias every
    signature the same way until hamming distances collapse and the
    chunk-blocked self-join goes quadratic (measured in SCALE.md round-5
    notes: 26.8M pairs on a 1/3-boilerplate corpus vs 312 without it; both
    idf-weighting variants failed to help there because the corpus
    vocabulary itself is tiny, so EVERY unigram is boilerplate-grade).
    Moving the vote unit to shingles fixes the degeneracy structurally —
    the shingle space is |vocab|^3, so signature bits are driven by local
    word ORDER, which boilerplate insertion perturbs and near-duplication
    preserves. Measured: fixture recall 0.56 vs 0.48 unigram at precision
    1.0, and the adversarial corpus collapses from 26.8M pairs back to 494
    (~4x the per-copy structure, as designed).

    Plan shape: identical to q_dedup_simhash (explode -> 64 codegen'd
    vote aggregates -> chunk-blocked self-join); the explode just emits
    shingles. Shingle volume == token volume, so cost and scaling match
    the unigram operator; the oracle shares _lsh_ctes' shingle
    construction so the whole recurrence stays value-checked."""
    d = t(spark, sf_dir, "documents")
    sh = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(ws) - 2, 1)),"
                    " i -> array_join(slice(ws, i, 3), ' '))"
                )
            ).alias("tk"),
        )
    )
    return _simhash_pairs_from_tokens(sh)


_NGRAM_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ') AS s
  FROM documents,
       LATERAL (SELECT unnest(generate_series(
                  1, greatest(len(string_split(text, ' ')) - 2, 1))) AS i)
  WHERE text IS NOT NULL
),
kept AS (
  SELECT doc_id, s FROM sh
  QUALIFY count(*) OVER (PARTITION BY s) <= {SHINGLE_DF_CAP}
),
n AS (SELECT doc_id, count(*) AS nn FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common, na.nn AS n_a, nb.nn AS n_b,
       round(n_common * 1.0 / (na.nn + nb.nn - n_common), 4) AS jaccard
FROM inter
JOIN n na ON na.doc_id = doc_a
JOIN n nb ON nb.doc_id = doc_b
WHERE n_common * 1.0 / (na.nn + nb.nn - n_common) >= 0.5
"""


@query("q_dedup_ngram", oracle=_NGRAM_ORACLE)
def q_dedup_ngram(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs via an inverted-index self-join.

    Shingles with document frequency above SHINGLE_DF_CAP are dropped before
    the join — the standard guard that bounds every join bucket and removes
    the quadratic blow-up on common shingles at scale. NULL-text docs are
    excluded by contract (same divergence as _minhash_pairs: Spark would
    give them all one '' shingle)."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sh = _shingles(d)
    # Frequent-shingle cap via aggregate + broadcast ANTI join: the df
    # aggregate is map-side-combined (intermediate = distinct shingles, not
    # raw rows) and the frequent list is tiny, so the exclusion join is a
    # broadcast with no extra shuffle — unlike a count() window, which
    # re-shuffles and sorts every raw shingle row.
    frequent = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("sh")
    )
    kept = sh.join(F.broadcast(frequent), "sh", "left_anti")
    n = kept.groupBy("doc_id").agg(F.count("*").alias("nn"))
    inter = (
        kept.select(F.col("doc_id").alias("doc_a"), "sh")
        .join(kept.select(F.col("doc_id").alias("doc_b"), "sh"), "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(n.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("n_a")), "doc_a")
        .join(n.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("n_b")), "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", r4(jac).alias("jaccard"))
    )


_COS = """list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"""


@query(
    "q_dedup_embedding",
    oracle=f"""
    SELECT e.vec_id, e.label
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) e
    WHERE NOT EXISTS (
        SELECT 1 FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) p
        WHERE p.label = e.label AND p.vec_id < e.vec_id
          AND round(list_cosine_similarity(p.embedding::DOUBLE[],
                                           e.embedding::DOUBLE[]), 4) >= 0.4)
    """,
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dedup: a vector is a duplicate if an earlier
    vector in its label block has cosine >= 0.4; survivors are returned.

    Plan: block self-join on label (bounded buckets) -> duplicate set ->
    broadcast-able anti-join. For unlabeled corpora the label key is
    replaced by an SRP-LSH bucket id — identical plan shape."""
    from .similarity import _dot, _emb, _norm

    e = _emb(spark, sf_dir)
    dbl = e.withColumn(
        "emb", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    ).withColumn("nrm", _norm(F.col("emb")))  # per-vector norm computed once
    a = dbl.select(
        F.col("vec_id").alias("id_a"), "label",
        F.col("emb").alias("ea"), F.col("nrm").alias("na"),
    )
    b = dbl.select(
        F.col("vec_id").alias("id_b"), "label",
        F.col("emb").alias("eb"), F.col("nrm").alias("nb"),
    )
    dups = (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return e.join(dups, "vec_id", "left_anti").select("vec_id", "label")


def _cluster_oracle() -> str:
    """Recursive-CTE transitive closure over the SAME md5-minhash LSH pair
    graph the Spark side propagates labels on — the q_dedup_cluster_verified
    oracle pattern applied to the raw LSH graph, which became possible once
    the signatures moved to the engine-portable md5 family."""
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    return f"""
    WITH RECURSIVE {_lsh_ctes()}, p AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN sig sa ON sa.doc_id = doc_a
      JOIN sig sb ON sb.doc_id = doc_b
      WHERE ({agree}) / 16.0 >= 0.5
    ), e AS (
      SELECT doc_a AS a, doc_b AS b FROM p
      UNION SELECT doc_b, doc_a FROM p
      UNION SELECT doc_a, doc_a FROM p
      UNION SELECT doc_b, doc_b FROM p
    ), reach AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ), lab AS (
      SELECT a AS node, min(b) AS cluster_id FROM reach GROUP BY a
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS member_ids
    FROM lab GROUP BY cluster_id
    """


def _cc_star(edges, max_rounds: int = 30):
    """Connected components via alternating LARGE-STAR / SMALL-STAR — the
    O(log n)-round algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond") that SCALE.md names as the 100 TB path: round
    count is logarithmic in component size, not linear in diameter, so a
    chain-shaped component of a million near-dups costs ~20 rounds where
    min-label propagation costs a million.

    large-star: every node connects its LARGER neighbours to the minimum
    of its neighbourhood (halves long paths); small-star: every node
    connects its smaller-or-equal neighbourhood to its minimum (flattens
    into stars). At the fixpoint the edge set is a disjoint union of
    stars centered at component minima — (leaf, center) IS the label map.

    Input: (doc_a, doc_b) pair frame, either orientation, self-loops ok.
    Output: (node, label) for every node incident to an edge, label =
    component minimum. Fixpoint detection is two-tier: a cheap
    order-independent signature (count + decimal sum of xxhash64(u, v)
    over the distinct edge set) gates an EXACT anti-join equality check
    that must also pass before the loop stops — a signature collision
    (structured role-swaps defeat linear-form signatures; a 64-bit hash
    sum makes them ~2^-64 but not impossible) therefore costs one extra
    join, never a wrong cluster. The loop is common.fixpoint's."""
    E = (
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _sig(e):
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).first()
        return (row["n"], row["s"])

    def _same_edges(prev, cur):
        # exact equality given equal cardinality (the signature gate
        # already matched counts): both frames are DISTINCT edge sets, so
        # cur ⊆ prev together with |cur| == |prev| implies cur == prev —
        # one anti-join
        return cur.join(prev, ["u", "v"], "left_anti").limit(1).count() == 0

    def _large(e):
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = und.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("mn", F.col("u")).alias("m"))
        return (
            und.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small(e):
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        return (
            o.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    E = fixpoint(
        lambda e: _small(_large(e)), E, max_rounds,
        signature=_sig, confirm=_same_edges,
    )
    # stars: (leaf, center) edges + centers labeling themselves
    centers = E.select(F.col("v").alias("node"), F.col("v").alias("label")).distinct()
    leaves = E.select(F.col("u").alias("node"), F.col("v").alias("label"))
    return leaves.union(centers).distinct()


@query("q_dedup_cluster", oracle=_cluster_oracle())
def q_dedup_cluster(spark, sf_dir):
    """Near-duplicate CLUSTERS (connected components) over the MinHash-LSH
    pair graph — the step that turns pairwise matches into dedup groups
    with one canonical survivor.

    Spark has no native CC operator; since round 5 this runs the
    large-star/small-star alternation (:func:`_cc_star`) whose round count
    is LOGARITHMIC in component size — the 100 TB-safe choice, where
    min-label propagation (the reference tests/test_llm_quality.py checks
    _cc_star against) pays one round per unit of graph diameter. Both
    compute the exact components, so the recursive-CTE transitive-closure
    oracle is unchanged.
    """
    # _cc_star checkpoints its canonical edge set up front, so the LSH
    # pipeline is materialized once and never re-runs per CC round
    # (measured 8.6s -> ~2s at sf0.1 when this property was introduced).
    labels = _cc_star(_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    return (
        labels.groupBy("label")
        .agg(F.sort_array(F.collect_list("node")).alias("members"))
        .select(
            F.col("label").alias("cluster_id"),
            F.size("members").cast("long").alias("cluster_size"),
            F.array_join(F.transform("members", lambda m: m.cast("string")), ",").alias(
                "member_ids"
            ),
        )
    )


VERIFY_THRESHOLD = 0.6  # fixture near-dups sit at j >= 0.9, noise below 0.3


@query(
    "q_dedup_fuzzy_verified",
    oracle=f"""
    WITH {_lsh_ctes()}, {_TRIGRAM_CTE}
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
               AS jaccard
    FROM cand c
    JOIN g a ON a.doc_id = c.doc_a
    JOIN g b ON b.doc_id = c.doc_b
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= {VERIFY_THRESHOLD}
    """,
)
def q_dedup_fuzzy_verified(spark, sf_dir):
    """MinHash-LSH candidates -> EXACT trigram-Jaccard verification — the
    production candidate/verify pipeline. The oracle rebuilds the SAME
    md5-minhash band candidates in SQL and exact-verifies them, so the
    value check covers both stages deterministically (it no longer rides on
    the LSH stage happening to have perfect recall on the fixture — with
    the 4-band/4-row S-curve, a j ~ 0.6 pair is only ~43% likely to become
    a candidate; both engines miss or keep exactly the same pairs).

    Scale: candidates come from bucket co-membership (never all-pairs);
    the verify join touches O(candidates) docs, keyed on doc_id."""
    return _exact_jaccard_pairs(spark, sf_dir)


def _trigram_sets(spark, sf_dir):
    """(doc_id, sh: distinct word-trigram array) — the exact-verify side.

    Drops docs with no trigrams (< 3 tokens, incl. NULL): they cannot
    near-duplicate at trigram granularity, and because every empty doc
    shares one minhash signature they always become candidates of each
    other — the verify Jaccard would then divide by zero (found by the
    perturbed-fixture audit). The predicate is on the TOKEN count, not on
    size of the built gram array — filtering on the computed column made
    Catalyst evaluate the gram-transform chain twice per row (measured
    +1.2 s at sf0.1)."""
    d = t(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    grams = F.when(
        F.size("toks") < 3, F.array().cast("array<string>")
    ).otherwise(
        F.expr(
            "transform(sequence(1, size(toks)-2), i -> concat("
            "element_at(toks, i), ' ', element_at(toks, i+1), ' ',"
            " element_at(toks, i+2)))"
        )
    )
    d = d.filter(F.size("toks") >= 3)
    return d.select("doc_id", F.array_distinct(grams).alias("sh"))


def _exact_jaccard_pairs(spark, sf_dir):
    cands = (
        _minhash_pairs(spark, sf_dir, threshold=0.0)
        .select("doc_a", "doc_b")
        .distinct()
    )
    g = _trigram_sets(spark, sf_dir)
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .filter(jac >= VERIFY_THRESHOLD)
        .select("doc_a", "doc_b", r4(jac).alias("jaccard"))
    )


@query(
    "q_dedup_cluster_verified",
    oracle=f"""
    WITH RECURSIVE {_lsh_ctes()}, {_TRIGRAM_CTE}, p AS (
      SELECT c.doc_a AS a, c.doc_b AS b
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b
      WHERE len(list_intersect(ga.sh, gb.sh)) * 1.0 /
            (len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)))
            >= {VERIFY_THRESHOLD}
    ), e AS (
      SELECT a, b FROM p UNION SELECT b, a FROM p
      UNION SELECT a, a FROM p UNION SELECT b, b FROM p
    ), reach AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ), lab AS (
      SELECT a AS node, min(b) AS cluster_id FROM reach GROUP BY a
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS member_ids
    FROM lab GROUP BY cluster_id
    """,
)
def q_dedup_cluster_verified(spark, sf_dir):
    """Connected components over the VERIFIED near-dup graph: the oracle
    rebuilds the identical LSH-candidate + exact-trigram-Jaccard edge set
    and computes components via a recursive-CTE transitive closure —
    value-checking the iterative Spark fixpoint itself against a
    closed-form SQL recurrence. Same large-star/small-star CC as
    q_dedup_cluster."""
    labels = _cc_star(_exact_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    return (
        labels.groupBy(F.col("label").alias("cluster_id"))
        .agg(F.sort_array(F.collect_list("node")).alias("members"))
        .select(
            "cluster_id",
            F.size("members").cast("long").alias("cluster_size"),
            F.array_join(
                F.transform("members", lambda m: m.cast("string")), ","
            ).alias("member_ids"),
        )
    )


CONTAIN_THRESHOLD = 0.8


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH {_lsh_ctes()}, {_TRIGRAM_CTE}, pairs AS (
      SELECT CASE WHEN len(a.sh) < len(b.sh)
                    OR (len(a.sh) = len(b.sh) AND c.doc_a < c.doc_b)
                  THEN a.sh ELSE b.sh END AS ss,
             CASE WHEN len(a.sh) < len(b.sh)
                    OR (len(a.sh) = len(b.sh) AND c.doc_a < c.doc_b)
                  THEN b.sh ELSE a.sh END AS sb2,
             CASE WHEN len(a.sh) < len(b.sh)
                    OR (len(a.sh) = len(b.sh) AND c.doc_a < c.doc_b)
                  THEN c.doc_a ELSE c.doc_b END AS doc_small,
             CASE WHEN len(a.sh) < len(b.sh)
                    OR (len(a.sh) = len(b.sh) AND c.doc_a < c.doc_b)
                  THEN c.doc_b ELSE c.doc_a END AS doc_big
      FROM cand c
      JOIN g a ON a.doc_id = c.doc_a
      JOIN g b ON b.doc_id = c.doc_b
    )
    SELECT DISTINCT doc_small, doc_big,
           round(len(list_intersect(ss, sb2)) * 1.0 / len(ss), 4) AS containment
    FROM pairs
    WHERE len(list_intersect(ss, sb2)) * 1.0 / len(ss) >= {CONTAIN_THRESHOLD}
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Asymmetric CONTAINMENT dedup: |A∩B| / |A| of trigram sets, the
    measure that catches a document embedded inside a longer one (quote
    expansion, boilerplate wrapping) where symmetric Jaccard stays low.
    Candidates come from the same MinHash-LSH buckets; the smaller doc of
    each pair is scored against the bigger. The oracle rebuilds the
    identical band-candidate set and verifies it — both stages
    value-checked deterministically.

    Scale: identical candidate/verify shape as q_dedup_fuzzy_verified;
    containment is computed on the O(candidates) verify join only."""
    cands = (
        _minhash_pairs(spark, sf_dir, threshold=0.0)
        .select("doc_a", "doc_b")
        .distinct()
    )
    d = t(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    grams = F.when(
        F.size("toks") < 3, F.array().cast("array<string>")
    ).otherwise(
        F.expr(
            "transform(sequence(1, size(toks)-2), i -> concat("
            "element_at(toks, i), ' ', element_at(toks, i+1), ' ',"
            " element_at(toks, i+2)))"
        )
    )
    # same no-trigram guard as _exact_jaccard_pairs (token-count predicate,
    # not size of the built gram array): an empty smaller set would make
    # the containment denominator zero
    d = d.filter(F.size("toks") >= 3)
    g = d.select("doc_id", F.array_distinct(grams).alias("sh"))
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    paired = cands.join(ga, "doc_a").join(gb, "doc_b")
    # orient each pair small -> big (ties by id) to make containment
    # well-defined and match the oracle's orientation
    small_first = (F.size("sa") < F.size("sb")) | (
        (F.size("sa") == F.size("sb")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = paired.select(
        F.when(small_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_small"),
        F.when(small_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_big"),
        F.when(small_first, F.col("sa")).otherwise(F.col("sb")).alias("ss"),
        F.when(small_first, F.col("sb")).otherwise(F.col("sa")).alias("sb2"),
    )
    cont = F.size(F.array_intersect("ss", "sb2")) / F.size("ss")
    return (
        oriented.filter(cont >= CONTAIN_THRESHOLD)
        .select("doc_small", "doc_big", r4(cont).alias("containment"))
        .distinct()
    )


SWEEP_THRESHOLDS = (0.3, 0.5, 0.7, 0.9)


def _sweep_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    vals = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS)
    return f"""
    WITH {_lsh_ctes()}, {_TRIGRAM_CTE}, scored AS (
      SELECT c.doc_a, c.doc_b,
             round(({agree}) / 16.0, 4) AS est,
             round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                   4) AS truej
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
      JOIN g a ON a.doc_id = c.doc_a
      JOIN g b ON b.doc_id = c.doc_b
    )
    SELECT CAST(t.th AS DOUBLE) AS threshold,
           CAST(count(*) FILTER (est >= t.th) AS BIGINT) AS n_pred,
           CAST(count(*) FILTER (truej >= t.th) AS BIGINT) AS n_true,
           CAST(count(*) FILTER (est >= t.th AND truej >= t.th) AS BIGINT)
             AS n_both,
           round(CASE WHEN count(*) FILTER (est >= t.th) = 0 THEN 0
                 ELSE count(*) FILTER (est >= t.th AND truej >= t.th) * 1.0
                      / count(*) FILTER (est >= t.th) END, 4) AS precision_at,
           round(CASE WHEN count(*) FILTER (truej >= t.th) = 0 THEN 0
                 ELSE count(*) FILTER (est >= t.th AND truej >= t.th) * 1.0
                      / count(*) FILTER (truej >= t.th) END, 4) AS recall_at
    FROM scored, (VALUES {vals}) AS t(th)
    GROUP BY t.th
    """


@query("q_dedup_eval_sweep", oracle=_sweep_oracle())
def q_dedup_eval_sweep(spark, sf_dir):
    """LSH threshold-sweep evaluation: the tuning table every dedup
    deployment builds before fixing its threshold — over the SHARED
    candidate set, at each threshold t: pairs the MinHash estimate would
    keep (n_pred), pairs the exact trigram Jaccard keeps (n_true), their
    overlap, and the implied precision / recall-within-candidates. Shows
    the banded-LSH S-curve directly: low thresholds over-predict (est
    quantizes to 1/16ths), high thresholds track truth.

    Scale: ONE candidate generation (bucket-bounded, never all-pairs) and
    ONE exact-verify join, scored once; the sweep is a 4x threshold
    explode over the already-scored pair table, then a 4-group aggregate.
    Evaluating 10 thresholds costs the same as one."""
    cands = _minhash_pairs(spark, sf_dir, threshold=0.0).select(
        "doc_a", "doc_b", F.col("est_jaccard").alias("est")
    ).distinct()
    g = _trigram_sets(spark, sf_dir)
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    scored = (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("est", r4(jac).alias("truej"))
    )
    th = F.explode(
        F.array(*[F.lit(float(x)) for x in SWEEP_THRESHOLDS])
    ).alias("threshold")
    sw = scored.select("est", "truej", th)
    pred = F.sum(F.when(F.col("est") >= F.col("threshold"), 1).otherwise(0))
    true_ = F.sum(F.when(F.col("truej") >= F.col("threshold"), 1).otherwise(0))
    both = F.sum(
        F.when(
            (F.col("est") >= F.col("threshold"))
            & (F.col("truej") >= F.col("threshold")),
            1,
        ).otherwise(0)
    )
    return sw.groupBy("threshold").agg(
        pred.cast("long").alias("n_pred"),
        true_.cast("long").alias("n_true"),
        both.cast("long").alias("n_both"),
        r4(
            F.when(pred == 0, 0.0).otherwise(both / pred)
        ).alias("precision_at"),
        r4(
            F.when(true_ == 0, 0.0).otherwise(both / true_)
        ).alias("recall_at"),
    )


def _cross_source_oracle(threshold: float = 0.5) -> str:
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    return f"""
    WITH {_lsh_ctes()}
    SELECT c.doc_a, c.doc_b, da.source AS source_a, db.source AS source_b,
           round(({agree}) / 16.0, 4) AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE da.source <> db.source AND ({agree}) / 16.0 >= {threshold}
    """


@query("q_dedup_cross_source", oracle=_cross_source_oracle())
def q_dedup_cross_source(spark, sf_dir):
    """Provenance-aware near-dup pairs: only matches whose two documents
    come from DIFFERENT sources — the question asked when merging crawls
    ("how much of source B is already in source A?"), where same-source
    duplicates are handled by each source's own dedup pass and
    cross-source overlap drives keep/drop and licensing decisions.

    Scale shape: identical LSH candidate pipeline as q_dedup_fuzzy (one
    scan, bucket-bounded candidates); the source filter needs the doc ->
    source mapping, an id-keyed join against a projection that is tiny
    relative to the corpus (and broadcastable when sources metadata is a
    side table)."""
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _minhash_pairs(spark, sf_dir)
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("source_a") != F.col("source_b"))
        .select("doc_a", "doc_b", "source_a", "source_b", "est_jaccard")
    )


def _dedup_apply_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    return f"""
    WITH RECURSIVE {_lsh_ctes()}, p AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN sig sa ON sa.doc_id = doc_a
      JOIN sig sb ON sb.doc_id = doc_b
      WHERE ({agree}) / 16.0 >= 0.5
    ), e AS (
      SELECT doc_a AS a, doc_b AS b FROM p
      UNION SELECT doc_b, doc_a FROM p
      UNION SELECT doc_a, doc_a FROM p
      UNION SELECT doc_b, doc_b FROM p
    ), reach AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ), lab AS (
      SELECT a AS node, min(b) AS cluster_id FROM reach GROUP BY a
    ), ranked AS (
      SELECT l.node AS doc_id, l.cluster_id, d.n_chars,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, l.node) AS rn,
             count(*) OVER (PARTITION BY l.cluster_id) AS csize
      FROM lab l JOIN documents d ON d.doc_id = l.node
    )
    SELECT doc_id, CAST(csize AS BIGINT) AS cluster_size,
           CAST(csize - 1 AS BIGINT) AS n_removed
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT d.doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
    FROM documents d
    WHERE d.text IS NOT NULL
      AND d.doc_id NOT IN (SELECT node FROM lab)
    """


@query("q_dedup_apply", oracle=_dedup_apply_oracle())
def q_dedup_apply(spark, sf_dir):
    """APPLY the dedup decisions — emit the surviving corpus: every other
    dedup op reports pairs or clusters; this one produces what the next
    pipeline stage actually consumes. One best doc per near-dup cluster
    (longest text, id tiebreak — the q_dedup_keep_best policy applied to
    FUZZY clusters), every unclustered doc kept, with per-survivor
    cluster size and removed-count provenance.

    Scale shape: the LSH + connected-components machinery is shared with
    q_dedup_cluster (one corpus scan, star-CC rounds logarithmic in
    component size); survivor election is one window over |clustered
    docs|; the singles side is an id-keyed anti-join. The output IS the
    deduplicated corpus manifest — join it back to documents to
    materialize."""
    from pyspark.sql import Window

    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_star(pairs)
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "n_chars")
    )
    clustered = labels.join(d, labels.node == d.doc_id).select(
        "doc_id", "label", "n_chars"
    )
    w = Window.partitionBy("label")
    ranked = clustered.select(
        "doc_id",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), "doc_id"))
        .alias("rn"),
        F.count("*").over(w).alias("csize"),
    )
    kept = ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("csize").cast("long").alias("cluster_size"),
        (F.col("csize") - 1).cast("long").alias("n_removed"),
    )
    singles = (
        d.join(labels, d.doc_id == labels.node, "anti")
        .select(
            "doc_id",
            F.lit(1).cast("long").alias("cluster_size"),
            F.lit(0).cast("long").alias("n_removed"),
        )
    )
    return kept.unionByName(singles)


# -- semantic (cluster-blocked) embedding dedup ------------------------------

SEM_THRESHOLD = 0.4


def _semantic_oracle() -> str:
    from .similarity import _KMEANS_CTES

    return f"""
    WITH {_KMEANS_CTES}
    SELECT a.vec_id, a.label, CAST(a.cell AS BIGINT) AS cluster
    FROM a3 a
    WHERE NOT EXISTS (
      SELECT 1 FROM a3 p
      WHERE p.cell = a.cell AND p.vec_id < a.vec_id
        AND round(list_cosine_similarity(p.emb, a.emb), 4)
              >= {SEM_THRESHOLD})
    """


@query("q_dedup_semantic", oracle=_semantic_oracle())
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-shape semantic dedup: cluster the corpus with the
    deterministic 3-iteration k-means (the q_cluster_kmeans assignment,
    shared code AND shared oracle CTEs), then inside each cluster drop any
    vector whose cosine to an earlier (lower vec_id) cluster member is
    >= 0.4. Returns the surviving (vec_id, label, cluster).

    This is q_dedup_embedding with LEARNED blocks instead of given label
    blocks — the production semantic-dedup recipe for unlabeled corpora
    (cluster first, pair only within a cluster, so the quadratic term is
    bounded by cluster size, not corpus size). At 100 TB the only knob
    that moves is K: ~512 vectors per cluster keeps E[|cluster|^2] flat
    (the x10 measurement is in SCALE.md round 7). THIS registered query
    pins k=K_CLUSTERS because that is the recurrence the DuckDB oracle
    unrolls. The pair scan carries each vector's norm computed once, and
    the drop set returns via a half-join (id_a < id_b) + distinct +
    anti-join — the q_dedup_embedding plan keyed by cell instead of
    label."""
    from .similarity import _dot, _kmeans_assigned, _norm

    assigned = (
        _kmeans_assigned(spark, sf_dir)
        # one materialization feeds both self-join arms AND the anti-join
        .localCheckpoint()
        .withColumn("nrm", _norm(F.col("emb")))
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"), "cell",
        F.col("emb").alias("ea"), F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), "cell",
        F.col("emb").alias("eb"), F.col("nrm").alias("nb"),
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEM_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dups, "vec_id", "left_anti").select(
        "vec_id", "label", F.col("cell").cast("long").alias("cluster")
    )


@query(
    "q_dedup_prefix",
    oracle="""
    WITH pref AS (
      SELECT doc_id, substring(lower(text), 1, 64) AS prefix
      FROM documents WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id, prefix,
             count(*) OVER (PARTITION BY prefix)  AS n_prefix,
             min(doc_id) OVER (PARTITION BY prefix) AS keeper
      FROM pref)
    SELECT doc_id, prefix,
           CAST(n_prefix AS BIGINT) AS n_prefix,
           CAST(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM g WHERE n_prefix > 1
    """,
)
def q_dedup_prefix(spark, sf_dir):
    """Boilerplate-prefix duplicate detection: cluster docs whose first 64
    characters (lowercased) are identical — the cheap screen for template
    pages, licence headers, and scraped navigation chrome that exact-hash
    dedup misses (bodies differ) and MinHash only catches at much higher
    cost. Returns every doc in a shared-prefix cluster of size > 1 with
    its cluster size and a kept flag (min doc_id survives).

    Scale shape: the group key is a <=64-char substring computed in the
    scan (projection pushes down; the shuffle carries 64 B + id per row,
    never the document body), then ONE hash shuffle on the prefix and a
    window per group. substring counts CHARACTERS in both engines, so
    multi-byte text groups identically. At 100 TB this is the cheapest
    dedup tier — it runs before shingling precisely because its shuffle
    volume is bounded by the prefix width, not the corpus text volume."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    p = d.select("doc_id", F.substring(F.lower("text"), 1, 64).alias("prefix"))
    w = Window.partitionBy("prefix")
    return (
        p.select(
            "doc_id",
            "prefix",
            F.count("*").over(w).alias("n_prefix"),
            F.min("doc_id").over(w).alias("keeper"),
        )
        .filter(F.col("n_prefix") > 1)
        .select(
            "doc_id",
            "prefix",
            F.col("n_prefix").cast("bigint").alias("n_prefix"),
            F.when(F.col("doc_id") == F.col("keeper"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("kept"),
        )
    )


@query(
    "q_dedup_report",
    oracle="""
    WITH cl AS (
      SELECT doc_id, n_chars,
             md5(substr(lower(coalesce(text, '')), 1, 64)) AS h
      FROM documents
    ), runs AS (
      SELECT h, CAST(count(*) AS BIGINT) AS sz,
             CAST(sum(n_chars) AS BIGINT) AS chars,
             CAST(arg_min(n_chars, doc_id) AS BIGINT) AS kept_chars
      FROM cl GROUP BY h
    ), tot AS (SELECT sum(chars) AS total_chars FROM runs)
    SELECT sz,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS docs,
           CAST(sum(sz - 1) AS BIGINT) AS removable_docs,
           CAST(sum(chars) AS BIGINT) AS chars_total,
           CAST(sum(chars - kept_chars) AS BIGINT) AS chars_removable,
           round(sum(chars - kept_chars) * 1.0
                 / (SELECT total_chars FROM tot), 4) AS corpus_share_saved
    FROM runs GROUP BY sz ORDER BY sz
    """,
)
def q_dedup_report(spark, sf_dir):
    """Dedup savings report: the duplication-multiplicity distribution
    (how many clusters of size 1, 2, 3, ... — here on the boilerplate-
    prefix key, q_dedup_prefix's family) with, per size, the docs and
    characters a keep-min-doc_id dedup pass would remove and the corpus
    share that saves — the number that decides WHETHER to pay for a
    dedup run before anyone schedules one over 100 TB (and, after it,
    the before/after evidence).

    Scale shape: one prefix-hash shuffle collapses the corpus to
    |clusters| rows (the q_dedup_exact plan; the 64-byte key travels,
    never the text), the size histogram is a second tiny aggregate over
    that frame, and the total-chars normalizer is a 1-row broadcast.
    Keeper election is arg-min-by-doc_id inside the same aggregate — no
    per-cluster window pass."""
    cl = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.substring(F.lower(F.coalesce("text", F.lit(""))), 1, 64)).alias(
            "h"
        ),
    )
    runs = cl.groupBy("h").agg(
        F.count("*").cast("bigint").alias("sz"),
        F.sum("n_chars").cast("bigint").alias("chars"),
        F.min_by("n_chars", "doc_id").cast("bigint").alias("kept_chars"),
    )
    tot = runs.agg(F.sum("chars").alias("total_chars"))
    return (
        runs.join(F.broadcast(tot))
        .groupBy("sz")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("docs"),
            F.sum(F.col("sz") - 1).cast("bigint").alias("removable_docs"),
            F.sum("chars").cast("bigint").alias("chars_total"),
            F.sum(F.col("chars") - F.col("kept_chars"))
            .cast("bigint")
            .alias("chars_removable"),
            F.round(
                F.sum(F.col("chars") - F.col("kept_chars"))
                * 1.0
                / F.first("total_chars"),
                4,
            ).alias("corpus_share_saved"),
        )
        .orderBy("sz")
    )


_BUCKET_STATS_ORACLE = f"""
WITH {_lsh_ctes()},
bk AS (
  SELECT band, count(*) AS sz
  FROM bands GROUP BY band, {", ".join(f"v{i + 1}" for i in range(N_HASHES // N_BANDS))})
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(count(CASE WHEN sz = 1 THEN 1 END) AS BIGINT) AS n_singletons,
       CAST(max(sz) AS BIGINT) AS max_bucket,
       CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS n_cand_pairs
FROM bk GROUP BY band ORDER BY band
"""


@query("q_dedup_index_stats", oracle=_BUCKET_STATS_ORACLE)
def q_dedup_index_stats(spark, sf_dir):
    """LSH index OBSERVABILITY: per-band bucket profile of the MinHash
    signature index — bucket count, singleton share, hottest bucket, and
    the candidate-pair volume sum(sz*(sz-1)/2) each band would emit.
    This is the number a dedup pipeline watches BEFORE running the pair
    stage: candidate volume is the whole cost model of banded LSH, and a
    hot bucket (boilerplate cluster, empty-doc signature) shows up here
    as a quadratic pair bomb long before it OOMs the join — the
    q_sim_index_stats discipline applied to the dedup index (and the
    in-registry twin of q_multimodal_phash_dedup's hot-bucket cap).

    Scale shape: signature build is the family's shared one-scan
    pipeline; the profile is one (band, bucket) aggregate + a |buckets|-
    row band aggregate — never the pair join itself.

    Reference scope: index-stats mirror of the reference's metadata
    accounting (q_meta_partition_stats); no dedup surface in the facade
    (api/router/router.go:9-55)."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bands = _explode_bands(_signatures(d))
    bk = bands.groupBy("band", "bh").agg(F.count("*").alias("sz"))
    return (
        bk.groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.count(F.when(F.col("sz") == 1, 1)).alias("n_singletons"),
            F.max("sz").alias("max_bucket"),
            F.sum(F.expr("sz * (sz - 1) DIV 2")).alias("n_cand_pairs"),
        )
        .orderBy("band")
    )
