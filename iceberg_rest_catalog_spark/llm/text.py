"""Text-analysis operators over the ``documents`` table (SURVEY.md §2.C).

Everything is built-in ``pyspark.sql.functions`` — split/explode/groupBy and
higher-order array functions run JVM-side inside whole-stage codegen. At
100 TB these are one scan + one hash-aggregate shuffle each; no Python, no
driver materialization.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.common import r4, t
from ..registry import query

# Deterministic "stopword" marker sets used by quality scoring and the
# language-ID heuristic (the fixture vocabulary is synthetic; the operator
# under test is the n-gram/marker mechanism, not linguistic accuracy).
_STOPWORDS = ("the", "a", "of")
_LANG_MARKERS = {
    "en": ("the", "a", "table", "row"),
    "de": ("group", "window", "vector"),
    "es": ("data", "stream", "column"),
    "fr": ("query", "value", "line"),
    "zh": ("merge", "batch", "join"),
}
_LANG_ORDER = ("en", "de", "es", "fr", "zh")  # deterministic argmax tiebreak


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           count(*)                          AS n_docs,
           round(avg(n_chars), 4)            AS avg_chars,
           min(n_chars)                      AS min_chars,
           max(n_chars)                      AS max_chars,
           count(DISTINCT source)            AS n_sources,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark, sf_dir):
    """Per-language corpus stats: doc count, char/token length moments,
    source cardinality. One hash aggregate; partial (map-side) combine makes
    this a single small shuffle at any scale."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        r4(F.avg("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("source").alias("n_sources"),
        r4(F.avg(F.size(F.split("text", " ")))).alias("avg_tokens"),
    )


@query(
    "q_text_tokens",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token LIMIT 20
    """,
)
def q_text_tokens(spark, sf_dir):
    """Top-20 token frequencies: explode(split) + count + ordered LIMIT.
    The LIMIT compiles to TakeOrderedAndProject — only 20 rows per partition
    reach the driver regardless of corpus size."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query(
    "q_text_filter",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE n_chars BETWEEN 100 AND 450
      AND lang IN ('en', 'fr')
      AND regexp_matches(text, '\\b(data|query)\\b')
      AND NOT regexp_matches(text, '\\bslow\\b')
    """,
)
def q_text_filter(spark, sf_dir):
    """Quality filter: length bounds + language whitelist + content regex
    include/exclude. Pure predicates — pushed to the parquet scan; at 100 TB
    this is the cheapest possible shape (no shuffle at all)."""
    d = t(spark, sf_dir, "documents")
    return d.filter(
        F.col("n_chars").between(100, 450)
        & F.col("lang").isin("en", "fr")
        & F.col("text").rlike(r"\b(data|query)\b")
        & ~F.col("text").rlike(r"\bslow\b")
    ).select("doc_id", "lang", "n_chars")


@query(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           round(n_chars * 1.0 / len(string_split(text, ' ')), 4) AS avg_tok_len,
           round(len(list_filter(string_split(lower(text), ' '),
                                 w -> list_contains([{_sql_list(_STOPWORDS)}], w)))
                 * 1.0 / len(string_split(text, ' ')), 4) AS stop_ratio,
           round(least(1.0, len(string_split(text, ' ')) / 64.0)
                 * (1.0 - len(list_filter(string_split(lower(text), ' '),
                                          w -> list_contains([{_sql_list(_STOPWORDS)}], w)))
                          * 1.0 / len(string_split(text, ' '))), 4) AS quality
    FROM documents
    """,
)
def q_text_quality(spark, sf_dir):
    """Heuristic quality score: token count, avg token length, stopword
    ratio, combined score. Higher-order array functions (filter/size) keep
    the whole expression JVM-side — zero Python in the hot path."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    n_tok = F.size(F.split("text", " "))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    stop_ratio = n_stop / n_tok
    return d.select(
        "doc_id",
        "n_chars",
        n_tok.alias("n_tokens"),
        r4(F.col("n_chars") / n_tok).alias("avg_tok_len"),
        r4(stop_ratio).alias("stop_ratio"),
        r4(F.least(F.lit(1.0), n_tok / F.lit(64.0)) * (F.lit(1.0) - stop_ratio)).alias(
            "quality"
        ),
    )


def _langid_scores_sql() -> str:
    return ",\n".join(
        f"""len(list_filter(string_split(lower(text), ' '),
                w -> list_contains([{_sql_list(_LANG_MARKERS[lg])}], w))) AS s_{lg}"""
        for lg in _LANG_ORDER
    )


def _langid_case_sql() -> str:
    clauses = []
    for i, lg in enumerate(_LANG_ORDER):
        conds = [f"s_{lg} >= s_{other}" for other in _LANG_ORDER[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        clauses.append(f"WHEN {cond} THEN '{lg}'")
    return "CASE " + " ".join(clauses) + " END"


@query(
    "q_text_langid",
    oracle=f"""
    SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
           {_langid_case_sql()} AS pred_lang
    FROM (SELECT doc_id, lang, {_langid_scores_sql()} FROM documents)
    """,
)
def q_text_langid(spark, sf_dir):
    """N-gram/marker language-ID heuristic: per-language marker-token counts
    + deterministic argmax. Embarrassingly parallel map-only operator."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    def marker_count(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda w: F.array_contains(arr, w)))

    scores = {lg: marker_count(_LANG_MARKERS[lg]) for lg in _LANG_ORDER}
    pred = None
    for i, lg in enumerate(_LANG_ORDER):
        cond = F.lit(True)
        for other in _LANG_ORDER[i + 1 :]:
            cond = cond & (F.col(f"s_{lg}") >= F.col(f"s_{other}"))
        pred = F.when(cond, lg) if pred is None else pred.when(cond, lg)
    return d.select(
        "doc_id", "lang", *[scores[lg].alias(f"s_{lg}") for lg in _LANG_ORDER]
    ).withColumn("pred_lang", pred)


@query(
    "q_text_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                          AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens,
           n_chars - len(replace(text, ' ', ''))                 AS n_spaces
    FROM documents
    """,
)
def q_text_token_count(spark, sf_dir):
    """Token counting two ways: whitespace split and a BPE-ish regex
    (alpha runs / digit runs / single punctuation) — the standard
    pre-tokenizer shape for LLM corpus accounting."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("bpe_ish_tokens"),
        (F.col("n_chars") - F.length(F.replace(F.col("text"), F.lit(" ")))).alias(
            "n_spaces"
        ),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS full_hash,
           CASE WHEN len(string_split(text, ' ')) >= 5
                THEN list_min(list_transform(
                        generate_series(1, len(string_split(text, ' ')) - 4),
                        i -> md5(array_to_string(
                               list_slice(string_split(text, ' '), i, i + 4), ' '))))
                ELSE md5(text) END AS min_shingle_hash
    FROM documents
    """,
)
def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting: full-content hash + winnowing-style minimum
    hash over rolling 5-token shingles. The rolling window is a higher-order
    transform over sequence() — computed per-row, no explode, no shuffle.

    The token array is BOUND to a column before the transform: a lambda
    that references the split(text) EXPRESSION re-splits the document at
    every shingle position (interpreted higher-order fns do no common-
    subexpression elimination), turning the rolling window O(len^2) —
    measured 144x at the x10 doc-LENGTH step (SCALE.md round 13); with
    the bound attribute the same step is linear.  widen() parallelizes
    the compute-heavy map over the single-split bench scan (no-op on a
    real many-split corpus)."""
    from ..operators.common import widen

    d = widen(t(spark, sf_dir, "documents"), "doc_id").withColumn(
        "toks", F.split("text", " ")
    )
    toks = F.col("toks")
    n = F.size(toks)
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), n - 4),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, 5))),
    )
    return d.select(
        "doc_id",
        F.md5("text").alias("full_hash"),
        F.when(n >= 5, F.array_min(shingle_hashes))
        .otherwise(F.md5("text"))
        .alias("min_shingle_hash"),
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, token, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
      ) GROUP BY doc_id, token
    ),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf,
           round(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    QUALIFY row_number() OVER (PARTITION BY tf.doc_id
                               ORDER BY tf.tf * ln(n.n_docs * 1.0 / df.df) DESC,
                                        tf.token) <= 3
    """,
)
def q_text_tfidf(spark, sf_dir):
    """TF-IDF with top-3 terms per document.

    Three aggregates (tf, df, corpus size) + a broadcast of the document
    frequencies + a per-doc window top-k. df is vocabulary-sized (small),
    so the join back to tf broadcasts; the only big shuffle is the tf
    aggregate itself."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar corpus size (a count, not a data collect)
    tf = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc(tfidf), "token")
    return (
        tf.join(F.broadcast(df), "token")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", r4(tfidf).alias("tfidf"))
    )


@query(
    "q_text_repetition",
    oracle="""
    WITH x AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), b AS (
      SELECT doc_id, toks,
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
      FROM x
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(len(list_distinct(toks)) / len(toks), 4) AS distinct_ratio,
           round(1.0 - len(list_distinct(bgs)) / greatest(len(bgs), 1), 4)
               AS bigram_repeat_ratio,
           (len(list_distinct(toks)) / len(toks)) < 0.55 AS repetitive
    FROM b
    """,
)
def q_text_repetition(spark, sf_dir):
    """Repetition / boilerplate scoring: type-token ratio and repeated-
    bigram ratio per document, plus a low-diversity flag — the standard
    cheap filters for machine-generated or template text in a training
    corpus. Map-only (higher-order array functions, no explode, no
    shuffle): at 100 TB this is a pure scan."""
    d = t(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    bgs = F.when(F.size("toks") < 2, F.array().cast("array<string>")).otherwise(
        F.expr(
            "transform(sequence(1, size(toks)-1),"
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"
        )
    )
    d = d.withColumn("bgs", bgs)
    distinct_ratio = F.size(F.array_distinct("toks")) / F.size("toks")
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        r4(distinct_ratio).alias("distinct_ratio"),
        r4(
            F.lit(1.0)
            - F.size(F.array_distinct("bgs"))
            / F.greatest(F.size("bgs"), F.lit(1))
        ).alias("bigram_repeat_ratio"),
        (distinct_ratio < 0.55).alias("repetitive"),
    )


@query(
    "q_text_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), cnt AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), tot AS (
      SELECT sum(c) AS n FROM cnt
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(c / n)), 4) AS nll
    FROM toks JOIN cnt USING (tok), tot
    GROUP BY doc_id
    """,
)
def q_text_perplexity(spark, sf_dir):
    """Unigram language-model scoring: train token probabilities on the
    corpus itself, score each document by mean negative log-likelihood —
    the classic cheap fluency/outlier filter for pretraining data (docs
    with high NLL are vocabulary outliers).

    Scale shape: the model is the TOKEN FREQUENCY TABLE — vocabulary-sized,
    so it broadcasts; the corpus explodes once, joins map-side against the
    broadcast model, and aggregates back per doc. Two small shuffles
    (vocab agg, doc agg), no corpus self-join."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = cnt.agg(F.sum("c").alias("n"))
    model = F.broadcast(cnt.crossJoin(F.broadcast(total)))
    return (
        toks.join(model, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            r4(F.avg(-F.log(F.col("c") / F.col("n")))).alias("nll"),
        )
    )


@query(
    "q_text_perplexity_bigram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), cnt AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), tot AS (
      SELECT sum(c) AS n FROM cnt
    ), docs AS (
      SELECT doc_id, string_split(text, ' ') AS arr
      FROM documents WHERE text IS NOT NULL
    ), bg AS (
      SELECT doc_id,
             unnest(arr[1:len(arr)-1]) AS w1,
             unnest(arr[2:len(arr)]) AS w2
      FROM docs
    ), bc AS (
      SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
    ), cx AS (
      SELECT w1, sum(c12) AS ctx, count(*) AS n1p FROM bc GROUP BY w1
    ), model AS (
      SELECT bc.w1, bc.w2,
             (bc.c12 - 0.75) / cx.ctx
             + (0.75 * cx.n1p / cx.ctx) * (cnt.c * 1.0 / tot.n) AS p
      FROM bc JOIN cx USING (w1) JOIN cnt ON cnt.tok = bc.w2, tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(p)), 4) AS nll
    FROM bg JOIN model USING (w1, w2)
    GROUP BY doc_id
    """,
)
def q_text_perplexity_bigram(spark, sf_dir):
    """Bigram language-model fluency scoring with ABSOLUTE-DISCOUNT
    backoff (the KenLM shape, VERDICT r13 item 5): train bigram
    probabilities on the corpus, discount each observed bigram count by
    D=0.75 and redistribute the held-out mass through the unigram model —
    P(w2|w1) = (c(w1,w2)-D)/ctx(w1) + D·N1+(w1)/ctx(w1) · P_uni(w2) —
    then score every document by mean negative log-likelihood over its
    adjacent-token pairs.  Real pretraining fluency filters are n-gram
    LMs with backoff, not unigram bags: a doc of common words in
    impossible ORDER scores fluent under q_text_perplexity and is only
    caught here.

    Scale shape (the q_tokenizer_apply plan): the model is the OBSERVED-
    BIGRAM table — vocab²-bounded and Heaps'-law sparse in practice — so
    it broadcasts; docs explode to adjacent pairs map-side (one
    slice/transform over the token array, no self-join, no posexplode
    shuffle), meet the broadcast model in a map-side hash join, and
    aggregate back per doc.  Three vocab-bounded shuffles total (unigram,
    bigram, context), one doc-keyed aggregate; scoring never shuffles the
    corpus.  Docs with <2 tokens have no bigram evidence and drop out
    (same convention as the oracle's inner join).

    Backoff exactness note: scoring the training corpus means every
    scored pair was observed (c12 >= 1), so the model row carries the
    FULL interpolated probability — the backoff term is exercised through
    the redistribution mass, not an unseen-pair branch; both engines
    compute the identical closed form.

    Reference scope: no text surface in the reference facade
    (api/router/router.go:9-55); backoff extension of q_text_perplexity
    (shared unigram CTE family)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = cnt.agg(F.sum("c").alias("n"))
    # adjacent-pair extraction map-side: slice handles 1-token docs (empty
    # slice -> no rows) without sequence()'s descending-range pitfall
    bg = (
        d.filter(F.col("text").isNotNull())
        .withColumn("arr", F.split("text", " "))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(arr, 1, size(arr) - 1),"
                    " (x, i) -> struct(x AS w1, arr[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cx = bc.groupBy("w1").agg(
        F.sum("c12").alias("ctx"), F.count("*").alias("n1p")
    )
    uni = cnt.select(F.col("tok").alias("w2"), F.col("c").alias("cu"))
    p = (F.col("c12") - 0.75) / F.col("ctx") + (
        0.75 * F.col("n1p") / F.col("ctx")
    ) * (F.col("cu") * 1.0 / F.col("n"))
    model = (
        bc.join(cx, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", p.alias("p"))
    )
    return (
        bg.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            r4(F.avg(-F.log(F.col("p")))).alias("nll"),
        )
    )


@query(
    "q_dedup_keep_best",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware exact dedup: among byte-identical documents keep the
    BEST representative (longest, then lowest doc_id for determinism), not
    an arbitrary one — the production variant of q_dedup_exact (survivor
    choice matters when duplicates differ in metadata/source quality).

    One hash-partitioned window over md5(text) — same shuffle as the plain
    dedup aggregate; the ORDER BY adds only an in-partition sort."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "q_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g')) AS norm_text,
           md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS norm_hash
    FROM documents
    """,
)
def q_text_normalize(spark, sf_dir):
    """Canonical text normalization (lowercase, strip non-alphanumerics,
    collapse whitespace) + the normalized content hash — the
    pre-deduplication canonicalization step: exact dedup over norm_hash
    catches case/punctuation-only duplicates that byte-hashing misses.
    Map-only chain of JVM regexp_replace; at 100 TB this is a pure scan."""
    d = t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]", ""), " +", " "
        )
    )
    return d.select(
        "doc_id", norm.alias("norm_text"), F.md5(norm).alias("norm_hash")
    )


@query(
    "q_corpus_report",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, text, n_chars,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_words
      FROM documents WHERE text IS NOT NULL
    ), dup AS (
      SELECT source, md5(text) AS h, count(*) AS c
      FROM d GROUP BY source, md5(text)
    ), dups AS (
      SELECT source,
             CAST(sum(c - 1) AS BIGINT) AS n_exact_dups
      FROM dup GROUP BY source
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           round(avg(n_chars), 4) AS avg_chars,
           round(min(n_chars) * 1.0, 4) AS min_chars,
           round(max(n_chars) * 1.0, 4) AS max_chars,
           max(dups.n_exact_dups) AS n_exact_dups
    FROM d JOIN dups ON d.source = dups.source
    GROUP BY d.source
    """,
)
def q_corpus_report(spark, sf_dir):
    """Per-source corpus report card: doc/word volumes, length envelope,
    and within-source exact-duplicate count — the one-page profiling
    table a data curator reads before deciding mixture weights and
    filter thresholds for each source.

    Scale shape: two hash aggregates keyed by source (+md5 for the dup
    tier), both map-combined; the join between them carries |sources|
    rows. Nothing here is wider than the dedup hash pass the corpus
    already runs."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            "text",
            "n_chars",
            F.size(
                F.filter(F.split("text", " "), lambda w: w != "")
            ).alias("n_words"),
        )
    )
    dups = (
        d.groupBy("source", F.md5("text").alias("h"))
        .agg(F.count("*").alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") - 1).cast("long").alias("n_exact_dups"))
    )
    stats = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        r4(F.avg("n_chars")).alias("avg_chars"),
        r4(F.min("n_chars") * 1.0).alias("min_chars"),
        r4(F.max("n_chars") * 1.0).alias("max_chars"),
    )
    return stats.join(dups, "source").select(
        "source", "n_docs", "n_words", "avg_chars", "min_chars",
        "max_chars", "n_exact_dups",
    )


@query(
    "q_text_langid_eval",
    oracle=f"""
    WITH pred AS (
      SELECT lang, {_langid_case_sql()} AS pred_lang
      FROM (SELECT lang, {_langid_scores_sql()} FROM documents
            WHERE text IS NOT NULL)
    )
    SELECT lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang), 4)
             AS frac_of_actual
    FROM pred GROUP BY lang, pred_lang
    """,
)
def q_text_langid_eval(spark, sf_dir):
    """Language-ID confusion matrix: the classifier-QA table for
    q_text_langid — per (actual, predicted) pair, counts and the share of
    the actual language they represent (diagonal = per-class recall).
    Every heuristic classifier in a curation pipeline needs this readout
    before its predictions gate real filtering decisions.

    Scale shape: the marker scoring is the same map-only pass as
    q_text_langid; the matrix is a <=|langs|^2-group aggregate and the
    recall share a window over that tiny matrix. Output is bounded by
    |langs|^2 regardless of corpus size."""
    from pyspark.sql import Window

    # Align with the oracle's `text IS NOT NULL`: q_text_langid emits a
    # row for every doc (a NULL text scores -1 on every marker and still
    # argmaxes), so restrict to docs that actually have text.
    with_text = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id")
    )
    preds = q_text_langid(spark, sf_dir).join(with_text, "doc_id", "semi")
    m = preds.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang")
    return m.select(
        "lang",
        "pred_lang",
        "n",
        r4(F.col("n") * 1.0 / F.sum("n").over(w)).alias("frac_of_actual"),
    )


@query(
    "q_text_zipf",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token
      FROM documents WHERE text IS NOT NULL),
    tf AS (
      SELECT token, count(*) AS n FROM tok WHERE token <> '' GROUP BY token),
    ranked AS (
      SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rk
      FROM tf),
    top AS (SELECT rk, n FROM ranked WHERE rk <= 100),
    fit AS (
      SELECT CAST(count(*) AS DOUBLE) AS k,
             sum(ln(rk)) AS sx, sum(ln(n)) AS sy,
             sum(ln(rk) * ln(n)) AS sxy, sum(ln(rk) * ln(rk)) AS sxx
      FROM top)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM tf)  AS n_distinct_tokens,
           (SELECT CAST(sum(n) AS BIGINT) FROM tf)    AS total_tokens,
           (SELECT token FROM ranked WHERE rk = 1)    AS top_token,
           (SELECT CAST(n AS BIGINT) FROM ranked WHERE rk = 1) AS top_n,
           round(CASE WHEN k * sxx - sx * sx = 0 THEN NULL
                      ELSE (k * sxy - sx * sy) / (k * sxx - sx * sx) END,
                 4) AS zipf_slope
    FROM fit
    """,
)
def q_text_zipf(spark, sf_dir):
    """Corpus token-frequency health check: vocabulary size, token volume,
    the modal token, and the Zipf exponent — the log-log OLS slope of
    frequency vs rank over the top-100 ranks. Natural text sits near -1;
    a flat slope flags synthetic/templated corpora, a cliff flags
    boilerplate domination — the one-number drift alarm a curator tracks
    per crawl snapshot.

    Scale shape: token explode + ONE map-combined hash aggregate (the
    shuffle carries |distinct tokens| partial counts, not token
    positions); the top-100 comes back via TakeOrderedAndProject (per-
    partition heads, never a global sort); the regression then runs on a
    100-row frame whose single-partition window costs nothing. The three
    1-row frames (totals, fit, rank-1) meet in broadcast nested-loop
    joins — bounded build sides, map-only at any corpus size
    (CARTESIAN_OK in tests/test_plans.py).

    ln() of exact integer rank/count values is bit-identical across
    engines; the only cross-engine float work is the 100-term regression
    sums, rounded to 4 dp like every float aggregate in the registry."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("token").agg(F.count("*").alias("n"))

    totals = tf.agg(
        F.count("*").cast("bigint").alias("n_distinct_tokens"),
        F.sum("n").cast("bigint").alias("total_tokens"),
    )
    top = tf.orderBy(F.desc("n"), "token").limit(100)
    ranked = top.select(
        "token", "n", F.row_number().over(Window.orderBy(F.desc("n"), "token")).alias("rk")
    )
    lx = F.log(F.col("rk").cast("double"))
    ly = F.log(F.col("n").cast("double"))
    fit = ranked.agg(
        F.count("*").cast("double").alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = fit.select(
        F.round(
            F.when(den == 0, F.lit(None)).otherwise(
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / den
            ),
            4,
        ).alias("zipf_slope")
    )
    first = ranked.filter(F.col("rk") == 1).select(
        F.col("token").alias("top_token"), F.col("n").cast("bigint").alias("top_n")
    )
    return totals.crossJoin(first).crossJoin(slope).select(
        "n_distinct_tokens", "total_tokens", "top_token", "top_n", "zipf_slope"
    )


@query(
    "q_text_vocab_growth",
    oracle="""
    WITH mx AS (
      SELECT max(doc_id) + 1 AS n_docs FROM documents
    ), tok AS (
      SELECT CAST(least(9, floor(doc_id * 10 / (SELECT n_docs FROM mx))) AS INT)
               AS decile,
             unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), vol AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS tokens
      FROM tok GROUP BY decile
    ), firsts AS (
      SELECT token, min(decile) AS fb FROM tok GROUP BY token
    ), novel AS (
      SELECT fb AS decile, CAST(count(*) AS BIGINT) AS new_types
      FROM firsts GROUP BY fb
    )
    SELECT vol.decile, vol.tokens,
           CAST(sum(vol.tokens) OVER (ORDER BY vol.decile) AS BIGINT)
             AS tokens_cum,
           CAST(coalesce(novel.new_types, 0) AS BIGINT) AS new_types,
           CAST(sum(coalesce(novel.new_types, 0)) OVER (ORDER BY vol.decile)
                AS BIGINT) AS vocab_cum,
           round(sum(coalesce(novel.new_types, 0)) OVER (ORDER BY vol.decile)
                 * 1.0 / sum(vol.tokens) OVER (ORDER BY vol.decile), 4)
             AS ttr_cum
    FROM vol LEFT JOIN novel USING (decile)
    ORDER BY vol.decile
    """,
)
def q_text_vocab_growth(spark, sf_dir):
    """Vocabulary-saturation curve (Heaps'-law audit): the corpus is cut
    into 10 doc_id-ordered deciles and each reports its token volume,
    NEW types (tokens first seen in that decile), and the cumulative
    vocabulary + type-token ratio — a vocabulary that keeps growing
    linearly means the crawl is still finding new content; a flat tail
    means more data adds volume but no diversity (the decision input for
    "is another snapshot worth ingesting?", and the growth-side
    complement of q_text_zipf's frequency-shape alarm).

    Scale shape: the decile label is a map-side expression against one
    broadcast scalar (max doc_id — NOT ntile, which would funnel the
    corpus through one window partition); token first-appearance is one
    map-combined min() per token (the same shuffle q_text_tokens' count
    uses); everything after collapses to 10 rows and the cumulative
    windows run on that frame."""
    d = t(spark, sf_dir, "documents")
    mx = d.select((F.max("doc_id") + 1).alias("n_docs"))
    tok = d.join(F.broadcast(mx)).select(
        F.least(F.lit(9), F.floor(F.col("doc_id") * 10 / F.col("n_docs")))
        .cast("int")
        .alias("decile"),
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    )
    vol = tok.groupBy("decile").agg(F.count("*").cast("bigint").alias("tokens"))
    novel = (
        tok.groupBy("token")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").cast("bigint").alias("new_types"))
    )
    from pyspark.sql import Window

    wc = Window.orderBy("decile")
    nt = F.coalesce(F.col("new_types"), F.lit(0))
    return (
        vol.join(novel, "decile", "left")
        .select(
            "decile",
            "tokens",
            F.sum("tokens").over(wc).cast("bigint").alias("tokens_cum"),
            nt.cast("bigint").alias("new_types"),
            F.sum(nt).over(wc).cast("bigint").alias("vocab_cum"),
            F.round(
                F.sum(nt).over(wc) * 1.0 / F.sum("tokens").over(wc), 4
            ).alias("ttr_cum"),
        )
        .orderBy("decile")
    )


@query(
    "q_text_lang_mixture",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ), s AS (
      SELECT source, lang, n,
             round(n * 1.0 / sum(n) OVER (PARTITION BY source), 4) AS share,
             row_number() OVER (PARTITION BY source
                                ORDER BY n DESC, lang) AS rk,
             sum(n) OVER (PARTITION BY source) AS tot
      FROM c
    )
    SELECT source, lang, n, share,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS is_dominant,
           round(sum(-1.0 * (n * 1.0 / tot) * ln(n * 1.0 / tot) / ln(2))
                 OVER (PARTITION BY source), 4) AS src_entropy
    FROM s ORDER BY source, lang
    """,
)
def q_text_lang_mixture(spark, sf_dir):
    """Language-mixture matrix per source: doc count and share per
    (source, lang), the dominant language flag, and the source's language
    ENTROPY (bits) — the mixture drift alarm per crawl source (entropy
    jump = a domain started serving mixed/mistagged content; the input
    that q_data_mixture's sampling weights assume is stable).

    Scale shape: ONE map-combined (source, lang) count collapses the
    corpus; every window after runs on that |sources| x |langs| frame.
    Entropy terms use exact n/tot ratios with one 4-dp rounding site per
    source; dominance ties break on lang name."""
    from pyspark.sql import Window

    c = t(spark, sf_dir, "documents").groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    ws = Window.partitionBy("source")
    wr = Window.partitionBy("source").orderBy(F.desc("n"), "lang")
    p = F.col("n") * 1.0 / F.sum("n").over(ws)
    return (
        c.select(
            "source",
            "lang",
            "n",
            F.round(p, 4).alias("share"),
            F.when(F.row_number().over(wr) == 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_dominant"),
            F.round(
                F.sum(-p * F.log2(p)).over(ws), 4
            ).alias("src_entropy"),
        )
        .orderBy("source", "lang")
    )


WINNOW_K = 3  # shingle width (tokens per k-gram)
WINNOW_W = 4  # winnowing window (k-grams per selection window)


def _winnow_select(g):
    """Robust-winnowing selection over a (doc_id, pos, h) gram frame:
    for every full window of WINNOW_W consecutive grams, keep the
    window's minimum hash (rightmost position on ties), then distinct.

    Plan shape (the 100 TB point): a single sliding ROWS-frame window
    aggregate `min(struct(h, -pos))` partitioned by doc_id — ONE
    doc_id shuffle+sort, O(WINNOW_W) comparisons per gram, linear in
    doc length.  The previous formulation joined anchors to grams on
    doc_id alone with the position band as a join RESIDUAL, which
    enumerated |grams| x |anchors| pairs per document — quadratic in
    doc LENGTH (VERDICT r11 'Performance'); a plan-shape test
    (tests/test_plans.py) pins the join-free shape.  Tie-break: the
    struct min compares md5-hex lexicographically then -pos ascending,
    i.e. rightmost gram among equal hashes — robust winnowing per
    Schleimer/Wilkerson/Aiken §2.3."""
    from pyspark.sql import Window as W

    frame = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, WINNOW_W - 1)
    )
    m = W.partitionBy("doc_id")
    return (
        g.withColumn(
            "best",
            F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(frame),
        )
        .withColumn("m", F.count("*").over(m))
        .filter(F.col("pos") <= F.col("m") - (WINNOW_W - 1))
        .select(
            "doc_id",
            (-F.col("best.np")).alias("pos"),
            F.col("best.h").alias("h"),
        )
        .distinct()
    )


@query(
    "q_text_winnow",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(ws, i, i + {WINNOW_K - 1}), ' ')) AS h
      FROM tok, unnest(generate_series(1, len(ws) - {WINNOW_K - 1}))
           AS t(i)
      WHERE len(ws) >= {WINNOW_K}),
    g2 AS (SELECT *, count(*) OVER (PARTITION BY doc_id) AS m FROM g),
    sel AS (
      SELECT DISTINCT doc_id, pos, h FROM (
        SELECT a.doc_id, b.pos, b.h,
               row_number() OVER (PARTITION BY a.doc_id, a.pos
                                  ORDER BY b.h, b.pos DESC) AS rn
        FROM g2 a JOIN g b ON a.doc_id = b.doc_id
         AND b.pos BETWEEN a.pos AND a.pos + {WINNOW_W - 1}
        WHERE a.pos <= a.m - {WINNOW_W - 1}
      ) WHERE rn = 1),
    hd AS (SELECT DISTINCT doc_id, h FROM sel),
    sh AS (SELECT h, count(*) AS nd FROM hd GROUP BY h),
    per AS (
      SELECT hd.doc_id, count(*) AS n_hashes,
             count(*) FILTER (nd >= 2) AS n_shared
      FROM hd JOIN sh USING (h) GROUP BY hd.doc_id),
    fps AS (SELECT doc_id, count(*) AS n_fps FROM sel GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(n_fps, 0) AS BIGINT)    AS n_fingerprints,
           CAST(coalesce(n_hashes, 0) AS BIGINT) AS n_hashes,
           CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared
    FROM documents d LEFT JOIN fps USING (doc_id) LEFT JOIN per USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q_text_winnow(spark, sf_dir):
    """WINNOWING fingerprints (Schleimer/Wilkerson/Aiken — the MOSS
    algorithm): slide a window of {WINNOW_W} consecutive
    {WINNOW_K}-gram hashes and keep each window's minimum (rightmost on
    ties — "robust winnowing"), guaranteeing any shared substring of
    length >= {WINNOW_K}+{WINNOW_W}-1 tokens leaves a shared
    fingerprint while storing only ~2/({WINNOW_W}+1) of the grams.
    Emits per doc the selected-position count, distinct hash count, and
    how many of its hashes appear in OTHER docs — the copy-detection
    candidate signal; the minhash/simhash family answers set-similarity,
    winnowing answers SUBSTRING-match.

    Determinism: hashes are md5 HEX STRINGS, compared lexicographically
    on both engines — the portable-hash convention of the dedup family;
    selection is an exact per-window argmin with (hash, pos DESC)
    ordering, realized as a SLIDING ROWS-frame window aggregate
    `min(struct(h, -pos)) OVER (PARTITION BY doc_id ORDER BY pos ROWS
    BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)` — NO join at
    all: one doc_id sort, O(w) comparisons per gram, linear in doc
    LENGTH (the r11 band-join formulation enumerated grams x anchors
    per doc — quadratic in length — before filtering; plan pinned by
    tests/test_plans.py).

    Scale shape: everything is doc-local until the final shared-hash
    aggregate, whose shuffle carries only DISTINCT (doc, selected-hash)
    pairs (~2/(w+1) of gram volume); output is one row per document.
    Docs shorter than {WINNOW_K}+{WINNOW_W}-1 tokens yield zero
    fingerprints (no full window) — stated contract.

    Reference scope: no text surface in the reference (Go metadata
    facade, api/router/router.go:9-55); substring-match sibling of
    q_text_fingerprint (min-shingle) and q_dedup_fuzzy (MinHash)."""
    from pyspark.sql import Window as W

    tok = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= WINNOW_K)
    )
    g = tok.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(ws) - {WINNOW_K - 1}),"
                f" i -> md5(array_join(slice(ws, i, {WINNOW_K}), ' ')))"
            )
        ).alias("p0", "h"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    sel = _winnow_select(g)
    hd = sel.select("doc_id", "h").distinct()
    sh = hd.groupBy("h").agg(F.count("*").alias("nd"))
    per = (
        hd.join(sh, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hashes"),
            F.count(F.when(F.col("nd") >= 2, 1)).alias("n_shared"),
        )
    )
    fps = sel.groupBy("doc_id").agg(F.count("*").alias("n_fps"))
    docs = t(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(fps, "doc_id", "left")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fingerprints"),
            F.coalesce("n_hashes", F.lit(0)).cast("long").alias("n_hashes"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        )
        .orderBy("doc_id")
    )


WINNOW_MAX_DF = 10  # frequent-fingerprint cap (hot-hash hygiene)
WINNOW_MIN_SHARED = 3  # candidate threshold: shared fingerprints


@query(
    "q_dedup_winnow_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(ws, i, i + {WINNOW_K - 1}), ' ')) AS h
      FROM tok, unnest(generate_series(1, len(ws) - {WINNOW_K - 1}))
           AS t(i)
      WHERE len(ws) >= {WINNOW_K}),
    g2 AS (SELECT *, count(*) OVER (PARTITION BY doc_id) AS m FROM g),
    sel AS (
      SELECT DISTINCT doc_id, pos, h FROM (
        SELECT a.doc_id, b.pos, b.h,
               row_number() OVER (PARTITION BY a.doc_id, a.pos
                                  ORDER BY b.h, b.pos DESC) AS rn
        FROM g2 a JOIN g b ON a.doc_id = b.doc_id
         AND b.pos BETWEEN a.pos AND a.pos + {WINNOW_W - 1}
        WHERE a.pos <= a.m - {WINNOW_W - 1}
      ) WHERE rn = 1),
    hd AS (SELECT DISTINCT doc_id, h FROM sel),
    hc AS (SELECT h, count(*) AS nd FROM hd GROUP BY h),
    rare AS (SELECT hd.doc_id, hd.h FROM hd JOIN hc USING (h)
             WHERE nd BETWEEN 2 AND {WINNOW_MAX_DF})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared
    FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_winnow_pairs(spark, sf_dir):
    """Winnowing-based COPY-CANDIDATE pairs — q_text_winnow turned into a
    dedup candidate generator: documents sharing >= {WINNOW_MIN_SHARED}
    selected fingerprints (each fingerprint witnessing a shared
    >= {WINNOW_K}+{WINNOW_W}-1-token substring) pair up with their
    shared count.  Complements the MinHash family: LSH finds
    SET-similar documents, winnowing finds documents sharing literal
    PASSAGES even when the rest differs completely — the
    quote/boilerplate/partial-copy case MinHash dilutes away.

    Scale hygiene (the phash hot-bucket precedent): fingerprints
    appearing in more than {WINNOW_MAX_DF} documents are excluded from
    pairing BEFORE the self-join — a ubiquitous boilerplate passage
    would otherwise pair quadratically; the cap is a df-bounded join on
    rare hashes, so candidate volume is sum over rare hashes of
    nd^2 <= {WINNOW_MAX_DF} x selected volume.  Everything upstream is
    the q_text_winnow doc-local pipeline.

    Reference scope: no text surface in the reference (Go metadata
    facade, api/router/router.go:9-55); substring-candidate sibling of
    q_dedup_fuzzy (MinHash-LSH) and q_multimodal_phash_dedup (chunked
    hamming)."""
    from pyspark.sql import Window as W

    tok = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= WINNOW_K)
    )
    g = tok.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(ws) - {WINNOW_K - 1}),"
                f" i -> md5(array_join(slice(ws, i, {WINNOW_K}), ' ')))"
            )
        ).alias("p0", "h"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    sel = _winnow_select(g)
    hd = sel.select("doc_id", "h").distinct()
    hc = hd.groupBy("h").agg(F.count("*").alias("nd"))
    rare = hd.join(
        hc.filter(
            (F.col("nd") >= 2) & (F.col("nd") <= WINNOW_MAX_DF)
        ),
        "h",
    ).select("doc_id", "h")
    ra = rare.select(F.col("doc_id").alias("doc_a"), "h")
    rb = rare.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        ra.join(rb, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= WINNOW_MIN_SHARED)
        .select("doc_a", "doc_b", F.col("shared").cast("long").alias("shared"))
        .orderBy("doc_a", "doc_b")
    )


COLL_MIN_COUNT = 30  # bigram support floor before a PMI score is trusted
COLL_TOP = 40  # collocations reported


@query(
    "q_text_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT unnest(ws) AS w FROM toks
    ),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    tot AS (SELECT sum(c) AS n FROM ucnt),
    big AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    ),
    bcnt AS (
      SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2
      HAVING count(*) >= {COLL_MIN_COUNT}
    ),
    btot AS (SELECT sum(c12) AS nb FROM (SELECT w1, w2, count(*) AS c12
                                         FROM big GROUP BY w1, w2))
    SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS n_pair,
           round(ln((CAST(b.c12 AS DOUBLE) / bt.nb)
                    / ((CAST(u1.c AS DOUBLE) / t.n)
                       * (CAST(u2.c AS DOUBLE) / t.n))), 4) AS pmi
    FROM bcnt b
    JOIN ucnt u1 ON u1.w = b.w1
    JOIN ucnt u2 ON u2.w = b.w2
    CROSS JOIN tot t CROSS JOIN btot bt
    ORDER BY pmi DESC, b.w1, b.w2 LIMIT {COLL_TOP}
    """,
)
def q_text_collocations(spark, sf_dir):
    """COLLOCATION mining: the top-{COLL_TOP} adjacent word bigrams by
    pointwise mutual information, support-floored at {COLL_MIN_COUNT}
    occurrences — PMI = ln(p(w1w2) / (p(w1)p(w2))) surfaces word pairs
    that co-occur far above chance (multiword expressions, templates),
    the collocation primitive behind phrase-aware tokenizers and
    boilerplate detection.  Word-level sibling of q_evt_pmi (event
    baskets) and q_text_bpe_pairs (character pairs).

    Determinism: all probabilities are ratios of exact integer counts;
    both engines evaluate the identical ln() on the identical binary64
    quotient, 4dp; ordering on the rounded score with (w1, w2) tiebreaks.

    Scale shape: one explode + map-combined count for unigrams, one
    shifted-zip explode + count for bigrams (both shuffle |vocab|- and
    |vocab|²-bounded frames, Heaps-bounded in practice); the PMI join is
    vocab-sized and broadcast-able; top-k = TakeOrderedAndProject.

    Reference scope: no text surface in the reference (Go metadata
    facade, api/router/router.go:9-55); north-star curation sibling of
    q_text_tfidf / q_text_bpe_pairs."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    )
    uni = toks.select(F.explode("ws").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c"))
    tot = ucnt.agg(F.sum("c").alias("n"))
    # size guard: Spark's sequence(1, 0) DESCENDS (ws[-1] crash on
    # single-token docs — perturbed-fixture catch), where DuckDB's
    # generate_series(1, 0) is empty; the filter makes both contribute
    # nothing for <2-token docs.
    big = (
        toks.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bcnt_all = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    btot = bcnt_all.agg(F.sum("c12").alias("nb"))
    bcnt = bcnt_all.filter(F.col("c12") >= COLL_MIN_COUNT)
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c12").cast("double") / F.col("nb"))
        / (
            (F.col("c1").cast("double") / F.col("n"))
            * (F.col("c2").cast("double") / F.col("n"))
        )
    )
    return (
        bcnt.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(tot))
        .join(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("n_pair"),
            F.round(pmi, 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(COLL_TOP)
    )


BURST_MIN_DOCS = 20  # document-frequency floor for a stable dispersion
BURST_TOP = 30  # burstiest tokens reported


@query(
    "q_text_burstiness",
    oracle=f"""
    WITH percnt AS (
      SELECT doc_id, w, count(*) AS c FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents)
      GROUP BY doc_id, w
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    st AS (
      SELECT w, count(*) AS df, sum(c) AS tf, sum(c * c) AS tf2
      FROM percnt GROUP BY w
      HAVING count(*) >= {BURST_MIN_DOCS}
    )
    SELECT w AS token, CAST(df AS BIGINT) AS df, CAST(tf AS BIGINT) AS tf,
           round((CAST(tf2 AS DOUBLE) - CAST(tf AS DOUBLE) * tf / n.n_docs)
                 / (n.n_docs - 1)
                 / (CAST(tf AS DOUBLE) / n.n_docs), 4) AS vmr
    FROM st CROSS JOIN nd n
    ORDER BY vmr DESC, token LIMIT {BURST_TOP}
    """,
)
def q_text_burstiness(spark, sf_dir):
    """Token BURSTINESS: the variance-to-mean ratio (index of dispersion)
    of per-document counts, zeros included — VMR ≈ 1 is Poisson
    background vocabulary; VMR >> 1 marks CONTENT/topic words that
    cluster into few documents (and template boilerplate), the classic
    corpus-linguistics signal quality filters and keyword extractors key
    on.  Top-{BURST_TOP} by dispersion, document-frequency floor
    {BURST_MIN_DOCS}.

    Determinism: zero-count docs enter via the algebraic identity —
    with S = Σc, Q = Σc² over OCCURRING docs and N total docs,
    var = (Q - S²/N)/(N-1) and mean = S/N — so no spine join is needed
    and every input is an exact integer; one shared binary64 expression,
    4dp, (vmr, token) ordering.

    Scale shape: one (doc, token) count (map-combined explode), one
    token-keyed moment aggregate, a 1-row N broadcast; top-k =
    TakeOrderedAndProject.  Nothing is corpus-sized after the first agg.

    Reference scope: no text surface in the reference (Go metadata
    facade, api/router/router.go:9-55); dispersion sibling of
    q_text_zipf (frequency law) and q_text_tfidf (per-doc salience)."""
    d = t(spark, sf_dir, "documents")
    percnt = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    nd = d.agg(F.count("*").alias("n_docs"))
    st = (
        percnt.groupBy("w")
        .agg(
            F.count("*").alias("df"),
            F.sum("c").alias("tf"),
            F.sum(F.col("c") * F.col("c")).alias("tf2"),
        )
        .filter(F.col("df") >= BURST_MIN_DOCS)
    )
    ndocs = F.col("n_docs")
    tf, tf2 = F.col("tf").cast("double"), F.col("tf2").cast("double")
    vmr = ((tf2 - tf * F.col("tf") / ndocs) / (ndocs - 1)) / (tf / ndocs)
    return (
        st.join(F.broadcast(nd))
        .select(
            F.col("w").alias("token"),
            F.col("df").cast("bigint").alias("df"),
            F.col("tf").cast("bigint").alias("tf"),
            F.round(vmr, 4).alias("vmr"),
        )
        .orderBy(F.desc("vmr"), "token")
        .limit(BURST_TOP)
    )


FILTER_SWEEP_GRID = (10, 20, 50, 100, 200)  # min-token thresholds


@query(
    "q_text_filter_sweep",
    oracle=f"""
    WITH x AS (
      SELECT len(string_split(text, ' ')) AS toks
      FROM documents WHERE text IS NOT NULL),
    tot AS (SELECT count(*) AS n, sum(toks) AS tk FROM x),
    g AS (SELECT unnest(ARRAY{list(FILTER_SWEEP_GRID)}) AS min_toks)
    SELECT g.min_toks,
           CAST(count(CASE WHEN x.toks >= g.min_toks THEN 1 END) AS BIGINT)
             AS n_kept,
           round(count(CASE WHEN x.toks >= g.min_toks THEN 1 END) * 1.0
                 / max(tot.n), 4) AS doc_share,
           round(coalesce(sum(CASE WHEN x.toks >= g.min_toks
                              THEN x.toks END), 0) * 1.0
                 / max(tot.tk), 4) AS token_share
    FROM x, g, tot GROUP BY g.min_toks ORDER BY g.min_toks
    """,
)
def q_text_filter_sweep(spark, sf_dir):
    """Quality-filter THRESHOLD SWEEP: for a grid of minimum-token
    cutoffs, the docs and tokens the corpus would retain — the tuning
    table a curation pipeline builds before committing to a length
    filter (the q_dedup_eval_sweep discipline applied to quality
    filtering: measure the knob's retention curve in ONE pass, don't
    re-run the pipeline per candidate value).

    Scale shape: one corpus scan computes the per-doc token count; the
    grid is a {len(FILTER_SWEEP_GRID)}-row broadcast fan-out and every
    threshold's counts partial-aggregate map-side — |grid| output rows
    regardless of corpus size.  Exact integer counts; shares are two
    exact-int divisions.

    Reference scope: no curation surface in the reference facade
    (api/router/router.go:9-55); sweep sibling of q_dedup_eval_sweep and
    q_text_filter (the committed single-threshold filter)."""
    x = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.size(F.split("text", " ")).alias("toks"))
    )
    grid = spark.createDataFrame(
        [(g,) for g in FILTER_SWEEP_GRID], "min_toks int"
    )
    kept = F.count(F.when(F.col("toks") >= F.col("min_toks"), 1))
    kept_tk = F.coalesce(
        F.sum(F.when(F.col("toks") >= F.col("min_toks"), F.col("toks"))),
        F.lit(0),
    )
    # totals folded INTO the one aggregate (r13 ADVICE): the grid
    # fan-out replicates every doc into every min_toks group, so the
    # per-group count(*) / sum(toks) ARE the corpus totals — no separate
    # driver-side collect, one corpus scan per invocation.
    return (
        x.join(F.broadcast(grid))
        .groupBy("min_toks")
        .agg(
            kept.alias("n_kept"),
            F.round(kept * 1.0 / F.count("*"), 4).alias("doc_share"),
            F.round(kept_tk * 1.0 / F.sum("toks"), 4).alias("token_share"),
        )
        .orderBy("min_toks")
    )


# -- RAKE keyword extraction (r16) --------------------------------------------

RAKE_TOP = 20
# Fixed stopword list shared verbatim by both engines (phrase delimiters).
RAKE_STOP = (
    "the a an and or of to in is it for on with as at by be this that are "
    "was from but not have has had were will would can could should i you "
    "he she we they".split()
)


def _rake_oracle() -> str:
    stoplist = ", ".join(f"'{w}'" for w in RAKE_STOP)
    return f"""
    WITH d AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')
               AS ws
      FROM documents WHERE text IS NOT NULL),
    tp AS (
      SELECT doc_id, i AS pos, ws[i] AS w
      FROM d, unnest(generate_series(1, len(ws))) AS t(i)),
    mk AS (
      SELECT doc_id, pos, w,
             CASE WHEN NOT regexp_full_match(w, '[a-z]+')
                       OR w IN ({stoplist}) THEN 1 ELSE 0 END AS is_delim
      FROM tp),
    runs AS (
      SELECT doc_id, pos, w, is_delim,
             sum(is_delim) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS run
      FROM mk),
    pw AS (SELECT doc_id, run, pos, w FROM runs WHERE is_delim = 0),
    phr AS (
      SELECT doc_id, run, string_agg(w, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM pw GROUP BY doc_id, run),
    wstat AS (
      SELECT pw.w, count(*) AS freq, sum(phr.plen) AS deg
      FROM pw JOIN phr USING (doc_id, run)
      GROUP BY pw.w),
    wscore AS (
      SELECT w, round(CAST(deg AS DOUBLE) / freq, 4) AS s FROM wstat),
    inst AS (
      SELECT pw.doc_id, pw.run, sum(ws.s) AS sc
      FROM pw JOIN wscore ws ON ws.w = pw.w
      GROUP BY pw.doc_id, pw.run),
    agg AS (
      SELECT phr.phrase, max(phr.plen) AS n_words,
             count(*) AS n_occurrences, round(max(inst.sc), 4) AS score
      FROM phr JOIN inst USING (doc_id, run)
      GROUP BY phr.phrase)
    SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_occurrences AS BIGINT) AS n_occurrences, score
    FROM agg ORDER BY score DESC, phrase LIMIT {RAKE_TOP}
    """


@query("q_text_rake", oracle=_rake_oracle())
def q_text_rake(spark, sf_dir):
    """RAKE keyword extraction over the document corpus (Rose et al.
    2010): candidate phrases are maximal runs of non-stopword alpha
    tokens (stopwords, digits and punctuation delimit); each word scores
    deg(w)/freq(w) — degree counts phrase co-membership mass, so words
    that appear inside LONG multi-word phrases outrank equally-frequent
    loners — and a phrase scores the sum of its member word scores.
    Top-{RAKE_TOP} corpus keyphrases with occurrence counts: the
    vocabulary-free keyword extractor (no IDF table, no training) that
    complements q_text_tfidf (per-doc terms) and q_text_collocations
    (PMI bigrams).

    Determinism: run segmentation is an integer cumulative delimiter
    count (the sessionize trick); word scores are single divisions of
    exact longs ROUNDED to 4 dp before the phrase sum, so the sum
    accumulates exact-4-dp multiples (order noise ~1e-12 vs the 0.5e-4
    midpoint gap) and every phrase instance scores identically; ranking
    is (rounded score DESC, phrase).

    Scale shape: tokenize-and-explode is map-side; phrase assembly is
    one (doc, run)-keyed aggregate; word stats one token-keyed
    map-combined aggregate; the phrase-score join is token-keyed.
    Nothing exceeds O(tokens) rows and the output is a fixed top-K.

    Reference scope: no text surface in the reference facade
    (api/router/router.go:9-55); keyword sibling of q_text_tfidf and
    q_text_collocations."""
    from pyspark.sql import Window as W

    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.regexp_extract_all(
                F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
            ).alias("ws"),
        )
    )
    tp = d.select("doc_id", F.posexplode("ws").alias("pos", "w"))
    mk = tp.withColumn(
        "is_delim",
        F.when(
            ~F.col("w").rlike("^[a-z]+$") | F.col("w").isin(RAKE_STOP), 1
        ).otherwise(0),
    )
    runw = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pw = (
        mk.withColumn("run", F.sum("is_delim").over(runw))
        .filter(F.col("is_delim") == 0)
        .select("doc_id", "run", "pos", "w")
    )
    phr = pw.groupBy("doc_id", "run").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    wstat = (
        pw.join(phr.select("doc_id", "run", "plen"), ["doc_id", "run"])
        .groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
    )
    wscore = wstat.select(
        "w", F.round(F.col("deg").cast("double") / F.col("freq"), 4).alias("s")
    )
    inst = (
        pw.join(wscore, "w")
        .groupBy("doc_id", "run")
        .agg(F.sum("s").alias("sc"))
    )
    agg = (
        phr.join(inst, ["doc_id", "run"])
        .groupBy("phrase")
        .agg(
            F.max("plen").cast("long").alias("n_words"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.round(F.max("sc"), 4).alias("score"),
        )
    )
    return agg.orderBy(F.desc("score"), "phrase").limit(RAKE_TOP)


# -- readability scoring (r16 wave 3) -----------------------------------------


@query(
    "q_text_readability",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
             len(regexp_extract_all(text, '[.!?]+')) AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE)
                            / greatest(n_sentences, 1))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / greatest(n_words, 1)), 4) AS flesch
    FROM d ORDER BY doc_id
    """,
)
def q_text_readability(spark, sf_dir):
    """FLESCH READING-EASE scoring per document — the grade-level
    heuristic every corpus-quality pipeline carries next to
    q_text_quality's length/punct ratios (a pretraining mix skewed to
    degenerate reading levels is a data bug): 206.835 - 1.015*(words/
    sentences) - 84.6*(syllables/words), with the standard portable
    approximations (sentences = [.!?]+ runs, syllables = vowel-group
    [aeiouy]+ runs — deterministic regex counts, no dictionary), and
    greatest(·,1) guards for fragment docs.

    Determinism: all three counts are exact integers from the same
    regexes on both engines; the score is one mirrored float expression
    under a 4-dp round (midpoint-audited at birth).

    Scale shape: pure map-side per-doc expression work — no shuffle, no
    state; the scan vectorizes and the output is row-per-doc.

    Reference scope: no text surface in the reference facade
    (api/router/router.go:9-55); quality sibling of q_text_quality and
    q_text_stats."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.size(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
            ).alias("n_words"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)
            ).alias("n_sentences"),
            F.size(
                F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)
            ).alias("n_syllables"),
        )
    )
    return d.select(
        "doc_id",
        F.col("n_sentences").cast("long").alias("n_sentences"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_syllables").cast("long").alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (
                F.col("n_words").cast("double")
                / F.greatest(F.col("n_sentences"), F.lit(1))
            )
            - F.lit(84.6)
            * (
                F.col("n_syllables").cast("double")
                / F.greatest(F.col("n_words"), F.lit(1))
            ),
            4,
        ).alias("flesch"),
    ).orderBy("doc_id")
