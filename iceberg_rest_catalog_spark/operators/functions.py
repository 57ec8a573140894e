"""Scalar function packs (SURVEY.md §2.B "Scalar functions").

All functions are built-in ``pyspark.sql.functions`` — JVM-side, inside
whole-stage codegen; no Python in the hot path. Each pack touches one fixture
table and returns per-row computed columns so the oracle hash verifies every
function's value on every row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from .common import r4, t


@query(
    "q_fn_string",
    oracle="""
    SELECT p_partkey,
           substr(p_name, 1, 5)                    AS name5,
           upper(p_name)                           AS name_up,
           lower(p_brand)                          AS brand_lo,
           p_name || '/' || p_type                 AS name_type,
           length(p_name)                          AS name_len,
           lpad(CAST(p_size AS VARCHAR), 4, '0')   AS size_pad,
           replace(p_name, ' ', '_')               AS name_us,
           regexp_extract(p_name, '([a-z]+)$', 1)  AS last_word,
           array_to_string(string_split(p_name, ' '), '|') AS tokens
    FROM part
    """,
)
def q_fn_string(spark, sf_dir):
    """substr / upper / lower / concat / length / lpad / replace /
    regexp_extract / split."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 5).alias("name5"),
        F.upper("p_name").alias("name_up"),
        F.lower("p_brand").alias("brand_lo"),
        F.concat_ws("/", "p_name", "p_type").alias("name_type"),
        F.length("p_name").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.array_join(F.split("p_name", " "), "|").alias("tokens"),
    )


@query(
    "q_fn_date",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                         AS yr,
           month(o_orderdate)                        AS mo,
           day(o_orderdate)                          AS dy,
           date_trunc('month', o_orderdate)          AS month_start,
           datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since,
           o_orderdate + INTERVAL 30 DAY             AS plus30,
           CAST(CAST(last_day(o_orderdate) AS DATE) AS VARCHAR) AS month_end,
           CAST(epoch(o_orderdate) AS BIGINT)        AS unix_ts
    FROM orders
    """,
)
def q_fn_date(spark, sf_dir):
    """year/month/day, date_trunc, datediff, interval add, last_day, epoch."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus30"),
        # stringified: a DATE output column round-trips through pandas as a
        # midnight timestamp in DuckDB but a date object in Spark
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias("unix_ts"),
    )


@query(
    "q_fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 2)                        AS price2,
           abs(l_discount - 0.05)                           AS abs_dev,
           CAST(ceil(l_extendedprice) AS BIGINT)            AS price_ceil,
           CAST(floor(l_extendedprice) AS BIGINT)           AS price_floor,
           mod(l_linenumber, 3)                             AS ln_mod3,
           round(pow(l_quantity, 2), 4)                     AS qty_sq,
           round(sqrt(l_extendedprice), 4)                  AS price_sqrt,
           round(ln(l_extendedprice + 1), 4)                AS price_ln,
           round(log10(l_extendedprice + 1), 4)             AS price_log10,
           CAST(sign(l_discount - 0.05) AS BIGINT)          AS disc_sign
    FROM lineitem
    """,
)
def q_fn_math(spark, sf_dir):
    """round / abs / ceil / floor / mod / pow / sqrt / ln / log10 / sign."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price2"),
        F.abs(F.col("l_discount") - 0.05).alias("abs_dev"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        (F.col("l_linenumber") % 3).alias("ln_mod3"),
        r4(F.pow("l_quantity", F.lit(2))).alias("qty_sq"),
        r4(F.sqrt(F.col("l_extendedprice"))).alias("price_sqrt"),
        r4(F.log(F.col("l_extendedprice") + 1)).alias("price_ln"),
        r4(F.log10(F.col("l_extendedprice") + 1)).alias("price_log10"),
        # BIGINT on BOTH sides: Spark signum returns DOUBLE, DuckDB sign
        # returns TINYINT — value-equal but hash-divergent under the
        # driver's dtype-aware canonicalization (red r6 row).
        F.signum(F.col("l_discount") - 0.05).cast("bigint").alias("disc_sign"),
    )


@query(
    "q_fn_cond",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END                                   AS bal_band,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER')    AS seg_or_other,
           greatest(c_acctbal, 1000.0)                            AS bal_floor1k,
           least(c_acctbal, 5000.0)                               AS bal_cap5k
    FROM customer
    """,
)
def q_fn_cond(spark, sf_dir):
    """CASE WHEN / coalesce / nullif / greatest / least."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.greatest("c_acctbal", F.lit(1000.0)).alias("bal_floor1k"),
        F.least("c_acctbal", F.lit(5000.0)).alias("bal_cap5k"),
    )


@query(
    "q_fn_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS DOUBLE)                    AS key_dbl,
           CAST(trunc(o_totalprice) AS BIGINT)           AS price_int, -- Spark cast truncates; DuckDB's rounds
           CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) AS price_dec_str,
           CAST(o_orderkey AS VARCHAR)                   AS key_str,
           CAST(o_orderdate AS VARCHAR)                  AS ts_str,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR)    AS date_str
    FROM orders
    """,
)
def q_fn_cast(spark, sf_dir):
    """Casts across long/double/decimal/string/timestamp/date."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.col("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_totalprice").cast("decimal(14,2)").cast("string").alias("price_dec_str"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderdate").cast("string").alias("ts_str"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
    )


@query(
    "q_fn_array",
    oracle="""
    SELECT p_partkey,
           unnest(string_split(p_name, ' '))                     AS token,
           len(string_split(p_name, ' '))                        AS n_tokens,
           string_split(p_name, ' ')[1]                          AS first_token,
           array_to_string(list_sort(string_split(p_name, ' ')), ',') AS sorted_tokens,
           list_contains(string_split(p_name, ' '), 'red')       AS has_red
    FROM part
    """,
)
def q_fn_array(spark, sf_dir):
    """array creation (split) / explode / size / element_at / array_sort /
    array_contains; arrays are stringified for engine-agnostic comparison."""
    p = t(spark, sf_dir, "part").withColumn("arr", F.split("p_name", " "))
    return p.select(
        "p_partkey",
        F.explode("arr").alias("token"),
        F.size("arr").alias("n_tokens"),
        F.element_at("arr", 1).alias("first_token"),
        F.array_join(F.array_sort("arr"), ",").alias("sorted_tokens"),
        F.array_contains("arr", "red").alias("has_red"),
    )


@query(
    "q_fn_map",
    # The projected output is all strings, so the oracle states the expected
    # values directly — the map round-trip under test happens Spark-side.
    oracle="""
    SELECT p_partkey, 'brand,type' AS keys,
           p_brand AS brand_val, p_type AS type_val
    FROM part
    """,
)
def q_fn_map(spark, sf_dir):
    """map creation / map_keys / element_at."""
    p = t(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return p.select(
        "p_partkey",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys"),
        F.element_at(m, "brand").alias("brand_val"),
        F.element_at(m, "type").alias("type_val"),
    )


@query(
    "q_fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                 AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT)    AS k_int,
           json_extract_string(props, '$.missing')           AS missing
    FROM events
    """,
)
def q_fn_json(spark, sf_dir):
    """JSON extraction from the events.props VARCHAR-JSON column."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


@query(
    "q_fn_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255                       AS key_and,
           l_orderkey | 15                        AS key_or,
           xor(l_orderkey, l_linenumber)          AS key_xor,
           l_linenumber << 4                      AS ln_shl,
           l_orderkey >> 2                        AS key_shr,
           bit_count(l_orderkey)                  AS key_bits
    FROM lineitem WHERE l_orderkey <= 2000
    """,
)
def q_fn_bitwise(spark, sf_dir):
    """Bitwise ops: AND / OR / XOR / shifts / popcount."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey").bitwiseAND(255)).alias("key_and"),
        (F.col("l_orderkey").bitwiseOR(15)).alias("key_or"),
        (F.col("l_orderkey").bitwiseXOR(F.col("l_linenumber"))).alias("key_xor"),
        F.shiftleft(F.col("l_linenumber"), 4).alias("ln_shl"),
        F.shiftright(F.col("l_orderkey"), 2).alias("key_shr"),
        F.bit_count("l_orderkey").alias("key_bits"),
    )


@query(
    "q_sql_cte",
    oracle="""
    WITH cust_orders AS (
      SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment,
           count(*)                      AS n_customers,
           round(avg(co.n_orders), 4)    AS avg_orders,
           round(max(co.total), 4)       AS max_total
    FROM cust_orders co JOIN customer c ON co.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_sql_cte(spark, sf_dir):
    """SQL-interface path: the same engine consumed through spark.sql with
    CTEs over registered views — Catalyst compiles it to the identical plan
    the DataFrame API produces."""
    from ..io import load_table

    for name in ("orders", "customer"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"icsb_{name}")
    return spark.sql(
        """
        WITH cust_orders AS (
          SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total
          FROM icsb_orders GROUP BY o_custkey
        )
        SELECT c.c_mktsegment,
               count(*)                   AS n_customers,
               round(avg(co.n_orders), 4) AS avg_orders,
               round(max(co.total), 4)    AS max_total
        FROM cust_orders co JOIN icsb_customer c ON co.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """
    )


@query(
    "q_fn_hash",
    oracle="""
    SELECT doc_id,
           md5(text)                 AS h_md5,
           sha256(text)              AS h_sha256,
           substr(md5(text), 1, 8)   AS h_short
    FROM documents
    """,
)
def q_fn_hash(spark, sf_dir):
    """Cryptographic/content hash pack: md5 + sha256 + truncated digest —
    the primitives behind content-addressed dedup and cache keys."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2(F.col("text").cast("binary"), 256).alias("h_sha256"),
        F.substring(F.md5("text"), 1, 8).alias("h_short"),
    )


@query(
    "q_sql_recursive",
    oracle="""
    WITH RECURSIVE bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
    ), spine(d) AS (
      SELECT lo FROM bounds
      UNION ALL
      SELECT d + INTERVAL 1 DAY FROM spine, bounds WHERE d < hi
    ), daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1
    )
    SELECT strftime(spine.d, '%Y-%m-%d') AS day,
           CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events
    FROM spine LEFT JOIN daily ON spine.d = daily.d
    """,
)
def q_sql_recursive(spark, sf_dir):
    """Recursive CTE (Spark 4 WITH RECURSIVE): build a dense day spine
    over the events date range, then gap-fill daily counts with zeros —
    the standard time-series densification a dashboard needs (missing
    days must show as 0, not vanish). The recursion is bounded by the
    date range, independent of event volume; the daily aggregate is one
    hash agg over the corpus."""
    spark.sql("SET spark.sql.legacy.parquet.nanosAsLong=true")
    t(spark, sf_dir, "events").createOrReplaceTempView("v_events")
    return spark.sql("""
      WITH RECURSIVE bounds AS (
        SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
        FROM v_events
      ), spine(d) AS (
        SELECT lo FROM bounds
        UNION ALL
        SELECT d + INTERVAL 1 DAY FROM spine, bounds WHERE d < hi
      ), daily AS (
        SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM v_events GROUP BY 1
      )
      SELECT date_format(spine.d, 'yyyy-MM-dd') AS day,
             coalesce(daily.n, 0) AS n_events
      FROM spine LEFT JOIN daily ON spine.d = daily.d
    """)


@query(
    "q_fn_variant",
    oracle="""
    WITH j AS (
      SELECT o_orderkey,
             '{"cust": ' || o_custkey || ', "price": ' || round(o_totalprice, 2)
             || ', "meta": {"status": "' || o_orderstatus || '"}}' AS payload
      FROM orders WHERE o_orderkey <= 300
    )
    SELECT o_orderkey,
           CAST(json_extract(payload, '$.cust') AS BIGINT)   AS cust,
           CAST(json_extract(payload, '$.price') AS DOUBLE)  AS price,
           json_extract_string(payload, '$.meta.status')     AS status,
           CAST(json_extract(payload, '$.missing') AS BIGINT) AS missing
    FROM j
    """,
)
def q_fn_variant(spark, sf_dir):
    """Semi-structured VARIANT columns (Spark 4 / Iceberg v3's new type):
    JSON payloads parse once into the binary variant encoding, then typed
    path extraction (`try_variant_get`) replaces repeated string JSON
    parsing — the shape for ingesting heterogeneous event payloads at
    scale (parse once, extract many, no schema migration per new field).
    Missing paths yield typed NULLs, never errors."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    payload = F.concat(
        F.lit('{"cust": '), F.col("o_custkey").cast("string"),
        F.lit(', "price": '), F.round("o_totalprice", 2).cast("string"),
        F.lit(', "meta": {"status": "'), F.col("o_orderstatus"), F.lit('"}}'),
    )
    v = o.select("o_orderkey", F.parse_json(payload).alias("v"))
    return v.select(
        "o_orderkey",
        F.try_variant_get("v", "$.cust", "long").alias("cust"),
        F.try_variant_get("v", "$.price", "double").alias("price"),
        F.try_variant_get("v", "$.meta.status", "string").alias("status"),
        F.try_variant_get("v", "$.missing", "long").alias("missing"),
    )


@query(
    "q_fn_regexp",
    oracle="""
    SELECT doc_id,
           coalesce(array_to_string(regexp_extract_all(text, '[0-9]+'), ','),
                    CASE WHEN text IS NOT NULL THEN '' END) AS nums,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_words,
           regexp_replace(text, '[aeiou]', '', 'g')            AS no_vowels,
           regexp_matches(text, '[0-9]')                       AS has_digit,
           regexp_extract(text, '^([a-z]+)', 1)                AS first_word
    FROM documents
    """,
)
def q_fn_regexp(spark, sf_dir):
    """Regex function family over document text: extract-ALL (array
    result, stringified per the q_fn_array convention for
    engine-agnostic comparison), match counting, GLOBAL replace,
    boolean match, anchored capture — the surface q_fn_string's single
    regexp_extract doesn't cover.  Dialect note: patterns stay in the character-class/anchor
    subset where Java regex (Spark) and RE2 (DuckDB) agree; DuckDB's
    regexp_replace needs the explicit 'g' flag to match Spark's
    always-global semantics, and its array_to_string yields NULL on an
    empty array where Spark's array_join yields '' (the oracle coalesces
    to '' only for non-NULL text: NULL text stays NULL on both engines).
    All map-only, whole-stage codegen'd — no Python.

    Reference scope: no expression surface in the reference (Go metadata
    facade, api/router/router.go:9-55); [CAP] row alongside q_fn_string."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_join(
            F.regexp_extract_all("text", F.lit("[0-9]+"), 0), ","
        ).alias("nums"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0))
        .cast("int")
        .alias("n_words"),
        F.regexp_replace("text", "[aeiou]", "").alias("no_vowels"),
        F.col("text").rlike("[0-9]").alias("has_digit"),
        F.regexp_extract("text", "^([a-z]+)", 1).alias("first_word"),
    )


@query(
    "q_sql_lateral",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber,
           round(l.l_extendedprice, 4) AS price
    FROM orders o, LATERAL (
      SELECT l_linenumber, l_extendedprice FROM lineitem
      WHERE l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
    WHERE o.o_orderkey <= 200
    """,
)
def q_sql_lateral(spark, sf_dir):
    """Correlated LATERAL subquery in FROM — per outer row, a dependent
    top-2 ("each order's two priciest line items"), the SQL surface
    behind dependent-join APIs.  Both engines parse the identical ANSI
    LATERAL syntax; Catalyst DECORRELATES the dependent join into a
    partitioned rank (DomainJoin -> window rn<=2 over l_orderkey), so
    the executed plan is the q_win_topk_per_group shuffle — one
    order-key exchange, no per-row re-execution.  Ties break
    (price DESC, linenumber) so the kept pair is engine-stable.

    Reference scope: SQL-interface [CAP] row (the reference is a Go
    metadata facade, api/router/router.go:9-55); syntax sibling of
    q_sql_cte / q_sql_recursive."""
    from ..io import load_table

    for name in ("orders", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"icsb_{name}")
    return spark.sql(
        """
        SELECT o.o_orderkey, l.l_linenumber,
               round(l.l_extendedprice, 4) AS price
        FROM icsb_orders o, LATERAL (
          SELECT l_linenumber, l_extendedprice FROM icsb_lineitem
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
        WHERE o.o_orderkey <= 200
        """
    )


@query(
    "q_fn_struct",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             struct_pack(status := o_orderstatus,
                         price := round(o_totalprice, 4)) AS st,
             struct_pack(cust := struct_pack(ck := o_custkey,
                                             seg := o_orderpriority),
                         yr := CAST(year(o_orderdate) AS INTEGER)) AS nested
      FROM orders WHERE o_orderkey <= 300)
    SELECT o_orderkey,
           st.status AS status, st.price AS price,
           nested.cust.ck AS cust_key, nested.cust.seg AS seg,
           nested.yr AS yr,
           (st < struct_pack(status := 'O', price := 100000.0)) AS lt_probe
    FROM s ORDER BY o_orderkey
    """,
)
def q_fn_struct(spark, sf_dir):
    """STRUCT (record) function family: construction, nested
    construction, field extraction through two levels, and struct
    ORDERING (lexicographic field-by-field compare) — the record-type
    surface q_fn_array / q_fn_map / q_fn_variant leave uncovered.
    Output is scalar-only per the harness contract: structs are built
    and compared inside the plan, fields extracted back out (the
    checker's non-scalar sweep rejects emitting the struct itself).

    Dialect note: Spark `struct(... as name)` == DuckDB
    `struct_pack(name := ...)`; both engines order structs by field
    position then value, so the `<` probe against a literal record is
    engine-stable; the probe's price is a round constant representable
    exactly in binary64.

    Reference scope: no expression surface in the reference (Go metadata
    facade, api/router/router.go:9-55); [CAP] row with the function
    family."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    st = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 4).alias("price"),
    )
    nested = F.struct(
        F.struct(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderpriority").alias("seg"),
        ).alias("cust"),
        F.year("o_orderdate").cast("int").alias("yr"),
    )
    probe = F.struct(F.lit("O").alias("status"), F.lit(100000.0).alias("price"))
    return (
        o.select("o_orderkey", st.alias("st"), nested.alias("nested"))
        .select(
            "o_orderkey",
            F.col("st.status").alias("status"),
            F.col("st.price").alias("price"),
            F.col("nested.cust.ck").alias("cust_key"),
            F.col("nested.cust.seg").alias("seg"),
            F.col("nested.yr").alias("yr"),
            (F.col("st") < probe).alias("lt_probe"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_fn_url",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/' || lang || '/doc/'
               || CAST(doc_id AS VARCHAR) || '?k=' || CAST(n_chars AS VARCHAR)
               || '&lang=' || lang AS url
      FROM documents WHERE doc_id <= 300
    )
    SELECT doc_id, url,
           regexp_extract(url, '^([a-z]+)://', 1) AS protocol,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]k=([^&]*)', 1) AS k_param
    FROM u ORDER BY doc_id
    """,
)
def q_fn_url(spark, sf_dir):
    """URL function family: protocol / host / path / query extraction and
    single-parameter lookup with Spark's native ``parse_url`` (JVM-side
    java.net.URI parsing, codegen'd) over URLs synthesized
    deterministically from fixture fields — the log-enrichment shape
    every clickstream pipeline runs on its raw request column.

    Oracle: DuckDB has no parse_url, so the oracle mirrors each
    component with an anchored regexp — equality across the 300-URL
    frame proves the regex spec and Java's URI parser agree on this
    grammar (absolute http(s) URLs with a single query string), which is
    exactly the contract the synthesized column guarantees.

    Scale shape: map-only codegen end to end; no shuffle at all.

    Reference scope: no function surface in the reference (Go metadata
    facade, api/router/router.go:9-55); completes the function-family
    axis (string/regexp/date/math/cond/cast/array/map/json/bitwise/
    hash/variant/struct) with the URL family."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?k="),
        F.col("n_chars").cast("string"),
        F.lit("&lang="),
        F.col("lang"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("k")).alias("k_param"),
    ).orderBy("doc_id")


@query(
    "q_fn_encode",
    oracle="""
    SELECT n_nationkey,
           base64(n_name::BLOB) AS b64,
           decode(from_base64(base64(n_name::BLOB))) AS b64_back,
           hex(n_name) AS hex_name,
           unhex(hex(n_name))::VARCHAR AS hex_back,
           CAST(ascii(n_name) AS INT) AS first_ascii,
           chr(CAST(65 + n_nationkey % 26 AS INT)) AS bucket_chr,
           lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded_key
    FROM nation ORDER BY n_nationkey
    """,
)
def q_fn_encode(spark, sf_dir):
    """Binary/text ENCODING function family: base64 + from_base64 round
    trip, hex + unhex round trip, ascii, chr, lpad — the
    interchange-format functions every landing-zone pipeline uses to
    carry binary keys and fixed-width identifiers through text systems.
    All map-only codegen'd expressions; round trips prove both
    directions value-exact against the independent engine.

    Reference scope: function plurality next to q_fn_string/q_fn_hash
    (no expression surface in the reference facade,
    api/router/router.go:9-55)."""
    n = t(spark, sf_dir, "nation")
    b64 = F.base64(F.col("n_name").cast("binary"))
    return n.select(
        "n_nationkey",
        b64.alias("b64"),
        F.unbase64(b64).cast("string").alias("b64_back"),
        F.hex(F.col("n_name")).alias("hex_name"),
        F.unhex(F.hex(F.col("n_name"))).cast("string").alias("hex_back"),
        F.ascii("n_name").alias("first_ascii"),
        F.chr(65 + F.col("n_nationkey") % 26).alias("bucket_chr"),
        F.lpad(F.col("n_nationkey").cast("string"), 4, "0").alias("padded_key"),
    ).orderBy("n_nationkey")


@query(
    "q_fn_lambda",
    oracle="""
    WITH g AS (
      SELECT l_orderkey, list(l_quantity ORDER BY l_quantity) AS qs
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey,
           CAST(len(qs) AS INT) AS n_items,
           CAST(list_reduce(qs, (a, b) -> a + b) AS BIGINT) AS total_qty,
           CAST(len(list_filter(qs, q -> q >= 30)) AS INT) AS n_big,
           CAST(list_reduce(list_transform(qs, q -> q * q), (a, b) -> a + b)
                AS BIGINT) AS sum_sq,
           len(list_filter(qs, q -> q >= 49)) > 0 AS has_jumbo,
           CAST(qs[1] + qs[-1] AS BIGINT) AS min_plus_max
    FROM g ORDER BY l_orderkey
    """,
)
def q_fn_lambda(spark, sf_dir):
    """HIGHER-ORDER FUNCTION family (lambda expressions over arrays):
    aggregate (fold), transform (map), filter, exists and element
    indexing over each order's sorted quantity array — the JVM-side
    array-programming surface that keeps per-row collection logic OUT of
    Python UDFs (the q_udf_* family exists to show the slow path; this
    is the fast one).

    Determinism: the array is value-sorted (collect_list order is
    partition-dependent, the classic nondeterminism trap), quantities
    are integer-valued doubles so every fold is exact, and folds start
    from 0.0 on the Spark side — 0.0 + q == q exactly, matching DuckDB's
    init-free list_reduce pairing.

    Scale shape: one l_orderkey hash aggregate (arrays bounded at 7
    lines by the data model); every lambda is map-only expression work.

    Reference scope: no expression surface in the reference facade
    (api/router/router.go:9-55); family sibling of q_fn_array."""
    g = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("l_quantity")).alias("qs"))
    )
    qs = F.col("qs")
    fold = F.aggregate(qs, F.lit(0.0), lambda a, v: a + v)
    sum_sq = F.aggregate(
        F.transform(qs, lambda q: q * q), F.lit(0.0), lambda a, v: a + v
    )
    return g.select(
        "l_orderkey",
        F.size(qs).alias("n_items"),
        fold.cast("long").alias("total_qty"),
        F.size(F.filter(qs, lambda q: q >= 30)).alias("n_big"),
        sum_sq.cast("long").alias("sum_sq"),
        F.exists(qs, lambda q: q >= 49).alias("has_jumbo"),
        (F.element_at(qs, 1) + F.element_at(qs, -1)).cast("long").alias(
            "min_plus_max"
        ),
    ).orderBy("l_orderkey")


@query(
    "q_fn_format",
    oracle="""
    SELECT n_nationkey,
           printf('%05d|%s|%08.2f', n_nationkey, n_name,
                  n_nationkey * 1.5) AS tagged,
           repeat(substr(n_name, 1, 2), 3) AS repeated,
           reverse(n_name) AS reversed_name,
           translate(n_name, 'AEIOU', 'aeiou') AS lowered_vowels,
           CAST(strlen(n_name) AS INT) AS name_len
    FROM nation ORDER BY n_nationkey
    """,
)
def q_fn_format(spark, sf_dir):
    """STRING FORMATTING family: printf-style format_string (zero-padded
    ints, fixed-width floats), repeat, reverse, translate, length — the
    report/export-layer functions that turn keys into fixed-width codes
    and display strings.  All map-only codegen'd expressions; the printf
    grammar is the shared C subset both engines implement identically
    for %d/%s/%f conversions.

    Reference scope: function plurality next to q_fn_string/q_fn_encode
    (no expression surface in the reference facade,
    api/router/router.go:9-55)."""
    n = t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.format_string(
            "%05d|%s|%08.2f",
            F.col("n_nationkey"),
            F.col("n_name"),
            F.col("n_nationkey") * 1.5,
        ).alias("tagged"),
        F.repeat(F.substring("n_name", 1, 2), 3).alias("repeated"),
        F.reverse(F.col("n_name")).alias("reversed_name"),
        F.translate("n_name", "AEIOU", "aeiou").alias("lowered_vowels"),
        F.length("n_name").alias("name_len"),
    ).orderBy("n_nationkey")


@query(
    "q_fn_try",
    oracle="""
    SELECT o_orderkey,
           try_cast(CASE WHEN o_orderkey % 1000 = 0 THEN o_orderpriority
                         ELSE CAST(o_orderkey % 97 AS VARCHAR) END AS INT)
             AS mostly_clean_int,
           try_cast(substr(o_orderpriority, 1, 1) AS INT) AS prio_digit,
           round(o_totalprice / (o_orderkey % 5), 4) AS per_bucket,
           nullif(o_orderkey % 3, 0) AS mod3_or_null
    FROM orders
    """,
)
def q_fn_try(spark, sf_dir):
    """ERROR-SAFE expression family: try_cast (malformed input -> NULL,
    never a task failure), NULL-propagating division by zero
    (try_divide), and nullif — the functions that keep a 100 TB batch
    job alive through the dirty 0.001% of rows instead of dying at hour
    three on one bad cast (the ANSI-strict failure mode).

    Both engines agree by construction: DuckDB's '/' yields NULL on
    zero divisors exactly like Spark's try_divide, and try_cast is the
    shared name.  The cast column is MOSTLY CLEAN with a 0.1% malformed
    stripe ('1-URGENT'-style strings) — the realistic dirty-data shape,
    and deliberately so for cost: Spark's try_cast failure path is an
    internal exception (~10 us/row), so an always-failing cast is ~20x
    the wall of a mostly-clean one (measured 1.34 s vs 0.07 s per 150k
    rows at sf0.1).  The always-malformed arm stays exercised through
    the stripe; the digit cast succeeds on every row.

    Reference scope: no expression surface in the reference facade
    (api/router/router.go:9-55); safety sibling of q_fn_cast (the
    strict-cast family)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            "try_cast(CASE WHEN o_orderkey % 1000 = 0 THEN o_orderpriority"
            " ELSE CAST(o_orderkey % 97 AS STRING) END AS INT)"
        ).alias("mostly_clean_int"),
        F.expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").alias(
            "prio_digit"
        ),
        F.round(
            F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 5), 4
        ).alias("per_bucket"),
        F.nullif(F.col("o_orderkey") % 3, F.lit(0)).alias("mod3_or_null"),
    )
