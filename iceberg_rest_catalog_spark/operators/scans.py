"""Scans, sources and sinks (SURVEY.md §2.B "Scans / sources / sinks").

Capability basis: the reference catalogs tables precisely so engines can scan
them with pruning (partition spec: reference api/handlers/models.go:66,
tables.go:102-104; sort order for row-group skipping: models.go:67).

Scale notes: projection and predicate queries are written so Catalyst pushes
them into the parquet scan (verify: PushedFilters / ReadSchema in explain);
the partitioned sink uses directory partitioning so the read-back filter is a
PartitionFilter (zero data files touched outside the selected partition).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from .common import cached_parquet, cached_warehouse, scratch_dir, t


@query(
    "q_scan_full",
    oracle="SELECT * FROM lineitem",
)
def q_scan_full(spark, sf_dir):
    """Full table scan of lineitem."""
    return t(spark, sf_dir, "lineitem")


@query(
    "q_scan_project",
    oracle="SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem",
)
def q_scan_project(spark, sf_dir):
    """Column projection — ReadSchema must shrink to the 3 columns."""
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )


@query(
    "q_scan_filter",
    oracle="""
    SELECT l_orderkey, l_shipdate, l_quantity
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def q_scan_filter(spark, sf_dir):
    """Predicate pushdown scan — PushedFilters must carry the range."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )


def _year_partitioned_orders(spark, sf_dir) -> str:
    """Path of the build-once copy of orders partitioned by o_year, shared
    by q_scan_partition_prune and q_scan_runtime_filter."""
    return cached_parquet(
        sf_dir, "part_orders",
        lambda: t(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate")),
        "o_year",
    )


@query(
    "q_scan_partition_prune",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice,
           CAST(year(o_orderdate) AS INT) AS o_year
    FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def q_scan_partition_prune(spark, sf_dir):
    """Write orders partitioned by year, read back with a partition filter.

    The read-back plan prunes directories (PartitionFilters: [o_year = 1997]);
    at 100 TB this is the difference between scanning one year and all years.
    """
    back = spark.read.parquet(_year_partitioned_orders(spark, sf_dir))
    return back.filter(F.col("o_year") == 1997).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 4).alias("o_totalprice"),
        F.col("o_year").cast("int").alias("o_year"),
    )


@query(
    "q_sink_parquet",
    oracle="SELECT * FROM supplier",
)
def q_sink_parquet(spark, sf_dir):
    """Write + read-back round trip preserves rows and schema exactly."""
    out = scratch_dir("sink_supplier", sf_dir)
    t(spark, sf_dir, "supplier").write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal, c_mktsegment
    FROM customer
    """,
)
def q_sink_partitioned(spark, sf_dir):
    """Partitioned write honoring a partition spec (reference models.go:66),
    sorted within partitions per the write-order contract (models.go:67) so
    parquet min/max stats stay tight for row-group skipping."""
    out = scratch_dir("sink_customer", sf_dir)
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    # Repartition by (partition key, salt) — NOT by the 5-value key alone,
    # which would collapse the write into ≤5 tasks (≈20 TB/task at 100 TB).
    # The salt spreads each directory over several writer tasks while still
    # keeping files-per-directory bounded (= salt buckets, not shuffle width).
    (
        cust.repartition(F.col("c_mktsegment"), F.pmod(F.hash("c_custkey"), F.lit(8)))
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .partitionBy("c_mktsegment")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.select(
        "c_custkey", "c_name", F.round("c_acctbal", 4).alias("c_acctbal"), "c_mktsegment"
    )


@query(
    "q_scan_stats_prune",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_totalprice >= 400000.0
    """,
)
def q_scan_stats_prune(spark, sf_dir):
    """Manifest column-stats file skipping (the Iceberg skip-index model).

    Orders are committed to a cataloged table range-clustered on
    o_totalprice (write order -> tight per-file min/max recorded in the
    snapshot manifest at commit time), then scanned with
    ``column_predicates=[("o_totalprice", ">=", 400000.0)]``: the planner
    drops every file whose manifest max proves it can't match BEFORE Spark
    lists anything, and re-applies the predicate for exact row semantics.
    At 100 TB a selective predicate over a clustered column touches
    O(matching) files, not O(all). The assert pins the pruning (planned
    file set strictly smaller than the full set).
    """
    from ..catalog import NestedField, Schema

    def build(cat):
        cat.create_namespace(("db",))
        sch = Schema(
            0,
            [
                NestedField(1, "o_orderkey", "long"),
                NestedField(2, "o_custkey", "long"),
                NestedField(3, "o_totalprice", "double"),
            ],
        )
        tbl = cat.create_table(
            ("db", "orders_clustered"), sch,
            write_order=[{"name": "o_totalprice", "direction": "asc"}],
        )
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        # range-cluster into 8 files so per-file min/max are disjoint bands
        tbl.append(orders.repartitionByRange(8, "o_totalprice"))

    cat = cached_warehouse(sf_dir, "stats_prune", build)
    tbl = cat.load_table(("db", "orders_clustered"))
    pred = [("o_totalprice", ">=", 400000.0)]
    planned = tbl.plan_files(column_predicates=pred)
    assert len(planned) < len(tbl.plan_files()), "stats pruning had no effect"
    return tbl.scan(spark, column_predicates=pred).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


@query(
    "q_scan_zorder",
    oracle="""
    SELECT l_orderkey, l_partkey,
           round(l_quantity, 4) AS l_quantity,
           round(l_extendedprice, 4) AS l_extendedprice
    FROM lineitem WHERE l_orderkey <= 1200 AND l_partkey <= 300
    """,
)
def q_scan_zorder(spark, sf_dir):
    """Multi-dimensional file skipping via Z-order clustering
    (``Table.rewrite_zorder`` — Iceberg's rewrite_data_files zorder
    strategy).

    A 1-D write order keeps per-file min/max tight on one column only;
    after the Morton-code rewrite every file's bounding box is small in
    BOTH z-dimensions, so the manifest-stats planner skips files for a
    conjunctive predicate on (l_orderkey, l_partkey) — two columns with
    independent value distributions. The scan re-applies the predicate
    exactly, so the oracle is the plain fixture filter; pruning
    effectiveness itself is pinned by ``tests/test_catalog_spark.py``.
    """
    from ..catalog import NestedField, Schema

    def build(cat):
        cat.create_namespace(("db",))
        sch = Schema(
            0,
            [
                NestedField(1, "l_orderkey", "long"),
                NestedField(2, "l_partkey", "long"),
                NestedField(3, "l_quantity", "double"),
                NestedField(4, "l_extendedprice", "double"),
            ],
        )
        tbl = cat.create_table(("db", "lineitem_z"), sch)
        li = t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_partkey",
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
        )
        tbl = tbl.append(li)
        tbl.rewrite_zorder(spark, ["l_orderkey", "l_partkey"], n_files=16)

    tbl = cached_warehouse(sf_dir, "zorder", build).load_table(("db", "lineitem_z"))
    pred = [("l_orderkey", "<=", 1200), ("l_partkey", "<=", 300)]
    return tbl.scan(spark, column_predicates=pred).select(
        "l_orderkey",
        "l_partkey",
        F.round("l_quantity", 4).alias("l_quantity"),
        F.round("l_extendedprice", 4).alias("l_extendedprice"),
    )


@query(
    "q_sink_dynamic_overwrite",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice,
           CAST(year(o_orderdate) AS INT) AS yr,
           CASE WHEN year(o_orderdate) = 1997 THEN 'rewritten'
                ELSE 'original' END AS batch
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def q_sink_dynamic_overwrite(spark, sf_dir):
    """Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION): a
    rewrite of ONE year replaces only that year's directory — every other
    partition survives byte-for-byte untouched (asserted on file mtimes).
    The write mode behind idempotent daily backfills at 100 TB: re-running
    a day's job replaces exactly that day, never truncating the table
    (static overwrite mode would drop all other partitions — the classic
    data-loss footgun this mode exists to fix).

    partitionOverwriteMode=dynamic is set per-write via option(), not
    session-wide, so concurrent writers with different intents don't
    interfere."""
    out = scratch_dir("sink_dynamic", sf_dir)
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.round("o_totalprice", 4).alias("o_totalprice"),
        F.year("o_orderdate").cast("int").alias("yr"),
    )
    # seed: the full table, every year marked 'original'
    orders.withColumn("batch", F.lit("original")).write.mode(
        "overwrite"
    ).partitionBy("yr").parquet(out)
    import glob as _glob
    import os as _os

    before = {
        p: _os.path.getmtime(p)
        for p in _glob.glob(_os.path.join(out, "yr=*", "*.parquet"))
        if "yr=1997" not in p
    }
    # backfill: rewrite ONLY 1997 with the corrected batch label
    (
        orders.filter(F.col("yr") == 1997)
        .withColumn("batch", F.lit("rewritten"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("yr")
        .parquet(out)
    )
    after = {
        p: _os.path.getmtime(p)
        for p in _glob.glob(_os.path.join(out, "yr=*", "*.parquet"))
        if "yr=1997" not in p
    }
    assert before == after, "untouched partitions must survive byte-for-byte"
    return spark.read.parquet(out).select(
        "o_orderkey", "o_totalprice", F.col("yr").cast("int").alias("yr"), "batch"
    )


@query(
    "q_scan_runtime_filter",
    oracle="""
    WITH yr AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n
      FROM orders GROUP BY 1
    ),
    sel AS (SELECT o_year FROM yr WHERE n >= 0.8 * (SELECT avg(n) FROM yr))
    SELECT o.o_year, count(*) AS n_orders,
           round(sum(o.o_totalprice), 4) AS revenue
    FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_totalprice
          FROM orders) o
    JOIN sel USING (o_year)
    GROUP BY o.o_year ORDER BY o.o_year
    """,
)
def q_scan_runtime_filter(spark, sf_dir):
    """Dynamic partition pruning: join the year-partitioned orders fact to
    a dim whose filter ('complete years' — count >= 80% of the per-year
    average, a predicate on a NON-join column so Catalyst cannot push it
    statically) is only knowable at RUNTIME; the fact scan must carry a
    dynamicpruning subquery in its PartitionFilters, skipping the pruned
    year's directories without ever listing their files.

    Why it matters at 100 TB: the static-pruning twin
    (q_scan_partition_prune) covers literal predicates; real star-schema
    filters arrive through dims ("current season", "active tenants") and
    without DPP the fact scan reads EVERY partition and discards rows
    after the join.  The plan-shape test (tests/test_plans.py) pins the
    dynamicpruningexpression, so a regression to a full scan fails CI,
    not production.

    Reuses q_scan_partition_prune's build-once year-partitioned orders
    for the fact; the year dim (with the is_complete flag
    precomputed at prep time — star-schema shape, the flag is DATA, not
    a plan-time literal) is its own tiny parquet, so the DPP benefit
    heuristic sees a cheap build side against the partitioned fact.
    Reference scope: scan planning is the reference's getTable +
    client-side parquet read (tables.go:94-148); runtime pruning is the
    Spark-native upgrade of that path."""

    def year_dim():
        yr = (
            t(spark, sf_dir, "orders")
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.count("*").alias("n"))
        )
        avg = yr.agg(F.avg("n").alias("avg_n"))
        # the flag is stored as the exact MARGIN (n - 0.8*avg_n) rather
        # than a boolean: DPP's isLikelySelective() accepts a literal
        # comparison (margin >= 0) but not a bare boolean attribute, and
        # a boolean equality would be simplified away before
        # PartitionPruning runs.  margin >= 0 is bit-identical to the
        # oracle's n >= 0.8*avg(n): avg of <2^53 integer counts is exact
        # in both engines and the subtraction is Sterbenz-exact at these
        # magnitudes (n within 2x of 0.8*avg) — no rounded-share epsilon
        # band (ADVICE r12).
        return yr.join(F.broadcast(avg)).select(
            "o_year",
            "n",
            (F.col("n") - F.lit(0.8) * F.col("avg_n")).alias("margin"),
        ).coalesce(1)

    back = spark.read.parquet(_year_partitioned_orders(spark, sf_dir))
    dim = (
        spark.read.parquet(cached_parquet(sf_dir, "year_dim", year_dim))
        .filter(F.col("margin") >= 0.0)
        .select("o_year")
    )
    return (
        back.join(F.broadcast(dim), "o_year")
        .groupBy("o_year")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("revenue"))
        .select(F.col("o_year").cast("int").alias("o_year"), "n_orders", "revenue")
        .orderBy("o_year")
    )


@query(
    "q_scan_cache_reuse",
    oracle="""
    WITH base AS (
      SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
    )
    SELECT 'by_flag' AS dim, l_returnflag AS key,
           CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 4) AS qty
    FROM base GROUP BY l_returnflag
    UNION ALL
    SELECT 'by_status', l_linestatus,
           CAST(count(*) AS BIGINT), round(sum(l_quantity), 4)
    FROM base GROUP BY l_linestatus
    ORDER BY dim, key
    """,
)
def q_scan_cache_reuse(spark, sf_dir):
    """CACHED-SCAN REUSE: one filtered projection of lineitem is
    persisted and feeds TWO independent aggregations — the second
    aggregate reads the columnar in-memory cache (InMemoryTableScan,
    plan-shape-pinned in tests/test_plans.py), not the parquet files.
    This is the dashboard/fan-out shape where a shared subplan is
    consumed k times: without persist, Spark re-scans and re-filters the
    fact k times; with it the scan+filter runs ONCE and each consumer
    pays only its own aggregate.

    At 100 TB: cache the SHARED, FILTERED projection (small fraction of
    the table, column-pruned), never the raw fact; storage level
    MEMORY_AND_DISK spills gracefully. The harness unpersists between
    queries (release_persistent_state), mirroring a dashboard's
    session-scoped cache lifetime.

    Reference scope: the reference serves table locations and leaves
    engine-side caching to the engine (tables.go:94-148); this is that
    engine-side capability, exercised and pinned."""
    base = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .persist()
    )
    by_flag = base.groupBy(F.col("l_returnflag").alias("key")).agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("qty")
    )
    by_status = base.groupBy(F.col("l_linestatus").alias("key")).agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("qty")
    )
    return (
        by_flag.select(F.lit("by_flag").alias("dim"), "key", "n", "qty")
        .unionByName(
            by_status.select(F.lit("by_status").alias("dim"), "key", "n", "qty")
        )
        .orderBy("dim", "key")
    )
