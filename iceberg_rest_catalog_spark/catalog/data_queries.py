"""Catalog data-plane queries: snapshot semantics made driver-checkable.

The reference's snapshot lineage (optimistic commits appending snapshots —
reference api/handlers/tables.go:150-227, test/server_test.go:210-225) is
what enables time travel and incremental reads. These ops build a cataloged
table from fixture data, commit two append snapshots, and read back at
different points of the lineage; oracles express the expected contents
directly over the fixture table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from ..operators.common import scratch_dir, t
from ..registry import query
from .catalog import Catalog
from .schema import NestedField, Schema

_ORDERS_SCHEMA = Schema(
    0,
    [
        NestedField(1, "o_orderkey", "long"),
        NestedField(2, "o_custkey", "long"),
        NestedField(3, "o_totalprice", "double"),
    ],
)


def _two_snapshot_table(spark, sf_dir, name: str):
    """Create (idempotently per sf_dir) a cataloged orders subset with two
    append snapshots: keys 1..100, then 101..200."""
    wh = scratch_dir(sf_dir, "catalog_data", name)
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_s"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 100))
        tbl.append(
            orders.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200))
        )
        open(marker, "w").close()
    return cat.load_table(("db", "orders_s"))


@query(
    "q_time_travel",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey <= 100
    """,
)
def q_time_travel(spark, sf_dir):
    """Read the table AS OF snapshot 1 — the second append is invisible."""
    tbl = _two_snapshot_table(spark, sf_dir, "time_travel")
    return tbl.df(spark, snapshot_id=1).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


@query(
    "q_incremental_read",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 200
    """,
)
def q_incremental_read(spark, sf_dir):
    """Files added BETWEEN snapshot 1 and snapshot 2 — the change-data slice
    a streaming consumer of the append log would process."""
    tbl = _two_snapshot_table(spark, sf_dir, "incremental")
    files = sorted(set(tbl._files_at(2)) - set(tbl._files_at(1)))
    paths = [os.path.join(tbl.location, f) for f in files]
    return (
        spark.read.schema(tbl.schema().to_spark())
        .parquet(*paths)
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
        )
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 150
    ), source AS (
      SELECT o_orderkey, o_custkey, round(o_totalprice * 1.1, 4) AS o_totalprice
      FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 200
    )
    SELECT coalesce(s.o_orderkey, t.o_orderkey)              AS o_orderkey,
           coalesce(s.o_custkey, t.o_custkey)                AS o_custkey,
           round(coalesce(s.o_totalprice, t.o_totalprice), 4) AS o_totalprice,
           CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                WHEN s.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END                            AS action
    FROM target t FULL JOIN source s ON t.o_orderkey = s.o_orderkey
    """,
)
def q_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics (upsert) over an Iceberg-style table: matched
    rows update, unmatched source rows insert, unmatched target rows keep.

    Expressed as a full outer join + coalesce — the copy-on-write rewrite a
    lakehouse MERGE compiles to. At 100 TB the join keys on the table's
    partition column so only touched partitions rewrite (partition-scoped
    overwrite via spark.sql.sources.partitionOverwriteMode=dynamic)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    target = o.filter(F.col("o_orderkey") <= 150)
    source = o.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)).select(
        "o_orderkey", "o_custkey", F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice")
    )
    tt, ss = target.alias("t"), source.alias("s")
    return tt.join(ss, "o_orderkey", "full").select(
        F.col("o_orderkey"),
        F.coalesce("s.o_custkey", "t.o_custkey").alias("o_custkey"),
        F.round(F.coalesce("s.o_totalprice", "t.o_totalprice"), 4).alias("o_totalprice"),
        F.when(F.col("t.o_custkey").isNull(), "insert")
        .when(F.col("s.o_custkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


@query(
    "q_schema_evolution_read",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice,
           CAST(NULL AS VARCHAR) AS o_note
    FROM orders WHERE o_orderkey <= 100
    """,
)
def q_schema_evolution_read(spark, sf_dir):
    """Commit a schema evolution (add column) and read OLD files under the
    NEW schema: the added column reads as null, old files stay readable —
    the field-ID evolution contract (SURVEY §1.2)."""
    wh = scratch_dir(sf_dir, "catalog_data", "evolution")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_e"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl.append(orders.filter(F.col("o_orderkey") <= 100))
        new_schema = Schema(
            1, _ORDERS_SCHEMA.fields + [NestedField(4, "o_note", "string")]
        )
        cat.update_table(
            ("db", "orders_e"),
            [{"type": "assert-current-schema-id", "current-schema-id": 0}],
            [
                {"action": "add-schema", "schema": new_schema.to_json()},
                {"action": "set-current-schema", "schema-id": 1},
            ],
        )
        open(marker, "w").close()
    tbl = cat.load_table(("db", "orders_e"))
    return tbl.df(spark).select(
        "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"), "o_note"
    )


@query(
    "q_compact",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey <= 200
    """,
)
def q_compact(spark, sf_dir):
    """Small-file compaction (rewrite_data_files): two append snapshots are
    rewritten into one replace snapshot; contents are identical, file count
    drops, pre-compaction snapshots stay time-travelable. The maintenance
    action that keeps 100 TB tables scannable after streaming ingest."""
    wh = scratch_dir(sf_dir, "catalog_data", "compact")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_c"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 100))
        tbl = tbl.append(
            orders.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200))
        )
        compacted = tbl.compact(spark)
        assert len(compacted._files_at(None)) == 1
        open(marker, "w").close()
    tbl = cat.load_table(("db", "orders_c"))
    return tbl.df(spark).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


def _partitioned_orders_table(spark, sf_dir):
    """Build (idempotently per sf_dir) the year-partitioned orders table
    shared by q_meta_prune and q_meta_partition_stats."""
    from .schema import NestedField as NF
    from .schema import Schema as Sch

    wh = scratch_dir(sf_dir, "catalog_data", "meta_prune")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        sch = Sch(
            0,
            [
                NF(1, "o_orderkey", "long"),
                NF(2, "o_custkey", "long"),
                NF(3, "o_totalprice", "double"),
                NF(4, "o_orderdate", "timestamp"),
            ],
        )
        tbl = cat.create_table(
            ("db", "orders_p"),
            sch,
            partition_spec=[{"name": "o_orderdate", "transform": "year"}],
            write_order=[{"name": "o_orderkey", "direction": "asc"}],
        )
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
        )
        tbl.append(orders.filter(F.col("o_orderkey") <= 2000))
        open(marker, "w").close()
    return cat.load_table(("db", "orders_p"))


@query(
    "q_meta_prune",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey <= 2000 AND year(o_orderdate) = 1997
    """,
)
def q_meta_prune(spark, sf_dir):
    """Metadata-level partition pruning: a cataloged table partitioned by
    year(o_orderdate) records per-file partition values in its snapshot
    manifest; scan(partition_filters={"o_orderdate": "1997"}) selects the
    surviving file paths from METADATA — no directory listing, no footer
    reads outside the chosen year. The Iceberg read-path model."""
    tbl = _partitioned_orders_table(spark, sf_dir)
    return tbl.scan(spark, partition_filters={"o_orderdate": "1997"}).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


@query(
    "q_scd2",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal,
             '2020-01-01' AS valid_from
      FROM customer WHERE c_custkey <= 500
    ),
    updates AS (
      SELECT c_custkey, c_name, round(c_acctbal * 1.1, 4) AS c_acctbal,
             '2024-01-01' AS valid_from
      FROM customer WHERE c_custkey <= 500 AND c_custkey % 3 = 0
    )
    SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from,
           CASE WHEN u.c_custkey IS NULL THEN NULL ELSE '2024-01-01' END AS valid_to,
           u.c_custkey IS NULL AS is_current
    FROM dim d LEFT JOIN updates u ON d.c_custkey = u.c_custkey
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, valid_from,
           CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
    FROM updates
    """,
)
def q_scd2(spark, sf_dir):
    """Slowly-changing-dimension type 2 (CDC history merge) without Delta:
    changed rows are closed (valid_to set, is_current=false) and their new
    versions appended as current — the anti-join + union + window-free
    emulation of MERGE-based SCD2. One broadcast-able join + a union; at
    100 TB the updates side is the small CDC batch and broadcasts."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    dim = c.select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 4).alias("c_acctbal"),
        F.lit("2020-01-01").alias("valid_from"),
    )
    updates = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") * 1.1, 4).alias("c_acctbal"),
            F.lit("2024-01-01").alias("valid_from"),
        )
    )
    u_keys = F.broadcast(updates.select(F.col("c_custkey").alias("u_key")))
    closed_or_kept = (
        dim.join(u_keys, dim.c_custkey == u_keys.u_key, "left")
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "valid_from",
            F.when(F.col("u_key").isNull(), F.lit(None).cast("string"))
            .otherwise("2024-01-01")
            .alias("valid_to"),
            F.col("u_key").isNull().alias("is_current"),
        )
    )
    new_current = updates.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        "valid_from",
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed_or_kept.unionByName(new_current)


@query(
    "q_snapshot_expire",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey <= 300
    """,
)
def q_snapshot_expire(spark, sf_dir):
    """Snapshot expiration + orphan-file cleanup (Iceberg expire_snapshots /
    remove_orphan_files): three append snapshots are compacted into a
    replace snapshot, history is expired down to the last two snapshots,
    and the superseded physical files are reclaimed — while the CURRENT
    contents stay byte-identical (what the oracle checks). The maintenance
    pair that bounds metadata AND storage growth under streaming ingest
    (micro-batch = snapshot = small files, forever).
    """
    wh = scratch_dir(sf_dir, "catalog_data", "snapshot_expire")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_x"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        for lo, hi in ((-1, 100), (100, 200), (200, 300)):
            tbl = tbl.append(
                orders.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi))
            )
        tbl = tbl.compact(spark)  # snapshot 4 (replace)
        n_before = len(tbl.metadata["snapshots"])
        tbl = tbl.expire_snapshots(retain_last=2)
        assert len(tbl.metadata["snapshots"]) == 2 < n_before
        # retained pre-compaction snapshot (id 3) still reads in full
        assert tbl.df(spark, snapshot_id=3).count() == tbl.df(spark).count()
        removed = tbl.remove_orphan_files()
        # snapshots 1-2 were folded into 3, so nothing is orphaned yet;
        # expiring down to the replace snapshot orphans the append files
        tbl = tbl.expire_snapshots(retain_last=1)
        removed += tbl.remove_orphan_files()
        assert removed, "expected superseded append files to be reclaimed"
        open(marker, "w").close()
    tbl = cat.load_table(("db", "orders_x"))
    return tbl.df(spark).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


@query(
    "q_delete_where",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 200 AND NOT (o_totalprice < 100000.0)
    """,
)
def q_delete_where(spark, sf_dir):
    """Row-level DELETE (copy-on-write): commit orders 0..200 as a
    cataloged table, DELETE WHERE o_totalprice < 100000, read back.

    The overwrite snapshot logically removes the rewritten files and adds
    their filtered versions; pre-delete snapshots still time-travel to the
    full contents (asserted). Scale: with a prune hint only candidate
    files rewrite — see tests/test_catalog_spark.py for the file-survival
    assertion."""
    wh = scratch_dir(sf_dir, "catalog_data", "delete_where")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_d"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 200))
        n_before = tbl.df(spark).count()
        tbl = tbl.delete_where(spark, "o_totalprice < 100000.0")
        assert tbl.df(spark, snapshot_id=1).count() == n_before  # time travel
        open(marker, "w").close()
    return cat.load_table(("db", "orders_d")).df(spark).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


@query(
    "q_update_where",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(CASE WHEN o_totalprice < 100000.0 THEN o_totalprice * 1.1
                      ELSE o_totalprice END, 4) AS o_totalprice
    FROM orders WHERE o_orderkey <= 200
    """,
)
def q_update_where(spark, sf_dir):
    """Row-level UPDATE (copy-on-write): SET o_totalprice *= 1.1 on cheap
    orders; non-matching rows pass through byte-identical."""
    wh = scratch_dir(sf_dir, "catalog_data", "update_where")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_u"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 200))
        tbl.update_where(
            spark,
            "o_totalprice < 100000.0",
            {"o_totalprice": "o_totalprice * 1.1"},
        )
        open(marker, "w").close()
    return cat.load_table(("db", "orders_u")).df(spark).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


@query(
    "q_delete_merge_on_read",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 200
      AND NOT (o_totalprice < 50000.0)
      AND NOT (o_totalprice > 250000.0)
    """,
)
def q_delete_merge_on_read(spark, sf_dir):
    """Merge-on-read DELETE (Iceberg v2 position deletes): two stacked
    deletes write (file_path, pos) tuples instead of rewriting data files;
    the read path applies them via a broadcast anti-join. Asserts the data
    files were NOT rewritten and that compaction folds the deletes.

    Scale: a CoW delete of k rows spread over many files rewrites the
    files; MoR writes O(k) tuples — the only viable shape for frequent
    small deletes (GDPR erasure) at 100 TB."""
    wh = scratch_dir(sf_dir, "catalog_data", "delete_mor")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_m"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 200))
        files_before = {e["path"] for e in tbl._entries_at(None)}
        tbl = tbl.delete_where(spark, "o_totalprice < 50000.0", mode="merge-on-read")
        tbl = tbl.delete_where(spark, "o_totalprice > 250000.0", mode="merge-on-read")
        assert {e["path"] for e in tbl._entries_at(None)} == files_before
        assert len(tbl._visible_at(None)[1]) >= 2
        open(marker, "w").close()
    return cat.load_table(("db", "orders_m")).df(spark).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


@query(
    "q_schema_evolution_rename",
    oracle="""
    SELECT o_orderkey AS order_id,
           round(o_totalprice, 4) AS price,
           CAST(NULL AS BIGINT) AS cust
    FROM orders WHERE o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey AS order_id,
           round(o_totalprice, 4) AS price,
           o_custkey AS cust
    FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 200
    """,
)
def q_schema_evolution_rename(spark, sf_dir):
    """Field-ID schema evolution: rename + drop + add + int->long
    promotion between two appends. Files written before the evolution
    resolve columns by FIELD ID (renamed 'o_totalprice'->'price' keeps its
    values; dropped 'o_custkey' is ignored; re-added 'cust' has a fresh id
    so old files read null), never by name — the Iceberg evolution
    contract (reference test/server_test.go:216-219 models evolution as a
    new schema id)."""
    wh = scratch_dir(sf_dir, "catalog_data", "schema_rename")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(
            ("db", "orders_e"),
            Schema(
                0,
                [
                    NestedField(1, "o_orderkey", "long", False),
                    NestedField(2, "o_custkey", "long", False),
                    NestedField(3, "o_totalprice", "double", False),
                ],
            ),
        )
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 100))
        tbl = tbl.evolve_schema(
            renames={"o_orderkey": "order_id", "o_totalprice": "price"},
            drops=["o_custkey"],
            adds=[("cust", "long")],
        )
        tbl = tbl.append(
            orders.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200))
            .select(
                F.col("o_orderkey").alias("order_id"),
                F.col("o_totalprice").alias("price"),
                F.col("o_custkey").alias("cust"),
            )
        )
        open(marker, "w").close()
    return cat.load_table(("db", "orders_e")).df(spark).select(
        "order_id", F.round("price", 4).alias("price"), "cust"
    )


@query(
    "q_partition_evolution",
    oracle="""
    SELECT o_orderkey,
           CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS order_year
    FROM orders
    WHERE o_orderkey <= 300
      AND strftime(o_orderdate, '%Y-%m') = '1997-03'
    """,
)
def q_partition_evolution(spark, sf_dir):
    """Partition spec evolution: the first append is partitioned by
    year(o_orderdate), the spec then evolves to month granularity, and the
    second append lands month-partitioned. The scan prunes the NEW files
    from metadata (month filter) and row-filters the old ones — Iceberg's
    lazy-relayout model: no historical rewrite at evolution time.

    Scale: evolution is a metadata commit; re-layout rides normal
    compaction. Old files prune at their own (year) granularity."""
    wh = scratch_dir(sf_dir, "catalog_data", "part_evolve")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(
            ("db", "orders_p"),
            Schema(
                0,
                [
                    NestedField(1, "o_orderkey", "long"),
                    NestedField(2, "o_orderdate", "timestamp"),
                ],
            ),
            partition_spec=[{"name": "o_orderdate", "transform": "year"}],
        )
        orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 150))
        tbl = tbl.evolve_partition_spec(
            [{"name": "o_orderdate", "transform": "month"}]
        )
        tbl = tbl.append(
            orders.filter((F.col("o_orderkey") > 150) & (F.col("o_orderkey") <= 300))
        )
        # month-granular metadata pruning applies to the evolved files only
        new_entries = [
            e for e in tbl._entries_at(None) if "-" in str(e["partition"].get("o_orderdate"))
        ]
        assert new_entries, "second append should be month-partitioned"
        open(marker, "w").close()
    df = cat.load_table(("db", "orders_p")).df(spark)
    return df.filter(F.date_format("o_orderdate", "yyyy-MM") == "1997-03").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("order_year")
    )


@query(
    "q_merge_into_catalog",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 150
    ), source AS (
      SELECT o_orderkey, o_custkey, round(o_totalprice * 1.1, 4) AS o_totalprice
      FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 200
    )
    SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           coalesce(s.o_custkey, t.o_custkey)   AS o_custkey,
           round(coalesce(s.o_totalprice, t.o_totalprice), 4) AS o_totalprice
    FROM target t FULL JOIN source s ON t.o_orderkey = s.o_orderkey
    """,
)
def q_merge_into_catalog(spark, sf_dir):
    """Catalog-native MERGE INTO: upsert a source into a cataloged table
    as ONE overwrite snapshot, with the target pruned to candidate files
    via the source's key min/max against manifest column stats — a MERGE
    touching one file's key range rewrites one file, never the table
    (cold files survive verbatim; asserted). Complements q_merge_upsert,
    which shows the same semantics as a pure DataFrame plan."""
    wh = scratch_dir(sf_dir, "catalog_data", "merge_into")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(
            ("db", "orders_mi"), _ORDERS_SCHEMA,
            write_order=[{"name": "o_orderkey", "direction": "asc"}],
        )
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(
            orders.filter(F.col("o_orderkey") <= 150).repartitionByRange(
                4, "o_orderkey"
            )
        )
        before = {e["path"] for e in tbl._entries_at(None)}
        src = orders.filter(
            (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
        ).select(
            "o_orderkey", "o_custkey",
            F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
        )
        tbl = tbl.merge_into(spark, src, "o_orderkey")
        after = {e["path"] for e in tbl._entries_at(None)}
        assert before & after, "files below the source key range must survive"
        assert tbl.current_snapshot()["operation"] == "overwrite"
        open(marker, "w").close()
    return cat.load_table(("db", "orders_mi")).df(spark).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


@query(
    "q_wap_publish",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey <= 200
    """,
)
def q_wap_publish(spark, sf_dir):
    """Write-audit-publish: the staged-commit workflow Iceberg branches
    exist for (reference api/handlers/tables.go:150-227 commits snapshots
    the same optimistic way; branch refs are the repo's extension of that
    lineage model — catalog.py append(branch=)/fast_forward docstrings).

    A poisoned batch (negated prices for keys 151..160) is staged on an
    ``audit`` branch: MAIN READERS NEVER SEE IT (asserted — reads follow
    lineage from main's head, not snapshot ids). The audit gate (a
    distributed aggregate, driver sees one number) rejects it; the branch
    is simply never published. A clean re-stage on a second branch passes
    the gate and is published with an O(1) metadata-only fast_forward.

    At 100 TB this is the only safe ingest shape: the expensive data write
    happens once into an unpublished branch, validation runs against real
    committed files, and publish/abandon are both metadata-sized."""
    wh = scratch_dir(sf_dir, "catalog_data", "wap")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_wap"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 100))
        main_before = tbl.metadata.get("current-snapshot-id")

        poisoned = orders.filter(
            (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
        ).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey").between(151, 160), -F.col("o_totalprice")
            ).otherwise(F.col("o_totalprice")),
        )
        tbl = tbl.append(poisoned, branch="audit")
        assert tbl.metadata.get("current-snapshot-id") == main_before, (
            "staging on a branch must not advance main"
        )
        staged = tbl.df(spark, snapshot_id=tbl.snapshot_for_ref("audit"))
        n_bad = staged.filter(F.col("o_totalprice") < 0).count()
        assert n_bad > 0, "the audit gate must actually catch the poison"
        # gate failed -> never fast_forward "audit"; the branch stays
        # unpublished (abandon is free: no data moves either way).

        clean = orders.filter(
            (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
        )
        tbl = tbl.append(clean, branch="audit_retry")
        restaged = tbl.df(spark, snapshot_id=tbl.snapshot_for_ref("audit_retry"))
        assert restaged.filter(F.col("o_totalprice") < 0).count() == 0
        tbl = tbl.fast_forward("audit_retry")
        open(marker, "w").close()
    return cat.load_table(("db", "orders_wap")).df(spark).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


def _cdc_lineage_table(spark, sf_dir):
    """Build (idempotently per sf_dir) the append → CoW-DELETE → append
    lineage shared by q_snapshot_diff and q_meta_history.

    The DELETE predicate includes the table's min key so it matches at
    least one row on ANY non-empty fixture — a predicate that happens to
    match nothing would make delete_where a no-op commit-wise and the
    lineage (and q_meta_history's literal oracle) fixture-dependent
    (found by the perturbed-fixture audit, which deletes every
    %10 key)."""
    wh = scratch_dir(sf_dir, "catalog_data", "snapshot_diff")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(
            ("db", "orders_cdc"), _ORDERS_SCHEMA,
            write_order=[{"name": "o_orderkey", "direction": "asc"}],
        )
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        mn = orders.agg(F.min("o_orderkey")).collect()[0][0]  # 1 scalar
        tbl = tbl.append(
            orders.filter(F.col("o_orderkey") <= 200).repartitionByRange(
                4, "o_orderkey"
            )
        )
        tbl = tbl.delete_where(
            spark,
            f"(o_orderkey % 10 = 0 AND o_orderkey <= 100) OR o_orderkey = {mn}",
            prune=[("o_orderkey", "<=", max(100, mn))],
        )
        tbl.append(orders.filter(
            (F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 250)
        ))
        open(marker, "w").close()
    return cat


@query(
    "q_snapshot_diff",
    oracle="""
    SELECT 'delete' AS change_type, o_orderkey, o_custkey,
           round(o_totalprice, 4) AS o_totalprice
    FROM orders
    WHERE (o_orderkey <= 100 AND o_orderkey % 10 = 0)
       OR o_orderkey = (SELECT min(o_orderkey) FROM orders)
    UNION ALL
    SELECT 'insert' AS change_type, o_orderkey, o_custkey,
           round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey > 200 AND o_orderkey <= 250
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Row-level changelog between two snapshots (Iceberg's
    create_changelog_view): inserts AND deletes across a lineage that
    mixes a copy-on-write DELETE with an append.

    The scale property is FILE-LINEAGE PRUNING: the diff reads only files
    that entered or left the manifest between the snapshots — untouched
    files (identical path in both) contribute nothing and are never
    opened (asserted below). Row-level work is then two exceptAll
    hash-aggregates over just the churned files: a 100 TB table whose day
    touched 1% of files diffs 1% of the data, not the table."""
    cat = _cdc_lineage_table(spark, sf_dir)
    tbl = cat.load_table(("db", "orders_cdc"))
    f_old = set(tbl._files_at(1))
    f_new = set(tbl._files_at(None))
    assert f_old & f_new, "files untouched by the DELETE must survive the diff"
    schema = tbl.schema().to_spark()

    def _read(paths):
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *[os.path.join(tbl.location, p) for p in sorted(paths)]
        )

    old_churn = _read(f_old - f_new)   # files removed/rewritten since s1
    new_churn = _read(f_new - f_old)   # files added since s1
    deletes = old_churn.exceptAll(new_churn).withColumn(
        "change_type", F.lit("delete")
    )
    inserts = new_churn.exceptAll(old_churn).withColumn(
        "change_type", F.lit("insert")
    )
    return deletes.unionByName(inserts).select(
        "change_type", "o_orderkey", "o_custkey",
        F.round("o_totalprice", 4).alias("o_totalprice"),
    )


@query(
    "q_meta_history",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'append',    FALSE),
      (2, 'overwrite', FALSE),
      (3, 'append',    TRUE)
    ) AS h(seq, operation, is_current)
    """,
)
def q_meta_history(spark, sf_dir):
    """Snapshot-history metadata table (Iceberg's ``table.history`` /
    ``snapshots``): one row per MAIN-LINEAGE snapshot, oldest first, with
    its operation and whether it is the current head. Runs over the shared
    CDC lineage (append → copy-on-write DELETE committed as 'overwrite' →
    append), so the oracle is the literal expected lineage.

    Metadata-plane only: the query never opens a data file — it reads the
    snapshot list the commits maintained (reference tables.go keeps the
    same lineage for its UpdateTable commits). Lineage matters: a WAP
    branch snapshot has a higher id than main's head but is NOT an
    ancestor, and must not appear here (Table._ancestors follows
    parent-snapshot-id, never id order). At 100 TB this is THE debugging
    query — what happened to this table, in order — and costs O(history
    length), independent of data size."""
    cat = _cdc_lineage_table(spark, sf_dir)
    tbl = cat.load_table(("db", "orders_cdc"))
    cur = tbl.metadata["current-snapshot-id"]
    chain = tbl._ancestors(cur)
    rows = [
        (i + 1, s["operation"], s["snapshot-id"] == cur)
        for i, s in enumerate(chain)
    ]
    return spark.createDataFrame(
        rows, "seq int, operation string, is_current boolean"
    )


@query(
    "q_meta_partition_stats",
    oracle="""
    SELECT year(o_orderdate) AS partition_year,
           CAST(count(*) AS BIGINT) AS n_records
    FROM orders WHERE o_orderkey <= 2000
    GROUP BY partition_year
    """,
)
def q_meta_partition_stats(spark, sf_dir):
    """Partition-stats metadata table (Iceberg's ``partitions``): per
    partition value, the record count summed from MANIFEST entries — no
    data file is ever opened. The oracle recomputes the same counts from
    the data, so hash equality proves the write path's per-file record
    stamps are exact (the integrity contract that lets count(*),
    partition layouts and file-skip plans be answered from metadata at
    100 TB; reference models.go:66 declares the partition-spec surface
    this serves).

    Cost is O(|manifest entries|), independent of data size; the
    aggregate runs over a |files|-row local frame."""
    tbl = _partitioned_orders_table(spark, sf_dir)
    entries = tbl._entries_at(None)
    rows = [
        (int(e["partition"]["o_orderdate"]), int(e["records"]))
        for e in entries
    ]
    assert rows and all(r[1] > 0 for r in rows)
    return (
        spark.createDataFrame(rows, "partition_year int, n_records long")
        .groupBy("partition_year")
        .agg(F.sum("n_records").cast("long").alias("n_records"))
    )


@query(
    "q_incremental_agg_maintenance",
    oracle="""
    WITH final_state AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE (o_orderkey <= 200
             AND NOT ((o_orderkey % 10 = 0 AND o_orderkey <= 100)
                      OR o_orderkey = (SELECT min(o_orderkey) FROM orders)))
         OR (o_orderkey > 200 AND o_orderkey <= 250)
    )
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 4) AS sum_price
    FROM final_state GROUP BY o_custkey
    """,
)
def q_incremental_agg_maintenance(spark, sf_dir):
    """Incremental view maintenance (IVM): a per-customer SUM/COUNT
    materialization is kept current by applying the snapshot CHANGELOG
    (+1 for inserts, -1 for deletes) to the old aggregate — never
    re-reading the base table. Groups whose count reaches zero drop out
    (the retraction rule that makes SUM/COUNT views exactly
    maintainable).

    The 100 TB motivation: recomputing a view over a table that changed
    by 0.1% costs the full table scan every time; IVM costs
    O(|changelog| + |touched groups|). The changelog itself reads only
    churned files (q_snapshot_diff's file-lineage pruning), so the whole
    maintenance pass never touches cold data. The oracle computes the
    view directly over the final state, so hash equality proves the
    delta algebra is exact."""
    cat = _cdc_lineage_table(spark, sf_dir)
    tbl = cat.load_table(("db", "orders_cdc"))
    schema = tbl.schema().to_spark()

    def _read(paths):
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *[os.path.join(tbl.location, p) for p in sorted(paths)]
        )

    f_old = set(tbl._files_at(1))
    f_new = set(tbl._files_at(None))
    base = _read(f_old)  # the view's last refresh point: snapshot 1
    agg0 = base.groupBy("o_custkey").agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
    )
    old_churn, new_churn = _read(f_old - f_new), _read(f_new - f_old)
    deltas = (
        old_churn.exceptAll(new_churn).withColumn("sign", F.lit(-1))
        .unionByName(
            new_churn.exceptAll(old_churn).withColumn("sign", F.lit(1))
        )
        .groupBy("o_custkey")
        .agg(
            F.sum("sign").alias("dn"),
            F.sum(F.col("sign") * F.col("o_totalprice")).alias("ds"),
        )
    )
    maintained = (
        agg0.join(deltas, "o_custkey", "full")
        .select(
            "o_custkey",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (F.coalesce("s", F.lit(0.0)) + F.coalesce("ds", F.lit(0.0))).alias("s"),
        )
        .filter(F.col("n") > 0)  # retraction: empty groups leave the view
    )
    return maintained.select(
        "o_custkey",
        F.col("n").cast("long").alias("n_orders"),
        F.round("s", 4).alias("sum_price"),
    )


@query(
    "q_meta_column_stats",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey <= 300
    )
    SELECT 'o_orderkey' AS col, CAST(min(o_orderkey) AS VARCHAR) AS min_v,
           CAST(max(o_orderkey) AS VARCHAR) AS max_v,
           CAST(0 AS BIGINT) AS nulls, TRUE AS ndv_within_10pct
    FROM base
    UNION ALL
    SELECT 'o_custkey', CAST(min(o_custkey) AS VARCHAR),
           CAST(max(o_custkey) AS VARCHAR), CAST(0 AS BIGINT), TRUE
    FROM base
    UNION ALL
    SELECT 'o_totalprice', CAST(min(o_totalprice) AS VARCHAR),
           CAST(max(o_totalprice) AS VARCHAR), CAST(0 AS BIGINT), TRUE
    FROM base
    """,
)
def q_meta_column_stats(spark, sf_dir):
    """ANALYZE-stats integrity: run ``Table.analyze`` (one aggregate pass
    committing per-column min/max/null-count/NDV into table properties)
    and read the stats BACK FROM METADATA; the oracle recomputes min/max/
    nulls from the data, so hash equality proves the committed stats are
    exact. NDV is an HLL estimate (not cross-engine reproducible), so —
    like q_agg_approx_distinct — the query self-asserts it landed within
    10% (2x the sketch's default 5% rsd) of the exact distinct count and
    emits the boolean.

    These properties are what a 100 TB engine reads for join sizing and
    file skipping; a stats-integrity probe like this belongs in any
    warehouse's nightly QA."""
    wh = scratch_dir(sf_dir, "catalog_data", "column_stats")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_an"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 300))
        tbl.analyze(spark)
        open(marker, "w").close()
    tbl = cat.load_table(("db", "orders_an"))
    props = tbl.metadata.get("properties", {})
    base = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    rows = []
    for col in ("o_orderkey", "o_custkey", "o_totalprice"):
        exact_ndv = base.select(col).distinct().count()
        ndv = int(props[f"stats.{col}.ndv"])
        rows.append(
            (
                col,
                props[f"stats.{col}.min"],
                props[f"stats.{col}.max"],
                int(props[f"stats.{col}.nulls"]),
                abs(ndv - exact_ndv) <= 0.10 * exact_ndv,
            )
        )
    return spark.createDataFrame(
        rows, "col string, min_v string, max_v string, nulls long, ndv_within_10pct boolean"
    )


@query(
    "q_meta_orphan_files",
    oracle="""
    SELECT 'live' AS kind, CAST(1 AS BIGINT) AS n_dirs,
           CAST(1 AS BIGINT) AS n_files, CAST(150 AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'orphan', 3, 3, 157
    ORDER BY kind
    """,
)
def q_meta_orphan_files(spark, sf_dir):
    """Orphan-file detection (Iceberg's remove_orphan_files maintenance
    action, the companion of expire_snapshots): physical files under the
    table location that NO retained snapshot or ref references — left
    behind by compaction + history expiry (the replaced pre-compaction
    files) or by failed/aborted writes (a stray directory a crashed
    writer never committed).  At 100 TB these accumulate forever unless
    audited, and deleting a LIVE file corrupts the table — so the audit
    is the safety-critical half of the action.

    Scripted scenario (deterministic): append A (100 rows, 1 file) +
    append B (50 rows, 1 file) -> compact into C (150 rows, 1 file) ->
    expire_snapshots(retain_last=1) folds history onto the compacted
    snapshot, stranding A and B on disk -> plant a stray uncommitted
    write (7 rows).  Expected: 1 live dir/file with 150 rows; 3 orphan
    dirs/files with 157 recoverable rows.

    Scale shape: the physical inventory is Spark's DISTRIBUTED file
    listing (binaryFile source, recursive — never a driver-side walk);
    the live set is pure metadata (union of manifest entries over every
    retained snapshot and ref head — O(history), a broadcastable frame);
    orphans fall out of a broadcast anti-join on the write-unit dir
    token.  The row-recovery read touches ONLY the orphan files
    (diagnostics; a real remove_orphan_files would stop at the listing).
    Mirrors the reference's commit lineage (api/handlers/tables.go:
    150-227) composed with this repo's expire/fold semantics
    (catalog.py expire_snapshots)."""
    wh = scratch_dir(sf_dir, "catalog_data", "orphan_files")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_o"), _ORDERS_SCHEMA)
        from pyspark.sql import Window as W

        ranked = (
            t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .withColumn(
                "rn", F.row_number().over(W.orderBy("o_orderkey"))
            )
        )
        orders = ranked.drop("rn")
        tbl = tbl.append(
            ranked.filter(F.col("rn") <= 100).drop("rn").coalesce(1)
        )
        tbl = tbl.append(
            ranked.filter((F.col("rn") > 100) & (F.col("rn") <= 150))
            .drop("rn")
            .coalesce(1)
        )
        assert tbl.row_count() == 150
        tbl = tbl.compact(spark)
        tbl = tbl.expire_snapshots(retain_last=1)
        # stray uncommitted write: a crashed writer's directory, never
        # referenced by any snapshot
        stray = os.path.join(tbl.location, "data", "stray_uncommitted")
        ranked.filter(F.col("rn") <= 7).drop("rn").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stray)
        open(marker, "w").close()
    tbl = cat.load_table(("db", "orders_o"))

    # live set: every data dir any retained snapshot or ref head references
    live_dirs = set()
    heads = [tbl.metadata.get("current-snapshot-id")] + [
        r["snapshot-id"] for r in tbl.metadata.get("refs", {}).values()
    ]
    for s in tbl.metadata.get("snapshots", []):
        for e in tbl._entries_at(s["snapshot-id"]):
            live_dirs.add(e["path"].split(os.sep)[1])
    del heads  # retained metadata IS the reachable set post-expire
    live = spark.createDataFrame(
        [(d, True) for d in sorted(live_dirs)], "dir string, is_live boolean"
    )

    # physical inventory: distributed recursive listing of the data root
    physical = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .load(os.path.join(tbl.location, "data"))
        .select(F.col("path"))
        .withColumn(
            "dir",
            F.element_at(F.split(F.col("path"), "/data/"), -1),
        )
        .withColumn("dir", F.split(F.col("dir"), "/").getItem(0))
    )
    tagged = physical.join(F.broadcast(live), "dir", "left").select(
        "dir",
        "path",
        F.when(F.col("is_live"), F.lit("live"))
        .otherwise(F.lit("orphan"))
        .alias("kind"),
    )
    counts = tagged.groupBy("kind").agg(
        F.countDistinct("dir").alias("n_dirs"), F.count("*").alias("n_files")
    )

    # diagnostics: recoverable rows per kind (reads only the listed files)
    orphan_paths = [
        r.path for r in tagged.filter(F.col("kind") == "orphan").collect()
    ]  # bounded: |orphan files| in the scripted scenario = 3
    orphan_rows = (
        spark.read.parquet(*[p.replace("file:", "") for p in orphan_paths]).count()
        if orphan_paths
        else 0
    )
    live_rows = tbl.df(spark).count()
    rows_df = spark.createDataFrame(
        [("live", live_rows), ("orphan", orphan_rows)], "kind string, n_rows long"
    )
    return (
        counts.join(rows_df, "kind")
        .select(
            "kind",
            F.col("n_dirs").cast("long").alias("n_dirs"),
            F.col("n_files").cast("long").alias("n_files"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
        .orderBy("kind")
    )


@query(
    "q_meta_refs",
    oracle="""
    SELECT 'audit' AS ref_name, 'branch' AS ref_type,
           CAST(2 AS BIGINT) AS snapshot_id, false AS is_head
    UNION ALL SELECT 'main', 'branch', 3, true
    UNION ALL SELECT 'v1.0', 'tag', 1, false
    ORDER BY ref_name
    """,
)
def q_meta_refs(spark, sf_dir):
    """The `refs` metadata table (Iceberg spec section 'refs'): one row
    per named ref — tags pinning release snapshots, branches staging
    WAP-style work — plus the implicit main head, each with its pinned
    snapshot and a head marker.  Refs protect their snapshots from
    expire_snapshots, so this listing is also the retention-policy
    input.

    Scripted scenario (snapshot ids are sequential CAS commits, so the
    expected table is exact VALUES): append (snap 1) -> tag 'v1.0' at 1
    -> append (snap 2) -> branch 'audit' at 2 -> append (snap 3, main
    head).  Metadata-only: no data file is opened; O(|refs|) at any
    table size.

    Reference scope: ref/branch surface is [CAP] — the reference's
    UpdateTable commit path (api/handlers/tables.go:150-227) carries
    set-ref updates; this repo's Table.set_ref/refs implements them
    (catalog.py)."""
    wh = scratch_dir(sf_dir, "catalog_data", "meta_refs")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_r"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 50).coalesce(1))
        tbl = tbl.set_ref("v1.0", 1, type="tag")
        tbl = tbl.append(
            orders.filter(
                (F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 100)
            ).coalesce(1)
        )
        tbl = tbl.set_ref("audit", 2, type="branch")
        tbl = tbl.append(
            orders.filter(
                (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 150)
            ).coalesce(1)
        )
        open(marker, "w").close()
    tbl = cat.load_table(("db", "orders_r"))
    cur = tbl.metadata.get("current-snapshot-id")
    rows = [
        (name, ref["type"], int(ref["snapshot-id"]), ref["snapshot-id"] == cur)
        for name, ref in tbl.refs().items()
    ] + [("main", "branch", int(cur), True)]
    return spark.createDataFrame(
        sorted(rows),
        "ref_name string, ref_type string, snapshot_id long, is_head boolean",
    ).orderBy("ref_name")


@query(
    "q_meta_snapshot_lineage",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(NULL AS BIGINT) AS parent_id,
           CAST(1 AS INT) AS depth, true AS on_main, 'append' AS operation
    UNION ALL SELECT 2, 1, 2, true, 'append'
    UNION ALL SELECT 3, 2, 3, false, 'append'
    UNION ALL SELECT 4, 2, 3, true, 'append'
    UNION ALL SELECT 5, 3, 4, false, 'append'
    ORDER BY snapshot_id
    """,
)
def q_meta_snapshot_lineage(spark, sf_dir):
    """The snapshot LINEAGE graph (Iceberg's parent-snapshot-id chain
    materialized): one row per snapshot across ALL refs with its parent,
    its DEPTH from the root, and whether main's head can reach it — the
    provenance query behind time travel ("is snapshot X an ancestor of
    what I'm reading?"), branch cleanup (everything with on_main=false
    and no ref is orphanable), and incremental-read validation.

    Scripted scenario (ids are sequential CAS commits, so the expected
    table is exact VALUES): append (1) -> append (2) -> stage on branch
    'audit' (3, parent 2) -> append on MAIN (4, parent 2 — the fork!) ->
    second stage on 'audit' (5, parent 3).  Main lineage is 1->2->4;
    the audit branch holds 3 and 5.  Snapshot 3 has a LOWER id than
    main's head yet is NOT on main, and 4 forks from 2 while 3 exists —
    the two cases naive id-ordering walks get wrong (the q_meta_history
    lineage discipline, extended to the full graph).

    Metadata-plane only: the walk is a parent-pointer traversal of the
    |snapshots| metadata list — O(history), never opens a data file,
    independent of table size at 100 TB.

    Reference scope: the reference's UpdateTable commit path maintains
    parent-snapshot-id the same way (api/handlers/tables.go:150-227);
    the lineage table is the [CAP] query surface over it."""
    wh = scratch_dir(sf_dir, "catalog_data", "snapshot_lineage")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_lin"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )

        def chunk(lo, hi):
            return orders.filter(
                (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
            ).coalesce(1)

        tbl = tbl.append(chunk(0, 50))          # snap 1 (root)
        tbl = tbl.append(chunk(50, 100))        # snap 2
        tbl = tbl.append(chunk(100, 150), branch="audit")  # snap 3, parent 2
        tbl = tbl.append(chunk(150, 200))       # snap 4, parent 2 (fork)
        tbl = tbl.append(chunk(200, 250), branch="audit")  # snap 5, parent 3
        open(marker, "w").close()
    tbl = cat.load_table(("db", "orders_lin"))
    snaps = {int(s["snapshot-id"]): s for s in tbl.metadata.get("snapshots", [])}
    cur = int(tbl.metadata["current-snapshot-id"])
    main_ids = {int(s["snapshot-id"]) for s in tbl._ancestors(cur)}

    def depth(sid: int) -> int:
        d, s = 1, snaps[sid]
        while s.get("parent-snapshot-id") is not None:
            s = snaps[int(s["parent-snapshot-id"])]
            d += 1
        return d

    rows = [
        (
            sid,
            int(s["parent-snapshot-id"]) if s.get("parent-snapshot-id") is not None else None,
            depth(sid),
            sid in main_ids,
            s["operation"],
        )
        for sid, s in sorted(snaps.items())
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, depth int, on_main boolean,"
        " operation string",
    ).orderBy("snapshot_id")


@query(
    "q_time_travel_asof",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey <= 200
    """,
)
def q_time_travel_asof(spark, sf_dir):
    """Time travel BY TIMESTAMP (Iceberg's FOR TIMESTAMP AS OF): resolve
    the newest MAIN-lineage snapshot committed at or before a wall-clock
    instant and read the table as of it.  The scripted scenario plants
    the trap the resolution must dodge: an unpublished WAP branch
    snapshot committed AFTER main's head — it is the newest snapshot and
    has the highest id, but is NOT an ancestor of main, and a naive
    timestamp walk over the raw snapshot list would resolve to it and
    LEAK unaudited staged rows into the read (catalog.py
    snapshot_as_of's lineage restriction, exercised end-to-end; the
    asserts pin both the resolved id and the leak-free row set).

    Metadata-plane resolution is O(|snapshots|); the read itself plans
    only snapshot 2's manifests.  Reference scope: the reference's
    UpdateTable lineage (api/handlers/tables.go:150-227) carries the
    same timestamp-ms per snapshot; as-of resolution is the [CAP] query
    surface over it."""
    wh = scratch_dir(sf_dir, "catalog_data", "tt_asof")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_tt"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = tbl.append(orders.filter(F.col("o_orderkey") <= 100).coalesce(1))
        tbl = tbl.append(
            orders.filter(
                (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
            ).coalesce(1)
        )
        # the trap: a NEWER, higher-id snapshot on an unpublished branch
        tbl = tbl.append(
            orders.filter(
                (F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 300)
            ).coalesce(1),
            branch="audit",
        )
        open(marker, "w").close()
    tbl = cat.load_table(("db", "orders_tt"))
    snaps = {s["snapshot-id"]: s for s in tbl.metadata["snapshots"]}
    # as-of the BRANCH snapshot's commit instant: resolution must stay on
    # main's lineage (snapshot 2), not leak the staged snapshot 3
    asof_ms = snaps[3]["timestamp-ms"]
    sid = tbl.snapshot_as_of(asof_ms)
    assert sid == 2, f"as-of resolved off the main lineage: {sid}"
    df = tbl.df(spark, snapshot_id=sid)
    assert df.filter(F.col("o_orderkey") > 200).count() == 0, "staged rows leaked"
    return df.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


@query(
    "q_snapshot_rollback",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders WHERE o_orderkey <= 200
    """,
)
def q_snapshot_rollback(spark, sf_dir):
    """SNAPSHOT ROLLBACK (Iceberg's rollback_to_snapshot) driven through
    the bad-deploy recovery story: a good append (snap 1), a POISONED
    append (snap 2: keys 101..200 with negated prices), a metadata-only
    rollback to snap 1 — O(1) at any table size, no data moves, the
    rolled-past snapshot STAYS time-travelable — then the corrected
    re-append on the rolled-back lineage.  Asserts pin each leg: the
    poison is visible at head before rollback, invisible after, snap 2
    remains readable via explicit time travel (history is never
    rewritten), and the final lineage forks from snap 1 (the
    q_meta_snapshot_lineage fork case created by a real recovery).

    Reference scope: the reference's UpdateTable accepts exactly this
    set-current-snapshot commit (api/handlers/tables.go:150-227,
    requirement assert-ref-snapshot-id); the recovery workflow is the
    [CAP] surface over it."""
    wh = scratch_dir(sf_dir, "catalog_data", "rollback")
    cat = Catalog(wh)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        shutil.rmtree(wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
        cat = Catalog(wh)
        cat.create_namespace(("db",))
        tbl = cat.create_table(("db", "orders_rb"), _ORDERS_SCHEMA)
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        good = orders.filter(F.col("o_orderkey") <= 100).coalesce(1)
        batch2 = orders.filter(
            (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
        )
        poisoned = batch2.withColumn(
            "o_totalprice", -F.col("o_totalprice")
        ).coalesce(1)
        tbl = tbl.append(good)  # snap 1
        tbl = tbl.append(poisoned)  # snap 2 (the bad deploy)
        assert tbl.df(spark).filter(F.col("o_totalprice") < 0).count() > 0
        tbl = tbl.rollback_to(1)  # metadata-only recovery
        assert tbl.df(spark).filter(F.col("o_totalprice") < 0).count() == 0
        # history is never rewritten: the bad snapshot stays readable
        assert (
            tbl.df(spark, snapshot_id=2).filter(F.col("o_totalprice") < 0).count()
            > 0
        )
        tbl.append(batch2.coalesce(1))  # corrected re-append (forks from 1)
        open(marker, "w").close()
    tbl = cat.load_table(("db", "orders_rb"))
    df = tbl.df(spark)
    assert df.filter(F.col("o_totalprice") < 0).count() == 0
    return df.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )
