"""Data-plane integration: catalog tables backed by Spark DataFrames —
append = snapshot commit, time travel by snapshot id, schema evolution
keeps old files readable (missing columns read as null)."""

import pytest

from iceberg_rest_catalog_spark.catalog import Catalog, NestedField, Schema
from iceberg_rest_catalog_spark.catalog import errors as E

SCHEMA = Schema(
    0,
    [
        NestedField(1, "id", "long", required=False),
        NestedField(2, "name", "string", required=False),
    ],
)


@pytest.fixture()
def table(catalog: Catalog):
    catalog.create_namespace(("db",))
    return catalog.create_table(("db", "t"), SCHEMA)


def test_empty_table_reads_empty_with_schema(spark, table):
    df = table.df(spark)
    assert df.count() == 0
    assert df.columns == ["id", "name"]


def test_append_creates_snapshot(spark, catalog, table):
    t2 = table.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    assert t2.current_snapshot()["snapshot-id"] == 1
    assert t2.df(spark).count() == 2
    t3 = t2.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    assert t3.current_snapshot()["snapshot-id"] == 2
    assert {r.id for r in t3.df(spark).collect()} == {1, 2, 3}


def test_time_travel_by_snapshot(spark, catalog, table):
    t2 = table.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    t3 = t2.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    assert t3.df(spark, snapshot_id=1).count() == 1
    assert t3.df(spark, snapshot_id=2).count() == 2


def test_stale_append_conflicts(spark, catalog, table):
    stale = catalog.load_table(("db", "t"))
    table.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    with pytest.raises(E.CommitFailedException):
        stale.append(spark.createDataFrame([(9, "z")], "id long, name string"))


def test_schema_evolution_old_files_readable(spark, catalog, table):
    t2 = table.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    new_schema = Schema(
        1, SCHEMA.fields + [NestedField(3, "score", "double", required=False)]
    )
    catalog.update_table(
        ("db", "t"),
        requirements=[{"type": "assert-current-schema-id", "current-schema-id": 0}],
        updates=[
            {"action": "add-schema", "schema": new_schema.to_json()},
            {"action": "set-current-schema", "schema-id": 1},
        ],
    )
    evolved = catalog.load_table(("db", "t"))
    rows = evolved.df(spark).collect()
    assert rows[0]["score"] is None  # old file, new column -> null
    assert evolved.df(spark).columns == ["id", "name", "score"]


def test_compaction_replaces_files_keeps_history(spark, catalog, table):
    t2 = table.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    t3 = t2.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    assert len(t3._files_at(None)) >= 2
    t4 = t3.compact(spark)
    # current read: same rows, fewer files
    assert {r.id for r in t4.df(spark).collect()} == {1, 2}
    assert len(t4._files_at(None)) == 1
    # time travel to pre-compaction snapshots still works
    assert t4.df(spark, snapshot_id=1).count() == 1
    assert t4.df(spark, snapshot_id=2).count() == 2


def test_analyze_collects_column_stats(spark, catalog, table):
    table.append(
        spark.createDataFrame([(1, "a"), (2, None), (5, "c")], "id long, name string")
    )
    analyzed = catalog.load_table(("db", "t")).analyze(spark)
    p = analyzed.properties()
    assert p["stats.row_count"] == "3"
    assert p["stats.id.min"] == "1" and p["stats.id.max"] == "5"
    assert p["stats.name.nulls"] == "1"
    assert int(p["stats.id.ndv"]) == 3


def test_partition_spec_prunes_from_metadata(spark, catalog):
    from pyspark.sql import functions as F

    catalog.create_namespace(("pdb",))
    tbl = catalog.create_table(
        ("pdb", "ev"),
        SCHEMA.__class__(
            0,
            [
                type(SCHEMA.fields[0])(1, "id", "long", False),
                type(SCHEMA.fields[0])(2, "ts", "timestamp", False),
            ],
        ),
        partition_spec=[{"name": "ts", "transform": "year"}],
        write_order=[{"name": "id", "direction": "asc"}],
    )
    df = spark.createDataFrame(
        [(1, "2020-03-01 00:00:00"), (2, "2020-07-01 00:00:00"), (3, "2021-01-02 00:00:00")],
        "id long, ts string",
    ).select("id", F.col("ts").cast("timestamp_ntz").alias("ts"))
    t2 = tbl.append(df)
    # per-file partition values recorded in the manifest
    parts = {e["partition"]["ts"] for e in t2._entries_at(None)}
    assert parts == {"2020", "2021"}
    # metadata pruning: only the 2020 files are handed to Spark
    pruned = t2.scan(spark, partition_filters={"ts": "2020"})
    assert sorted(r.id for r in pruned.collect()) == [1, 2]
    full = t2.scan(spark)
    assert full.count() == 3


def test_spark_sql_over_cataloged_tables(spark, catalog, table):
    from iceberg_rest_catalog_spark.catalog import spark_bridge

    t2 = table.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id long, name string")
    )
    views = spark_bridge.register_all(spark, catalog)
    assert "db__t" in views
    out = spark.sql(
        "SELECT name, count(*) AS n FROM db__t GROUP BY name ORDER BY name"
    ).collect()
    assert [(r.name, r.n) for r in out] == [("a", 2), ("b", 1)]
    # snapshot isolation: the view keeps its registration-time snapshot
    t2.append(spark.createDataFrame([(9, "z")], "id long, name string"))
    assert spark.sql("SELECT count(*) AS n FROM db__t").collect()[0].n == 3
    # re-register -> sees the new snapshot
    spark_bridge.register_all(spark, catalog)
    assert spark.sql("SELECT count(*) AS n FROM db__t").collect()[0].n == 4


def _rows(spark, n0, n1, tag="x"):
    return spark.createDataFrame(
        [(i, tag) for i in range(n0, n1)], "id long, name string"
    )


def test_expire_snapshots_folds_history(spark, catalog, table):
    t = table.append(_rows(spark, 0, 2))
    t = t.append(_rows(spark, 2, 4))
    t = t.append(_rows(spark, 4, 6))
    t = t.expire_snapshots(retain_last=2)
    assert [s["snapshot-id"] for s in t.metadata["snapshots"]] == [2, 3]
    # retained snapshots read their FULL historical contents
    assert t.df(spark, snapshot_id=2).count() == 4
    assert t.df(spark).count() == 6
    # the expired snapshot is gone, loudly
    with pytest.raises(E.BadRequestException):
        t.df(spark, snapshot_id=1)


def test_expire_never_drops_current(spark, catalog, table):
    t = table.append(_rows(spark, 0, 2))
    assert t.expire_snapshots(retain_last=1) is t  # nothing expirable
    with pytest.raises(E.BadRequestException):
        t.expire_snapshots(retain_last=0)


def test_expire_is_cas_guarded(spark, catalog, table):
    t = table.append(_rows(spark, 0, 2))
    t = t.append(_rows(spark, 2, 4))
    stale = catalog.load_table(("db", "t"))
    t.append(_rows(spark, 4, 6))  # moves the ref
    with pytest.raises(E.CommitFailedException):
        stale.expire_snapshots(retain_last=1)


def test_orphan_removal_after_compaction(spark, catalog, table):
    t = table.append(_rows(spark, 0, 2))
    t = t.append(_rows(spark, 2, 4))
    t = t.compact(spark)  # replace snapshot supersedes the appends
    assert t.remove_orphan_files() == []  # history still references them
    t = t.expire_snapshots(retain_last=1)
    removed = t.remove_orphan_files()
    assert removed, "append files should be orphaned after expiration"
    assert t.df(spark).count() == 4  # current contents untouched


def test_history_and_timestamp_travel(spark, catalog, table):
    t = table.append(_rows(spark, 0, 2))
    t = t.append(_rows(spark, 2, 4))
    h = t.history()
    assert [e["snapshot-id"] for e in h] == [1, 2]
    assert h[0]["parent-snapshot-id"] is None and h[1]["parent-snapshot-id"] == 1
    assert all(e["operation"] == "append" for e in h)
    # as-of the first commit's timestamp resolves to snapshot 1
    assert t.snapshot_as_of(h[0]["timestamp-ms"]) == 1
    assert t.snapshot_as_of(h[1]["timestamp-ms"] + 10_000) == 2
    assert t.df(spark, snapshot_id=t.snapshot_as_of(h[0]["timestamp-ms"])).count() == 2
    with pytest.raises(E.BadRequestException):
        t.snapshot_as_of(h[0]["timestamp-ms"] - 1)


def test_orphan_removal_clears_emptied_partition_dirs(spark, catalog):
    import os

    catalog.create_namespace(("db2",))
    t = catalog.create_table(
        ("db2", "pt"),
        Schema(
            0,
            [
                NestedField(1, "id", "long", required=False),
                NestedField(2, "ts", "timestamp", required=False),
            ],
        ),
        partition_spec=[{"name": "ts", "transform": "year"}],
    )
    df = spark.createDataFrame(
        [(1, "2020-06-01 00:00:00"), (2, "2021-06-01 00:00:00")],
        "id long, ts string",
    ).selectExpr("id", "CAST(ts AS TIMESTAMP_NTZ) AS ts")
    t = t.append(df)
    t = t.compact(spark)
    t = t.expire_snapshots(retain_last=1)
    assert t.remove_orphan_files()
    # bottom-up walk: partition dirs AND their emptied parents are gone
    data_root = os.path.join(t.location, "data")
    live = {os.path.dirname(os.path.join(t.location, e["path"]))
            for e in t._entries_at(None)}
    for dp, dns, fns in os.walk(data_root):
        assert fns or dns or dp in live, f"leftover empty dir {dp}"


def test_refs_pin_and_protect_snapshots(spark, catalog, table):
    t = table.append(_rows(spark, 0, 2))
    t = t.append(_rows(spark, 2, 4))
    t = t.set_ref("v1", 1, type="tag")
    assert t.refs() == {"v1": {"snapshot-id": 1, "type": "tag"}}
    # read through the ref
    assert t.df(spark, snapshot_id=t.snapshot_for_ref("v1")).count() == 2
    # the tag protects snapshot 1 from expiration (prefix rule stops there)
    t2 = t.expire_snapshots(retain_last=1)
    assert [s["snapshot-id"] for s in t2.metadata["snapshots"]] == [1, 2]
    # dropping the tag unblocks expiration
    t3 = t2.remove_ref("v1").expire_snapshots(retain_last=1)
    assert [s["snapshot-id"] for s in t3.metadata["snapshots"]] == [2]
    with pytest.raises(E.BadRequestException):
        t3.snapshot_for_ref("v1")
    with pytest.raises(E.BadRequestException):
        t3.set_ref("bad", 99)
    with pytest.raises(E.BadRequestException):
        t3.set_ref("bad", 2, type="wormhole")


def test_day_transform_is_date_granularity(spark, catalog):
    """ADVICE r2: Iceberg's 'day' transform is date truncation — rows from
    different months with the same day-of-month must land in DIFFERENT
    partitions."""
    from pyspark.sql import functions as F

    catalog.create_namespace(("ddb",))
    tbl = catalog.create_table(
        ("ddb", "ev"),
        Schema(
            0,
            [
                NestedField(1, "id", "long", False),
                NestedField(2, "ts", "timestamp", False),
            ],
        ),
        partition_spec=[{"name": "ts", "transform": "day"}],
    )
    df = spark.createDataFrame(
        [
            (1, "2020-03-15 10:00:00"),
            (2, "2020-04-15 11:00:00"),
            (3, "2020-03-15 23:59:00"),
        ],
        "id long, ts string",
    ).select("id", F.col("ts").cast("timestamp_ntz").alias("ts"))
    t2 = tbl.append(df)
    parts = {e["partition"]["ts"] for e in t2._entries_at(None)}
    assert parts == {"2020-03-15", "2020-04-15"}
    pruned = t2.scan(spark, partition_filters={"ts": "2020-03-15"})
    assert sorted(r.id for r in pruned.collect()) == [1, 3]


def test_custom_location_append_roundtrip(spark, catalog, tmp_path):
    """Custom data location: metadata stays under the warehouse, data files
    land under the custom location, reads work after re-load."""
    import os

    catalog.create_namespace(("xdb",))
    loc = str(tmp_path / "external_tbl")
    t = catalog.create_table(("xdb", "ext"), SCHEMA, location=loc)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    reloaded = catalog.load_table(("xdb", "ext"))
    assert reloaded.df(spark).count() == 2
    assert os.path.isdir(os.path.join(loc, "data"))


def _mdir(catalog, ident):
    import os

    return os.path.join(catalog._table_dir(ident), "metadata", "manifests")


def test_manifest_spillout_keeps_metadata_small(spark, catalog, table):
    """Snapshots reference per-snapshot manifest FILES; the metadata JSON
    carries no per-file inventory (O(snapshots), not O(files))."""
    import json as _json
    import os

    t2 = table.append(
        spark.createDataFrame([(i, "x") for i in range(10)], "id long, name string")
    )
    t3 = t2.append(spark.createDataFrame([(99, "y")], "id long, name string"))
    with open(t3.metadata_location) as f:
        doc = _json.load(f)
    for s in doc["snapshots"]:
        assert "added-files" not in s
        assert s["manifest-path"].startswith("manifests/")
        assert s["added-files-count"] >= 1
    assert t3.df(spark).count() == 11
    assert len(os.listdir(_mdir(catalog, ("db", "t")))) >= 2


def test_expire_reclaims_manifest_files(spark, catalog, table):
    import os

    t = table
    for batch in ([(1, "a")], [(2, "b")], [(3, "c")]):
        t = t.append(spark.createDataFrame(batch, "id long, name string"))
    t2 = t.expire_snapshots(retain_last=2)
    # snapshots 2 (rebased fold) + 3 remain; expired/superseded manifests
    # were reclaimed post-commit
    assert len(t2.metadata["snapshots"]) == 2
    assert len(os.listdir(_mdir(catalog, ("db", "t")))) == 2
    assert t2.df(spark).count() == 3
    assert t2.df(spark, snapshot_id=2).count() == 2


def test_legacy_inline_added_files_still_readable(spark, catalog, table):
    """Metadata written before the manifest spill-out (inline added-files)
    must keep reading — stale scratch tables from old sessions have it."""
    import json as _json

    t2 = table.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    # rewrite the current metadata file to the legacy inline form
    doc = _json.loads(_json.dumps(t2.metadata))
    for s in doc["snapshots"]:
        s["added-files"] = t2._manifest_entries(s)
        s.pop("manifest-path", None)
    with open(t2.metadata_location, "w") as f:
        _json.dump(doc, f)
    reloaded = catalog.load_table(("db", "t"))
    assert reloaded.df(spark).count() == 2
    assert reloaded._files_at(None) == t2._files_at(None)


def test_streaming_resume_from_checkpoint_exactly_once(spark, catalog, tmp_path):
    """Two availableNow runs sharing one checkpoint: the restart must ingest
    ONLY files that arrived after the first run — completed micro-batches
    (each one an append-snapshot commit) are never replayed, so snapshot
    count and row count stay exactly-once across the restart. Runs against
    both metastore backends.  The source is the production replay
    source; its second build adds a third batch file beside the first
    two."""
    from pyspark.sql import functions as F

    from iceberg_rest_catalog_spark.streaming.queries import _drain, _replay

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    catalog.create_namespace(("sdb",))
    catalog.create_table(("sdb", "ingest"), SCHEMA)

    def replay(ids, first_batch):
        # one batch file per 5 ids, numbered from first_batch on
        rows = spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, name string")
        return _replay(
            rows.repartition(len(ids) // 5), F.spark_partition_id() + first_batch, src
        )

    def run(sdf):
        _drain(
            sdf,
            each=lambda b, _id: catalog.load_table(("sdb", "ingest")).append(b),
            checkpoint=ckpt,
        )

    run(replay(range(0, 10), 0))
    t1 = catalog.load_table(("sdb", "ingest"))
    n_snaps_1 = len(t1.metadata["snapshots"])
    assert n_snaps_1 == 2  # one snapshot per micro-batch
    assert t1.df(spark).count() == 10

    run(replay(range(10, 15), 2))
    t2 = catalog.load_table(("sdb", "ingest"))
    assert sorted(r.id for r in t2.df(spark).collect()) == list(range(15))
    assert len(t2.metadata["snapshots"]) == n_snaps_1 + 1  # only the new file


def test_metadata_tables(spark, catalog, table):
    """Iceberg-style metadata tables: snapshots/history/files/partitions as
    DataFrames built from manifests alone (no data scan)."""
    t = table.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    t = t.append(spark.createDataFrame([(3, "c")], "id long, name string"))

    snaps = t.snapshots_df(spark).collect()
    assert [r.snapshot_id for r in snaps] == [1, 2]
    assert all(r.operation == "append" and r.added_files_count >= 1 for r in snaps)

    hist = t.history_df(spark).collect()
    assert [r.snapshot_id for r in hist] == [1, 2]
    assert all(r.is_current_ancestor for r in hist)

    files = t.files_df(spark).collect()
    assert len(files) == len(t._files_at(None))
    assert all(f.file_size_bytes > 0 for f in files)
    # time-travel view of the files table
    assert len(t.files_df(spark, snapshot_id=1).collect()) < len(files)

    parts = t.partitions_df(spark).collect()
    assert len(parts) == 1  # unpartitioned: one (empty-map) partition row
    assert parts[0].file_count == len(files)
    assert parts[0].total_size_bytes == sum(f.file_size_bytes for f in files)


def test_orphan_age_threshold_spares_young_files(spark, catalog, table):
    """remove_orphan_files(older_than_ms): just-staged uncommitted files
    survive a concurrent sweep; an explicit future threshold reclaims."""
    import os
    import time as _time

    t = table.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    # stage an uncommitted file like an in-flight writer would
    staged_dir = os.path.join(t.location, "data", "inflight")
    os.makedirs(staged_dir)
    staged = os.path.join(staged_dir, "part-0.parquet")
    with open(staged, "w") as f:
        f.write("x")
    now_ms = int(_time.time() * 1000)
    removed = t.remove_orphan_files(older_than_ms=now_ms - 60_000)
    assert removed == [] and os.path.exists(staged)
    removed = t.remove_orphan_files(older_than_ms=now_ms + 60_000)
    assert removed == [os.path.join("data", "inflight", "part-0.parquet")]
    assert not os.path.exists(staged)
    assert t.df(spark).count() == 1


def test_wap_branch_commit_and_fast_forward(spark, catalog, table):
    """Write-audit-publish: a branch append stages a snapshot main readers
    cannot see (reads follow lineage, not ids); fast_forward publishes it;
    a diverged main rejects the publish."""
    t = table.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    # stage on a branch: main must be untouched
    t = catalog.load_table(("db", "t")).append(
        spark.createDataFrame([(2, "staged")], "id long, name string"),
        branch="audit",
    )
    assert t.metadata["current-snapshot-id"] == 1
    assert t.df(spark).count() == 1  # main readers see only snapshot 1
    staged_sid = t.snapshot_for_ref("audit")
    audit_rows = t.df(spark, snapshot_id=staged_sid)
    assert sorted(r.id for r in audit_rows.collect()) == [1, 2]  # audit view

    # second staged commit chains on the branch
    t = t.append(
        spark.createDataFrame([(3, "staged2")], "id long, name string"),
        branch="audit",
    )
    assert t.metadata["current-snapshot-id"] == 1
    assert t.df(spark, snapshot_id=t.snapshot_for_ref("audit")).count() == 3

    # publish: fast-forward main to the branch head
    t = t.fast_forward("audit")
    assert t.metadata["current-snapshot-id"] == t.snapshot_for_ref("audit")
    assert sorted(r.id for r in t.df(spark).collect()) == [1, 2, 3]


def test_wap_fast_forward_rejects_diverged_main(spark, catalog, table):
    t = table.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    t = catalog.load_table(("db", "t")).append(
        spark.createDataFrame([(2, "b")], "id long, name string"), branch="wip"
    )
    # main advances independently -> branch head no longer descends from main
    t = catalog.load_table(("db", "t")).append(
        spark.createDataFrame([(9, "z")], "id long, name string")
    )
    with pytest.raises(E.CommitFailedException):
        t.fast_forward("wip")
    # and committing to a TAG is rejected
    t = t.set_ref("rel", t.metadata["current-snapshot-id"], type="tag")
    with pytest.raises(E.BadRequestException):
        t.append(
            spark.createDataFrame([(4, "d")], "id long, name string"), branch="rel"
        )


def test_column_stats_prune_files(spark, catalog):
    """Manifest column stats: range-clustered files are skipped from
    METADATA for selective predicates; results stay exact because the
    predicate is re-applied by Spark."""
    catalog.create_namespace(("cdb",))
    tbl = catalog.create_table(
        ("cdb", "clustered"),
        Schema(0, [NestedField(1, "id", "long", False),
                   NestedField(2, "name", "string", False)]),
        write_order=[{"name": "id", "direction": "asc"}],
    )
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(1000)], "id long, name string"
    )
    t2 = tbl.append(df.repartitionByRange(4, "id"))
    entries = t2._entries_at(None)
    assert len(entries) == 4
    assert all("id" in e["stats"] for e in entries)  # stats recorded

    all_files = t2.plan_files()
    hot = t2.plan_files(column_predicates=[("id", ">=", 900)])
    assert len(hot) < len(all_files)  # metadata skipped cold files
    got = t2.scan(spark, column_predicates=[("id", ">=", 900)])
    assert sorted(r.id for r in got.collect()) == list(range(900, 1000))
    # equality predicate prunes to a single band
    one = t2.plan_files(column_predicates=[("id", "==", 5)])
    assert len(one) == 1
    assert [r.id for r in t2.scan(spark, column_predicates=[("id", "==", 5)]).collect()] == [5]


def test_metadata_views_over_sql(spark, catalog, table):
    from iceberg_rest_catalog_spark.catalog import spark_bridge

    t = table.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    views = spark_bridge.register_metadata_views(spark, catalog, ("db", "t"))
    assert set(views) == {
        "db__t__snapshots", "db__t__history", "db__t__files", "db__t__partitions"
    }
    row = spark.sql(
        "SELECT count(*) AS n, max(snapshot_id) AS head FROM db__t__snapshots"
    ).collect()[0]
    assert (row.n, row.head) == (2, 2)
    assert spark.sql("SELECT sum(file_count) AS f FROM db__t__partitions").collect()[0].f \
        == spark.sql("SELECT count(*) AS c FROM db__t__files").collect()[0].c


def test_delete_where_copy_on_write(spark, catalog, table):
    """Row-level DELETE: only candidate files rewrite, old snapshots keep
    the deleted rows (time travel), no-op conditions commit nothing."""
    t = table.append(
        spark.createDataFrame([(i, f"r{i}") for i in range(100)], "id long, name string")
    )
    t2 = t.delete_where(spark, "id >= 90")
    assert t2.metadata["current-snapshot-id"] == 2
    assert t2.current_snapshot()["operation"] == "overwrite"
    assert sorted(r.id for r in t2.df(spark).collect()) == list(range(90))
    # time travel still sees the deleted rows
    assert t2.df(spark, snapshot_id=1).count() == 100
    # no-op delete: no new snapshot
    t3 = t2.delete_where(spark, "id > 1000")
    assert t3.metadata["current-snapshot-id"] == 2
    # NULL-condition rows survive a delete
    t4 = catalog.load_table(("db", "t")).append(
        spark.createDataFrame([(None, "nullid")], "id long, name string")
    )
    t5 = t4.delete_where(spark, "id < 10")
    got = {r.name for r in t5.df(spark).collect()}
    assert "nullid" in got and "r5" not in got and "r50" in got


def test_delete_where_prunes_candidate_files(spark, catalog):
    """With a stats prune hint, files that can't match are never rewritten
    (their entries survive verbatim in the new snapshot)."""
    catalog.create_namespace(("ddb",))
    tbl = catalog.create_table(
        ("ddb", "c"),
        Schema(0, [NestedField(1, "id", "long", False),
                   NestedField(2, "name", "string", False)]),
        write_order=[{"name": "id", "direction": "asc"}],
    )
    df = spark.createDataFrame([(i, f"r{i}") for i in range(1000)], "id long, name string")
    t = tbl.append(df.repartitionByRange(4, "id"))
    before = {e["path"] for e in t._entries_at(None)}
    t2 = t.delete_where(spark, "id >= 990", prune=[("id", ">=", 990)])
    after = {e["path"] for e in t2._entries_at(None)}
    assert len(before & after) == 3  # 3 cold files untouched, 1 rewritten
    assert t2.df(spark).count() == 990


def test_update_where_copy_on_write(spark, catalog, table):
    t = table.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, name string")
    )
    t2 = t.update_where(spark, "id = 2", {"name": "upper(name) || '!'"})
    rows = {r.id: r.name for r in t2.df(spark).collect()}
    assert rows == {1: "a", 2: "B!", 3: "c"}
    assert t2.df(spark, snapshot_id=1).filter("name = 'b'").count() == 1
    with pytest.raises(E.BadRequestException):
        t2.update_where(spark, "id = 1", {"nope": "'x'"})


def test_delete_where_merge_on_read(spark, catalog, table):
    """MoR DELETE: data files untouched, position-delete files applied at
    read time, compaction folds them away."""
    t = table.append(
        spark.createDataFrame([(i, f"r{i}") for i in range(100)], "id long, name string")
    )
    data_before = {e["path"] for e in t._entries_at(None)}
    t2 = t.delete_where(spark, "id >= 95", mode="merge-on-read")
    # data files are untouched; only delete files were added
    assert {e["path"] for e in t2._entries_at(None)} == data_before
    assert t2.current_snapshot()["operation"] == "delete"
    assert t2.current_snapshot()["delete-files-count"] >= 1
    assert sorted(r.id for r in t2.df(spark).collect()) == list(range(95))
    # time travel still sees deleted rows
    assert t2.df(spark, snapshot_id=1).count() == 100
    # a second MoR delete stacks
    t3 = t2.delete_where(spark, "id < 5", mode="merge-on-read")
    assert sorted(r.id for r in t3.df(spark).collect()) == list(range(5, 95))
    # compaction folds the deletes: list clears, contents unchanged
    t4 = t3.compact(spark)
    assert t4._visible_at(None)[1] == []
    assert sorted(r.id for r in t4.df(spark).collect()) == list(range(5, 95))


def test_mor_then_cow_does_not_resurrect(spark, catalog, table):
    """A copy-on-write rewrite of files with pending MoR deletes must not
    bring the deleted rows back."""
    t = table.append(
        spark.createDataFrame([(i, f"r{i}") for i in range(50)], "id long, name string")
    )
    t2 = t.delete_where(spark, "id >= 40", mode="merge-on-read")
    t3 = t2.delete_where(spark, "id < 10")  # copy-on-write
    assert sorted(r.id for r in t3.df(spark).collect()) == list(range(10, 40))


def test_update_where_merge_on_read(spark, catalog, table):
    """MoR UPDATE: one snapshot position-deletes the old versions and
    appends only the rewritten rows."""
    t = table.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, name string")
    )
    data_before = {e["path"] for e in t._entries_at(None)}
    t2 = t.update_where(spark, "id = 2", {"name": "'B'"}, mode="merge-on-read")
    rows = {r.id: r.name for r in t2.df(spark).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}
    # original files all survive; the snapshot adds rewritten-row files
    assert data_before <= {e["path"] for e in t2._entries_at(None)}
    assert t2.df(spark, snapshot_id=1).filter("name = 'b'").count() == 1


@pytest.mark.parametrize("op", ["delete", "update"])
def test_mor_no_match_commits_nothing(spark, catalog, table, op):
    """A merge-on-read DML that matches no row commits no snapshot and
    leaves no file under ``data/``: its empty delete files are removed."""
    import os

    t = table.append(_rows(spark, 0, 5))
    data = os.path.join(t.location, "data")
    before = sorted(os.walk(data))
    if op == "delete":
        t2 = t.delete_where(spark, "id > 100", mode="merge-on-read")
    else:
        t2 = t.update_where(spark, "id > 100", {"name": "'y'"}, mode="merge-on-read")
    assert t2 is t
    assert len(catalog.load_table(("db", "t")).metadata["snapshots"]) == 1
    assert sorted(os.walk(data)) == before


def test_mor_delete_files_survive_orphan_sweep_and_expire(spark, catalog, table):
    t = table.append(
        spark.createDataFrame([(i, f"r{i}") for i in range(20)], "id long, name string")
    )
    t2 = t.delete_where(spark, "id >= 15", mode="merge-on-read")
    removed = t2.remove_orphan_files()
    assert removed == []  # live delete files are referenced, not orphans
    assert t2.df(spark).count() == 15
    # expire the pre-delete history: folded manifest must carry the deletes
    t3 = t2.append(
        spark.createDataFrame([(100, "x")], "id long, name string")
    ).expire_snapshots(retain_last=2)
    assert sorted(r.id for r in t3.df(spark).collect()) == list(range(15)) + [100]


def test_rollback_to_snapshot(spark, catalog, table):
    """Rollback is a metadata-only CAS move to an ancestor; roll-forward
    via a branch ref + fast_forward still works afterwards."""
    t = table.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    t = t.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    t = t.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    assert t.df(spark).count() == 3
    head = t.metadata["current-snapshot-id"]
    t2 = t.rollback_to(1)
    assert t2.metadata["current-snapshot-id"] == 1
    assert sorted(r.id for r in t2.df(spark).collect()) == [1]
    # rolled-past snapshots remain time-travelable
    assert t2.df(spark, snapshot_id=head).count() == 3
    # rollback to self is a no-op commit
    assert t2.rollback_to(1).metadata["current-snapshot-id"] == 1
    # a non-ancestor target is rejected
    with pytest.raises(E.BadRequestException):
        t2.rollback_to(head)  # head is now a DESCENDANT, not an ancestor
    # roll forward: branch ref at the old head, then fast-forward publish
    t3 = t2.set_ref("recover", head, type="branch").fast_forward("recover")
    assert t3.df(spark).count() == 3
    # stale handles from before the roll-forward lose the CAS race
    with pytest.raises(E.CommitFailedException):
        t2.append(spark.createDataFrame([(8, "y")], "id long, name string"))
    # a new append after a rollback forks lineage with a globally unique id
    t4 = t3.rollback_to(1).append(
        spark.createDataFrame([(9, "z")], "id long, name string")
    )
    assert t4.metadata["current-snapshot-id"] > head
    assert sorted(r.id for r in t4.df(spark).collect()) == [1, 9]


def test_evolve_schema_rename_resolves_by_field_id(spark, catalog, table):
    """Renamed columns follow their field ID: files written before the
    rename read back under the NEW name with their old values."""
    t = table.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    )
    t2 = t.evolve_schema(renames={"name": "label"})
    assert t2.schema().field_names() == ["id", "label"]
    rows = {r.id: r.label for r in t2.df(spark).collect()}
    assert rows == {1: "a", 2: "b"}  # old files' 'name' surfaces as 'label'
    # writes under the new schema mix with old files transparently
    t3 = t2.append(spark.createDataFrame([(3, "c")], "id long, label string"))
    assert {r.label for r in t3.df(spark).collect()} == {"a", "b", "c"}


def test_evolve_schema_drop_add_promote(spark, catalog):
    catalog.create_namespace(("edb",))
    tbl = catalog.create_table(
        ("edb", "e"),
        Schema(0, [NestedField(1, "id", "int", False),
                   NestedField(2, "tmp", "string", False)]),
    )
    t = tbl.append(spark.createDataFrame([(1, "x"), (2, "y")], "id int, tmp string"))
    t2 = t.evolve_schema(drops=["tmp"], adds=[("score", "double")],
                         promotes={"id": "long"})
    assert t2.schema().field_names() == ["id", "score"]
    assert [f.type for f in t2.schema().fields] == ["long", "double"]
    rows = sorted((r.id, r.score) for r in t2.df(spark).collect())
    assert rows == [(1, None), (2, None)]  # promoted int reads as long
    # a NEW column must get a FRESH field id, never reuse the dropped one
    assert t2.schema().fields[-1].id == 3
    # re-adding a column with a dropped column's NAME must not resurrect
    # the old data (distinct field id => old files' 'tmp' stays dropped)
    t3 = t2.evolve_schema(adds=[("tmp", "string")])
    assert {r.tmp for r in t3.df(spark).collect()} == {None}


def test_evolve_schema_validation(spark, catalog, table):
    with pytest.raises(E.BadRequestException):
        table.evolve_schema(renames={"nope": "x"})
    with pytest.raises(E.BadRequestException):
        table.evolve_schema(promotes={"name": "long"})  # string->long narrows
    with pytest.raises(E.BadRequestException):
        table.evolve_schema(renames={"name": "id"})  # duplicate result name
    # partition-spec / sort-order source columns are pinned
    catalog.create_namespace(("pdb",))
    tp = catalog.create_table(
        ("pdb", "p"),
        Schema(0, [NestedField(1, "k", "long", False),
                   NestedField(2, "v", "string", False)]),
        partition_spec=[{"name": "k", "transform": "identity"}],
    )
    with pytest.raises(E.BadRequestException):
        tp.evolve_schema(drops=["k"])
    # concurrent evolution loses the CAS race on schema id
    t_stale = table.evolve_schema(adds=[("a1", "long")])
    with pytest.raises(E.CommitFailedException):
        table.evolve_schema(adds=[("a2", "long")])


def test_evolve_schema_with_mor_deletes(spark, catalog, table):
    """Position deletes survive a schema evolution: positions are
    file-relative, independent of column names."""
    t = table.append(
        spark.createDataFrame([(i, f"r{i}") for i in range(10)], "id long, name string")
    )
    t2 = t.delete_where(spark, "id >= 8", mode="merge-on-read")
    t3 = t2.evolve_schema(renames={"name": "label"})
    assert sorted(r.id for r in t3.df(spark).collect()) == list(range(8))
    assert {r.label for r in t3.df(spark).collect()} == {f"r{i}" for i in range(8)}


def test_partition_spec_evolution(spark, catalog):
    """Partition evolution is metadata-only: old files keep their old
    partition values, new writes record the new spec's, and each prunes
    on its own layout."""
    from pyspark.sql import functions as F

    catalog.create_namespace(("sdb",))
    tbl = catalog.create_table(
        ("sdb", "ev"),
        Schema(0, [NestedField(1, "id", "long", False),
                   NestedField(2, "ts", "timestamp", False)]),
        partition_spec=[{"name": "ts", "transform": "year"}],
    )

    def rows(vals):
        return spark.createDataFrame(vals, "id long, ts string").select(
            "id", F.col("ts").cast("timestamp_ntz").alias("ts")
        )

    t = tbl.append(rows([(1, "2020-03-01 00:00:00"), (2, "2021-06-01 00:00:00")]))
    t2 = t.evolve_partition_spec([{"name": "ts", "transform": "month"}])
    t3 = t2.append(rows([(3, "2021-06-15 00:00:00"), (4, "2021-07-01 00:00:00")]))
    # old files carry year values, new files month values
    parts = {e["partition"].get("ts") for e in t3._entries_at(None)}
    assert {"2020", "2021"} <= parts and any("-" in str(p) for p in parts)
    # pruning on the old layout selects only old files; new layout only new
    assert sorted(r.id for r in t3.scan(spark, partition_filters={"ts": "2021"}).collect()) == [2]
    assert sorted(r.id for r in t3.scan(spark, partition_filters={"ts": "2021-06"}).collect()) == [3]
    # a full scan sees everything regardless of spec mix
    assert t3.df(spark).count() == 4
    # unpartitioned -> partitioned transition also works
    t4 = t3.evolve_partition_spec([])
    t5 = t4.append(rows([(5, "2022-01-01 00:00:00")]))
    assert t5.df(spark).count() == 5
    with pytest.raises(E.BadRequestException):
        t5.evolve_partition_spec([{"name": "nope", "transform": "identity"}])
    with pytest.raises(E.BadRequestException):
        t5.evolve_partition_spec([{"name": "id", "transform": "cube[3]"}])


def test_catalog_stream_source_incremental(spark, catalog, table, tmp_path):
    """Streaming source over a cataloged table: each append snapshot is one
    micro-batch of exactly its added rows; offsets checkpoint per snapshot;
    a restart resumes where it left off; compaction is skipped."""
    from iceberg_rest_catalog_spark.streaming.catalog_source import CatalogStreamReader

    t = table.append(_rows(spark, 0, 5))
    t = t.append(_rows(spark, 5, 8))
    reader = CatalogStreamReader(catalog, ("db", "t"), str(tmp_path / "ckpt"))
    seen: list[tuple[int, list[int]]] = []

    def sink(df, sid):
        seen.append((sid, sorted(r.id for r in df.collect())))

    assert reader.run_available_now(spark, sink) == [1, 2]
    assert seen == [(1, [0, 1, 2, 3, 4]), (2, [5, 6, 7])]
    # nothing pending: drain is a no-op
    assert reader.run_available_now(spark, sink) == []
    # new append, then a compaction: only the append is delivered
    t = t.append(_rows(spark, 8, 10))
    t = t.compact(spark)
    assert reader.run_available_now(spark, sink) == [3]
    assert seen[-1] == (3, [8, 9])
    assert reader.last_committed() == 4  # skipped compaction advanced it
    # a fresh reader on the same checkpoint dir resumes, not replays
    reader2 = CatalogStreamReader(catalog, ("db", "t"), str(tmp_path / "ckpt"))
    assert reader2.run_available_now(spark, sink) == []


def test_catalog_stream_source_fail_on_changes(spark, catalog, table, tmp_path):
    from iceberg_rest_catalog_spark.streaming.catalog_source import CatalogStreamReader

    t = table.append(_rows(spark, 0, 10))
    t = t.delete_where(spark, "id >= 8", mode="merge-on-read")
    strict = CatalogStreamReader(
        catalog, ("db", "t"), str(tmp_path / "c1"), fail_on_changes=True
    )
    drained: list[int] = []
    with pytest.raises(E.BadRequestException):
        strict.run_available_now(spark, lambda df, sid: drained.append(sid))
    assert drained == [1]  # the append before the DML was delivered
    # default mode skips the DML snapshot and keeps going
    lax = CatalogStreamReader(catalog, ("db", "t"), str(tmp_path / "c2"))
    assert lax.run_available_now(spark, lambda df, sid: None) == [1]
    assert lax.last_committed() == 2


def test_merge_into_prunes_and_upserts(spark, catalog):
    """MERGE: source key-range prunes candidate files (cold files survive
    verbatim), matched rows update, new keys insert, history time-travels."""
    catalog.create_namespace(("mdb",))
    tbl = catalog.create_table(
        ("mdb", "m"),
        Schema(0, [NestedField(1, "id", "long", False),
                   NestedField(2, "name", "string", False)]),
        write_order=[{"name": "id", "direction": "asc"}],
    )
    df = spark.createDataFrame([(i, f"r{i}") for i in range(1000)], "id long, name string")
    t = tbl.append(df.repartitionByRange(4, "id"))
    before = {e["path"] for e in t._entries_at(None)}
    src = spark.createDataFrame(
        [(995, "updated"), (1500, "inserted")], "id long, name string"
    )
    t2 = t.merge_into(spark, src, "id")
    after = {e["path"] for e in t2._entries_at(None)}
    assert len(before & after) == 3  # only the top-range file rewrote
    rows = {r.id: r.name for r in t2.df(spark).collect()}
    assert len(rows) == 1001
    assert rows[995] == "updated" and rows[1500] == "inserted" and rows[0] == "r0"
    assert t2.df(spark, snapshot_id=1).count() == 1000  # time travel intact


def test_merge_into_modes_and_validation(spark, catalog, table):
    t = table.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    )
    # expression-based matched update referencing both sides
    src = spark.createDataFrame([(2, "B"), (3, "c")], "id long, name string")
    t2 = t.merge_into(
        spark, src, "id",
        when_matched={"name": "concat(t.name, '+', s.name)"},
    )
    rows = {r.id: r.name for r in t2.df(spark).collect()}
    assert rows == {1: "a", 2: "b+B", 3: "c"}
    # insert-only merge leaves matches alone
    src2 = spark.createDataFrame([(3, "X"), (4, "d")], "id long, name string")
    t3 = t2.merge_into(spark, src2, "id", when_matched=None)
    rows = {r.id: r.name for r in t3.df(spark).collect()}
    assert rows[3] == "c" and rows[4] == "d"
    # update-only merge never inserts
    src3 = spark.createDataFrame([(4, "D"), (9, "z")], "id long, name string")
    t4 = t3.merge_into(spark, src3, "id", when_not_matched=None)
    rows = {r.id: r.name for r in t4.df(spark).collect()}
    assert rows[4] == "D" and 9 not in rows
    # duplicate source keys are ambiguous
    with pytest.raises(E.BadRequestException):
        t4.merge_into(
            spark,
            spark.createDataFrame([(1, "x"), (1, "y")], "id long, name string"),
            "id",
        )
    # merge into an empty-candidate table appends
    catalog.create_namespace(("mdb2",))
    empty = catalog.create_table(("mdb2", "e"), SCHEMA)
    t5 = empty.merge_into(
        spark, spark.createDataFrame([(7, "n")], "id long, name string"), "id"
    )
    assert {r.id for r in t5.df(spark).collect()} == {7}


def test_expire_unreachable_after_rollback(spark, catalog, table):
    """Rolled-past snapshots (higher ids than the head) are invisible to
    prefix expiration; expire_unreachable reclaims exactly them."""
    t = table.append(_rows(spark, 0, 2))
    t = t.append(_rows(spark, 2, 4))
    t = t.append(_rows(spark, 4, 6))
    t = t.rollback_to(1)
    assert t.expire_snapshots(retain_last=1) is t  # prefix rule can't help
    t2 = t.expire_unreachable()
    assert [s["snapshot-id"] for s in t2.metadata["snapshots"]] == [1]
    assert t2.df(spark).count() == 2
    with pytest.raises(E.BadRequestException):
        t2.df(spark, snapshot_id=3)  # gone, loudly
    # the dropped snapshots' files are now orphans
    assert t2.remove_orphan_files()
    assert t2.df(spark).count() == 2
    # a ref-pinned side lineage is NOT unreachable
    t3 = t2.append(_rows(spark, 6, 8))
    t4 = t3.rollback_to(1).set_ref("keepme", t3.metadata["current-snapshot-id"])
    assert t4.expire_unreachable() is t4  # tag pins the rolled-past snapshot


def test_set_write_order(spark, catalog, table):
    t = table.append(_rows(spark, 0, 100))
    t2 = t.set_write_order([{"name": "id", "direction": "desc"}])
    assert t2.metadata["sort-orders"] == [{"name": "id", "direction": "desc"}]
    t3 = t2.append(_rows(spark, 100, 200))
    # new files carry tight id stats from the sorted write
    new = [e for e in t3._entries_at(None) if e.get("stats", {}).get("id", [0, 0])[0] >= 100]
    # each sorted file covers a tight, narrow id range (skip-index quality)
    assert new and all(e["stats"]["id"][1] - e["stats"]["id"][0] < 50 for e in new)
    with pytest.raises(E.BadRequestException):
        t3.set_write_order([{"name": "nope"}])
    with pytest.raises(E.BadRequestException):
        t3.set_write_order([{"name": "id", "direction": "sideways"}])


def test_row_count_from_metadata(spark, catalog, table):
    """count(*) answered from manifest record counts alone — exact through
    appends, CoW/MoR DML, and compaction; None only when stale MoR tuples
    make metadata inexact (CoW overwrite over pending deletes)."""
    assert table.row_count() == 0
    t = table.append(_rows(spark, 0, 100))
    t = t.append(_rows(spark, 100, 150))
    assert t.row_count() == 150
    assert t.row_count(snapshot_id=1) == 100
    t = t.delete_where(spark, "id >= 140")  # CoW
    assert t.row_count() == 140
    t = t.delete_where(spark, "id >= 130", mode="merge-on-read")
    assert t.row_count() == 130
    t = t.update_where(spark, "id = 0", {"name": "'zz'"}, mode="merge-on-read")
    assert t.row_count() == 130  # MoR update: -1 delete, +1 rewritten row
    # CoW over pending MoR deletes -> stale-tuple risk -> metadata punts
    t2 = t.delete_where(spark, "id >= 120")
    assert t2.row_count() is None
    assert t2.df(spark).count() == 120  # the scan fallback stays right
    # compaction folds everything; metadata is exact again
    t3 = t2.compact(spark)
    assert t3.row_count() == 120


# -- property-based DML equivalence ----------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PREDICATES = {
    "v % 2 = 0": lambda id_, v: v % 2 == 0,
    "v % 3 = 1": lambda id_, v: v % 3 == 1,
    "id >= 20": lambda id_, v: id_ >= 20,
    "v > 25": lambda id_, v: v > 25,
}
_dml_step = st.tuples(
    st.sampled_from(["delete", "update"]),
    st.sampled_from(sorted(_PREDICATES)),
    st.sampled_from(["copy-on-write", "merge-on-read"]),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(steps=st.lists(_dml_step, min_size=1, max_size=3))
def test_dml_modes_agree_with_model(spark, tmp_path_factory, steps):
    """Any interleaving of CoW and MoR DELETE/UPDATE must match a plain
    Python model of the same operations — including time travel back to
    every intermediate snapshot."""
    cat = Catalog(str(tmp_path_factory.mktemp("dml") / "wh"))
    cat.create_namespace(("db",))
    tbl = cat.create_table(
        ("db", "t"),
        Schema(0, [NestedField(1, "id", "long", False),
                   NestedField(2, "v", "long", False)]),
    )
    model = {i: i for i in range(30)}
    t = tbl.append(
        spark.createDataFrame([(i, v) for i, v in model.items()], "id long, v long")
    )
    history = [dict(model)]
    for op, pred_s, mode in steps:
        pred = _PREDICATES[pred_s]
        if op == "delete":
            t = t.delete_where(spark, pred_s, mode=mode)
            model = {i: v for i, v in model.items() if not pred(i, v)}
        else:
            t = t.update_where(spark, pred_s, {"v": "v + 10"}, mode=mode)
            model = {i: (v + 10 if pred(i, v) else v) for i, v in model.items()}
        history.append(dict(model))
    assert {(r.id, r.v) for r in t.df(spark).collect()} == set(model.items())
    # metadata count agrees (or declares inexactness, never lies)
    rc = t.row_count()
    assert rc is None or rc == len(model)
    # the initial snapshot still time-travels to the full contents
    assert t.df(spark, snapshot_id=1).count() == 30


def test_catalog_stream_changelog(spark, catalog, table, tmp_path):
    """CDC drain: inserts for appends, exact row retractions for MoR DML,
    content diffs for CoW overwrites, silence for compaction."""
    from iceberg_rest_catalog_spark.streaming.catalog_source import CatalogStreamReader

    t = table.append(_rows(spark, 0, 6))                       # snap 1
    t = t.delete_where(spark, "id >= 4", mode="merge-on-read")  # snap 2
    t = t.update_where(spark, "id = 0", {"name": "'N'"},
                       mode="merge-on-read")                    # snap 3
    t = t.delete_where(spark, "id = 3")                         # snap 4 (CoW)
    t = t.compact(spark)                                        # snap 5
    reader = CatalogStreamReader(catalog, ("db", "t"), str(tmp_path / "cdc"))
    seen = {}

    def sink(df, sid):
        seen[sid] = sorted(
            (r._change_type, r.id, r.name) for r in df.collect()
        )

    assert reader.run_changelog(spark, sink) == [1, 2, 3, 4, 5]
    assert seen[1] == [("insert", i, "x") for i in range(6)]
    assert seen[2] == [("delete", 4, "x"), ("delete", 5, "x")]
    assert seen[3] == [("delete", 0, "x"), ("insert", 0, "N")]
    assert seen[4] == [("delete", 3, "x")]
    assert 5 not in seen  # compaction emits nothing
    # replaying the final state from the changelog reproduces the table
    state = {}
    for sid in sorted(seen):
        for kind, id_, name in seen[sid]:
            if kind == "insert":
                state[(id_, name)] = state.get((id_, name), 0) + 1
            else:
                state[(id_, name)] -= 1
                if not state[(id_, name)]:
                    del state[(id_, name)]
    assert {k for k in state} == {(r.id, r.name) for r in t.df(spark).collect()}


def test_append_retry_wins_cas_race(spark, catalog, table):
    """With retries>0 a stale append re-commits its already-written files
    against the new head; with the default it surfaces the conflict."""
    stale = catalog.load_table(("db", "t"))
    table.append(_rows(spark, 0, 3))          # moves the head under `stale`
    t2 = stale.append(_rows(spark, 10, 13), retries=3)
    assert sorted(r.id for r in t2.df(spark).collect()) == [0, 1, 2, 10, 11, 12]
    assert len(t2.metadata["snapshots"]) == 2


def test_concurrent_mor_deletes_one_wins_cleanly(spark, catalog, table):
    """Two writers planning MoR deletes from the same snapshot: exactly one
    CAS commit wins; the loser raises without corrupting state, leaving
    only orphan delete files for the sweep."""
    t = table.append(_rows(spark, 0, 20))
    a = catalog.load_table(("db", "t"))
    b = catalog.load_table(("db", "t"))
    t_a = a.delete_where(spark, "id >= 15", mode="merge-on-read")
    with pytest.raises(E.CommitFailedException):
        b.delete_where(spark, "id < 5", mode="merge-on-read")
    cur = catalog.load_table(("db", "t"))
    assert sorted(r.id for r in cur.df(spark).collect()) == list(range(15))
    assert cur.row_count() == 15
    # the loser's unreferenced delete files are reclaimable orphans
    removed = cur.remove_orphan_files()
    assert all("-deletes" in p for p in removed) and removed
    assert sorted(r.id for r in cur.df(spark).collect()) == list(range(15))


# -- Python Data Source (format("icsb")) -----------------------------------
def _register_icsb(spark):
    from iceberg_rest_catalog_spark.catalog.datasource import CatalogDataSource

    try:
        spark.dataSource.register(CatalogDataSource)
    except Exception:
        pass  # already registered in this session


def _icsb(spark, catalog, table="db.t", **opts):
    r = (spark.read.format("icsb")
         .option("warehouse", catalog.warehouse)
         .option("table", table))
    if getattr(catalog, "db_path", None):
        r = r.option("db", catalog.db_path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_datasource_batch_read(spark, catalog, table):
    _register_icsb(spark)
    t = table.append(_rows(spark, 0, 50))
    t = t.delete_where(spark, "id >= 45", mode="merge-on-read")
    df = _icsb(spark, catalog)
    assert df.columns == ["id", "name"]
    assert sorted(r.id for r in df.collect()) == list(range(45))
    # snapshot option time-travels
    old = _icsb(spark, catalog, snapshot="1")
    assert old.count() == 50
    # Spark-applied filters stay exact on top of the stats pruning
    assert _icsb(spark, catalog).filter("id >= 40").count() == 5


def test_datasource_field_id_projection(spark, catalog, table):
    _register_icsb(spark)
    t = table.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    t = t.evolve_schema(renames={"name": "label"})
    t.append(spark.createDataFrame([(2, "b")], "id long, label string"))
    rows = {r.id: r.label for r in _icsb(spark, catalog).collect()}
    assert rows == {1: "a", 2: "b"}


def test_datasource_pushdown_prunes_files(spark, catalog):
    from iceberg_rest_catalog_spark.catalog.datasource import CatalogBatchReader
    from pyspark.sql.datasource import GreaterThanOrEqual

    catalog.create_namespace(("dsb",))
    tbl = catalog.create_table(
        ("dsb", "p"),
        Schema(0, [NestedField(1, "id", "long", False),
                   NestedField(2, "name", "string", False)]),
        write_order=[{"name": "id", "direction": "asc"}],
    )
    df = spark.createDataFrame([(i, f"r{i}") for i in range(1000)], "id long, name string")
    tbl.append(df.repartitionByRange(4, "id"))
    opts = {"warehouse": catalog.warehouse, "table": "dsb.p"}
    if getattr(catalog, "db_path", None):
        opts["db"] = catalog.db_path
    reader = CatalogBatchReader(opts)
    assert len(reader.partitions()) == 4
    unsupported = list(reader.pushFilters([GreaterThanOrEqual(("id",), 900)]))
    assert len(unsupported) == 1  # prune-only: Spark re-applies exactly
    assert len(reader.partitions()) == 1  # 3 cold files never opened


def test_datasource_streaming_incremental(spark, catalog, table, tmp_path):
    _register_icsb(spark)
    t = table.append(_rows(spark, 0, 5))
    t = t.append(_rows(spark, 5, 8))
    opts = {"warehouse": catalog.warehouse, "table": "db.t"}
    if getattr(catalog, "db_path", None):
        opts["db"] = catalog.db_path

    def run():
        got = []
        r = spark.readStream.format("icsb")
        for k, v in opts.items():
            r = r.option(k, v)
        q = (r.load().writeStream
             .foreachBatch(lambda b, _id: got.extend(x.id for x in b.collect()))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return sorted(got)

    assert run() == list(range(8))
    # new append + restart from the same checkpoint: only the new rows
    t.append(_rows(spark, 8, 10))
    assert run() == [8, 9]


def test_datasource_write_append_and_overwrite(spark, catalog, table):
    """Writer half of format('icsb'): tasks write parquet files, the
    driver commits one snapshot per save — append and overwrite modes."""
    _register_icsb(spark)
    opts = {"warehouse": catalog.warehouse, "table": "db.t"}
    if getattr(catalog, "db_path", None):
        opts["db"] = catalog.db_path

    def save(df, mode):
        w = df.write.format("icsb").mode(mode)
        for k, v in opts.items():
            w = w.option(k, v)
        w.save()

    save(_rows(spark, 0, 10), "append")
    save(_rows(spark, 10, 15), "append")
    t = catalog.load_table(("db", "t"))
    assert sorted(r.id for r in t.df(spark).collect()) == list(range(15))
    assert len(t.metadata["snapshots"]) == 2  # one snapshot per save
    assert t.row_count() == 15  # writer records footer counts too
    # round trip through the reader side
    assert _icsb(spark, catalog).count() == 15
    # mode("overwrite") commits a replace snapshot; history time-travels
    save(_rows(spark, 100, 103), "overwrite")
    t = catalog.load_table(("db", "t"))
    assert sorted(r.id for r in t.df(spark).collect()) == [100, 101, 102]
    assert t.current_snapshot()["operation"] == "replace"
    assert t.df(spark, snapshot_id=1).count() == 10


def test_zorder_rewrite_prunes_both_dimensions(spark, catalog):
    """Z-order clustering: after rewrite_zorder on (x, y) — two columns
    with INDEPENDENT distributions — manifest stats prune files for
    selective predicates on either dimension alone and on the conjunction,
    which no 1-D sort order can do. Contents are unchanged."""
    catalog.create_namespace(("zdb",))
    tbl = catalog.create_table(
        ("zdb", "zt"),
        Schema(0, [NestedField(1, "x", "long", False),
                   NestedField(2, "y", "long", False),
                   NestedField(3, "payload", "string", False)]),
    )
    # x and y are independent: sorting by x leaves y spread 0..99 in every
    # file (and vice versa), so only a true multi-dim clustering helps both.
    df = spark.createDataFrame(
        [(i % 100, (i * 7919) % 100, f"p{i}") for i in range(10_000)],
        "x long, y long, payload string",
    )
    t2 = tbl.append(df).rewrite_zorder(spark, ["x", "y"], n_files=16)

    total = len(t2.plan_files())
    assert total == 16
    x_only = t2.plan_files(column_predicates=[("x", "<=", 10)])
    y_only = t2.plan_files(column_predicates=[("y", "<=", 10)])
    corner = t2.plan_files(
        column_predicates=[("x", "<=", 10), ("y", "<=", 10)]
    )
    assert len(x_only) < total  # prunes on dim 1 alone
    assert len(y_only) < total  # prunes on dim 2 alone
    assert len(corner) <= min(len(x_only), len(y_only))  # box query: best
    assert len(corner) <= total // 2  # corner box touches a minority of files

    # exactness: the rewrite is a replace snapshot, rows are identical
    got = t2.scan(spark, column_predicates=[("x", "<=", 10), ("y", "<=", 10)])
    exp = df.filter("x <= 10 and y <= 10")
    assert sorted((r.x, r.y, r.payload) for r in got.collect()) == sorted(
        (r.x, r.y, r.payload) for r in exp.collect()
    )
    # time travel still sees the pre-rewrite snapshot
    assert t2.df(spark, snapshot_id=1).count() == 10_000


def test_zorder_rejects_string_columns(spark, catalog):
    catalog.create_namespace(("zdb2",))
    tbl = catalog.create_table(
        ("zdb2", "zt"),
        Schema(0, [NestedField(1, "x", "long", False),
                   NestedField(2, "s", "string", False)]),
    )
    t2 = tbl.append(spark.createDataFrame([(1, "a")], "x long, s string"))
    with pytest.raises(ValueError, match="numeric/date"):
        t2.rewrite_zorder(spark, ["x", "s"])


def test_snapshot_summary_and_batch_id_tracking(spark, catalog, table):
    """Snapshot summaries commit atomically with the snapshot; the
    exactly-once helper returns the max committed id per sink and ignores
    other sinks' commits."""
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    t1 = table.append(df, snapshot_summary={"streaming.sink-id": "s1",
                                            "streaming.batch-id": 0})
    t2 = t1.append(df, snapshot_summary={"streaming.sink-id": "s1",
                                         "streaming.batch-id": 1})
    t3 = t2.append(df, snapshot_summary={"streaming.sink-id": "s2",
                                         "streaming.batch-id": 7})
    assert t3.last_committed_batch_id("s1") == 1
    assert t3.last_committed_batch_id("s2") == 7
    assert t3.last_committed_batch_id("nope") is None
    # summaries survive the metadata round-trip (stringified, Iceberg-style)
    snaps = catalog.load_table(("db", "t")).metadata["snapshots"]
    assert snaps[0]["summary"] == {"streaming.sink-id": "s1",
                                   "streaming.batch-id": "0"}


class TestLineageIntegrity:
    """Round-5 review regressions: branch lineages, time-travel resolution
    and metadata counts must survive maintenance and concurrency."""

    @staticmethod
    def _mk(spark, *ids):
        return spark.createDataFrame([(i, str(i)) for i in ids], "id long, name string")

    def test_expire_preserves_every_lineage_with_branches(self, spark, table):
        t = table.append(self._mk(spark, 1, 2, 3))            # s1 main
        t = t.append(self._mk(spark, 100), branch="audit")    # s2 branch
        t = t.append(self._mk(spark, 4, 5))                   # s3 main
        t = t.expire_snapshots(retain_last=1)
        assert sorted(r.id for r in t.df(spark).collect()) == [1, 2, 3, 4, 5]
        bsid = t.snapshot_for_ref("audit")
        assert sorted(r.id for r in t.df(spark, snapshot_id=bsid).collect()) == [
            1, 2, 3, 100,
        ]

    def test_snapshot_as_of_never_resolves_to_branch(self, spark, table):
        import time as _time

        t = table.append(self._mk(spark, 1))
        t = t.append(self._mk(spark, 2))
        t = t.append(self._mk(spark, 999), branch="audit")    # newest id
        sid = t.snapshot_as_of(int(_time.time() * 1000) + 10_000)
        assert sid == t.metadata["current-snapshot-id"]
        assert sorted(r.id for r in t.df(spark, snapshot_id=sid).collect()) == [1, 2]

    def test_row_count_exact_after_expiring_mor_chain(self, spark, table):
        t = table.append(self._mk(spark, *range(1, 11)))
        t = t.delete_where(spark, "id <= 2", mode="merge-on-read")
        t = t.delete_where(spark, "id in (3, 4)", mode="merge-on-read")
        t = t.expire_snapshots(retain_last=1)
        assert t.df(spark).count() == 6
        assert t.row_count() == 6  # folded removed-records must accumulate

    def test_concurrent_branch_and_main_commits_mint_unique_ids(
        self, spark, catalog, table
    ):
        t = table.append(self._mk(spark, 1))
        stale = catalog.load_table(("db", "t"))   # loaded before the branch commit
        t = t.append(self._mk(spark, 50), branch="b")
        out = stale.append(self._mk(spark, 2), retries=3)
        ids = [s["snapshot-id"] for s in out.metadata["snapshots"]]
        assert len(ids) == len(set(ids)), ids
        assert sorted(r.id for r in out.df(spark).collect()) == [1, 2]

    def test_stale_commit_without_retries_fails_loudly_on_id_collision(
        self, spark, catalog, table
    ):
        from iceberg_rest_catalog_spark.catalog import errors as E

        t = table.append(self._mk(spark, 1))
        stale = catalog.load_table(("db", "t"))
        t.append(self._mk(spark, 50), branch="b")
        with pytest.raises(E.CommitFailedException):
            stale.append(self._mk(spark, 2))  # retries=0: surfaced, not corrupted


# -- one field-ID read path: scan, DML, changelog and format("icsb") -------
def _renamed(spark, table):
    """Three rows written as (id, name), then ``name`` renamed to ``label``."""
    t = table.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, name string").coalesce(1))
    return t.evolve_schema(renames={"name": "label"})


@pytest.mark.parametrize("mode,where", [("copy-on-write", "id = 2"),
                                        ("merge-on-read", "label = 'b'")])
@pytest.mark.parametrize("op", ["delete", "update"])
def test_dml_after_rename_reads_by_field_id(spark, catalog, table, mode, where, op):
    """DML reads its candidate files through the field-ID read path: a
    copy-on-write rewrite keeps the renamed column's values, a predicate
    on the renamed column matches under merge-on-read."""
    t = _renamed(spark, table)
    if op == "delete":
        t = t.delete_where(spark, where, mode=mode)
        want = [(1, "a"), (3, "c")]
    else:
        t = t.update_where(spark, where, {"label": "upper(label)"}, mode=mode)
        want = [(1, "a"), (2, "B"), (3, "c")]
    assert sorted((r.id, r.label) for r in t.df(spark).collect()) == want


def test_merge_after_rename_keeps_unmatched_rows(spark, catalog, table):
    t = _renamed(spark, table)
    src = spark.createDataFrame([(2, "B"), (4, "d")], "id long, label string")
    t = t.merge_into(spark, src, on="id")
    assert sorted((r.id, r.label) for r in t.df(spark).collect()) == [
        (1, "a"), (2, "B"), (3, "c"), (4, "d")]


def _icsb_opts(catalog, table="db.t"):
    opts = {"warehouse": catalog.warehouse, "table": table}
    if getattr(catalog, "db_path", None):
        opts["db"] = catalog.db_path
    return opts


def test_stream_source_reads_pre_rename_rows(spark, catalog, table):
    from iceberg_rest_catalog_spark.catalog.datasource import (
        CatalogSimpleStreamReader,
    )

    t = _renamed(spark, table)
    t = t.append(spark.createDataFrame([(4, "d")], "id long, label string"))
    reader = CatalogSimpleStreamReader(_icsb_opts(catalog))
    rows = reader.readBetweenOffsets(
        {"snapshot-id": 0}, {"snapshot-id": t.metadata["current-snapshot-id"]})
    assert sorted(rows) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_datasource_reads_promoted_types(spark, catalog, table):
    """format("icsb") casts files written before a promotion to the
    current types and fills a later-added column with nulls."""
    _register_icsb(spark)
    tbl = catalog.create_table(
        ("db", "prom"),
        Schema(0, [NestedField(1, "id", "int", False),
                   NestedField(2, "score", "float", False)]),
    )
    t = tbl.append(spark.createDataFrame([(1, 0.5), (2, 1.5)], "id int, score float"))
    t = t.evolve_schema(promotes={"id": "long", "score": "double"},
                        adds=[("tag", "string")])
    t.append(spark.createDataFrame([(3, 2.5, "n")], "id long, score double, tag string"))
    df = _icsb(spark, catalog, table="db.prom")
    assert df.dtypes == [("id", "bigint"), ("score", "double"), ("tag", "string")]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, 0.5, None), (2, 1.5, None), (3, 2.5, "n")]


def test_scan_reads_each_manifest_once(spark, tmp_path):
    """One lineage walk plans a scan: over appends, a merge-on-read delete
    and a copy-on-write delete, every manifest is read exactly once."""
    from tests.test_catalog import _recording_fileio

    log: list[tuple] = []
    cat = Catalog(str(tmp_path / "wh"), fileio=_recording_fileio(log))
    cat.create_namespace(("db",))
    t = cat.create_table(("db", "t"), SCHEMA)
    t = t.append(_rows(spark, 0, 5)).append(_rows(spark, 5, 10))
    t = t.delete_where(spark, "id = 1", mode="merge-on-read")
    t = t.delete_where(spark, "id = 7")
    log.clear()
    df = t.scan(spark)
    reads = [a[0] for name, a in log if name == "read_text" and "manifests" in a[0]]
    assert len(reads) == len(set(reads)) == len(t.metadata["snapshots"]) == 4
    assert sorted(r.id for r in df.collect()) == [0, 2, 3, 4, 5, 6, 8, 9]


def test_expire_reads_each_manifest_once(spark, tmp_path):
    """Expiring a prefix walks the rebased snapshot's lineage once: its
    entries, deletes and accumulated removed-records come from one read of
    each manifest."""
    from tests.test_catalog import _recording_fileio

    log: list[tuple] = []
    cat = Catalog(str(tmp_path / "wh"), fileio=_recording_fileio(log))
    cat.create_namespace(("db",))
    t = cat.create_table(("db", "t"), SCHEMA)
    t = t.append(_rows(spark, 0, 5)).append(_rows(spark, 5, 10))
    t = t.delete_where(spark, "id = 1", mode="merge-on-read")
    t = t.append(_rows(spark, 10, 12)).append(_rows(spark, 12, 14))
    log.clear()
    t = t.expire_snapshots(retain_last=1)
    reads = [a[0] for name, a in log if name == "read_text" and "manifests" in a[0]]
    assert len(reads) == len(set(reads)) == 5
    assert t.current_snapshot()["removed-records"] == 1
    assert t.row_count() == 13
    assert sorted(r.id for r in t.df(spark).collect()) == [0, *range(2, 14)]


def test_changelog_drain_reads_each_manifest_once(spark, tmp_path):
    """A changelog drain loads the table once and reads each manifest
    once, over appends, a merge-on-read delete, a copy-on-write delete and
    a merge."""
    from iceberg_rest_catalog_spark.streaming.catalog_source import CatalogStreamReader
    from tests.test_catalog import _recording_fileio

    log: list[tuple] = []
    cat = Catalog(str(tmp_path / "wh"), fileio=_recording_fileio(log))
    cat.create_namespace(("db",))
    t = cat.create_table(("db", "t"), SCHEMA)
    for i in range(4):
        t = t.append(_rows(spark, 5 * i, 5 * i + 5))
    t = t.delete_where(spark, "id = 1", mode="merge-on-read")
    t = t.delete_where(spark, "id = 7")
    t = t.merge_into(spark, _rows(spark, 18, 22, tag="m"), "id")
    reader = CatalogStreamReader(cat, ("db", "t"), str(tmp_path / "cdc"))
    seen = {}
    log.clear()
    done = reader.run_changelog(
        spark, lambda df, sid: seen.setdefault(sid, sorted(
            (r._change_type, r.id, r.name) for r in df.collect()))
    )
    assert done == list(range(1, 8))
    reads = [a[0] for name, a in log if name == "read_text" and "manifests" in a[0]]
    assert len(reads) == len(set(reads)) == 7
    loads = [a[0] for name, a in log if name == "read_text" and "metadata.json" in a[0]]
    assert len(loads) == 1
    assert seen[5] == [("delete", 1, "x")]
    assert seen[6] == [("delete", 7, "x")]
    assert seen[7] == [("delete", 18, "x"), ("delete", 19, "x"),
                       ("insert", 18, "m"), ("insert", 19, "m"),
                       ("insert", 20, "m"), ("insert", 21, "m")]


def test_write_reads_each_footer_once(spark, catalog, monkeypatch):
    """A write reads each new file's footer once for both its column stats
    and its record count."""
    import os

    import pyarrow.parquet as pq

    catalog.create_namespace(("fdb",))
    tbl = catalog.create_table(
        ("fdb", "p"), SCHEMA,
        partition_spec=[{"name": "name", "transform": "identity"}])
    opened, real = [], pq.ParquetFile
    monkeypatch.setattr(
        pq, "ParquetFile", lambda src, *a, **k: opened.append(src) or real(src, *a, **k))
    df = spark.createDataFrame([(i, "ab"[i % 2]) for i in range(10)], "id long, name string")
    t = tbl.append(df.coalesce(1))
    entries = t._entries_at(None)
    assert sorted(opened) == sorted(os.path.join(t.location, e["path"]) for e in entries)
    assert sorted((e["partition"]["name"], e["stats"]["id"], e["records"])
                  for e in entries) == [("a", [0, 8], 5), ("b", [1, 9], 5)]
    assert t.row_count() == 10
