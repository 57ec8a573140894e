"""Behavioral catalog tests porting the reference's end-to-end suite 1:1.

Each test class mirrors one test group of /root/reference/test/server_test.go
(TestServerConfig :60-67, TestNamespaceOperations :69-141,
TestTableOperations :143-260, TestErrorHandling :262-315,
TestCleanup :317-346) — same sequences, same error types.
"""

import pytest

from iceberg_rest_catalog_spark.catalog import Catalog, NestedField, Schema
from iceberg_rest_catalog_spark.catalog import errors as E
from tests.conftest import make_catalog


@pytest.fixture(params=["fs", "sql", "rest", "s3"])
def catalog(tmp_path, request):
    """Override: the metadata-plane behavioral suite additionally runs on
    the s3 object-store backend (S3FileIO + in-memory conditional-put
    client). The shared fixture keeps fs/sql/rest for suites that also
    touch the data plane through Spark."""
    yield from make_catalog(request.param, tmp_path)

FIELDS = [
    NestedField(1, "id", "long", required=True),
    NestedField(2, "name", "string", required=False),
    NestedField(3, "created_at", "timestamp", required=False),
]
SCHEMA = Schema(0, FIELDS)


class TestServerConfig:
    def test_config_handshake(self, catalog: Catalog):
        cfg = catalog.config()
        assert set(cfg) == {"defaults", "overrides"}
        assert cfg["overrides"]["spark.sql.session.timeZone"] == "UTC"

    def test_health(self, catalog: Catalog):
        assert catalog.health() == {"status": "ok"}


class TestNamespaceOperations:
    def test_create_and_list(self, catalog: Catalog):
        catalog.create_namespace(("test_namespace",), {"env": "test"})
        assert ("test_namespace",) in catalog.list_namespaces()

    def test_exists_positive_and_negative(self, catalog: Catalog):
        catalog.create_namespace(("ns1",))
        assert catalog.namespace_exists(("ns1",))
        assert not catalog.namespace_exists(("nope",))

    def test_load_properties(self, catalog: Catalog):
        catalog.create_namespace(("ns1",), {"owner": "tests", "env": "dev"})
        loaded = catalog.load_namespace(("ns1",))
        assert loaded["properties"] == {"owner": "tests", "env": "dev"}

    def test_update_properties_three_way_summary(self, catalog: Catalog):
        # reference namespaces.go:182-186: {updated, removed, missing}
        catalog.create_namespace(("ns1",), {"keep": "1", "drop": "2"})
        out = catalog.update_namespace_properties(
            ("ns1",), removals=["drop", "ghost"], updates={"added": "3"}
        )
        assert out == {"updated": ["added"], "removed": ["drop"], "missing": ["ghost"]}
        assert catalog.load_namespace(("ns1",))["properties"] == {
            "keep": "1",
            "added": "3",
        }

    def test_update_properties_duplicate_key_422(self, catalog: Catalog):
        # reference namespaces.go:159-166
        catalog.create_namespace(("ns1",))
        with pytest.raises(E.UnprocessableEntityException) as ei:
            catalog.update_namespace_properties(
                ("ns1",), removals=["k"], updates={"k": "v"}
            )
        assert ei.value.code == 422

    def test_multilevel_namespaces(self, catalog: Catalog):
        catalog.create_namespace(("a",))
        catalog.create_namespace(("a", "b"))
        assert catalog.list_namespaces(("a",)) == [("a", "b")]
        with pytest.raises(E.NoSuchNamespaceException):
            catalog.list_namespaces(("missing_parent",))

    def test_list_skips_directories_that_are_not_levels(self, catalog: Catalog):
        # a warehouse or namespace directory may hold directories no client
        # could name (a snapshot dir, a writer's temp dir): listing skips them
        import os

        if catalog.backend != "fs":
            pytest.skip("stray directories are a warehouse-layout concept")
        catalog.create_namespace(("db",))
        for stray in ((".snapshots",), ("db", ".tmp")):
            d = os.path.join(catalog.warehouse, *stray)
            catalog.fio.mkdirs(d)
            catalog.fio.write_text_atomic(os.path.join(d, "part"), "")
        assert catalog.list_namespaces() == [("db",)]
        assert catalog.list_namespaces(("db",)) == []

    def test_drop_restrict_semantics(self, catalog: Catalog):
        # reference namespaces.go:131-136 — no cascade
        catalog.create_namespace(("ns1",))
        catalog.create_table(("ns1", "t"), SCHEMA)
        with pytest.raises(E.NamespaceNotEmptyException):
            catalog.drop_namespace(("ns1",))
        catalog.drop_table(("ns1", "t"))
        catalog.drop_namespace(("ns1",))
        assert not catalog.namespace_exists(("ns1",))


class TestTableOperations:
    IDENT = ("test_namespace", "test_table")

    @pytest.fixture(autouse=True)
    def ns(self, catalog: Catalog):
        catalog.create_namespace(("test_namespace",))

    def test_create_table(self, catalog: Catalog):
        tbl = catalog.create_table(self.IDENT, SCHEMA, properties={"description": "Test table"})
        assert tbl.identifier == self.IDENT
        assert tbl.schema().schema_id == 0
        assert [f.name for f in tbl.schema().fields] == ["id", "name", "created_at"]
        assert tbl.properties()["description"] == "Test table"

    def test_table_exists(self, catalog: Catalog):
        catalog.create_table(self.IDENT, SCHEMA)
        assert catalog.table_exists(self.IDENT)
        assert not catalog.table_exists(("test_namespace", "non_existent"))

    def test_load_table(self, catalog: Catalog):
        catalog.create_table(self.IDENT, SCHEMA)
        tbl = catalog.load_table(self.IDENT)
        assert tbl.identifier == self.IDENT
        assert len(tbl.schema().fields) == 3
        # fs: v1.metadata.json; sql pointer: v1-{uuid8}.metadata.json
        import os

        base = os.path.basename(tbl.metadata_location)
        assert base.startswith("v1") and base.endswith(".metadata.json")

    def test_list_tables(self, catalog: Catalog):
        catalog.create_table(self.IDENT, SCHEMA)
        assert self.IDENT in catalog.list_tables(("test_namespace",))

    def test_update_table_schema_evolution(self, catalog: Catalog):
        # reference server_test.go:210-225: AssertCurrentSchemaID(0),
        # AddSchema(id=1, +updated_at), SetCurrentSchema(1)
        catalog.create_table(self.IDENT, SCHEMA)
        new_schema = Schema(
            1, FIELDS + [NestedField(4, "updated_at", "timestamp", required=True)]
        )
        updated = catalog.update_table(
            self.IDENT,
            requirements=[{"type": "assert-current-schema-id", "current-schema-id": 0}],
            updates=[
                {"action": "add-schema", "schema": new_schema.to_json()},
                {"action": "set-current-schema", "schema-id": 1},
            ],
        )
        assert len(updated.schema().fields) == 4
        assert updated.version == 2
        # old schema retained for old files
        assert [s["schema-id"] for s in updated.metadata["schemas"]] == [0, 1]

    def test_update_table_requirement_failure(self, catalog: Catalog):
        catalog.create_table(self.IDENT, SCHEMA)
        with pytest.raises(E.CommitFailedException):
            catalog.update_table(
                self.IDENT,
                requirements=[
                    {"type": "assert-current-schema-id", "current-schema-id": 99}
                ],
                updates=[],
            )

    def test_rename_table_and_back(self, catalog: Catalog):
        catalog.create_table(self.IDENT, SCHEMA)
        new_ident = ("test_namespace", "renamed_table")
        renamed = catalog.rename_table(self.IDENT, new_ident)
        assert renamed.identifier == new_ident
        assert not catalog.table_exists(self.IDENT)
        assert catalog.table_exists(new_ident)
        catalog.rename_table(new_ident, self.IDENT)
        assert catalog.table_exists(self.IDENT)

    def test_rename_cross_namespace(self, catalog: Catalog):
        catalog.create_namespace(("other",))
        catalog.create_table(self.IDENT, SCHEMA)
        catalog.rename_table(self.IDENT, ("other", "moved"))
        assert catalog.table_exists(("other", "moved"))

    def test_drop_table(self, catalog: Catalog):
        catalog.create_table(self.IDENT, SCHEMA)
        catalog.drop_table(self.IDENT)
        assert not catalog.table_exists(self.IDENT)

    def test_stage_create_not_implemented(self, catalog: Catalog):
        # reference tables.go:91-96
        with pytest.raises(E.NotImplementedException):
            catalog.create_table(self.IDENT, SCHEMA, stage_create=True)

    def test_purge_drop_rejected(self, catalog: Catalog):
        # reference tables.go:288-295 serves the NotImplemented error body
        catalog.create_table(self.IDENT, SCHEMA)
        with pytest.raises(E.NotImplementedException):
            catalog.drop_table(self.IDENT, purge=True)


class TestErrorHandling:
    def test_load_missing_namespace_404(self, catalog: Catalog):
        with pytest.raises(E.NoSuchNamespaceException) as ei:
            catalog.load_namespace(("missing",))
        assert (ei.value.code, ei.value.type) == (404, "NoSuchNamespaceException")

    def test_load_missing_table_404(self, catalog: Catalog):
        catalog.create_namespace(("ns",))
        with pytest.raises(E.NoSuchTableException) as ei:
            catalog.load_table(("ns", "missing"))
        assert (ei.value.code, ei.value.type) == (404, "NoSuchTableException")

    def test_duplicate_namespace_409(self, catalog: Catalog):
        catalog.create_namespace(("dup",))
        with pytest.raises(E.NamespaceAlreadyExistsException) as ei:
            catalog.create_namespace(("dup",))
        assert (ei.value.code, ei.value.type) == (409, "AlreadyExistsException")

    def test_duplicate_table_409(self, catalog: Catalog):
        catalog.create_namespace(("ns",))
        catalog.create_table(("ns", "t"), SCHEMA)
        with pytest.raises(E.TableAlreadyExistsException) as ei:
            catalog.create_table(("ns", "t"), SCHEMA)
        assert (ei.value.code, ei.value.type) == (409, "AlreadyExistsException")

    def test_error_wire_format(self, catalog: Catalog):
        err = E.NoSuchTableException("ns.t")
        assert err.to_dict() == {
            "error": {
                "message": "The given table does not exist",
                "type": "NoSuchTableException",
                "code": 404,
            }
        }

    def test_namespace_level_with_separator_rejected(self, catalog: Catalog):
        # "\x1f" joins levels in REST URLs and sql keys: ("a\x1fb",) would
        # alias ("a", "b") there
        for ns in (("a\x1fb",), ("a", "b\x1f")):
            with pytest.raises(E.BadRequestException):
                catalog.create_namespace(ns)
        assert not catalog.namespace_exists(("a", "b"))
        assert catalog.list_namespaces() == []


#: One invalid input per case and the exception every backend raises for it
#: (the fs order wins where backends could disagree: it is what REST serves).
PARITY_CASES = {
    "load_bad_name_missing_ns": (
        lambda c: c.load_table(("nope", "..x")), E.NoSuchNamespaceException),
    "drop_bad_name_missing_ns": (
        lambda c: c.drop_table(("nope", "..x")), E.NoSuchNamespaceException),
    "create_bad_name_missing_ns": (
        lambda c: c.create_table(("nope", "..x"), SCHEMA), E.NoSuchNamespaceException),
    "rename_bad_name_missing_ns": (
        lambda c: c.rename_table(("nope", "..x"), ("db", "y")),
        E.NoSuchNamespaceException),
    "list_tables_missing_ns": (
        lambda c: c.list_tables(("nope",)), E.NoSuchNamespaceException),
    "drop_table_missing_ns": (
        lambda c: c.drop_table(("nope", "t")), E.NoSuchNamespaceException),
    "duplicate_create": (
        lambda c: c.create_table(("db", "t"), SCHEMA), E.TableAlreadyExistsException),
    "drop_non_empty_ns": (
        lambda c: c.drop_namespace(("db",)), E.NamespaceNotEmptyException),
    "bad_ns_level": (
        lambda c: c.create_namespace(("db", ".hidden")), E.BadRequestException),
}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_invalid_input_parity(catalog: Catalog, case):
    op, exc = PARITY_CASES[case]
    catalog.create_namespace(("db",))
    catalog.create_table(("db", "t"), SCHEMA)
    with pytest.raises(exc):
        op(catalog)


class TestCleanup:
    def test_full_teardown_sweep(self, catalog: Catalog):
        # reference server_test.go:317-346: drop everything, list-empty
        for ns in [("c1",), ("c2",)]:
            catalog.create_namespace(ns)
            for t in ["t1", "t2"]:
                catalog.create_table(ns + (t,), SCHEMA)
        for ns in catalog.list_namespaces():
            for ident in catalog.list_tables(ns):
                catalog.drop_table(ident)
            catalog.drop_namespace(ns)
        assert catalog.list_namespaces() == []


class TestCommitProtocol:
    """Beyond the reference suite: CAS linearizability (SURVEY §5.2 item 5)."""

    def test_conflicting_commit_raises(self, catalog: Catalog):
        import os

        if catalog.backend != "fs":
            pytest.skip("claim files are an fs-backend concept; sql CAS is "
                        "covered by test_commit_properties + TestSqlBackend")
        catalog.create_namespace(("ns",))
        catalog.create_table(("ns", "t"), SCHEMA)
        # simulate a concurrent writer that has CLAIMED v2 (exclusive-create
        # succeeded — O_EXCL on fs, If-None-Match put on s3) but not yet
        # flushed its JSON: our commit must lose the CAS
        mdir = os.path.join(catalog._table_dir(("ns", "t")), "metadata")
        assert catalog.fio.create_exclusive(
            os.path.join(mdir, "v2.metadata.json"), ""
        )
        with pytest.raises(E.CommitFailedException):
            catalog.update_table(
                ("ns", "t"), [], [{"action": "set-properties", "updates": {"b": "2"}}]
            )
        # reads fall back past the unflushed claim to the last complete version
        assert catalog.load_table(("ns", "t")).version == 1

    def test_hint_regression_self_heals(self, catalog: Catalog):
        import os

        catalog.create_namespace(("ns",))
        catalog.create_table(("ns", "t"), SCHEMA)
        catalog.update_table(
            ("ns", "t"), [], [{"action": "set-properties", "updates": {"a": "1"}}]
        )
        # a stalled writer swapped the hint backwards after a later commit;
        # the hint is advisory — load must still find the newest version
        mdir = os.path.join(catalog._table_dir(("ns", "t")), "metadata")
        catalog.fio.write_text_atomic(os.path.join(mdir, "version-hint.text"), "1")
        t = catalog.load_table(("ns", "t"))
        assert t.version == 2
        assert t.properties() == {"a": "1"}

    def test_regressed_hint_skips_unflushed_top_claim(self, catalog: Catalog):
        import os

        if catalog.backend != "fs":
            pytest.skip("claim files and hints are fs-backend concepts")
        ident = ("ns", "t")
        catalog.create_namespace(("ns",))
        catalog.create_table(ident, SCHEMA)
        for i in range(2):
            catalog.update_table(
                ident, [], [{"action": "set-properties", "updates": {"a": str(i)}}]
            )
        mdir = os.path.join(catalog._table_dir(ident), "metadata")
        catalog.fio.write_text_atomic(os.path.join(mdir, "version-hint.text"), "1")
        assert catalog.fio.create_exclusive(os.path.join(mdir, "v4.metadata.json"), "")
        t = catalog.load_table(ident)
        assert (t.version, t.properties()) == (3, {"a": "1"})
        assert t.metadata_location == os.path.join(mdir, "v3.metadata.json")

    def test_load_with_current_hint_lists_nothing(self, tmp_path):
        """load_table probes upward from the hint (versions are contiguous)
        instead of listing the metadata dir, whose size grows with history."""
        from iceberg_rest_catalog_spark.catalog.fileio import LocalFileIO

        calls: list[str] = []

        class Counting(LocalFileIO):
            def listdir(self, path):
                calls.append(path)
                return super().listdir(path)

        cat = Catalog(str(tmp_path / "wh"), fileio=Counting())
        cat.create_namespace(("ns",))
        cat.create_table(("ns", "t"), SCHEMA)
        for i in range(3):
            cat.update_table(
                ("ns", "t"), [], [{"action": "set-properties", "updates": {"k": str(i)}}]
            )
        calls.clear()
        assert cat.load_table(("ns", "t")).version == 4
        assert calls == []

    def test_versions_are_linear(self, catalog: Catalog):
        catalog.create_namespace(("ns",))
        catalog.create_table(("ns", "t"), SCHEMA)
        for i in range(5):
            catalog.update_table(
                ("ns", "t"),
                [],
                [{"action": "set-properties", "updates": {f"k{i}": str(i)}}],
            )
        t = catalog.load_table(("ns", "t"))
        assert t.version == 6
        assert t.properties() == {f"k{i}": str(i) for i in range(5)}


class TestConfigBootstrap:
    """Mirrors the reference's config loading (main.go:28-80,97-100)."""

    def test_defaults_when_no_file(self, tmp_path, monkeypatch):
        from iceberg_rest_catalog_spark.catalog.config import load_config

        monkeypatch.setenv("ICSB_SPARK_HOME", str(tmp_path))  # empty dir
        monkeypatch.setenv("HOME", str(tmp_path))
        cfg = load_config()
        assert cfg.default_catalog == "default"
        assert cfg.catalog_props()["type"] == "fs"

    def test_file_overrides_defaults_and_selects_catalog(self, tmp_path, monkeypatch):
        from iceberg_rest_catalog_spark.catalog.config import (
            CONFIG_NAME,
            load_config,
        )

        (tmp_path / CONFIG_NAME).write_text(
            "log_level: debug\n"
            "default_catalog: prod\n"
            "catalogs:\n"
            f"  prod: {{type: fs, warehouse: {tmp_path}/wh}}\n"
        )
        monkeypatch.setenv("ICSB_SPARK_HOME", str(tmp_path))
        cfg = load_config()
        assert cfg.log_level == "debug"
        cat = cfg.open_catalog()
        cat.create_namespace(("boot",))
        assert cat.namespace_exists(("boot",))

    def test_missing_catalog_and_unknown_type(self, tmp_path, monkeypatch):
        from iceberg_rest_catalog_spark.catalog.config import load_config

        monkeypatch.setenv("ICSB_SPARK_HOME", str(tmp_path))
        monkeypatch.setenv("HOME", str(tmp_path))
        cfg = load_config()
        with pytest.raises(E.BadRequestException):
            cfg.catalog_props("nope")
        cfg.catalogs["glue"] = {"type": "glue"}
        with pytest.raises(E.NotImplementedException):
            cfg.open_catalog("glue")


class TestHardening:
    """Regression tests for the round-2 advisor findings (ADVICE.md)."""

    def test_table_name_traversal_rejected(self, catalog: Catalog, tmp_path):
        catalog.create_namespace(("db",))
        for bad in ("../evil", "..", ".hidden", "a/b", ""):
            with pytest.raises(E.BadRequestException):
                catalog.create_table(("db", bad), SCHEMA)
        catalog.create_table(("db", "ok"), SCHEMA)
        with pytest.raises(E.BadRequestException):
            catalog.rename_table(("db", "ok"), ("db", "../../escape"))
        with pytest.raises(E.BadRequestException):
            catalog.drop_table(("db", "../../escape"))
        assert not (tmp_path / "evil").exists()
        assert not (tmp_path / "escape").exists()

    def test_create_table_custom_location_discoverable(self, catalog: Catalog, tmp_path):
        catalog.create_namespace(("db",))
        loc = str(tmp_path / "external" / "data_here")
        t = catalog.create_table(("db", "ext"), SCHEMA, location=loc)
        assert t.location == loc
        assert catalog.table_exists(("db", "ext"))
        assert ("db", "ext") in catalog.list_tables(("db",))
        loaded = catalog.load_table(("db", "ext"))
        assert loaded.metadata["location"] == loc
        # metadata itself stays under the warehouse (discoverability)
        assert loaded.metadata_location.startswith(catalog.warehouse)
        with pytest.raises(E.TableAlreadyExistsException):
            catalog.create_table(("db", "ext"), SCHEMA)

    def test_crashed_writer_claim_recovered(self, catalog: Catalog):
        import os

        if catalog.backend != "fs":
            pytest.skip("claim files are an fs-backend concept")
        catalog.create_namespace(("db",))
        catalog.create_table(("db", "t"), SCHEMA)
        claim = os.path.join(
            catalog._table_dir(("db", "t")), "metadata", "v2.metadata.json"
        )
        assert catalog.fio.create_exclusive(claim, "{")  # claimed, died mid-flush
        upd = [{"action": "set-properties", "updates": {"k": "v"}}]
        # young claim: may still be in flight -> CAS conflict preserved
        with pytest.raises(E.CommitFailedException):
            catalog.update_table(("db", "t"), [], upd)
        # stale claim: GC'd, the very next commit converges (no brick)
        catalog.stale_claim_seconds = 0.0
        t2 = catalog.update_table(("db", "t"), [], upd)
        assert t2.version == 2 and t2.properties()["k"] == "v"
        assert catalog.load_table(("db", "t")).version == 2


class TestSqlBackend:
    """sql-backend specifics: pointer-table CAS, crash-orphan liveness,
    config dispatch (reference test/server_test.go:25-31 runs on sqlite)."""

    @pytest.fixture()
    def sqlcat(self, tmp_path):
        from iceberg_rest_catalog_spark.catalog import SqlCatalog

        return SqlCatalog(str(tmp_path / "wh"), str(tmp_path / "cat.db"))

    def test_crash_orphan_never_bricks(self, sqlcat):
        """A writer that wrote a metadata file but died before the pointer
        swap leaves an orphan nothing points to; the next commit converges
        immediately — no claim-file GC needed on this backend."""
        sqlcat.create_namespace(("db",))
        sqlcat.create_table(("db", "t"), SCHEMA)
        tdir = sqlcat._table_dir(("db", "t"))
        sqlcat._new_metadata_file(tdir, 2, {"orphaned": True})
        t2 = sqlcat.update_table(
            ("db", "t"), [], [{"action": "set-properties", "updates": {"k": "v"}}]
        )
        assert t2.version == 2 and t2.properties()["k"] == "v"
        assert sqlcat.load_table(("db", "t")).properties() == {"k": "v"}

    def test_metadata_location_is_pointer(self, sqlcat):
        sqlcat.create_namespace(("db",))
        t = sqlcat.create_table(("db", "t"), SCHEMA)
        assert t.metadata_location.endswith(".metadata.json")
        t2 = sqlcat.update_table(
            ("db", "t"), [], [{"action": "set-properties", "updates": {"a": "1"}}]
        )
        assert t2.metadata_location != t.metadata_location
        assert sqlcat.load_table(("db", "t")).metadata_location == t2.metadata_location

    def test_config_opens_sql_backend(self, tmp_path, monkeypatch):
        from iceberg_rest_catalog_spark.catalog.config import CONFIG_NAME, load_config

        (tmp_path / CONFIG_NAME).write_text(
            "default_catalog: meta\n"
            "catalogs:\n"
            f"  meta: {{type: sql, warehouse: {tmp_path}/wh, db: {tmp_path}/c.db}}\n"
        )
        monkeypatch.setenv("ICSB_SPARK_HOME", str(tmp_path))
        cat = load_config().open_catalog()
        assert cat.backend == "sql"
        cat.create_namespace(("boot",))
        assert cat.namespace_exists(("boot",))
        assert (tmp_path / "c.db").is_file()


def _recording_fileio(log: list):
    """A LocalFileIO that appends (method, args) to ``log`` per call."""
    from iceberg_rest_catalog_spark.catalog.fileio import LocalFileIO

    class Recording(LocalFileIO):
        def __getattribute__(self, name):
            attr = super().__getattribute__(name)
            if callable(attr) and not name.startswith("__"):
                def wrapped(*a, **k):
                    log.append((name, a))
                    return attr(*a, **k)

                return wrapped
            return attr

    return Recording()


class TestFileIOSeam:
    """The metadata plane must route every storage touch through the FileIO
    seam (catalog/fileio.py) — an object-store implementation drops in by
    implementing the same surface."""

    def test_catalog_runs_on_instrumented_fileio(self, tmp_path):
        log: list[tuple] = []
        cat = Catalog(str(tmp_path / "wh"), fileio=_recording_fileio(log))
        cat.create_namespace(("db",), {"k": "v"})
        cat.create_table(("db", "t"), SCHEMA)
        cat.update_table(
            ("db", "t"), [], [{"action": "set-properties", "updates": {"a": "1"}}]
        )
        t = cat.load_table(("db", "t"))
        assert t.properties() == {"a": "1"}
        cat.rename_table(("db", "t"), ("db", "t2"))
        cat.drop_table(("db", "t2"))
        cat.drop_namespace(("db",))
        # every storage primitive the flow needs went through the seam
        calls = {name for name, _ in log}
        for op in ("write_text_atomic", "read_text", "create_exclusive",
                   "isfile", "listdir", "mkdirs", "rename", "rmtree"):
            assert op in calls, f"{op} bypassed the FileIO seam"

    @staticmethod
    def _assert_rename_resolves_once_and_loads_once(cat, log, monkeypatch):
        import os

        cat.create_namespace(("db",))
        cat.create_namespace(("db2",))
        cat.create_table(("db", "t"), SCHEMA)
        cat.update_table(
            ("db", "t"), [], [{"action": "set-properties", "updates": {"a": "1"}}]
        )
        realpath, resolved = os.path.realpath, []
        monkeypatch.setattr(
            os.path, "realpath", lambda p: resolved.append(p) or realpath(p)
        )
        log.clear()
        t = cat.rename_table(("db", "t"), ("db2", "t2"))
        monkeypatch.undo()
        # one containment check per identifier: warehouse + table path each
        assert len(resolved) == 4
        reads = [a for name, a in log
                 if name == "read_text" and a[0].endswith(".metadata.json")]
        assert len(reads) == 1
        fresh = cat.load_table(("db2", "t2"))
        assert t.location == fresh.location == os.path.join(cat.warehouse, "db2", "t2")
        assert (t.version, t.metadata_location, t.metadata) == (
            fresh.version, fresh.metadata_location, fresh.metadata
        )

    def test_rename_resolves_each_identifier_once_and_loads_once(
        self, tmp_path, monkeypatch
    ):
        log: list[tuple] = []
        cat = Catalog(str(tmp_path / "wh"), fileio=_recording_fileio(log))
        self._assert_rename_resolves_once_and_loads_once(cat, log, monkeypatch)

    def test_sql_rename_resolves_each_identifier_once_and_loads_once(
        self, tmp_path, monkeypatch
    ):
        from iceberg_rest_catalog_spark.catalog import SqlCatalog

        log: list[tuple] = []
        cat = SqlCatalog(
            str(tmp_path / "wh"), str(tmp_path / "cat.db"),
            fileio=_recording_fileio(log),
        )
        self._assert_rename_resolves_once_and_loads_once(cat, log, monkeypatch)

    def test_manifest_reads_resolve_no_paths(self, catalog: Catalog, monkeypatch):
        """A table finds its manifests next to ``metadata_location``: reading
        a lineage runs no ``_table_dir`` containment check (two realpath
        calls each)."""
        import os

        catalog.create_namespace(("db",))
        t = catalog.create_table(("db", "t"), SCHEMA)
        mdir = os.path.dirname(t.metadata_location)
        catalog.fio.mkdirs(os.path.join(mdir, "manifests"))
        for sid in (1, 2, 3):
            rel = os.path.join("manifests", f"m{sid}.json")
            catalog._write_json(os.path.join(mdir, rel), {
                "entries": [{"path": f"/d/{sid}.parquet", "partition": {}}]})
            snap = {"snapshot-id": sid, "parent-snapshot-id": sid - 1 or None,
                    "manifest-path": rel, "operation": "append"}
            t = catalog.update_table(
                ("db", "t"), [], [{"action": "add-snapshot", "snapshot": snap}]
            )
        realpath, resolved = os.path.realpath, []
        monkeypatch.setattr(
            os.path, "realpath", lambda p: resolved.append(p) or realpath(p)
        )
        entries = t._visible_at(None)[0]
        monkeypatch.undo()
        assert [e["path"] for e in entries] == [f"/d/{i}.parquet" for i in (1, 2, 3)]
        assert resolved == []


class TestLogRotation:
    """Reference logger parity (logger/zerolog.go:10-41): a `logger:`
    config with file-name switches output to a size-rotated file."""

    @staticmethod
    def _configured(tmp_path, **kw):
        from iceberg_rest_catalog_spark.catalog.config import (
            LogConfig,
            configure_logging,
        )

        cfg = LogConfig(file_name=str(tmp_path / "engine.log"), **kw)
        configure_logging(cfg)
        return cfg

    @staticmethod
    def _restore():
        import logging

        root = logging.getLogger("iceberg_rest_catalog_spark")
        for h in list(root.handlers):
            h.close()
            root.removeHandler(h)
        root.propagate = True

    def test_size_rollover_produces_second_file(self, tmp_path):
        import logging

        self._configured(tmp_path, max_size_mb=0.001, max_backups=3)  # ~1 KB
        try:
            log = logging.getLogger("iceberg_rest_catalog_spark.rest")
            for i in range(100):
                log.info("request %d %s", i, "x" * 80)
            files = sorted(p.name for p in tmp_path.iterdir())
            assert "engine.log" in files
            assert "engine.log.1" in files, files
        finally:
            self._restore()

    def test_compressed_backups_are_gzip_and_shuffled(self, tmp_path):
        import gzip
        import logging

        self._configured(
            tmp_path, max_size_mb=0.001, max_backups=2, compress=True
        )
        try:
            log = logging.getLogger("iceberg_rest_catalog_spark.rest")
            for i in range(300):
                log.info("request %d %s", i, "y" * 80)
            names = sorted(p.name for p in tmp_path.iterdir())
            assert "engine.log.1.gz" in names, names
            with gzip.open(tmp_path / "engine.log.1.gz", "rt") as f:
                assert "request" in f.read()
            # backupCount=2 bounds retention even under many rollovers
            assert not any(n.startswith("engine.log.3") for n in names), names
        finally:
            self._restore()

    def test_logger_section_parsed_from_config_file(self, tmp_path, monkeypatch):
        from iceberg_rest_catalog_spark.catalog.config import (
            CONFIG_NAME,
            load_config,
        )

        (tmp_path / CONFIG_NAME).write_text(
            "logger:\n"
            "  debug: true\n"
            f"  file-name: {tmp_path}/svc.log\n"
            "  max-size: 5\n"
            "  max-backups: 7\n"
            "  max-age: 14\n"
            "  compress: true\n"
        )
        monkeypatch.setenv("ICSB_SPARK_HOME", str(tmp_path))
        lc = load_config().logger
        assert (lc.debug, lc.file_name, lc.max_size_mb) == (
            True,
            f"{tmp_path}/svc.log",
            5.0,
        )
        assert (lc.max_backups, lc.max_age_days, lc.compress) == (7, 14, True)

    def test_aged_backups_swept_after_rollover(self, tmp_path):
        import logging
        import os
        import time

        self._configured(tmp_path, max_size_mb=0.001, max_backups=5, max_age_days=1)
        try:
            stale = tmp_path / "engine.log.9"
            stale.write_text("old")
            old = time.time() - 3 * 86400
            os.utime(stale, (old, old))
            log = logging.getLogger("iceberg_rest_catalog_spark.rest")
            for i in range(100):
                log.info("request %d %s", i, "z" * 80)
            assert not stale.exists()
        finally:
            self._restore()


class TestCreateRaceAndSchemes:
    """Round-5 review regressions: create_table claim, URI handling."""

    def test_create_table_loses_race_via_exclusive_v1(self, catalog):
        catalog.create_namespace(("ns",))
        catalog.create_table(("ns", "t"), SCHEMA)
        if catalog.backend != "fs":
            return  # claim detail is the fs protocol's; sql/rest CAS differs
        # simulate a racer that passed the existence precheck before the
        # winner's hint write: hint gone, v1 claim present
        import os

        catalog.fio.remove(
            os.path.join(
                catalog._table_dir(("ns", "t")), "metadata", "version-hint.text"
            )
        )
        with pytest.raises(E.TableAlreadyExistsException):
            catalog.create_table(("ns", "t"), SCHEMA)

    def test_custom_uri_location_not_mangled(self, catalog):
        catalog.create_namespace(("ns",))
        t = catalog.create_table(
            ("ns", "uri_t"), SCHEMA, location="s3://bucket/zone/t"
        )
        assert t.metadata["location"] == "s3://bucket/zone/t"

    def test_unknown_warehouse_scheme_raises(self, tmp_path):
        with pytest.raises(E.BadRequestException):
            Catalog("hdfs://nn/warehouse")

    def test_s3a_and_case_insensitive_schemes_route_to_s3(self):
        from iceberg_rest_catalog_spark.catalog.fileio import S3FileIO

        for wh in ("s3a://b/wh", "S3://b/wh", "s3n://b/wh"):
            cat = Catalog(wh)
            assert isinstance(cat.fio, S3FileIO)
            assert cat.warehouse == "s3://b/wh"


def test_schema_from_spark_maps_every_primitive_and_refuses_the_rest():
    """Spark int (and the narrower tinyint/smallint) map to Iceberg int,
    not string; a Spark type with no Iceberg primitive raises instead of
    silently becoming a string column."""
    from pyspark.sql import types as T

    st = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("s", T.ShortType()),
        T.StructField("b", T.ByteType()),
        T.StructField("l", T.LongType(), nullable=False),
        T.StructField("d", T.DecimalType(12, 2)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("tn", T.TimestampNTZType()),
    ])
    sch = Schema.from_spark(st)
    assert [(f.name, f.type, f.required) for f in sch.fields] == [
        ("i", "int", False), ("s", "int", False), ("b", "int", False),
        ("l", "long", True), ("d", "decimal(12,2)", False),
        ("ts", "timestamptz", False), ("tn", "timestamp", False),
    ]
    assert Schema.from_spark(Schema(0, FIELDS).to_spark()).fields == FIELDS
    for bad in (T.ArrayType(T.LongType()), T.MapType(T.StringType(), T.LongType())):
        with pytest.raises(ValueError, match="no Iceberg type"):
            Schema.from_spark(T.StructType([T.StructField("x", bad)]))
