"""RestCatalog-specific behavior not covered by the shared backend matrix.

The shared ``catalog`` fixture already drives every behavioral test through
a RestCatalog over a live facade; these tests pin down the client's own
contract: version parsing against a sql-backed server (uuid-suffixed
metadata filenames), optimistic-concurrency conflicts between two
independent clients of one server (the reference's CommitTable contract,
tables.go:150-227), and the backend registry entry (main.go:12-14).
"""

import pytest

from iceberg_rest_catalog_spark.catalog import (
    Catalog,
    NestedField,
    RestCatalog,
    Schema,
    SqlCatalog,
)
from iceberg_rest_catalog_spark.catalog import errors as E
from iceberg_rest_catalog_spark.catalog.rest import serve

SCHEMA = Schema(0, [NestedField(1, "id", "long", required=True)])


@pytest.fixture
def sql_server(tmp_path):
    backing = SqlCatalog(str(tmp_path / "wh"), str(tmp_path / "catalog.db"))
    srv, base = serve(backing)
    yield base, str(tmp_path / "wh")
    srv.shutdown()


def test_version_parse_against_sql_backend(sql_server):
    """sql-backed servers name metadata v{N}-{uuid8}.metadata.json; the
    client must still recover the numeric version for its Table handle."""
    base, wh = sql_server
    cat = RestCatalog(base, wh)
    cat.create_namespace(("db",))
    t = cat.create_table(("db", "t"), SCHEMA)
    assert t.version == 1
    t2 = cat.update_table(
        ("db", "t"), [], [{"action": "set-properties", "updates": {"k": "v"}}]
    )
    assert t2.version == 2 and t2.properties()["k"] == "v"
    assert "-" in t2.metadata_location.rsplit("/", 1)[-1]  # uuid suffix survives


def test_two_clients_cas_conflict(tmp_path):
    """Two independent REST clients race a commit on one server: the loser
    gets the reference's CommitFailedException, and a retry against fresh
    state succeeds (requirements re-validated server-side)."""
    backing = Catalog(str(tmp_path / "wh"))
    srv, base = serve(backing)
    try:
        a = RestCatalog(base, str(tmp_path / "wh"))
        b = RestCatalog(base, str(tmp_path / "wh"))
        a.create_namespace(("db",))
        a.create_table(("db", "t"), SCHEMA)
        uuid_ = a.load_table(("db", "t")).metadata["table-uuid"]
        req = [{"type": "assert-ref-snapshot-id", "snapshot-id": None}]
        upd = [{"action": "set-properties", "updates": {"who": "a"}}]
        a.update_table(("db", "t"), req, upd)
        # b's requirement was computed before a's commit: must now fail
        with pytest.raises(E.CommitFailedException):
            b.update_table(
                ("db", "t"),
                [{"type": "assert-table-uuid", "uuid": "not-" + uuid_}],
                [{"action": "set-properties", "updates": {"who": "b"}}],
            )
        # retry with re-read state converges
        t = b.update_table(
            ("db", "t"),
            [{"type": "assert-table-uuid", "uuid": uuid_}],
            [{"action": "set-properties", "updates": {"who": "b"}}],
        )
        assert t.properties()["who"] == "b" and t.version == 3
    finally:
        srv.shutdown()


def test_backend_registry_opens_rest(tmp_path):
    from iceberg_rest_catalog_spark.catalog.sql_catalog import open_catalog

    backing = Catalog(str(tmp_path / "wh"))
    srv, base = serve(backing)
    try:
        cat = open_catalog(
            {"type": "rest", "uri": base, "warehouse": str(tmp_path / "wh")}
        )
        assert cat.backend == "rest" and cat.health() == {"status": "ok"}
    finally:
        srv.shutdown()
    with pytest.raises(E.NotImplementedException):
        open_catalog({"type": "glue"})


# -- persistent connections: reconnect and re-send rules -----------------------


def test_get_recovers_after_server_restart(tmp_path):
    """A server restart kills the client's kept-alive connection; the next
    request (read or commit) runs on a fresh one."""
    backing = Catalog(str(tmp_path / "wh"))
    srv, base = serve(backing)
    port = srv.server_address[1]
    cat = RestCatalog(base, str(tmp_path / "wh"))
    cat.create_namespace(("db",))
    cat.create_table(("db", "t"), SCHEMA)
    old_sock = cat._local.conn.sock
    srv.shutdown()
    srv.server_close()
    srv, _ = serve(backing, port=port)
    try:
        # a POST is never re-sent, so this one succeeding shows the dead
        # idle connection was replaced before sending
        t = cat.update_table(
            ("db", "t"), [], [{"action": "set-properties", "updates": {"k": "v"}}]
        )
        assert t.version == 2 and cat._local.conn.sock is not old_sock
        srv.shutdown()
        srv.server_close()
        srv, _ = serve(backing, port=port)
        assert cat.load_table(("db", "t")).version == 2
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.fixture
def lossy(tmp_path, monkeypatch):
    """A server whose load_table and update_table handlers take the request
    and then drop the connection without a reply, ``drops[route]`` times;
    ``seen[route]`` counts the requests that arrived."""
    from iceberg_rest_catalog_spark.catalog import rest

    seen = {"load_table": 0, "update_table": 0}
    drops = {"load_table": 0, "update_table": 0}

    def wrap(route):
        real = getattr(rest._Handler, route)

        def handler(self, *args, **kwargs):
            seen[route] += 1
            if drops[route]:
                drops[route] -= 1
                self.close_connection = True  # reply lost
                return
            real(self, *args, **kwargs)

        monkeypatch.setattr(rest._Handler, route, handler)

    wrap("load_table")
    wrap("update_table")
    srv, base = serve(Catalog(str(tmp_path / "wh")))
    cat = RestCatalog(base, str(tmp_path / "wh"))
    cat.create_namespace(("db",))
    cat.create_table(("db", "t"), SCHEMA)  # connection now kept alive
    yield cat, seen, drops
    srv.shutdown()
    srv.server_close()


def test_get_is_resent_once_on_a_dead_connection(lossy):
    cat, seen, drops = lossy
    drops["load_table"] = 1
    assert cat.load_table(("db", "t")).version == 1
    assert seen["load_table"] == 2
    drops["load_table"] = 2  # the one re-send also dies: surface the error
    with pytest.raises(OSError):
        cat.load_table(("db", "t"))
    assert seen["load_table"] == 4


def test_post_is_never_resent(lossy):
    """A commit whose reply was lost raises; it is not re-sent (the server
    may have applied it, and a re-send would then lose the CAS)."""
    cat, seen, drops = lossy
    drops["update_table"] = 1
    with pytest.raises(OSError):
        cat.update_table(
            ("db", "t"), [], [{"action": "set-properties", "updates": {"k": "v"}}]
        )
    assert seen["update_table"] == 1
    # the client reconnects for the next request
    t = cat.update_table(
        ("db", "t"), [], [{"action": "set-properties", "updates": {"k": "v"}}]
    )
    assert t.version == 2 and seen["update_table"] == 2
