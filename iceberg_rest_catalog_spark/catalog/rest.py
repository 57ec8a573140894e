"""Thin REST facade over :class:`Catalog` — the reference's wire surface.

Route table mirrors reference api/router/router.go:9-55 exactly; namespaces
are encoded in URLs with the ASCII unit separator ``\\x1F`` (reference
api/handlers/models.go:10-12); errors serialize as
``{"error": {"message", "type", "code"}}`` (errors.go:5-13). Pagination
params are accepted and ignored, like the reference (models.go:19-28,52-55).

Stdlib-only (http.server); the engine itself is a library — this facade
exists so a client of the reference can point at the same paths and get the
same behavior.

Connections are persistent HTTP/1.1: :class:`~.rest_client.RestCatalog`
keeps one connection per client thread, so a request costs no TCP
handshake and no server thread start. The server keeps each connection in
step between requests: a request body no handler reads (a 404/405 route, a
GET or DELETE with a body, an error raised before the body was parsed) is
drained after the reply, and a body it cannot frame (``Transfer-Encoding:
chunked``, a bad ``Content-Length``) is refused with a 400 and the
connection closed. The client re-sends an idempotent GET/HEAD once when a
kept-alive connection turns out dead; it never re-sends a POST or DELETE.
"""

from __future__ import annotations

import json
import logging
import re
import socket
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlsplit

from . import errors as E
from .catalog import NS_SEP, Catalog
from .schema import Schema

#: Request logger — the reference's logging middleware
#: (api/middleware/middleware.go:12-35) attaches a per-request UUID and
#: emits one structured line per request with method/path/client/status/
#: latency/size. Quiet by default (WARN); servers opt in via log_level.
LOG = logging.getLogger("iceberg_rest_catalog_spark.rest")


def _split_ns(raw: str) -> tuple[str, ...]:
    return tuple(unquote(raw).split(NS_SEP))


class _Handler(BaseHTTPRequestHandler):
    catalog: Catalog  # injected by serve()

    # Keep-alive. Nagle off: a reply is two writes (headers, then body), and
    # Nagle would hold the second until the client's delayed ACK (~40 ms).
    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True

    # route patterns -> (method -> handler name)
    ROUTES = [
        (re.compile(r"^/v1/config$"), {"GET": "get_config"}),
        (re.compile(r"^/v1/namespaces$"), {"GET": "list_ns", "POST": "create_ns"}),
        (
            re.compile(r"^/v1/namespaces/(?P<ns>[^/]+)$"),
            {"GET": "load_ns", "HEAD": "head_ns", "DELETE": "drop_ns"},
        ),
        (
            re.compile(r"^/v1/namespaces/(?P<ns>[^/]+)/properties$"),
            {"POST": "update_ns_props"},
        ),
        (
            re.compile(r"^/v1/namespaces/(?P<ns>[^/]+)/tables$"),
            {"GET": "list_tables", "POST": "create_table"},
        ),
        (
            re.compile(r"^/v1/namespaces/(?P<ns>[^/]+)/tables/(?P<table>[^/]+)$"),
            {
                "GET": "load_table",
                "POST": "update_table",
                "DELETE": "drop_table",
                "HEAD": "head_table",
            },
        ),
        (re.compile(r"^/v1/tables/rename$"), {"POST": "rename_table"}),
        (re.compile(r"^/health$"), {"GET": "health"}),
    ]

    # -- plumbing -----------------------------------------------------------
    def log_message(self, *a):  # quiet test servers
        pass

    def _body(self) -> dict:
        if self._unread is None:
            raise E.BadRequestException("request body needs a Content-Length")
        n, self._unread = self._unread, 0
        if not n:
            return {}
        try:
            return json.loads(self.rfile.read(n))
        except json.JSONDecodeError as exc:
            raise E.BadRequestException(str(exc)) from exc

    def _send(self, code: int, doc: dict | None = None):
        payload = b"" if doc is None else json.dumps(doc).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.send_header("X-Request-ID", getattr(self, "request_id", "-"))
        if self.close_connection:
            self.send_header("Connection", "close")
        # CORS middleware (reference main.go:113 `cors.Default()` — allow
        # every origin): echo the permissive header on any browser request.
        if self.headers.get("Origin"):
            self.send_header("Access-Control-Allow-Origin", "*")
        self.end_headers()
        # A HEAD reply declares the body's length but never carries it (a
        # stray body would desynchronize the kept-alive connection).
        if payload and self.command != "HEAD":
            self.wfile.write(payload)
        self._status, self._size = code, len(payload)

    def _dispatch(self, method: str):
        # Logging middleware (reference api/middleware/middleware.go:12-35):
        # stamp a per-request UUID before routing, echo it as X-Request-ID,
        # and emit one structured line with latency/status/size afterwards.
        self.request_id = str(uuid.uuid4())
        self._status, self._size = 0, 0
        start = time.perf_counter()
        # Body framing: _unread is the Content-Length not yet consumed, or
        # None for a body this server cannot frame (chunked, bad length);
        # such a request gets its reply and then the connection is closed.
        try:
            n = int(self.headers.get("Content-Length") or 0)
        except ValueError:
            n = -1
        self._unread = None if n < 0 or self.headers.get("Transfer-Encoding") else n
        if self._unread is None:
            self.close_connection = True
        try:
            if method == "OPTIONS":
                self._preflight()
            else:
                self._route(method)
            if self._unread:
                self.rfile.read(self._unread)  # unread body: keep the stream in step
        finally:
            LOG.info(
                "request",
                extra={
                    "requestID": self.request_id,
                    "path": self.path,
                    "method": method,
                    "clientIP": self.client_address[0],
                    "status": self._status,
                    "latency_ms": round((time.perf_counter() - start) * 1e3, 3),
                    "size": self._size,
                },
            )

    def _route(self, method: str):
        path = self.path.split("?")[0]
        for pattern, methods in self.ROUTES:
            m = pattern.match(path)
            if m:
                name = methods.get(method)
                if not name:
                    self._send(405, {"error": {"message": "method not allowed",
                                               "type": "BadRequestException",
                                               "code": 405}})
                    return
                try:
                    getattr(self, name)(**m.groupdict())
                except E.CatalogError as err:
                    self._send(err.code, err.to_dict())
                return
        self._send(404, {"error": {"message": "no route", "type": "BadRequestException",
                                   "code": 404}})

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def do_DELETE(self):
        self._dispatch("DELETE")

    def do_HEAD(self):
        self._dispatch("HEAD")

    def do_OPTIONS(self):
        self._dispatch("OPTIONS")

    def _preflight(self):
        # CORS preflight (reference main.go:113 `cors.Default()`): allow all
        # origins, the standard method set, and the simple request headers.
        self.send_response(204)
        self.send_header("Access-Control-Allow-Origin", "*")
        self.send_header(
            "Access-Control-Allow-Methods",
            "GET,POST,PUT,PATCH,DELETE,HEAD,OPTIONS",
        )
        self.send_header(
            "Access-Control-Allow-Headers", "Origin,Content-Length,Content-Type"
        )
        self.send_header("Access-Control-Max-Age", "43200")
        self.send_header("Content-Length", "0")
        self.end_headers()
        self._status = 204

    # -- handlers (reference api/handlers/{tables,namespaces}.go) -----------
    def get_config(self):
        # The reference warns and ignores a client-supplied ?warehouse=
        # (tables.go:41-44) — the endpoint contract documents the param even
        # though this single-warehouse server doesn't honor it.
        if "warehouse" in parse_qs(urlsplit(self.path).query):
            LOG.warning("warehouse query parameter is not supported")
        self._send(200, self.catalog.config())

    def health(self):
        self._send(200, self.catalog.health())

    def list_ns(self):
        # Optional ?parent=a\x1Fb (reference namespaces.go:12-47): 404s via
        # the catalog if the parent namespace is missing.
        q = parse_qs(urlsplit(self.path).query)
        raw = q.get("parent", [None])[-1]
        parent = tuple(unquote(raw).split(NS_SEP)) if raw else None
        out = self.catalog.list_namespaces(parent)
        self._send(200, {"namespaces": [list(n) for n in out]})

    def create_ns(self):
        body = self._body()
        ns = body.get("namespace") or []
        out = self.catalog.create_namespace(tuple(ns), body.get("properties") or {})
        self._send(200, out)

    def load_ns(self, ns: str):
        self._send(200, self.catalog.load_namespace(_split_ns(ns)))

    def head_ns(self, ns: str):
        if self.catalog.namespace_exists(_split_ns(ns)):
            self._send(204)
        else:
            self._send(404)

    def drop_ns(self, ns: str):
        self.catalog.drop_namespace(_split_ns(ns))
        self._send(204)

    def update_ns_props(self, ns: str):
        body = self._body()
        out = self.catalog.update_namespace_properties(
            _split_ns(ns), body.get("removals") or [], body.get("updates") or {}
        )
        self._send(200, out)

    def list_tables(self, ns: str):
        idents = self.catalog.list_tables(_split_ns(ns))
        self._send(
            200,
            {
                "identifiers": [
                    {"namespace": list(i[:-1]), "name": i[-1]} for i in idents
                ]
            },
        )

    def create_table(self, ns: str):
        body = self._body()
        name = body.get("name")
        if not name or "schema" not in body:
            raise E.BadRequestException("name and schema are required")
        tbl = self.catalog.create_table(
            _split_ns(ns) + (name,),
            Schema.from_json(body["schema"]),
            partition_spec=body.get("partition-spec"),
            write_order=body.get("write-order"),
            properties=body.get("properties"),
            location=body.get("location"),
            stage_create=bool(body.get("stage-create")),
        )
        self._send(200, self._table_response(tbl))

    def load_table(self, ns: str, table: str):
        tbl = self.catalog.load_table(_split_ns(ns) + (table,))
        self._send(200, self._table_response(tbl))

    def update_table(self, ns: str, table: str):
        body = self._body()
        tbl = self.catalog.update_table(
            _split_ns(ns) + (table,),
            body.get("requirements") or [],
            body.get("updates") or [],
        )
        # The commit path returns the two-field UpdateTableResponse
        # (reference tables.go:221-225: MetadataLocation + Metadata only) —
        # NO `config`, unlike create/load's LoadTableResponse.
        self._send(
            200,
            {
                "metadata-location": tbl.metadata_location,
                "metadata": tbl.metadata,
            },
        )

    def drop_table(self, ns: str, table: str):
        # Exact-match the query value like the reference (tables.go:288-295:
        # c.Query("purgeRequested") == "true"); substring tests would also
        # trip on e.g. purgeRequested=truex. The reference's response is the
        # NotImplemented error BODY under an HTTP 400 status — mirror both.
        q = parse_qs(urlsplit(self.path).query)
        if q.get("purgeRequested", [""])[-1] == "true":
            self._send(400, E.NotImplementedException().to_dict())
            return
        self.catalog.drop_table(_split_ns(ns) + (table,))
        self._send(204)

    def head_table(self, ns: str, table: str):
        if self.catalog.table_exists(_split_ns(ns) + (table,)):
            self._send(204)
        else:
            self._send(404)

    def rename_table(self):
        body = self._body()
        src, dst = body.get("source") or {}, body.get("destination") or {}
        self.catalog.rename_table(
            tuple(src.get("namespace") or []) + (src.get("name"),),
            tuple(dst.get("namespace") or []) + (dst.get("name"),),
        )
        self._send(200, {})

    def _table_response(self, tbl) -> dict:
        # LoadTableResponse shape (reference models.go:72-76).  `config`
        # echoes the TABLE's properties — the reference sets
        # Config: table.Properties() on both create (tables.go:144) and
        # load (tables.go:269), NOT the catalog-level overrides (those are
        # only served by /v1/config, tables.go:38-46).  Pinned by
        # tests/test_rest.py::test_table_response_config_echoes_properties.
        return {
            "metadata-location": tbl.metadata_location,
            "metadata": tbl.metadata,
            "config": tbl.properties(),
        }


class _Server(ThreadingHTTPServer):
    """Thread-per-connection server whose ``server_close()`` also ends the
    kept-alive connections: a handler waiting for a client's next request
    reads EOF and returns, a handler mid-request still sends its reply, and
    the call returns once every connection is closed (or after
    ``CLOSE_WAIT_S``, for a client that stopped reading)."""

    CLOSE_WAIT_S = 10.0

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._conns: set[socket.socket] = set()
        self._conns_cv = threading.Condition()

    def process_request(self, request, client_address):
        with self._conns_cv:
            self._conns.add(request)
        super().process_request(request, client_address)

    def shutdown_request(self, request):
        super().shutdown_request(request)
        with self._conns_cv:
            self._conns.discard(request)
            self._conns_cv.notify_all()

    def server_close(self):
        super().server_close()
        with self._conns_cv:
            for sock in self._conns:
                try:
                    sock.shutdown(socket.SHUT_RD)
                except OSError:
                    pass  # the client already went away
            self._conns_cv.wait_for(lambda: not self._conns, self.CLOSE_WAIT_S)


def serve(catalog: Catalog, host: str = "127.0.0.1", port: int = 0):
    """Start the facade on a background thread; returns (server, base_url).
    port=0 picks a free port (as the reference's httptest server does)."""
    handler = type("BoundHandler", (_Handler,), {"catalog": catalog})
    srv = _Server((host, port), handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    return srv, f"http://{srv.server_address[0]}:{srv.server_address[1]}"


def main(argv: list[str] | None = None) -> int:
    """Process entrypoint: ``python -m iceberg_rest_catalog_spark.catalog.rest``.

    Mirrors the reference's run-group (main.go:123-135): serve until SIGINT
    or SIGTERM, then shut down gracefully — stop accepting connections and
    let in-flight requests drain before exiting.
    """
    import argparse
    import signal

    p = argparse.ArgumentParser(description="Iceberg REST catalog server")
    p.add_argument("--host", default="0.0.0.0")
    p.add_argument("--port", type=int, default=8080)
    p.add_argument("--warehouse", default="warehouse", help="warehouse directory")
    # default None so "flag not given" is distinguishable: only an EXPLICIT
    # --log-level overrides the config file's `logger.debug` selection
    p.add_argument("--log-level", default=None)
    p.add_argument(
        "--config",
        default=None,
        help="engine config file; its `logger:` section enables size-rotated "
        "file logging (reference logger/zerolog.go lumberjack parity)",
    )
    args = p.parse_args(argv)

    from .config import configure_logging, load_config

    cfg = load_config(args.config)
    logging.basicConfig(level=(args.log_level or "INFO").upper())
    configure_logging(cfg.logger, level=args.log_level)
    stop = threading.Event()

    def _on_signal(signum, frame):
        LOG.info("received signal %d, shutting down", signum)
        stop.set()

    # Handlers go in before the URL is announced: a client may signal as
    # soon as it has seen the URL.
    signal.signal(signal.SIGINT, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    srv, url = serve(Catalog(args.warehouse), host=args.host, port=args.port)
    LOG.info("serving %s (warehouse=%s)", url, args.warehouse)
    stop.wait()
    # shutdown() stops the accept loop; server_close() then ends the
    # kept-alive connections once their in-flight replies are sent.
    srv.shutdown()
    srv.server_close()
    LOG.info("shutdown complete")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
