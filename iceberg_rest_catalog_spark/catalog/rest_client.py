"""REST-backed catalog client — the reference's ``rest`` catalog backend.

The reference registers a rest backend via a blank import
(``/root/reference/main.go:14``): a catalog whose metadata plane is another
Iceberg REST catalog reached over HTTP, while data files live on shared
storage the client writes directly. This module re-expresses that split for
the engine: every namespace/table-pointer operation becomes a wire call to
the facade in :mod:`.rest` (same route table as reference
``api/router/router.go:9-55``), and the whole data plane — parquet writes,
manifests, scans, time travel — is inherited from :class:`~.catalog.Table`
against the shared ``warehouse`` path.

That division of labor is exactly how an Iceberg REST deployment scales:
the server arbitrates commits (optimistic CAS on the metadata pointer), so
1000 executors can write data files in parallel against object storage and
only the tiny commit RPC serializes. Nothing table-data-sized ever crosses
the catalog wire.

Error contract: non-2xx responses carry the reference's envelope
``{"error": {"message", "type", "code"}}`` (errors.go:5-13); the client maps
them back to the SAME typed exceptions the embedded backends raise, keyed on
the canonical (type, message) pair — so e.g. the two 409
``AlreadyExistsException`` bodies (namespace vs table, errors.go:24-31)
round-trip to their distinct Python classes and the behavioral test suite
passes unchanged over the wire.

Transport: one persistent HTTP/1.1 connection per client thread (a
``RestCatalog`` is shared across threads by tests and the Spark bridge).
An idle connection the server has closed is replaced before the next
request. If a kept-alive connection fails mid-request, a GET or HEAD is
re-sent once on a fresh connection; a POST or DELETE is never re-sent — a
commit whose reply was lost raises, because the server may have applied
it, and a blind retry would then be reported as a CAS loss.
"""

from __future__ import annotations

import http.client
import json
import select
import threading
import urllib.parse

from . import errors as E
from .catalog import NS_SEP, Catalog, Ident, Table, _version_of
from .schema import Schema

#: canonical (type, message) -> exception class, built from the error module
#: so the mapping can never drift from the wire format.
_BY_WIRE = {
    (cls.type, cls.message): cls
    for cls in vars(E).values()
    if isinstance(cls, type) and issubclass(cls, E.CatalogError)
}


def _raise_wire_error(doc: dict, status: int):
    err = (doc or {}).get("error") or {}
    cls = _BY_WIRE.get((err.get("type"), err.get("message")))
    if cls is None:
        # Unknown body: surface the raw status/message rather than guessing.
        exc = E.InternalServerError(f"HTTP {status}: {err.get('message')}")
        raise exc
    raise cls()


def _readable(sock) -> bool:
    poller = select.poll()  # poll, not select: no FD_SETSIZE limit
    poller.register(sock, select.POLLIN)
    return bool(poller.poll(0))


class RestCatalog(Catalog):
    """Catalog whose metadata plane lives behind the REST facade.

    Inherits the entire data plane (append/scan/DML/time-travel) from
    :class:`Catalog` — data and manifest files are written directly to the
    shared ``warehouse`` — and overrides every registry/pointer method to
    speak the reference's wire protocol instead of touching local markers.
    """

    backend = "rest"

    def __init__(self, uri: str, warehouse: str, fileio=None):
        super().__init__(warehouse, fileio=fileio)
        self.uri = uri.rstrip("/")
        parts = urllib.parse.urlsplit(self.uri)
        self._conn_cls = (
            http.client.HTTPSConnection
            if parts.scheme == "https"
            else http.client.HTTPConnection
        )
        self._netloc, self._base_path = parts.netloc, parts.path
        self._local = threading.local()  # .conn: this thread's connection

    # -- wire plumbing ------------------------------------------------------
    def _exchange(
        self, method: str, url: str, data: bytes | None
    ) -> tuple[int, bytes]:
        """One request/reply on this thread's persistent connection."""
        conn = getattr(self._local, "conn", None)
        if conn is None:
            conn = self._local.conn = self._conn_cls(self._netloc)
        if conn.sock is not None and _readable(conn.sock):
            conn.close()  # idle but readable: the server closed it
        headers = {} if data is None else {"Content-Type": "application/json"}
        while True:
            reused = conn.sock is not None
            try:
                conn.request(method, url, body=data, headers=headers)
                resp = conn.getresponse()
                return resp.status, resp.read()
            except (http.client.HTTPException, OSError):
                conn.close()
                # A dead kept-alive connection: re-send only what is safe to
                # repeat, once (the retry runs on a fresh connection).
                if not (reused and method in ("GET", "HEAD")):
                    raise

    def _request(
        self,
        method: str,
        path: str,
        body: dict | None = None,
        query: dict | None = None,
    ) -> tuple[int, dict]:
        url = self._base_path + path
        if query:
            url += "?" + urllib.parse.urlencode(query)
        data = None if body is None else json.dumps(body).encode()
        status, raw = self._exchange(method, url, data)
        if 200 <= status < 300:
            return status, json.loads(raw) if raw else {}
        try:
            doc = json.loads(raw) if raw else {}
        except json.JSONDecodeError:
            doc = {}
        if status == 404 and not doc:
            return 404, {}  # HEAD-style existence probe: no body by design
        _raise_wire_error(doc, status)

    @staticmethod
    def _ns_path(ns: Ident) -> str:
        return urllib.parse.quote(NS_SEP.join(ns), safe="")

    def _table_from_response(self, ident: Ident, doc: dict) -> Table:
        mloc = doc["metadata-location"]
        return Table(self, tuple(ident), _version_of(mloc), doc["metadata"], mloc)

    # -- config / health (reference tables.go:38-46, router.go:54) ----------
    def config(self) -> dict:
        return self._request("GET", "/v1/config")[1]

    def health(self) -> dict:
        return self._request("GET", "/health")[1]

    # -- namespaces (reference api/handlers/namespaces.go) ------------------
    def create_namespace(self, ns: Ident, properties: dict | None = None) -> dict:
        return self._request(
            "POST",
            "/v1/namespaces",
            {"namespace": list(ns), "properties": dict(properties or {})},
        )[1]

    def list_namespaces(self, parent: Ident | None = None) -> list[Ident]:
        query = {"parent": NS_SEP.join(parent)} if parent else None
        _, doc = self._request("GET", "/v1/namespaces", query=query)
        return [tuple(n) for n in doc.get("namespaces", [])]

    def load_namespace(self, ns: Ident) -> dict:
        return self._request("GET", f"/v1/namespaces/{self._ns_path(ns)}")[1]

    def namespace_exists(self, ns: Ident) -> bool:
        status, _ = self._request("HEAD", f"/v1/namespaces/{self._ns_path(ns)}")
        return status == 204

    def drop_namespace(self, ns: Ident) -> None:
        self._request("DELETE", f"/v1/namespaces/{self._ns_path(ns)}")

    def update_namespace_properties(
        self, ns: Ident, removals: list[str] | None = None, updates: dict | None = None
    ) -> dict:
        return self._request(
            "POST",
            f"/v1/namespaces/{self._ns_path(ns)}/properties",
            {"removals": list(removals or []), "updates": dict(updates or {})},
        )[1]

    # -- tables (reference api/handlers/tables.go) --------------------------
    def list_tables(self, ns: Ident) -> list[Ident]:
        _, doc = self._request("GET", f"/v1/namespaces/{self._ns_path(ns)}/tables")
        return [
            tuple(i["namespace"]) + (i["name"],) for i in doc.get("identifiers", [])
        ]

    def create_table(
        self,
        ident: Ident,
        schema: Schema,
        partition_spec: list[dict] | None = None,
        write_order: list[dict] | None = None,
        properties: dict | None = None,
        location: str | None = None,
        stage_create: bool = False,
    ) -> Table:
        ident = tuple(ident)
        body = {"name": ident[-1], "schema": schema.to_json()}
        if partition_spec:
            body["partition-spec"] = partition_spec
        if write_order:
            body["write-order"] = write_order
        if properties:
            body["properties"] = dict(properties)
        if location:
            body["location"] = location
        if stage_create:
            body["stage-create"] = True
        _, doc = self._request(
            "POST", f"/v1/namespaces/{self._ns_path(ident[:-1])}/tables", body
        )
        return self._table_from_response(ident, doc)

    def load_table(self, ident: Ident) -> Table:
        ident = tuple(ident)
        _, doc = self._request(
            "GET",
            f"/v1/namespaces/{self._ns_path(ident[:-1])}/tables/{urllib.parse.quote(ident[-1], safe='')}",
        )
        return self._table_from_response(ident, doc)

    def table_exists(self, ident: Ident) -> bool:
        ident = tuple(ident)
        status, _ = self._request(
            "HEAD",
            f"/v1/namespaces/{self._ns_path(ident[:-1])}/tables/{urllib.parse.quote(ident[-1], safe='')}",
        )
        return status == 204

    def drop_table(self, ident: Ident, purge: bool = False) -> None:
        ident = tuple(ident)
        self._request(
            "DELETE",
            f"/v1/namespaces/{self._ns_path(ident[:-1])}/tables/{urllib.parse.quote(ident[-1], safe='')}",
            query={"purgeRequested": "true"} if purge else None,
        )

    def rename_table(self, src: Ident, dst: Ident) -> Table:
        src, dst = tuple(src), tuple(dst)
        self._request(
            "POST",
            "/v1/tables/rename",
            {
                "source": {"namespace": list(src[:-1]), "name": src[-1]},
                "destination": {"namespace": list(dst[:-1]), "name": dst[-1]},
            },
        )
        return self.load_table(dst)

    def update_table(
        self, ident: Ident, requirements: list[dict], updates: list[dict]
    ) -> Table:
        ident = tuple(ident)
        _, doc = self._request(
            "POST",
            f"/v1/namespaces/{self._ns_path(ident[:-1])}/tables/{urllib.parse.quote(ident[-1], safe='')}",
            {"requirements": requirements or [], "updates": updates or []},
        )
        return self._table_from_response(ident, doc)
