"""SQLite-backed metastore — the reference's ``sql`` catalog backend.

The reference registers a sql backend via a blank import
(``/root/reference/main.go:15``) and its whole test suite runs on a
sqlite-backed sql catalog (``/root/reference/test/server_test.go:25-31``).
That backend is iceberg-go's JDBC-style catalog: a POINTER TABLE in the
database maps (namespace, table) to the current ``metadata_location``; the
metadata JSON itself stays in the warehouse. This module re-expresses the
same design:

- ``iceberg_namespaces(namespace, properties)`` — one row per namespace,
  properties as a JSON blob.
- ``iceberg_tables(namespace, name, metadata_location,
  previous_metadata_location)`` — one row per table.
- commit = write a NEW uniquely-named metadata file, then a single
  ``UPDATE … WHERE metadata_location = <expected>`` — the transaction-level
  check-and-swap. rowcount 0 means a concurrent writer moved the pointer
  first -> CommitFailedException.

Liveness by construction: metadata filenames carry a uuid suffix
(``v{N}-{uuid8}.metadata.json``, the shape real Iceberg uses), so a writer
that crashes between file write and pointer swap leaves only an orphan
file nothing points to — there is no claim to brick the table, unlike the
fs backend's O_EXCL protocol (which needs stale-claim GC).

Data-plane behavior (append/scan/time-travel via :class:`~.catalog.Table`)
is identical: Table only talks to its catalog through ``update_table``.
"""

from __future__ import annotations

import json
import os
import sqlite3
import time
import uuid
from contextlib import contextmanager

from . import errors as E
from .catalog import Catalog, Ident, Table
from .schema import Schema

SEP = "\x1f"  # namespace joiner in DB keys (same separator as the REST URLs)


def _key(ns: Ident) -> str:
    return SEP.join(ns)


class SqlCatalog(Catalog):
    """Catalog whose namespace/table registry lives in a SQLite database.

    Inherits the path validation (`_ns_dir`/`_table_dir`), requirement and
    update semantics (`_check_requirements`/`_apply_updates`), and the whole
    data plane from :class:`Catalog`; overrides every method that touched
    namespace markers or the version-hint pointer.
    """

    backend = "sql"

    def __init__(self, warehouse: str, db_path: str | None = None, fileio=None):
        super().__init__(warehouse, fileio=fileio)
        self.db_path = db_path or os.path.join(self.warehouse, "catalog.db")
        os.makedirs(os.path.dirname(os.path.abspath(self.db_path)), exist_ok=True)
        with self._db() as con:
            con.execute(
                "CREATE TABLE IF NOT EXISTS iceberg_namespaces ("
                " namespace TEXT PRIMARY KEY, properties TEXT NOT NULL)"
            )
            con.execute(
                "CREATE TABLE IF NOT EXISTS iceberg_tables ("
                " namespace TEXT NOT NULL, name TEXT NOT NULL,"
                " metadata_location TEXT NOT NULL,"
                " previous_metadata_location TEXT,"
                " PRIMARY KEY (namespace, name))"
            )

    @contextmanager
    def _db(self):
        # One short-lived connection per operation: thread-safe without a
        # shared-connection lock, and sqlite's file lock serializes writers
        # across PROCESSES too (stronger than the fs backend's O_EXCL).
        # ``with con`` scopes the transaction; the finally closes the handle.
        con = sqlite3.connect(self.db_path, timeout=30.0)
        try:
            con.execute("PRAGMA busy_timeout = 30000")
            with con:
                yield con
        finally:
            con.close()

    # -- namespace CRUD ------------------------------------------------------
    def _ns_exists(self, ns: Ident) -> bool:
        self._ns_dir(ns)  # validation only
        with self._db() as con:
            row = con.execute(
                "SELECT 1 FROM iceberg_namespaces WHERE namespace = ?", (_key(ns),)
            ).fetchone()
        return row is not None

    def create_namespace(self, ns: Ident, properties: dict | None = None) -> dict:
        ns = tuple(ns)
        if not ns:
            raise E.BadRequestException("empty namespace")
        self._ns_dir(ns)  # level validation
        try:
            with self._db() as con:
                con.execute(
                    "INSERT INTO iceberg_namespaces VALUES (?, ?)",
                    (_key(ns), json.dumps(dict(properties or {}))),
                )
        except sqlite3.IntegrityError as exc:
            raise E.NamespaceAlreadyExistsException(".".join(ns)) from exc
        return {"namespace": list(ns), "properties": dict(properties or {})}

    def list_namespaces(self, parent: Ident | None = None) -> list[Ident]:
        parent = tuple(parent) if parent else ()
        if parent and not self._ns_exists(parent):
            raise E.NoSuchNamespaceException(".".join(parent))
        with self._db() as con:
            rows = con.execute(
                "SELECT namespace FROM iceberg_namespaces ORDER BY namespace"
            ).fetchall()
        out = []
        for (raw,) in rows:
            levels = tuple(raw.split(SEP))
            if len(levels) == len(parent) + 1 and levels[: len(parent)] == parent:
                out.append(levels)
        return out

    def load_namespace(self, ns: Ident) -> dict:
        ns = tuple(ns)
        self._ns_dir(ns)
        with self._db() as con:
            row = con.execute(
                "SELECT properties FROM iceberg_namespaces WHERE namespace = ?",
                (_key(ns),),
            ).fetchone()
        if row is None:
            raise E.NoSuchNamespaceException(".".join(ns))
        return {"namespace": list(ns), "properties": json.loads(row[0])}

    def drop_namespace(self, ns: Ident) -> None:
        ns = tuple(ns)
        if not self._ns_exists(ns):
            raise E.NoSuchNamespaceException(".".join(ns))
        if self.list_tables(ns) or self.list_namespaces(ns):
            raise E.NamespaceNotEmptyException(".".join(ns))
        with self._db() as con:
            con.execute(
                "DELETE FROM iceberg_namespaces WHERE namespace = ?", (_key(ns),)
            )

    def update_namespace_properties(
        self, ns: Ident, removals: list[str] | None = None, updates: dict | None = None
    ) -> dict:
        ns, removals, updates = tuple(ns), list(removals or []), dict(updates or {})
        overlap = set(removals) & set(updates)
        if overlap:
            raise E.UnprocessableEntityException(", ".join(sorted(overlap)))
        props = self.load_namespace(ns)["properties"]
        removed = [k for k in removals if k in props]
        missing = [k for k in removals if k not in props]
        for k in removed:
            del props[k]
        props.update(updates)
        with self._db() as con:
            con.execute(
                "UPDATE iceberg_namespaces SET properties = ? WHERE namespace = ?",
                (json.dumps(props), _key(ns)),
            )
        return {
            "updated": sorted(updates.keys()),
            "removed": sorted(removed),
            "missing": sorted(missing),
        }

    # -- table helpers -------------------------------------------------------
    def _pointer(self, ident: Ident) -> tuple[str, str] | None:
        """(namespace_key, name) row's metadata_location, or None."""
        ns, name = tuple(ident[:-1]), ident[-1]
        with self._db() as con:
            row = con.execute(
                "SELECT metadata_location FROM iceberg_tables"
                " WHERE namespace = ? AND name = ?",
                (_key(ns), name),
            ).fetchone()
        return row if row is None else row[0]

    def _is_table(self, ident: Ident) -> bool:
        self._table_dir(ident)  # name validation
        return self._pointer(ident) is not None

    @staticmethod
    def _version_of(metadata_location: str) -> int:
        # v{N}-{uuid8}.metadata.json
        base = os.path.basename(metadata_location)
        return int(base.split("-", 1)[0][1:])

    def _new_metadata_file(self, tdir: str, version: int, metadata: dict) -> str:
        """Write ``metadata`` as a new uniquely-named file under the table
        dir ``tdir`` (already resolved and checked by :meth:`_table_dir`)."""
        mdir = os.path.join(tdir, "metadata")
        self.fio.mkdirs(mdir)
        path = os.path.join(mdir, f"v{version}-{uuid.uuid4().hex[:8]}.metadata.json")
        self._write_json(path, metadata)
        return path

    # -- table CRUD ----------------------------------------------------------
    def list_tables(self, ns: Ident) -> list[Ident]:
        ns = tuple(ns)
        if not self._ns_exists(ns):
            raise E.NoSuchNamespaceException(".".join(ns))
        with self._db() as con:
            rows = con.execute(
                "SELECT name FROM iceberg_tables WHERE namespace = ? ORDER BY name",
                (_key(ns),),
            ).fetchall()
        return [ns + (name,) for (name,) in rows]

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
        if stage_create:
            raise E.NotImplementedException("stage-create")
        ns = ident[:-1]
        if not self._ns_exists(ns):
            raise E.NoSuchNamespaceException(".".join(ns))
        tdir = self._table_dir(ident)
        metadata = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            # URI locations pass through verbatim (same rule as the fs
            # backend): abspath would mangle s3:// into a local path
            "location": (
                location
                if location and "://" in location
                else os.path.abspath(location)
                if location
                else tdir
            ),
            "last-updated-ms": int(time.time() * 1000),
            "schemas": [schema.to_json()],
            "current-schema-id": schema.schema_id,
            "last-column-id": schema.highest_field_id(),
            "partition-specs": partition_spec or [],
            "default-spec-id": 0,
            "sort-orders": write_order or [],
            "default-sort-order-id": 0,
            "properties": dict(properties or {}),
            "snapshots": [],
            "current-snapshot-id": None,
        }
        mloc = self._new_metadata_file(tdir, 1, metadata)
        try:
            with self._db() as con:
                con.execute(
                    "INSERT INTO iceberg_tables VALUES (?, ?, ?, NULL)",
                    (_key(ns), ident[-1], mloc),
                )
        except sqlite3.IntegrityError as exc:
            self.fio.remove(mloc)  # lost the create race; drop the orphan file
            raise E.TableAlreadyExistsException(".".join(ident)) from exc
        return Table(self, ident, 1, metadata, metadata_location=mloc)

    def load_table(self, ident: Ident) -> Table:
        ident = tuple(ident)
        if not self._ns_exists(ident[:-1]):
            raise E.NoSuchNamespaceException(".".join(ident[:-1]))
        mloc = self._pointer(ident)
        if mloc is None:
            self._table_dir(ident)  # name validation for a clean 400 vs 404
            raise E.NoSuchTableException(".".join(ident))
        return self._load_from(ident, mloc)

    def _load_from(self, ident: Ident, mloc: str) -> Table:
        """:meth:`load_table` for a pointer already read."""
        try:
            metadata = self._read_json(mloc)
        except (OSError, json.JSONDecodeError) as exc:
            raise E.InternalServerError(
                f"pointer {mloc} unreadable for {'.'.join(ident)}"
            ) from exc
        return Table(
            self, ident, self._version_of(mloc), metadata, metadata_location=mloc
        )

    def table_exists(self, ident: Ident) -> bool:
        ident = tuple(ident)
        return self._ns_exists(ident[:-1]) and self._is_table(ident)

    def drop_table(self, ident: Ident, purge: bool = False) -> None:
        ident = tuple(ident)
        if purge:
            raise E.NotImplementedException("purgeRequested")
        tdir = self._table_dir(ident)  # validates the name BEFORE any delete
        if not self._ns_exists(ident[:-1]):
            raise E.NoSuchNamespaceException(".".join(ident[:-1]))
        with self._db() as con:
            cur = con.execute(
                "DELETE FROM iceberg_tables WHERE namespace = ? AND name = ?",
                (_key(ident[:-1]), ident[-1]),
            )
        if cur.rowcount == 0:
            raise E.NoSuchTableException(".".join(ident))
        # metadata-only drop, like the fs backend: data files are orphaned
        mdir = os.path.join(tdir, "metadata")
        if self.fio.isdir(mdir):
            self.fio.rmtree(mdir)

    def rename_table(self, src: Ident, dst: Ident) -> Table:
        src, dst = tuple(src), tuple(dst)
        for ns in (src[:-1], dst[:-1]):
            if not self._ns_exists(ns):
                raise E.NoSuchNamespaceException(".".join(ns))
        src_dir = self._table_dir(src)
        src_loc = self._pointer(src)
        if src_loc is None:
            raise E.NoSuchTableException(".".join(src))
        dst_dir = self._table_dir(dst)
        if self._pointer(dst) is not None:
            raise E.TableAlreadyExistsException(".".join(dst))
        t = self._load_from(src, src_loc)
        new_meta = dict(t.metadata)
        if new_meta["location"] == src_dir:  # data moves with the dir
            new_meta["location"] = dst_dir
        # Unlike the fs backend, namespaces have no on-disk presence here —
        # materialize the destination's parent dirs before moving.
        self.fio.mkdirs(os.path.dirname(dst_dir))
        self.fio.rename(src_dir, dst_dir)
        mloc = self._new_metadata_file(dst_dir, t.version, new_meta)
        with self._db() as con:
            con.execute(
                "UPDATE iceberg_tables SET namespace = ?, name = ?,"
                " metadata_location = ?, previous_metadata_location = ?"
                " WHERE namespace = ? AND name = ?",
                (_key(dst[:-1]), dst[-1], mloc, src_loc,
                 _key(src[:-1]), src[-1]),
            )
        return Table(self, dst, t.version, new_meta, metadata_location=mloc)

    # -- optimistic commit ----------------------------------------------------
    def update_table(
        self, ident: Ident, requirements: list[dict], updates: list[dict]
    ) -> Table:
        """CommitTable: the pointer-row UPDATE is the check-and-swap — it
        succeeds only if metadata_location still equals the version this
        writer validated against."""
        ident = tuple(ident)
        current = self.load_table(ident)
        self._check_requirements(current, requirements)
        new_meta = self._apply_updates(current, updates)
        new_meta["last-updated-ms"] = int(time.time() * 1000)

        new_loc = self._new_metadata_file(
            self._table_dir(ident), current.version + 1, new_meta
        )
        with self._db() as con:
            cur = con.execute(
                "UPDATE iceberg_tables SET metadata_location = ?,"
                " previous_metadata_location = ?"
                " WHERE namespace = ? AND name = ? AND metadata_location = ?",
                (new_loc, current.metadata_location,
                 _key(ident[:-1]), ident[-1], current.metadata_location),
            )
        if cur.rowcount == 0:
            self.fio.remove(new_loc)  # lost the swap; remove the orphan
            raise E.CommitFailedException(
                f"concurrent writer moved {'.'.join(ident)} past "
                f"v{current.version}"
            )
        return Table(
            self, ident, current.version + 1, new_meta, metadata_location=new_loc
        )


def open_catalog(props: dict) -> Catalog:
    """Backend registry: props['type'] -> catalog instance (the reference's
    catalog.Load dispatch, main.go:97-109 + blank-import registrations)."""
    kind = props.get("type", "fs")
    if kind == "fs":
        wh = props["warehouse"]
        if wh.startswith("s3://") and props.get("region"):
            # Catalog.__init__ already routes s3:// warehouses to S3FileIO
            # (the reference's sample config is S3-first,
            # configs/.iceberg-go.yaml:7-10); construct explicitly only to
            # carry the configured region, so the routing rule lives in
            # ONE place
            from .fileio import S3FileIO

            return Catalog(wh, fileio=S3FileIO(region=props["region"]))
        return Catalog(wh)
    if kind == "sql":
        return SqlCatalog(props["warehouse"], props.get("db"))
    if kind == "rest":
        from .rest_client import RestCatalog

        return RestCatalog(props["uri"], props["warehouse"])
    if kind == "glue":
        # The reference registers a glue backend too (main.go:13). Permanent
        # non-goal here (SURVEY.md §7): it would duplicate the sql/rest
        # pointer-CAS machinery behind an AWS-only control plane that cannot
        # be exercised in this environment; the error contract below is the
        # tested behavior (tests/test_catalog.py
        # test_missing_catalog_and_unknown_type).
        raise E.NotImplementedException("glue catalog requires AWS")
    raise E.NotImplementedException(f"catalog type {kind!r}")
