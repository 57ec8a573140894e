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

Every public method — validation, metadata documents, requirement checks,
rename and the data plane — is :class:`~.catalog.Catalog`'s; this class
only supplies its private namespace and pointer storage primitives.
"""

from __future__ import annotations

import json
import os
import sqlite3
import uuid
from contextlib import contextmanager

from . import errors as E
from .catalog import NS_SEP, Catalog, Ident, Table, _version_of


def _key(ns: Ident) -> str:
    return NS_SEP.join(ns)


class SqlCatalog(Catalog):
    """Catalog whose namespace/table registry lives in a SQLite database."""

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

    def _one(self, sql: str, *args):
        with self._db() as con:
            return con.execute(sql, args).fetchone()

    # -- namespace rows -------------------------------------------------------
    def _ns_exists(self, ns: Ident) -> bool:
        return self._one(
            "SELECT 1 FROM iceberg_namespaces WHERE namespace = ?", _key(ns)
        ) is not None

    def _ns_read(self, ns: Ident) -> dict:
        return json.loads(self._one(
            "SELECT properties FROM iceberg_namespaces WHERE namespace = ?", _key(ns)
        )[0])

    def _ns_create(self, ns: Ident, properties: dict) -> bool:
        try:
            with self._db() as con:
                con.execute(
                    "INSERT INTO iceberg_namespaces VALUES (?, ?)",
                    (_key(ns), json.dumps(properties)),
                )
        except sqlite3.IntegrityError:
            return False
        return True

    def _ns_update(self, ns: Ident, properties: dict) -> None:
        with self._db() as con:
            con.execute(
                "UPDATE iceberg_namespaces SET properties = ? WHERE namespace = ?",
                (json.dumps(properties), _key(ns)),
            )

    def _ns_list(self, parent: Ident) -> list[Ident]:
        with self._db() as con:
            rows = con.execute(
                "SELECT namespace FROM iceberg_namespaces ORDER BY namespace"
            ).fetchall()
        out = []
        for (raw,) in rows:
            levels = tuple(raw.split(NS_SEP))
            if len(levels) == len(parent) + 1 and levels[: len(parent)] == parent:
                out.append(levels)
        return out

    def _ns_remove(self, ns: Ident) -> None:
        with self._db() as con:
            con.execute(
                "DELETE FROM iceberg_namespaces WHERE namespace = ?", (_key(ns),)
            )

    # -- table pointer rows ---------------------------------------------------
    def _pointer(self, ident: Ident) -> str | None:
        """The table row's metadata_location, or None."""
        row = self._one(
            "SELECT metadata_location FROM iceberg_tables"
            " WHERE namespace = ? AND name = ?",
            _key(ident[:-1]), ident[-1],
        )
        return row if row is None else row[0]

    def _new_metadata_file(self, tdir: str, version: int, metadata: dict) -> str:
        """Write ``metadata`` as a new uniquely-named file under the table
        dir ``tdir`` (already resolved and checked by :meth:`_table_dir`)."""
        mdir = os.path.join(tdir, "metadata")
        self.fio.mkdirs(mdir)
        path = os.path.join(mdir, f"v{version}-{uuid.uuid4().hex[:8]}.metadata.json")
        self._write_json(path, metadata)
        return path

    def _table_at(self, ident: Ident, mloc: str) -> Table:
        try:
            metadata = self._read_json(mloc)
        except (OSError, json.JSONDecodeError) as exc:
            raise E.InternalServerError(
                f"pointer {mloc} unreadable for {'.'.join(ident)}"
            ) from exc
        return Table(self, ident, _version_of(mloc), metadata, mloc)

    def _ptr_exists(self, ident: Ident, tdir: str) -> bool:
        return self._pointer(ident) is not None

    def _ptr_read(self, ident: Ident, tdir: str) -> Table:
        mloc = self._pointer(ident)
        if mloc is None:
            raise E.NoSuchTableException(".".join(ident))
        return self._table_at(ident, mloc)

    def _ptr_claim(self, ident: Ident, tdir: str, metadata: dict) -> str | None:
        mloc = self._new_metadata_file(tdir, 1, metadata)
        try:
            with self._db() as con:
                con.execute(
                    "INSERT INTO iceberg_tables VALUES (?, ?, ?, NULL)",
                    (_key(ident[:-1]), ident[-1], mloc),
                )
        except sqlite3.IntegrityError:
            self.fio.remove(mloc)  # lost the create race; drop the orphan file
            return None
        return mloc

    def _ptr_swap(self, current: Table, metadata: dict) -> str | None:
        """The pointer-row UPDATE is the check-and-swap: it succeeds only if
        metadata_location still equals the version this writer validated
        against."""
        tdir = os.path.dirname(os.path.dirname(current.metadata_location))
        new_loc = self._new_metadata_file(tdir, current.version + 1, metadata)
        ident = current.identifier
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
            return None
        return new_loc

    def _ptr_move(self, src: Ident, src_dir: str, dst: Ident, dst_dir: str) -> Table:
        """Move the table dir and re-point the row at the moved current
        file (rename then rewrites that file in place if the data location
        follows the dir, as on fs)."""
        src_loc = self._pointer(src)
        mloc = os.path.join(dst_dir, "metadata", os.path.basename(src_loc))
        # Namespaces have no directories here: make the destination's parent.
        self.fio.mkdirs(os.path.dirname(dst_dir))
        self.fio.rename(src_dir, dst_dir)
        with self._db() as con:
            con.execute(
                "UPDATE iceberg_tables SET namespace = ?, name = ?,"
                " metadata_location = ?, previous_metadata_location = ?"
                " WHERE namespace = ? AND name = ?",
                (_key(dst[:-1]), dst[-1], mloc, src_loc, _key(src[:-1]), src[-1]),
            )
        return self._table_at(dst, mloc)

    def _ptr_unregister(self, ident: Ident, tdir: str) -> bool:
        with self._db() as con:
            cur = con.execute(
                "DELETE FROM iceberg_tables WHERE namespace = ? AND name = ?",
                (_key(ident[:-1]), ident[-1]),
            )
        if cur.rowcount == 0:
            return False
        mdir = os.path.join(tdir, "metadata")
        if self.fio.isdir(mdir):
            self.fio.rmtree(mdir)
        return True

    def _ptr_list(self, ns: Ident) -> list[Ident]:
        with self._db() as con:
            rows = con.execute(
                "SELECT name FROM iceberg_tables WHERE namespace = ? ORDER BY name",
                (_key(ns),),
            ).fetchall()
        return [ns + (name,) for (name,) in rows]


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
