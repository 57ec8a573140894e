"""Spark Python Data Source for cataloged tables: ``format("icsb")``.

Integrates the catalog with Spark's native reader surface (Spark 4 Python
Data Source API) so a cataloged table reads like any other source:

    spark.dataSource.register(CatalogDataSource)
    df = (spark.read.format("icsb")
          .option("warehouse", "/path/wh").option("table", "db.t").load())
    stream = (spark.readStream.format("icsb") ... .load())   # incremental

Batch reads plan like ``Table.scan`` (snapshot isolation through the
optional ``snapshot`` option, merge-on-read position deletes applied, file
pruning from manifest column stats when Spark pushes comparison filters
down — stats PRUNE, never decide: every filter is also reported back as
unsupported so Spark still applies it exactly), and every file, batch or
streamed, passes through the one arrow projection :func:`_to_current`,
which resolves columns by field ID through the table's field-ID mapping
(``Table._field_sources``, the same one ``Table._read_entries`` uses).
The streaming reader is the incremental append scan:
each micro-batch covers the append snapshots committed since the last
offset ({"snapshot-id": N} — the same offset model as
``streaming/catalog_source.py``), so a consumer processes O(new data) per
trigger.

This is the INTEROP surface. Workers decode parquet through pyarrow
(Arrow batches straight into Spark), which is fine for the catalog's
metadata-bounded scans but skips the JVM vectorized reader; the fast path
for heavy analytics remains ``Table.df()/scan()``, which compiles to a
native parquet scan. (No public-API equivalent exists for a Python source
that hands Spark raw file splits.)
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    DataSourceArrowWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .catalog import Catalog

from .sql_catalog import SqlCatalog


def _open_catalog(options) -> Catalog:
    wh = options.get("warehouse")
    if not wh:
        raise ValueError("option 'warehouse' is required for format('icsb')")
    db = options.get("db")
    return SqlCatalog(wh, db) if db else Catalog(wh)


def _to_current(tbl, at, schema_id: int | None):
    """The one arrow projection: ``at``, the rows of a file written under
    ``schema_id`` (None: before schema-id stamping, name-matched), as the
    table's CURRENT schema. Renamed fields follow their id, fields the file
    lacks read as typed nulls, promoted fields cast to the current type."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    cur = tbl.schema()
    pairs = tbl._field_sources(cur.schema_id if schema_id is None else schema_id)
    cols = []
    for (_, w), sf in zip(pairs, cur.to_spark().fields):
        t = to_arrow_type(sf.dataType)
        if w is not None and w.name in at.column_names:
            cols.append(at.column(w.name).cast(t))
        else:
            cols.append(pa.nulls(at.num_rows, t))
    return pa.table(cols, names=[f.name for f, _ in pairs])


def _ident(options) -> tuple:
    table = options.get("table")
    if not table:
        raise ValueError("option 'table' is required for format('icsb')")
    return tuple(table.split("."))


@dataclasses.dataclass
class _FilePartition(InputPartition):
    path: str  # absolute
    schema_id: int | None  # write-time schema id (None = current)
    delete_pos: tuple  # sorted row positions deleted in this file


class CatalogBatchReader(DataSourceReader):
    def __init__(self, options):
        self.options = options
        self.catalog = _open_catalog(options)
        self.table = self.catalog.load_table(_ident(options))
        snap = options.get("snapshot")
        self.snapshot_id = int(snap) if snap is not None else None
        self.predicates: list[tuple] = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Translate comparison filters into manifest stats predicates —
        files whose min/max prove no match are never opened. EVERY filter
        is yielded back as unsupported: stats only prune, Spark re-applies
        the exact predicate (the Table.scan contract)."""
        ops = {
            EqualTo: "==",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for f in filters:
            op = ops.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.predicates.append((f.attribute[0], op, f.value))
            yield f  # always unsupported: prune-only

    def partitions(self):
        tbl = self.table
        entries, dels = tbl._plan_entries(
            snapshot_id=self.snapshot_id,
            column_predicates=self.predicates or None,
        )
        by_file: dict[str, list[int]] = {}
        if dels:
            import pyarrow.parquet as pq

            for rel in dels:
                dt = pq.read_table(os.path.join(tbl.location, rel))
                for fp, pos in zip(
                    dt.column("file_path").to_pylist(), dt.column("pos").to_pylist()
                ):
                    by_file.setdefault(os.path.normpath(fp), []).append(pos)
        out = []
        for e in entries:
            rel = os.path.normpath(e["path"])
            out.append(
                _FilePartition(
                    path=os.path.join(tbl.location, e["path"]),
                    schema_id=e.get("schema-id"),
                    delete_pos=tuple(sorted(by_file.get(rel, ()))),
                )
            )
        return out

    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        at = pq.read_table(partition.path)
        if partition.delete_pos:
            mask = [True] * at.num_rows
            for p in partition.delete_pos:
                if p < at.num_rows:
                    mask[p] = False
            at = at.filter(pa.array(mask))
        yield from _to_current(self.table, at, partition.schema_id).to_batches()


class CatalogSimpleStreamReader(SimpleDataSourceStreamReader):
    """Incremental append-scan streaming source: offset = snapshot id.
    Each micro-batch is the rows ADDED by append snapshots in
    (start, head]; non-append snapshots advance the offset silently
    (compaction rewrites already-delivered data; DML retractions are the
    changelog reader's job, not an append stream's)."""

    def __init__(self, options):
        self.options = options
        self.catalog = _open_catalog(options)
        self.ident = _ident(options)

    def initialOffset(self) -> dict:  # noqa: N802
        return {"snapshot-id": int(self.options.get("starting-snapshot", 0))}

    def _rows_between(self, start_sid: int, end_sid: int):
        import pyarrow.parquet as pq

        tbl = self.catalog.load_table(self.ident)
        cur = tbl.metadata.get("current-snapshot-id")
        if cur is None:
            return
        for s in tbl._ancestors(cur):
            sid = s["snapshot-id"]
            if not (start_sid < sid <= end_sid):
                continue
            if s.get("operation", "append") != "append":
                continue
            for e in tbl._manifest_entries(s):
                at = pq.read_table(os.path.join(tbl.location, e["path"]))
                at = _to_current(tbl, at, e.get("schema-id"))
                yield from zip(*(c.to_pylist() for c in at.columns))

    def read(self, start: dict):
        tbl = self.catalog.load_table(self.ident)
        head = tbl.metadata.get("current-snapshot-id") or 0
        lo = start["snapshot-id"]
        end = {"snapshot-id": max(head, lo)}
        # materialized (picklable): the Simple API caches the batch for
        # replay until commit; batch volume = rows since last trigger
        return list(self._rows_between(lo, end["snapshot-id"])), end

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        return list(self._rows_between(start["snapshot-id"], end["snapshot-id"]))

    def commit(self, end: dict) -> None:
        pass  # Spark's own checkpoint persists offsets


class CatalogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "icsb"

    def schema(self) -> StructType:
        from pyspark.sql.types import StructField

        cat = _open_catalog(self.options)
        st = cat.load_table(_ident(self.options)).schema().to_spark()
        # strip the iceberg.field-id metadata: the streaming runner's
        # driver-side Arrow conversion asserts on metadata-free schemas
        return StructType(
            [StructField(f.name, f.dataType, f.nullable) for f in st.fields]
        )

    def reader(self, schema: StructType) -> CatalogBatchReader:
        return CatalogBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType):  # noqa: N802
        return CatalogSimpleStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> CatalogDataWriter:
        return CatalogDataWriter(self.options, overwrite)


@dataclasses.dataclass
class _WrittenFile(WriterCommitMessage):
    rel_path: str | None


class CatalogDataWriter(DataSourceArrowWriter):
    """Writer half of the integration — the Iceberg write architecture
    through Spark's native sink API: each TASK streams its Arrow batches
    into one parquet file under the table's data dir and reports the file
    back; the DRIVER turns the reported files into manifest entries and
    commits ONE snapshot (append for mode("append"), replace for
    mode("overwrite")) under the usual CAS, retrying the metadata swap on
    conflict (safe: the data files are position-independent). abort()
    removes any files written by a failed job — uncommitted files are
    invisible to readers either way."""

    def __init__(self, options, overwrite: bool):
        self.options = dict(options)
        cat = _open_catalog(options)
        tbl = cat.load_table(_ident(options))
        self.location = tbl.location
        self.field_names = [f.name for f in tbl.schema().fields]
        self.rel_dir = os.path.join("data", __import__("uuid").uuid4().hex)
        self.overwrite = overwrite

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import uuid as _uuid

        out_dir = os.path.join(self.location, self.rel_dir)
        os.makedirs(out_dir, exist_ok=True)
        rel = os.path.join(self.rel_dir, f"task-{_uuid.uuid4().hex}.parquet")
        writer = None
        for batch in iterator:
            tb = pa.Table.from_batches([batch]).select(self.field_names)
            if writer is None:
                writer = pq.ParquetWriter(
                    os.path.join(self.location, rel), tb.schema
                )
            writer.write_table(tb)
        if writer is None:
            return _WrittenFile(None)  # empty task: no file
        writer.close()
        return _WrittenFile(rel)

    def _entries(self, messages):
        from .catalog import Table

        return [
            {
                "path": m.rel_path,
                "partition": {},
                **Table._footer(os.path.join(self.location, m.rel_path)),
            }
            for m in messages
            if m is not None and m.rel_path is not None
        ]

    def commit(self, messages) -> None:
        from . import errors as E

        added = self._entries(messages)
        cat = _open_catalog(self.options)
        op = "replace" if self.overwrite else "append"
        tbl = cat.load_table(_ident(self.options))
        for attempt in range(3):
            try:
                tbl._commit_snapshot(op, list(added))
                return
            except E.CommitFailedException:
                if attempt == 2:
                    raise
                tbl = cat.load_table(_ident(self.options))

    def abort(self, messages) -> None:
        for m in messages or []:
            if m is not None and m.rel_path:
                try:
                    os.remove(os.path.join(self.location, m.rel_path))
                except OSError:
                    pass
