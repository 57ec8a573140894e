"""Table lifecycle with versioned metadata + CAS commits, and the Table handle.

Re-expresses the reference's executed surface (all 15 §2.A operators) as a
library API. :class:`Catalog` writes every namespace and table method once:
the validation order, the new-table metadata document, CommitTable's
load -> assert requirements -> apply updates -> write next metadata -> swap
the pointer (reference api/handlers/tables.go:150-227), rename's location
rule and the namespace property summary. Those methods reach storage only
through a few private primitives that decide where namespace properties
and the current-metadata pointer live. This class keeps them on its FileIO
(a local directory or an S3 prefix):

- namespace = nested directories with a ``.namespace.json`` marker holding
  properties (multi-level, reference api/handlers/models.go:10-12)
- table    = ``<ns...>/<name>/metadata/v{N}.metadata.json`` + a
  ``version-hint.text`` pointer, parquet data files under ``data/``
- commit   = the next version file is claimed with O_CREAT|O_EXCL (the
  check-and-swap), then the hint pointer is atomically replaced

:class:`~.sql_catalog.SqlCatalog` keeps the same two things in SQLite.

Error semantics (404/409/422/400/501 types) follow the reference exactly;
see errors.py. Single-writer-per-filesystem assumption documented in
SURVEY §7 ("hard parts").
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import ENGINE_DEFAULTS, ENGINE_OVERRIDES
from . import errors as E
from .fileio import FileIO, LocalFileIO
from .schema import NestedField, Schema

NS_MARKER = ".namespace.json"
#: Joins namespace levels in REST URLs and in the sql backend's keys
#: (reference models.go:10), so no level may contain it.
NS_SEP = "\x1f"
#: The one schema of a position-delete file (what ``_mor_commit`` writes);
#: reads pass it, so a merge-on-read read runs no schema-inference job.
POSITION_DELETE_SCHEMA = "file_path string, pos bigint"
Ident = tuple[str, ...]


def _version_of(metadata_location: str) -> int:
    """N of a ``v{N}.metadata.json`` or ``v{N}-{suffix}.metadata.json`` file."""
    m = re.match(r"v(\d+)", os.path.basename(metadata_location))
    if not m:
        raise E.InternalServerError(
            f"unparseable metadata-location {metadata_location!r}"
        )
    return int(m.group(1))


class _Visible:
    """What a lineage leaves visible, folded one snapshot at a time, oldest
    first: manifest entries ({path, partition, ...}), merge-on-read
    position-delete files, and the delete-tuple count they carry.

    A ``replace`` (compaction) snapshot supersedes earlier files and folds
    the deletes into its rewritten data, so it clears all three; a
    copy-on-write ``overwrite`` drops the files it rewrote and leaves stale
    delete rows pointing at them — inert, since the anti-join matches
    nothing for them. The count is None once a contributing snapshot lacks
    its ``removed-records`` stamp: a fold must then stay unstamped, so
    ``row_count`` reports inexact rather than confidently wrong."""

    def __init__(self):
        self.entries: list[dict] = []
        self.deletes: list[str] = []
        self.removed_records: int | None = 0

    def add(self, s: dict, doc: dict) -> None:
        """Fold in snapshot ``s`` with its manifest document ``doc``."""
        if s.get("operation", "append") == "replace":
            self.__init__()
        gone = {os.path.normpath(p) for p in doc.get("removed", [])}
        if gone:
            self.entries = [
                e for e in self.entries if os.path.normpath(e["path"]) not in gone
            ]
        self.entries.extend(doc["entries"])
        if doc.get("position-deletes"):
            self.deletes.extend(doc["position-deletes"])
            rr = s.get("removed-records")
            self.removed_records = (
                None if rr is None or self.removed_records is None
                else self.removed_records + rr
            )


class Table:
    """Handle over one table's current metadata version."""

    def __init__(
        self,
        catalog: "Catalog",
        identifier: Ident,
        version: int,
        metadata: dict,
        metadata_location: str,
    ):
        self.catalog = catalog
        self.identifier = identifier
        self.version = version
        self.metadata = metadata
        # The file this version was read from or written to. Its directory is
        # the table's metadata dir (manifests live under it), which stays
        # under the catalog-managed table dir even when the DATA location is
        # custom (create_table(location=…)).
        self.metadata_location = metadata_location

    # -- metadata accessors -------------------------------------------------
    @property
    def location(self) -> str:
        return self.metadata["location"]

    def schema(self) -> Schema:
        cur = self.metadata["current-schema-id"]
        for s in self.metadata["schemas"]:
            if s["schema-id"] == cur:
                return Schema.from_json(s)
        raise E.InternalServerError(f"current schema {cur} missing")

    def _field_sources(
        self, schema_id: int
    ) -> list[tuple[NestedField, NestedField | None]]:
        """The field-ID mapping from files written under ``schema_id`` to
        the CURRENT schema (the Iceberg evolution contract): each current
        field with the write-time field of the same id, or None. Renamed
        fields follow their id, dropped fields are never asked for,
        later-added fields (None) read as typed nulls, promoted types
        (int->long, float->double) cast to the current type."""
        for s in self.metadata["schemas"]:
            if s["schema-id"] == schema_id:
                old = {f.id: f for f in Schema.from_json(s).fields}
                return [(f, old.get(f.id)) for f in self.schema().fields]
        raise E.InternalServerError(f"schema {schema_id} missing from metadata")

    def properties(self) -> dict:
        return dict(self.metadata.get("properties", {}))

    def current_snapshot(self) -> dict | None:
        sid = self.metadata.get("current-snapshot-id")
        for s in self.metadata.get("snapshots", []):
            if s["snapshot-id"] == sid:
                return s
        return None

    def _manifest_doc(self, s: dict) -> dict:
        """A snapshot's manifest document: ``entries`` (the files it adds,
        {path, partition, stats, records, schema-id}), plus ``removed``
        (paths a copy-on-write overwrite logically deletes) and
        ``position-deletes`` (merge-on-read delete files it adds). New
        snapshots reference a per-snapshot manifest FILE (``manifest-path``,
        relative to the table's metadata dir) so the metadata JSON stays
        O(snapshots) — at 100 TB / millions of files an inline list would
        make every commit rewrite the whole file inventory. Inline
        ``added-files`` is still read for metadata written before the
        spill-out."""
        mp = s.get("manifest-path")
        if mp is None:
            return {"entries": [
                e if isinstance(e, dict) else {"path": e, "partition": {}}
                for e in s.get("added-files", [])
            ]}
        if not os.path.isabs(mp):
            mp = os.path.join(os.path.dirname(self.metadata_location), mp)
        return self.catalog._read_json(mp)

    def _manifest_entries(self, s: dict) -> list[dict]:
        """A snapshot's added-file entries."""
        return self._manifest_doc(s)["entries"]

    def _write_manifest(
        self,
        snapshot_id: int,
        entries: list[dict],
        removed: list[str] | None = None,
        position_deletes: list[str] | None = None,
    ) -> str:
        """Write a per-snapshot manifest file; returns its path RELATIVE to
        the table's metadata dir (relative so table renames keep working).
        Uniquely suffixed: concurrent CAS losers leave harmless orphans.
        ``removed`` lists paths this snapshot logically deletes (the
        copy-on-write overwrite operation); ``position_deletes`` lists
        merge-on-read delete files this snapshot adds."""
        rel = os.path.join(
            "manifests", f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.json"
        )
        path = os.path.join(os.path.dirname(self.metadata_location), rel)
        self.catalog.fio.mkdirs(os.path.dirname(path))
        doc = {"entries": entries}
        if removed:
            doc["removed"] = sorted(removed)
        if position_deletes:
            doc["position-deletes"] = sorted(position_deletes)
        self.catalog._write_json(path, doc)
        return rel

    def _ancestors(self, snapshot_id: int) -> list[dict]:
        """The parent chain ending at ``snapshot_id``, oldest first. Reads
        follow LINEAGE, not id ordering — snapshots committed to a branch
        (WAP staging) have higher ids than main's head but are NOT main's
        ancestors, so they must never leak into main reads."""
        by_id = {s["snapshot-id"]: s for s in self.metadata.get("snapshots", [])}
        chain: list[dict] = []
        cur = by_id.get(snapshot_id)
        while cur is not None:
            chain.append(cur)
            parent = cur.get("parent-snapshot-id")
            cur = by_id.get(parent) if parent is not None else None
        return list(reversed(chain))

    def _visible_at(
        self, snapshot_id: int | None
    ) -> tuple[list[dict], list[str], int | None]:
        """Manifest entries, position-delete files and their delete-tuple
        count visible at a snapshot (default: current; see
        :class:`_Visible`), from ONE walk of its lineage that reads each
        manifest once."""
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.metadata.get("current-snapshot-id")
        )
        if snapshot_id is not None and not any(
            s["snapshot-id"] == snapshot_id for s in self.metadata.get("snapshots", [])
        ):
            raise E.BadRequestException(
                f"snapshot {snapshot_id} not found (expired or never existed)"
            )
        v = _Visible()
        for s in self._ancestors(sid) if sid is not None else []:
            v.add(s, self._manifest_doc(s))
        return v.entries, v.deletes, v.removed_records

    def _entries_at(self, snapshot_id: int | None) -> list[dict]:
        """Manifest entries visible at a snapshot (see :meth:`_visible_at`)."""
        return self._visible_at(snapshot_id)[0]

    def _files_at(self, snapshot_id: int | None) -> list[str]:
        return [e["path"] for e in self._entries_at(snapshot_id)]

    def _read_entries(
        self,
        spark: SparkSession,
        entries: list[dict],
        deletes: list[str] | None = None,
        keys: bool = False,
    ) -> DataFrame | None:
        """The one Spark read path for table rows — scans, DML candidates
        and the streaming/changelog source all read through it:

        1. group ``entries`` by WRITE-TIME schema id (entries from before
           schema-id stamping read name-matched under the current schema);
        2. read each group under its own schema;
        3. anti-join the position ``deletes`` — (file_path, pos) tuples, the
           Iceberg v2 merge-on-read path. The delete set is broadcast: it is
           O(deleted rows × 16 bytes) and compaction folds it away before it
           could grow shuffle-sized;
        4. project to the current schema by field ID (:meth:`_field_sources`);
        5. union the groups.

        ``keys=True`` carries each row's location-relative file path and
        row position (``__icb_file``, ``__icb_pos``: the key position-delete
        files store, stable across table renames) through the projection,
        which hides ``_metadata``. None when ``entries`` is empty."""
        from pyspark.sql import functions as F

        if not entries:
            return None
        cur = self.schema()
        groups: dict[int, list[str]] = {}
        for e in entries:
            groups.setdefault(e.get("schema-id", cur.schema_id), []).append(
                os.path.join(self.location, e["path"])
            )
        ddf = (
            spark.read.schema(POSITION_DELETE_SCHEMA).parquet(
                *[os.path.join(self.location, p) for p in deletes]
            )
            if deletes
            else None
        )
        key_cols = ["__icb_file", "__icb_pos"]
        prefix = "file:" + os.path.abspath(self.location) + os.sep
        out = None
        for sid in sorted(groups, key=lambda g: (g != cur.schema_id, g)):
            pairs = self._field_sources(sid)
            df = spark.read.schema(
                Schema(sid, [w for _, w in pairs if w]).to_spark()
            ).parquet(*groups[sid])
            if ddf is not None or keys:
                rel = F.expr(f"substring(_metadata.file_path, {len(prefix) + 1})")
                df = df.withColumn("__icb_file", rel).withColumn(
                    "__icb_pos", F.col("_metadata.row_index")
                )
            if ddf is not None:
                df = df.join(
                    F.broadcast(ddf),
                    on=(F.col("__icb_file") == ddf["file_path"])
                    & (F.col("__icb_pos") == ddf["pos"]),
                    how="left_anti",
                )
            if sid != cur.schema_id:
                df = df.select(
                    *[
                        (F.col(w.name) if w else F.lit(None))
                        .cast(sf.dataType).alias(f.name)
                        for (f, w), sf in zip(pairs, cur.to_spark().fields)
                    ],
                    *(key_cols if keys else []),
                )
            elif ddf is not None and not keys:
                df = df.drop(*key_cols)
            out = df if out is None else out.union(df)
        return out

    # -- data plane ---------------------------------------------------------
    def df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """DataFrame over the table's data at a snapshot (default: current).

        Explicit schema, never inferred (SURVEY §1.2): evolution keeps old
        files readable, missing columns read as null. Snapshot file lists
        give incremental/time-travel reads.
        """
        return self.scan(spark, snapshot_id=snapshot_id)

    @staticmethod
    def _stats_may_match(stats: dict, col: str, op: str, value) -> bool:
        """Can a file whose manifest stats are ``stats`` contain a row
        matching ``col op value``? Missing stats => conservatively True."""
        rng = stats.get(col)
        if not rng:
            return True
        mn, mx = rng
        if op == "==":
            return mn <= value <= mx
        if op == ">":
            return mx > value
        if op == ">=":
            return mx >= value
        if op == "<":
            return mn < value
        if op == "<=":
            return mn <= value
        raise E.BadRequestException(f"unknown predicate op {op!r}")

    def _plan_entries(
        self,
        snapshot_id: int | None = None,
        partition_filters: dict | None = None,
        column_predicates: list[tuple] | None = None,
    ) -> tuple[list[dict], list[str]]:
        """A read plan from metadata alone: the entries visible at the
        snapshot that the partition filters and column stats keep, and
        the position-delete files visible there."""
        entries, dels, _ = self._visible_at(snapshot_id)
        if partition_filters:
            entries = [
                e
                for e in entries
                if all(
                    str(e.get("partition", {}).get(k)) == str(v)
                    for k, v in partition_filters.items()
                )
            ]
        if column_predicates:
            entries = [
                e
                for e in entries
                if all(
                    self._stats_may_match(e.get("stats", {}), c, op, v)
                    for (c, op, v) in column_predicates
                )
            ]
        return entries, dels

    def plan_files(
        self,
        snapshot_id: int | None = None,
        partition_filters: dict | None = None,
        column_predicates: list[tuple] | None = None,
    ) -> list[str]:
        """The scan planner: select file paths from METADATA alone —
        partition values and per-file column min/max recorded in the
        manifests — before Spark ever lists or opens anything. This is the
        Iceberg skip-index model: with a declared write sort order, file
        ranges are tight and a selective predicate touches O(matching)
        files, not O(all)."""
        return [
            os.path.join(self.location, e["path"])
            for e in self._plan_entries(
                snapshot_id, partition_filters, column_predicates
            )[0]
        ]

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        partition_filters: dict | None = None,
        column_predicates: list[tuple] | None = None,
    ) -> DataFrame:
        """Metadata-pruned scan (see :meth:`plan_files`).
        ``partition_filters`` maps partition-source column -> exact
        transformed value (stringified), e.g. {"o_orderdate": "1997"} for a
        year() transform. ``column_predicates`` is a list of
        ``(column, op, value)`` with op in ``== > >= < <=`` — files whose
        manifest min/max prove no row can match are skipped, and the SAME
        predicate is re-applied as a Spark filter for exact row semantics
        (stats only prune, never decide)."""
        df = self._read_entries(
            spark, *self._plan_entries(snapshot_id, partition_filters, column_predicates)
        )
        if df is None:
            df = spark.createDataFrame([], self.schema().to_spark())
        for c, op, v in column_predicates or []:
            from pyspark.sql import functions as F

            col = F.col(c)
            df = df.filter(
                {"==": col == v, ">": col > v, ">=": col >= v,
                 "<": col < v, "<=": col <= v}[op]
            )
        return df

    @staticmethod
    def _footer(path: str) -> dict:
        """A written file's manifest ``stats`` (per-column min/max, the
        skip-index) and ``records`` (row count) from ONE parquet footer
        read — writer-side cost only, no data read. Stats are restricted to
        types whose ordering is unambiguous and JSON-stable (ints, floats,
        strings); other columns simply have no stats and are never skipped
        on. An unreadable footer gives no stats (the file is never
        skipped) and an unknown count."""
        import pyarrow.lib
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(path).metadata
        except (OSError, pyarrow.lib.ArrowInvalid):
            return {"stats": {}, "records": None}
        out: dict = {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                    continue
                name = col.path_in_schema
                if name in out:
                    out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
                else:
                    out[name] = [mn, mx]
        return {"stats": out, "records": md.num_rows}

    def row_count(self, snapshot_id: int | None = None) -> int | None:
        """``count(*)`` from METADATA alone — per-file record counts in the
        manifests, no scan (Iceberg answers count(*) the same way). Returns
        None when metadata cannot be exact: entries predating record
        stamping, or stale merge-on-read delete tuples (a copy-on-write
        overwrite after an unfolded MoR delete may orphan tuples, so the
        per-snapshot removed-records sums no longer apply); callers fall
        back to ``df(spark).count()``. Compaction restores exactness."""
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.metadata.get("current-snapshot-id")
        )
        if sid is None:
            return 0
        total, deletes_pending, inexact = 0, False, False
        by_path: dict[str, dict] = {}
        for s in self._ancestors(sid):
            op = s.get("operation", "append")
            doc = self._manifest_doc(s)
            if op == "replace":
                # compaction folded everything: exactness is restored
                total, deletes_pending, inexact, by_path = 0, False, False, {}
            elif doc.get("removed"):
                # copy-on-write overwrite: subtract the removed files
                if deletes_pending:
                    inexact = True  # stale-tuple risk until the next replace
                for p in doc["removed"]:
                    e = by_path.get(os.path.normpath(p))
                    if e is None or e.get("records") is None:
                        inexact = True
                        break
                    total -= e["records"]
            if doc.get("position-deletes"):
                rr = s.get("removed-records")
                if rr is None:
                    inexact = True
                else:
                    total -= rr
                deletes_pending = True
            for e in doc["entries"]:
                if e.get("records") is None:
                    inexact = True
                    continue
                total += e["records"]
                by_path[os.path.normpath(e["path"])] = e
        return None if inexact else total

    @staticmethod
    def _transform_col(spec: dict):
        """Iceberg partition transform -> Spark column (identity, year,
        month, day, hour, bucket[N], truncate[W])."""
        from pyspark.sql import functions as F

        src, tr = spec["name"], spec.get("transform", "identity")
        if tr == "identity":
            return F.col(src)
        if tr == "year":
            return F.year(src)
        if tr == "month":
            # Iceberg's month/hour transforms are epoch-granularity
            # truncations, not calendar components: June 2020 and June 2021
            # must land in DIFFERENT partitions (F.month would merge them).
            return F.date_format(F.col(src), "yyyy-MM")
        if tr == "hour":
            return F.date_format(F.col(src), "yyyy-MM-dd-HH")
        if tr == "day":
            # Iceberg's day transform is DATE granularity (date truncation),
            # not day-of-month: values from different months must not
            # collide in one partition.
            return F.to_date(F.col(src))
        if tr.startswith("bucket["):
            n = int(tr[len("bucket[") : -1])
            return F.pmod(F.hash(src), F.lit(n))
        if tr.startswith("truncate["):
            w = int(tr[len("truncate[") : -1])
            return F.substring(F.col(src).cast("string"), 1, w)
        raise E.BadRequestException(f"unknown transform {tr!r}")

    def _write_data_files(self, df: DataFrame, n_files: int | None) -> list[dict]:
        """Write df as data files honoring sort order + partition spec;
        returns the manifest entries ({path, partition, stats, records})."""
        from pyspark.sql import functions as F

        rel = os.path.join("data", uuid.uuid4().hex)
        out = os.path.join(self.location, rel)
        w = df.coalesce(n_files) if n_files else df

        # Honor the declared sort order (write-order, reference
        # models.go:67): sorted files keep parquet min/max stats tight.
        order = self.metadata.get("sort-orders") or []
        if order:
            w = w.sortWithinPartitions(
                *[
                    F.desc(o["name"]) if o.get("direction") == "desc" else F.asc(o["name"])
                    for o in order
                ]
            )

        # Honor the partition spec (reference models.go:66): files land in a
        # directory per transformed partition value; the PER-FILE partition
        # values are parsed back from the layout and recorded in the
        # snapshot manifest, so scan() prunes from METADATA (the Iceberg
        # model) — no directory listing or discovery on the read path.
        # Source columns stay in the files (the _p_ columns are derived
        # copies), so explicit-schema reads are unaffected.
        spec = self.metadata.get("partition-specs") or []
        pcols = [f"_p_{s['name']}" for s in spec]
        if spec:
            w = w.select(
                "*", *[self._transform_col(s).alias(p) for s, p in zip(spec, pcols)]
            )
        writer = w.write.mode("overwrite")
        (writer.partitionBy(*pcols) if pcols else writer).parquet(out)
        # one walk lists the written files of either layout (flat, or one
        # directory level per partition column)
        added = []
        for dp, _dn, fns in sorted(self.catalog.fio.walk(out)):
            for f in sorted(fns):
                if not f.endswith(".parquet"):
                    continue
                relpath = os.path.relpath(os.path.join(dp, f), out)
                partition = {}
                for seg in relpath.split(os.sep)[:-1]:
                    k, _, v = seg.partition("=")
                    if k.startswith("_p_"):
                        partition[k[len("_p_") :]] = v
                added.append(
                    {
                        "path": os.path.join(rel, relpath),
                        "partition": partition,
                        **self._footer(os.path.join(dp, f)),
                    }
                )
        return added

    def _commit_files(
        self,
        df: DataFrame,
        operation: str,
        n_files: int | None,
        to_ref: str | None = None,
        summary: dict | None = None,
    ) -> "Table":
        return self._commit_snapshot(
            operation, self._write_data_files(df, n_files), to_ref=to_ref,
            summary=summary,
        )

    def _commit_snapshot(
        self,
        operation: str,
        added: list[dict],
        removed: list[str] | None = None,
        position_deletes: dict[str, int | None] | None = None,
        to_ref: str | None = None,
        summary: dict | None = None,
    ) -> "Table":
        """Commit a snapshot adding the ``added`` entries; ``removed``
        lists the paths a copy-on-write overwrite drops and
        ``position_deletes`` maps each merge-on-read delete file to its
        tuple count (None: unknown)."""
        # Stamp every entry with its WRITE-TIME schema id: evolution
        # (rename/drop) later resolves these files' columns by field ID
        # against this schema, never by name. Per-entry (not per-snapshot)
        # so expire-time manifest folding preserves it.
        for e in added:
            e.setdefault("schema-id", self.metadata["current-schema-id"])
        # Parent: the branch head for WAP staging commits (a new branch
        # forks from main's current), else main's current. Snapshot ids are
        # unique across ALL lineages (max+1), so a branch and main can
        # advance independently without colliding.
        branch_entry = (
            self.metadata.get("refs", {}).get(to_ref) if to_ref is not None else None
        )
        if branch_entry is not None:
            parent = branch_entry["snapshot-id"]
        else:
            parent = self.metadata.get("current-snapshot-id")
        sid = (
            max(
                (s["snapshot-id"] for s in self.metadata.get("snapshots", [])),
                default=0,
            )
            + 1
        )
        snap = {
            "snapshot-id": sid,
            "parent-snapshot-id": parent,
            "timestamp-ms": int(time.time() * 1000),
            "operation": operation,
            # File inventory spilled to a per-snapshot manifest file; the
            # metadata JSON carries only the reference + a summary count.
            # A losing CAS writer leaves an orphan manifest — harmless,
            # nothing references it (same story as its orphan data files).
            "manifest-path": self._write_manifest(
                sid, added,
                removed=removed, position_deletes=list(position_deletes or ()),
            ),
            "added-files-count": len(added),
        }
        if summary:
            # User-facing snapshot summary (Iceberg's snapshot.summary map):
            # carried INSIDE the snapshot, so e.g. a streaming sink's batch
            # id commits atomically with the data — the exactly-once marker
            # can never drift from the commit it describes.
            snap["summary"] = {str(k): str(v) for k, v in summary.items()}
        if removed:
            snap["removed-files-count"] = len(removed)
        if position_deletes:
            snap["delete-files-count"] = len(position_deletes)
            # delete-tuple count from the delete files' own footers (each
            # tuple deletes exactly one live row) — keeps row_count()
            # metadata-only through merge-on-read DML
            recs = position_deletes.values()
            if all(r is not None for r in recs):
                snap["removed-records"] = sum(recs)
        if to_ref is not None:
            # Expected head is None when the branch doesn't exist yet (the
            # CAS then also guards against two writers racing to create it).
            req = {
                "type": "assert-branch-snapshot-id",
                "ref": to_ref,
                "snapshot-id": branch_entry["snapshot-id"] if branch_entry else None,
            }
        else:
            req = {"type": "assert-ref-snapshot-id", "snapshot-id": parent}
        return self.catalog.update_table(
            self.identifier,
            requirements=[req],
            updates=[{"action": "add-snapshot", "snapshot": snap, "ref": to_ref}],
        )

    def append(
        self,
        df: DataFrame,
        branch: str | None = None,
        retries: int = 0,
        snapshot_summary: dict | None = None,
    ) -> "Table":
        """Append data files + commit a new snapshot (micro-batch append =
        snapshot commit; the streaming-source model of SURVEY §1.2).

        ``branch`` stages the commit on a branch ref instead of advancing
        main — the write half of write-audit-publish: audit the branch
        (``df(spark, snapshot_id=snapshot_for_ref(branch))``), then
        ``fast_forward(branch)`` to publish. Main readers never see the
        staged snapshot (reads follow lineage, not snapshot ids).

        ``retries`` > 0: a CAS loss re-commits the SAME already-written
        files against the reloaded head (Iceberg's commit.retry behavior).
        Safe for appends specifically: an append is position-independent —
        it doesn't depend on the file set it was planned against, so under
        N concurrent writers the data writes (the expensive part) happen
        once and only the metadata swap retries. The default (0) keeps a
        CAS loss visible, which snapshot-pinned workflows (WAP, rollback)
        want; streaming sinks pass retries>0. DML/replace commits never
        auto-retry: their validity depends on the planned file set."""
        added = self._write_data_files(df, None)
        tbl = self
        for attempt in range(retries + 1):
            try:
                return tbl._commit_snapshot(
                    "append", added, to_ref=branch, summary=snapshot_summary
                )
            except E.CommitFailedException:
                if attempt == retries:
                    raise
                tbl = self.catalog.load_table(self.identifier)

    def last_committed_batch_id(self, sink_id: str) -> int | None:
        """Highest streaming batch id committed by ``sink_id``, read from
        snapshot summaries (:meth:`_commit_snapshot` ``summary=``).

        The exactly-once contract for streaming sinks: foreachBatch may
        REPLAY a batch after a failure, so before applying batch N the sink
        checks ``last_committed_batch_id(sink) >= N`` and skips — the id
        was committed atomically with the data it describes, so the check
        can neither miss a committed batch nor skip an uncommitted one.
        Scans retained snapshots only: expiration keeps the recent head of
        the lineage, which is where any replayable batch id lives."""
        best = None
        for s in self.metadata.get("snapshots", []):
            sm = s.get("summary") or {}
            if sm.get("streaming.sink-id") == sink_id and "streaming.batch-id" in sm:
                b = int(sm["streaming.batch-id"])
                best = b if best is None else max(best, b)
        return best

    # -- row-level DML (copy-on-write) --------------------------------------
    def _rewrite_rows(
        self,
        spark: SparkSession,
        condition: str,
        assignments: dict | None,
        prune: list[tuple] | None,
    ) -> "Table":
        """Copy-on-write DML core: rewrite only the candidate files (pruned
        via manifest column stats when ``prune`` is given), commit an
        ``overwrite`` snapshot that logically removes them and adds the
        rewritten versions. Untouched files are never read or rewritten —
        at 100 TB a stats-pruned DELETE touches O(matching) files. Old
        snapshots keep seeing the removed files (time travel intact);
        expire + remove_orphan_files reclaims them later."""
        from pyspark.sql import functions as F

        # _candidate_df applies pending merge-on-read deletes so a
        # copy-on-write rewrite of the same files cannot resurrect rows
        cand, df = self._candidate_df(spark, prune)
        if df is None:
            return self
        schema = self.schema().to_spark()
        cond = F.expr(condition)
        if df.filter(cond).isEmpty():
            return self  # nothing matches: no commit, no rewrite
        if assignments is None:
            # DELETE: keep rows where the condition is FALSE or NULL
            new_df = df.filter(~cond | cond.isNull())
        else:
            # UPDATE: apply SET expressions only to matching rows
            new_df = df.select(
                *[
                    F.when(cond, F.expr(assignments[f.name]))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in assignments
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
        added = self._write_data_files(new_df, None)
        return self._commit_snapshot(
            "overwrite", added, removed=[e["path"] for e in cand]
        )

    def delete_where(
        self,
        spark: SparkSession,
        condition: str,
        prune: list[tuple] | None = None,
        mode: str = "copy-on-write",
    ) -> "Table":
        """DELETE FROM t WHERE condition. ``prune`` is an optional
        ``[(col, op, value), ...]`` file-skip hint — pass the indexed form
        of the condition so only candidate files are touched.

        ``mode="copy-on-write"`` rewrites candidate files minus the matching
        rows (read-optimal; write cost O(candidate file bytes)).
        ``mode="merge-on-read"`` writes Iceberg-v2-style position-delete
        files — (file_path, pos) tuples — and leaves data files untouched
        (write cost O(matching rows × 16 B); reads pay a broadcast
        anti-join until :meth:`compact` folds the deletes in). At 100 TB
        MoR is the only viable shape for frequent small deletes (GDPR
        erasure, late-data retraction): a CoW delete of 1k rows spread
        over 10k files rewrites terabytes; MoR writes kilobytes."""
        if mode == "copy-on-write":
            return self._rewrite_rows(spark, condition, None, prune)
        if mode != "merge-on-read":
            raise E.BadRequestException(f"unknown delete mode {mode!r}")
        return self._mor_commit(spark, condition, None, prune)

    def _candidate_df(
        self, spark: SparkSession, prune: list[tuple] | None
    ) -> tuple[list[dict], DataFrame | None]:
        """The stats-pruned candidate entries and their rows through
        :meth:`_read_entries` (pending merge-on-read deletes applied,
        field-ID projection); the rows are None when no file can match."""
        cand, dels = self._plan_entries(column_predicates=prune)
        return cand, self._read_entries(spark, cand, dels)

    def _write_position_delete_files(
        self, matches: DataFrame
    ) -> tuple[str, dict[str, int | None]]:
        """Persist (file_path, pos) tuples as parquet delete files under
        ``data/`` (inside the orphan-sweep root); returns their directory
        and each file's relative path with its tuple count, read from its
        footer."""
        rel = os.path.join("data", uuid.uuid4().hex + "-deletes")
        out = os.path.join(self.location, rel)
        matches.write.parquet(out)
        return rel, {
            os.path.join(rel, f): self._footer(os.path.join(out, f))["records"]
            for f in sorted(self.catalog.fio.listdir(out))
            if f.endswith(".parquet")
        }

    def _mor_commit(
        self,
        spark: SparkSession,
        condition: str,
        assignments: dict | None,
        prune: list[tuple] | None,
    ) -> "Table":
        """Merge-on-read DML core: position-delete the matching rows; for
        UPDATE, additionally append the rewritten versions of just those
        rows. One snapshot carries both halves, so readers never see the
        intermediate state. The candidates are read once, with their keys:
        the delete files are written straight away, and their footers'
        tuple counts say whether anything matched (nothing matched: the
        files are removed and nothing is committed)."""
        from pyspark.sql import functions as F

        cand, dels = self._plan_entries(column_predicates=prune)
        keyed = self._read_entries(spark, cand, dels, keys=True)
        if keyed is None:
            return self
        matching = keyed.filter(F.expr(condition))
        rel, delete_files = self._write_position_delete_files(
            matching.select(
                F.col("__icb_file").alias("file_path"),
                F.col("__icb_pos").alias("pos"),
            )
        )
        if all(r == 0 for r in delete_files.values()):
            self.catalog.fio.rmtree(os.path.join(self.location, rel))
            return self
        added: list[dict] = []
        op = "delete"
        if assignments is not None:
            schema = self.schema().to_spark()
            new_rows = matching.select(
                *[
                    F.expr(assignments[f.name]).alias(f.name)
                    if f.name in assignments
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
            added = self._write_data_files(new_rows, None)
            op = "overwrite"
        return self._commit_snapshot(op, added, position_deletes=delete_files)

    def update_where(
        self,
        spark: SparkSession,
        condition: str,
        assignments: dict,
        prune: list[tuple] | None = None,
        mode: str = "copy-on-write",
    ) -> "Table":
        """UPDATE t SET col = expr, ... WHERE condition.
        ``assignments`` maps column name -> SQL expression string.

        ``mode="copy-on-write"`` rewrites whole candidate files;
        ``mode="merge-on-read"`` position-deletes the matching rows and
        appends only their rewritten versions in the same snapshot — write
        cost O(matching rows), not O(candidate file bytes)."""
        unknown = set(assignments) - {f.name for f in self.schema().to_spark().fields}
        if unknown:
            raise E.BadRequestException(f"unknown columns {sorted(unknown)}")
        if mode == "copy-on-write":
            return self._rewrite_rows(spark, condition, assignments, prune)
        if mode != "merge-on-read":
            raise E.BadRequestException(f"unknown update mode {mode!r}")
        return self._mor_commit(spark, condition, assignments, prune)

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: str,
        when_matched: dict | str | None = "update_all",
        when_not_matched: str | None = "insert",
        snapshot_summary: dict | None = None,
    ) -> "Table":
        """MERGE INTO (copy-on-write, file-pruned): upsert ``source`` into
        the table keyed on column ``on``.

        The target side is pruned FIRST: the source's key min/max (one tiny
        aggregate) selects candidate files via manifest column stats, so a
        MERGE whose keys touch one file rewrites one file — never the
        table. Stats are conservative, so every possible match is inside
        the candidate set; rows outside it can only be inserts.

        ``when_matched``: "update_all" (source row replaces target row),
        a {column: SQL expr} dict (exprs may reference ``t.<col>`` /
        ``s.<col>``), or None (leave matches untouched).
        ``when_not_matched``: "insert" or None. Duplicate source keys are
        rejected (multiple-match MERGE is ambiguous — Iceberg errors too).
        """
        from pyspark.sql import functions as F

        if when_matched not in (None, "update_all") and not isinstance(
            when_matched, dict
        ):
            raise E.BadRequestException("when_matched: 'update_all', dict, or None")
        if when_not_matched not in (None, "insert"):
            raise E.BadRequestException("when_not_matched: 'insert' or None")
        schema = self.schema().to_spark()
        cols = [f.name for f in schema.fields]
        if on not in cols:
            raise E.BadRequestException(f"unknown merge key {on!r}")
        source = source.select(*cols)
        if not source.groupBy(on).count().filter("count > 1").isEmpty():
            raise E.BadRequestException(
                f"source has duplicate {on!r} keys: MERGE matches are ambiguous"
            )
        rng = source.agg(
            F.min(on).alias("mn"), F.max(on).alias("mx")
        ).collect()[0]  # single-row aggregate: two scalars to the driver
        if rng.mn is None:
            return self  # empty source: nothing to merge
        prune = [(on, ">=", rng.mn), (on, "<=", rng.mx)]
        cand, tdf = self._candidate_df(spark, prune)
        if tdf is None:
            if when_not_matched is None:
                return self
            return self._commit_files(
                source, "append", None, summary=snapshot_summary
            )
        t_al, s_al = tdf.alias("t"), source.alias("s")
        joined = t_al.join(s_al, F.col(f"t.{on}") == F.col(f"s.{on}"), "full_outer")
        matched = F.col(f"t.{on}").isNotNull() & F.col(f"s.{on}").isNotNull()
        out_cols = []
        for c in cols:
            tcol, scol = F.col(f"t.{c}"), F.col(f"s.{c}")
            if when_matched == "update_all":
                upd = scol
            elif isinstance(when_matched, dict) and c in when_matched:
                upd = F.expr(when_matched[c])
            else:
                upd = tcol
            expr = F.when(matched, upd).otherwise(F.coalesce(tcol, scol))
            out_cols.append(expr.cast(dict(zip(cols, schema.fields))[c].dataType).alias(c))
        new_df = joined
        if when_not_matched is None:
            new_df = new_df.filter(F.col(f"t.{on}").isNotNull())
        new_df = new_df.select(*out_cols)
        added = self._write_data_files(new_df, None)
        return self._commit_snapshot(
            "overwrite", added, removed=[e["path"] for e in cand],
            summary=snapshot_summary,
        )

    def rewrite(self, df: DataFrame, n_files: int = 1) -> "Table":
        """Replace the table contents with df in n_files files — the
        rewrite_data_files / small-file compaction maintenance action. Old
        snapshots (and their files) remain readable for time travel; the
        replace snapshot supersedes them for current reads."""
        return self._commit_files(df, "replace", n_files)

    def compact(self, spark: SparkSession, n_files: int = 1) -> "Table":
        """Compact current contents into n_files files (self-rewrite)."""
        return self.rewrite(self.df(spark), n_files)

    def rewrite_zorder(
        self, spark: SparkSession, columns: list[str], n_files: int = 8
    ) -> "Table":
        """Z-order clustering rewrite (Iceberg's ``rewrite_data_files``
        with ``strategy=sort, sort_order=zorder(...)``): interleave the
        bits of min/max-normalized column values into a Morton code,
        range-partition the table by that code, and commit the clustered
        files as a ``replace`` snapshot.

        Why at 100 TB: a 1-D write order gives tight per-file min/max on
        ONE column; a predicate on any other column scans every file.
        Z-ordering makes the per-file bounding boxes small in EVERY
        z-dimension simultaneously, so :meth:`plan_files` column-stats
        pruning skips files for predicates on any (or several) of them.

        Scale shape: one global min/max aggregate (one row to the driver),
        then a purely map-side Morton-code projection (shift/and/or —
        whole-stage codegen, no Python), one range shuffle on the code,
        and a parquet write. Nulls sort first (normalized to 0). Numeric
        and date columns only — the bit-interleave needs a total order on
        fixed-width integers.
        """
        from pyspark.sql import functions as F

        df = self.df(spark)
        bits = 16  # per-column resolution: 2^16 rank buckets
        # One pass for the normalization bounds — O(columns) scalars.
        norm_src: dict[str, "F.Column"] = {}
        for c in columns:
            dt = dict(df.dtypes)[c]
            if dt == "date":
                norm_src[c] = F.unix_date(F.col(c)).cast("double")
            elif dt.startswith("timestamp"):
                norm_src[c] = F.col(c).cast("long").cast("double")
            elif dt in ("string", "binary"):
                raise ValueError(f"z-order needs a numeric/date column: {c} is {dt}")
            else:
                norm_src[c] = F.col(c).cast("double")
        bounds = df.agg(
            *[F.min(e).alias(f"mn_{c}") for c, e in norm_src.items()],
            *[F.max(e).alias(f"mx_{c}") for c, e in norm_src.items()],
        ).collect()[0]  # single-row aggregate: 2k scalars (column bounds)
        # Normalize each column to a 16-bit integer rank, then interleave
        # bit i of column j into position i*k + j (round-robin), giving a
        # single long whose order is the Z-curve over all k columns.
        k = len(columns)
        lanes = []
        for c in columns:
            mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
            span = (mx - mn) if (mx is not None and mx > mn) else 1.0
            lanes.append(
                F.coalesce(
                    F.round((norm_src[c] - F.lit(mn)) / F.lit(span) * F.lit(2**bits - 1))
                    .cast("long"),
                    F.lit(0),
                )
            )
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for j, lane in enumerate(lanes):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(lane, bit).bitwiseAND(F.lit(1)), bit * k + j
                    )
                )
        clustered = (
            df.withColumn("_zval", z)
            .repartitionByRange(n_files, "_zval")
            .sortWithinPartitions("_zval")
            .drop("_zval")
        )
        return self._commit_files(clustered, "replace", None)

    def analyze(self, spark: SparkSession) -> "Table":
        """ANALYZE TABLE: collect per-column min/max/null-count/NDV in ONE
        aggregate pass and commit them into table properties
        (``stats.<col>.<metric>``) — the manifest-level stats an engine uses
        for file/row-group skipping and join sizing at scale."""
        from pyspark.sql import functions as F

        df = self.df(spark)
        aggs, names = [], []
        for f in df.schema.fields:
            c = f.name
            aggs += [
                F.min(c).cast("string").alias(f"{c}.min"),
                F.max(c).cast("string").alias(f"{c}.max"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}.nulls"),
                F.approx_count_distinct(c).alias(f"{c}.ndv"),
            ]
            names.append(c)
        # single-row aggregate: 4 scalars per column to the driver
        row = df.agg(F.count("*").alias("row_count"), *aggs).collect()[0].asDict()
        props = {"stats.row_count": str(row["row_count"])}
        for c in names:
            for m in ("min", "max", "nulls", "ndv"):
                props[f"stats.{c}.{m}"] = str(row[f"{c}.{m}"])
        return self.catalog.update_table(
            self.identifier, [], [{"action": "set-properties", "updates": props}]
        )

    #: widening-only type promotions (Iceberg evolution rules): narrowing
    #: would silently corrupt old data at read time.
    _PROMOTIONS = {("int", "long"), ("float", "double")}

    def evolve_schema(
        self,
        adds: list[tuple[str, str]] | None = None,
        renames: dict[str, str] | None = None,
        drops: list[str] | None = None,
        promotes: dict[str, str] | None = None,
    ) -> "Table":
        """Full Iceberg schema evolution in one CAS commit: add columns
        (fresh field ids), rename (field id stable — old files keep
        working), drop (id retired, old files' column ignored), promote
        types (widening only). Existing data files are NEVER touched; the
        read path resolves every file by its write-time schema id.

        ``adds``: [(name, iceberg_type)], ``renames``: {old: new},
        ``drops``: [name], ``promotes``: {name: wider_type}."""
        cur = self.schema()
        names = set(cur.field_names())
        renames, drops = renames or {}, drops or []
        promotes, adds = promotes or {}, adds or []
        for n in list(renames) + drops + list(promotes):
            if n not in names:
                raise E.BadRequestException(f"unknown column {n!r}")
        # columns feeding the partition spec or sort order are load-bearing
        # for the write path; renaming/dropping them would orphan the spec
        pinned = {s["name"] for s in self.metadata.get("partition-specs") or []} | {
            o["name"] for o in self.metadata.get("sort-orders") or []
        }
        clash = pinned & (set(renames) | set(drops))
        if clash:
            raise E.BadRequestException(
                f"columns {sorted(clash)} are referenced by the partition "
                "spec or sort order; evolve those first"
            )
        new_fields = []
        for f in cur.fields:
            if f.name in drops:
                continue
            tp = f.type
            if f.name in promotes:
                if (f.type, promotes[f.name]) not in self._PROMOTIONS:
                    raise E.BadRequestException(
                        f"cannot promote {f.name}: {f.type} -> {promotes[f.name]}"
                    )
                tp = promotes[f.name]
            new_fields.append(
                NestedField(f.id, renames.get(f.name, f.name), tp, f.required)
            )
        next_id = (
            max(self.metadata.get("last-column-id", 0), cur.highest_field_id()) + 1
        )
        for nm, tp in adds:
            new_fields.append(NestedField(next_id, nm, tp, required=False))
            next_id += 1
        seen: set[str] = set()
        for f in new_fields:
            if f.name in seen:
                raise E.BadRequestException(f"duplicate column name {f.name!r}")
            seen.add(f.name)
        new_sid = max(s["schema-id"] for s in self.metadata["schemas"]) + 1
        return self.catalog.update_table(
            self.identifier,
            requirements=[
                {"type": "assert-current-schema-id", "current-schema-id": cur.schema_id}
            ],
            updates=[
                {"action": "add-schema", "schema": Schema(new_sid, new_fields).to_json()},
                {"action": "set-current-schema", "schema-id": new_sid},
            ],
        )

    def evolve_partition_spec(self, spec: list[dict]) -> "Table":
        """Change the table's partition spec (Iceberg partition evolution).
        Metadata-only: existing files are NOT rewritten — each manifest
        entry keeps the partition values recorded under its write-time
        spec, so old files prune on the old layout, files written after
        the change prune on the new one. ``partition_filters`` therefore
        selects only files whose recorded values match (a file written
        before a column was in the spec is not in any of its partitions).
        At 100 TB this is the point: re-layout happens lazily via normal
        compaction, never as a stop-the-world rewrite. ``spec`` is the
        same shape create_table takes: [{"name": col, "transform": t}]."""
        names = set(self.schema().field_names())
        for s in spec:
            if s["name"] not in names:
                raise E.BadRequestException(f"unknown partition source {s['name']!r}")
            tr = s.get("transform", "identity")
            if tr not in ("identity", "year", "month", "day", "hour") and not (
                (tr.startswith("bucket[") or tr.startswith("truncate["))
                and tr.endswith("]")
                and tr[tr.index("[") + 1 : -1].isdigit()
            ):
                raise E.BadRequestException(f"unknown transform {tr!r}")
        return self.catalog.update_table(
            self.identifier,
            requirements=[],
            updates=[{"action": "set-partition-spec", "spec": spec}],
        )

    def set_write_order(self, order: list[dict]) -> "Table":
        """Change the declared write sort order (Iceberg sort-order
        evolution). Metadata-only: existing files keep their layout; files
        written afterwards are sorted by the new order, so their parquet
        min/max stats (and the manifest skip-index built from them) are
        tight on the new columns. ``order`` is the create_table shape:
        [{"name": col, "direction": "asc"|"desc"}]."""
        names = set(self.schema().field_names())
        for o in order:
            if o["name"] not in names:
                raise E.BadRequestException(f"unknown sort column {o['name']!r}")
            if o.get("direction", "asc") not in ("asc", "desc"):
                raise E.BadRequestException(f"bad direction {o.get('direction')!r}")
        return self.catalog.update_table(
            self.identifier,
            requirements=[],
            updates=[{"action": "set-sort-order", "order": order}],
        )

    def expire_unreachable(self) -> "Table":
        """Drop snapshots no retained lineage can reach: after a rollback,
        the rolled-past snapshots have HIGHER ids than the new head, so the
        prefix-based expire_snapshots can never reclaim them. A snapshot is
        kept iff it is an ancestor of the current snapshot or of any ref
        head. Unreachable ones are removed in one CAS commit; their data
        files become orphans for remove_orphan_files."""
        keep: set[int] = set()
        heads = [self.metadata.get("current-snapshot-id")] + [
            r["snapshot-id"] for r in self.metadata.get("refs", {}).values()
        ]
        for h in heads:
            if h is not None:
                keep |= {s["snapshot-id"] for s in self._ancestors(h)}
        drop = [
            s for s in self.metadata.get("snapshots", [])
            if s["snapshot-id"] not in keep
        ]
        if not drop:
            return self
        out = self.catalog.update_table(
            self.identifier,
            requirements=[
                {
                    "type": "assert-ref-snapshot-id",
                    "snapshot-id": self.metadata.get("current-snapshot-id"),
                }
            ],
            updates=[
                {
                    "action": "remove-snapshots",
                    "snapshot-ids": [s["snapshot-id"] for s in drop],
                }
            ],
        )
        mroot = os.path.dirname(self.metadata_location)
        for s in drop:  # best-effort manifest cleanup, orphans harmless
            mp = s.get("manifest-path")
            if mp and not os.path.isabs(mp):
                try:
                    self.catalog.fio.remove(os.path.join(mroot, mp))
                except OSError:
                    pass
        return out

    def refs(self) -> dict:
        """Named refs (Iceberg table spec `refs`): tag/branch name →
        {snapshot-id, type}."""
        return dict(self.metadata.get("refs", {}))

    def set_ref(self, name: str, snapshot_id: int, type: str = "tag") -> "Table":
        """Create/move a named ref pinning a snapshot (tags for releases,
        branches for WAP-style staging). Metadata-only CAS commit; refs
        protect their snapshot from expire_snapshots."""
        if type not in ("tag", "branch"):
            raise E.BadRequestException(f"ref type must be tag|branch, got {type!r}")
        return self.catalog.update_table(
            self.identifier,
            [],
            [
                {
                    "action": "set-ref",
                    "name": name,
                    "snapshot-id": snapshot_id,
                    "type": type,
                }
            ],
        )

    def remove_ref(self, name: str) -> "Table":
        return self.catalog.update_table(
            self.identifier, [], [{"action": "remove-ref", "name": name}]
        )

    def fast_forward(self, ref: str) -> "Table":
        """Publish a branch: move main's current snapshot to the branch
        head (the publish half of write-audit-publish). Requires main to be
        an ancestor of the branch head — a true fast-forward; anything else
        would silently drop main commits and is rejected."""
        target = self.snapshot_for_ref(ref)
        cur = self.metadata.get("current-snapshot-id")
        ancestors = {s["snapshot-id"] for s in self._ancestors(target)}
        if cur is not None and cur not in ancestors:
            raise E.CommitFailedException(
                f"main ({cur}) is not an ancestor of {ref!r} head ({target}); "
                "rebase the branch before publishing"
            )
        return self.catalog.update_table(
            self.identifier,
            requirements=[{"type": "assert-ref-snapshot-id", "snapshot-id": cur}],
            updates=[{"action": "set-current-snapshot", "snapshot-id": target}],
        )

    def rollback_to(self, snapshot_id: int) -> "Table":
        """Roll the table back to an earlier snapshot (Iceberg's
        rollback_to_snapshot): a metadata-only CAS commit that moves
        current-snapshot-id to an ANCESTOR of the current head. The
        rolled-past snapshots stay in metadata, so time-travel reads of
        them keep working and a later fast_forward can re-publish them;
        no data moves, so rollback is O(1) regardless of table size. Non-ancestor
        targets are rejected — rolling "back" to a side branch would
        silently change lineage; use fast_forward for that."""
        cur = self.metadata.get("current-snapshot-id")
        if snapshot_id == cur:
            return self
        ancestors = {s["snapshot-id"] for s in self._ancestors(cur)} if cur else set()
        if snapshot_id not in ancestors:
            raise E.BadRequestException(
                f"snapshot {snapshot_id} is not an ancestor of current ({cur})"
            )
        return self.catalog.update_table(
            self.identifier,
            requirements=[{"type": "assert-ref-snapshot-id", "snapshot-id": cur}],
            updates=[{"action": "set-current-snapshot", "snapshot-id": snapshot_id}],
        )

    def snapshot_for_ref(self, name: str) -> int:
        ref = self.metadata.get("refs", {}).get(name)
        if ref is None:
            raise E.BadRequestException(f"unknown ref {name!r}")
        return ref["snapshot-id"]

    def history(self) -> list[dict]:
        """Snapshot log, oldest first: (snapshot-id, parent, timestamp-ms,
        operation) — the table's commit lineage (Iceberg's history metadata
        table)."""
        return [
            {
                "snapshot-id": s["snapshot-id"],
                "parent-snapshot-id": s.get("parent-snapshot-id"),
                "timestamp-ms": s["timestamp-ms"],
                "operation": s.get("operation", "append"),
            }
            for s in sorted(
                self.metadata.get("snapshots", []), key=lambda s: s["snapshot-id"]
            )
        ]

    # -- metadata tables (Iceberg's snapshots/history/files/partitions) -----
    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """The ``snapshots`` metadata table: one row per live snapshot.
        Metadata is O(snapshots) by design (manifest spill-out), so this is
        a driver-side construction regardless of data volume."""
        rows = [
            (
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s["timestamp-ms"],
                s.get("operation", "append"),
                s.get("added-files-count", len(self._manifest_entries(s))),
            )
            for s in sorted(
                self.metadata.get("snapshots", []), key=lambda s: s["snapshot-id"]
            )
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, committed_at_ms long,"
            " operation string, added_files_count long",
        )

    def history_df(self, spark: SparkSession) -> DataFrame:
        """The ``history`` metadata table (commit lineage)."""
        cur = self.metadata.get("current-snapshot-id")
        ancestors = (
            {s["snapshot-id"] for s in self._ancestors(cur)} if cur is not None else set()
        )
        rows = [
            (
                h["timestamp-ms"],
                h["snapshot-id"],
                h["parent-snapshot-id"],
                h["snapshot-id"] in ancestors,
            )
            for h in self.history()
        ]
        return spark.createDataFrame(
            rows,
            "made_current_at_ms long, snapshot_id long, parent_id long,"
            " is_current_ancestor boolean",
        )

    def files_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """The ``files`` metadata table: one row per data file visible at a
        snapshot, with its manifest-recorded partition values and on-disk
        size — the inputs for small-file/compaction planning."""
        fio = self.catalog.fio
        rows = []
        for e in self._entries_at(snapshot_id):
            full = os.path.join(self.location, e["path"])
            try:
                size = fio.size(full)
            except OSError:
                size = None
            rows.append(
                (e["path"], dict(e.get("partition", {})), size, e.get("records"))
            )
        return spark.createDataFrame(
            rows,
            "file_path string, partition map<string,string>, "
            "file_size_bytes long, record_count long",
        )

    def partitions_df(self, spark: SparkSession) -> DataFrame:
        """The ``partitions`` metadata table: per-partition file count and
        byte totals from the manifests alone (no data scan)."""
        from pyspark.sql import functions as F

        files = self.files_df(spark)
        return (
            files.groupBy("partition")
            .agg(
                F.count("*").alias("file_count"),
                F.sum("file_size_bytes").alias("total_size_bytes"),
            )
        )

    def snapshot_as_of(self, timestamp_ms: int) -> int:
        """Newest MAIN-lineage snapshot committed at or before timestamp_ms
        (Iceberg's FOR TIMESTAMP AS OF resolution, which walks the
        snapshot log of the main branch). Restricted to ancestors of the
        current snapshot: unpublished WAP branch commits and rolled-past
        snapshots have recent timestamps and high ids but are NOT part of
        main's history — resolving to them would leak unaudited staged
        data into a time-travel read."""
        cur = self.metadata.get("current-snapshot-id")
        lineage = (
            {s["snapshot-id"] for s in self._ancestors(cur)}
            if cur is not None
            else set()
        )
        best = None
        for s in self.metadata.get("snapshots", []):
            if s["snapshot-id"] not in lineage:
                continue
            if s["timestamp-ms"] <= timestamp_ms and (
                best is None or s["snapshot-id"] > best["snapshot-id"]
            ):
                best = s
        if best is None:
            raise E.BadRequestException(
                f"no snapshot at or before timestamp {timestamp_ms}"
            )
        return best["snapshot-id"]

    # -- maintenance --------------------------------------------------------
    def expire_snapshots(
        self, older_than_ms: int | None = None, retain_last: int = 1
    ) -> "Table":
        """Expire old snapshots (Iceberg's expire_snapshots maintenance
        action): drop time-travel history while keeping every retained
        snapshot's visible file set intact.

        Snapshots store only their ADDED files here, so an expired ancestor
        append's entries are folded into the oldest retained snapshot —
        reads at any retained snapshot are unchanged; reads at an expired
        snapshot now fail loudly. Only a PREFIX of the history is expired
        (a hole between retained snapshots would corrupt later file lists).
        Expiration is a normal CAS commit, so it serializes with concurrent
        appends like any other writer. Streaming ingest (micro-batch =
        snapshot) makes this the op that bounds metadata growth at scale.
        """
        snaps = sorted(
            self.metadata.get("snapshots", []), key=lambda s: s["snapshot-id"]
        )
        if retain_last < 1:
            raise E.BadRequestException("retain_last must be >= 1")
        keep_floor = len(snaps) - retain_last
        ref_pinned = {r["snapshot-id"] for r in self.metadata.get("refs", {}).values()}
        expire: list[dict] = []
        for i, s in enumerate(snaps):
            if i >= keep_floor:
                break  # inside the retain-last window
            if s["snapshot-id"] == self.metadata.get("current-snapshot-id"):
                break  # never expire the current snapshot
            if s["snapshot-id"] in ref_pinned:
                break  # tags/branches protect their snapshot (prefix rule)
            if older_than_ms is not None and s["timestamp-ms"] >= older_than_ms:
                break  # prefix rule: stop at the first non-candidate
            expire.append(s)
        if not expire:
            return self
        # Fold into EVERY retained snapshot whose parent chain breaks —
        # i.e. whose parent is expired. With branches present more than one
        # lineage can hang off the expired prefix (main's next snapshot AND
        # a branch head both forked from an expired ancestor); rebasing
        # only one of them silently drops the expired ancestors' files from
        # every other lineage's reads.
        expire_ids = {s["snapshot-id"] for s in expire}
        rebases: list[dict] = []
        for s in snaps[len(expire):]:
            if s.get("parent-snapshot-id") not in expire_ids:
                continue
            sid = s["snapshot-id"]
            # merge-on-read deletes visible at the rebase point must fold
            # with the entries or expired-ancestor deletes would resurrect
            folded, dels, removed_records = self._visible_at(sid)
            rb = {
                "snapshot-id": sid,
                "manifest-path": self._write_manifest(
                    sid, folded, position_deletes=dels
                ),
                "count": len(folded),
            }
            if dels and removed_records is not None:
                # row_count() subtracts the per-snapshot removed-records;
                # the fold must carry the ACCUMULATED delete-tuple count of
                # the collapsed chain or counts go silently wrong (reads
                # apply every folded delete file, the summary must agree)
                rb["removed-records"] = removed_records
            rebases.append(rb)
        out = self.catalog.update_table(
            self.identifier,
            requirements=[
                {
                    "type": "assert-ref-snapshot-id",
                    "snapshot-id": self.metadata.get("current-snapshot-id"),
                }
            ],
            updates=[
                {
                    "action": "expire-snapshots",
                    "snapshot-ids": sorted(expire_ids),
                    "rebases": rebases,
                }
            ],
        )
        # Post-commit manifest cleanup: the expired snapshots' (and the
        # rebased snapshots' superseded) manifest files are unreferenced
        # now — reclaim them; best-effort, orphans are harmless.
        rebased_ids = {rb["snapshot-id"] for rb in rebases}
        stale = [s.get("manifest-path") for s in expire] + [
            s.get("manifest-path")
            for s in snaps
            if s["snapshot-id"] in rebased_ids
        ]
        mroot = os.path.dirname(self.metadata_location)
        for mp in stale:
            if mp and not os.path.isabs(mp):
                try:
                    self.catalog.fio.remove(os.path.join(mroot, mp))
                except OSError:
                    pass
        return out

    def remove_orphan_files(self, older_than_ms: int | None = None) -> list[str]:
        """Delete data files not referenced by any live snapshot (Iceberg's
        remove_orphan_files): the physical half of expiration — expire drops
        the metadata, this reclaims the bytes (files superseded by a replace
        / compaction, or left by failed writes).

        Collects the referenced set from CURRENT metadata, then walks
        ``location/data``. ``older_than_ms`` is the production-Iceberg age
        threshold: only unreferenced files whose mtime is at or before it
        are removed, so an in-flight writer's just-staged (not yet
        committed) files survive a concurrent sweep. None keeps the
        delete-everything-unreferenced behavior for offline maintenance.
        Returns the removed paths (location-relative).
        """
        referenced: set[str] = set()
        for s in self.metadata.get("snapshots", []):
            doc = self._manifest_doc(s)
            for p in [e["path"] for e in doc["entries"]] + doc.get("position-deletes", []):
                referenced.add(os.path.normpath(p))
        data_root = os.path.join(self.location, "data")
        removed: list[str] = []
        fio = self.catalog.fio
        # topdown=False ordering is load-bearing: children must be visited
        # before parents so directories emptied here get rmdir'd below.
        for dp, _dn, fns in fio.walk(data_root, topdown=False):
            rel_dir = os.path.relpath(dp, self.location)
            live_dir = any(
                os.path.normpath(os.path.join(rel_dir, f)) in referenced for f in fns
            )
            for f in sorted(fns):
                rel = os.path.normpath(os.path.join(rel_dir, f))
                if rel in referenced:
                    continue
                # Sidecars (_SUCCESS, .name.crc) live with their data files:
                # keep them while the directory still holds referenced files.
                owner = (
                    os.path.normpath(os.path.join(rel_dir, f[1:-4]))
                    if f.startswith(".") and f.endswith(".crc")
                    else None
                )
                if owner in referenced or (
                    f in ("_SUCCESS", "._SUCCESS.crc") and live_dir
                ):
                    continue
                full = os.path.join(dp, f)
                if (
                    older_than_ms is not None
                    and fio.getmtime(full) * 1000 > older_than_ms
                ):
                    continue  # too young: may belong to an in-flight commit
                fio.remove(full)
                removed.append(rel)
            if not fio.listdir(dp):
                fio.rmdir(dp)
        return sorted(removed)


class Catalog:
    """The engine-side equivalent of the reference's REST catalog service."""

    #: Backend discriminator ("fs" | "sql"), for backend-specific tests.
    backend = "fs"

    #: Age after which an existing-but-unparseable v{N}.metadata.json claim
    #: file is considered abandoned by a crashed writer and may be removed.
    #: A live writer flushes within milliseconds of claiming, so 60 s is
    #: conservative; tests lower it to exercise recovery.
    stale_claim_seconds: float = 60.0

    def __init__(self, warehouse: str, fileio: FileIO | None = None):
        # URI warehouses (s3://bucket/prefix) pass through verbatim — only
        # local paths get absolutized (os.path.abspath would mangle the
        # scheme's double slash).
        self.warehouse = (
            warehouse if "://" in warehouse else os.path.abspath(warehouse)
        )
        if fileio is None:
            scheme = (
                self.warehouse.split("://", 1)[0].lower()
                if "://" in self.warehouse
                else ""
            )
            if scheme in ("s3", "s3a", "s3n"):
                # every construction path (library, config, REST server
                # entrypoint) must route object-store warehouses to the S3
                # FileIO — defaulting to LocalFileIO here would silently
                # write metadata into a local "s3:" directory. s3a/s3n are
                # the Hadoop-conventional spellings of the same store.
                from .fileio import S3FileIO

                self.warehouse = "s3://" + self.warehouse.split("://", 1)[1]
                fileio = S3FileIO()
            elif scheme == "file":
                self.warehouse = self.warehouse.split("://", 1)[1]
                fileio = LocalFileIO()
            elif scheme:
                # loud beats a silent local 'hdfs:' directory tree
                raise E.BadRequestException(
                    f"no FileIO for warehouse scheme {scheme!r}; pass fileio="
                )
            else:
                fileio = LocalFileIO()
        self.fio = fileio
        self.fio.mkdirs(self.warehouse)

    # -- storage helpers (everything below goes through the FileIO seam) ----
    def _write_json(self, path: str, doc: dict) -> None:
        self.fio.write_text_atomic(path, json.dumps(doc, indent=1, sort_keys=True))

    def _read_json(self, path: str) -> dict:
        return json.loads(self.fio.read_text(path))

    # -- config / health (reference tables.go:38-46, router.go:50-52) -------
    def config(self) -> dict:
        return {"defaults": dict(ENGINE_DEFAULTS), "overrides": dict(ENGINE_OVERRIDES)}

    def health(self) -> dict:
        return {"status": "ok"}

    # -- validation ---------------------------------------------------------
    @staticmethod
    def _bad_level(level: str) -> bool:
        return (not level or "/" in level or NS_SEP in level
                or level.startswith("."))

    def _ns_dir(self, ns: Ident) -> str:
        for level in ns:
            if self._bad_level(level):
                raise E.BadRequestException(f"bad namespace level {level!r}")
        return os.path.join(self.warehouse, *ns)

    def _table_dir(self, ident: Ident) -> str:
        ns, name = tuple(ident[:-1]), ident[-1]
        if not ns or not name:
            raise E.BadRequestException(f"bad identifier {ident!r}")
        # Same validation as namespace levels: the table name comes from
        # client input (REST body / rename destination), and an unchecked
        # name like "../../victim" would create/load/rmtree OUTSIDE the
        # warehouse. Reject separators and dot-prefixed names, then verify
        # the resolved path stays under the warehouse (defense in depth
        # against symlinks and exotic encodings).
        if "/" in name or os.sep in name or name.startswith("."):
            raise E.BadRequestException(f"bad table name {name!r}")
        d = os.path.join(self._ns_dir(ns), name)
        wh = os.path.realpath(self.warehouse)
        real = os.path.realpath(d)
        if os.path.commonpath([real, wh]) != wh:
            raise E.BadRequestException(f"table path escapes warehouse: {name!r}")
        return d

    def _require_ns(self, ns: Ident) -> None:
        if not self.namespace_exists(ns):
            raise E.NoSuchNamespaceException(".".join(ns))

    # -- namespace CRUD (reference namespaces.go) ---------------------------
    def create_namespace(self, ns: Ident, properties: dict | None = None) -> dict:
        ns, properties = tuple(ns), dict(properties or {})
        if not ns:
            raise E.BadRequestException("empty namespace")
        self._ns_dir(ns)
        if not self._ns_create(ns, properties):
            raise E.NamespaceAlreadyExistsException(".".join(ns))
        return {"namespace": list(ns), "properties": properties}

    def list_namespaces(self, parent: Ident | None = None) -> list[Ident]:
        if parent is not None:
            self._require_ns(tuple(parent))
        return self._ns_list(tuple(parent or ()))

    def load_namespace(self, ns: Ident) -> dict:
        ns = tuple(ns)
        self._require_ns(ns)
        return {"namespace": list(ns), "properties": self._ns_read(ns)}

    def namespace_exists(self, ns: Ident) -> bool:
        ns = tuple(ns)
        self._ns_dir(ns)
        return self._ns_exists(ns)

    def drop_namespace(self, ns: Ident) -> None:
        """RESTRICT drop: refuses when tables or child namespaces remain
        (reference namespaces.go:131-136 — no cascade)."""
        ns = tuple(ns)
        self._require_ns(ns)
        if self.list_tables(ns) or self.list_namespaces(ns):
            raise E.NamespaceNotEmptyException(".".join(ns))
        self._ns_remove(ns)

    def update_namespace_properties(
        self, ns: Ident, removals: list[str] | None = None, updates: dict | None = None
    ) -> dict:
        """Returns the reference's 3-way summary {updated, removed, missing}
        (namespaces.go:182-186); a key in both lists is a 422
        (namespaces.go:159-166)."""
        ns, removals, updates = tuple(ns), list(removals or []), dict(updates or {})
        overlap = set(removals) & set(updates)
        if overlap:
            raise E.UnprocessableEntityException(", ".join(sorted(overlap)))
        self._require_ns(ns)
        props = self._ns_read(ns)
        removed = [k for k in removals if k in props]
        missing = [k for k in removals if k not in props]
        for k in removed:
            del props[k]
        props.update(updates)
        self._ns_update(ns, props)
        return {
            "updated": sorted(updates.keys()),
            "removed": sorted(removed),
            "missing": sorted(missing),
        }

    # -- table CRUD (reference tables.go) -----------------------------------
    def list_tables(self, ns: Ident) -> list[Ident]:
        ns = tuple(ns)
        self._require_ns(ns)
        return self._ptr_list(ns)

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
        if stage_create:  # reference tables.go:91-96
            raise E.NotImplementedException("stage-create")
        self._require_ns(ident[:-1])
        tdir = self._table_dir(ident)
        # Metadata ALWAYS lives under the catalog-managed table dir so the
        # table stays discoverable; a custom ``location`` only redirects
        # where DATA files are written (metadata["location"]), mirroring how
        # an object-store warehouse separates the two.
        metadata = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            # URI locations (s3://...) pass through verbatim like the
            # warehouse in __init__ — abspath would collapse the scheme's
            # double slash into a local 's3:' path
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
        mloc = self._ptr_claim(ident, tdir, metadata)
        if mloc is None:
            raise E.TableAlreadyExistsException(".".join(ident))
        return Table(self, ident, 1, metadata, mloc)

    def load_table(self, ident: Ident) -> Table:
        ident = tuple(ident)
        self._require_ns(ident[:-1])
        return self._ptr_read(ident, self._table_dir(ident))

    def table_exists(self, ident: Ident) -> bool:
        ident = tuple(ident)
        return self.namespace_exists(ident[:-1]) and self._ptr_exists(
            ident, self._table_dir(ident)
        )

    def drop_table(self, ident: Ident, purge: bool = False) -> None:
        """Metadata-only drop; data files are orphaned, not deleted.
        purge=True is rejected with the reference's NotImplemented error
        body (tables.go:288-295 serves ErrNotImplemented; the facade
        mirrors its HTTP-400-status quirk)."""
        ident = tuple(ident)
        if purge:
            raise E.NotImplementedException("purgeRequested")
        self._require_ns(ident[:-1])
        if not self._ptr_unregister(ident, self._table_dir(ident)):
            raise E.NoSuchTableException(".".join(ident))

    def rename_table(self, src: Ident, dst: Ident) -> Table:
        """Metadata pointer move (ALTER TABLE RENAME); cross-namespace
        allowed (reference tables.go:365-402). The table dir moves with it;
        a data location that was that dir follows it."""
        src, dst = tuple(src), tuple(dst)
        self._require_ns(src[:-1])
        self._require_ns(dst[:-1])
        src_dir = self._table_dir(src)
        if not self._ptr_exists(src, src_dir):
            raise E.NoSuchTableException(".".join(src))
        dst_dir = self._table_dir(dst)
        if self._ptr_exists(dst, dst_dir):
            raise E.TableAlreadyExistsException(".".join(dst))
        t = self._ptr_move(src, src_dir, dst, dst_dir)
        if t.metadata["location"] == src_dir:
            t.metadata["location"] = dst_dir
            self._write_json(t.metadata_location, t.metadata)
        return t

    # -- optimistic commit (reference tables.go:150-227) --------------------
    def update_table(
        self, ident: Ident, requirements: list[dict], updates: list[dict]
    ) -> Table:
        """CommitTable: validate requirements against CURRENT metadata, apply
        updates, write the next metadata file and swap the pointer to it
        (the check-and-swap: it fails if another writer swapped first)."""
        ident = tuple(ident)
        current = self.load_table(ident)
        self._check_requirements(current, requirements)
        new_meta = self._apply_updates(current, updates)
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        new_loc = self._ptr_swap(current, new_meta)
        if new_loc is None:
            raise E.CommitFailedException(
                f"concurrent writer committed {'.'.join(ident)} "
                f"v{current.version + 1} first"
            )
        return Table(self, ident, current.version + 1, new_meta, new_loc)

    # -- fs storage: namespace markers --------------------------------------
    # Where namespace properties and the current-metadata pointer live: the
    # public methods above touch storage only through these primitives,
    # after validating the namespace (and resolving ``tdir`` with
    # :meth:`_table_dir`). ``_ptr_read`` raises NoSuchTable; ``_ns_create``
    # and ``_ptr_claim`` (entry already there), ``_ptr_swap`` (lost the CAS)
    # and ``_ptr_unregister`` (no entry) return False/None and the caller
    # raises the typed error.
    def _ns_marker(self, ns: Ident) -> str:
        return os.path.join(self._ns_dir(ns), NS_MARKER)

    def _ns_exists(self, ns: Ident) -> bool:
        return self.fio.isfile(self._ns_marker(ns))

    def _ns_read(self, ns: Ident) -> dict:
        return self._read_json(self._ns_marker(ns))

    def _ns_create(self, ns: Ident, properties: dict) -> bool:
        """False if ``ns`` already exists."""
        if self._ns_exists(ns):
            return False
        self.fio.mkdirs(self._ns_dir(ns))
        self._ns_update(ns, properties)
        return True

    def _ns_update(self, ns: Ident, properties: dict) -> None:
        self._write_json(self._ns_marker(ns), properties)

    def _ns_list(self, parent: Ident) -> list[Ident]:
        base, out = self._ns_dir(parent), []
        if self.fio.isdir(base):
            for name in sorted(self.fio.listdir(base)):
                child = parent + (name,)
                # a directory no client could have named (".snapshots", a
                # temp dir) is not a namespace, as _ptr_list skips it too
                if (not self._bad_level(name)
                        and self.fio.isdir(os.path.join(base, name))
                        and self._ns_exists(child)):
                    out.append(child)
        return out

    def _ns_remove(self, ns: Ident) -> None:
        self.fio.rmtree(self._ns_dir(ns))

    # -- fs storage: v{N} files + version-hint pointer ----------------------
    def _ptr_exists(self, ident: Ident, tdir: str) -> bool:
        return self.fio.isfile(os.path.join(tdir, "metadata", "version-hint.text"))

    def _ptr_read(self, ident: Ident, tdir: str) -> Table:
        """The current version (NoSuchTable if there is none). The version
        hint is ADVISORY: a stalled writer can swap it after a later commit
        (regression). The true current version is the newest COMPLETE
        metadata file at or above the hint; a partially-written claim file
        falls back one version.

        Versions are contiguous, so probing upward from the hint until a
        version is missing finds every candidate without listing the
        directory: a writer claims v{N+1} only after loading a complete
        v{N}, the claim is exclusive (O_EXCL / conditional put), and
        :meth:`_gc_stale_claim` removes only an unparseable top claim.
        """
        mdir = os.path.join(tdir, "metadata")
        try:
            hint = int(self.fio.read_text(os.path.join(mdir, "version-hint.text")))
        except (FileNotFoundError, NotADirectoryError):
            raise E.NoSuchTableException(".".join(ident)) from None
        top = hint
        while self.fio.isfile(os.path.join(mdir, f"v{top + 1}.metadata.json")):
            top += 1
        for v in range(top, hint - 1, -1):
            path = os.path.join(mdir, f"v{v}.metadata.json")
            try:
                return Table(self, ident, v, self._read_json(path), path)
            except (json.JSONDecodeError, FileNotFoundError):
                continue  # claimed-but-unflushed writer; try the next older
        raise E.InternalServerError(f"no readable metadata for {'.'.join(ident)}")

    def _ptr_claim(self, ident: Ident, tdir: str, metadata: dict) -> str | None:
        """Write v1 and point at it; None if the table exists. v1 is claimed
        EXCLUSIVELY (O_EXCL / S3 conditional put) like every later version:
        two clients racing create_table must not both report success with
        one schema silently clobbered."""
        if self._ptr_exists(ident, tdir):
            return None
        mdir = os.path.join(tdir, "metadata")
        self.fio.mkdirs(mdir)
        mloc = os.path.join(mdir, "v1.metadata.json")
        if not self.fio.create_exclusive(
            mloc, json.dumps(metadata, indent=1, sort_keys=True)
        ):
            return None
        self.fio.write_text_atomic(os.path.join(mdir, "version-hint.text"), "1")
        return mloc

    def _ptr_swap(self, current: Table, metadata: dict) -> str | None:
        """Claim v{N+1} with O_CREAT|O_EXCL (the CAS), then swap the hint;
        None if another writer claimed it first."""
        mdir = os.path.dirname(current.metadata_location)
        new_v = current.version + 1
        path = os.path.join(mdir, f"v{new_v}.metadata.json")
        self._gc_stale_claim(path)
        if not self.fio.create_exclusive(
            path, json.dumps(metadata, indent=1, sort_keys=True)
        ):
            return None
        self.fio.write_text_atomic(os.path.join(mdir, "version-hint.text"), str(new_v))
        return path

    def _ptr_move(self, src: Ident, src_dir: str, dst: Ident, dst_dir: str) -> Table:
        """Move the table dir (its pointer moves with it); the moved table."""
        self.fio.rename(src_dir, dst_dir)
        return self._ptr_read(dst, dst_dir)

    def _ptr_unregister(self, ident: Ident, tdir: str) -> bool:
        """Remove the table's metadata dir; False if ``ident`` is no table."""
        if not self._ptr_exists(ident, tdir):
            return False
        self.fio.rmtree(os.path.join(tdir, "metadata"))
        return True

    def _ptr_list(self, ns: Ident) -> list[Ident]:
        out = []
        for name in sorted(self.fio.listdir(self._ns_dir(ns))):
            ident = ns + (name,)
            if not name.startswith(".") and self._ptr_exists(
                ident, self._table_dir(ident)
            ):
                out.append(ident)
        return out

    def _gc_stale_claim(self, path: str) -> None:
        """Commit liveness after a writer crash.

        A writer that claimed v{N+1} with O_CREAT|O_EXCL and died before
        flushing leaves a partial/empty claim file. load_table falls back to
        v{N}, so every retry recomputes new_v = N+1 and hits FileExistsError
        forever — the table would be bricked for writes. An unparseable
        claim older than ``stale_claim_seconds`` is provably abandoned (a
        live writer json-dumps immediately after claiming) and is removed;
        a PARSEABLE file is a genuine concurrent commit and a young
        unparseable one may still be in flight — both are left for the
        normal CAS conflict path.
        """
        try:
            self._read_json(path)
            return  # complete metadata: real concurrent commit, CAS must fail
        except FileNotFoundError:
            return
        except (json.JSONDecodeError, OSError):
            pass
        try:
            mt = self.fio.getmtime(path)
            if time.time() - mt < self.stale_claim_seconds:
                return
            # Last-moment re-verify: another recoverer may have removed the
            # stale claim, re-claimed, and FLUSHED a complete commit since
            # we sampled — removing that would lose a successful commit.
            # A parseable or mtime-refreshed file is not the abandoned
            # claim we decided on. (Without a conditional-delete primitive
            # a zero-width window remains — the inherent limit of
            # timeout-based lease recovery without fencing tokens; the
            # conservative stale_claim_seconds makes it unreachable in
            # practice: the re-check and remove are microseconds apart
            # while a competing full gc+claim+flush cycle takes far
            # longer than the remaining window.)
            try:
                self._read_json(path)
                return
            except FileNotFoundError:
                return
            except (json.JSONDecodeError, OSError):
                pass
            if self.fio.getmtime(path) != mt:
                return
            self.fio.remove(path)
        except FileNotFoundError:
            pass  # another recoverer got there first

    @staticmethod
    def _check_requirements(current: Table, requirements: list[dict]) -> None:
        for req in requirements or []:
            kind = req.get("type")
            if kind == "assert-current-schema-id":
                want = req.get("current-schema-id")
                have = current.metadata["current-schema-id"]
                if have != want:
                    raise E.CommitFailedException(
                        f"current schema id {have} != asserted {want}"
                    )
            elif kind == "assert-table-uuid":
                if current.metadata["table-uuid"] != req.get("uuid"):
                    raise E.CommitFailedException("table uuid mismatch")
            elif kind == "assert-ref-snapshot-id":
                if current.metadata.get("current-snapshot-id") != req.get("snapshot-id"):
                    raise E.CommitFailedException("snapshot moved")
            elif kind == "assert-branch-snapshot-id":
                ref = current.metadata.get("refs", {}).get(req.get("ref"))
                have = ref["snapshot-id"] if ref else None
                if have != req.get("snapshot-id"):
                    raise E.CommitFailedException(
                        f"branch {req.get('ref')!r} moved"
                    )
            elif kind == "assert-create":
                raise E.CommitFailedException("table already exists")
            else:
                raise E.BadRequestException(f"unknown requirement {kind!r}")

    @staticmethod
    def _apply_updates(current: Table, updates: list[dict]) -> dict:
        meta = json.loads(json.dumps(current.metadata))  # deep copy
        for upd in updates or []:
            action = upd.get("action")
            if action == "add-schema":
                sch = upd["schema"]
                if any(
                    s["schema-id"] == sch["schema-id"] for s in meta["schemas"]
                ):
                    raise E.BadRequestException(
                        f"schema id {sch['schema-id']} already present"
                    )
                meta["schemas"].append(sch)
                meta["last-column-id"] = max(
                    meta.get("last-column-id", 0),
                    max((f["id"] for f in sch["fields"]), default=0),
                )
            elif action == "set-current-schema":
                sid = upd["schema-id"]
                if not any(s["schema-id"] == sid for s in meta["schemas"]):
                    raise E.BadRequestException(f"unknown schema id {sid}")
                meta["current-schema-id"] = sid
            elif action == "set-properties":
                meta["properties"].update(upd["updates"])
            elif action == "remove-properties":
                for k in upd["removals"]:
                    meta["properties"].pop(k, None)
            elif action == "add-snapshot":
                snap = upd["snapshot"]
                if any(
                    s["snapshot-id"] == snap["snapshot-id"]
                    for s in meta.get("snapshots", [])
                ):
                    # Snapshot ids are minted (max+1) from the WRITER's
                    # loaded metadata; a concurrent commit to another ref
                    # passes the head assertion but may have taken the same
                    # id. Colliding ids would collapse both lineages in
                    # _ancestors' by_id map — reject so the writer reloads
                    # and re-mints (append retries do this automatically).
                    raise E.CommitFailedException(
                        f"snapshot id {snap['snapshot-id']} already exists "
                        "(concurrent commit); reload and retry"
                    )
                meta["snapshots"].append(snap)
                ref = upd.get("ref")
                if ref is not None:
                    # WAP staging: advance the branch ref, NOT main.
                    existing = meta.get("refs", {}).get(ref)
                    if existing is not None and existing.get("type") != "branch":
                        raise E.BadRequestException(
                            f"ref {ref!r} is a tag; cannot commit to it"
                        )
                    meta.setdefault("refs", {})[ref] = {
                        "snapshot-id": snap["snapshot-id"],
                        "type": "branch",
                    }
                else:
                    meta["current-snapshot-id"] = snap["snapshot-id"]
            elif action == "set-location":
                meta["location"] = upd["location"]
            elif action == "set-partition-spec":
                meta["partition-specs"] = upd["spec"]
            elif action == "set-sort-order":
                meta["sort-orders"] = upd["order"]
            elif action == "remove-snapshots":
                ids = set(upd["snapshot-ids"])
                cur = meta.get("current-snapshot-id")
                pinned = {r["snapshot-id"] for r in meta.get("refs", {}).values()}
                if cur in ids or ids & pinned:
                    raise E.BadRequestException(
                        "cannot remove the current or a ref-pinned snapshot"
                    )
                meta["snapshots"] = [
                    s for s in meta.get("snapshots", [])
                    if s["snapshot-id"] not in ids
                ]
            elif action == "set-current-snapshot":
                sid = upd["snapshot-id"]
                if not any(
                    s["snapshot-id"] == sid for s in meta.get("snapshots", [])
                ):
                    raise E.BadRequestException(f"unknown snapshot id {sid}")
                meta["current-snapshot-id"] = sid
            elif action == "set-ref":
                sid = upd["snapshot-id"]
                if not any(
                    s["snapshot-id"] == sid for s in meta.get("snapshots", [])
                ):
                    raise E.BadRequestException(f"unknown snapshot id {sid}")
                meta.setdefault("refs", {})[upd["name"]] = {
                    "snapshot-id": sid,
                    "type": upd.get("type", "tag"),
                }
            elif action == "remove-ref":
                if upd["name"] not in meta.get("refs", {}):
                    raise E.BadRequestException(f"unknown ref {upd['name']!r}")
                del meta["refs"][upd["name"]]
            elif action == "expire-snapshots":
                ids = set(upd["snapshot-ids"])
                have = {s["snapshot-id"] for s in meta.get("snapshots", [])}
                if not ids <= have:
                    raise E.BadRequestException(
                        f"unknown snapshot ids {sorted(ids - have)}"
                    )
                if meta.get("current-snapshot-id") in ids:
                    raise E.BadRequestException("cannot expire the current snapshot")
                pinned = ids & {
                    r["snapshot-id"] for r in meta.get("refs", {}).values()
                }
                if pinned:
                    raise E.BadRequestException(
                        f"snapshots {sorted(pinned)} are pinned by refs"
                    )
                meta["snapshots"] = [
                    s for s in meta["snapshots"] if s["snapshot-id"] not in ids
                ]
                # Fold expired ancestors' files into every retained child
                # whose parent chain broke, so each surviving lineage
                # (main AND branches) still sees its full file list.
                rebases = {rb["snapshot-id"]: rb for rb in upd.get("rebases", [])}
                for s in meta["snapshots"]:
                    rb = rebases.get(s["snapshot-id"])
                    if rb is not None:
                        s.pop("added-files", None)
                        s["manifest-path"] = rb["manifest-path"]
                        s["added-files-count"] = rb.get("count")
                        if "removed-records" in rb:
                            s["removed-records"] = rb["removed-records"]
                        else:
                            s.pop("removed-records", None)
                        s["parent-snapshot-id"] = None
            else:
                raise E.BadRequestException(f"unknown update {action!r}")
        return meta
