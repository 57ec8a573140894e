"""Streaming SOURCE over a cataloged table: incremental snapshot reads.

The dual of ``q_stream_catalog_sink`` (micro-batch append = snapshot
commit): here each APPEND snapshot becomes one micro-batch of exactly the
rows that snapshot added — Iceberg's incremental append scan, the shape
Spark's own Iceberg source exposes via ``stream-from-timestamp``.

Offsets are snapshot ids, checkpointed to a JSON file with the same
write-temp-then-atomic-rename discipline the catalog uses for metadata, so
a crashed consumer resumes from the last committed snapshot. The offset is
committed AFTER the sink callback returns: at-least-once delivery, upgraded
to exactly-once when the sink is idempotent per snapshot id (e.g. the
catalog sink keyed on snapshot id, or a MERGE) — the same contract
Structured Streaming's foreachBatch gives with its epoch id.

At 100 TB the incremental scan is the point: a consumer processes only the
files each new snapshot ADDED (O(new data)), never rescans the table.
Non-append snapshots are surfaced explicitly: ``replace`` (compaction)
rewrites history it already delivered, so it is skipped with its id
recorded; ``overwrite``/``delete`` (row-level DML) change already-delivered
rows and either skip (default, append-only consumers) or raise under
``fail_on_changes=True`` (consumers that must not miss retractions).

Every batch reads through the table's one read path,
``Table._read_entries``: files grouped by write-time schema, position
deletes anti-joined, rows projected to the current schema by field ID —
the same rows a batch scan of those files returns.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..catalog import errors as E
from ..catalog.catalog import POSITION_DELETE_SCHEMA, _Visible


class CatalogStreamReader:
    """Incremental micro-batch reader for one cataloged table."""

    def __init__(self, catalog, identifier, checkpoint_dir: str,
                 fail_on_changes: bool = False):
        self.catalog = catalog
        self.identifier = tuple(identifier)
        self.checkpoint_dir = checkpoint_dir
        self.fail_on_changes = fail_on_changes
        os.makedirs(checkpoint_dir, exist_ok=True)

    # -- offset log ---------------------------------------------------------
    @property
    def _offset_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "offset.json")

    def last_committed(self) -> int:
        """Highest snapshot id already delivered (0 = nothing yet)."""
        try:
            with open(self._offset_path) as f:
                return json.load(f)["snapshot-id"]
        except (OSError, ValueError, KeyError):
            return 0

    def _commit_offset(self, snapshot_id: int) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.checkpoint_dir)
        with os.fdopen(fd, "w") as f:
            json.dump({"snapshot-id": snapshot_id}, f)
        os.replace(tmp, self._offset_path)  # atomic on POSIX

    # -- incremental plan ---------------------------------------------------
    def pending_snapshots(self) -> list[dict]:
        """Snapshots on the current lineage with id > the committed offset,
        oldest first. Lineage-based (not id-sorted): WAP branch snapshots
        never leak into the stream until fast-forwarded."""
        return self._lineage(self.catalog.load_table(self.identifier))[1]

    def _lineage(self, tbl) -> tuple[list[dict], list[dict]]:
        """The current lineage of ``tbl``, oldest first, and its snapshots
        past the committed offset."""
        cur = tbl.metadata.get("current-snapshot-id")
        if cur is None:
            return [], []
        chain, off = tbl._ancestors(cur), self.last_committed()
        return chain, [s for s in chain if s["snapshot-id"] > off]

    def _deleted_rows_df(self, spark, tbl, delete_rel_paths, entries) -> DataFrame | None:
        """Resolve position-delete tuples back to the ROWS they delete —
        the retraction half of a changelog batch: a semi-join of the
        touched files' rows, read with their keys, against the tuples.
        Reads only the data files the tuples reference (their distinct file
        list is collected; it is bounded by touched-file count, not row
        count). ``entries`` are those the snapshot's parent left visible,
        which the tuples point into — later rewrites may have removed the
        touched files from the current view."""
        from pyspark.sql import functions as F

        ddf = spark.read.schema(POSITION_DELETE_SCHEMA).parquet(
            *[os.path.join(tbl.location, p) for p in delete_rel_paths]
        )
        # driver-side bound: O(|files churned this micro-batch|) paths —
        # metadata-plane only, never row data
        touched = {
            os.path.normpath(r.file_path)
            for r in ddf.select("file_path").distinct().collect()
        }
        entries = [e for e in entries if os.path.normpath(e["path"]) in touched]
        keyed = tbl._read_entries(spark, entries, keys=True)
        if keyed is None:
            return None
        return keyed.join(
            F.broadcast(ddf),
            on=(F.col("__icb_file") == ddf["file_path"])
            & (F.col("__icb_pos") == ddf["pos"]),
            how="left_semi",
        ).drop("__icb_file", "__icb_pos")

    def _change_batch(self, spark, tbl, snap, doc, parent) -> DataFrame | None:
        """One snapshot's changelog rows, tagged with ``_change_type``;
        ``parent`` is what its parent snapshot left visible."""
        from pyspark.sql import functions as F

        def _tag(df, kind):
            return df.withColumn("_change_type", F.lit(kind))

        op = snap.get("operation", "append")
        if op == "replace":
            return None  # compaction: no logical change
        new = tbl._read_entries(spark, doc["entries"])
        if op == "append":
            return None if new is None else _tag(new, "insert")
        batch = None
        if doc.get("position-deletes"):
            gone = self._deleted_rows_df(spark, tbl, doc["position-deletes"], parent.entries)
            if gone is not None:
                batch = _tag(gone, "delete")
            if new is not None:
                ins = _tag(new, "insert")
                batch = ins if batch is None else batch.union(ins)
        elif doc.get("removed"):
            # the LOGICAL old view: the removed files as the parent saw
            # them, minus the MoR deletes pending there — already-retracted
            # rows must not retract twice
            removed = {os.path.normpath(p) for p in doc["removed"]}
            old = tbl._read_entries(
                spark,
                [e for e in parent.entries if os.path.normpath(e["path"]) in removed],
                parent.deletes,
            )
            if old is not None:
                deleted = old.exceptAll(new) if new is not None else old
                batch = _tag(deleted, "delete")
            if new is not None:
                inserted = new.exceptAll(old) if old is not None else new
                ins = _tag(inserted, "insert")
                batch = ins if batch is None else batch.union(ins)
        return batch

    def run_changelog(self, spark: SparkSession, sink) -> list[int]:
        """CDC drain: per pending snapshot, call ``sink(batch_df, sid)``
        where batch_df carries a ``_change_type`` column — the Iceberg
        changelog scan shape. appends emit inserts; merge-on-read DML
        emits exact deletes (tuples resolved to rows) plus inserts;
        copy-on-write overwrites emit the content DIFF of the rewritten
        files (exceptAll both ways — bounded by candidate-file size);
        compactions emit nothing (no logical change).

        A drain loads the table once and reads each manifest once. With
        row-level DML pending it folds the whole lineage as it goes, so
        each snapshot sees what its parent left visible; an append-only
        drain reads only the pending snapshots' manifests."""
        tbl = self.catalog.load_table(self.identifier)
        chain, pending = self._lineage(tbl)
        dml = any(
            s.get("operation", "append") not in ("append", "replace") for s in pending
        )
        pending_ids = {s["snapshot-id"] for s in pending}
        visible = _Visible()
        done: list[int] = []
        for snap in chain if dml else pending:
            sid, doc = snap["snapshot-id"], tbl._manifest_doc(snap)
            if sid in pending_ids:
                batch = self._change_batch(spark, tbl, snap, doc, visible)
                if batch is not None:
                    sink(batch, sid)
                self._commit_offset(sid)
                done.append(sid)
            visible.add(snap, doc)
        return done

    # -- drain --------------------------------------------------------------
    def run_available_now(self, spark: SparkSession, sink) -> list[int]:
        """Process every pending snapshot (availableNow semantics): call
        ``sink(batch_df, snapshot_id)`` per APPEND snapshot in commit order,
        committing the offset after each sink return. Returns the processed
        snapshot ids. Skipped non-append snapshots also advance the offset
        (their changes are visible only through a fresh batch scan)."""
        tbl = self.catalog.load_table(self.identifier)
        done: list[int] = []
        for snap in self._lineage(tbl)[1]:
            sid = snap["snapshot-id"]
            op = snap.get("operation", "append")
            if op != "append":
                if self.fail_on_changes and op in ("overwrite", "delete"):
                    raise E.BadRequestException(
                        f"snapshot {sid} is {op!r}: row-level changes cannot "
                        "be streamed as appends (fail_on_changes=True)"
                    )
                self._commit_offset(sid)
                continue
            df = tbl._read_entries(spark, tbl._manifest_entries(snap))
            if df is not None:
                sink(df, sid)
            self._commit_offset(sid)
            done.append(sid)
        return done
