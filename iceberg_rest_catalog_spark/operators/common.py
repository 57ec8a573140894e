"""Shared helpers for query definitions."""

from __future__ import annotations

import errno
import hashlib
import logging
import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

SCRATCH_ROOT = os.path.join(tempfile.gettempdir(), "icsb_scratch")
LOG = logging.getLogger(__name__)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def r4(c: Column | str) -> Column:
    """Round a floating aggregate to 4 decimals (oracle stability)."""
    return F.round(c, 4)


def ntz(s: str) -> Column:
    """TZ-naive timestamp literal (matches DuckDB TIMESTAMP literals)."""
    return F.expr(f"TIMESTAMP_NTZ '{s}'")


def _flat(part: str) -> str:
    return part.replace("/", "_").strip("_")


def scratch_dir(*parts: str) -> str:
    """Per-query scratch dir for sink/partition round-trip queries."""
    d = os.path.join(SCRATCH_ROOT, *map(_flat, parts))
    os.makedirs(d, exist_ok=True)
    return d


def fixture_cache_dir(sf_dir: str, name: str, salt: str = "") -> str:
    """Directory of the build-once artifact ``name`` over the fixture at
    ``sf_dir``: ``SCRATCH_ROOT/name/<sf_dir>/<key>``.  The key digests the
    path, ``st_mtime_ns`` and size of every parquet file in the fixture
    plus the caller's version ``salt``, so a rewritten fixture or a
    changed build lands in a new directory and never reads a stale one.
    Not created here: :func:`cached_parquet` and :func:`cached_warehouse`
    build it."""
    sig = hashlib.md5(salt.encode())
    for root, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                sig.update(f"{p}:{st.st_mtime_ns}:{st.st_size};".encode())
    return os.path.join(SCRATCH_ROOT, name, _flat(sf_dir), sig.hexdigest()[:16])


def _drop_other_keys(cache: str) -> None:
    """Create ``cache``'s parent and remove every other key of the same
    name and fixture path (a fixture rewritten on every run would
    otherwise grow the scratch root without bound).  Entries that start
    with this key — its in-flight temp directories — stay."""
    parent, key = os.path.split(cache)
    os.makedirs(parent, exist_ok=True)
    for old in os.listdir(parent):
        if not old.startswith(key):
            shutil.rmtree(os.path.join(parent, old), ignore_errors=True)


def cached_parquet(
    sf_dir: str, name: str, frame, *partition_by: str, salt: str = ""
) -> str:
    """Path of the parquet artifact ``name`` over the fixture at ``sf_dir``;
    on a miss ``frame()`` is written once and published atomically
    (:func:`publish_parquet_atomic`).  The directory exists only after the
    rename, so its existence is the completion mark."""
    cache = fixture_cache_dir(sf_dir, name, salt)
    if not os.path.isdir(cache):
        _drop_other_keys(cache)
        publish_parquet_atomic(frame(), cache, *partition_by)
    return cache


def cached_warehouse(sf_dir: str, name: str, build):
    """Catalog over the build-once warehouse ``name`` of the fixture at
    ``sf_dir``; on a miss ``build(catalog)`` scripts it into an empty
    warehouse.  A warehouse cannot be renamed into place (its metadata
    holds absolute locations), so it is built in its keyed directory and
    the ``.ready`` marker, written last, is the completion mark."""
    from ..catalog import Catalog

    wh = fixture_cache_dir(sf_dir, name)
    marker = os.path.join(wh, ".ready")
    if not os.path.exists(marker):
        _drop_other_keys(wh)
        shutil.rmtree(wh, ignore_errors=True)  # a build that did not finish
        build(Catalog(wh))
        open(marker, "w").close()
    return Catalog(wh)


def publish_parquet_atomic(df: DataFrame, cache: str, *partition_by: str) -> None:
    """Materialize ``df`` (partitioned by ``partition_by``) into the
    directory ``cache`` ATOMICALLY: write to a unique temp sibling, then
    rename into place, so ``cache`` only ever appears fully written.  Two
    concurrent writers race harmlessly: the loser removes its temp and
    reads the winner's.

    Only ENOTEMPTY/EEXIST on the rename mean "lost the race" (the winner's
    populated directory is in the way); any other errno — permissions, a
    stray file where the directory should be — is a REAL failure and
    re-raises instead of leaving the caller without a cache."""
    tmp = f"{cache}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
    try:
        os.rename(tmp, cache)
    except OSError as exc:
        shutil.rmtree(tmp, ignore_errors=True)
        if exc.errno not in (errno.ENOTEMPTY, errno.EEXIST):
            raise  # genuine failure, not a concurrent-builder race


def widen(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition to the session's shuffle parallelism when the
    incoming split count is LOWER — otherwise a no-op.

    Spark sizes input splits by scan BYTES, so a compute-heavy or
    fanning-out map stage (per-shingle md5, per-vector float math) over a
    corpus that arrives in fewer splits than cores serializes onto those
    few tasks until the first shuffle (round-8 profiling: the whole LSH
    family bottlenecked on ONE task this way at bench scale — single
    parquet files well under maxPartitionBytes). One small shuffle of the
    raw rows buys full-width execution of the expensive stage. At 100 TB
    the scan already yields thousands of splits and this returns the
    input unchanged — no extra shuffle. Hash partitioning on ``key``
    keeps the layout deterministic; results are partition-invariant
    either way (the oracle harness re-proves it)."""
    want = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want, key)
    return df


def fixpoint(step, state, rounds, *, stage_every=1, signature=None, confirm=None):
    """Iterate ``state = step(state)``, truncating lineage with
    ``localCheckpoint()`` — the one loop every iterative operator runs on.

    Without ``signature``: exactly ``rounds`` rounds, staged after every
    ``stage_every``-th round and after the last.  Each staging is one
    blocking job, so a short un-staged chain is cheaper — but a step that
    reads its input twice doubles the un-staged plan every round: between
    stagings the subtree is replicated 2^stage_every times, so keep
    ``stage_every`` small for such steps.

    With ``signature``: staged every round; stops at the first round whose
    ``signature`` equals the previous round's and, if given,
    ``confirm(prev_state, cur_state)`` holds (an exact check behind a
    cheap signature gate).  Not converging within ``rounds`` raises — a
    truncated fixpoint would be a silently wrong result."""
    prev = None if signature is None else signature(state)
    for r in range(1, rounds + 1):
        last, state = state, step(state)
        if signature is not None or r % stage_every == 0 or r == rounds:
            state = state.localCheckpoint()
        if signature is None:
            continue
        cur = signature(state)
        if cur == prev and (confirm is None or confirm(last, state)):
            return state
        prev = cur
    if signature is not None:
        raise RuntimeError(f"no fixpoint within {rounds} rounds")
    return state


def release_persistent_state(spark: SparkSession) -> int:
    """Unpersist every cached plan and persistent RDD in the session;
    returns how many RDDs were released.

    Iterative operators (connected components, k-means, BFS, k-core,
    LSH signature reuse) truncate lineage with ``localCheckpoint()``,
    whose backing RDDs are NOT tracked by the SQL cache manager and stay
    resident until the Python DataFrame is garbage-collected AND the
    ContextCleaner gets around to them.  In a long-lived session running
    many queries back-to-back this accumulates silently — round-8
    profiling measured 21 leaked persistent RDDs after six graph/dedup
    queries, and the eviction pressure they exert made later
    storage-heavy queries (q_graph_triangles) run 2.5x slower inside the
    bench suite than standalone.  Callers that run MANY INDEPENDENT
    queries on one session (the bench harness, a query service draining
    a queue) should call this between queries; within one query the
    operators' own unpersist discipline bounds the working set.

    SIDE EFFECT (r16-OPT, flagged by r16 ADVICE): this also DROPS every
    ``icsb_stream_*`` memory-sink temp view.  A caller still holding an
    unconsumed DataFrame read from a streaming query's memory sink
    (``spark.table(name)`` is lazy) will hit
    TABLE_OR_VIEW_NOT_FOUND on first use after the release — fully
    consume (collect / write) memory-sink results before calling this.
    Every in-repo call site does; the constraint is part of the
    function's contract.

    :func:`release_persistent_state_deep` additionally triggers one
    driver-JVM GC.  Shuffle files, broadcast blocks and RDD registrations
    are reclaimed by ContextCleaner only when their JVM objects are
    weak-reference collected — unpersist() alone just marks them.  Across
    a long suite the backlog grows monotonically and taxes exactly the
    memory-heaviest queries (round-9 bench: q_graph_triangles sampled
    10.6 → 12.6 → 16.9 s across three otherwise-identical suite passes;
    q_dedup_semantic grew the same way, every light query stayed flat —
    the growth, not the plans, was being measured).  A driver System.gc()
    between queries drains the weak-ref queue so each query starts from
    the same cleaned state.  Costs one GC pause on an idle heap
    (~100 ms) — harness hygiene, not something a production query should
    pay per call, hence the separate deep variant."""
    spark.catalog.clearCache()
    # Memory-sink temp views leak the same way (r16-OPT): every
    # memory-sink streaming drain registers a fresh icsb_stream_<uid>
    # view whose MemorySink holds the ENTIRE drained result in memory and
    # is referenced by the catalog forever — across a 102-query x 4-pass
    # suite that is dozens of full stream-join results resident at once,
    # eviction pressure charged to whichever memory-heavy query runs
    # next (q_stream_join_outer read 8.6 s in-suite vs 3.7 s standalone
    # before this).  Dropping the view releases the sink buffer at the
    # next driver GC; each query invocation registers a new uid, so a
    # re-run never reads a dropped view.
    try:
        for tbl in spark.catalog.listTables():
            if tbl.name.startswith("icsb_stream_"):
                spark.catalog.dropTempView(tbl.name)
    except Exception as exc:  # listing unavailable (exotic session): say so
        LOG.warning("memory-sink view sweep skipped: %r", exc)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in list(jmap.values()):
        jrdd.unpersist()
        n += 1
    return n


def release_persistent_state_deep(spark: SparkSession) -> int:
    """release_persistent_state + one driver-JVM GC (see its docstring's
    driver_gc paragraph) — the between-queries call for suite harnesses."""
    n = release_persistent_state(spark)
    spark.sparkContext._jvm.System.gc()
    return n


def fixed_width(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition on ``keys`` at the session's FULL shuffle
    parallelism, pinned against AQE coalescing.

    The complement of :func:`widen` for the POST-shuffle side of the same
    disease: AQE sizes coalesced partitions by shuffle BYTES, so a join or
    grouped stage whose input is small but whose per-row work fans out
    (bucket-quantized interval joins: ~MBs of session rows explode into
    tens of millions of candidate pairs inside the join task) gets
    coalesced onto one or two tasks and serializes (round-8 profiling:
    the co-presence pair join ran 9.5s single-task, 1.6s at width 32).
    An EXPLICIT numPartitions repartition is marked user-specified, which
    AQE honors — the join runs at full width.  At real scale the shuffle
    is large, AQE would not have coalesced, and this is the exchange the
    planner would have inserted anyway (same key, same width), so the
    pin costs nothing.  Trade-off: a user-specified exchange also opts
    out of AQE's skew-split for that side — use only where the per-key
    fan-out is bounded (e.g. hour buckets), not on skew-prone keys."""
    want = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(want, *keys)
