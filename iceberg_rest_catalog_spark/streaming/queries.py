"""Streaming queries (SURVEY §2.B streaming rows).

Four ops run a REAL Structured Streaming query (file source over the events
parquet, ``availableNow`` trigger, memory / foreachBatch sink) and return
the materialized batch result; the driver can collect it like any other
DataFrame. Sliding and session windows use the identical ``window()`` /
``session_window()`` functions in batch mode — Spark's semantics for these
functions are the same in both execution modes, and batch keeps the result
deterministic for the oracle.

Scale notes: a micro-batch pipeline over 100 TB/day shards by file; state
(dedup keys, session state, per-user aggregates) lives in the state store
partitioned by ``spark.sql.shuffle.partitions``; watermarks bound state
size. The availableNow trigger used here is the standard backfill mode.
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import functions as F

from ..io import load_table
from ..operators.common import r4, scratch_dir, t
from ..registry import query

_uid = itertools.count()

# Micro-batches per replayed stream for the stateful ops whose declared
# result is SPLIT-INVARIANT (associative folds / monotone update-mode
# emissions: topk, bitmap_distinct, velocity, transform_state).  Was 4
# through r16; r17 (VERDICT items 4-5): each availableNow micro-batch pays
# a fixed floor of planning + state-store checkpoint + sink commit (~0.8-1 s
# at sf0.1 — the measured r16 "streaming floor": topk drained 5 batches in
# 4.0 s over only 100k rows), so replaying the SAME fixture through 4
# batches instead of 2 buys nothing but 2 extra floors.  Two batches keep
# everything these ops exist to demonstrate — state crossing a micro-batch
# boundary, cross-batch monotone emissions, crash-resume between batches —
# and the final results are bit-identical at ANY split by construction
# (each op's docstring states the invariance argument; the batch oracles
# never see the split).  NOT applied to ops whose batch structure is
# semantic: q_stream_late_audit / q_stream_drift_psi (the oracle mirrors
# the ntile replay), q_stream_dim_join (dim updates between batches),
# q_stream_catalog_sink (per-batch commit lineage).  At 100 TB batch count
# is workload-driven (file arrival rate), not this harness constant.
REPLAY_SPLITS = 2


def _stream_events(spark, sf_dir):
    """readStream over events.parquet with the same ts normalization as the
    batch loader (INT64 nanos; io.load_table docstring).

    The file source wants a directory, so the single fixture file is exposed
    through a scratch dir via symlink (testdata stays untouched). Event time
    is TIMESTAMP (LTZ): watermarks reject TIMESTAMP_NTZ; with the session
    timezone pinned to UTC the rendered values equal the batch NTZ ones.
    """
    src = os.path.join(sf_dir, "events.parquet")
    d = scratch_dir(sf_dir, "stream_src")
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    raw_schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(raw_schema).parquet(d)
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    else:
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


class _state_parallelism:
    """Scope a lower shuffle/state parallelism to one streaming run.

    Each stateful partition owns a state-store instance, and store init
    dominates micro-benchmarks (measured: 1h-window agg 2.2s at 32 stores
    vs 1.1s at 4). Production sizing: partitions ~ key cardinality / target
    state per store — fixed at plan time because the checkpoint pins it.
    """

    def __init__(self, spark, n: int = 8):
        self.spark, self.n = spark, str(n)

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", self.n)

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def _run_memory(spark, sdf, mode: str, with_progress: bool = False):
    """Execute a streaming DF to completion into a memory sink; return the
    result as a batch DataFrame.  with_progress=True also returns the
    query's progress events (one per micro-batch) so callers whose oracle
    hard-codes batch structure can assert it loudly (r14 ADVICE)."""
    name = f"icsb_stream_{next(_uid)}"
    with _state_parallelism(spark):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = list(q.recentProgress)
    if with_progress:
        return spark.table(name), progress
    return spark.table(name)


def _run_foreach_batch(spark, sdf, mode: str, sink: str):
    """Execute a streaming DF via foreachBatch into a parquet scratch sink
    (the pattern for sinks/modes the memory sink does not support)."""
    if os.path.exists(sink):
        shutil.rmtree(sink)
    with _state_parallelism(spark):
        q = (
            sdf.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(sink)
            )
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink)


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark, sf_dir):
    """Tumbling 1-hour count by event_type — real streaming aggregation
    (complete mode), equal to the batch answer once the source drains."""
    sdf = _stream_events(spark, sf_dir)
    agg = sdf.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = _run_memory(spark, agg, "complete")
    return out.select(
        F.col("window.start").cast("string").alias("window_start"), "event_type", "n"
    )


@query(
    "q_stream_sliding",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL 15 MINUTE, ts)
                - k.k * INTERVAL 15 MINUTE AS VARCHAR) AS window_start,
           event_type, count(*) AS n
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark, sf_dir):
    """Sliding 1-hour window every 15 minutes (each event lands in exactly
    four windows). Same window() function batch/stream."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").cast("string").alias("window_start"),
            "event_type",
            "n",
        )
    )


@query(
    "q_stream_session",
    oracle="""
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), y AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start, count(*) AS n
    FROM y GROUP BY user_id, sid
    """,
)
def q_stream_session(spark, sf_dir):
    """Session windows with a 30-minute gap per user (session_window();
    oracle reproduces the gaps-and-islands equivalent)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").cast("string").alias("session_start"),
            "n",
        )
    )


@query(
    "q_stream_watermark",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           count(*) AS n, round(sum(value), 4) AS total
    FROM events GROUP BY 1
    """,
)
def q_stream_watermark(spark, sf_dir):
    """Watermarked streaming aggregation: withWatermark('ts', 10 minutes)
    bounds window state. With the backfill source fully ordered-in-one-batch
    nothing is late, so the drained result equals the batch answer — the op
    verifies the watermark API path and state wiring."""
    sdf = _stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = sdf.groupBy(F.window("ts", "1 hour")).agg(
        F.count("*").alias("n"), r4(F.sum("value")).alias("total")
    )
    out = _run_memory(spark, agg, "complete")
    return out.select(
        F.col("window.start").cast("string").alias("window_start"), "n", "total"
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_id, min(event_type) AS event_type
    FROM events GROUP BY event_id
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Streaming dedup by event_id within the watermark horizon — the
    standard exactly-once repair for at-least-once sources."""
    sdf = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = sdf.dropDuplicates(["event_id"]).select("event_id", "event_type")
    return _run_memory(spark, deduped, "append")


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState: a per-user
    running (count, sum) updated each micro-batch; emitted state after the
    single backfill batch equals the batch aggregate."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    sdf = _stream_events(spark, sf_dir)
    stateful = sdf.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = scratch_dir(sf_dir, "stream_stateful")
    return _run_foreach_batch(spark, stateful, "update", sink)


def _max_gap_fold(state_tuple, pdfs):
    """q_stream_transform_state's per-batch state fold, module-level so
    the unit suite can pin its algebra without a streaming harness.  Vectorized: within a
    batch the gaps are one np.diff over the sorted stamps; only the
    boundary gap touches the carried (last_ts, n, max_gap) state."""
    import numpy as np

    last_ts, n, max_gap = state_tuple
    for pdf in pdfs:
        if not len(pdf):
            continue
        # pin the epoch unit: Arrow hands pandas ns-resolution stamps
        us = np.sort(
            pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
            // 1000
        )
        cand = int(np.diff(us).max()) if len(us) > 1 else None
        if last_ts is not None:
            boundary = int(us[0]) - last_ts
            cand = boundary if cand is None else max(cand, boundary)
        if cand is not None and (max_gap is None or cand > max_gap):
            max_gap = cand
        last_ts = int(us[-1])
        n += len(us)
    return last_ts, n, max_gap


@query(
    "q_stream_transform_state",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts,
             date_diff('microsecond',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) AS gap
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(gap) AS BIGINT) AS max_gap_us
    FROM g GROUP BY user_id
    """,
)
def q_stream_transform_state(spark, sf_dir):
    """Custom stateful operator with CROSS-BATCH event-time state: per
    user, the running event count and the MAXIMUM inter-event gap — a
    feature whose value depends on state crossing micro-batch boundaries
    (the gap between the last event of batch k and the first of batch
    k+1 must be seen), so it exercises exactly what the state store
    exists for.  The source is range-split on ts into REPLAY_SPLITS
    mtime-ordered files so availableNow replays time-ordered
    micro-batches; each batch
    sorts by (ts, event_id) inside the processor and folds into the
    (last_ts, n, max_gap) state.  Gap arithmetic is integer microseconds
    end-to-end, and a per-user max over sorted timestamps is invariant
    to equal-ts tiebreaks, so the batch oracle (lag window) matches
    exactly.  Update-mode sink emits one row per (user,
    batch-with-activity); both emitted features are monotone
    nondecreasing, so the final state is a plain max — the standard
    upsert-sink collapse (q_stream_upsert's MERGE shape).

    API: ``applyInPandasWithState`` folding each batch into the
    (last_ts, n, max_gap) state with the module-level ``_max_gap_fold``.
    It runs on every platform; Spark 4's ``transformWithStateInPandas``
    would need the ``protobuf`` package for its state-server wire format.

    Reference scope: no streaming in the reference facade
    (api/router/router.go:9-55); state-API sibling of q_stream_stateful
    (applyInPandasWithState running totals) and q_stream_session_features
    (session_window)."""
    import glob as _glob

    import pandas as pd

    wh = scratch_dir(sf_dir, "stream_transform_state")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
    )
    # time-ordered micro-batches: range-split on ts, mtimes ascending in
    # range order (part file names follow the range partition order);
    # REPLAY_SPLITS batches — the gap fold is split-invariant (state
    # carries last_ts across every boundary), see the constant's rationale
    ev.repartitionByRange(REPLAY_SPLITS, "ts").write.mode("overwrite").parquet(src)
    for i, p in enumerate(sorted(_glob.glob(os.path.join(src, "part-*.parquet")))):
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        cur = state.get if state.exists else (None, 0, None)
        last_ts, n, max_gap = _max_gap_fold(cur, pdfs)
        state.update((last_ts, n, max_gap))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_gap_us": [max_gap],
            }
        )

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sdf.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, max_gap_us long",
        stateStructType="last_ts long, n long, max_gap long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = os.path.join(wh, "sink")
    result = _run_foreach_batch(spark, out, "update", sink)
    # upsert-collapse: both features are monotone, the final state is max
    return result.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_gap_us").alias("max_gap_us"),
    )


@query(
    "q_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           CAST(p.ts AS VARCHAR) AS purchase_ts, CAST(c.ts AS VARCHAR) AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def q_stream_join(spark, sf_dir):
    """Stream-stream inner join: purchases joined to the same user's clicks
    in the preceding hour. Both sides are watermarked so the state store
    evicts rows older than the time bound — the join state stays O(window),
    not O(stream). Drained with availableNow, the result equals the batch
    join (oracle)."""
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """user_id = c_user_id
               AND click_ts >= purchase_ts - INTERVAL 1 HOUR
               AND click_ts <= purchase_ts"""
        ),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.col("purchase_ts").cast("string").alias("purchase_ts"),
        F.col("click_ts").cast("string").alias("click_ts"),
    )
    return _run_memory(spark, joined, "append")


@query(
    "q_stream_join_outer",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           CAST(p.ts AS VARCHAR) AS purchase_ts, CAST(c.ts AS VARCHAR) AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def q_stream_join_outer(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER join (VERDICT r10 item 6):
    purchases joined to the same user's clicks in the preceding hour,
    with purchases that saw NO click emitted as NULL-padded rows — the
    first streaming surface whose ANSWER depends on watermark semantics:
    an unmatched left row may only be emitted once the watermark proves
    no matching click can still arrive, at which point its state is
    evicted (state stays O(window), and the NULL side is exactly the
    batch anti-join remainder).

    Emission mechanics the op must drive explicitly: Spark updates the
    watermark at micro-batch BOUNDARIES from the previous batch's max
    event time, and evicted unmatched rows are emitted by a LATER batch
    execution (here the trailing no-data micro-batch availableNow runs
    for exactly this purpose).  A backfill whose watermark ends below
    max event time would withhold the tail's NULL rows forever, so the
    source is augmented with one far-future sentinel row per stream
    (max ts + 4h / + 8h, past the 2h delay) that pushes the final
    watermark beyond every real purchase.  Sentinels ride negative
    user_ids (they can never equi-match a real row) and are filtered
    from the DRAINED BATCH RESULT — NOT inside the streaming plan:
    Catalyst pushes a post-join `user_id >= 0` down through the
    watermark node into the left scan, which silently drops the sentinel
    before it can advance the watermark and reopens the withheld-tail
    bug (measured: 6 NULL rows short at sf0.01).  With the sentinels
    flowing, the drained result equals the batch LEFT JOIN oracle
    exactly.

    Reference scope: no streaming in the reference facade
    (api/router/router.go:9-55); watermark-eviction sibling of
    q_stream_join (inner) and q_stream_watermark (late-row drop)."""
    wh = scratch_dir(sf_dir, "stream_join_outer")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]  # bounded 1-row pull

    def _sentinel(hours: int, base: int):
        return spark.createDataFrame(
            [
                (base, -1, "purchase"),
                (base + 1, -2, "click"),
            ],
            "event_id long, user_id long, event_type string",
        ).select(
            "event_id",
            "user_id",
            "event_type",
            (F.lit(mx) + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
        )

    ev.unionByName(_sentinel(4, -10)).unionByName(_sentinel(8, -20)).write.mode(
        "overwrite"
    ).parquet(src)

    sdf = spark.readStream.schema(ev.schema).parquet(src)
    purchases = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        sdf.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """user_id = c_user_id
               AND click_ts >= purchase_ts - INTERVAL 1 HOUR
               AND click_ts <= purchase_ts"""
        ),
        "leftOuter",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.col("purchase_ts").cast("string").alias("purchase_ts"),
        F.col("click_ts").cast("string").alias("click_ts"),
    )
    # sentinel filter on the DRAINED batch result (see docstring: inside
    # the streaming plan it would push below the watermark node).  Keyed
    # on the sentinel's own negative event_id — NOT user_id, which is
    # NULL-able on real purchases and NULL never matches a click, so a
    # NULL-user purchase is a legitimate unmatched row the batch LEFT
    # JOIN keeps (caught by tools/perturbed_check.py's NULL injection)
    return _run_memory(spark, joined, "append").filter(
        F.col("purchase_id") >= 0
    )


@query(
    "q_stream_join_full",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           coalesce(p.user_id, c.user_id) AS user_id,
           CAST(p.ts AS VARCHAR) AS purchase_ts, CAST(c.ts AS VARCHAR) AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def q_stream_join_full(spark, sf_dir):
    """Watermarked stream-stream FULL OUTER join: q_stream_join_outer's
    completion — clicks that preceded NO purchase within the next hour
    ALSO emit NULL-padded rows, so BOTH state stores evict-and-emit on
    watermark passage (the left side waits for the click watermark to
    clear purchase_ts, the right side for the purchase watermark to clear
    click_ts + 1h).  Same sentinel + drained-result-filter mechanics as
    the left-outer op (see its docstring for the watermark-starvation
    trap); the result filter keys on BOTH sides' sentinel event_ids,
    NULL-tolerantly, because every row now has at least one NULL id
    column.  Equals the batch FULL JOIN oracle exactly.

    Reference scope: no streaming in the reference facade
    (api/router/router.go:9-55); completes the stream-join family
    (q_stream_join inner, q_stream_join_outer left)."""
    wh = scratch_dir(sf_dir, "stream_join_full")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]  # bounded 1-row pull

    def _sentinel(hours: int, base: int):
        return spark.createDataFrame(
            [
                (base, -1, "purchase"),
                (base + 1, -2, "click"),
            ],
            "event_id long, user_id long, event_type string",
        ).select(
            "event_id",
            "user_id",
            "event_type",
            (F.lit(mx) + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
        )

    ev.unionByName(_sentinel(4, -10)).unionByName(_sentinel(8, -20)).write.mode(
        "overwrite"
    ).parquet(src)

    sdf = spark.readStream.schema(ev.schema).parquet(src)
    purchases = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        sdf.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """user_id = c_user_id
               AND click_ts >= purchase_ts - INTERVAL 1 HOUR
               AND click_ts <= purchase_ts"""
        ),
        "fullOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce("user_id", "c_user_id").alias("user_id"),
        F.col("purchase_ts").cast("string").alias("purchase_ts"),
        F.col("click_ts").cast("string").alias("click_ts"),
    )
    # NULL-tolerant sentinel filter on the drained result (each row has
    # at least one NULL id; sentinels carry negative event_ids)
    return _run_memory(spark, joined, "append").filter(
        F.coalesce(F.col("purchase_id") >= 0, F.lit(True))
        & F.coalesce(F.col("click_id") >= 0, F.lit(True))
    )


@query(
    "q_stream_dim_join",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             CASE WHEN sum(CAST(round(value * 10000) AS BIGINT)) >= 1000000 THEN 'high'
                  WHEN sum(CAST(round(value * 10000) AS BIGINT)) >= 500000 THEN 'mid'
                  ELSE 'low' END AS tier
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
      GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, round(e.value, 4) AS value, d.tier
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e
    LEFT JOIN dim d ON e.user_id = d.user_id
    """,
)
def q_stream_dim_join(spark, sf_dir):
    """Stream-STATIC enrichment join — the third member of the streaming
    join taxonomy (stream-stream inner/left/full are q_stream_join*):
    each micro-batch of the purchase stream joins a CATALOGED dimension
    table (per-user spend tier) that is RE-READ from the catalog inside
    foreachBatch, so a dim update between batches takes effect on the
    next batch — the canonical slowly-changing-dimension serving pattern
    (dim refresh needs no stream restart, unlike a plan-captured static
    DataFrame).  Stateless: no watermark, no state store; the dim is
    broadcast per batch, so the stream side never shuffles.

    Oracle = the batch LEFT JOIN against the same tier aggregation
    (NULL user_ids enrich to NULL tier — LEFT JOIN keeps them; the
    equi-join can never match NULL).

    Reference scope: the dim table lives in THIS repo's catalog
    (create/append = the reference's commit lineage,
    api/handlers/tables.go:150-227); no streaming in the reference
    facade (api/router/router.go:9-55)."""
    from ..catalog import Catalog, NestedField, Schema

    wh = scratch_dir(sf_dir, "stream_dim_join")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.round("value", 4).alias("value"))
    )

    # cataloged dimension: per-user spend tier
    cat = Catalog(os.path.join(wh, "warehouse"))
    cat.create_namespace(("db",))
    sch = Schema(
        0,
        [NestedField(1, "user_id", "long"), NestedField(2, "tier", "string")],
    )
    dim_tbl = cat.create_table(("db", "user_tier"), sch)
    # Tier thresholds compare an INTEGER e4-unit sum, not a double sum:
    # binary64 addition is non-associative, so Spark's partial-agg order
    # vs DuckDB's could flip `sum(value) >= 100` at a boundary (ADVICE
    # r11).  round(value*10000) is the identical binary64->integer map on
    # both engines; the long sum is then order-independent and exact.
    dim = (
        t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 10000).cast("long")).alias("spend_e4"))
        .select(
            "user_id",
            F.when(F.col("spend_e4") >= 100 * 10000, "high")
            .when(F.col("spend_e4") >= 50 * 10000, "mid")
            .otherwise("low")
            .alias("tier"),
        )
    )
    dim_tbl.append(dim)

    # stream the purchases in multiple micro-batches
    src = os.path.join(wh, "src")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    sink = os.path.join(wh, "sink")

    def enrich(batch_df, _batch_id):
        # fresh catalog read per batch: dim updates apply next batch
        d = cat.load_table(("db", "user_tier")).df(spark)
        batch_df.join(F.broadcast(d), "user_id", "left").select(
            "event_id", "user_id", "value", "tier"
        ).write.mode("append").parquet(sink)

    with _state_parallelism(spark):
        q = (
            sdf.writeStream.foreachBatch(enrich)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink)


@query(
    "q_stream_catalog_sink",
    oracle="""
    SELECT event_id, user_id, event_type, round(value, 4) AS value
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_stream_catalog_sink(spark, sf_dir):
    """Streaming ingest INTO a cataloged table: the source is split into 4
    files and streamed with maxFilesPerTrigger=1, and each micro-batch
    commits one append snapshot via the optimistic CAS protocol — the
    literal realization of 'micro-batch append = snapshot commit'
    (reference commit lineage, api/handlers/tables.go:150-227). The final
    table contents equal the batch answer; the snapshot count equals the
    number of micro-batches."""
    from ..catalog import Catalog, NestedField, Schema

    wh = scratch_dir(sf_dir, "stream_catalog_sink")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)

    # split the source into 4 files so availableNow yields 4 micro-batches
    src_dir = os.path.join(wh, "src")
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value")
    )
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)

    cat = Catalog(os.path.join(wh, "warehouse"))
    cat.create_namespace(("db",))
    sch = Schema(
        0,
        [
            NestedField(1, "event_id", "long"),
            NestedField(2, "user_id", "long"),
            NestedField(3, "event_type", "string"),
            NestedField(4, "value", "double"),
        ],
    )
    cat.create_table(("db", "purchases"), sch)

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def commit_batch(batch_df, _batch_id):
        cat.load_table(("db", "purchases")).append(batch_df)

    q = (
        sdf.writeStream.foreachBatch(commit_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    tbl = cat.load_table(("db", "purchases"))
    assert len(tbl.metadata["snapshots"]) >= 2  # one commit per micro-batch
    return tbl.df(spark)


@query(
    "q_stream_catalog_source",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice,
           CASE WHEN o_orderkey <= 100 THEN 1 ELSE 2 END AS batch_snapshot
    FROM orders WHERE o_orderkey >= 1 AND o_orderkey <= 200
    """,
)
def q_stream_catalog_source(spark, sf_dir):
    """Streaming SOURCE over a cataloged table (incremental append scan):
    each append snapshot becomes one micro-batch of exactly its added rows,
    offsets checkpoint per snapshot. The oracle checks the batch boundary:
    rows are tagged with the snapshot id whose batch delivered them, which
    must equal the snapshot that appended them (keys 1-100 -> snapshot 1,
    101-200 -> snapshot 2). Dual of q_stream_catalog_sink."""
    from ..catalog import Catalog, NestedField, Schema
    from .catalog_source import CatalogStreamReader

    wh = scratch_dir(sf_dir, "stream_catalog_source")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)
    cat = Catalog(os.path.join(wh, "warehouse"))
    cat.create_namespace(("db",))
    sch = Schema(
        0,
        [
            NestedField(1, "o_orderkey", "long"),
            NestedField(2, "o_custkey", "long"),
            NestedField(3, "o_totalprice", "double"),
        ],
    )
    tbl = cat.create_table(("db", "orders_src"), sch)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tbl = tbl.append(orders.filter((F.col("o_orderkey") >= 1) & (F.col("o_orderkey") <= 100)))
    tbl.append(orders.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)))

    reader = CatalogStreamReader(cat, ("db", "orders_src"), os.path.join(wh, "ckpt"))
    batches = []
    reader.run_available_now(
        spark, lambda df, sid: batches.append(df.withColumn("batch_snapshot", F.lit(sid)))
    )
    assert len(batches) == 2  # one micro-batch per append snapshot
    out = batches[0]
    for b in batches[1:]:
        out = out.union(b)
    return out.select(
        "o_orderkey", "o_custkey",
        F.round("o_totalprice", 4).alias("o_totalprice"),
        F.col("batch_snapshot").cast("long").alias("batch_snapshot"),
    )


@query(
    "q_stream_changelog",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice,
           'insert' AS _change_type,
           CASE WHEN o_orderkey <= 100 THEN 1 ELSE 2 END AS batch_snapshot
    FROM orders WHERE o_orderkey >= 1 AND o_orderkey <= 200
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice,
           'delete' AS _change_type, 3 AS batch_snapshot
    FROM orders
    WHERE o_orderkey >= 1 AND o_orderkey <= 200 AND o_totalprice < 50000.0
    """,
)
def q_stream_changelog(spark, sf_dir):
    """CDC changelog over a cataloged table: appends stream as inserts,
    a merge-on-read DELETE streams as exact row retractions (its position
    tuples resolved back to rows) — the Iceberg changelog-scan shape. The
    oracle reconstructs all three batches, value-checking both the rows
    and which snapshot delivered them."""
    from ..catalog import Catalog, NestedField, Schema
    from .catalog_source import CatalogStreamReader

    wh = scratch_dir(sf_dir, "stream_changelog")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)
    cat = Catalog(os.path.join(wh, "warehouse"))
    cat.create_namespace(("db",))
    tbl = cat.create_table(
        ("db", "orders_c"),
        Schema(0, [NestedField(1, "o_orderkey", "long"),
                   NestedField(2, "o_totalprice", "double")]),
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tbl = tbl.append(orders.filter((F.col("o_orderkey") >= 1) & (F.col("o_orderkey") <= 100)))
    tbl = tbl.append(orders.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)))
    tbl.delete_where(spark, "o_totalprice < 50000.0", mode="merge-on-read")

    reader = CatalogStreamReader(cat, ("db", "orders_c"), os.path.join(wh, "ckpt"))
    batches = []
    reader.run_changelog(
        spark, lambda df, sid: batches.append(df.withColumn("batch_snapshot", F.lit(sid)))
    )
    assert len(batches) == 3
    out = batches[0]
    for b in batches[1:]:
        out = out.union(b)
    return out.select(
        "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"),
        "_change_type", F.col("batch_snapshot").cast("long").alias("batch_snapshot"),
    )


@query(
    "q_stream_upsert",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(CASE WHEN o_orderkey > 50 THEN o_totalprice * 1.1
                      ELSE o_totalprice END, 4) AS o_totalprice
    FROM orders WHERE o_orderkey >= 1 AND o_orderkey <= 150
    """,
)
def q_stream_upsert(spark, sf_dir):
    """Exactly-once streaming UPSERT into a cataloged table: foreachBatch
    applies each micro-batch as MERGE INTO, recording the batch id in the
    snapshot summary ATOMICALLY with the commit
    (``merge_into(snapshot_summary=...)``). Replayed batches — Structured
    Streaming's failure mode, since foreachBatch is at-least-once — are
    detected via ``last_committed_batch_id`` and skipped, which the query
    proves by re-applying the final batch and asserting no new snapshot.

    Two ordered waves: keys 1..100 at original price, then 51..150 at
    price*1.1 (updates 51..100, inserts 101..150). The oracle is the
    final CDC-applied state over the fixture."""
    from ..catalog import Catalog, NestedField, Schema

    wh = scratch_dir(sf_dir, "stream_upsert")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double")
    )
    wave1 = orders.filter((F.col("o_orderkey") >= 1) & (F.col("o_orderkey") <= 100))
    wave2 = (
        orders.filter((F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 150))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    # one file per wave, mtime + path order both increasing so the file
    # source delivers them as ordered micro-batches
    src_dir = os.path.join(wh, "src")
    for i, wave in enumerate((wave1, wave2)):
        d = os.path.join(src_dir, f"wave{i}")
        wave.coalesce(1).write.mode("overwrite").parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1_000_000 + i * 60, 1_000_000 + i * 60))

    cat = Catalog(os.path.join(wh, "warehouse"))
    cat.create_namespace(("db",))
    sch = Schema(
        0,
        [
            NestedField(1, "o_orderkey", "long"),
            NestedField(2, "o_custkey", "long"),
            NestedField(3, "o_totalprice", "double"),
        ],
    )
    cat.create_table(("db", "orders_up"), sch)
    ident = ("db", "orders_up")

    def commit_batch(batch_df, batch_id):
        tbl = cat.load_table(ident)
        last = tbl.last_committed_batch_id("orders_up_sink")
        if last is not None and batch_id <= last:
            return  # replayed batch: already committed exactly once
        tbl.merge_into(
            spark,
            batch_df,
            "o_orderkey",
            snapshot_summary={
                "streaming.sink-id": "orders_up_sink",
                "streaming.batch-id": batch_id,
            },
        )

    sdf = (
        spark.readStream.schema(wave1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src_dir, "*"))
    )
    q = sdf.writeStream.foreachBatch(commit_batch).trigger(availableNow=True).start()
    q.awaitTermination()

    tbl = cat.load_table(ident)
    n_snaps = len(tbl.metadata["snapshots"])
    assert tbl.last_committed_batch_id("orders_up_sink") == 1
    # simulate foreachBatch redelivery of the last batch after a failure:
    # the sink must recognize the committed id and skip — no new snapshot
    commit_batch(wave2, 1)
    assert len(cat.load_table(ident).metadata["snapshots"]) == n_snaps
    return tbl.df(spark).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


def _incremental_gate_oracle() -> str:
    from ..llm.dedup import _incremental_oracle

    return _incremental_oracle()


@query("q_stream_ingest_gate", oracle=_incremental_gate_oracle())
def q_stream_ingest_gate(spark, sf_dir):
    """STREAMING ingest gate: the day's document delta arrives as a
    stream and every micro-batch is admitted against the STATIC corpus
    index — the deployment shape of q_dedup_incremental, whose verdict
    (and oracle) this op reproduces exactly through the streaming path.

    Mechanics: the corpus side (banded MinHash signatures + distinct md5
    set, doc_id % 5 <> 0) is computed once and localCheckpointed — in
    production it IS the materialized q_dedup_index table, loaded not
    built. The delta (doc_id % 5 == 0) streams from a file source;
    foreachBatch signatures each micro-batch (|delta| docs, not the
    corpus), runs the same asymmetric band join + exact-hash join via the
    shared :func:`~..llm.dedup._candidate_pairs` /
    :func:`~..llm.dedup._ingest_verdict` helpers, and appends verdicts to
    the sink. State is bounded: the stream holds no aggregation state at
    all — every batch joins against the static index, so watermarks are
    unnecessary and a 100 TB/day delta shards by file."""
    import shutil

    from ..llm.dedup import (
        _candidate_pairs,
        _ingest_verdict,
        _signature_bands,
    )

    d_all = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    corpus = d_all.filter((F.col("doc_id") % 5) != 0)
    corpus_bands = _signature_bands(corpus).localCheckpoint()
    corpus_h = (
        corpus.select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("in_corpus", F.lit(1))
        .localCheckpoint()
    )

    src = os.path.join(sf_dir, "documents.parquet")
    d = scratch_dir(sf_dir, "stream_gate_src")
    link = os.path.join(d, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    sink = os.path.join(scratch_dir(sf_dir, "stream_gate"), "out")
    if os.path.exists(sink):
        shutil.rmtree(sink)

    def admit(batch_df, _batch_id):
        b = batch_df.filter(
            F.col("text").isNotNull() & ((F.col("doc_id") % 5) == 0)
        )
        near = (
            _candidate_pairs(_signature_bands(b), corpus_bands, 0.5)
            .select("doc_a", "doc_b")
            .distinct()
            .groupBy("doc_a")
            .agg(F.count("*").alias("n_near"))
            .withColumnRenamed("doc_a", "doc_id")
        )
        out = _ingest_verdict(
            b.select("doc_id", F.md5("text").alias("h")), corpus_h, near
        )
        out.write.mode("append").parquet(sink)

    schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(schema).parquet(d)
    with _state_parallelism(spark):
        q = (
            sdf.writeStream.foreachBatch(admit)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink)


@query(
    "q_stream_wap",
    oracle="""
    SELECT event_id, user_id, event_type, round(value, 4) AS value
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
      AND event_id % 7 <> 0
    """,
)
def q_stream_wap(spark, sf_dir):
    """Streaming write-audit-publish: every micro-batch stages on its OWN
    branch, an audit gate (here: no NULL values — rows with NULL value are
    poison) decides per batch, and only clean batches fast_forward into
    main; dirty batches leave their branch unpublished and main never sees
    a single bad row, even transiently. The streaming composition of
    q_wap_publish with q_stream_catalog_sink's exactly-once commit shape.

    At 100 TB/day this is the production ingest gate for tables with
    read-side SLOs: data lands once (branch append), validation runs
    against real committed files, and the publish is an O(1) metadata
    swap per batch — a failed audit quarantines exactly one batch without
    stalling the stream or dirtying readers."""
    from ..catalog import Catalog, NestedField, Schema

    wh = scratch_dir(sf_dir, "stream_wap")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)

    src_dir = os.path.join(wh, "src")
    ev = t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value")
    )
    # one source file carries synthesized poison (every 7th event's value
    # nulled), three are clean — exactly one audit fails, three publish
    clean = ev.filter(F.col("event_id") % 7 != 0).repartition(3)
    poison = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "value", F.lit(None).cast("double")
    )
    clean.write.mode("overwrite").parquet(src_dir)
    poison.write.mode("append").parquet(src_dir)

    cat = Catalog(os.path.join(wh, "warehouse"))
    cat.create_namespace(("db",))
    sch = Schema(
        0,
        [
            NestedField(1, "event_id", "long"),
            NestedField(2, "user_id", "long"),
            NestedField(3, "event_type", "string"),
            NestedField(4, "value", "double"),
        ],
    )
    cat.create_table(("db", "purchases_wap"), sch)
    outcomes: list[tuple[int, bool]] = []

    def wap_batch(batch_df, batch_id):
        branch = f"audit-{batch_id}"
        tbl = cat.load_table(("db", "purchases_wap")).append(
            batch_df, branch=branch
        )
        staged = tbl.df(spark, snapshot_id=tbl.snapshot_for_ref(branch))
        n_bad = staged.filter(F.col("value").isNull()).count()
        if n_bad == 0:
            tbl.fast_forward(branch)
            outcomes.append((batch_id, True))
        else:
            outcomes.append((batch_id, False))  # branch stays unpublished

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(wap_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    published = [b for b, ok in outcomes if ok]
    rejected = [b for b, ok in outcomes if not ok]
    assert len(rejected) >= 1, "the poison batch must fail its audit"
    assert len(published) >= 2, "clean batches must publish"
    tbl = cat.load_table(("db", "purchases_wap"))
    out = tbl.df(spark)
    assert out.filter(F.col("value").isNull()).count() == 0
    return out


@query(
    "q_stream_hll",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merged_within_5pct
    FROM events GROUP BY event_type
    """,
)
def q_stream_hll(spark, sf_dir):
    """Streaming distinct-users via MERGEABLE sketches: each micro-batch
    reduces to one fixed-size HLL sketch per event type (foreachBatch),
    the per-batch sketches accumulate in a tiny state table, and the
    final per-type estimate is the UNION of the batch sketches — the only
    way to count distincts over an unbounded stream without per-key state
    (exact streaming distinct needs every user id in the state store;
    sketch state is |types| x ~1 KB regardless of user count).

    Oracle: sketch estimates aren't cross-engine-reproducible, so (as
    q_agg_hll_merge) the query self-asserts the merged estimate landed
    within 5% of the exact answer and emits the boolean with the exact
    count. The merge being associative ACROSS batches is exactly what the
    oracle's hash equality then certifies."""
    wh = scratch_dir(sf_dir, "stream_hll")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)
    src_dir = os.path.join(wh, "src")
    ev = t(spark, sf_dir, "events").select("event_type", "user_id")
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)

    batch_sketches: list = []

    def fold_batch(batch_df, _batch_id):
        rows = (
            batch_df.groupBy("event_type")
            .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch"))
            # driver-side bound: |event_types| sketch rows (~1 KB each)
            # per batch — sketch state, never row data
            .collect()
        )
        batch_sketches.append(rows)  # |types| x ~1 KB per batch

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(fold_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batch_sketches) >= 2, "must merge across micro-batches"

    flat = [(r.event_type, bytes(r.sketch)) for rows in batch_sketches for r in rows]
    sk = spark.createDataFrame(flat, "event_type string, sketch binary")
    merged = sk.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= F.lit(0.05) * F.col("exact_users")
        ).alias("merged_within_5pct"),
    )


@query(
    "q_stream_session_features",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, event_id, ts, event_type, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
           CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000
                AS BIGINT) AS dur_min,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0), 4)
             AS revenue,
           CAST(max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS INTEGER) AS had_error
    FROM sess GROUP BY user_id, sid ORDER BY user_id, start_ts
    """,
)
def q_stream_session_features(spark, sf_dir):
    """STREAMING twin of q_evt_session_features: the raw event stream is
    sessionized with ``session_window`` (30-min gap, per user), each
    session emits the SAME model-ready feature vector as the batch
    featurizer (start, whole-minute duration, event count, distinct-type
    count, purchase revenue, error flag), and every micro-batch MERGEs
    its session rows into a CATALOGED training-shard table keyed by
    (user, session start) — the q_stream_upsert exactly-once sink shape
    under the q_stream_session window shape, closing the last
    batch/stream asymmetry in the event family (VERDICT r9 item 8).

    Batch equivalence: session_window merges events whose gap is < 30
    min while the batch featurizer's break predicate is gap > 30 min —
    identical relations unless a gap is EXACTLY 30 min, which the
    fixture generator never emits (the q_stream_session precedent); the
    oracle is the batch gaps-and-islands SQL, so the driver check IS the
    batch-equivalence proof.  n_types uses collect_set size (streaming
    state cannot hold COUNT(DISTINCT); the set is bounded by the
    event-type vocabulary).

    Scale shape: session state is keyed (user_id, window) in the state
    store — one shuffle, the batch op's partitioning; the MERGE sink is
    file-pruned on the surrogate session key.  Complete output mode is
    the family's drained-backfill convention (q_stream_tumbling); a
    24/7 deployment would run append mode with a watermark, where the
    withheld tail is exactly the still-open sessions and each closed
    session merges once — the sink-side contract (idempotent MERGE on
    session key) is the same in both modes, which is what this op
    verifies end to end.

    Reference scope: no streaming surface in the reference (Go facade,
    api/router/router.go:9-55); [CAP] composition of the catalog's
    append-log contract with Spark Structured Streaming."""
    from ..catalog import Catalog, NestedField, Schema

    wh = scratch_dir(sf_dir, "stream_session_features")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)
    cat = Catalog(os.path.join(wh, "warehouse"))
    cat.create_namespace(("db",))
    cat.create_table(
        ("db", "session_features"),
        Schema(
            0,
            [
                NestedField(1, "skey", "string"),
                NestedField(2, "user_id", "long"),
                NestedField(3, "start_ts", "string"),
                NestedField(4, "dur_min", "long"),
                NestedField(5, "n_events", "long"),
                NestedField(6, "n_types", "long"),
                NestedField(7, "revenue", "double"),
                NestedField(8, "had_error", "int"),
            ],
        ),
    )
    ident = ("db", "session_features")

    sdf = _stream_events(spark, sf_dir)
    agg = (
        sdf.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.min("ts").alias("smin"),
            F.max("ts").alias("smax"),
            F.count("*").cast("bigint").alias("n_events"),
            F.size(F.collect_set("event_type")).cast("bigint").alias("n_types"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("event_type") == "purchase", F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("revenue"),
            F.max(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("int")
            .alias("had_error"),
        )
        .select(
            F.concat_ws(
                "|", F.col("user_id"), F.unix_micros(F.col("smin"))
            ).alias("skey"),
            "user_id",
            F.date_format("smin", "yyyy-MM-dd HH:mm:ss").alias("start_ts"),
            F.expr(
                "CAST((unix_micros(smax) - unix_micros(smin)) DIV 60000000"
                " AS BIGINT)"
            ).alias("dur_min"),
            "n_events",
            "n_types",
            "revenue",
            "had_error",
        )
    )

    def commit_batch(batch_df, batch_id):
        tbl = cat.load_table(ident)
        last = tbl.last_committed_batch_id("session_features_sink")
        if last is not None and batch_id <= last:
            return  # replayed batch: already committed exactly once
        tbl.merge_into(
            spark,
            batch_df,
            "skey",
            snapshot_summary={
                "streaming.sink-id": "session_features_sink",
                "streaming.batch-id": batch_id,
            },
        )

    with _state_parallelism(spark):
        q = (
            agg.writeStream.foreachBatch(commit_batch)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    return (
        cat.load_table(ident)
        .df(spark)
        .select(
            "user_id",
            "start_ts",
            "dur_min",
            "n_events",
            "n_types",
            "revenue",
            "had_error",
        )
        .orderBy("user_id", "start_ts")
    )


@query(
    "q_stream_kmv",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 11))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h),
    sk AS (SELECT event_type, h FROM rk WHERE rn <= 64),
    ex AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type)
    SELECT s.event_type, CAST(ex.n_exact AS BIGINT) AS n_exact,
           round(CASE WHEN count(*) < 64 THEN count(*) * 1.0
                      ELSE 63 * 17592186044416.0 / max(s.h) END, 4) AS kmv_est
    FROM sk s JOIN ex ON ex.event_type = s.event_type
    GROUP BY s.event_type, ex.n_exact
    ORDER BY s.event_type
    """,
)
def q_stream_kmv(spark, sf_dir):
    """STREAMING KMV sketch maintenance — q_agg_kmv's mergeability run
    for real: each micro-batch folds its per-type bottom-64 hash sketch
    into the carried sketch state (k-smallest-of-union), and the final
    stream-side estimate is checked EXACTLY against the batch oracle.
    KMV merge is associative and exact (unlike HLL, whose streaming twin
    q_stream_hll can only assert a 5% envelope), so incremental
    maintenance over any micro-batch split is bit-identical to the batch
    recompute — the property that lets 100 TB distinct-count dashboards
    update per-ingest-batch without ever rescanning history.

    State discipline: the carried state is |types| x 64 integers —
    SKETCH state, never row data (the q_stream_hll bounded-collect
    precedent); each batch contributes its own bottom-64 per type, so
    the per-batch collect is equally bounded.

    Reference scope: streaming ingest = the reference's append-commit
    lineage (api/handlers/tables.go:150-227); no sketch surface in the
    facade (api/router/router.go:9-55)."""
    from pyspark.sql import Window as W

    from ..operators.aggregates import KMV_K

    wh = scratch_dir(sf_dir, "stream_kmv")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_id", "user_id", "event_type")
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)

    state: dict[str, list[int]] = {}  # type -> sorted bottom-K hashes
    n_batches = [0]

    def fold(batch_df, _batch_id):
        rows = (
            batch_df.select(
                "event_type",
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 11),
                    16,
                    10,
                )
                .cast("long")
                .alias("h"),
            )
            .distinct()
            .withColumn(
                "rn",
                F.row_number().over(W.partitionBy("event_type").orderBy("h")),
            )
            .filter(F.col("rn") <= KMV_K)
            .collect()  # bounded: |types| x KMV_K sketch rows per batch
        )
        n_batches[0] += 1
        per: dict[str, set[int]] = {}
        for r in rows:
            per.setdefault(r.event_type, set()).add(r.h)
        for et, hs in per.items():
            merged = sorted(set(state.get(et, [])) | hs)
            state[et] = merged[:KMV_K]  # k-smallest-of-union

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert n_batches[0] >= 2, "must merge across micro-batches"

    sk = spark.createDataFrame(
        [(et, hs[-1], len(hs)) for et, hs in sorted(state.items())],
        "event_type string, hk long, m int",
    )
    ex = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    est = F.when(F.col("m") < KMV_K, F.col("m").cast("double")).otherwise(
        (KMV_K - 1) * F.lit(17592186044416.0) / F.col("hk")
    )
    return (
        ex.join(F.broadcast(sk), "event_type")
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.round(est, 4).alias("kmv_est"),
        )
        .orderBy("event_type")
    )


def _velocity_fold(state_tuple, pdfs, window_us: int):
    """q_stream_velocity's per-batch fold (module-level so the unit suite
    can pin its algebra without a streaming harness).  State carries the
    purchase stamps still inside the trailing window of the LAST seen
    stamp — bounded by per-user window activity, never history — plus
    the three monotone outputs.  Vectorized: bursts for a whole batch
    are one np.searchsorted over the carried+batch stamp array."""
    import numpy as np

    recent, max_burst, n_flagged, first_flag = state_tuple
    carried = np.asarray(list(recent or []), dtype="int64")
    # Drain EVERY Arrow chunk first: one micro-batch's group arrives as
    # multiple ~10k-row chunks with no cross-chunk ordering, so folding
    # chunk-by-chunk would silently break the sortedness searchsorted
    # needs for users with >10k purchases in a single file.
    parts = [
        pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000
        for pdf in pdfs
        if len(pdf)
    ]
    if not parts:
        return [int(x) for x in carried], max_burst, n_flagged, first_flag
    us = np.sort(np.concatenate(parts))
    allts = np.sort(np.concatenate([carried, us]))
    # Peer-INCLUSIVE burst per new stamp u: count of all stamps (carried
    # + this batch) in (u - window, u], side='right' so k purchases
    # sharing one microsecond all get burst k — exactly the RANGE frame
    # semantics of the batch oracle (duplicates are peers of CURRENT
    # ROW, not positions).  Order-independent of chunk arrival.
    lo = np.searchsorted(allts, us - window_us, side="left")
    hi = np.searchsorted(allts, us, side="right")
    bursts = hi - lo
    mb = int(bursts.max())
    if mb > max_burst:
        max_burst = mb
    hit = bursts >= 3
    n_flagged += int(hit.sum())
    if hit.any():
        t0 = int(us[hit][0])  # us is sorted: first hit is the earliest
        if first_flag is None or t0 < first_flag:
            first_flag = t0
    last = int(allts[-1])
    recent = [int(x) for x in allts[allts > last - window_us]]
    return recent, max_burst, n_flagged, first_flag


def _velocity_update(key, pdfs, state):
    """applyInPandasWithState update fn for the velocity rule — module
    level so the crash-resume test drives the EXACT production fold and
    state schema, not a test replica."""
    import pandas as pd

    from ..operators.events import VELOCITY_WINDOW_US

    cur = state.get if state.exists else ([], 0, 0, None)
    recent, mb, nf, ff = _velocity_fold(cur, pdfs, VELOCITY_WINDOW_US)
    state.update((recent, mb, nf, ff))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "max_burst": [mb],
            "n_flagged": [nf],
            "first_flag_us": [ff],
        }
    )


def _velocity_source(spark, sf_dir, src):
    """Write the purchase stream range-split on ts into REPLAY_SPLITS
    mtime-ordered files under ``src`` and return the file-stream DataFrame (availableNow
    replays time-ordered micro-batches, the q_stream_transform_state
    harness)."""
    import glob as _glob

    p = (
        t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    p.repartitionByRange(REPLAY_SPLITS, "ts").write.mode("overwrite").parquet(src)
    for i, f_ in enumerate(sorted(_glob.glob(os.path.join(src, "part-*.parquet")))):
        os.utime(f_, (1_000_000_000 + i, 1_000_000_000 + i))
    return (
        spark.readStream.schema(p.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _velocity_stateful(spark, sdf):
    """The stateful transform: per-user applyInPandasWithState over the
    purchase stream with the velocity fold."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return sdf.groupBy("user_id").applyInPandasWithState(
        _velocity_update,
        outputStructType="user_id long, max_burst long, n_flagged long,"
        " first_flag_us long",
        stateStructType="recent array<long>, max_burst long,"
        " n_flagged long, first_flag long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "q_stream_velocity",
    oracle=f"""
    WITH p AS (
      SELECT user_id, ts, epoch_us(ts) AS tus FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    w AS (
      SELECT user_id, ts,
             count(*) OVER (PARTITION BY user_id ORDER BY tus
                            RANGE BETWEEN 86400000000 PRECEDING
                                      AND CURRENT ROW) AS burst
      FROM p
    )
    SELECT user_id,
           CAST(max(burst) AS BIGINT) AS max_burst,
           CAST(count(CASE WHEN burst >= 3 THEN 1 END) AS BIGINT) AS n_flagged,
           min(CASE WHEN burst >= 3 THEN ts END) AS first_flag_ts,
           max(burst) >= 3 AS flagged
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def q_stream_velocity(spark, sf_dir):
    """STREAMING velocity rule — q_evt_velocity's trailing-24h purchase
    burst maintained INCREMENTALLY with cross-batch state: the carried
    per-user state is exactly the stamps still inside the trailing
    window of the newest stamp (plus three monotone outputs), so a
    burst straddling a micro-batch boundary is still counted — the case
    a stateless per-batch recompute silently misses, and the reason a
    100 TB/day fraud pipeline needs a state store at all.

    The source is range-split on ts into REPLAY_SPLITS mtime-ordered
    files so availableNow replays time-ordered micro-batches (the
    q_stream_transform_state harness); the fold is one vectorized
    np.searchsorted per batch; all time arithmetic is exact integer
    microseconds, so the stream-side result is value-hash-checked
    against the BATCH window oracle — not rows-only.  Update-mode
    emissions are monotone, so the final state is a plain max/min
    collapse (the q_stream_upsert shape).

    State discipline: stamps inside one 24 h window per user — bounded
    by window ACTIVITY (rate-limit scale), never by history.

    Reference scope: no streaming surface in the reference facade
    (api/router/router.go:9-55); stateful sibling of
    q_stream_transform_state (max-gap state) and the batch rule
    q_evt_velocity."""
    wh = scratch_dir(sf_dir, "stream_velocity")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")
    out = _velocity_stateful(spark, _velocity_source(spark, sf_dir, src))
    sink = os.path.join(wh, "sink")
    res = _run_foreach_batch(spark, out, "update", sink)
    # monotone emissions: final state per user is the max/min collapse
    return (
        res.groupBy("user_id")
        .agg(
            F.max("max_burst").alias("max_burst"),
            F.max("n_flagged").alias("n_flagged"),
            F.min("first_flag_us").alias("ff"),
        )
        .select(
            "user_id",
            "max_burst",
            "n_flagged",
            F.expr("timestamp_micros(ff)").alias("first_flag_ts"),
            (F.col("max_burst") >= 3).alias("flagged"),
        )
        .orderBy("user_id")
    )


def _bitmap_update(key, pdfs, state):
    """applyInPandasWithState update fn for the streaming bitmap: state is
    ONE long — the OR of all bits seen for this (event_type, word) key.
    Module level so the crash-resume discipline tests can reuse it."""
    import pandas as pd

    bits = state.get[0] if state.exists else 0
    for pdf in pdfs:
        for b in pdf["bit"]:
            bits |= int(b)
    state.update((bits,))
    # emit the POPCOUNT (monotone under OR even when bit 63 flips the
    # sign of the raw long) — the final collapse is a plain max
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "word": [key[1]],
            "nbits": [bin(bits & 0xFFFFFFFFFFFFFFFF).count("1")],
        }
    )


@query(
    "q_stream_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_stream_bitmap_distinct(spark, sf_dir):
    """STREAMING exact distinct via 64-bit bitmap state — q_agg_bitmap_
    distinct's mergeability run for real: each micro-batch ORs its ids'
    bits into per-(type, word) state-store entries, and the final
    stream-side count is checked EXACTLY against the batch oracle.  OR
    is associative/idempotent, so incremental maintenance over any
    micro-batch split (and any replay — exactly-once not required) is
    bit-identical to the batch recompute: the property that lets a
    100 TB/day dashboard keep EXACT distinct counts per ingest batch
    where HLL twins (q_stream_hll) can only assert an envelope.

    State discipline: one long per (type, word) key — |id_space|/64
    words spread across the state store's shuffle partitions, DISTRIBUTED
    state (unlike q_stream_kmv's driver-side sketch fold), never row
    data.  Emissions are monotone popcounts, so the final collapse is a
    plain max per key (the q_stream_upsert shape).

    The stateful fold is the JVM's own streaming hash aggregate
    (``bit_or`` in update mode) — OR'd bitmap words ARE Spark's native
    aggregation state, so the per-key fold never crosses the Python
    boundary (guide §4.1; r16: the applyInPandasWithState form paid one
    Python call per key per micro-batch — the identical fold and
    emissions, measured 2.5x slower — that API twin remains exercised by
    tests/test_analytics_ops.py::test_stream_bitmap_crash_resume via
    :func:`_bitmap_update`).

    Reference scope: streaming ingest = the reference's append-commit
    lineage (api/handlers/tables.go:150-227); no sketch surface in the
    facade (api/router/router.go:9-55)."""
    wh = scratch_dir(sf_dir, "stream_bitmap")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.expr("user_id DIV 64").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))"
            ).alias("bit"),
        )
    )
    ev.repartition(REPLAY_SPLITS).write.mode("overwrite").parquet(src)

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # update-mode emissions: every key touched by the batch emits its
    # cumulative OR; the popcount projection is stateless and rides the
    # same micro-batch, so the sink rows are value-identical to the
    # Python fold's (monotone nbits, final collapse = max per key).
    out = (
        sdf.groupBy("event_type", "word")
        .agg(F.bit_or("bit").alias("bits"))
        .select(
            "event_type",
            "word",
            F.bit_count("bits").cast("long").alias("nbits"),
        )
    )
    sink = os.path.join(wh, "sink")
    res = _run_foreach_batch(spark, out, "update", sink)
    return (
        res.groupBy("event_type", "word")
        .agg(F.max("nbits").alias("nbits"))
        .groupBy("event_type")
        .agg(F.sum("nbits").alias("n_users"))
        .orderBy("event_type")
    )


def _count_update(key, pdfs, state):
    """applyInPandasWithState update fn: running event count per
    (event_type, user_id) key — the minimal mergeable counter state."""
    import pandas as pd

    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame(
        {"event_type": [key[0]], "user_id": [key[1]], "n": [n]}
    )


STREAM_TOPK_K = 3


@query(
    "q_stream_topk",
    oracle=f"""
    WITH c AS (
      SELECT event_type, user_id, count(*) AS n
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type, user_id),
    r AS (
      SELECT event_type, user_id, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id) AS rk
      FROM c)
    SELECT event_type, CAST(rk AS BIGINT) AS rk, user_id,
           CAST(n AS BIGINT) AS n
    FROM r WHERE rk <= {STREAM_TOPK_K}
    ORDER BY event_type, rk
    """,
)
def q_stream_topk(spark, sf_dir):
    """STREAMING top-k heavy hitters — the live "most active accounts
    per event type" dashboard: per-(type, user) counts maintained in the
    state store across micro-batches, final top-{STREAM_TOPK_K} checked
    EXACTLY against the batch oracle.  Counting is associative, so the
    incremental result is bit-identical to a batch recompute at ANY
    micro-batch split — unlike sketch-based heavy-hitter structures
    (count-min, SpaceSaving) this trades memory (one long per active
    key) for exactness, the right call when the key space is
    user-bounded.

    State discipline: one long per (type, user) key, DISTRIBUTED across
    state-store partitions (the q_stream_bitmap_distinct shape);
    emissions are monotone counts so the collapse is max per key, then
    one |keys|-row window for the top-k.  The fold itself is the JVM's
    native streaming count in update mode — identical state layout and
    emissions, no Python boundary (guide §4.1; r16: the
    applyInPandasWithState form paid one Python call per active key per
    micro-batch over ~750k keys and measured ~3x slower; that API twin
    stays exercised by test_stream_topk_crash_resume via
    :func:`_count_update`).

    Reference scope: streaming ingest = the reference's append-commit
    lineage (api/handlers/tables.go:150-227); no analytics surface in
    the facade (api/router/router.go:9-55)."""
    from pyspark.sql import Window as W

    wh = scratch_dir(sf_dir, "stream_topk")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "user_id")
    )
    ev.repartition(REPLAY_SPLITS).write.mode("overwrite").parquet(src)

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = (
        sdf.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = os.path.join(wh, "sink")
    res = _run_foreach_batch(spark, out, "update", sink)
    final = res.groupBy("event_type", "user_id").agg(F.max("n").alias("n"))
    w = W.partitionBy("event_type").orderBy(F.desc("n"), "user_id")
    return (
        final.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STREAM_TOPK_K)
        .select("event_type", F.col("rk").cast("long").alias("rk"), "user_id", "n")
        .orderBy("event_type", "rk")
    )


LATE_MOD = 13          # event_id % 13 == 0 is the planted late tail (~7.7%)
LATE_DELAY_DAYS = 2    # withWatermark("ts", "2 days")
LATE_SPLIT = 4         # on-time replay files (ntile quartiles on (ts, id))


def _late_audit_source(spark, sf_dir, src: str):
    """Build the out-of-order replay source for q_stream_late_audit: the
    on-time rows (event_id % LATE_MOD != 0) split into LATE_SPLIT
    time-ordered, mtime-ordered files by ntile over (ts, event_id) — a
    DETERMINISTIC split both engines can reproduce (repartitionByRange
    boundaries are reservoir-sampled and oracle-inexpressible, the
    q_evt_power_users lesson) — then the LATE TAIL (event_id % LATE_MOD
    == 0, rows from EVERY day of the stream) planted as a single file
    that is LAST in both mtime and path order.

    The global-window ntile is fixture prep, not the measured plan: a
    production replay would land range files with RECORDED boundaries
    and the audit rule would read those boundaries instead."""
    import glob as _glob

    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    late = ev.filter(F.col("event_id") % LATE_MOD == 0)
    ontime = (
        ev.filter(F.col("event_id") % LATE_MOD != 0)
        .withColumn("q", F.ntile(LATE_SPLIT).over(W.orderBy("ts", "event_id")))
        .localCheckpoint()  # one ntile sort, not one per split file (r15)
    )
    os.makedirs(src, exist_ok=True)
    # ONE partitioned write materializes all {LATE_SPLIT} on-time replay
    # files (q=<i>/part-*.parquet, exactly one file per quartile via the
    # single-partition-per-key repartition), then each is renamed into the
    # flat mtime/path order the replay contract requires.  r16-OPT: the
    # previous loop ran {LATE_SPLIT} sequential coalesce(1) write jobs —
    # 4 full scans of the checkpointed frame, each serialized on one task;
    # this is one job, same bytes, same per-file row sets (row order
    # within a replay file is irrelevant: each micro-batch consumes the
    # whole file into an aggregate).
    tmp = src + "_build"
    ontime.repartition(LATE_SPLIT, "q").write.mode("overwrite").partitionBy(
        "q"
    ).parquet(tmp)
    for i in range(1, LATE_SPLIT + 1):
        parts = _glob.glob(os.path.join(tmp, f"q={i}", "*.parquet"))
        # Exactly one file per quartile by construction: repartition(N,"q")
        # pins each q to one partition and spark.sql.files.maxRecordsPerFile
        # is unset (a nonzero value would split the file; an empty ntile
        # bucket would produce NO q=<i> directory) — fail loudly if either
        # assumption breaks rather than unpacking a surprise (r16 ADVICE).
        assert len(parts) == 1, (
            f"replay split q={i}: expected exactly 1 parquet file, got "
            f"{len(parts)} — maxRecordsPerFile set, or empty ntile bucket?"
        )
        (part,) = parts
        dst = os.path.join(src, f"part-{i:05d}.parquet")
        os.replace(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    late.coalesce(1).write.mode("overwrite").parquet(tmp)
    (tail_part,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
    tail = os.path.join(src, "zz-late-tail.parquet")  # sorts after part-*
    os.replace(tail_part, tail)
    os.utime(tail, (1_000_000_100, 1_000_000_100))
    shutil.rmtree(tmp, ignore_errors=True)
    return ev


def _late_audit_stream(spark, src: str, schema):
    """The watermarked per-day aggregate over the replay source — shared
    by the registered query and the crash-resume proof."""
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return (
        sdf.withWatermark("ts", f"{LATE_DELAY_DAYS} days")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").alias("n_streamed"))
    )


@query(
    "q_stream_late_audit",
    oracle=f"""
    WITH e AS (SELECT event_id, ts FROM events),
    o AS (
      SELECT ts, ntile({LATE_SPLIT}) OVER (ORDER BY ts, event_id) AS q
      FROM e WHERE event_id % {LATE_MOD} != 0),
    wmd AS (SELECT max(ts) - INTERVAL {LATE_DELAY_DAYS} DAY AS w
            FROM o WHERE q <= {LATE_SPLIT - 1}),
    wmf AS (SELECT max(ts) - INTERVAL {LATE_DELAY_DAYS} DAY AS w FROM e),
    tot AS (
      SELECT date_trunc('day', ts) AS ws,
             count(*) AS n_total,
             count(CASE WHEN event_id % {LATE_MOD} != 0 THEN 1 END)
               AS n_ontime
      FROM e GROUP BY 1)
    SELECT CAST(CAST(ws AS TIMESTAMP) AS VARCHAR) AS window_start,
           CAST(CASE WHEN ws + INTERVAL 1 DAY <= wmd.w
                     THEN n_ontime ELSE n_total END AS BIGINT) AS n_streamed,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(n_total - CASE WHEN ws + INTERVAL 1 DAY <= wmd.w
                               THEN n_ontime ELSE n_total END AS BIGINT)
             AS n_dropped
    FROM tot CROSS JOIN wmd CROSS JOIN wmf
    WHERE ws + INTERVAL 1 DAY <= wmf.w
    ORDER BY window_start
    """,
)
def q_stream_late_audit(spark, sf_dir):
    """Streaming LATE-DATA observability (VERDICT r13 item 7): every
    production stream needs the dropped-late-rows ledger — silent
    watermark drops are how event pipelines lose data without an error.
    The source replays out of order ({LATE_SPLIT} time-quartile files in
    mtime order, then a planted late tail drawn from every day of the
    stream); the watermarked 1-day aggregate drops the tail rows whose
    window the watermark has already closed, and the audit joins the
    stream's emitted per-window counts against the batch totals to
    report streamed vs dropped per window.

    Watermark semantics pinned by measurement (SPARK-40925): LATE-RECORD
    FILTERING in micro-batch k uses the watermark that was OPERATING in
    batch k-1 (i.e. max event time through batch k-2, minus delay), while
    STATE EVICTION/emission uses the post-batch update — so the tail
    batch drops rows in windows closed by max(first {LATE_SPLIT - 1}
    on-time quartiles) - {LATE_DELAY_DAYS}d, and the emitted-window set
    is bounded by max(everything) - {LATE_DELAY_DAYS}d.  Both rules are
    exactly mirrored in the oracle (the ntile split makes the batch
    boundaries SQL-expressible); tail rows accepted into still-open
    windows are counted by those windows when they emit — which the
    n_streamed/n_dropped ledger shows directly.

    Scale shape: state is |open windows| rows (watermark-bounded — the
    point of the ledger); the audit join is |emitted windows| rows
    against a map-combined day-grain batch aggregate.  At 100 TB the
    plan is unchanged: the ledger costs one extra day-grain aggregate of
    the batch table, not a second stream.

    Reference scope: no streaming surface in the reference facade
    (api/router/router.go:9-55); observability sibling of
    q_stream_watermark (API wiring) and the q_dq_freshness batch audit."""
    wh = scratch_dir(sf_dir, "stream_late_audit")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")
    ev = _late_audit_source(spark, sf_dir, src)
    agg = _late_audit_stream(spark, src, ev.schema)
    out, progress = _run_memory(spark, agg, "append", with_progress=True)
    # ORACLE-STRUCTURE GUARD (r14 ADVICE): the oracle hard-codes the
    # micro-batch structure — maxFilesPerTrigger=1 over LATE_SPLIT
    # mtime-ordered on-time quartiles, then the late tail LAST — plus the
    # SPARK-40925 one-batch watermark lag.  Assert the replay actually ran
    # as that structure (per-batch input-row sequence == the quartile
    # sizes then the tail size) so a Spark batching/ordering change fails
    # HERE with a message, not downstream as a bare driver hash mismatch.
    n_total = ev.count()
    n_late = ev.filter(F.col("event_id") % LATE_MOD == 0).count()
    n_ontime = n_total - n_late
    base, extra = divmod(n_ontime, LATE_SPLIT)
    expected = [base + (1 if i < extra else 0) for i in range(LATE_SPLIT)] + [n_late]
    got = [int(p["numInputRows"]) for p in progress if int(p["numInputRows"]) > 0]
    # Explicit raise, not assert: this guard lives in the production query
    # path and must survive `python -O` (asserts are stripped — r16 ADVICE).
    if got != expected:
        raise RuntimeError(
            f"late-audit replay batch structure changed: per-batch input rows "
            f"{got} != expected quartiles+tail {expected} — the oracle's "
            f"batch-aligned drop rule no longer matches the stream"
        )
    streamed = out.select(
        F.col("window.start").cast("string").alias("window_start"),
        F.col("n_streamed").cast("long").alias("n_streamed"),
    )
    totals = (
        ev.groupBy(
            F.date_trunc("day", "ts").cast("string").alias("window_start")
        )
        .agg(F.count("*").alias("n_total"))
    )
    return (
        streamed.join(F.broadcast(totals), "window_start")
        .select(
            "window_start",
            "n_streamed",
            F.col("n_total").cast("long").alias("n_total"),
            (F.col("n_total") - F.col("n_streamed"))
            .cast("long")
            .alias("n_dropped"),
        )
        .orderBy("window_start")
    )


@query(
    "q_stream_topk_bounded",
    oracle=f"""
    WITH c AS (
      SELECT event_type, user_id, count(*) AS n
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type, user_id),
    r AS (
      SELECT event_type, user_id, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id) AS rk
      FROM c)
    SELECT event_type, CAST(rk AS BIGINT) AS rk, user_id,
           CAST(n AS BIGINT) AS n
    FROM r WHERE rk <= {STREAM_TOPK_K}
    ORDER BY event_type, rk
    """,
)
def q_stream_topk_bounded(spark, sf_dir):
    """BOUNDED-STATE streaming top-k (VERDICT r13 item 4's documented
    swap): q_stream_topk keeps one state-store entry per active (type,
    user) key, and SCALE.md measures its wall LINEAR IN KEYS (6.08x at
    x10) — the honest cost of exact per-key state.  This variant keeps
    ZERO cross-batch state: each micro-batch map-side-combines to its own
    partial-count changelog (foreachBatch, written idempotently under
    sink/batch=<id> so a crash-replay overwrites instead of double-
    counting — Spark's documented exactly-once foreachBatch recipe), and
    the finisher rolls the changelog up exactly.  Counting is
    associative, so the result is bit-identical to q_stream_topk and the
    batch oracle at ANY batch split — the shared oracle IS the swap's
    correctness contract.

    Why not a SpaceSaving/count-min shortlist + exact second pass: a
    sketch shortlist is provably top-k-complete only when the key
    distribution carries an N/C margin between the k-th and (k+1)-th
    counts; on unskewed keys (this fixture, and any near-uniform
    workload) it silently returns the WRONG top-k.  The changelog funnel
    has the same bounded-memory property — state is |batch's active
    keys| during one micro-batch, zero between batches, |keys|-bounded
    only in the landed changelog files where storage is cheap — and is
    exact unconditionally.  At 100 TB this is the production shape:
    stream pre-aggregates, the serving layer MERGEs partials (the
    reference's append-commit lineage, api/handlers/tables.go:150-227).

    Scale shape: per batch one map-combined aggregate of the batch's
    rows; finisher = one sum-rollup + a WindowGroupLimit top-{STREAM_TOPK_K}.
    No per-key Python state iteration — the applyInPandasWithState
    per-key Arrow-group floor (SCALE.md's measured 4-8 s) never engages."""
    from pyspark.sql import Window as W

    wh = scratch_dir(sf_dir, "stream_topk_bounded")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "user_id")
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = os.path.join(wh, "sink")

    def _partials(df, bid: int) -> None:
        # idempotent per-batch changelog: replayed batch ids OVERWRITE
        df.groupBy("event_type", "user_id").agg(
            F.count("*").alias("n")
        ).write.mode("overwrite").parquet(os.path.join(sink, f"batch={bid}"))

    with _state_parallelism(spark):
        q = (
            sdf.writeStream.foreachBatch(_partials)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    final = (
        spark.read.parquet(os.path.join(sink, "batch=*"))
        .groupBy("event_type", "user_id")
        .agg(F.sum("n").alias("n"))
    )
    w = W.partitionBy("event_type").orderBy(F.desc("n"), "user_id")
    return (
        final.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STREAM_TOPK_K)
        .select(
            "event_type",
            F.col("rk").cast("long").alias("rk"),
            "user_id",
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("event_type", "rk")
    )


# -- streaming drift gate (VERDICT r14 item 7) --------------------------------

PSI_BINS = 10        # fixed quantized value bins (edges 0, 50, ... 450+)
PSI_BIN_WIDTH = 50.0  # events.value spans ~0..490 on every fixture sf
PSI_REF_DAYS = 7     # pinned reference window: the stream's first week
PSI_SPLIT = 4        # replayed micro-batch files (ntile over (ts, event_id))
PSI_ALERT = 0.2      # the standard PSI action threshold


def _psi_bin(col):
    """Deterministic fixed-edge bin id: floor(value / width), top-clamped.
    The division and floor are pure functions of the stored double on both
    engines — no data-dependent edges to drift cross-engine."""
    return F.least(
        F.floor(col / PSI_BIN_WIDTH).cast("int"), F.lit(PSI_BINS - 1)
    )


def _psi_fold(counts: dict, n: int, ref: dict, rtot: int) -> float:
    """One micro-batch's PSI vs the pinned reference histogram, folded in
    FIXED bin order (0..PSI_BINS-1) with Laplace-smoothed shares — the
    summation order is deterministic (the r15 float-determinism
    convention), and the result is pre-rounded with the multiply-floor
    half-away form (= DuckDB's round(), the recurrence-family contract).
    Module-level so the crash-resume proof and unit tests drive the EXACT
    production fold."""
    import math

    psi = 0.0
    for b in range(PSI_BINS):
        p = (counts.get(b, 0) + 1.0) / (n + PSI_BINS)
        q = (ref.get(b, 0) + 1.0) / (rtot + PSI_BINS)
        psi += (p - q) * math.log(p / q)
    return math.copysign(math.floor(abs(psi) * 1e4 + 0.5) / 1e4, psi)


def _psi_source(spark, sf_dir, src: str):
    """Write the post-reference stream rows ({PSI_SPLIT} time-quantile
    files by ntile over (ts, event_id), mtime-ordered — the
    q_stream_late_audit deterministic-split discipline) and return the
    expected per-batch row counts for the structure guard."""
    import glob as _glob

    from pyspark.sql import Window as W

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            _psi_bin(F.col("value")).alias("bin"),
        )
    )
    srows = (
        ev.filter(F.dayofmonth("ts") > PSI_REF_DAYS)
        .withColumn("q", F.ntile(PSI_SPLIT).over(W.orderBy("ts", "event_id")))
        .localCheckpoint()  # one ntile sort, not one per split file
    )
    n_stream = srows.count()
    base, extra = divmod(n_stream, PSI_SPLIT)
    expected = [base + (1 if i < extra else 0) for i in range(PSI_SPLIT)]
    os.makedirs(src, exist_ok=True)
    # ONE partitioned write for all {PSI_SPLIT} replay files (the
    # q_stream_late_audit r16-OPT single-job build): repartition by q
    # pins one file per quantile, renames restore the flat mtime/path
    # replay order, row order within a file is irrelevant to the
    # per-batch bin aggregate.
    tmp = src + "_build"
    srows.select("bin", "q").repartition(PSI_SPLIT, "q").write.mode(
        "overwrite"
    ).partitionBy("q").parquet(tmp)
    for i in range(1, PSI_SPLIT + 1):
        parts = _glob.glob(os.path.join(tmp, f"q={i}", "*.parquet"))
        # one file per quantile by construction — same loud-failure guard
        # as the q_stream_late_audit twin (r16 ADVICE)
        assert len(parts) == 1, (
            f"replay split q={i}: expected exactly 1 parquet file, got "
            f"{len(parts)} — maxRecordsPerFile set, or empty ntile bucket?"
        )
        (part,) = parts
        dst = os.path.join(src, f"part-{i:05d}.parquet")
        os.replace(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    shutil.rmtree(tmp, ignore_errors=True)
    return expected


def _psi_reference(spark, sf_dir):
    """The pinned reference histogram: |PSI_BINS| rows collected once —
    at 100 TB this is the broadcast-sized side by construction."""
    rc = {
        r.bin: r.c
        for r in (
            t(spark, sf_dir, "events")
            .filter(
                F.col("value").isNotNull()
                & (F.dayofmonth(F.col("ts").cast("timestamp")) <= PSI_REF_DAYS)
            )
            .groupBy(_psi_bin(F.col("value")).alias("bin"))
            .agg(F.count("*").alias("c"))
            .collect()
        )
    }
    return rc, sum(rc.values())


def _psi_writer(spark, sink: str, ref: dict, rtot: int):
    """foreachBatch fn: one map-combined bin aggregate per micro-batch
    (|PSI_BINS| rows collected), the deterministic fold, and an
    IDEMPOTENT single-row write under sink/batch=<id> — a crash-replayed
    batch OVERWRITES its own directory (the q_stream_topk_bounded
    exactly-once recipe)."""

    def fb(df, bid: int) -> None:
        rows = df.groupBy("bin").agg(F.count("*").alias("c")).collect()
        counts = {r.bin: r.c for r in rows}
        n = sum(counts.values())
        psi = _psi_fold(counts, n, ref, rtot)
        # 1-row write derived from the BATCH frame (limit(1) + literals),
        # never spark.createDataFrame(local list): the local-list -> RDD
        # -> write path costs ~5 s per call in this harness (measured
        # r15) vs ~0.35 s for the JVM-side literal projection.
        df.limit(1).select(
            F.lit(bid + 1).alias("batch_seq"),
            F.lit(n).cast("long").alias("n_rows"),
            F.lit(psi).alias("psi"),
            F.lit(int(psi > PSI_ALERT)).alias("alert"),
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sink, f"batch={bid}")
        )

    return fb


@query(
    "q_stream_drift_psi",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, ts,
             least(CAST(floor(value / {PSI_BIN_WIDTH}) AS INTEGER),
                   {PSI_BINS - 1}) AS bin
      FROM events WHERE value IS NOT NULL),
    ref AS (SELECT bin FROM ev WHERE day(ts) <= {PSI_REF_DAYS}),
    rc AS (SELECT bin, count(*) AS r FROM ref GROUP BY bin),
    rt AS (SELECT count(*) AS rn FROM ref),
    s AS (SELECT bin, ntile({PSI_SPLIT}) OVER (ORDER BY ts, event_id) AS b
          FROM ev WHERE day(ts) > {PSI_REF_DAYS}),
    sc AS (SELECT b, bin, count(*) AS c FROM s GROUP BY b, bin),
    sn AS (SELECT b, count(*) AS n FROM s GROUP BY b),
    grid AS (SELECT sb.b, g.bin
             FROM (SELECT DISTINCT b FROM s) sb
             CROSS JOIN (SELECT unnest(generate_series(0, {PSI_BINS - 1}))
                         AS bin) g),
    terms AS (
      SELECT grid.b,
             (coalesce(sc.c, 0) + 1.0) / (sn.n + {PSI_BINS}) AS p,
             (coalesce(rc.r, 0) + 1.0)
               / ((SELECT rn FROM rt) + {PSI_BINS}) AS q
      FROM grid
      JOIN sn ON sn.b = grid.b
      LEFT JOIN sc ON sc.b = grid.b AND sc.bin = grid.bin
      LEFT JOIN rc ON rc.bin = grid.bin)
    SELECT CAST(t.b AS INTEGER) AS batch_seq,
           CAST(any_value(sn.n) AS BIGINT) AS n_rows,
           round(sum((p - q) * ln(p / q)), 4) AS psi,
           CAST(round(sum((p - q) * ln(p / q)), 4) > {PSI_ALERT}
                AS INTEGER) AS alert
    FROM terms t JOIN sn ON sn.b = t.b
    GROUP BY t.b ORDER BY batch_seq
    """,
)
def q_stream_drift_psi(spark, sf_dir):
    """STREAMING drift gate (VERDICT r14 item 7): per micro-batch, the
    Population Stability Index of the batch's value distribution against
    a PINNED reference histogram (the stream's first {PSI_REF_DAYS} days)
    over {PSI_BINS} fixed quantized bins, with the standard
    PSI > {PSI_ALERT} alert per batch — the batch drift family
    (q_evt_drift_ks) finally has its streaming twin: a 100 TB/day ingest
    wants the distribution check AT THE BATCH BOUNDARY, before a drifted
    batch lands in the training table.

    PSI = sum_b (p_b - q_b) ln(p_b / q_b) with Laplace smoothing so
    empty bins are defined on both sides; shares are exact rationals and
    the fold runs in FIXED bin order (deterministic summation, the r15
    convention), pre-rounded with the multiply-floor half-away form.
    The alert compares the ROUNDED value on both engines.

    Scale shape: the reference histogram is |{PSI_BINS}| rows (broadcast-
    sized by construction, collected once); each micro-batch costs ONE
    map-combined bin aggregate of that batch's rows — no per-key state,
    no cross-batch state at all; per-batch results land as an idempotent
    single-row changelog under sink/batch=<id> (the q_stream_topk_bounded
    exactly-once recipe — crash-replayed batches overwrite themselves;
    proof: tests/test_analytics_ops.py crash-resume twin).  At 100 TB:
    bins are fixed, the batch aggregate map-combines, and the ledger is
    one row per batch.

    Oracle: the identical PSI per batch-aligned ntile slice (the
    q_stream_late_audit deterministic-split discipline); the op asserts
    the replay's per-batch row counts equal the ntile sizes so a Spark
    batching change fails loudly (r14 ADVICE applied at birth).

    Reference scope: no streaming/DQ surface in the reference facade
    (api/router/router.go:9-55); streaming sibling of q_evt_drift_ks and
    the q_stream_ingest_gate admission pattern."""
    wh = scratch_dir(sf_dir, "stream_drift_psi")
    shutil.rmtree(wh, ignore_errors=True)
    src = os.path.join(wh, "src")
    sink = os.path.join(wh, "sink")
    expected = _psi_source(spark, sf_dir, src)
    ref, rtot = _psi_reference(spark, sf_dir)

    sdf = (
        spark.readStream.schema("bin int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _state_parallelism(spark):
        q = (
            sdf.writeStream.foreachBatch(_psi_writer(spark, sink, ref, rtot))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    res = spark.read.parquet(os.path.join(sink, "batch=*"))
    got = [
        r.n_rows for r in res.select("batch_seq", "n_rows").orderBy("batch_seq").collect()
    ]
    # Explicit raise, not assert: production query path, must survive -O.
    if got != expected:
        raise RuntimeError(
            f"drift-gate replay batch structure changed: per-batch rows {got} "
            f"!= expected ntile sizes {expected} — the oracle's batch-aligned "
            f"PSI slices no longer match the stream"
        )
    return res.select("batch_seq", "n_rows", "psi", "alert").orderBy("batch_seq")
