"""Composed IVF-PQ approximate nearest-neighbour search (VERDICT r12
item 3).

q_sim_ann_ivf routes queries through coarse cells but scores candidates
in FULL precision; q_sim_ann_pq ADC-scores compressed codes but scans
the WHOLE corpus's codes.  A billion-vector index does both at once —
the FAISS IVFPQ layout: PQ codes live in per-cell inverted lists, a
query picks its N_PROBE closest cells, and only THOSE cells' codes are
ADC-scored through the 8x16 broadcast lookup table.  Memory per scored
candidate is 8 bytes of codes instead of 512 bytes of floats, and the
scan fraction is N_PROBE/cells instead of 1.

Spark shape (the part that must survive 100 TB):

- index build = the existing IVF assignment (broadcast centroids, one
  row_number window) + the existing PQ encode (broadcast codebook), glued
  by ONE equi-join on vec_id that keys the code table by cell — the
  inverted-list layout, written once, read per query;
- search = broadcast the <=N_PROBE-row probed-cell frame onto the code
  table (cell equi-join — the plan-pinned "no corpus-wide scan" shape),
  broadcast the 8x16 ADC lookup table onto the survivors (s, code
  equi-join), one partial-aggregated sum per candidate, TakeOrdered for
  the top-k;
- ranking on the ROUNDED ADC distance with vec_id tiebreak (the
  engine-parity convention), so the DuckDB twin value-hash-matches.

Reference parity note: the reference (a metadata REST catalog,
api/router/router.go:9-55) has no vector surface; this completes
SURVEY.md §2.C's ANN family (q_sim_ann_ivf + q_sim_ann_pq -> their
composition).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query

# The composed oracle reuses similarity's IVF CTE block (assignment +
# probe, scale-knobbed) and embedding's PQ geometry.  Top-level imports
# are safe: both modules precede this one in registry._QUERY_MODULES,
# import no third sibling at module scope, and rotation order for
# checked ids is keyed on driver evidence, not registration order.
from .embedding import ADC_TOP_K, K_CODES, N_SUB, SUB_DIM, _pq_subframes, _sq_l2
from .similarity import N_PROBE, QUERY_VEC_ID, ivf_ranked_ctes

_SUBS = f"(SELECT unnest(range(0, {N_SUB})) AS s)"
_D2 = (
    f"round(list_sum(list_transform(range(1, {SUB_DIM + 1}), "
    "i -> (sub[i] - csub[i]) * (sub[i] - csub[i]))), 4)"
)
_QD2 = (
    f"round(list_sum(list_transform(range(1, {SUB_DIM + 1}), "
    "i -> (qs[i] - csub[i]) * (qs[i] - csub[i]))), 4)"
)

_IVFPQ_ORACLE = f"""
WITH {ivf_ranked_ctes()},
sub AS (
  SELECT vec_id, s,
         list_slice(emb, s * {SUB_DIM} + 1, s * {SUB_DIM} + {SUB_DIM}) AS sub
  FROM e, {_SUBS}
),
cb AS (
  SELECT vec_id AS code, s,
         list_slice(emb, s * {SUB_DIM} + 1, s * {SUB_DIM} + {SUB_DIM}) AS csub
  FROM e, {_SUBS} WHERE vec_id < {K_CODES}
),
pa AS (
  SELECT vec_id, s, code FROM (
    SELECT sub.vec_id, sub.s, cb.code,
           row_number() OVER (PARTITION BY sub.vec_id, sub.s
                              ORDER BY {_D2} ASC, cb.code ASC) AS rn
    FROM sub JOIN cb USING (s)
  ) WHERE rn = 1
),
qsub AS (SELECT s, sub AS qs FROM sub WHERE vec_id = {QUERY_VEC_ID}),
lut AS (
  SELECT cb.s, cb.code, {_QD2} AS d2
  FROM cb JOIN qsub USING (s)
),
cand AS (
  SELECT a.vec_id, a.cell
  FROM assigned a JOIN probed p USING (cell)
  WHERE p.q_vec_id = {QUERY_VEC_ID} AND a.vec_id <> {QUERY_VEC_ID}
),
scored AS (
  SELECT c.vec_id, c.cell, round(sum(l.d2), 4) AS adc_d2
  FROM cand c
  JOIN pa ON pa.vec_id = c.vec_id
  JOIN lut l ON l.s = pa.s AND l.code = pa.code
  GROUP BY c.vec_id, c.cell
)
SELECT sc.vec_id, lbl.label, sc.cell, sc.adc_d2
FROM scored sc JOIN embeddings lbl ON lbl.vec_id = sc.vec_id
ORDER BY sc.adc_d2 ASC, sc.vec_id ASC
LIMIT {ADC_TOP_K}
"""


@query("q_sim_ann_ivf_pq", oracle=_IVFPQ_ORACLE)
def q_sim_ann_ivf_pq(spark, sf_dir):
    """IVF-PQ composed ANN search: coarse-route the query to its N_PROBE
    nearest cells (q_sim_ann_ivf's scale-knobbed assignment — flat below
    ASSIGN_FLAT_MAX vectors, two-level above), then ADC-score ONLY the
    probed cells' PQ codes through the broadcast 8x16 lookup table
    (q_sim_ann_pq's query shape).  The corpus-wide term drops from
    |corpus| ADC sums to |corpus| * N_PROBE / cells, and each scored
    candidate reads 8 one-byte codes, not 64 floats — the actual
    billion-scale memory layout (FAISS IVFPQ).

    Plan shape: the code table is keyed by cell via one vec_id equi-join
    (index build); search is a broadcast cell equi-join (<=N_PROBE rows)
    followed by a broadcast (s, code) equi-join — NO corpus-wide ADC
    scan, pinned by tests/test_plans.py.  Recall vs the exact-L2 top-k is
    measured in tests/test_analytics_ops.py
    (test_ivfpq_recall_vs_exact_l2); the operating point trades the PQ
    quantization error ON TOP of the IVF probe miss rate, both bounded by
    the same knobs the parents expose (cells, N_PROBE, codebook size).

    Reference scope: no vector surface in the reference facade
    (api/router/router.go:9-55); composition of q_sim_ann_ivf
    (llm/similarity.py) and q_sim_ann_pq (llm/embedding.py)."""
    from .embedding import _pq_assignments
    from .similarity import (
        _emb_count,
        _flat_within,
        _two_level_within,
        assignment_two_level,
        ivf_cells_for,
    )

    n = _emb_count(spark, sf_dir)
    n_cells = ivf_cells_for(n)
    if assignment_two_level(n):
        within = _two_level_within(spark, sf_dir, n_cells)
    else:
        within = _flat_within(spark, sf_dir, n_cells)
    assigned = within.filter(F.col("rn") == 1).select("vec_id", "cell")
    # the ONE query vector's top-N_PROBE cells — a <=N_PROBE-row frame
    probed = within.filter(
        (F.col("vec_id") == QUERY_VEC_ID) & (F.col("rn") <= N_PROBE)
    ).select("cell")

    # inverted-list layout: PQ codes keyed by cell (one vec_id equi-join;
    # at scale this is the materialized index, built once)
    codes = _pq_assignments(spark, sf_dir).join(assigned, "vec_id")

    # ADC lookup table: 8 query subvectors x 16 codewords = 128 rows
    sub, cb = _pq_subframes(spark, sf_dir)
    q = sub.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "s", F.col("sub").alias("qs")
    )
    lut = cb.join(F.broadcast(q), "s").select(
        "s", "code", F.round(_sq_l2(F.col("csub"), F.col("qs")), 4).alias("d2")
    )

    topk = (
        codes.join(F.broadcast(probed), "cell")  # ONLY probed cells' codes
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(lut), ["s", "code"])
        .groupBy("vec_id", "label", "cell")
        .agg(F.round(F.sum("d2"), 4).alias("adc_d2"))
        .orderBy("adc_d2", "vec_id")
        .limit(ADC_TOP_K)
    )
    return topk.select("vec_id", "label", "cell", "adc_d2")


# ---------------------------------------------------------------------------
# Incremental index maintenance (VERDICT r13 item 3)

DELTA_MOD = 5  # vec_id % 5 == 0 is the arriving batch (q_dedup_incremental's
# deterministic delta convention: ~20% of vectors, both engines split alike)


def _ivfpq_within(spark, sf_dir, pred=None):
    """Scale-knobbed candidate-cell ranking frame ``(vec_id, emb, cell,
    rn)`` — flat below ASSIGN_FLAT_MAX corpus vectors, two-level above;
    knobs always derive from the FULL corpus count so a pred-restricted
    pass (the delta batch) ranks against the exact same centroid
    geometry as a full rebuild."""
    from .similarity import (
        _emb_count,
        _flat_within,
        _two_level_within,
        assignment_two_level,
        ivf_cells_for,
    )

    n = _emb_count(spark, sf_dir)
    n_cells = ivf_cells_for(n)
    if assignment_two_level(n):
        return _two_level_within(spark, sf_dir, n_cells, pred=pred)
    return _flat_within(spark, sf_dir, n_cells, pred=pred)


def _ivfpq_index_rows(spark, sf_dir, pred=None):
    """Inverted-list index rows ``(vec_id, label, cell, s, code)`` for the
    vectors satisfying ``pred`` (None = whole corpus): IVF cell assignment
    joined onto the PQ codes by ONE vec_id equi-join, types pinned for a
    lossless parquet round-trip.  Per-vector work is independent of the
    subset — centroids and codebook are the full-corpus convention — so
    index(base) UNION index(delta) == index(all), row for row."""
    from .embedding import _pq_assignments

    assigned = (
        _ivfpq_within(spark, sf_dir, pred=pred)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )
    return (
        _pq_assignments(spark, sf_dir, pred=pred)
        .join(assigned, "vec_id")
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("label"),  # fixture dtype (int label), no recast
            F.col("cell").cast("long").alias("cell"),
            F.col("s").cast("int").alias("s"),
            F.col("code").cast("long").alias("code"),
        )
    )


@query("q_sim_index_update", oracle=_IVFPQ_ORACLE)
def q_sim_index_update(spark, sf_dir):
    """INCREMENTAL IVF-PQ index maintenance: a production vector index is
    never rebuilt from scratch — new vectors arrive as batches.  The
    delta batch (vec_id % 5 == 0, ~20% of the corpus) is
    assigned + PQ-encoded ALONE — a filter pushed to the embedding scan,
    so the update's cost is bounded by |delta|, not |corpus| — and
    MERGEd (unionByName) into the cataloged base inverted-list layout
    (a build-once parquet artifact keyed by the fixture signature).
    The merged index then serves the exact q_sim_ann_ivf_pq search.

    THE ORACLE IS THE FULL REBUILD: per-vector assignment and encoding
    depend only on the vector itself and the full-corpus centroid/
    codebook convention (vec_id < cells / < K_CODES), so
    index(base) ∪ index(delta) == index(all) row-for-row, and the
    merged-index search must value-hash-match q_sim_ann_ivf_pq's
    rebuild-from-scratch answer exactly — the invariant incremental
    maintenance has to preserve (a deliberate shared-oracle pair).

    Reference anchor: the append-commit lineage the reference catalog
    exists to serve (internal/catalog/tables.go:150-227 — table updates
    are staged requirements + updates MERGEd onto prior metadata, never
    a rewrite); this is that contract applied to a vector index."""
    from ..operators.common import cached_parquet

    delta_pred = F.col("vec_id") % DELTA_MOD == 0
    cache = cached_parquet(
        sf_dir, "ivfpq_index",
        lambda: _ivfpq_index_rows(spark, sf_dir, pred=~delta_pred),
        salt=f"K={K_CODES};S={N_SUB};M={DELTA_MOD}",
    )
    base = spark.read.parquet(cache)

    # |delta|-bounded work: assignment + encode of the arriving batch only
    delta = _ivfpq_index_rows(spark, sf_dir, pred=delta_pred)
    merged = base.unionByName(delta)

    # the query vector arrives IN the delta batch (QUERY_VEC_ID % 5 == 0):
    # route it through the same scale-knobbed ranking, probe-set only
    probed = (
        _ivfpq_within(spark, sf_dir, pred=F.col("vec_id") == QUERY_VEC_ID)
        .filter(F.col("rn") <= N_PROBE)
        .select("cell")
    )
    sub, cb = _pq_subframes(spark, sf_dir)
    q = sub.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "s", F.col("sub").alias("qs")
    )
    lut = cb.join(F.broadcast(q), "s").select(
        "s", "code", F.round(_sq_l2(F.col("csub"), F.col("qs")), 4).alias("d2")
    )
    return (
        merged.join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(lut), ["s", "code"])
        .groupBy("vec_id", "label", "cell")
        .agg(F.round(F.sum("d2"), 4).alias("adc_d2"))
        .orderBy("adc_d2", "vec_id")
        .limit(ADC_TOP_K)
        .select("vec_id", "label", "cell", "adc_d2")
    )


def _ivfpq_recall_oracle() -> str:
    from .similarity import SCALED_QSTEP_SQL, ivf_ranked_ctes

    l2 = (
        f"round(list_sum(list_transform(generate_series(1, {N_SUB * SUB_DIM}), "
        "i -> (c.emb[i] - qv.emb[i]) * (c.emb[i] - qv.emb[i]))), 4)"
    )
    return f"""
WITH {ivf_ranked_ctes(qstep_sql=SCALED_QSTEP_SQL)},
sub AS (
  SELECT vec_id, s,
         list_slice(emb, s * {SUB_DIM} + 1, s * {SUB_DIM} + {SUB_DIM}) AS sub
  FROM e, {_SUBS}
),
cb AS (
  SELECT vec_id AS code, s,
         list_slice(emb, s * {SUB_DIM} + 1, s * {SUB_DIM} + {SUB_DIM}) AS csub
  FROM e, {_SUBS} WHERE vec_id < {K_CODES}
),
pa AS (
  SELECT vec_id, s, code FROM (
    SELECT sub.vec_id, sub.s, cb.code,
           row_number() OVER (PARTITION BY sub.vec_id, sub.s
                              ORDER BY {_D2} ASC, cb.code ASC) AS rn
    FROM sub JOIN cb USING (s)
  ) WHERE rn = 1
),
qsub AS (
  SELECT vec_id AS q, s, sub AS qs FROM sub
  WHERE vec_id % {SCALED_QSTEP_SQL} = 0
),
lut AS (
  SELECT qsub.q, cb.s, cb.code, {_QD2} AS d2
  FROM cb JOIN qsub USING (s)
),
cand AS (
  SELECT p.q_vec_id AS q, a.vec_id
  FROM probed p JOIN assigned a USING (cell)
  WHERE a.vec_id <> p.q_vec_id
),
adc AS (
  SELECT c.q, c.vec_id, round(sum(l.d2), 4) AS adc_d2
  FROM cand c
  JOIN pa ON pa.vec_id = c.vec_id
  JOIN lut l ON l.q = c.q AND l.s = pa.s AND l.code = pa.code
  GROUP BY c.q, c.vec_id
),
adck AS (
  SELECT q, vec_id FROM (
    SELECT q, vec_id,
           row_number() OVER (PARTITION BY q
                              ORDER BY adc_d2 ASC, vec_id ASC) AS rk
    FROM adc) WHERE rk <= {ADC_TOP_K}
),
exk AS (
  SELECT q, vec_id FROM (
    SELECT qv.vec_id AS q, c.vec_id, {l2} AS d2,
           row_number() OVER (PARTITION BY qv.vec_id
                              ORDER BY {l2} ASC, c.vec_id ASC) AS rk
    FROM e qv JOIN e c ON c.vec_id <> qv.vec_id
    WHERE qv.vec_id % {SCALED_QSTEP_SQL} = 0) WHERE rk <= {ADC_TOP_K}
)
SELECT exk.q AS q_vec_id,
       CAST(count(adck.vec_id) AS BIGINT) AS n_hits,
       CAST(count(adck.vec_id) AS DOUBLE) / {ADC_TOP_K} AS recall
FROM exk LEFT JOIN adck ON adck.q = exk.q AND adck.vec_id = exk.vec_id
GROUP BY exk.q
ORDER BY q_vec_id
"""


@query("q_sim_ivf_pq_recall_eval", oracle=_ivfpq_recall_oracle())
def q_sim_ivf_pq_recall_eval(spark, sf_dir):
    """Recall@{ADC_TOP_K} audit of the COMPOSED IVF-PQ index against the
    exact full-precision L2 top-{ADC_TOP_K} — the measurement a FAISS
    IVFPQ deployment runs before trusting the index, because IVF-PQ
    stacks TWO approximations (probe miss + quantization error) and
    neither q_sim_recall_eval (IVF-only, cosine) nor the unit-level PQ
    recall test reports their PRODUCT per query.  One row per probe:
    exact-neighbour hits recovered through the compressed index.

    Scale shape (q_sim_recall_eval's discipline): the probe batch is
    pinned at ~RECALL_TARGET_PROBES by the shared recall_qstep_for
    stride; the ADC side reuses the inverted-list layout (broadcast
    probed-cells equi-join + broadcast |probes|x128 LUT join — scan
    fraction N_PROBE/cells, 8 B/candidate); the exact baseline is the
    deliberate |batch| x corpus brute-force scan with the batch
    BROADCAST (that is what makes it ground truth).  Both sides rank on
    4dp-rounded distances with vec_id tiebreak, so top-k membership is
    bit-stable across engines.

    Reference scope: no vector surface in the reference facade
    (api/router/router.go:9-55); completes the ANN eval matrix
    (q_sim_recall_eval x q_sim_ann_ivf_pq)."""
    from pyspark.sql import Window as W

    from .embedding import _pq_assignments
    from .similarity import (
        _dbl,
        _emb,
        _emb_count,
        recall_qstep_for,
    )

    n = _emb_count(spark, sf_dir)
    qstep = recall_qstep_for(n)
    within = _ivfpq_within(spark, sf_dir)
    assigned = within.filter(F.col("rn") == 1).select("vec_id", "cell")
    probed = (
        within.filter(
            (F.col("vec_id") % qstep == 0) & (F.col("rn") <= N_PROBE)
        )
        .select(F.col("vec_id").alias("q"), "cell")
    )
    codes = _pq_assignments(spark, sf_dir).join(assigned, "vec_id")
    sub, cb = _pq_subframes(spark, sf_dir)
    qsub = sub.filter(F.col("vec_id") % qstep == 0).select(
        F.col("vec_id").alias("q"), "s", F.col("sub").alias("qs")
    )
    lut = cb.join(F.broadcast(qsub), "s").select(
        "q",
        "s",
        "code",
        F.round(_sq_l2(F.col("csub"), F.col("qs")), 4).alias("d2"),
    )
    kw = W.partitionBy("q").orderBy("adc_d2", "vec_id")
    adck = (
        codes.join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != F.col("q"))
        .join(F.broadcast(lut), ["q", "s", "code"])
        .groupBy("q", "vec_id")
        .agg(F.round(F.sum("d2"), 4).alias("adc_d2"))
        .withColumn("rk", F.row_number().over(kw))
        .filter(F.col("rk") <= ADC_TOP_K)
        .select("q", F.col("vec_id").alias("hit_id"))
    )
    # exact side: one JVM (x-y)^2 fold per pair.  Measured r14: an Arrow
    # _dot_pd expansion (d2 = |a|^2+|b|^2-2<a,b>) was tried and REVERTED
    # — 2.99 -> 5.34 s at sf0.1; at 64 dims the per-pair Arrow transfer
    # of two vectors costs more than the interpreted fold.
    e = _emb(spark, sf_dir).select("vec_id", _dbl("embedding").alias("emb"))
    qv = e.filter(F.col("vec_id") % qstep == 0).select(
        F.col("vec_id").alias("q"), F.col("emb").alias("qe")
    )
    ew = W.partitionBy("q").orderBy("d2", "vec_id")
    exk = (
        e.join(F.broadcast(qv))  # deliberate |batch| x corpus exact scan
        .filter(F.col("vec_id") != F.col("q"))
        .withColumn("d2", F.round(_sq_l2(F.col("emb"), F.col("qe")), 4))
        .withColumn("rk", F.row_number().over(ew))
        .filter(F.col("rk") <= ADC_TOP_K)
        .select("q", "vec_id")
    )
    return (
        exk.join(
            adck,
            (exk.q == adck.q) & (exk.vec_id == adck.hit_id),
            "left",
        )
        .groupBy(exk.q.alias("q_vec_id"))
        .agg(
            F.count("hit_id").cast("long").alias("n_hits"),
            (F.count("hit_id").cast("double") / ADC_TOP_K).alias("recall"),
        )
        .orderBy("q_vec_id")
    )
