"""Plan-shape assertions (SURVEY §5.2 item 4): the optimizations the engine
relies on for 100 TB must be visible in the physical plan, not assumed."""

import pytest

from iceberg_rest_catalog_spark import registry

SF_DIR = "/root/testdata/sf0.001"


def plan(spark, name: str) -> str:
    df = registry.queries()[name](spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_registry_is_consistent(spark):
    qs = registry.queries()
    oracles = registry.oracles()
    assert len(qs) >= 99
    assert set(oracles) <= set(qs)  # every oracle key has a query
    # ids follow the SURVEY naming contract
    assert all(n.startswith(("q_", "c_")) for n in qs)


def test_scan_filter_is_pushed_down(spark):
    p = plan(spark, "q_scan_filter")
    assert "PushedFilters: [" in p
    assert "l_shipdate" in p.split("PushedFilters")[1][:200]


def test_scan_project_prunes_columns(spark):
    p = plan(spark, "q_scan_project")
    read_schema = p.split("ReadSchema")[1][:200]
    assert "l_orderkey" in read_schema
    assert "l_comment" not in read_schema  # untouched columns never read


def test_partition_prune_uses_partition_filters(spark):
    p = plan(spark, "q_scan_partition_prune")
    assert "PartitionFilters: [" in p
    assert "o_year" in p.split("PartitionFilters")[1][:200]


def test_broadcast_join_broadcasts(spark):
    p = plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in p


def test_tpch_q3_no_cartesian(spark):
    p = plan(spark, "q_tpch_q3")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_topk_uses_take_ordered(spark):
    p = plan(spark, "q_topk")
    assert "TakeOrderedAndProject" in p


def test_whole_stage_codegen_active(spark):
    # AQE shows codegen spans only once the plan is final: execute first.
    df = registry.queries()["q_agg_group"](spark, SF_DIR)
    df.collect()
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # formatted mode marks codegen stages with a '*' prefix
    assert "isFinalPlan=true" in p
    assert "* HashAggregate" in p


def test_sim_topk_broadcasts_query_vector(spark):
    p = plan(spark, "q_sim_topk")
    assert "TakeOrderedAndProject" in p  # top-k never sorts the full table


@pytest.mark.parametrize("name", ["q_tpch_q1", "q_tpch_q5", "q_dedup_fuzzy"])
def test_no_python_row_udfs_in_core_plans(spark, name):
    p = plan(spark, name)
    assert "BatchEvalPython" not in p  # row-at-a-time Python only in q_udf_python


@pytest.mark.parametrize("name", ["q_dedup_fuzzy", "q_dedup_ngram", "q_sim_pairs"])
def test_similarity_ops_never_all_pairs(spark, name):
    # the 100 TB contract: candidates come from bucket/block joins, never a
    # cross product of the corpus with itself
    p = plan(spark, name)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


SIDE_EFFECT_PREFIXES = ("c_", "q_sink", "q_stream", "q_scan_partition_prune",
                        "q_time_travel", "q_incremental_read", "q_compact",
                        "q_schema_evolution_read", "q_meta_prune", "q_source",
                        "q_multimodal", "q_snapshot_expire", "q_dedup_index")
CARTESIAN_OK = {"q_join_cross", "q_join_theta", "q_join_range", "q_sim_topk",
                # r16: 1-row min-date anchor broadcast onto the event scan
                # (week indexing), and the 1-row x 1-row report-assembly
                # joins of the audit's `mod` rows — all bounded build sides
                "q_evt_retention_matrix", "q_evt_ltv", "q_graph_edge_audit",
                "q_sim_hamming",  # 1-row broadcast query code, like q_sim_topk
                "q_sim_rerank",   # same 1-row broadcast query, both stages
                "q_sim_ann_ivf", "q_udtf",  # deliberate cross/theta/lateral shapes
                # same broadcast-centroid assignment cross join as
                # q_sim_ann_ivf (bounded build side: the centroid table);
                # the SEARCH side is cell+code equi-joins, plan-pinned by
                # test_ivfpq_search_is_cell_equijoin
                "q_sim_ann_ivf_pq",
                # same broadcast-centroid assignment cross join (load
                # profile over the shared IVF assignment)
                "q_sim_index_stats",
                # same broadcast-centroid assignment cross join on the
                # delta batch + probe vector; MERGE and search are
                # equi-joins (cell, then (s, code))
                "q_sim_index_update",
                # broadcast probe BATCH x one corpus scan (the deliberate
                # exact ground-truth baseline, q_embed_matryoshka's shape)
                # + the shared centroid-assignment cross join
                "q_sim_ivf_pq_recall_eval",
                # 1-row token-total broadcast (the q_text_perplexity
                # shape) onto the vocab-bounded bigram model table
                "q_text_perplexity_bigram",
                # 1-row moments frame (theta, mean_pre) broadcast onto the
                # per-user aggregate — map-only at any scale
                "q_evt_cuped",
                # 1-row totals frame (E, sum_e, sum_d2) broadcast onto the
                # |communities|-row frame — map-only at any scale
                "q_graph_modularity",
                # deliberate 5-row threshold-grid broadcast fan-out —
                # bounded build side, map-only at any corpus size
                "q_text_filter_sweep",
                # 1-row scalar-aggregate broadcast compared with `>`: BNLJ with a
                # single build row is the correct scale-safe plan (map-side compare)
                "q_tpch_q22",
                # partsupp derivation: part × broadcast(4-row seq) ×
                # broadcast(1-row supplier count) — bounded build sides,
                # map-only at any scale (tpch.py PARTSUPP_SQL comment)
                "q_tpch_q2", "q_tpch_q9", "q_tpch_q11", "q_tpch_q16",
                "q_tpch_q20",
                # broadcast K-row centroid table / 1-row vocab-total: BNLJ
                # with a bounded build side is the intended assignment shape
                "q_cluster_kmeans", "q_text_perplexity", "q_sim_knn_batch",
                # broadcast probe BATCH (batch-sized build side, never the
                # corpus) scored against one corpus scan — the brute-force
                # recall-audit baseline, deliberately exact
                "q_embed_matryoshka",
                # |days|-row daily-aggregate self-join (calendar-bounded
                # build side, <=365 rows/yr) — the Theil-Sen pair relation
                "q_ts_theil_sen",
                # 1-row build sides (union-sketch stats / exact-total row;
                # the scalar max(S) of the ALL/ANY aggregate rewrite):
                # BNLJ with a single broadcast row, map-only at any scale
                "q_agg_kmv", "q_sub_all",
                # three 1-row frames (totals / zipf fit / rank-1 token) meet
                # via BNLJ with single-row build sides — map-only at any
                # corpus size (llm/text.py q_text_zipf docstring)
                "q_text_zipf",
                # 1-row broadcast calibration/count rows (scale vector,
                # mixture normalizer): map-only distribution of a scalar
                # aggregate
                "q_embed_quantize",
                # round-12: 1-row broadcast build sides (hour bounds /
                # corpus totals / allocation normalizer / point count /
                # union-sketch row) and the 3-row pair table's
                # OR-condition join against the |types|x64 sketch frame —
                # every build side is bounded, map-only at any scale
                "q_dq_gap_hours", "q_text_collocations", "q_text_burstiness",
                "q_sample_neyman", "q_cluster_dbscan", "q_agg_theta_intersect",
                # kmeans-assignment broadcast (K-row centroid table) inside
                # the semantic-dedup block derivation
                "q_dedup_semantic",
                # the same k-row centroid broadcast, swept over k in
                # {4,8,16} for the elbow curve
                "q_embed_kmeans_elbow",
                # 1-row broadcast scalars (corpus doc count for the split
                # shares; max doc_id for the decile label; total-chars
                # normalizer for the dedup savings report): BNLJ with a
                # single build row, map-only at any corpus size
                "q_split_assign", "q_text_vocab_growth", "q_dedup_report",
                # k-row hash-index fan-out (3 rows) + m/32-word filter
                # broadcast: both build sides are sketch-sized constants
                "q_agg_bloom",
                "q_data_mixture_temperature",
                # 4-row broadcast probe batch under a non-equi (id !=)
                # condition: the matryoshka shape — build side is the
                # probe set, never the corpus
                "q_sim_mmr",
                # broadcast ivf_cells_for-row centroid table (cell
                # assignment, the q_cluster_kmeans/q_sim_knn_batch shape;
                # 2level additionally broadcasts the <=256-row coarse table)
                "q_embed_cell_purity", "q_sim_hard_negatives",
                "q_sim_knn_batch_2level",
                # 1-row broadcast corpus-max timestamp (the censoring
                # horizon): map-only scalar distribution
                "q_evt_survival",
                # 1-row broadcast decay anchor (newest purchase day):
                # the same scalar-distribution shape
                "q_agg_time_decay",
                # 3-number quartile-threshold broadcast into the bucketing
                # pass (scalar-distribution shape, like q_tpch_q22)
                "q_curriculum_order",
                # 1-row min/max broadcast into the bucketing pass
                # (scalar-distribution shape, like q_tpch_q22)
                "q_agg_histogram", "q_sample_balanced", "q_evt_rfm",
                # 1-row total / stats-aggregate broadcasts (scalar-
                # distribution shape, like q_tpch_q22): DQ report joins two
                # 1-row count frames per FK rule; markov/skew distribute a
                # 1-row grand-total into a bounded report frame
                "q_dq_rules", "q_evt_markov", "q_meta_skew_audit",
                # broadcast probe BATCH scored against one corpus scan —
                # the exact-baseline side of the recall audit (the
                # q_embed_matryoshka shape; the IVF side is equi-join)
                "q_sim_recall_eval",
                # same broadcast probe-batch exact-baseline arm; the beam
                # search itself is equi-joins on node id (r15)
                "q_sim_graph_search",
                # 1-row broadcast build sides (SPRT parameter frame /
                # bootstrap replica-stats frame): the q_tpch_q22
                # scalar-distribution shape, map-only at any scale (r15)
                "q_evt_sprt", "q_sample_bootstrap",
                # 1-row watermark broadcast (freshness ledger) + the
                # shared broadcast-centroid assignment cross join of the
                # IVF family (bounded build sides, r15)
                "q_dq_freshness", "q_sim_ann_ivf_filtered",
                # broadcast ivf_cells_for-row centroid assignment (the
                # q_sim_knn_batch shape); the candidate stage is equi-join
                "q_sim_range_ivf",
                # 1-row water-level scalar broadcast into the |sources|
                # frame (scalar-distribution shape, like q_tpch_q22)
                "q_data_epochs",
                # |types|^3 <= 125-row broadcast pattern table crossed
                # with the per-session string frame + 1-row session-count
                # normalizer: bounded build sides, map-only at any scale
                "q_evt_seq_patterns",
                # 1-row basket-count normalizer broadcast into the
                # <=|types|^2/2 pair frame (scalar-distribution shape)
                "q_evt_pmi"}
ROW_PYTHON_OK = {"q_udf_python", "q_udtf"}  # ops whose SUBJECT is Python eval

# Float-determinism tripwire allowlist (VERDICT r14 item 4).  The bitten
# class: a float reduction computed in a Python/Arrow stage (BLAS GEMM,
# einsum, SIMD-dispatched numpy reductions) feeding a round(...) whose
# output gates a rank — a 1-ulp environment-dependent difference at a 4-dp
# midpoint flips the rank (r14 q_graph_modularity driver red; the reverted
# Arrow dot experiment).  Any query whose physical plan contains a pandas
# stage AND round AND a rank operator must appear here WITH a written
# invariance argument; tests/test_float_determinism.py statically bans the
# non-deterministic reduction spellings at the source level (det_gram /
# det_rowdot are the sanctioned kernels).
FLOAT_RANK_OK = {
    # cos_full/cos_trunc computed by _dot_pd = det_rowdot: fixed
    # dim-order elementwise multiply-adds (no einsum/BLAS), bit-identical
    # on every CPU, same operation order as the JVM zip_with fold the
    # oracle's list_cosine_similarity tracks.
    "q_embed_matryoshka",
    # candidate sims computed by det_gram/det_norm (fixed dim-order);
    # the MMR argmax loop consumes pre-rounded (half-away-from-zero)
    # values, so selection is a pure function of the invariant doubles.
    "q_sim_mmr",
}
PANDAS_NODES = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "MapInPandas", "ArrowEvalPython")
RANK_TOKENS = ("row_number()", "rank(", "dense_rank", "TakeOrderedAndProject")


def test_global_plan_hygiene(spark):
    """Every side-effect-free operator: no accidental cartesian product, no
    accidental row-at-a-time Python in the plan, and no UNADJUDICATED
    pandas-stage float reduction feeding a round+rank (the float-
    determinism tripwire, VERDICT r14 item 4 — see FLOAT_RANK_OK)."""
    qs = registry.queries()
    offenders = {}
    for name, fn in sorted(qs.items()):
        if name.startswith(SIDE_EFFECT_PREFIXES):
            continue
        p = plan(spark, name)
        bad = []
        if name not in CARTESIAN_OK and (
            "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
        ):
            bad.append("cartesian")
        if name not in ROW_PYTHON_OK and "BatchEvalPython" in p:
            bad.append("row-python")
        if (
            name not in FLOAT_RANK_OK
            and any(n in p for n in PANDAS_NODES)
            and "round(" in p
            and any(t in p for t in RANK_TOKENS)
        ):
            bad.append("pandas-float-feeds-round+rank (adjudicate in FLOAT_RANK_OK)")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_ivfpq_search_is_cell_equijoin(spark):
    """IVF-PQ composition pin (VERDICT r12 item 3): the ADC (s, code)
    broadcast equi-join must consume the OUTPUT of the cell broadcast
    equi-join — i.e. only probed cells' codes are ADC-scored, never the
    whole corpus's.  In the printed plan the parent sits above its
    child, so the (s, code) join line must precede the cell join line."""
    import re

    p = plan(spark, "q_sim_ann_ivf_pq")
    # formatted-plan node ids INCREASE toward the root, so "above" =
    # larger id; join keys live in each node's detail section
    details = dict(
        re.findall(
            r"\((\d+)\) BroadcastHashJoin\nLeft keys \[\d+\]: \[([^\]]*)\]", p
        )
    )
    adc_ids = [int(i) for i, k in details.items() if "code#" in k]
    cell_ids = [int(i) for i, k in details.items() if k.startswith("cell#")]
    assert adc_ids and cell_ids, p
    assert max(adc_ids) > max(cell_ids), "ADC join must be above the cell join"
    # the index-build glue: codes keyed by cell through one vec_id equi-join
    assert re.search(r"Left keys \[1\]: \[vec_id#\d+L?\]", p)


def test_bucketed_join_has_no_exchange(spark):
    """Co-located bucketed join: both scans read buckets directly; no
    shuffle on either side of the SortMergeJoin."""
    p = plan(spark, "q_join_bucketed")
    assert "SortMergeJoin" in p
    assert "Exchange" not in p
    assert p.count("Bucketed: true") == 2


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Joining a partitioned fact scan with a filtered dimension must plan
    a dynamic-pruning subquery on the partition column: at 100 TB DPP is
    the difference between scanning one year and scanning the table when
    the partition predicate only exists on the dim side."""
    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "fact")
    spark.range(0, 10_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("part"),
        (F.col("id") * 2).alias("v"),
    ).write.partitionBy("part").parquet(fact_dir)
    dim = spark.range(0, 10).select(
        F.col("id").alias("part"), F.lit("x").alias("tag")
    ).filter(F.col("part") == 3)
    fact = spark.read.parquet(fact_dir)
    joined = fact.join(dim, "part").groupBy("part").agg(F.sum("v").alias("s"))
    p = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in p.lower(), p[:2000]


def test_sim_hamming_is_takeordered_broadcast_scan(spark):
    p = plan(spark, "q_sim_hamming")
    assert "TakeOrderedAndProject" in p  # top-k never sorts the full table
    assert "BroadcastExchange" in p      # 1-row query code ships broadcast
    assert "BatchEvalPython" not in p    # encode/scan stays JVM-side


def test_release_persistent_state_clears_checkpoint_leak(spark):
    """Iterative operators leak localCheckpoint RDDs (not tracked by the
    SQL cache manager); release_persistent_state must reclaim ALL of them
    so a long-lived session (bench harness, query service) doesn't build
    eviction pressure across queries — round-8 profiling measured
    q_graph_triangles 2.5x slower in-suite purely from this accumulation."""
    from iceberg_rest_catalog_spark.operators.common import (
        release_persistent_state,
    )
    from iceberg_rest_catalog_spark.registry import collect

    release_persistent_state(spark)  # start clean
    fn = collect()["q_graph_kcore"].fn
    fn(spark, SF_DIR).count()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.size() > 0  # the loop really does checkpoint
    released = release_persistent_state(spark)
    assert released == jmap.size() or released > 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def _job_count(spark, group, action):
    """Spark jobs ``action`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# Spark jobs run while BUILDING each fixpoint-loop query on the tier-1
# fixture (the eager localCheckpoint and signature actions), counted after
# a first build has warmed the kNN edge cache.
LOOP_BUILD_JOBS = {
    "q_graph_knn_bfs": 24,
    "q_graph_kcore": 21,
    "q_sim_graph_search": 28,
    "q_graph_eccentricity": 25,
    "q_graph_cc": 27,
    "q_dedup_cluster": 31,
    "q_cluster_dbscan": 53,
}


@pytest.mark.parametrize("name", sorted(LOOP_BUILD_JOBS))
def test_loop_build_job_floor(spark, name):
    """Staging cadence and convergence checks are what a loop's job count
    is made of, so moving a loop onto common.fixpoint must not change it.

    The floor is the fewest jobs over three builds: depending on task
    timing, AQE now and then runs one more query-stage job (q_graph_kcore
    builds in 21 or 22 jobs, with or without common.fixpoint)."""
    fn = registry.queries()[name]
    fn(spark, SF_DIR)  # warm the kNN edge cache
    counts = [
        _job_count(spark, f"test_loop_build_job_floor_{name}_{i}",
                   lambda: fn(spark, SF_DIR))[1]
        for i in range(3)
    ]
    assert min(counts) == LOOP_BUILD_JOBS[name], counts


def test_pagerank_job_floor(spark):
    """PageRank runs its ten rounds inside one expression over one packed
    row, so building and running it (to the noop sink) is 8 jobs on the
    tier-1 fixture, whatever ITERS is: the edge build's and packing's
    query stages. A join-and-aggregate round per iteration ran 25 (24 to
    build, with its staging every fifth round, plus 1 to run)."""
    fn = registry.queries()["q_graph_pagerank"]
    counts = []
    for i in range(3):
        group = f"test_pagerank_job_floor_{i}"
        df, build = _job_count(spark, group + "_build", lambda: fn(spark, SF_DIR))
        _, run = _job_count(
            spark, group + "_run",
            lambda: df.write.format("noop").mode("overwrite").save())
        counts.append(build + run)
    assert min(counts) == 8, counts


def test_only_fixpoint_stages_inside_loops():
    """common.fixpoint is the one place that stages lineage inside a loop.
    Two loops keep their own: _lpa_rounds (q_graph_edge_audit reads every
    round's staged frame) and _bpe_train (it collects each round's
    argmax).  A new hand-written staging loop fails here."""
    import ast
    from pathlib import Path

    import iceberg_rest_catalog_spark

    allowed = {"fixpoint", "_lpa_rounds", "_bpe_train"}
    loops = (ast.For, ast.AsyncFor, ast.While)
    sites = []

    def visit(node, path, fn, in_loop):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, path, child.name, False)
                continue
            if (
                in_loop
                and fn not in allowed
                and isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "localCheckpoint"
            ):
                sites.append(f"{path}:{child.lineno} in {fn}")
            visit(child, path, fn, in_loop or isinstance(child, loops))

    root = Path(iceberg_rest_catalog_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(root), "<module>", False)
    assert not sites, sites


def test_one_field_id_read_path():
    """Table._read_entries is the one Spark reader and datasource._to_current
    the one arrow projection: only they resolve write-time schemas
    (``_schema_by_id``) or the field-ID mapping (``_field_sources``). A
    second copy of the read rule fails here."""
    import ast
    from pathlib import Path

    import iceberg_rest_catalog_spark

    names = {"_schema_by_id", "_field_sources"}
    allowed = {"_read_entries", "_to_current"}
    sites = []

    def visit(node, path, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, path, child.name)
                continue
            ref = (
                child.attr if isinstance(child, ast.Attribute)
                else child.id if isinstance(child, ast.Name) else None
            )
            if ref in names and fn not in allowed:
                sites.append(f"{path}:{child.lineno} in {fn}")
            visit(child, path, fn)

    root = Path(iceberg_rest_catalog_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(root), "<module>")
    assert not sites, sites


def test_one_table_lifecycle():
    """Catalog writes every public namespace and table method once; the sql
    backend supplies only private storage primitives. A public method that
    SqlCatalog redefines is a second copy of the lifecycle and fails here."""
    import ast
    from pathlib import Path

    import iceberg_rest_catalog_spark

    root = Path(iceberg_rest_catalog_spark.__file__).parent / "catalog"

    def public_methods(module, cls):
        tree = ast.parse((root / module).read_text())
        (node,) = [n for n in tree.body
                   if isinstance(n, ast.ClassDef) and n.name == cls]
        return {n.name for n in node.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not n.name.startswith("_")}

    base = public_methods("catalog.py", "Catalog")
    assert {"create_table", "update_table", "rename_table"} <= base
    assert not base & public_methods("sql_catalog.py", "SqlCatalog")


def test_one_build_once_cache():
    """operators/common.py owns the build-once cache of fixture-derived
    scratch inputs: the key (an md5 over the fixture's file stats) and the
    completion marks.  A ``.ready`` marker, an existence check on
    ``_SUCCESS`` or an md5 fixture signature anywhere else in the package
    is a second cache and fails here."""
    import ast
    from pathlib import Path

    import iceberg_rest_catalog_spark

    root = Path(iceberg_rest_catalog_spark.__file__).parent
    checks = {"exists", "isfile", "isdir", "lexists"}
    sites = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel == Path("operators", "common.py"):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and node.value.endswith(".ready")):
                sites.append(f"{rel}:{node.lineno} .ready marker")
            fn = getattr(node, "func", None)
            if (isinstance(node, ast.Call)
                    and getattr(fn, "attr", getattr(fn, "id", None)) in checks
                    and any(isinstance(c, ast.Constant) and c.value == "_SUCCESS"
                            for a in node.args for c in ast.walk(a))):
                sites.append(f"{rel}:{node.lineno} _SUCCESS check")
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                attrs = {(getattr(n.value, "id", None), n.attr)
                         for n in ast.walk(node) if isinstance(n, ast.Attribute)}
                if ("hashlib", "md5") in attrs and any(
                        a == "st_mtime_ns" for _, a in attrs):
                    sites.append(f"{rel}:{node.lineno} md5 fixture signature")
    assert not sites, sites


def test_warm_pass_compiles_nothing(spark):
    """The generated-code cache holds a pass's working set: a second pass
    over the perfbench llm ops and the drift controls compiles no class.
    With Spark's default 100-entry cache the ~140 classes of one pass
    evict each other and every pass recompiles them all."""
    import bench

    names = ["q_graph_pagerank", "q_cluster_kmeans", "q_udf_pandas",
             "q_tpch_q6", "q_agg_group"]
    qs = registry.queries()
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for _ in range(2):
        before = compiles.getCount()
        for name in names:
            bench.run_one(spark, qs[name], SF_DIR)
    assert compiles.getCount() - before == 0


def test_jaccard_neighbors_takeordered_no_cartesian(spark):
    """The round-9 link-prediction top-k must compile to
    TakeOrderedAndProject (never a global sort) with no cartesian
    anywhere.  (The IVF edge build's centroid broadcast is behind the
    shared _knn_edges localCheckpoint, so the final plan starts from the
    checkpointed edge RDD; the degree joins are key-equi — SMJ statically,
    AQE demotes to broadcast at fixture scale.)"""
    p = plan(spark, "q_graph_jaccard_neighbors")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hard_negatives_broadcasts_probes_not_corpus(spark):
    """Hard-negative mining joins assigned corpus vectors on CELL with the
    probe side broadcast — a SortMergeJoin of corpus x probes on cell
    would shuffle the whole corpus for a bounded probe set."""
    p = plan(spark, "q_sim_hard_negatives")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_session_features_single_user_shuffle(spark):
    """The session feature table's windows and aggregate all key on
    user_id: exactly ONE exchange on the events lineage (AQE may add
    coalesces, never a second key)."""
    p = plan(spark, "q_evt_session_features")
    import re

    keys = set(re.findall(r"hashpartitioning\((\w+)", p))
    assert keys <= {"user_id"}, keys


@pytest.mark.parametrize("name", ["q_text_winnow", "q_dedup_winnow_pairs"])
def test_winnow_selection_is_joinfree_sliding_window(spark, name):
    """Winnowing's per-window argmin must execute as a sliding ROWS-frame
    window aggregate (min(struct(h,-pos)) OVER doc_id ORDER BY pos ROWS
    CURRENT..w-1), never a doc_id join with the position band as a
    residual — the r11 shape enumerated |grams| x |anchors| pairs per
    document (quadratic in doc LENGTH, VERDICT r11).  Pins: no 'apos'
    anchor column anywhere; the sliding frame is present; every
    remaining join carries no residual touching a position column
    (q_dedup_winnow_pairs' doc_a < doc_b pair-ordering residual on the
    h-equi self-join is the one legitimate non-equi condition)."""
    p = plan(spark, name)
    assert "apos" not in p
    assert "currentrow$(), 3" in p  # RowFrame [CURRENT ROW, w-1 FOLLOWING]
    for chunk in p.split("Join condition: ")[1:]:
        cond = chunk.split("\n")[0].strip()
        assert "pos" not in cond, cond


def test_spatial_grid_is_cell_equijoin(spark):
    """The radius join must execute as an EQUI join on the (cx, cy) cell
    keys with the exact distance as a post-filter — never the |C| x |S|
    BroadcastNestedLoopJoin the naive theta formulation compiles to."""
    p = plan(spark, "q_join_spatial_grid")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "cx" in p and "cy" in p


def test_runtime_filter_scan_has_dynamic_pruning(spark):
    """The year-partitioned fact scan must carry a dynamicpruning
    subquery in its PartitionFilters — the runtime twin of
    q_scan_partition_prune's static filter.  A regression to a full
    scan (e.g. the dim filter no longer passing isLikelySelective)
    fails here, not in production."""
    import __spark_entry__ as E

    df = E.queries()["q_scan_runtime_filter"](spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in p


def test_cache_reuse_hits_inmemory_scan(spark):
    """Both aggregate consumers of the shared persisted projection must
    read the columnar cache: two InMemoryTableScan nodes, and the parquet
    relation appears only inside the cached plan (scanned once)."""
    import __spark_entry__ as E
    from iceberg_rest_catalog_spark.operators.common import release_persistent_state

    df = E.queries()["q_scan_cache_reuse"](spark, "/root/testdata/sf0.001")
    try:
        p = df._jdf.queryExecution().executedPlan().toString()
        assert p.count("InMemoryTableScan") >= 2, p[:800]
    finally:
        release_persistent_state(spark)


@pytest.mark.parametrize(
    "name",
    [
        "q_join_nearest",
        "q_join_pit",
        "q_evt_velocity",
        "q_evt_bot_score",
        "q_agg_time_decay",
    ],
)
def test_round12_user_keyed_ops_shuffle_on_user_id_only(spark, name):
    """Each of these operators claims 'ONE shuffle key: user_id' in its
    docstring — the union+window / RANGE-frame / shared-window-and-agg
    shapes.  Pin it: every hash exchange in the plan keys on user_id
    (AQE may coalesce, never introduce another key)."""
    import re

    p = plan(spark, name)
    keys = set(re.findall(r"hashpartitioning\((\w+)", p))
    assert keys <= {"user_id"}, (name, keys)
