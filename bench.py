"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes its FULL physical plan via the noop sink (no driver
collect, no result materialization on the driver) — so the number measures
scan + shuffle + compute, exactly what dominates at cluster scale.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_rest_catalog_spark import registry
from iceberg_rest_catalog_spark.operators.common import (
    release_persistent_state_deep,
)
from iceberg_rest_catalog_spark.session import default_parallelism, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the TPC-H composites plus the heaviest representative from
# each operator family. Filtered against the registry so the bench degrades
# gracefully while modules are still landing.
HEADLINE = [
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q4",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q10",
    "q_tpch_q12",
    "q_tpch_q13",
    "q_tpch_q15",
    "q_tpch_q17",
    "q_tpch_q18",
    "q_tpch_q21",
    "q_tpch_q22",
    "q_evt_funnel",
    "q_evt_sessionize",
    "q_join_inner",
    "q_join_broadcast",
    "q_agg_group",
    "q_win_topk_per_group",
    "q_sub_scalar",
    "q_udf_pandas",
    "q_dedup_exact",
    "q_dedup_fuzzy",
    "q_sim_topk",
    "q_sim_lsh",
    "q_merge_upsert",
    "q_text_tokens",
    "q_stream_tumbling",
    # round-3 operators with no previously recorded wall-time (VERDICT r3
    # item 6): track them so a regression is visible round-over-round.
    "q_join_interval_overlap",
    "q_graph_pagerank",
    "q_cluster_kmeans",
    "q_merge_into_catalog",
    "q_dedup_fuzzy_verified",
    # round-5 operators: incremental ingest-gate dedup and the batched
    # IVF k-NN join — tracked from birth so regressions are visible.
    "q_dedup_incremental",
    "q_sim_knn_batch",
    # round-5 second wave: the data-proportional additions (the other new
    # ops reduce to 1-row / |classes|-row aggregates and track nothing).
    "q_agg_countmin",
    "q_tokenizer_apply",
    "q_evt_rolling_dau",
    "q_embed_matryoshka",
    # round-6 promotions: the most expensive of the remaining round-5
    # additions (VERDICT r5 item 4), tracked from birth.
    "q_graph_triangles",
    "q_sim_rerank",
    "q_dedup_apply",
    "q_evt_drift_ks",
    # round-6 addition heavy enough to track (the other four new ops are
    # overhead-bound at sf0.1 — see SCALE.md round-6 ratios).
    "q_dedup_semantic",
    # round-8 second wave: the data-proportional additions (q_ts_ewma /
    # q_evt_markov / q_meta_skew_audit collapse to |days| / |types|^2 /
    # |keys| rows after one pass and are overhead-bound at sf0.1).
    "q_dq_rules",
    "q_sim_recall_eval",
    "q_graph_knn_bfs",
    # round-8 third wave: the two data-proportional additions (token
    # explode + corpus-wide prefix hash); the other four collapse to
    # |weeks| / |cohorts| / |labels|-row frames after one scan and are
    # overhead-bound at sf0.1 — see SCALE.md round-8 decade table.
    "q_text_vocab_growth",
    "q_split_assign",
    # round-8 waves 5-6: the two heavy additions (chunk-blocked payload
    # phash with the hot-bucket cap; the 3-way Lloyd sweep), tracked
    # from birth.
    "q_multimodal_phash_dedup",
    "q_embed_kmeans_elbow",
]

# FROZEN as of round 9 (VERDICT r8 item 8): HEADLINE is the 53-query set
# BENCH_r08 recorded, and `value` (headline_suite_wall) stays the sum over
# exactly this set so the suite-wall number is comparable round-over-round
# forever.  Operators added in round 9+ go in TRACKED below: same warm +
# 3-pass median protocol, reported separately as `tracked` / `tracked_wall`
# in the JSON (and they still get birth baselines via
# tools/birth_baselines.py — the 2x ratio gate covers both sets).
TRACKED: list[str] = [
    # round-9 wave 7: survival pays the full sessionize window over the
    # event stream, jaccard pays the kNN edge build + wedge join, purity
    # the x|cells| assignment fan-out — all data-proportional at sf0.1.
    # q_ts_holt collapses to a |days| frame after one scan and is
    # overhead-bound (the q_ts_ewma precedent) — not tracked.
    "q_evt_survival",
    "q_graph_jaccard_neighbors",
    "q_embed_cell_purity",
    # round-9 wave 8: hard negatives pays the IVF candidate join (the
    # q_sim_knn_batch shape), session features the full sessionize window
    # + |sessions|-row output.
    "q_sim_hard_negatives",
    "q_evt_session_features",
    # round-9 wave 9: the hierarchical-assignment kNN join (the x100
    # assignment knob), same candidate stage as q_sim_knn_batch.
    "q_sim_knn_batch_2level",
    # round-10 newborns (VERDICT r10 item 3): concurrency pays the full
    # sessionize window + two-level prefix sum, bpe_train N_MERGES
    # counting shuffles over the vocab-bounded symbol table,
    # stream_session_features the microbatch replay + MERGE sink.
    "q_evt_concurrency",
    "q_text_bpe_train",
    "q_stream_session_features",
    # round-11 newborns (data-proportional ones; q_data_epochs and
    # q_meta_orphan_files are tiny-frame / scripted-scenario ops — the
    # q_ts_holt not-tracked precedent): the stream joins pay watermarked
    # state + eviction flush, transform_state per-key state-store
    # overhead, seq_patterns the sessionize shuffle + bounded cross
    # join, range_ivf the IVF candidate join.
    "q_stream_join_outer",
    "q_stream_join_full",
    "q_stream_dim_join",
    "q_stream_transform_state",
    "q_evt_seq_patterns",
    "q_sim_range_ivf",
    # round-11 wave 2 (the data-proportional pair; fuzzy_match/regexp/
    # cusum/refs collapse to dictionary/tiny frames — not tracked):
    # weighted_median pays the per-group sorted scan over lineitem, LPA
    # the kNN edge build + 3 vote shuffles.
    "q_agg_weighted_median",
    "q_graph_label_propagation",
    # round-11 wave 3: winnow pays the gram explode + sliding-window
    # selection + shared-hash shuffle (2.76x at x10; r12 re-planned the
    # band join to a join-free ROWS-frame min); pmi the basket
    # collapse (2.36x); moments is one map-combined agg (0.96x, kept as
    # the cheap canary of the 4-power-sum combine).
    "q_text_winnow",
    "q_evt_pmi",
    "q_agg_moments",
    # round-11 late add, tracked from its first bench round (r12 — the
    # r3-item-6 birth convention): winnow selection + df-capped
    # rare-hash self-join pairing.
    "q_dedup_winnow_pairs",
    # round-12 newborns above the overhead floor (idle-box medians 3.0 s /
    # 1.1 s at birth): kcore pays the LSH edge build + 4 peel rounds,
    # paths the sessionize shuffle.  The other four r12 ops are
    # overhead-bound at sf0.1 (dow_profile 0.45 s, kmv 0.72 s, sub_all
    # 0.54 s, spatial_grid 0.80 s) — not tracked, the q_ts_ewma precedent.
    "q_graph_kcore",
    "q_evt_paths",
    # round-12 wave 2: theta set-ops pays the DISTINCT (type,hash) sketch
    # shuffle + the exact-overlap user-universe joins (1.68 s at birth).
    # intersect_all/join_nearest/dq_gap_hours/scan_runtime_filter are
    # overhead-bound at sf0.1 (0.58-1.05 s) — not tracked, the q_ts_ewma
    # precedent.
    "q_agg_theta_intersect",
    # round-12 wave 3: both pay the kNN edge build (the jaccard_neighbors
    # shape; 2.5 s / 2.2 s at birth).  changepoint/velocity collapse to
    # |days| / per-user window frames (0.49 s / 0.50 s) — not tracked.
    "q_graph_clustering_coeff",
    "q_graph_assortativity",
    # round-12 wave 4: stream_velocity pays the micro-batch replay +
    # per-user state fold (4.99 s at birth, the stream-harness floor).
    # collocations/burstiness collapse to vocab-bounded frames after one
    # explode (1.01 s / 0.58 s) — not tracked.
    "q_stream_velocity",
    # round-12 wave 6: DBSCAN pays the cell-keyed candidate join + 16
    # min-label rounds (4.54 s at birth).  neyman/bot_score collapse to
    # |strata| / |users| frames (0.61 s / 0.49 s) — not tracked.
    "q_cluster_dbscan",
    # round-13 newborns above the overhead floor (recorded birth
    # baselines, bench_runs/birth_baselines.json from r13_local_idle_85q):
    # stream_bitmap pays the micro-batch replay + per-word state
    # (3.817 s, the stream-harness floor), ivf_pq the assignment +
    # encode + cell-routed ADC (1.46 s), role_playing the lineitem⋈orders
    # shuffle (1.68 s), dedup_index_stats the signature pipeline
    # (1.23 s).  The other 20 r13 ops are overhead-bound at sf0.1
    # (0.2-1.4 s medians) — not tracked, the q_ts_ewma precedent.
    "q_stream_bitmap_distinct",
    "q_sim_ann_ivf_pq",
    "q_join_role_playing",
    "q_dedup_index_stats",
    # round-13 wave 2: exact heavy hitters pay per-(type, user) state —
    # ~750k state keys at sf0.1, the q_stream_transform_state per-key
    # Arrow-group cost shape (8.03 s recorded birth baseline,
    # r13_local_idle_86q).  q_agg_grouping_id is one
    # rollup aggregate (0.45 s) — not tracked.
    "q_stream_topk",
    # round-14 newborns above the overhead floor (recorded birth
    # baselines, bench_runs/birth_baselines.json from r14_local_idle_94q
    # — standalone 3-pass medians ran 1.2-1.5x higher, /tmp/measure_r14*):
    # retrieval_eval pays the two probe-batch x corpus brute-force
    # directions (3.846 s), late_audit the 5-batch watermarked replay
    # (birth pin MOVED r15 to 4.704 s, median4 standalone — includes the
    # r15 oracle-structure guard's two count jobs; BASELINE.md r15
    # adjudication), dq_referential 7 FK edges (1.963 s; r15 restructure
    # to one full-outer join + one agg per edge restored the level after
    # the 1.37x drift flag — BASELINE.md), ivf_pq_recall_eval the exact-L2 baseline + ADC
    # funnel (2.551 s), index_update the delta encode + cataloged-index
    # search (1.88 s), topk_bounded the 4-batch changelog replay
    # (2.088 s), dq_uniqueness 8 key-count scans (1.552 s).
    # perplexity_bigram (1.20 s) and the evt ops are overhead-bound —
    # not tracked.
    "q_multimodal_retrieval_eval",
    "q_stream_late_audit",
    "q_dq_referential",
    "q_sim_ivf_pq_recall_eval",
    "q_sim_index_update",
    "q_stream_topk_bounded",
    "q_dq_uniqueness",
    # modularity pays the LPA rounds + two label joins over the cached
    # kNN edges (1.765 s recorded birth baseline, r14_local_idle_94q)
    "q_graph_modularity",
    # round-15 newborns (recorded birth baselines, birth_baselines.json
    # from the r15 3-pass idle run): graph_search pays the beam rounds'
    # localCheckpoints + the exact audit arm (3.954 s), bpe_apply the
    # 8 merge rounds over the vocab symbol table + the doc readout join
    # (4.221 s), drift_psi the 4-file ntile replay + per-batch bin aggs
    # (4.36 s, stream-harness floor; was 23.6 s before the r15
    # JVM-side-1-row-write fix — createDataFrame(local list).write costs
    # ~5 s/call in this harness)
    "q_sim_graph_search",
    "q_tokenizer_bpe_apply",
    "q_stream_drift_psi",
    # round-15 wave 2: bootstrap pays the explode-x16 weighted aggregate
    # (2.532 s recorded birth baseline, birth_baselines.json r15 wave-2);
    # q_ts_periodogram (0.85 s) and q_evt_sprt (0.73 s) are
    # overhead-bound at sf0.1 — not tracked, the q_ts_ewma precedent.
    "q_sample_bootstrap",
    # round-15 wave 3: filtered ANN pays the IVF assignment + candidate
    # label join (2.466 s recorded birth baseline, birth_baselines.json
    # r15 wave-3); q_evt_did (0.83 s) and q_dq_freshness (0.79 s) are
    # overhead-bound — not tracked.
    "q_sim_ann_ivf_filtered",
    # round-16 newborns above the ~1.5 s floor (recorded birth baselines,
    # birth_baselines.json r16 standalone 3-pass): edge_audit replays the
    # IVF assignment + digests every LPA round over the cached edges
    # (3.914 s); rake pays tokenize-explode + the phrase/word-stat joins
    # (2.586 s).  The other eight r16 newborns are overhead-bound at
    # sf0.1 (0.37-1.30 s) — not tracked, the q_ts_ewma precedent.
    "q_graph_edge_audit",
    "q_text_rake",
    # round-16 wave 4: eccentricity pays the per-round frontier joins
    # over the cached edges (3.380 s recorded birth baseline,
    # birth_baselines.json r16 wave-4); q_ts_theta (1.02 s) is
    # overhead-bound — not tracked.
    "q_graph_eccentricity",
]


def _sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1).rstrip(".")) if m else -1.0


def run_one(spark, fn) -> float:
    t0 = time.perf_counter()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    # Release localCheckpoint RDDs, cached plans, memory-sink views AND
    # run one driver GC (outside the timed window — harness hygiene, each
    # query is measured standalone).  Without the release the suite
    # accumulates hundreds of leaked checkpoint RDDs across 4 passes and
    # q_graph_triangles read 16.5 s in-suite vs 6.5 s standalone (r9).
    # The GC moved from pass boundaries to per-query in r16-OPT after a
    # bisect showed the streaming family's JVM garbage (state-store maps,
    # shuffle buffers of 8 drained streams) was being collected INSIDE
    # the next memory-heavy query's timed window: triangles measured
    # 6.6 s clean, 21.4 s after the stream block with only the shallow
    # release, 8.9 s after a deep release — python-side gc.collect() and
    # StateStore.stop() were both tried and neither helped, so the JVM
    # heap backlog is the mechanism, and pass-boundary GC leaves 3/4 of
    # every pass measuring the backlog.  Costs ~0.1-0.5 s of UNTIMED
    # wall per query.  See operators/common.py release_persistent_state.
    release_persistent_state_deep(spark)
    return elapsed


N_PASSES = 3


def main() -> None:
    spark = get_spark("bench")
    # Shuffle partitions: min(32, $SPARK_GRAFT_CPUS).  At the reference
    # core count (32) this is the same hard 32 every prior round pinned,
    # so round-over-round deltas stay attributable to the code; at the
    # driver's LOW-CORE probe the partition count now follows the env so
    # the scaling measurement can actually move (VERDICT r16 item 2: the
    # hard 32 flattened every 8-vs-32-core ratio and made the probe read
    # as "$SPARK_GRAFT_CPUS ignored" — it never was; session.py builds
    # local[$SPARK_GRAFT_CPUS]).
    eff_cpus = default_parallelism()
    spark.conf.set("spark.sql.shuffle.partitions", str(min(32, eff_cpus)))
    qs = registry.queries()
    head_names = [n for n in HEADLINE if n in qs]
    tracked_names = [n for n in TRACKED if n in qs]
    names = head_names + tracked_names

    # Full untimed warm pass BEFORE the timed passes (VERDICT r6 item 7):
    # checkpoint-heavy queries (q_graph_triangles) previously folded their
    # first-run edge materialization / page-cache misses into the pass-1
    # sample, producing birth spreads of ~5 s on an 8 s median.  One warm
    # run per query leaves all three timed samples measuring the plan.
    for name in names:
        run_one(spark, qs[name])
    release_persistent_state_deep(spark)

    # Three interleaved passes, per-query MEDIAN, spread recorded.
    # A single sample folds in whole-stage-codegen JIT warmup and host
    # scheduling jitter (observed >1.8x run-to-run swings on an otherwise
    # idle box at sf0.1, where fixed overheads dominate the ~17 MB scan).
    # The median of three is robust in both directions — one slow sample
    # (scheduling stall) and one fast fluke both drop out — and the
    # per-query spread (max - min across passes) makes run-to-run noise
    # visible next to any regression it might otherwise masquerade as.
    # NOTE vs rounds 3-4: those reported min-of-2, so medians here read
    # systematically a few % higher for equal plans; compare within-statistic.
    samples: dict[str, list[float]] = {n: [] for n in names}
    # Deep release (one driver System.gc()) at PASS boundaries: shuffle /
    # broadcast registrations are reclaimed by ContextCleaner only on
    # driver GC, so without it the backlog grows monotonically across the
    # whole suite and the memory-heaviest queries drift pass-over-pass
    # (triangles sampled 10.6 -> 12.6 -> 16.9 s in the round-9 pre-fix
    # run — the bench measured the backlog, not the plan).  Pass-boundary
    # (not per-query) placement keeps the cleaner's async file deletions
    # out of the next timed window; each pass then runs under the same
    # bounded one-pass backlog, so medians are comparable.
    for _ in range(N_PASSES):
        for name in names:
            samples[name].append(run_one(spark, qs[name]))
        release_persistent_state_deep(spark)
    times = {n: round(sorted(v)[len(v) // 2], 3) for n, v in samples.items()}
    spread = {n: round(max(v) - min(v), 3) for n, v in samples.items()}

    # TRUNCATION-PROOF OUTPUT CONTRACT (VERDICT r6 item 3): the driver
    # captures only the last N bytes of stdout, and BENCH_r06 lost its
    # TPC-H values when the single JSON line (queries + spread) outgrew
    # that window.  Three layers, cheapest-to-parse last:
    #   1. spread + samples detail -> stderr (never competes for the window)
    #   2. one line-oriented `BENCH name=sec` record per query -> stdout
    #      (each line self-contained; any tail window keeps whole records)
    #   3. the ONE compact JSON line LAST, without spread (~1/3 the size),
    #      so the driver's json parse sees a complete object.
    # The full artifact (spread included) is also written to
    # bench_runs/last_run.json for durable round-over-round comparison.
    print(
        json.dumps({"spread": spread, "samples": {n: [round(x, 3) for x in v] for n, v in samples.items()}}),
        file=sys.stderr,
    )

    # Per-query birth-baseline ratios (VERDICT r7 item 6): the perf gate is
    # "no query >2x the wall time recorded when it first entered the suite";
    # emit the comparison from the bench itself so it is machine-checked
    # per round, not recomputed by hand.  bench_runs/birth_baselines.json
    # is committed; regenerate with tools/birth_baselines.py when queries
    # join the suite.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_runs", "birth_baselines.json")
        ) as f:
            birth = json.load(f)
    except (OSError, ValueError):
        birth = {}
    ratios = {
        n: round(times[n] / birth[n]["sec"], 2)
        for n in names
        if n in birth and birth[n]["sec"] > 0
    }
    print("query                          median  birth(rN)   ratio", file=sys.stderr)
    for n in names:
        b = birth.get(n)
        if b:
            print(
                f"{n:<30} {times[n]:>6.3f}  {b['sec']:>6.3f}(r{b['round']})"
                f"  {ratios[n]:>5.2f}x",
                file=sys.stderr,
            )
        else:
            print(f"{n:<30} {times[n]:>6.3f}     (no birth baseline)", file=sys.stderr)

    for name in names:
        r = f" ratio={ratios[name]}" if name in ratios else ""
        print(f"BENCH {name}={times[name]}{r}")
    worst = max(ratios, key=ratios.get) if ratios else None
    out = {
        "metric": "headline_suite_wall",
        # `value` sums the FROZEN headline set only — comparable to
        # BENCH_r08 and every later round regardless of TRACKED growth.
        "value": round(sum(times[n] for n in head_names), 3),
        "unit": "sec",
        "queries": {n: times[n] for n in head_names},
        "sf": _sf_from_dir(SF_DIR),
        "passes": N_PASSES,
        "stat": "median",
        "worst_ratio": ratios.get(worst) if worst else None,
        "worst_ratio_query": worst,
        # Observability of the scaling contract (VERDICT r16 item 2): the
        # EFFECTIVE core count and master string, read back from the live
        # session, so a low-core driver probe can verify from the artifact
        # alone that $SPARK_GRAFT_CPUS was honored.
        "cpus": eff_cpus,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
    if tracked_names:
        out["tracked"] = {n: times[n] for n in tracked_names}
        out["tracked_wall"] = round(sum(times[n] for n in tracked_names), 3)
    full = dict(out, spread=spread, birth_ratios=ratios)
    try:
        os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_runs"), exist_ok=True)
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_runs", "last_run.json"), "w"
        ) as f:
            json.dump(full, f)
    except OSError as exc:  # read-only checkout: stdout contract still holds
        print(f"bench: last_run.json not written: {exc}", file=sys.stderr)
    # COMPACT separators and an explicit flush: BENCH_r15's one-line JSON
    # lost its opening brace to the driver's fixed-size stdout tail window
    # (BENCH_r15.json "tail" starts mid-value; rc=0, line complete at the
    # end — the line simply outgrew the window head-first).  Compact
    # encoding cuts ~20% of the line; the flush guarantees the line is the
    # final, unsplit write of the process.
    sys.stderr.flush()
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
