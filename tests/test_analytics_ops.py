"""Semantic invariants for the round-3 analytics/curation operators.

The DuckDB oracles (tools/check_queries.py, driver t2) already pin exact
values; these tests assert the properties that make the results MEANINGFUL
— mass conservation, monotonicity, bounds — so a future refactor that
stays hash-consistent-by-accident still can't silently break semantics.
"""

import pytest

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def qs(spark):
    from iceberg_rest_catalog_spark import registry

    return registry.queries()


def test_pagerank_is_a_probability_vector(spark, qs):
    rows = qs["q_graph_pagerank"](spark, SF).collect()
    assert len(rows) == 5  # the five fixture event types
    assert all(r.rank > 0 for r in rows)
    # every node has out-edges in the dense fixture graph, so the damped
    # update conserves mass (up to the 6-dp output rounding)
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-3


# (user_id, event_type) per graph, each user's events in ts order
PAGERANK_GRAPHS = {
    # a -> b -> a -> c: c is terminal => sink node
    "sink": [(1, "a"), (1, "b"), (1, "a"), (1, "c")],
    # user 2 has a single event: d is in no edge at all
    "isolated": [(1, "a"), (1, "b"), (1, "a"), (2, "d")],
    # s only ever leads somewhere: no in-edges
    "source_only": [(1, "s"), (1, "a"), (1, "b"), (2, "s"), (2, "b")],
    # a -> a
    "self_loop": [(1, "a"), (1, "a"), (1, "b"), (1, "a"), (2, "b"), (2, "b")],
    # first-appearance order z, m, b is the reverse of the sort order
    "unsorted_names": [(1, "z"), (1, "m"), (1, "b"), (1, "z"), (2, "m"), (2, "z")],
}


@pytest.mark.parametrize("graph", sorted(PAGERANK_GRAPHS))
def test_pagerank_keeps_sink_nodes(spark, graph):
    """Every event type is in the rank vector with the damped recurrence's
    value — sinks, isolated and source-only nodes, self-loops, and names
    whose sort order differs from their order of appearance (regression
    for deriving the node set from edges.src, which silently dropped
    sinks)."""
    from iceberg_rest_catalog_spark.operators.graph import DAMPING, ITERS, _pagerank

    events = PAGERANK_GRAPHS[graph]
    ev = spark.createDataFrame(
        [(u, e, i, i) for i, (u, e) in enumerate(events)],
        "user_id long, event_type string, ts long, event_id long",
    )
    got = {r.node: r.rank for r in _pagerank(ev).collect()}

    # reference implementation of the same damped recurrence
    nodes = {e for _, e in events}
    cnt: dict = {}
    for (u, src), (v, dst) in zip(events, events[1:]):
        if u == v:
            cnt[src, dst] = cnt.get((src, dst), 0) + 1
    out = {s: sum(c for (s2, _), c in cnt.items() if s2 == s) for s, _ in cnt}
    edges = {(s, d): c / out[s] for (s, d), c in cnt.items()}
    pr = {n: 1 / len(nodes) for n in nodes}
    for _ in range(ITERS):
        pr = {
            n: 0.15 / len(nodes)
            + DAMPING * sum(pr[s] * p for (s, d), p in edges.items() if d == n)
            for n in nodes
        }
    assert set(got) == nodes
    for n in nodes:
        assert abs(got[n] - pr[n]) < 1e-6, (n, got[n], pr[n])


def test_quantize_preserves_geometry_and_is_deterministic(spark, qs):
    a = qs["q_embed_quantize"](spark, SF).collect()
    # int8 at 64 dims loses almost nothing: dequantized vectors stay
    # essentially colinear with the originals
    assert min(r.cos_dequant for r in a) >= 0.99
    # codes are pure functions of the data — a second run is bit-identical
    b = qs["q_embed_quantize"](spark, SF).collect()
    assert sorted((r.vec_id, r.q_checksum) for r in a) == sorted(
        (r.vec_id, r.q_checksum) for r in b
    )


def test_attribution_partitions_all_purchases(spark, qs):
    from iceberg_rest_catalog_spark.io import load_table

    rows = qs["q_evt_attribution"](spark, SF).collect()
    assert {r.channel for r in rows} <= {"click", "view", "direct"}
    total = (
        load_table(spark, SF, "events").filter("event_type = 'purchase'").count()
    )
    # every purchase is attributed exactly once
    assert sum(r.purchases for r in rows) == total


def test_interpolation_agrees_with_observations_and_bounds(spark, qs):
    rows = qs["q_ts_interpolate"](spark, SF01).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for series in by_user.values():
        series.sort(key=lambda r: r.day)
        # series endpoints are observed by construction
        assert series[0].observed and series[-1].observed
        obs = [r.filled for r in series if r.observed]
        lo, hi = min(obs), max(obs)
        for r in series:
            if r.observed:
                assert r.filled == int(r.filled)  # observed days keep counts
            else:
                # linear interpolation can't leave the observed envelope
                assert lo <= r.filled <= hi


def test_interval_overlap_orients_and_counts_pairs(spark, qs):
    rows = qs["q_join_interval_overlap"](spark, SF).collect()
    assert all(r.u1 < r.u2 for r in rows)
    assert all(r.n_overlaps >= 1 for r in rows)
    assert len({(r.u1, r.u2) for r in rows}) == len(rows)  # one row per pair


def test_shard_assignment_partitions_the_corpus(spark, qs):
    from iceberg_rest_catalog_spark.io import load_table

    rows = qs["q_shard_assign"](spark, SF01).collect()
    assert {r.shard for r in rows} <= set(range(16))
    assert sum(r.n_docs for r in rows) == load_table(
        spark, SF01, "documents"
    ).count()


def test_bpe_pairs_ranked_and_tiebroken(spark, qs):
    rows = qs["q_text_bpe_pairs"](spark, SF01).collect()
    assert len(rows) == 20
    freqs = [r.freq for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    # equal frequencies must come out in pair order (deterministic output)
    for prev, cur in zip(rows, rows[1:]):
        if prev.freq == cur.freq:
            assert prev.pair < cur.pair


def test_hamming_codes_agree_with_signs_and_bound(spark, qs):
    from iceberg_rest_catalog_spark.io import load_table

    rows = qs["q_sim_hamming"](spark, SF).collect()
    assert len(rows) == 20
    hs = [r.hamming for r in rows]
    assert hs == sorted(hs) and all(0 <= h <= 64 for h in hs)
    # codes are the sign pattern of the float vector, bit-for-bit
    emb = {
        r.vec_id: r.embedding
        for r in load_table(spark, SF, "embeddings").collect()
    }
    for r in rows[:5]:
        v = emb[r.vec_id]
        expect_a = sum(1 << i for i in range(32) if v[i] > 0)
        expect_b = sum(1 << i for i in range(32) if v[32 + i] > 0)
        assert (r.code_a, r.code_b) == (expect_a, expect_b)


def test_countmin_never_underestimates(spark, qs):
    """CM sketch guarantee: estimate >= truth, and the top-20 report is
    exactly 20 rows with deterministic (true_cnt desc, key) ranking."""
    rows = qs["q_agg_countmin"](spark, SF).collect()
    assert len(rows) == 20
    assert all(r.cm_est >= r.true_cnt for r in rows)
    assert all(r.overcount == r.cm_est - r.true_cnt for r in rows)
    ranks = [(-r.true_cnt, r.o_custkey) for r in rows]
    assert ranks == sorted(ranks)


def test_wap_audit_gate_blocks_poison_from_main(spark, qs):
    """The published table must contain exactly the clean keys <= 200 —
    the poisoned staged batch (negative prices) never reaches main."""
    from iceberg_rest_catalog_spark.operators.common import t

    out = qs["q_wap_publish"](spark, SF)
    assert out.filter("o_totalprice < 0").count() == 0
    expected = t(spark, SF, "orders").filter("o_orderkey <= 200").count()
    assert out.count() == expected


def test_snapshot_diff_classifies_churn_exactly(spark, qs):
    """Every changelog row is either a delete (a key%10==0 row from the
    first hundred, or the table's min key — the always-matches guard) or
    an insert of a 200<key<=250 row — nothing else."""
    from iceberg_rest_catalog_spark.operators.common import t

    mn = t(spark, SF, "orders").agg({"o_orderkey": "min"}).collect()[0][0]
    rows = qs["q_snapshot_diff"](spark, SF).collect()
    assert rows, "fixture lineage must produce churn"
    for r in rows:
        if r.change_type == "delete":
            assert (r.o_orderkey % 10 == 0 and r.o_orderkey <= 100) or (
                r.o_orderkey == mn
            )
        else:
            assert r.change_type == "insert"
            assert 200 < r.o_orderkey <= 250


def test_tokenizer_char_fallback_bounds(spark, qs):
    """Token cost is 1 per vocab word and len(word) per OOV word, so
    n_tokens >= n_words always, with equality iff the doc is fully
    in-vocab; oov_rate is a proper rate."""
    rows = qs["q_tokenizer_apply"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.oov_rate <= 1.0
        assert r.n_tokens >= r.n_words
        if r.oov_rate == 0.0:
            assert r.n_tokens == r.n_words


def test_caption_pairs_keep_longest_per_bucket(spark, qs):
    """One survivor per SRP bucket; candidates partition the joined
    corpus; the survivor's caption is maximal in its bucket."""
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_caption_pairs"](spark, SF).collect()
    buckets = [r.bucket for r in rows]
    assert len(buckets) == len(set(buckets))
    assert all(set(b) <= {"0", "1"} for b in buckets)
    docs = t(spark, SF, "documents").filter("text IS NOT NULL").select("doc_id")
    emb = t(spark, SF, "embeddings").filter("embedding IS NOT NULL").select("vec_id")
    n_joined = docs.join(emb, docs.doc_id == emb.vec_id).count()
    assert sum(r.n_candidates for r in rows) == n_joined


def test_rolling_dau_bounds_and_coverage(spark, qs):
    """7-day rolling distinct users is bounded below by the day's DAU and
    above by the trailing week's DAU sum; every observed day appears."""
    from iceberg_rest_catalog_spark.operators.common import t
    import datetime as dt

    rows = {r.day: r for r in qs["q_evt_rolling_dau"](spark, SF).collect()}
    n_days = (
        t(spark, SF, "events").selectExpr("to_date(ts) AS d").distinct().count()
    )
    assert len(rows) == n_days
    for day, r in rows.items():
        assert r.rolling_7d_users >= r.dau
        d0 = dt.date.fromisoformat(day)
        week_sum = sum(
            rows[k].dau
            for k in rows
            if 0 <= (d0 - dt.date.fromisoformat(k)).days <= 6
        )
        assert r.rolling_7d_users <= week_sum


def test_matryoshka_recall_is_a_rate(spark, qs):
    """Per-probe recall@5 lies on the {0, .2, .4, .6, .8, 1} grid, one row
    per probe vector."""
    from iceberg_rest_catalog_spark.llm.similarity import MRL_K, MRL_QUERY_MOD
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_embed_matryoshka"](spark, SF).collect()
    n_probes = (
        t(spark, SF, "embeddings")
        .filter(f"embedding IS NOT NULL AND vec_id % {MRL_QUERY_MOD} = 0")
        .count()
    )
    assert len(rows) == n_probes
    grid = {round(i / MRL_K, 4) for i in range(MRL_K + 1)}
    assert all(r[f"recall_at_{MRL_K}"] in grid for r in rows)


def test_histogram_partitions_all_rows(spark, qs):
    """Bucket counts sum to the table row count; edges are ordered and
    buckets lie in [0, 19]."""
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_agg_histogram"](spark, SF).collect()
    total = t(spark, SF, "orders").count()
    assert sum(r.n for r in rows) == total
    assert all(0 <= r.bucket <= 19 for r in rows)
    assert all(r.bucket_lo < r.bucket_hi for r in rows)


def test_balanced_sample_equalizes_classes(spark, qs):
    """Every language keeps exactly n_min docs."""
    from collections import Counter

    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_sample_balanced"](spark, SF).collect()
    kept = Counter(r.lang for r in rows)
    full = {
        r.lang: r.c
        for r in t(spark, SF, "documents")
        .filter("text IS NOT NULL")
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "c")
        .collect()
    }
    n_min = min(full.values())
    assert set(kept) == set(full)
    assert all(v == n_min for v in kept.values())


def test_rfm_scores_are_balanced_quartiles(spark, qs):
    """Each score dimension is 1..4 and ntile keeps bucket sizes within
    one of each other."""
    from collections import Counter

    rows = qs["q_evt_rfm"](spark, SF).collect()
    for dim in ("r_score", "f_score", "m_score"):
        c = Counter(getattr(r, dim) for r in rows)
        assert set(c) == {1, 2, 3, 4}
        assert max(c.values()) - min(c.values()) <= 1


def test_meta_history_walks_main_lineage_only(spark, qs):
    """History is append → overwrite (the CoW DELETE) → append, oldest
    first, exactly one current head."""
    rows = sorted(qs["q_meta_history"](spark, SF).collect(), key=lambda r: r.seq)
    assert [r.operation for r in rows] == ["append", "overwrite", "append"]
    assert [r.is_current for r in rows] == [False, False, True]


def test_partition_stats_match_data_counts(spark, qs):
    """Manifest record counts per partition equal the data's actual
    per-year counts — metadata is exact."""
    from iceberg_rest_catalog_spark.operators.common import t

    meta = {
        r.partition_year: r.n_records
        for r in qs["q_meta_partition_stats"](spark, SF).collect()
    }
    truth = {
        r.y: r.c
        for r in t(spark, SF, "orders")
        .filter("o_orderkey <= 2000")
        .selectExpr("year(o_orderdate) AS y")
        .groupBy("y")
        .count()
        .withColumnRenamed("count", "c")
        .collect()
    }
    assert meta == truth


def test_ks_drift_is_a_proper_statistic(spark, qs):
    """KS lies in [0,1]; sample sizes partition the non-null values."""
    from iceberg_rest_catalog_spark.operators.common import t

    r = qs["q_evt_drift_ks"](spark, SF).collect()[0]
    assert 0.0 <= r.ks_stat <= 1.0
    total = t(spark, SF, "events").filter("value IS NOT NULL").count()
    assert r.n_a + r.n_b == total
    assert r.n_a > 0 and r.n_b > 0


def test_stream_wap_quarantines_only_the_poison_batch(spark, qs):
    """Main contains every clean purchase and zero NULL-value rows; the
    poisoned batch (event_id % 7 == 0, nulled) never publishes."""
    from iceberg_rest_catalog_spark.operators.common import t

    out = qs["q_stream_wap"](spark, SF)
    assert out.filter("value IS NULL").count() == 0
    assert out.filter("event_id % 7 = 0").count() == 0
    expected = (
        t(spark, SF, "events")
        .filter("event_type = 'purchase' AND value IS NOT NULL AND event_id % 7 <> 0")
        .count()
    )
    assert out.count() == expected


def test_eval_sweep_counts_are_consistent(spark, qs):
    """n_both <= min(n_pred, n_true); counts shrink as thresholds rise;
    rates live in [0,1]."""
    rows = sorted(
        qs["q_dedup_eval_sweep"](spark, SF01).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == [0.3, 0.5, 0.7, 0.9]
    for r in rows:
        assert r.n_both <= min(r.n_pred, r.n_true)
        assert 0.0 <= r.precision_at <= 1.0 and 0.0 <= r.recall_at <= 1.0
    for a, b in zip(rows, rows[1:]):
        assert b.n_pred <= a.n_pred and b.n_true <= a.n_true


def test_forecast_eval_scores_only_aligned_days(spark, qs):
    """MAE >= |bias| always (triangle inequality on the mean), and every
    type scores fewer days than it has (the first week has no
    reference)."""
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_evt_forecast_eval"](spark, SF).collect()
    assert rows
    days_per_type = {
        r.event_type: r.c
        for r in t(spark, SF, "events")
        .selectExpr("event_type", "to_date(ts) AS d")
        .distinct()
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "c")
        .collect()
    }
    for r in rows:
        assert r.mae >= abs(r.bias) - 1e-9
        assert 0 < r.n_days_scored < days_per_type[r.event_type]


def test_pattern_match_counts_consecutive_triples(spark, qs):
    """Every reported user truly has >= n_matches consecutive
    view,click,purchase triples; event-type tokens share no suffixes (the
    precondition for the unanchored substring scan)."""
    from iceberg_rest_catalog_spark.operators.common import t

    types = [
        r.event_type
        for r in t(spark, SF, "events").select("event_type").distinct().collect()
    ]
    for a in types:
        for b in types:
            assert a == b or not a.endswith(b), (a, b)

    rows = qs["q_evt_pattern_match"](spark, SF).collect()
    assert rows
    ev = (
        t(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e)
    for r in rows[:10]:
        tl = sorted(by_user[r.user_id], key=lambda e: (e.ts, e.event_id))
        seq = [e.event_type for e in tl]
        # non-overlapping scan, exactly the regex engine's semantics
        n, i = 0, 0
        while i <= len(seq) - 3:
            if seq[i : i + 3] == ["view", "click", "purchase"]:
                n += 1
                i += 3
            else:
                i += 1
        assert n == r.n_matches


def test_ivm_equals_direct_recompute(spark, qs):
    """The maintained aggregate equals a direct recompute over the final
    table state — the IVM correctness contract, checked end to end."""
    from iceberg_rest_catalog_spark.catalog.data_queries import (
        _cdc_lineage_table,
    )

    maintained = {
        r.o_custkey: (r.n_orders, r.sum_price)
        for r in qs["q_incremental_agg_maintenance"](spark, SF).collect()
    }
    tbl = _cdc_lineage_table(spark, SF)
    direct = {
        r.o_custkey: (r.n, round(r.s, 4))
        for r in tbl.df(spark)
        .groupBy("o_custkey")
        .agg({"*": "count", "o_totalprice": "sum"})
        .withColumnRenamed("count(1)", "n")
        .withColumnRenamed("sum(o_totalprice)", "s")
        .collect()
    }
    assert maintained == direct


def test_dim_stats_cover_every_dimension(spark, qs):
    """Exactly 64 rows; min <= mean <= max; std is non-negative."""
    rows = qs["q_embed_dim_stats"](spark, SF).collect()
    assert sorted(r.dim for r in rows) == list(range(64))
    for r in rows:
        assert r.min_x <= r.mean_x <= r.max_x
        assert r.std_x >= 0.0
        assert r.n_zero >= 0


def test_corpus_report_conserves_volumes(spark, qs):
    """Doc counts sum to the corpus; dup counts are bounded by docs-1
    per source; length envelope ordered."""
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_corpus_report"](spark, SF).collect()
    total = t(spark, SF, "documents").filter("text IS NOT NULL").count()
    assert sum(r.n_docs for r in rows) == total
    for r in rows:
        assert 0 <= r.n_exact_dups < r.n_docs
        assert r.min_chars <= r.avg_chars <= r.max_chars


def test_entropy_bounded_by_log_types(spark, qs):
    """0 <= H <= ln(|event types|) for every day."""
    import math

    from iceberg_rest_catalog_spark.operators.common import t

    k = t(spark, SF, "events").select("event_type").distinct().count()
    rows = qs["q_agg_entropy"](spark, SF).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r.entropy <= math.log(k) + 1e-9


def test_asof_tolerance_nulls_stale_matches(spark, qs):
    """Fresh rows carry staleness <= 30 min; stale/no-match rows have
    BOTH value and staleness NULL; the tolerance-free asof join is a
    superset of the fresh matches."""
    rows = qs["q_join_asof_tolerance"](spark, SF).collect()
    assert rows
    n_fresh = 0
    for r in rows:
        if r.staleness_s is not None:
            n_fresh += 1
            assert 0 <= r.staleness_s <= 30 * 60
            assert r.last_click_value is not None
        else:
            assert r.last_click_value is None
    assert 0 < n_fresh < len(rows)  # the bound actually bites


def test_ab_test_is_calibrated_null(spark, qs):
    """The A/A split: cohorts partition the purchasing users, and the
    null z-statistic is finite (a reasonable magnitude, not NaN/inf)."""
    from iceberg_rest_catalog_spark.operators.common import t

    r = qs["q_evt_ab_test"](spark, SF).collect()[0]
    total = (
        t(spark, SF, "events")
        .filter("event_type = 'purchase' AND value IS NOT NULL")
        .select("user_id")
        .distinct()
        .count()
    )
    assert r.n_a + r.n_b == total
    assert abs(r.z_stat) < 10  # null split: no astronomical significance


def test_cross_source_pairs_have_distinct_sources(spark, qs):
    rows = qs["q_dedup_cross_source"](spark, SF01).collect()
    assert rows
    for r in rows:
        assert r.source_a != r.source_b
        assert r.est_jaccard >= 0.5


def test_gini_is_a_bounded_inequality_index(spark, qs):
    r = qs["q_agg_gini"](spark, SF).collect()[0]
    assert 0.0 <= r.gini < 1.0
    assert r.n_customers > 0 and r.total_spend > 0


def test_langid_eval_shares_sum_to_one_per_class(spark, qs):
    from collections import defaultdict

    rows = qs["q_text_langid_eval"](spark, SF01).collect()
    by_lang = defaultdict(float)
    for r in rows:
        by_lang[r.lang] += r.frac_of_actual
    for lang, s in by_lang.items():
        assert abs(s - 1.0) < 0.01, (lang, s)


def test_rerank_final_set_within_hamming_shortlist(spark, qs):
    """Every re-ranked winner must be one of the Hamming candidates, and
    the final ranking is by exact cosine."""
    rerank = qs["q_sim_rerank"](spark, SF).collect()
    assert len(rerank) == 5
    coss = [r.cos for r in rerank]
    assert coss == sorted(coss, reverse=True)
    assert all(0 <= r.hamming <= 64 for r in rerank)


def test_column_stats_probe_reads_metadata_only(spark, qs):
    """All three columns report, with zero nulls and NDV inside its
    asserted band (the boolean IS the assertion)."""
    rows = {r.col: r for r in qs["q_meta_column_stats"](spark, SF).collect()}
    assert set(rows) == {"o_orderkey", "o_custkey", "o_totalprice"}
    for r in rows.values():
        assert r.nulls == 0
        assert r.ndv_within_10pct


def test_stream_hll_merges_across_batches(spark, qs):
    """Per-type exact counts match the batch answer and every merged
    estimate met its accuracy contract."""
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_stream_hll"](spark, SF).collect()
    truth = {
        r.event_type: r.n
        for r in t(spark, SF, "events")
        .selectExpr("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got = {r.event_type: r.exact_users for r in rows}
    assert got == truth
    assert all(r.merged_within_5pct for r in rows)


def test_heatmap_cells_partition_traffic(spark, qs):
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_evt_heatmap"](spark, SF).collect()
    assert all(1 <= r.dow <= 7 and 0 <= r.hod <= 23 for r in rows)
    assert sum(r.n for r in rows) == t(spark, SF, "events").count()
    assert abs(sum(r.share for r in rows) - 1.0) < 0.01


def test_decompose_residuals_cancel_against_trend(spark, qs):
    """n = trend + residual per row (to rounding), and only full-window
    rows appear."""
    rows = qs["q_ts_decompose"](spark, SF).collect()
    assert rows
    for r in rows:
        assert abs((r.trend + r.residual) - r.n) < 1e-3


def test_autocorr_values_are_correlations(spark, qs):
    rows = qs["q_ts_autocorr"](spark, SF).collect()
    assert rows
    for r in rows:
        for v in (r.acf_1, r.acf_7):
            if v is not None:
                assert -1.0 - 1e-9 <= v <= 1.0 + 1e-9


def test_triangles_match_exact_python_count(spark, qs):
    """Triangle and edge counts equal a brute-force python recount of the
    same co-presence edge relation; closure rate is a proper fraction."""
    r = qs["q_graph_triangles"](spark, SF).collect()[0]
    assert r.n_edges > 0 and r.n_triangles > 0
    assert 0.0 <= r.closure_rate <= 1.0
    edges = {
        (e.u1, e.u2)
        for e in qs["q_join_interval_overlap"](spark, SF).collect()
    }
    assert r.n_edges == len(edges)
    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
    tri = sum(
        1
        for (a, b) in edges
        for c in nbrs.get(b, ())
        if c in nbrs.get(a, ())
    )
    assert r.n_triangles == tri


def test_triangles_sparse_path_matches_dense(spark, qs, monkeypatch):
    """The wedge-join (sparse) branch and the bitset (dense) branch are the
    same counting function in opposite density regimes — forcing the sparse
    branch must reproduce the dense branch's row exactly."""
    from iceberg_rest_catalog_spark.operators import graph

    dense = qs["q_graph_triangles"](spark, SF).collect()[0]
    monkeypatch.setattr(graph, "_DENSE_MAX_NODES", 0)
    sparse = qs["q_graph_triangles"](spark, SF).collect()[0]
    assert dense == sparse


def test_udf_arrow_matches_jvm_arithmetic(spark, qs):
    """The Arrow-batch computation equals the same arithmetic as a JVM
    expression, row for row."""
    from iceberg_rest_catalog_spark.operators.common import t
    from pyspark.sql import functions as F

    got = {
        (r.l_orderkey, r.l_linenumber): (r.net, r.volume)
        for r in qs["q_udf_arrow"](spark, SF).collect()
    }
    ref = {
        (r.l_orderkey, r.l_linenumber): (r.net, r.volume)
        for r in t(spark, SF, "lineitem")
        .filter("l_orderkey <= 500")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net"),
            F.round(F.col("l_quantity") * F.col("l_extendedprice"), 4).alias("volume"),
        )
        .collect()
    }
    # pyarrow and the JVM round through different float paths, so the
    # doubles can differ in their last bits (54190.922099999996 vs
    # 54190.9221) — identical at the 4-dp precision both claim
    assert set(got) == set(ref)
    for k, (n1, v1) in got.items():
        n2, v2 = ref[k]
        assert abs(n1 - n2) < 1e-6 and abs(v1 - v2) < 1e-6


def test_kanon_suppresses_small_groups_and_conserves_mass(spark, qs):
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_agg_kanon"](spark, SF).collect()
    total = t(spark, SF, "documents").filter("text IS NOT NULL").count()
    assert sum(r.n for r in rows) == total
    for r in rows:
        if r.lang != "*":
            assert r.n >= 5 and r.n_merged_groups == 1
    stars = [r for r in rows if r.lang == "*"]
    assert len(stars) <= 1


def test_dedup_apply_partitions_the_corpus(spark, qs):
    """Survivors + removed docs account for the whole (non-null-text)
    corpus exactly once; every survivor's provenance is consistent."""
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_dedup_apply"](spark, SF01).collect()
    total = t(spark, SF01, "documents").filter("text IS NOT NULL").count()
    assert sum(r.cluster_size for r in rows) == total
    assert all(r.n_removed == r.cluster_size - 1 for r in rows)
    assert len({r.doc_id for r in rows}) == len(rows)
    assert any(r.cluster_size > 1 for r in rows)  # fixture has planted dups


# -- round-6 additions: cc / mmr / curriculum --------------------------------


def test_cc_matches_python_union_find(spark, qs):
    """Exact recount: min-label CC over the transition graph must equal a
    driver-side union-find over the same edges (8 rounds converge on the
    fixture graph, whose diameter is far below the budget)."""
    import duckdb

    con = duckdb.connect()
    edges = con.execute(
        f"""SELECT DISTINCT src, dst FROM (
              SELECT event_type AS src,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS dst
              FROM read_parquet('{SF}/events.parquet'))
            WHERE dst IS NOT NULL AND src <> dst"""
    ).fetchall()
    nodes = con.execute(
        f"SELECT DISTINCT event_type FROM read_parquet('{SF}/events.parquet')"
    ).fetchall()
    parent = {n: n for (n,) in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min-id representative per component
    want = {}
    for (n,) in nodes:
        root = find(n)
        want.setdefault(root, []).append(n)
    expect = {n: min(members) for members in want.values() for n in members}

    got = {r.node: r.component for r in qs["q_graph_cc"](spark, SF).collect()}
    assert got == expect


def test_mmr_first_pick_is_relevance_top1_and_scores_decay(spark, qs):
    from iceberg_rest_catalog_spark.llm.similarity import MMR_K, MMR_PROBES

    rows = qs["q_sim_mmr"](spark, SF01).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(MMR_PROBES))
    for qid, picks in by_q.items():
        picks.sort(key=lambda r: r.rank)
        assert [r.rank for r in picks] == list(range(1, MMR_K + 1))
        # no repeats: the whole point of the diversifier
        assert len({r.vec_id for r in picks}) == MMR_K
        # greedy marginal gain is non-increasing: each round the penalty
        # only grows and the pool only shrinks
        scores = [r.mmr for r in picks]
        assert all(a >= b for a, b in zip(scores, scores[1:]))
    # pick 1 is the plain relevance argmax of the CANDIDATE POOL — lambda
    # scales all first-round scores equally. Recompute the pool's top
    # rounded relevance independently (the previous form compared
    # picks[0].mmr to itself — ADVICE r6).
    from iceberg_rest_catalog_spark.llm.similarity import (
        MMR_CANDIDATES,
        MMR_LAMBDA,
        _cos,
        _dbl,
        _emb,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = _emb(spark, SF01).select("vec_id", _dbl("embedding").alias("emb"))
    q = emb.filter(F.col("vec_id") < MMR_PROBES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("rel"), "vec_id")
    top_rel = {
        r.qid: r.top_rel
        for r in (
            emb.join(F.broadcast(q), emb.vec_id != q.qid)
            .select(
                "qid",
                "vec_id",
                F.round(_cos("emb", "qe"), 4).alias("rel"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= MMR_CANDIDATES)
            .groupBy("qid")
            .agg(F.round(F.max("rel") * MMR_LAMBDA, 4).alias("top_rel"))
            .collect()
        )
    }
    for qid, picks in by_q.items():
        assert abs(picks[0].mmr - top_rel[qid]) < 1e-9


def test_curriculum_is_a_bucket_ordered_permutation(spark, qs):
    rows = qs["q_curriculum_order"](spark, SF01).collect()
    steps = sorted(r.step for r in rows)
    assert steps == list(range(1, len(rows) + 1))  # total order, no gaps
    # curriculum invariant: every quartile-k step precedes every
    # quartile-(k+1) step, and difficulty is monotone across the boundary
    for b in range(1, 4):
        cur = [r for r in rows if r.bucket == b]
        nxt = [r for r in rows if r.bucket == b + 1]
        assert cur and nxt
        assert max(r.step for r in cur) < min(r.step for r in nxt)
        assert max(r.difficulty for r in cur) <= min(r.difficulty for r in nxt)


def test_semantic_dedup_blocks_by_kmeans_and_keeps_earliest(spark, qs):
    """Survivors must be: (a) assigned the same cluster q_cluster_kmeans
    gives them (shared blocking), (b) consistent with keep-earliest
    pairwise marking — a vector is dropped iff SOME earlier cluster member
    is above threshold, so the minimum-vec_id member of every cluster can
    never be dropped — and (c) the threshold actually fires on the
    fixture (a vacuous dedup would pass (a)+(b) trivially)."""
    from iceberg_rest_catalog_spark.llm.dedup import SEM_THRESHOLD

    sem = {r.vec_id: r.cluster for r in qs["q_dedup_semantic"](spark, SF01).collect()}
    km = {r.vec_id: r.cluster for r in qs["q_cluster_kmeans"](spark, SF01).collect()}
    assert sem == {v: c for v, c in km.items() if v in sem}  # same clustering
    by_cell = {}
    for v, c in km.items():
        by_cell.setdefault(c, []).append(v)
    for c, members in by_cell.items():
        assert min(members) in sem  # the earliest member can never be dropped
    dropped = set(km) - set(sem)
    assert dropped  # threshold is low enough to actually fire on the fixture


def test_bloom_audit_has_no_false_negatives(spark, qs):
    """Bloom contract: every member text flags (no false negatives), so
    n_flagged decomposes exactly into members + false positives; the
    fixture's fill ratio must produce at least one real FP (a filter too
    big to ever collide would make the audit vacuous)."""
    r = qs["q_agg_bloom"](spark, SF01).collect()[0]
    assert r.n_flagged == r.n_member_text + r.n_false_pos
    assert r.n_member_text > 0
    assert r.n_false_pos > 0
    assert r.n_flagged < r.n_docs  # and it isn't flagging everything


def test_conversion_lag_bounds_and_population(spark, qs):
    """Latency stats must be internally consistent (0 <= p50 <= p90,
    mean >= 0) and converting users a subset of touched users — no
    conversion without an acquisition touch."""
    from iceberg_rest_catalog_spark.io import load_table

    rows = qs["q_evt_conversion_lag"](spark, SF01).collect()
    assert {r.touch_type for r in rows} <= {"view", "click"}
    for r in rows:
        assert 0 <= r.p50_minutes <= r.p90_minutes
        assert r.avg_minutes >= 0
    touched = (
        load_table(spark, SF01, "events")
        .filter("event_type IN ('view', 'click')")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_conversions for r in rows) <= touched


def test_widen_repartitions_only_few_split_inputs(spark):
    """widen() must lift a below-parallelism input to the session's shuffle
    partition count and leave an already-wide input untouched (no extra
    shuffle at real scale, where scans arrive many-split)."""
    from iceberg_rest_catalog_spark.operators.common import widen

    want = int(spark.conf.get("spark.sql.shuffle.partitions"))
    narrow = spark.range(0, 1000, 1, 2).withColumnRenamed("id", "k")
    assert widen(narrow, "k").rdd.getNumPartitions() == want

    wide = spark.range(0, 1000, 1, want + 8).withColumnRenamed("id", "k")
    out = widen(wide, "k")
    assert out is wide  # identical frame object: provably no added shuffle
    # and values survive the round-trip unchanged
    assert sorted(r.k for r in widen(narrow, "k").collect()) == list(range(1000))


def test_dq_rules_match_python_recompute(spark, qs):
    """Every rule's (checked, violations) equals a pure-python recompute
    over the raw tables, and the fixture exercises BOTH outcomes (some
    rules catch violations, some pass clean)."""
    from iceberg_rest_catalog_spark.operators.common import t
    from iceberg_rest_catalog_spark.operators.quality import SEGMENTS

    cust = t(spark, SF01, "customer").collect()
    ordr = t(spark, SF01, "orders").collect()
    li = t(spark, SF01, "lineitem").collect()
    import datetime
    from collections import Counter

    deadline = datetime.datetime(2001, 6, 30)
    custkeys = {r.c_custkey for r in cust}
    orderkeys = {r.o_orderkey for r in ordr}
    ck = Counter(r.c_custkey for r in cust)
    ok = Counter(r.o_orderkey for r in ordr)
    want = {
        "customer_acctbal_nonneg": (
            len(cust), sum(1 for r in cust if r.c_acctbal is not None and r.c_acctbal < 0)
        ),
        "customer_pk_unique": (
            len(cust), sum(c for c in ck.values() if c > 1)
        ),
        "customer_segment_domain": (
            len(cust), sum(1 for r in cust if r.c_mktsegment not in SEGMENTS)
        ),
        "lineitem_discount_range": (
            len(li),
            sum(1 for r in li if r.l_discount is not None and not (0 <= r.l_discount <= 0.10)),
        ),
        "lineitem_fk_orders": (
            len(li), sum(1 for r in li if r.l_orderkey not in orderkeys)
        ),
        "lineitem_qty_le40": (
            len(li), sum(1 for r in li if r.l_quantity is not None and r.l_quantity > 40)
        ),
        "lineitem_ship_deadline": (
            len(li), sum(1 for r in li if r.l_shipdate is not None and r.l_shipdate > deadline)
        ),
        "orders_fk_customer": (
            len(ordr), sum(1 for r in ordr if r.o_custkey not in custkeys)
        ),
        "orders_pk_unique": (
            len(ordr), sum(c for c in ok.values() if c > 1)
        ),
        "orders_price_min_5k": (
            len(ordr), sum(1 for r in ordr if r.o_totalprice is not None and r.o_totalprice < 5000)
        ),
        "orders_status_domain": (
            len(ordr), sum(1 for r in ordr if r.o_orderstatus not in ("O", "F", "P"))
        ),
    }
    rows = qs["q_dq_rules"](spark, SF01).collect()
    got = {r.rule_id: (r.n_checked, r.n_violations) for r in rows}
    assert got == want
    viols = [r for r in rows if r.n_violations > 0]
    clean = [r for r in rows if r.n_violations == 0]
    assert viols and clean  # the report discriminates
    for r in rows:
        assert abs(r.pass_rate - round(1 - r.n_violations / r.n_checked, 4)) < 1e-9


def test_ewma_matches_python_recompute(spark, qs):
    """The EWMA equals a direct python recompute of the truncated
    exponential kernel, the flag fires iff n > 1.5 * rounded ewma, and
    smoothing actually smooths (ewma variance < raw variance)."""
    from collections import Counter

    from iceberg_rest_catalog_spark.operators.common import t
    from iceberg_rest_catalog_spark.operators.events import EWMA_ALPHA, EWMA_WINDOW

    ev = t(spark, SF01, "events").select("ts").collect()
    days = Counter(r.ts.date() for r in ev)
    rows = qs["q_ts_ewma"](spark, SF01).collect()
    assert len(rows) == len(days)
    import datetime
    import statistics

    for r in rows:
        d = datetime.date.fromisoformat(r.day)
        num = den = 0.0
        for j in range(EWMA_WINDOW):
            src = d - datetime.timedelta(days=j)
            if src in days:
                w = EWMA_ALPHA * (1 - EWMA_ALPHA) ** j
                num += w * days[src]
                den += w
        assert r.n == days[d]
        assert abs(r.ewma - round(num / den, 4)) < 1e-9
        assert r.is_spike == (1 if r.n > 1.5 * r.ewma else 0)
    assert statistics.pvariance([r.ewma for r in rows]) < statistics.pvariance(
        [float(r.n) for r in rows]
    )


def test_markov_is_a_transition_matrix(spark, qs):
    """Per-src probabilities sum to 1, counts conserve the total number of
    transitions, and lift recomputes from the count marginals."""
    from collections import Counter

    rows = qs["q_evt_markov"](spark, SF01).collect()
    total = sum(r.n for r in rows)
    src_tot = Counter()
    dst_tot = Counter()
    for r in rows:
        src_tot[r.src] += r.n
        dst_tot[r.dst] += r.n
    by_src = Counter()
    for r in rows:
        by_src[r.src] += r.prob
        assert abs(r.prob - round(r.n / src_tot[r.src], 4)) < 1e-9
        assert (
            abs(r.lift - round(r.n * total / (src_tot[r.src] * dst_tot[r.dst]), 4))
            < 1e-9
        )
    for s, p in by_src.items():
        assert abs(p - 1.0) < 5e-4  # 4dp rounding per term
    # transitions = events - one per user timeline
    from iceberg_rest_catalog_spark.operators.common import t

    ev = t(spark, SF01, "events").select("user_id").collect()
    n_users = len({r.user_id for r in ev})
    assert total == len(ev) - n_users


def test_skew_audit_matches_python_recompute(spark, qs):
    from collections import Counter

    from iceberg_rest_catalog_spark.operators.common import t

    ev = t(spark, SF01, "events").select("user_id").collect()
    counts = Counter(r.user_id for r in ev)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = qs["q_meta_skew_audit"](spark, SF01).collect()
    assert [(r.user_id, r.n) for r in rows] == top
    mean = len(ev) / len(counts)
    for r in rows:
        assert r.n_keys == len(counts)
        assert abs(r.share - round(r.n / len(ev), 4)) < 1e-9
        assert abs(r.skew_factor - round(r.n / mean, 4)) < 1e-9


def test_fixed_width_pins_full_parallelism(spark):
    """fixed_width() must produce exactly the session shuffle-partition
    count (pinned against AQE coalescing) and preserve content."""
    from iceberg_rest_catalog_spark.operators.common import fixed_width

    want = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    out = fixed_width(df, "k")
    assert out.rdd.getNumPartitions() == want
    assert out.count() == 1000
    assert {r.k for r in out.collect()} == set(range(1000))


def test_lifecycle_ledger_balances(spark, qs):
    """active = new + retained + resurrected each week, churn is the
    previous observed week's actives who didn't retain, and the whole
    ledger recomputes from per-user purchase-week sets."""
    from collections import defaultdict

    from iceberg_rest_catalog_spark.operators.common import t

    ev = (
        t(spark, SF01, "events")
        .filter("event_type = 'purchase'")
        .selectExpr("user_id", "CAST(date_trunc('week', ts) AS DATE) AS wk")
        .distinct()
        .collect()
    )
    weeks_of = defaultdict(set)
    for r in ev:
        weeks_of[r.user_id].add(r.wk)
    ledger = defaultdict(lambda: [0, 0, 0, 0])  # active,new,ret,res
    for u, wks in weeks_of.items():
        first = min(wks)
        for w in wks:
            row = ledger[w]
            row[0] += 1
            if w == first:
                row[1] += 1
            elif (w - first).days >= 7 and any(
                (w - p).days == 7 for p in wks
            ):
                row[2] += 1
            else:
                row[3] += 1
    rows = qs["q_evt_lifecycle"](spark, SF01).collect()
    assert [r.week for r in rows] == sorted(r.week for r in rows)
    prev_active = None
    for r in rows:
        import datetime

        w = datetime.date.fromisoformat(r.week)
        exp = ledger[w]
        assert (r.active, r.new_users, r.retained, r.resurrected) == tuple(exp)
        assert r.active == r.new_users + r.retained + r.resurrected
        assert r.churned_from_prev == (prev_active or 0) - r.retained
        prev_active = r.active
    # purchase scoping keeps every column discriminating on the fixture
    assert sum(r.resurrected for r in rows) > 0
    assert sum(r.churned_from_prev for r in rows) > 0


def test_cohort_ltv_conserves_revenue_and_accumulates(spark, qs):
    """Cells conserve total event value, cumulative revenue is the running
    sum of 4dp-rounded cells, LTV = cum / offset-0 users, and every
    cohort starts at offset 0."""
    from collections import defaultdict

    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_evt_cohort_ltv"](spark, SF01).collect()
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r.cohort_week].append(r)
    total_value = (
        t(spark, SF01, "events").selectExpr("sum(value) v").collect()[0].v
    )
    assert abs(sum(r.revenue for r in rows) - total_value) < 0.01 * len(rows)
    for c, rs in by_cohort.items():
        rs.sort(key=lambda r: r.week_offset)
        assert rs[0].week_offset == 0
        size = rs[0].users
        run = 0.0
        for r in rs:
            run = round(run + r.revenue, 4)
            assert abs(r.cum_revenue - run) < 1e-9
            assert abs(r.ltv_per_user - round(run / size, 4)) < 1e-9
            assert r.users <= size or r.week_offset == 0


def test_split_assign_is_leakproof_and_total(spark, qs):
    """Shares sum to 1, docs sum to the corpus, clusters are assigned as
    units (recomputed via hashlib), and the naive-leak count matches a
    python recompute — nonzero on the fixture (it has exact dups)."""
    import hashlib
    from collections import defaultdict

    from iceberg_rest_catalog_spark.operators.common import t

    docs = t(spark, SF01, "documents").select("doc_id", "text").collect()

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def split_of(key):
        b = int(md5(str(key))[:4], 16)
        return "train" if b < 52429 else ("val" if b < 58982 else "test")

    members = defaultdict(list)
    for r in docs:
        members[md5((r.text or "").lower()[:64])].append(r.doc_id)
    exp = defaultdict(lambda: [0, 0, 0])  # docs, clusters, leaky
    for h, ids in members.items():
        sp = split_of(min(ids))
        exp[sp][0] += len(ids)
        exp[sp][1] += 1
        if len({split_of(i) for i in ids}) > 1:
            exp[sp][2] += 1
    rows = qs["q_split_assign"](spark, SF01).collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    assert sum(r.docs for r in rows) == len(docs)
    assert abs(sum(r.doc_share for r in rows) - 1.0) < 5e-4
    for r in rows:
        e = exp[r.split]
        assert (r.docs, r.clusters, r.naive_leaky_clusters) == tuple(e), r.split
    # the fixture has multi-member exact-dup clusters, so the unit
    # assignment is actually exercised (leak count may still be 0 when
    # every small cluster happens to agree under the naive hash)
    assert sum(r.docs for r in rows) > sum(r.clusters for r in rows)


def test_vocab_growth_monotone_and_conserves(spark, qs):
    """Cumulative columns are running sums, the final row conserves the
    corpus token volume and distinct-type count, and new_types is the
    count of tokens whose FIRST decile is that row's."""
    from collections import Counter

    from iceberg_rest_catalog_spark.operators.common import t

    docs = t(spark, SF01, "documents").select("doc_id", "text").collect()
    n_docs = max(r.doc_id for r in docs) + 1
    first_dec = {}
    vol = Counter()
    for r in sorted(docs, key=lambda r: r.doc_id):
        dec = min(9, r.doc_id * 10 // n_docs)
        for tk in (r.text or "").lower().split(" "):
            vol[dec] += 1
            first_dec.setdefault(tk, dec)
    rows = qs["q_text_vocab_growth"](spark, SF01).collect()
    assert [r.decile for r in rows] == list(range(10))
    tcum = vcum = 0
    for r in rows:
        assert r.tokens == vol[r.decile]
        assert r.new_types == sum(1 for d in first_dec.values() if d == r.decile)
        tcum += r.tokens
        vcum += r.new_types
        assert (r.tokens_cum, r.vocab_cum) == (tcum, vcum)
        assert abs(r.ttr_cum - round(vcum / tcum, 4)) < 1e-9
    assert tcum == sum(vol.values()) and vcum == len(first_dec)


def test_streaks_recompute_from_day_sets(spark, qs):
    """Islands recompute from per-user purchase-day sets: run count,
    longest length, earliest-start tiebreak, and active-day conservation."""
    from collections import defaultdict

    from iceberg_rest_catalog_spark.operators.common import t

    days = defaultdict(set)
    for r in (
        t(spark, SF01, "events")
        .filter("event_type = 'purchase'")
        .selectExpr("user_id", "CAST(ts AS DATE) AS d")
        .distinct()
        .collect()
    ):
        days[r.user_id].add(r.d)

    def runs(ds):
        out, cur = [], []
        for d in sorted(ds):
            if cur and (d - cur[-1]).days != 1:
                out.append(cur)
                cur = []
            cur.append(d)
        out.append(cur)
        return out

    rows = qs["q_evt_streaks"](spark, SF01).collect()
    assert {r.user_id for r in rows} == set(days)
    for r in rows:
        rs = runs(days[r.user_id])
        assert r.active_days == len(days[r.user_id])
        assert r.n_streaks == len(rs)
        best = max(rs, key=lambda run: (len(run), -run[0].toordinal()))
        assert r.longest_streak == len(best)
        assert r.longest_start == best[0].isoformat()
    # the purchase fixture has real gaps, so the op discriminates
    assert any(r.n_streaks > 1 for r in rows)


def test_stickiness_recomputes_and_bounds(spark, qs):
    """stickiness = dau / trailing-28-day distinct users, recomputed from
    raw (day, user) sets; bounded in (0, 1]; MAU is monotone-nondecreasing
    over the fixture's short dense calendar head."""
    from collections import defaultdict
    from datetime import timedelta

    from iceberg_rest_catalog_spark.operators.common import t

    du = defaultdict(set)
    for r in (
        t(spark, SF01, "events")
        .selectExpr("CAST(ts AS DATE) AS d", "user_id")
        .distinct()
        .collect()
    ):
        du[r.d].add(r.user_id)
    rows = qs["q_evt_stickiness"](spark, SF01).collect()
    assert len(rows) == len(du)
    import datetime

    for r in rows:
        d = datetime.date.fromisoformat(r.day)
        mau = set()
        for back in range(28):
            mau |= du.get(d - timedelta(days=back), set())
        assert (r.dau, r.mau_28d) == (len(du[d]), len(mau))
        assert abs(r.stickiness - round(len(du[d]) / len(mau), 4)) < 1e-9
        assert 0 < r.stickiness <= 1


# -- round-9 wave-7 operators -------------------------------------------------


def test_survival_matches_bruteforce_km(spark, qs):
    """Recompute the Kaplan-Meier curve driver-side from raw events
    (python sessionization, exact integer-minute durations, left-to-right
    product) and compare row-for-row — plus the curve properties: S
    strictly in (0, 1], nonincreasing in t; at-risk nonincreasing;
    d <= n_risk everywhere."""
    from collections import defaultdict

    from iceberg_rest_catalog_spark.io import load_table
    from iceberg_rest_catalog_spark.operators.events import SURV_GAP_US

    rows = qs["q_evt_survival"](spark, SF).collect()
    assert rows, "fixture must produce a nonempty curve"
    # properties
    ts = [r.t for r in rows]
    assert ts == sorted(ts)
    survs = [r.surv for r in rows]
    # 0 is legal: if the longest duration is an observed death the final
    # factor is (n-d)/n = 0; 4-dp rounding can also floor a tiny tail.
    assert all(0 <= s <= 1 for s in survs)
    assert all(a >= b for a, b in zip(survs, survs[1:]))
    risks = [r.n_risk for r in rows]
    assert all(a >= b for a, b in zip(risks, risks[1:]))
    assert all(r.d <= r.n_risk for r in rows)

    # brute force
    ev = sorted(
        load_table(spark, SF, "events")
        .select("user_id", "event_id", "ts")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    us = lambda x: int(x.timestamp() * 1_000_000)
    tmax = max(us(r.ts) for r in ev)
    sessions = []  # (smin_us, smax_us)
    cur_user = cur_start = cur_end = None
    for r in ev:
        tus = us(r.ts)
        if r.user_id != cur_user or tus - cur_end > SURV_GAP_US:
            if cur_user is not None:
                sessions.append((cur_start, cur_end))
            cur_user, cur_start, cur_end = r.user_id, tus, tus
        else:
            cur_end = tus
    sessions.append((cur_start, cur_end))
    lc = defaultdict(lambda: [0, 0])  # t -> [count, ended]
    for smin, smax in sessions:
        dur = (smax - smin) // 60_000_000
        lc[dur][0] += 1
        lc[dur][1] += int(tmax - smax > SURV_GAP_US)
    import math

    r = lambda x: math.copysign(math.floor(abs(x) * 1e4 + 0.5) / 1e4, x)
    expect, at_risk, s = [], sum(c for c, _ in lc.values()), 1.0
    for dur in sorted(lc):
        c, d = lc[dur]
        if d > 0:
            s = s * ((at_risk - d) / at_risk)
            expect.append((dur, at_risk, d, r(s)))
        at_risk -= c
    got = [(r.t, r.n_risk, r.d, r.surv) for r in rows]
    assert got == expect


def test_holt_matches_recurrence_and_beats_naive_lag(spark, qs):
    """Replay the Holt recurrence from the returned daily counts and check
    the reported states bit-for-bit (at the 4-dp output rounding); on the
    fixture's trending series the one-step forecast must also beat the
    naive y_{t-1} persistence forecast in mean absolute error — the
    property that justifies the trend term."""
    from iceberg_rest_catalog_spark.operators.events import HOLT_ALPHA, HOLT_BETA

    import math

    r4_ = lambda x: math.copysign(math.floor(abs(x) * 1e4 + 0.5) / 1e4, x)
    rows = qs["q_ts_holt"](spark, SF).collect()
    assert len(rows) >= 10 and rows[0].forecast is None
    ys = [r.n for r in rows]
    lvl, tr = float(ys[0]), float(ys[1] - ys[0])
    assert (rows[0].level, rows[0].trend) == (r4_(lvl), r4_(tr))
    mae_holt = mae_naive = 0.0
    for i, y in enumerate(ys[1:], start=1):
        fc = lvl + tr
        new_l = HOLT_ALPHA * y + (1 - HOLT_ALPHA) * (lvl + tr)
        new_t = HOLT_BETA * (new_l - lvl) + (1 - HOLT_BETA) * tr
        lvl, tr = new_l, new_t
        assert rows[i].level == r4_(lvl)
        assert rows[i].trend == r4_(tr)
        assert rows[i].forecast == r4_(fc)
        mae_holt += abs(y - fc)
        mae_naive += abs(y - ys[i - 1])
    assert mae_holt < mae_naive


def test_jaccard_neighbors_matches_bruteforce(spark, qs):
    """Recompute neighborhood Jaccard for ALL non-edge 2-hop pairs from
    the same kNN edge relation and check the query returns exactly the
    top-JACC_TOP under (rounded score desc, u, v) — and that no returned
    pair is an existing edge."""
    from iceberg_rest_catalog_spark.operators.graph import JACC_TOP, _knn_edges

    _, edges_df = _knn_edges(spark, SF)
    edges = {(r.u, r.v) for r in edges_df.collect()}
    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
    cand = {}
    for u, v in edges:  # wedge midpoints: u's neighbors pair through u
        for a in nbrs[u]:
            if a < v and (a, v) not in edges:
                common = len(nbrs[a] & nbrs[v])
                if common:
                    cand[(a, v)] = (
                        common,
                        len(nbrs[a]),
                        len(nbrs[v]),
                        round(common / (len(nbrs[a]) + len(nbrs[v]) - common), 4),
                    )
    expect = sorted(
        ((j, a, c, cm, da, dc) for (a, c), (cm, da, dc, j) in cand.items()),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:JACC_TOP]
    rows = qs["q_graph_jaccard_neighbors"](spark, SF).collect()
    assert len(rows) == min(JACC_TOP, len(cand))
    got = [
        (r.jaccard, r.u, r.v, r.common_neighbors, r.deg_u, r.deg_v)
        for r in rows
    ]
    assert got == expect
    assert all((r.u, r.v) not in edges for r in rows)


def test_cell_purity_accounts_every_vector(spark, qs):
    """Cell populations sum to the corpus; every share/entropy is in its
    legal range; a pure cell (top_share == 1) must report zero entropy."""
    import math

    from iceberg_rest_catalog_spark.io import load_table

    rows = qs["q_embed_cell_purity"](spark, SF).collect()
    n_corpus = (
        load_table(spark, SF, "embeddings")
        .filter("embedding IS NOT NULL")
        .count()
    )
    assert sum(r.n_vecs for r in rows) == n_corpus
    n_labels = 10
    for r in rows:
        assert 0 < r.top_share <= 1
        assert 0 <= r.entropy <= round(math.log(n_labels), 4) + 1e-9
        if r.top_share == 1.0:
            assert r.entropy == 0.0
        # the majority share can't be smaller than an even split
        assert r.top_share >= round(1 / n_labels, 4)


def test_hard_negatives_labels_differ_and_match_bruteforce(spark, qs):
    """Every mined negative carries a label different from its anchor's;
    ranks are contiguous from 1 with nonincreasing cosine per anchor; and
    the result matches a driver-side numpy recompute of the same IVF
    plan (rounded-cosine assignment, probe, label filter, top-k)."""
    import numpy as np

    from iceberg_rest_catalog_spark.io import load_table
    from iceberg_rest_catalog_spark.llm.similarity import (
        HN_K,
        KNN_QSTEP,
        N_PROBE,
        ivf_cells_for,
    )

    rows = qs["q_sim_hard_negatives"](spark, SF).collect()
    assert rows
    assert all(r.neg_label != r.q_label for r in rows)
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r.q_vec_id, []).append(r)
    for rs in by_anchor.values():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cs = [r.cos for r in rs]
        assert all(a >= b for a, b in zip(cs, cs[1:]))

    pdf = (
        load_table(spark, SF, "embeddings")
        .filter("embedding IS NOT NULL")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    nrm = np.linalg.norm(E, axis=1)
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    r4_ = lambda x: np.sign(x) * np.floor(np.abs(x) * 1e4 + 0.5) / 1e4
    n_cells = ivf_cells_for(len(ids))
    cent_idx = np.where(ids < n_cells)[0]
    # rounded cosine to every centroid; ties break on smaller cell id
    cc = r4_((E @ E[cent_idx].T) / np.outer(nrm, nrm[cent_idx]))
    order = np.lexsort((ids[cent_idx][None, :].repeat(len(ids), 0), -cc))
    assign = ids[cent_idx][order[:, 0]]
    expect = {}
    for qi in np.where(ids % KNN_QSTEP == 0)[0]:
        probe_cells = set(ids[cent_idx][order[qi, :N_PROBE]])
        cand = [
            i
            for i in range(len(ids))
            if assign[i] in probe_cells
            and ids[i] != ids[qi]
            and labels[i] != labels[qi]
        ]
        cos = r4_((E[cand] @ E[qi]) / (nrm[cand] * nrm[qi]))
        ranked = sorted(zip(-cos, ids[cand], labels[cand]))[:HN_K]
        expect[ids[qi]] = [
            (int(v), int(l), -c) for c, v, l in ranked
        ]
    got = {
        q: [(r.neg_vec_id, r.neg_label, r.cos) for r in rs]
        for q, rs in by_anchor.items()
    }
    assert got == expect


def test_session_features_conserve_events(spark, qs):
    """Session rows account for every event exactly once; sids are
    contiguous per user from 1; durations and flags are in range."""
    from iceberg_rest_catalog_spark.io import load_table

    rows = qs["q_evt_session_features"](spark, SF).collect()
    n_events = load_table(spark, SF, "events").count()
    assert sum(r.n_events for r in rows) == n_events
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.sid)
        assert r.n_events >= 1 and 1 <= r.n_types <= 5
        assert r.dur_min >= 0 and r.had_error in (0, 1)
        assert r.revenue >= 0
    for sids in by_user.values():
        assert sorted(sids) == list(range(1, len(sids) + 1))


def test_knn_2level_structure_and_recall_near_flat(spark, qs):
    """The hierarchical-assignment kNN join keeps the flat operator's
    output contract (contiguous ranks, nonincreasing rounded cosine, no
    self-matches) and its recall@3 against the exact brute force stays
    within 0.25 absolute of flat assignment on both fixture SFs — the
    group-boundary trade SCALE.md documents, bounded."""
    import numpy as np

    from iceberg_rest_catalog_spark.io import load_table

    for sf in (SF, SF01):
        pdf = (
            load_table(spark, sf, "embeddings")
            .filter("embedding IS NOT NULL")
            .toPandas()
            .sort_values("vec_id")
        )
        E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        E /= np.linalg.norm(E, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy()
        ix = {v: i for i, v in enumerate(ids)}
        anchors = [v for v in ids if v % 25 == 0]
        exact = {}
        for q in anchors:
            cos = E @ E[ix[q]]
            cos[ix[q]] = -2
            exact[q] = set(ids[np.argsort(-cos, kind="stable")[:3]])

        def recall(name):
            got = {}
            for r in qs[name](spark, sf).collect():
                got.setdefault(r.q_vec_id, set()).add(r.nn_vec_id)
            return float(
                np.mean([len(got.get(q, set()) & exact[q]) / 3 for q in anchors])
            )

        rows = qs["q_sim_knn_batch_2level"](spark, sf).collect()
        by_q = {}
        for r in rows:
            assert r.q_vec_id != r.nn_vec_id
            by_q.setdefault(r.q_vec_id, []).append(r)
        for rs in by_q.values():
            rs.sort(key=lambda r: r.rank)
            assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
            cs = [r.cos for r in rs]
            assert all(a >= b for a, b in zip(cs, cs[1:]))
        r_flat, r_2l = recall("q_sim_knn_batch"), recall("q_sim_knn_batch_2level")
        assert r_2l >= r_flat - 0.25, (sf, r_flat, r_2l)


# -- round-10: streaming session featurizer ----------------------------------


def test_no_exactly_30min_session_gap_in_fixture(spark):
    """q_stream_session_features' batch/stream equivalence precondition
    (round-11 ADVICE): session_window splits at gap == 30 min, the batch
    gaps-and-islands rule merges — so the fixture must contain no
    per-user adjacent-event gap of EXACTLY 30 minutes at either the
    driver SF or the test SF.  tools/regen_fixture.py carries the same
    check as a regeneration guard; this test makes the invariant fail
    loudly against the COMMITTED fixtures."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from iceberg_rest_catalog_spark.io import load_table

    for sf_dir in (SF, SF01):
        ev = load_table(spark, sf_dir, "events")
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        n_exact = (
            ev.withColumn("gap", F.col("ts") - F.lag("ts").over(w))
            .filter(F.col("gap") == F.expr("INTERVAL 30 MINUTES"))
            .count()
        )
        assert n_exact == 0, (sf_dir, n_exact)


def test_stream_session_features_matches_batch_featurizer(spark, qs):
    """The streaming featurizer's cataloged sink must equal the BATCH
    q_evt_session_features rows (minus the sid column, whose numbering is
    per-user internal) — the batch/stream equivalence the op exists to
    close — and the exactly-once replay guard must hold: the sink table
    records the committed batch id."""
    got = [
        (r.user_id, r.start_ts, r.dur_min, r.n_events, r.n_types,
         r.revenue, r.had_error)
        for r in qs["q_stream_session_features"](spark, SF).collect()
    ]
    want = [
        (r.user_id, r.start_ts, r.dur_min, r.n_events, r.n_types,
         r.revenue, r.had_error)
        for r in qs["q_evt_session_features"](spark, SF).collect()
    ]
    assert sorted(got) == sorted(want) and got


def test_stream_join_family_coherence(spark, qs):
    """Round-11 stream-join taxonomy invariants at sf0.001: LEFT OUTER =
    INNER rows plus NULL-padded unmatched purchases covering every
    purchase exactly once per match (or once with NULL); FULL OUTER =
    LEFT OUTER plus NULL-padded unmatched clicks, and its matched subset
    equals the inner join."""
    inner = {
        (r.purchase_id, r.click_id)
        for r in qs["q_stream_join"](spark, SF).collect()
    }
    outer = [
        (r.purchase_id, r.click_id)
        for r in qs["q_stream_join_outer"](spark, SF).collect()
    ]
    full = [
        (r.purchase_id, r.click_id)
        for r in qs["q_stream_join_full"](spark, SF).collect()
    ]
    matched_outer = {p for p in outer if p[1] is not None}
    assert matched_outer == inner
    # unmatched purchases appear exactly once, and never also matched
    null_p = [p for p, c in outer if c is None]
    assert len(null_p) == len(set(null_p))
    assert not (set(null_p) & {p for p, _ in matched_outer})
    # full = outer + unmatched clicks
    assert sorted(x for x in full if x[0] is not None) == sorted(outer)
    null_c = [c for p, c in full if p is None]
    assert len(null_c) == len(set(null_c))
    assert not (set(null_c) & {c for _, c in matched_outer})


def test_orphan_audit_partitions_physical_files(spark, qs):
    """q_meta_orphan_files invariants: the audit's live+orphan file
    counts equal the physical parquet inventory under the table's data
    root, and the live table remains readable with the expected rows."""
    import glob
    import os

    rows = {r.kind: r for r in qs["q_meta_orphan_files"](spark, SF).collect()}
    assert set(rows) == {"live", "orphan"}
    from iceberg_rest_catalog_spark.operators.common import fixture_cache_dir

    loc = os.path.join(fixture_cache_dir(SF, "orphan_files"), "db", "orders_o")
    physical = glob.glob(os.path.join(loc, "data", "**", "*.parquet"), recursive=True)
    assert rows["live"].n_files + rows["orphan"].n_files == len(physical)
    assert rows["live"].n_rows == 150 and rows["orphan"].n_rows == 157


def test_lpa_communities_partition_nodes(spark, qs):
    """Label propagation emits a PARTITION of the corpus: community sizes
    sum to the node count, every community label is a vec_id, and no
    community is empty."""
    from iceberg_rest_catalog_spark.io import load_table

    rows = qs["q_graph_label_propagation"](spark, SF).collect()
    n_nodes = (
        load_table(spark, SF, "embeddings")
        .filter("embedding IS NOT NULL")
        .count()
    )
    assert sum(r.n_nodes for r in rows) == n_nodes
    assert all(r.n_nodes >= 1 for r in rows)
    assert len({r.community for r in rows}) == len(rows)


def test_markov_attribution_shares_normalize(spark, qs):
    """Removal-effect invariants: attribution shares sum to ~1, every
    removal effect lies in [0, 1], and removing the most-attributed
    channel hurts conversion at least as much as any other."""
    rows = qs["q_evt_attribution_markov"](spark, SF).collect()
    assert abs(sum(r.attribution for r in rows) - 1.0) < 5e-4
    assert all(0.0 <= r.removal_effect <= 1.0 for r in rows)
    top = max(rows, key=lambda r: r.attribution)
    assert top.removal_effect == max(r.removal_effect for r in rows)


def test_max_gap_fold_is_batch_split_invariant():
    """q_stream_transform_state's shared state fold (both API arms run the
    SAME _max_gap_fold): folding a stream in any micro-batch split equals
    folding it whole, and both equal the brute-force max adjacent gap —
    the algebra that makes the arms interchangeable (VERDICT r11 item 8)."""
    import numpy as np
    import pandas as pd

    from iceberg_rest_catalog_spark.streaming.queries import _max_gap_fold

    rng = np.random.RandomState(7)
    stamps = np.sort(rng.randint(0, 10**9, size=40)) * 1000  # ns, us-aligned
    ts = pd.Series(pd.to_datetime(stamps, unit="ns"))

    def run(split_points):
        st = (None, 0, None)
        prev = 0
        for cut in list(split_points) + [len(ts)]:
            st = _max_gap_fold(st, [pd.DataFrame({"ts": ts[prev:cut]})])
            prev = cut
        return st

    whole = run([])
    assert whole == run([10, 25]) == run(range(1, 40))
    us = stamps // 1000
    assert whole == (int(us[-1]), 40, int(np.diff(us).max()))
    # empty batches are identity
    st = _max_gap_fold(whole, [pd.DataFrame({"ts": ts[:0]})])
    assert st == whole


def test_transform_state_apply_arm(spark, qs):
    """The applyInPandasWithState operator: per-user event counts must
    match the batch table; gaps are positive."""
    from iceberg_rest_catalog_spark.io import load_table

    got = {
        r.user_id: (r.n_events, r.max_gap_us)
        for r in qs["q_stream_transform_state"](spark, SF).collect()
    }
    expect = {
        r.user_id: r.n
        for r in load_table(spark, SF, "events")
        .filter("user_id IS NOT NULL")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {u: v[0] for u, v in got.items()} == expect
    assert all(v[1] is None or v[1] >= 0 for v in got.values())


def test_kcore_is_a_fixpoint(spark, qs):
    """The fixed-round peel must have CONVERGED: every surviving node has
    >= KCORE_K neighbours inside the surviving set (deg_core is exactly
    that in-core degree), which makes one more peel round a no-op — the
    fixed-round result IS the k-core, not a truncation."""
    from iceberg_rest_catalog_spark.operators.graph import KCORE_K

    rows = qs["q_graph_kcore"](spark, SF).collect()
    assert rows, "fixture near-dup 2-core should be non-empty"
    assert all(r.deg_core >= KCORE_K for r in rows)
    # and the core is a strict subset of the pair-graph node set: the
    # pendant pairs (degree-1 endpoints) must have been peeled
    from iceberg_rest_catalog_spark import registry

    pairs = registry.queries()["q_dedup_fuzzy"](spark, SF).collect()
    nodes = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    core = {r.doc_id for r in rows}
    assert core < nodes


def test_kmv_estimates_and_merge(spark, qs):
    """KMV invariants: exact groups (m < k) report n_exact exactly; big
    groups estimate within the ~1/sqrt(k) error envelope (generous 5x);
    the union row's exact count is at least every per-group count."""
    from iceberg_rest_catalog_spark.operators.aggregates import KMV_K

    rows = {r.event_type: r for r in qs["q_agg_kmv"](spark, SF01).collect()}
    allrow = rows.pop("(all)")
    assert allrow.n_exact >= max(r.n_exact for r in rows.values())
    for r in rows.values():
        if r.n_exact < KMV_K:
            assert r.kmv_est == float(r.n_exact)
        else:
            assert abs(r.kmv_est - r.n_exact) / r.n_exact < 5 / (KMV_K ** 0.5)


def test_spatial_grid_matches_bruteforce(spark, qs):
    """The grid plan is a candidate SUPERSET + exact filter, so it must
    equal the brute-force distance join exactly — the completeness the
    cell-side == radius envelope argues."""
    from iceberg_rest_catalog_spark.io import load_table
    from iceberg_rest_catalog_spark.operators.joins import SPATIAL_R

    got = {
        (r.c_custkey, r.s_suppkey)
        for r in qs["q_join_spatial_grid"](spark, SF).collect()
    }
    import hashlib

    def coords(keys, salt):
        out = {}
        for k in keys:
            h = hashlib.md5(f"{salt}{k}".encode()).hexdigest()
            out[k] = (int(h[:11], 16) / 2**44, int(h[11:22], 16) / 2**44)
        return out

    cust = coords(
        [r.c_custkey for r in load_table(spark, SF, "customer").select("c_custkey").collect()],
        "c:",
    )
    supp = coords(
        [r.s_suppkey for r in load_table(spark, SF, "supplier").select("s_suppkey").collect()],
        "s:",
    )
    brute = {
        (c, s)
        for c, (cx, cy) in cust.items()
        for s, (sx, sy) in supp.items()
        if (cx - sx) ** 2 + (cy - sy) ** 2 <= SPATIAL_R * SPATIAL_R
    }
    assert got == brute and brute  # equal and non-trivial


def test_evt_paths_invariants(spark, qs):
    """Every emitted path ends at the first purchase (or is a pure
    pre-purchase prefix when the purchase falls beyond the cap);
    'purchase' never appears mid-path; shares sum to 1 within rounding."""
    rows = qs["q_evt_paths"](spark, SF).collect()
    assert rows
    for r in rows:
        steps = r.path.split(">")
        assert "purchase" not in steps[:-1]
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-2


def test_dow_profile_conserves_mass(spark, qs):
    """Per type: dow event sums equal the series total; dow day counts
    equal the series day count; the n_days-weighted mean of `rel` is 1
    (the ratio's denominator is the overall mean)."""
    import collections

    rows = qs["q_ts_dow_profile"](spark, SF).collect()
    by_type = collections.defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for et, rs in by_type.items():
        assert len({r.dow for r in rs}) == len(rs)
        assert all(0 <= r.dow <= 6 for r in rs)
        total_days = sum(r.n_days for r in rs)
        w_rel = sum(r.dow_mean * r.n_days for r in rs) / sum(
            r.n_events for r in rs
        )
        assert abs(w_rel * sum(r.n_events for r in rs) / total_days
                   / (sum(r.n_events for r in rs) / total_days) - 1) < 1e-6


def test_sub_all_rewrite_semantics(spark, qs):
    """gt_all rows all exceed the inner max; lt_any rows are all below it
    and never Brand#21 (the branch filter)."""
    from iceberg_rest_catalog_spark.io import load_table

    mx = (
        load_table(spark, SF, "part")
        .filter("p_brand = 'Brand#21'")
        .agg({"p_retailprice": "max"})
        .collect()[0][0]
    )
    rows = qs["q_sub_all"](spark, SF).collect()
    gt = [r for r in rows if r.branch == "gt_all"]
    lt = [r for r in rows if r.branch == "lt_any"]
    assert gt and lt
    assert all(r.price > round(mx, 4) - 1e-9 for r in gt)
    assert all(r.price < mx and r.p_brand != "Brand#21" for r in lt)


def test_stream_kmv_equals_batch_sketch(spark, qs):
    """KMV mergeability, exactly: the streaming fold's per-type rows must
    hash-equal q_agg_kmv's per-type rows (drop the batch-only union row)
    — incremental maintenance == batch recompute, bit for bit."""
    stream = {
        (r.event_type, r.n_exact, r.kmv_est)
        for r in qs["q_stream_kmv"](spark, SF).collect()
    }
    batch = {
        (r.event_type, r.n_exact, r.kmv_est)
        for r in qs["q_agg_kmv"](spark, SF).collect()
        if r.event_type != "(all)"
    }
    assert stream == batch and stream


def test_user_overlap_bounds(spark, qs):
    """Set-algebra sanity: n_both <= min(n_a, n_b); jaccard <= containment
    <= 1; both type columns ordered (a < b, each pair once)."""
    rows = qs["q_evt_user_overlap"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.type_a < r.type_b
        assert r.n_both <= min(r.n_a, r.n_b)
        assert 0 < r.jaccard <= r.containment <= 1


def test_anomaly_mad_resists_burst(spark, qs):
    """Every flagged day really deviates by > 3 MADs recomputed
    independently in Python (exact medians over the daily counts)."""
    import statistics

    from iceberg_rest_catalog_spark.io import load_table

    daily = (
        load_table(spark, SF, "events")
        .filter("event_type IS NOT NULL")
        .groupBy("event_type", F_expr_day())
        .count()
        .collect()
    )
    import collections

    series = collections.defaultdict(dict)
    for r in daily:
        series[r.event_type][str(r.day)] = r["count"]
    flagged = qs["q_ts_anomaly_mad"](spark, SF).collect()
    for r in flagged:
        ns = list(series[r.event_type].values())
        med = statistics.median(ns)
        mad = statistics.median([abs(x - med) for x in ns])
        assert mad > 0 and abs(r.n - med) > 3 * mad


def F_expr_day():
    from pyspark.sql import functions as F

    return F.to_date(F.date_trunc("day", "ts")).alias("day")


# ---------------------------------------------------------------- round 12 wave 2


def test_intersect_all_is_min_multiplicity(spark, qs):
    """Bag-intersection count per key equals min(mult_A, mult_B), checked
    against independently computed multiplicities."""
    from pyspark.sql import functions as F
    from iceberg_rest_catalog_spark.operators.common import t

    got = {(r.l_suppkey, r.l_returnflag): r.n for r in qs["q_intersect_all"](spark, SF).collect()}

    def mult(lo, hi):
        return {
            (r.l_suppkey, r.l_returnflag): r.m
            for r in t(spark, SF, "lineitem")
            .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
            .groupBy("l_suppkey", "l_returnflag")
            .agg(F.count("*").alias("m"))
            .collect()
        }

    a = mult("1995-01-01", "1996-01-01")
    b = mult("1996-01-01", "1997-01-01")
    want = {k: min(a[k], b[k]) for k in set(a) & set(b)}
    assert got == want and got  # non-degenerate: the fixture has overlap


def test_join_nearest_matches_bruteforce(spark, qs):
    """Every purchase appears exactly once; the picked click is the true
    nearest by absolute time with backward ties — checked brute-force."""
    rows = qs["q_join_nearest"](spark, SF).collect()
    from iceberg_rest_catalog_spark.operators.common import t
    from pyspark.sql import functions as F

    ev = t(spark, SF, "events").select("event_id", "user_id", "ts", "event_type").collect()
    purchases = [e for e in ev if e.event_type == "purchase"]
    clicks = {}
    for e in ev:
        if e.event_type == "click":
            clicks.setdefault(e.user_id, []).append(e.ts)
    assert len(rows) == len(purchases)
    by_id = {r.event_id: r for r in rows}
    for p in purchases:
        got = by_id[p.event_id]
        cs = clicks.get(p.user_id, [])
        if not cs:
            assert got.nearest_click_ts is None and got.direction is None
            continue
        import datetime as _dt

        one_us = _dt.timedelta(microseconds=1)
        best = min(cs, key=lambda c: (abs((c - p.ts) // one_us), c > p.ts))
        assert got.nearest_click_ts == best, (p.event_id, got.nearest_click_ts, best)
        assert got.gap_us == abs((best - p.ts) // one_us)
        assert got.direction == ("prev" if best <= p.ts else "next")


def test_dq_gap_hours_accounting(spark, qs):
    """expected = present + missing for every type; expected equals the
    global hour-span; the longest gap never exceeds the missing total."""
    rows = qs["q_dq_gap_hours"](spark, SF).collect()
    assert len(rows) == 5
    spans = {r.expected_hours for r in rows}
    assert len(spans) == 1  # one shared spine
    for r in rows:
        assert r.expected_hours == r.present_hours + r.missing_hours
        assert 0 <= r.max_gap_hours <= r.missing_hours
    # sf0.001 is sparse enough that gaps actually exist — non-degenerate
    assert any(r.missing_hours > 0 for r in rows)


def test_theta_intersect_error_envelope(spark, qs):
    """Sketch estimates land within the KMV error envelope (k=64 ->
    ~12.5% RSE; assert 4x that) and the Jaccard estimate is a valid
    probability consistent with union/intersection."""
    rows = qs["q_agg_theta_intersect"](spark, SF01).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.exact_inter <= r.exact_union
        assert 0.0 <= r.est_jaccard <= 1.0
        assert abs(r.est_union - r.exact_union) <= 0.5 * r.exact_union
        assert abs(r.est_inter - r.exact_inter) <= 0.5 * r.exact_union


def test_runtime_filter_drops_partial_year(spark, qs):
    """The dim filter keeps exactly the 'complete' years: the 2001 partial
    year (roughly half the average count) must be pruned."""
    rows = qs["q_scan_runtime_filter"](spark, SF01).collect()
    years = {r.o_year for r in rows}
    assert 2001 not in years and len(years) == 6


def test_changepoint_matches_bruteforce(spark, qs):
    """The reported split maximizes the two-segment between-SS gain,
    recomputed exhaustively from the daily e4 sums."""
    from iceberg_rest_catalog_spark.operators.common import t
    from pyspark.sql import functions as F

    row = qs["q_ts_changepoint"](spark, SF).collect()[0]
    daily = sorted(
        (
            (r.day, r.s, r.n)
            for r in t(spark, SF, "events")
            .filter(F.col("event_type") == "purchase")
            .groupBy(F.col("ts").cast("date").alias("day"))
            .agg(
                F.sum(F.round(F.col("value") * 10000).cast("long")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
    )
    st = float(sum(d[1] for d in daily))
    nt = sum(d[2] for d in daily)
    best = None
    sl = nl = 0
    for day, s, n in daily[:-1]:
        sl, nl = sl + s, nl + n
        sr, nr = st - sl, nt - nl
        gain = sl * sl / nl + sr * sr / nr - st * st / nt
        if best is None or gain > best[1] + 1e-9:
            best = (day, gain, nl, nr)
    assert str(best[0]) == row.split_day
    assert row.n_l == best[2] and row.n_r == best[3]
    assert abs(row.gain - best[1] / 1e8) < 1e-3
    assert row.gain >= 0


def test_velocity_matches_bruteforce(spark, qs):
    """Per-user max burst equals the brute-force trailing-24h count."""
    from iceberg_rest_catalog_spark.operators.common import t
    from pyspark.sql import functions as F
    import datetime as dt

    got = {r.user_id: r for r in qs["q_evt_velocity"](spark, SF).collect()}
    p = (
        t(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .collect()
    )
    byu = {}
    for r in p:
        byu.setdefault(r.user_id, []).append(r.ts)
    assert set(got) == set(byu)
    win = dt.timedelta(hours=24)
    for u, tss in byu.items():
        tss.sort()
        bursts = [sum(1 for s in tss if t - win <= s <= t) for t in tss]
        assert got[u].max_burst == max(bursts)
        assert got[u].n_flagged == sum(1 for b in bursts if b >= 3)
        assert got[u].flagged == (max(bursts) >= 3)
        if got[u].flagged:
            first = min(t for t, b in zip(tss, bursts) if b >= 3)
            assert got[u].first_flag_ts == first


def test_clustering_coeff_bruteforce(spark, qs):
    """Coefficient recomputed from the raw symmetrized edge set."""
    from iceberg_rest_catalog_spark.operators.graph import _knn_edges

    rows = qs["q_graph_clustering_coeff"](spark, SF).collect()
    assert rows and all(0.0 <= r.coeff <= 1.0 for r in rows)
    _, edges = _knn_edges(spark, SF)
    adj = {}
    for e in edges.collect():
        adj.setdefault(e.u, set()).add(e.v)
    for r in rows:
        nb = sorted(adj[r.node])
        assert r.deg == len(nb) >= 2
        tri = sum(
            1
            for i, a in enumerate(nb)
            for b in nb[i + 1 :]
            if b in adj.get(a, ())
        )
        assert r.triangles == tri
        assert abs(r.coeff - 2 * tri / (r.deg * (r.deg - 1))) < 1e-3


def test_assortativity_is_valid_pearson(spark, qs):
    """-1 <= r <= 1 and matches the numpy correlation of edge degrees."""
    import numpy as np
    from iceberg_rest_catalog_spark.operators.graph import _knn_edges

    row = qs["q_graph_assortativity"](spark, SF).collect()[0]
    _, edges = _knn_edges(spark, SF)
    es = [(e.u, e.v) for e in edges.collect()]
    deg = {}
    for u, _v in es:
        deg[u] = deg.get(u, 0) + 1
    x = np.array([deg[u] for u, v in es], dtype=float)
    y = np.array([deg[v] for u, v in es], dtype=float)
    r = float(np.corrcoef(x, y)[0, 1])
    assert -1.0 <= row.assortativity <= 1.0
    assert abs(row.assortativity - r) < 1e-3
    assert row.n_edges == len(es)


def test_collocations_pmi_bruteforce(spark, qs):
    """PMI recomputed from raw token streams for every reported pair."""
    import math
    from iceberg_rest_catalog_spark.operators.common import t
    from iceberg_rest_catalog_spark.llm.text import COLL_MIN_COUNT

    rows = qs["q_text_collocations"](spark, SF).collect()
    assert rows
    docs = [r.text.lower().split(" ") for r in t(spark, SF, "documents").select("text").collect()]
    uni, big = {}, {}
    for ws in docs:
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    n = sum(uni.values())
    nb = sum(big.values())
    for r in rows:
        c12 = big[(r.w1, r.w2)]
        assert c12 == r.n_pair >= COLL_MIN_COUNT
        pmi = math.log((c12 / nb) / ((uni[r.w1] / n) * (uni[r.w2] / n)))
        assert abs(r.pmi - pmi) < 1e-3


def test_burstiness_is_dispersion_with_zeros(spark, qs):
    """VMR recomputed naively INCLUDING zero-count documents."""
    import numpy as np
    from iceberg_rest_catalog_spark.operators.common import t

    rows = qs["q_text_burstiness"](spark, SF).collect()
    assert rows
    docs = [r.text.lower().split(" ") for r in t(spark, SF, "documents").select("text").collect()]
    N = len(docs)
    for r in rows[:10]:
        counts = np.array([ws.count(r.token) for ws in docs], dtype=float)
        assert int((counts > 0).sum()) == r.df
        assert int(counts.sum()) == r.tf
        vmr = counts.var(ddof=1) / counts.mean()
        assert abs(r.vmr - vmr) < 1e-3


def test_stream_velocity_equals_batch_rule(spark, qs):
    """The streaming fold (cross-batch trailing-window state) reproduces
    the batch RANGE-frame rule exactly, including boundary-straddling
    bursts."""
    got = {r.user_id: r for r in qs["q_stream_velocity"](spark, SF).collect()}
    want = {r.user_id: r for r in qs["q_evt_velocity"](spark, SF).collect()}
    assert set(got) == set(want)
    for u, w in want.items():
        g = got[u]
        assert (g.max_burst, g.n_flagged, g.flagged) == (
            w.max_burst,
            w.n_flagged,
            w.flagged,
        ), u
        assert g.first_flag_ts == w.first_flag_ts, u


def test_velocity_fold_straddles_batches():
    """Unit pin of the fold algebra: a burst split 2+1 across two batches
    must still trip the rule (the stateless-recompute miss)."""
    import pandas as pd
    from iceberg_rest_catalog_spark.streaming.queries import _velocity_fold

    h = 3_600_000_000
    b1 = pd.DataFrame({"ts": pd.to_datetime([0, 2 * h // 1000], unit="ms")})
    b2 = pd.DataFrame({"ts": pd.to_datetime([20 * h // 1000], unit="ms")})
    state = ([], 0, 0, None)
    state = _velocity_fold(state, [b1], 24 * h)
    assert state[1] == 2 and state[2] == 0
    state = _velocity_fold(state, [b2], 24 * h)
    assert state[1] == 3 and state[2] == 1 and state[3] == 20 * h


def test_velocity_fold_duplicate_ts_peers():
    """k purchases sharing ONE microsecond must each get burst k (the
    oracle's RANGE frame includes all peers of CURRENT ROW), not 1..k by
    array position — ADVICE r12 medium item."""
    import pandas as pd
    from iceberg_rest_catalog_spark.streaming.queries import _velocity_fold

    h = 3_600_000_000
    b = pd.DataFrame({"ts": pd.to_datetime([h // 1000] * 3, unit="ms")})
    state = _velocity_fold(([], 0, 0, None), [b], 24 * h)
    # all three peers see burst 3 -> all three rows flagged
    assert state[1] == 3 and state[2] == 3 and state[3] == h


def test_velocity_fold_out_of_order_chunks():
    """One micro-batch arriving as multiple UNordered Arrow chunks must
    fold identically to a single sorted chunk — ADVICE r12 low item."""
    import pandas as pd
    from iceberg_rest_catalog_spark.streaming.queries import _velocity_fold

    h = 3_600_000_000
    stamps = [20 * h, 0, 2 * h]  # deliberately unsorted across chunks
    chunks = [
        pd.DataFrame({"ts": pd.to_datetime([s // 1000], unit="ms")})
        for s in stamps
    ]
    got = _velocity_fold(([], 0, 0, None), chunks, 24 * h)
    one = pd.DataFrame(
        {"ts": pd.to_datetime([s // 1000 for s in sorted(stamps)], unit="ms")}
    )
    want = _velocity_fold(([], 0, 0, None), [one], 24 * h)
    assert got == want and got[1] == 3 and got[2] == 1


def test_stream_velocity_crash_resume(spark, qs, tmp_path):
    """Crash-resume proof for the stateful velocity stream (VERDICT r12
    item 5): kill the query between micro-batches (injected foreachBatch
    failure after batch 1's sink write) and RESTART from the same
    checkpoint — the resumed run's collapsed final state must equal the
    uninterrupted run's.  State recovery is the state store's job; sink
    idempotence across the replayed batch comes from the monotone
    max/min collapse (the q_stream_upsert discipline)."""
    from pyspark.sql import functions as F

    from iceberg_rest_catalog_spark.streaming.queries import (
        _state_parallelism,
        _velocity_source,
        _velocity_stateful,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    sdf = _velocity_source(spark, SF, src)  # build the REPLAY_SPLITS-file source ONCE

    def run(stream_df, crash_on):
        armed = {"on": crash_on}

        def fb(df, bid):
            df.write.mode("append").parquet(sink)
            if armed["on"] is not None and bid >= armed["on"]:
                raise RuntimeError("injected crash between micro-batches")

        with _state_parallelism(spark):
            q = (
                _velocity_stateful(spark, stream_df)
                .writeStream.foreachBatch(fb)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                assert crash_on is None, "armed run must crash"
            except Exception:
                assert crash_on is not None, "only the armed run may fail"

    run(sdf, crash_on=1)  # batches 0 committed, 1 written-then-crashed
    # RESTART from the same checkpoint over the SAME files (no source
    # rebuild: new part files would desync the checkpoint's file index)
    resumed = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run(resumed, crash_on=None)
    got = {
        r.user_id: (r.max_burst, r.n_flagged, r.ff)
        for r in spark.read.parquet(sink)
        .groupBy("user_id")
        .agg(
            F.max("max_burst").alias("max_burst"),
            F.max("n_flagged").alias("n_flagged"),
            F.min("first_flag_us").alias("ff"),
        )
        .collect()
    }
    want = {
        r.user_id: (
            r.max_burst,
            r.n_flagged,
            None
            if r.first_flag_ts is None
            else int(r.first_flag_ts.timestamp() * 1_000_000),
        )
        for r in qs["q_stream_velocity"](spark, SF).collect()  # uninterrupted
    }
    assert got == want


def test_stream_kmv_crash_resume(spark, tmp_path):
    """Crash-resume proof for the streaming KMV sketch (VERDICT r12
    item 5): the driver-side foreachBatch fold persists the sketch per
    batch WITH batch-id dedup (the production discipline for folds that
    live outside the state store); an injected crash after batch 1 +
    restart from the same checkpoint replays only the uncommitted batch,
    the dedup skips the already-folded one, and the final sketch equals
    the uninterrupted run's exactly (KMV merge is associative)."""
    import json

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from iceberg_rest_catalog_spark.operators.aggregates import KMV_K
    from iceberg_rest_catalog_spark.streaming.queries import _state_parallelism

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter("user_id is not null and event_type is not null")
        .select("event_id", "user_id", "event_type")
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)

    def fold_into(state_file, batch_df, bid):
        st = (
            json.loads(state_file.read_text())
            if state_file.exists()
            else {"applied": [], "sk": {}}
        )
        if bid in st["applied"]:  # replayed committed fold: idempotent skip
            return
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
                "rn", F.row_number().over(W.partitionBy("event_type").orderBy("h"))
            )
            .filter(F.col("rn") <= KMV_K)
            .collect()
        )
        per: dict[str, set] = {}
        for r in rows:
            per.setdefault(r.event_type, set()).add(r.h)
        for et, hs in per.items():
            st["sk"][et] = sorted(set(st["sk"].get(et, [])) | hs)[:KMV_K]
        st["applied"].append(bid)
        state_file.write_text(json.dumps(st))

    def run(ckpt, state_file, crash_on):
        def fb(df, bid):
            fold_into(state_file, df, bid)
            if crash_on is not None and bid >= crash_on:
                raise RuntimeError("injected crash after persisted fold")

        with _state_parallelism(spark):
            q = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(fb)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                assert crash_on is None
            except Exception:
                assert crash_on is not None

    crashed = tmp_path / "state_crashed.json"
    run(str(tmp_path / "ckpt1"), crashed, crash_on=1)
    run(str(tmp_path / "ckpt1"), crashed, crash_on=None)  # resume
    clean = tmp_path / "state_clean.json"
    run(str(tmp_path / "ckpt2"), clean, crash_on=None)  # uninterrupted
    a, b = json.loads(crashed.read_text()), json.loads(clean.read_text())
    assert a["sk"] == b["sk"]
    assert sorted(a["applied"]) == sorted(b["applied"]) == [0, 1, 2, 3]


def test_ivfpq_recall_vs_exact_l2(spark, qs):
    """Recall@10 of the composed IVF-PQ search vs the EXACT L2 top-10
    (brute force over the corpus, the q_sim_recall_eval baseline
    discipline).  Operating point on the synthetic isotropic corpus with
    the deterministic first-16 codebook (not k-means) and 4/16 probed
    cells: measured 0.4 at sf0.001 / 0.2 at sf0.01 — far above the
    ~0.02 random-candidate baseline; a production index moves the knobs
    (k-means codebooks, more codewords, more probes)."""
    import numpy as np

    got = [r.vec_id for r in qs["q_sim_ann_ivf_pq"](spark, SF).collect()]
    rows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter("embedding is not null")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    q = X[ids == 0][0]
    d2 = ((X - q) ** 2).sum(axis=1)
    mask = ids != 0
    exact = [int(v) for _, v in sorted(zip(d2[mask], ids[mask]))[:10]]
    recall = len(set(got) & set(exact)) / 10
    assert len(got) == 10
    assert recall >= 0.3, (recall, got, exact)


def test_pit_join_is_leakage_safe(spark, qs):
    """Every tier_since is <= the purchase ts (never a FUTURE version),
    versions count signups-at-or-before exactly, and pre-first-signup
    purchases carry NULLs — checked brute-force."""
    from iceberg_rest_catalog_spark.operators.common import t
    from pyspark.sql import functions as F

    rows = qs["q_join_pit"](spark, SF).collect()
    ev = (
        t(spark, SF, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select("event_id", "user_id", "ts", "event_type")
        .collect()
    )
    signups = {}
    for e in ev:
        if e.event_type == "signup":
            signups.setdefault(e.user_id, []).append((e.ts, e.event_id))
    n_purch = sum(1 for e in ev if e.event_type == "purchase")
    assert len(rows) == n_purch
    ev_by_id = {e.event_id: e for e in ev}
    for r in rows:
        p = ev_by_id[r.event_id]
        prior = sorted(s for s in signups.get(r.user_id, []) if s[0] <= p.ts)
        if not prior:
            assert r.tier_version is None and r.tier_since is None
            continue
        assert r.tier_version == len(prior)
        assert r.tier_since == prior[-1][0] <= p.ts
        assert r.tenure_us >= 0


def test_snapshot_lineage_fork_semantics(spark, qs):
    """The fork scenario: snapshot 3 (audit) has a lower id than main's
    head 4 but is NOT on main; depths follow parent chains, not ids."""
    rows = {r.snapshot_id: r for r in qs["q_meta_snapshot_lineage"](spark, SF).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[1].parent_id is None and rows[1].depth == 1
    assert rows[4].parent_id == 2 and rows[4].depth == 3 and rows[4].on_main
    assert rows[3].parent_id == 2 and not rows[3].on_main
    assert rows[5].parent_id == 3 and rows[5].depth == 4 and not rows[5].on_main
    assert {s for s, r in rows.items() if r.on_main} == {1, 2, 4}


def test_bytes_audit_conserves_assets(spark, qs):
    """n_assets = n_distinct + dup_assets per mime; totals match the
    corpus; wasted_bytes is zero iff dup_assets is zero."""
    from iceberg_rest_catalog_spark.operators.common import t

    from pyspark.sql import functions as F

    rows = qs["q_multimodal_bytes_audit"](spark, SF01).collect()
    assert len(rows) == 3
    d = t(spark, SF01, "documents")
    n_ingest = d.count() + d.filter(F.col("doc_id") % 7 == 0).count()
    assert sum(r.n_assets for r in rows) == n_ingest
    for r in rows:
        assert r.n_assets == r.n_distinct + r.dup_assets
        assert (r.wasted_bytes > 0) == (r.dup_assets > 0)
        assert r.max_family >= 1
    # the dedup fixture plants exact duplicates — non-degenerate
    assert any(r.dup_assets > 0 for r in rows)


def test_neyman_allocation_properties(spark, qs):
    """Budget respected (up to per-stratum capping/floors), allocation
    monotone in N_h*sigma_h, sample counts equal allocations."""
    from iceberg_rest_catalog_spark.llm.curation import NEYMAN_BUDGET

    rows = qs["q_sample_neyman"](spark, SF).collect()
    assert rows
    total = sum(r.n_alloc for r in rows)
    # floor() + the >=1 floor keep the total within |strata| of budget
    assert total <= NEYMAN_BUDGET + len(rows)
    for r in rows:
        assert 1 <= r.n_alloc <= r.n_pop
        assert r.n_sampled == r.n_alloc
        assert r.sigma >= 0
    ws = sorted(rows, key=lambda r: r.n_pop * r.sigma)
    uncapped = [r for r in ws if r.n_alloc < r.n_pop and r.n_alloc > 1]
    allocs = [r.n_alloc for r in uncapped]
    assert allocs == sorted(allocs)  # monotone in the Neyman weight


def test_bot_score_is_bounded_blend(spark, qs):
    rows = qs["q_evt_bot_score"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.err_ratio <= 1.0 and 0.0 <= r.night_ratio <= 1.0
        blend = (
            0.4 * min(r.max_burst / 20, 1.0)
            + 0.3 * r.err_ratio
            + 0.3 * r.night_ratio
        )
        assert abs(r.bot_score - blend) < 2e-4
    scores = [r.bot_score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_dbscan_is_a_true_clustering(spark, qs):
    """Fixpoint + DBSCAN semantics, recomputed brute-force at sf0.001:
    core/border/noise partition the points; every reported cluster is a
    connected component of the core graph (so the round budget converged)."""
    import math
    from collections import deque, defaultdict
    from iceberg_rest_catalog_spark.operators.common import t
    from iceberg_rest_catalog_spark.operators.graph import (
        DBSCAN_LAMBDA,
        DBSCAN_MINPTS,
        _H44_DB,
    )
    import hashlib

    rows = qs["q_cluster_dbscan"](spark, SF).collect()
    ids = [r.c_custkey for r in t(spark, SF, "customer").select("c_custkey").collect()]
    n = len(ids)
    eps = math.sqrt(DBSCAN_LAMBDA / (math.pi * n))

    def coord(i):
        h = hashlib.md5(f"c:{i}".encode()).hexdigest()
        return int(h[:11], 16) / _H44_DB, int(h[11:22], 16) / _H44_DB

    pts = {i: coord(i) for i in ids}
    adj = defaultdict(set)
    items = list(pts.items())
    for a, (xa, ya) in items:
        for b, (xb, yb) in items:
            if a < b and (xa - xb) ** 2 + (ya - yb) ** 2 <= eps * eps:
                adj[a].add(b)
                adj[b].add(a)
    core = {i for i in ids if len(adj[i]) >= DBSCAN_MINPTS - 1}
    # components of the core graph, labeled by min id
    seen, comp_of = set(), {}
    for s in sorted(core):
        if s in seen:
            continue
        dq, members = deque([s]), [s]
        seen.add(s)
        while dq:
            x = dq.popleft()
            for y in adj[x]:
                if y in core and y not in seen:
                    seen.add(y)
                    members.append(y)
                    dq.append(y)
        lab = min(members)
        for m in members:
            comp_of[m] = lab
    border = {
        i: min(comp_of[c] for c in adj[i] if c in core)
        for i in ids
        if i not in core and any(c in core for c in adj[i])
    }
    sizes = defaultdict(lambda: [0, 0])
    for m, lab in comp_of.items():
        sizes[lab][0] += 1
    for m, lab in border.items():
        sizes[lab][1] += 1
    want = sorted(
        ((lab, c + b, c, b) for lab, (c, b) in sizes.items()),
        key=lambda r: (-r[1], r[0]),
    )[:20]
    got = [(r.cluster_id, r.size, r.n_core, r.n_border) for r in rows if r.cluster_id != -1]
    assert got == want
    noise = [r for r in rows if r.cluster_id == -1][0]
    assert noise.size == n - len(comp_of) - len(border)


def test_source_text_roundtrip_exact(spark, qs):
    """The text round-trip preserves every nation row and type."""
    from iceberg_rest_catalog_spark.operators.common import t

    got = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in qs["q_source_text"](spark, SF).collect()
    }
    want = {
        (r.n_nationkey, r.n_name, int(r.n_regionkey))
        for r in t(spark, SF, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    }
    assert got == want and len(got) == 25


def test_hashing_features_bruteforce(spark, qs):
    """Bucket ids, nnz, argmax and L2 recomputed from raw tokens."""
    import hashlib, math
    from iceberg_rest_catalog_spark.operators.common import t
    from iceberg_rest_catalog_spark.llm.pipeline import HASH_DIM

    rows = qs["q_text_hashing_features"](spark, SF).collect()
    assert len(rows) == 50
    docs = {
        r.doc_id: r.text.lower().split(" ")
        for r in t(spark, SF, "documents").select("doc_id", "text").collect()
    }
    for r in rows:
        counts = {}
        for w in docs[r.doc_id]:
            idx = int(hashlib.md5(w.encode()).hexdigest()[:11], 16) % HASH_DIM
            counts[idx] = counts.get(idx, 0) + 1
        assert r.n_tokens == sum(counts.values())
        assert r.nnz == len(counts)
        top = min(counts, key=lambda i: (-counts[i], i))
        assert (r.top_idx, r.top_count) == (top, counts[top])
        assert abs(r.l2norm - math.sqrt(sum(c * c for c in counts.values()))) < 1e-3


def test_cache_reuse_matches_uncached(spark, qs):
    """The cached fan-out result equals the two direct aggregates."""
    from iceberg_rest_catalog_spark.operators.common import (
        release_persistent_state,
        t,
    )
    from pyspark.sql import functions as F

    try:
        got = {
            (r.dim, r.key): (r.n, r.qty)
            for r in qs["q_scan_cache_reuse"](spark, SF).collect()
        }
    finally:
        release_persistent_state(spark)
    base = t(spark, SF, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    for dim, col in (("by_flag", "l_returnflag"), ("by_status", "l_linestatus")):
        for r in (
            base.groupBy(col)
            .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("q"))
            .collect()
        ):
            assert got[(dim, r[col])] == (r.n, r.q)


def test_time_decay_bruteforce(spark, qs):
    """Decayed value recomputed exactly with integer arithmetic."""
    from iceberg_rest_catalog_spark.operators.common import t
    from pyspark.sql import functions as F

    rows = {r.user_id: r for r in qs["q_agg_time_decay"](spark, SF).collect()}
    p = (
        t(spark, SF, "events")
        .filter((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .select("user_id", F.col("ts").cast("date").alias("d"), "value")
        .collect()
    )
    anchor = max(r.d for r in p)
    agg = {}
    for r in p:
        cents = round(r.value * 100)
        k = (anchor - r.d).days // 7
        w = 0 if k >= 9 else 256 >> k
        n, raw, dec = agg.get(r.user_id, (0, 0, 0))
        agg[r.user_id] = (n + 1, raw + cents, dec + cents * w)
    assert set(rows) == set(agg)
    for u, (n, raw, dec) in agg.items():
        got = rows[u]
        assert got.n_purchases == n
        assert abs(got.raw_value - raw / 100) < 1e-9
        assert got.decayed_value == ((50 * dec + 64) // 128) / 10000
        assert got.decayed_value <= got.raw_value + 1e-9  # decay never inflates


def test_time_travel_asof_skips_branch(spark, qs):
    """Resolution lands on main's head even though the branch snapshot is
    newer; no staged key leaks into the as-of read."""
    rows = qs["q_time_travel_asof"](spark, SF).collect()
    keys = {r.o_orderkey for r in rows}
    assert max(keys) <= 200 and any(k > 100 for k in keys)


def test_rollback_recovery_end_state(spark, qs):
    """After rollback + corrected re-append: full key range, no poison,
    and the recovery created a lineage fork from snapshot 1."""
    from iceberg_rest_catalog_spark.catalog.catalog import Catalog
    from iceberg_rest_catalog_spark.operators.common import fixture_cache_dir

    rows = qs["q_snapshot_rollback"](spark, SF).collect()
    assert all(r.o_totalprice > 0 for r in rows)
    assert max(r.o_orderkey for r in rows) <= 200 < len(rows) + 100
    cat = Catalog(fixture_cache_dir(SF, "rollback"))
    tbl = cat.load_table(("db", "orders_rb"))
    cur = tbl.metadata["current-snapshot-id"]
    chain = [s["snapshot-id"] for s in tbl._ancestors(cur)]
    assert 2 not in chain and 1 in chain  # fork: bad snapshot off-lineage
    snaps = {s["snapshot-id"] for s in tbl.metadata["snapshots"]}
    assert 2 in snaps  # but never deleted


def test_fn_url_components_recompose(spark, qs):
    """parse_url components recompose to the original URL and the k
    parameter equals the field it encodes."""
    rows = qs["q_fn_url"](spark, SF).collect()
    assert rows
    for r in rows[:50]:
        assert r.url == f"{r.protocol}://{r.host}{r.path}?{r.query}"
        assert r.host.endswith(".example.com")
        assert f"k={r.k_param}" in r.query


def test_power_users_is_minimal_exact_prefix(spark, qs):
    """Brute-force the Pareto set: sort users by (rev desc, id), take the
    minimal prefix covering >= 80% of exact-cent revenue; the distributed
    prefix-sum must agree on every output."""
    from pyspark.sql import functions as F

    row = qs["q_evt_power_users"](spark, SF).collect()[0]
    ur = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter("event_type = 'purchase' AND user_id IS NOT NULL")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev"))
        .collect()
    )
    revs = sorted(((r.rev, r.user_id) for r in ur), key=lambda x: (-x[0], x[1]))
    total = sum(r for r, _ in revs)
    cum, k, topsum = 0, 0, 0
    for r, _ in revs:
        if 5 * cum >= 4 * total:
            break
        cum += r
        k += 1
        topsum += r
    assert (row.n_users, row.n_top) == (len(revs), k)
    assert row.user_share == round(k / len(revs), 4)
    assert row.rev_share == round(topsum / total, 4)


def test_theil_sen_matches_numpy_median(spark, qs):
    import numpy as np
    from pyspark.sql import functions as F

    row = qs["q_ts_theil_sen"](spark, SF).collect()[0]
    d = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter("event_type = 'purchase'")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev"))
        .collect()
    )
    days = sorted((r.day.toordinal(), r.rev) for r in d)
    slopes = [
        (rb - ra) / (db - da)
        for i, (da, ra) in enumerate(days)
        for db, rb in days[i + 1 :]
    ]
    assert row.n_days == len(days)
    assert row.n_pairs == len(slopes) == len(days) * (len(days) - 1) // 2
    assert row.slope_med_cents == round(float(np.median(slopes)), 4)


def test_bitmap_distinct_is_exact(spark, qs):
    got = {
        r.event_type: r.n_users
        for r in qs["q_agg_bitmap_distinct"](spark, SF).collect()
    }
    want = {
        r.event_type: r.n
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .filter("user_id IS NOT NULL AND event_type IS NOT NULL")
        .groupBy("event_type")
        .agg(__import__("pyspark.sql.functions", fromlist=["countDistinct"])
             .countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want and len(got) >= 3


def test_fn_encode_round_trips(spark, qs):
    rows = qs["q_fn_encode"](spark, SF).collect()
    names = {
        r.n_nationkey: r.n_name
        for r in spark.read.parquet(f"{SF}/nation.parquet").collect()
    }
    assert len(rows) == len(names)
    for r in rows:
        assert r.b64_back == r.hex_back == names[r.n_nationkey]
        assert r.first_ascii == ord(names[r.n_nationkey][0])
        assert r.padded_key == str(r.n_nationkey).zfill(4)


def test_benford_shares_are_a_distribution(spark, qs):
    rows = qs["q_dq_benford"](spark, SF).collect()
    n_orders = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert sum(r.n_obs for r in rows) == n_orders
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-3
    # the 9 Benford constants
    import math

    for r in rows:
        assert r.benford_share == round(math.log10(1 + 1 / r.digit), 4)


def test_null_profile_matches_per_column_counts(spark, qs):
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet")
    got = {r.col: r.n_null for r in qs["q_dq_null_profile"](spark, SF).collect()}
    for c in got:
        want = ev.filter(F.col(c).isNull()).count()
        assert got[c] == want, c
    assert set(got) == set(ev.columns)


def test_shard_pack_respects_target_and_order(spark, qs):
    """Every shard (except possibly a source's last) must hold >= target
    chars once its last doc is added (greedy prefix bucketing), shard ids
    are dense per source, and doc-id ranges never overlap."""
    from iceberg_rest_catalog_spark.llm.curation import SHARD_TARGET_CHARS

    rows = qs["q_doc_shard_pack"](spark, SF).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, shards in by_src.items():
        shards.sort(key=lambda r: r.shard)
        assert [s.shard for s in shards] == list(range(len(shards))), src
        for a, b in zip(shards, shards[1:]):
            assert a.last_doc < b.first_doc
        # prefix bucketing: each non-final shard crosses the target once
        # its final doc lands (cum at last doc >= (shard+1) * target)
        cum = 0
        for s in shards[:-1]:
            cum += s.shard_chars
            assert cum >= (s.shard + 1) * SHARD_TARGET_CHARS, (src, s.shard)


def test_new_vs_returning_decomposes_dau(spark, qs):
    rows = qs["q_evt_new_vs_returning"](spark, SF).collect()
    assert rows, "expected daily rows"
    total_new = 0
    for r in rows:
        assert r.dau == r.new_users + r.returning_users, r.day
        total_new += r.new_users
    n_users = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter("user_id IS NOT NULL")
        .select("user_id")
        .distinct()
        .count()
    )
    # every user is new exactly once
    assert total_new == n_users
    # day 1 has no returning users
    assert rows[0].returning_users == 0


def test_argmax_identifies_true_extremes(spark, qs):
    from pyspark.sql import functions as F

    rows = {r.event_type: r for r in qs["q_agg_argmax"](spark, SF).collect()}
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter("event_type IS NOT NULL")
        .collect()
    )
    import collections

    best: dict[str, tuple] = {}
    worst: dict[str, tuple] = {}
    for e in ev:
        k = (round(e.value * 100), e.event_id)
        if e.event_type not in best or k > best[e.event_type][0]:
            best[e.event_type] = (k, e)
        if e.event_type not in worst or k < worst[e.event_type][0]:
            worst[e.event_type] = (k, e)
    for et, r in rows.items():
        assert r.peak_event_id == best[et][1].event_id
        assert r.trough_event_id == worst[et][1].event_id
        assert r.peak_value == round(best[et][1].value, 4)


def test_moving_median_window_is_exact(spark, qs):
    import statistics

    rows = qs["q_win_moving_median"](spark, SF).collect()
    revs = [r.rev for r in rows]
    for i, r in enumerate(rows):
        frame = revs[max(0, i - 6) : i + 1]
        assert r.med7 == round(float(statistics.median(frame)), 4), r.day
        assert r.min7 == min(frame) and r.max7 == max(frame)


def test_schema_merge_nulls_missing_column(spark, qs):
    df = qs["q_source_schema_merge"](spark, SF)
    rows = df.collect()
    n_orders = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert len(rows) == n_orders
    for r in rows:
        if r.o_orderkey % 2 == 0:
            assert r.o_orderstatus is None
        else:
            assert r.o_orderstatus is not None


def test_stream_bitmap_matches_batch_twin(spark, qs):
    """The streaming bitmap's final counts must equal the batch bitmap's
    (and both equal exact count-distinct) — the mergeability claim."""
    a = {r.event_type: r.n_users for r in qs["q_stream_bitmap_distinct"](spark, SF).collect()}
    b = {r.event_type: r.n_users for r in qs["q_agg_bitmap_distinct"](spark, SF).collect()}
    assert a == b and len(a) >= 3


def test_fn_lambda_folds_are_exact(spark, qs):
    rows = qs["q_fn_lambda"](spark, SF).collect()
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    by_order: dict[int, list] = {}
    for l in li:
        by_order.setdefault(l.l_orderkey, []).append(l.l_quantity)
    assert len(rows) == len(by_order)
    for r in rows[:200]:
        qs_ = sorted(by_order[r.l_orderkey])
        assert r.n_items == len(qs_)
        assert r.total_qty == int(sum(qs_))
        assert r.n_big == sum(1 for q in qs_ if q >= 30)
        assert r.sum_sq == int(sum(q * q for q in qs_))
        assert r.has_jumbo == any(q >= 49 for q in qs_)
        assert r.min_plus_max == int(qs_[0] + qs_[-1])


def test_index_stats_profile_is_consistent(spark, qs):
    r = qs["q_sim_index_stats"](spark, SF).collect()[0]
    assert r.n_cells_used <= r.n_cells
    assert r.pop_min <= r.pop_avg <= r.pop_max
    assert r.balance >= 1.0
    # every vector is assigned exactly once
    assert round(r.pop_avg * r.n_cells_used) == r.n_vectors


def test_filter_sweep_is_monotone(spark, qs):
    rows = qs["q_text_filter_sweep"](spark, SF).collect()
    assert [r.min_toks for r in rows] == [10, 20, 50, 100, 200]
    for a, b in zip(rows, rows[1:]):
        assert a.n_kept >= b.n_kept
        assert a.doc_share >= b.doc_share
        assert a.token_share >= b.token_share
    n_docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter("text IS NOT NULL")
        .count()
    )
    assert rows[0].n_kept <= n_docs


def test_null_safe_join_keeps_anonymous_bucket(spark, qs):
    rows = qs["q_join_null_safe"](spark, SF).collect()
    anon = [r for r in rows if r.user_id is None]
    # exactly ONE anonymous row (null-safe key merges both NULL groups)
    assert len(anon) <= 1
    ev = spark.read.parquet(f"{SF}/events.parquet")
    anon_purch = ev.filter(
        "event_type = 'purchase' AND user_id IS NULL"
    ).count()
    anon_err = ev.filter("event_type = 'error' AND user_id IS NULL").count()
    if anon_purch or anon_err:
        assert len(anon) == 1
        assert anon[0].n_purchases == anon_purch
        assert anon[0].n_errors == anon_err
        assert anon[0].is_anonymous
    # totals decompose exactly
    assert sum(r.n_purchases for r in rows) == ev.filter(
        "event_type = 'purchase'"
    ).count()
    assert sum(r.n_errors for r in rows) == ev.filter(
        "event_type = 'error'"
    ).count()


def test_role_playing_matrix_covers_all_lines(spark, qs):
    rows = qs["q_join_role_playing"](spark, SF).collect()
    n_lines = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    assert sum(r.n_lines for r in rows) == n_lines
    # brute-force one month pair (the synthetic generator allows negative
    # delays, so no sign invariant — just exactness)
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    probe = rows[0]
    want = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
             == probe.order_month)
            & (F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM")
               == probe.ship_month)
        )
        .count()
    )
    assert probe.n_lines == want


def test_dedup_index_stats_bounds_pair_volume(spark, qs):
    from iceberg_rest_catalog_spark.llm.dedup import N_BANDS

    rows = qs["q_dedup_index_stats"](spark, SF).collect()
    assert [r.band for r in rows] == list(range(N_BANDS))
    n_docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter("text IS NOT NULL")
        .count()
    )
    for r in rows:
        # every doc lands in exactly one bucket per band
        assert r.n_singletons <= r.n_buckets <= n_docs
        assert r.max_bucket >= 1
        assert r.n_cand_pairs >= r.max_bucket * (r.max_bucket - 1) // 2


def test_fn_format_strings_are_wellformed(spark, qs):
    rows = qs["q_fn_format"](spark, SF).collect()
    for r in rows:
        key, name, flt = r.tagged.split("|")
        assert key == str(r.n_nationkey).zfill(5)
        assert len(flt) == 8 and float(flt) == r.n_nationkey * 1.5
        assert r.reversed_name == name[::-1]
        assert r.name_len == len(name)


def test_fn_try_null_semantics(spark, qs):
    rows = qs["q_fn_try"](spark, SF).collect()
    for r in rows[:300]:
        if r.o_orderkey % 1000 == 0:
            assert r.mostly_clean_int is None  # the malformed stripe
        else:
            assert r.mostly_clean_int == r.o_orderkey % 97
        assert 1 <= r.prio_digit <= 5
        if r.o_orderkey % 5 == 0:
            assert r.per_bucket is None
        else:
            assert r.per_bucket is not None
        assert r.mod3_or_null in (None, 1, 2)


def test_decimal_sum_is_partition_order_invariant(spark, qs):
    """The exact-decimal claim: reshuffling the input must not move the
    total by even one ulp (a double sum of the same column does)."""
    from pyspark.sql import functions as F

    base = {r.l_returnflag: r.sum_price for r in qs["q_agg_decimal_exact"](spark, SF).collect()}
    li = spark.read.parquet(f"{SF}/lineitem.parquet").repartition(17, "l_partkey")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    re = {
        r.l_returnflag: r.s
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(dec).cast("double").alias("s"))
        .collect()
    }
    assert base == re


def test_wilson_ci_brackets_rate(spark, qs):
    rows = qs["q_evt_error_rate_ci"](spark, SF).collect()
    for r in rows:
        assert 0.0 <= r.ci_lo <= r.err_rate <= r.ci_hi <= 1.0
        # wider sample -> the band must be inside the +-1/sqrt(n) crude bound
        assert (r.ci_hi - r.ci_lo) <= 2 * 1.96 / (r.n ** 0.5) + 1e-6


def test_degree_dist_accounts_every_node(spark, qs):
    from iceberg_rest_catalog_spark.operators.graph import _knn_edges

    rows = qs["q_graph_degree_dist"](spark, SF).collect()
    _, edges = _knn_edges(spark, SF)
    n_nodes = edges.select("u").distinct().count()
    assert sum(r.n_nodes for r in rows) == n_nodes
    for r in rows:
        # bucket b holds degrees in [2^(b-1), 2^b)
        assert 2 ** (r.bucket - 1) <= r.min_deg <= r.max_deg < 2 ** r.bucket


def test_stream_topk_matches_batch_counts(spark, qs):
    from pyspark.sql import functions as F

    rows = qs["q_stream_topk"](spark, SF).collect()
    c = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter("user_id IS NOT NULL AND event_type IS NOT NULL")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in c:
        by_type.setdefault(r.event_type, []).append((-r.n, r.user_id))
    for et, lst in by_type.items():
        want = sorted(lst)[:3]
        got = [(-r.n, r.user_id) for r in rows if r.event_type == et]
        assert got == want, et
        assert [r.rk for r in rows if r.event_type == et] == list(
            range(1, len(want) + 1)
        )


def test_grouping_id_distinguishes_subtotals(spark, qs):
    rows = qs["q_agg_grouping_id"](spark, SF).collect()
    gids = {}
    for r in rows:
        gids.setdefault(r.gid, 0)
        gids[r.gid] += 1
        if r.gid == 0:
            assert r.rflag != "<all>" and r.lstatus != "<all>"
            assert not r.is_flag_total
        elif r.gid == 1:
            assert r.rflag != "<all>" and r.lstatus == "<all>"
        elif r.gid == 3:
            assert r.rflag == "<all>" and r.lstatus == "<all>"
            assert r.is_flag_total
    assert set(gids) == {0, 1, 3}  # rollup: detail, flag subtotal, grand
    assert gids[3] == 1
    # the grand total equals the table size
    n = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    grand = [r for r in rows if r.gid == 3][0]
    assert grand.n == n


def test_map_in_pandas_is_batch_invariant(spark, qs):
    """mapInPandas output must be identical under a different partitioning
    (the stateless-per-row determinism contract)."""
    from pyspark.sql import functions as F

    got = sorted(
        (r.l_orderkey, r.l_linenumber, r.charged, r.qty_band)
        for r in qs["q_udf_map_in_pandas"](spark, SF).collect()
    )
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter("l_orderkey <= 500")
        .collect()
    )
    import math

    want = []
    for l in li:
        x = l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax)
        c = math.copysign(math.floor(abs(x) * 1e4 + 0.5) / 1e4, x)
        band = (
            "bulk"
            if l.l_quantity >= 40
            else ("mid" if l.l_quantity >= 10 else "small")
        )
        # the synthetic fixture does NOT keep (orderkey, linenumber)
        # unique, so compare as sorted multisets
        want.append((l.l_orderkey, l.l_linenumber, c, band))
    assert got == sorted(want)


def test_listagg_is_sorted_and_complete(spark, qs):
    rows = qs["q_agg_listagg"](spark, SF).collect()
    n_nations = spark.read.parquet(f"{SF}/nation.parquet").count()
    assert sum(r.n_nations for r in rows) == n_nations
    for r in rows:
        parts = r.nations.split(",")
        assert parts == sorted(parts)
        assert len(parts) == r.n_nations


def test_velocity_multi_windows_are_nested(spark, qs):
    rows = qs["q_evt_velocity_multi"](spark, SF).collect()
    single = {
        r.user_id: r.max_burst for r in qs["q_evt_velocity"](spark, SF).collect()
    }
    for r in rows:
        assert r.max_burst_1h <= r.max_burst_24h <= r.max_burst_168h
        # the 24h tier must agree with the single-window operator
        assert r.max_burst_24h == single[r.user_id]
        assert r.flagged == (r.max_burst_1h >= 3 or r.max_burst_24h >= 10)


def test_stream_bitmap_crash_resume(spark, tmp_path):
    """State-store crash-resume for the streaming bitmap (the
    q_stream_velocity proof applied to the round-13 stateful newborn):
    injected foreachBatch failure after batch 1, restart from the same
    checkpoint, final popcount collapse equals the uninterrupted run."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from iceberg_rest_catalog_spark.streaming.queries import (
        _bitmap_update,
        _state_parallelism,
    )

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter("user_id IS NOT NULL AND event_type IS NOT NULL")
        .selectExpr(
            "event_type",
            "user_id DIV 64 AS word",
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT)) AS bit",
        )
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)

    def run(ckpt, sink, crash_on):
        def fb(df, bid):
            df.write.mode("append").parquet(sink)
            if crash_on is not None and bid >= crash_on:
                raise RuntimeError("injected crash")

        with _state_parallelism(spark):
            q = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .groupBy("event_type", "word")
                .applyInPandasWithState(
                    _bitmap_update,
                    outputStructType="event_type string, word long, nbits long",
                    stateStructType="bits long",
                    outputMode="update",
                    timeoutConf=GroupStateTimeout.NoTimeout,
                )
                .writeStream.foreachBatch(fb)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                assert crash_on is None
            except Exception:
                assert crash_on is not None

    def collapse(sink):
        return {
            (r.event_type): r.n
            for r in spark.read.parquet(sink)
            .groupBy("event_type", "word")
            .agg(F.max("nbits").alias("nb"))
            .groupBy("event_type")
            .agg(F.sum("nb").alias("n"))
            .collect()
        }

    ckpt, sink = str(tmp_path / "ck1"), str(tmp_path / "s1")
    run(ckpt, sink, crash_on=1)
    run(ckpt, sink, crash_on=None)  # resume from the same checkpoint
    run(str(tmp_path / "ck2"), str(tmp_path / "s2"), crash_on=None)
    assert collapse(sink) == collapse(str(tmp_path / "s2"))
    # and both equal exact distinct
    exact = {
        r.event_type: r.n
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .filter("user_id IS NOT NULL AND event_type IS NOT NULL")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert collapse(sink) == exact


def test_stream_topk_crash_resume(spark, tmp_path):
    """Counting-state crash-resume for the streaming heavy hitters: the
    replayed (uncommitted) batch must not double-count — state commits
    atomically with the batch, so the resumed counts equal batch truth."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from iceberg_rest_catalog_spark.streaming.queries import (
        _count_update,
        _state_parallelism,
    )

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter("user_id IS NOT NULL AND event_type IS NOT NULL")
        .select("event_type", "user_id")
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)

    def run(ckpt, sink, crash_on):
        def fb(df, bid):
            df.write.mode("append").parquet(sink)
            if crash_on is not None and bid >= crash_on:
                raise RuntimeError("injected crash")

        with _state_parallelism(spark):
            q = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .groupBy("event_type", "user_id")
                .applyInPandasWithState(
                    _count_update,
                    outputStructType="event_type string, user_id long, n long",
                    stateStructType="n long",
                    outputMode="update",
                    timeoutConf=GroupStateTimeout.NoTimeout,
                )
                .writeStream.foreachBatch(fb)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                assert crash_on is None
            except Exception:
                assert crash_on is not None

    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "s")
    run(ckpt, sink, crash_on=1)
    run(ckpt, sink, crash_on=None)
    final = {
        (r.event_type, r.user_id): r.n
        for r in spark.read.parquet(sink)
        .groupBy("event_type", "user_id")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    truth = {
        (r.event_type, r.user_id): r.n
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == truth


# ----- round 14 ---------------------------------------------------------


def test_sim_index_update_merge_equals_rebuild(spark, qs):
    """The incremental-index invariant itself (VERDICT r13 item 3):
    index(base) UNION index(delta) must equal index(all) row-for-row —
    assignment and encoding depend only on the vector and the full-corpus
    centroid/codebook convention, never on which batch a vector arrived
    in.  The registered query's oracle already pins the SEARCH equality;
    this pins the stronger index-level property it derives from."""
    from pyspark.sql import functions as F

    from iceberg_rest_catalog_spark.llm.ann_ivfpq import (
        DELTA_MOD,
        _ivfpq_index_rows,
    )

    full = _ivfpq_index_rows(spark, SF)
    delta_pred = F.col("vec_id") % DELTA_MOD == 0
    merged = _ivfpq_index_rows(spark, SF, pred=~delta_pred).unionByName(
        _ivfpq_index_rows(spark, SF, pred=delta_pred)
    )
    key = lambda r: (r.vec_id, r.s)
    got = {key(r): (r.cell, r.code) for r in merged.collect()}
    want = {key(r): (r.cell, r.code) for r in full.collect()}
    assert got == want and len(got) > 0


def test_sim_index_update_delta_scan_is_bounded(spark):
    """The update path's encode work reads ONLY the delta batch: the
    pred-filtered subvector explode must carry |delta| * N_SUB rows, not
    |corpus| * N_SUB (the cost-bounded-by-|delta| contract)."""
    from pyspark.sql import functions as F

    from iceberg_rest_catalog_spark.llm.ann_ivfpq import DELTA_MOD
    from iceberg_rest_catalog_spark.llm.embedding import N_SUB, _pq_assignments

    delta_pred = F.col("vec_id") % DELTA_MOD == 0
    n_delta = (
        _pq_assignments(spark, SF, pred=delta_pred)
        .select("vec_id")
        .distinct()
        .count()
    )
    n_corpus = (
        _pq_assignments(spark, SF).select("vec_id").distinct().count()
    )
    assert 0 < n_delta < n_corpus
    assert (
        _pq_assignments(spark, SF, pred=delta_pred).count() == n_delta * N_SUB
    )


def test_perplexity_bigram_orders_fluency(spark, qs):
    """Backoff-bigram NLL must (a) cover exactly the docs with >= 2
    tokens, (b) produce finite positive scores (every scored bigram was
    observed, so p in (0, 1]), and (c) not equal the unigram NLL ranking
    — the word-ORDER signal is the point of the bigram model."""
    rows = qs["q_text_perplexity_bigram"](spark, SF).collect()
    uni = {r.doc_id: r.nll for r in qs["q_text_perplexity"](spark, SF).collect()}
    assert rows and all(r.n_bigrams >= 1 and r.nll >= 0 for r in rows)
    bi = {r.doc_id: r.nll for r in rows}
    assert set(bi) <= set(uni)
    # the two models must disagree on SOME pairwise ordering
    ds = sorted(bi)
    flips = sum(
        1
        for a, b in zip(ds, ds[1:])
        if (bi[a] - bi[b]) * (uni[a] - uni[b]) < 0
    )
    assert flips > 0


def test_multimodal_retrieval_eval_bounds(spark, qs):
    """Both directions report: n_queries equals the probe-batch size
    (identical for the two directions — same eval pairs), hits are
    bounded by queries, recall = hits/queries at 4dp half-up."""
    rows = {r.direction: r for r in qs["q_multimodal_retrieval_eval"](spark, SF).collect()}
    assert set(rows) == {"text->image", "image->text"}
    nq = {r.n_queries for r in rows.values()}
    assert len(nq) == 1 and nq.pop() > 0
    for r in rows.values():
        assert 0 <= r.n_hits <= r.n_queries
        assert r.recall == ((r.n_hits * 20000 + r.n_queries) // (2 * r.n_queries)) / 1e4


def test_stream_late_audit_ledger_conserves_mass(spark, qs):
    """Every emitted window: n_streamed + n_dropped == n_total, drops are
    nonneg, and at least one window actually dropped rows (the planted
    tail is the point of the fixture) while at least one accepted its
    late rows (the still-open head of the emitted range)."""
    rows = qs["q_stream_late_audit"](spark, SF01).collect()
    assert rows
    assert all(r.n_streamed + r.n_dropped == r.n_total for r in rows)
    assert all(r.n_dropped >= 0 for r in rows)
    assert any(r.n_dropped > 0 for r in rows)
    assert any(r.n_dropped == 0 for r in rows)


def test_stream_late_audit_crash_resume(spark, qs, tmp_path):
    """Crash-resume proof for the watermarked late-audit stream (the r13
    newborn discipline): kill the query between micro-batches and RESTART
    from the same checkpoint — watermark state recovers from the commit
    log, so the resumed run's emitted-window ledger equals the
    uninterrupted run's."""
    from pyspark.sql import functions as F

    from iceberg_rest_catalog_spark.streaming.queries import (
        _late_audit_source,
        _late_audit_stream,
        _state_parallelism,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    ev = _late_audit_source(spark, SF01, src)

    def run(crash_on):
        def fb(df, bid):
            df.select(
                F.col("window.start").cast("string").alias("window_start"),
                "n_streamed",
            ).write.mode("append").parquet(sink)
            if crash_on is not None and bid >= crash_on:
                raise RuntimeError("injected crash between micro-batches")

        with _state_parallelism(spark):
            q = (
                _late_audit_stream(spark, src, ev.schema)
                .writeStream.foreachBatch(fb)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                assert crash_on is None, "armed run must crash"
            except Exception:
                assert crash_on is not None, "only the armed run may fail"

    run(crash_on=2)  # batches 0-1 committed, 2 written-then-crashed
    run(crash_on=None)  # resume from the same checkpoint
    # append-mode windows emit once per (possibly replayed) batch; the
    # replayed batch re-emits identical rows, so distinct() collapses them
    got = {
        r.window_start: r.n_streamed
        for r in spark.read.parquet(sink).distinct().collect()
    }
    want = {
        r.window_start: r.n_streamed
        for r in qs["q_stream_late_audit"](spark, SF01).collect()
    }
    assert got == want


def test_ivf_pq_recall_eval_is_calibrated(spark, qs):
    """The composed-index recall must be (a) per-probe bounded in [0,1],
    (b) no better than the IVF-only probe path on average is allowed to
    be perfect ADC-wise — i.e. the op reports a real product of the two
    error sources, not a copy of either: at least one probe must lose a
    neighbour to quantization or probing (recall < 1 somewhere) while
    the mean stays well above random (k/corpus)."""
    rows = qs["q_sim_ivf_pq_recall_eval"](spark, SF).collect()
    assert rows and all(0.0 <= r.recall <= 1.0 for r in rows)
    assert all(r.n_hits == round(r.recall * 10) for r in rows)
    mean = sum(r.recall for r in rows) / len(rows)
    assert mean > 0.2  # far above the ~10/500 random floor
    assert any(r.recall < 1.0 for r in rows)  # the approximation is real


def test_cuped_reduces_variance_and_preserves_means(spark, qs):
    """CUPED's contract: adjusted variance <= raw variance per cohort
    (the covariate is positively informative on this fixture), the
    POOLED adjusted mean equals the pooled raw mean (theta-centering
    preserves it; per-cohort means may shift), and theta is shared."""
    rows = qs["q_evt_cuped"](spark, SF01).collect()
    assert len(rows) == 2
    assert len({r.theta for r in rows}) == 1
    for r in rows:
        assert r.var_adj <= r.var_post
        assert abs(r.var_reduction - (1 - r.var_adj / r.var_post)) < 2e-4
    pooled_post = sum(r.mean_post * r.n_users for r in rows)
    pooled_adj = sum(r.mean_adj * r.n_users for r in rows)
    n = sum(r.n_users for r in rows)
    assert abs(pooled_post - pooled_adj) / n < 1e-2


def test_next_event_eval_is_out_of_time(spark, qs):
    """The eval must be a real out-of-time measurement: per-prev
    accuracy in [0,1], eval counts positive, and the model's prediction
    is a valid event type drawn from the train vocabulary."""
    rows = qs["q_evt_next_event_eval"](spark, SF01).collect()
    assert rows
    types = {r.prev for r in rows}
    for r in rows:
        assert r.n_eval > 0 and 0 <= r.n_correct <= r.n_eval
        assert 0.0 <= r.accuracy <= 1.0
        assert r.pred in types


def test_modularity_is_exact_and_bounded(spark, qs):
    """Q and per-community contributions must obey the metric's algebra:
    contribution = (E*e_in - d_sum^2)/E^2 exactly (the integer form),
    global Q in (-0.5, 1), and the LPA communities on the kNN graph must
    show REAL structure (Q well above 0 — the graph is built from
    nearest neighbours, so intra-community density is by construction)."""
    rows = qs["q_graph_modularity"](spark, SF).collect()
    assert rows
    q = {r.modularity for r in rows}
    assert len(q) == 1
    q = q.pop()
    assert -0.5 <= q <= 1.0
    # positive Q = real assortativity; the sf0.001 kNN graph measures
    # ~0.07 (500 nodes, 3 LPA rounds leave many singleton communities)
    assert q > 0.0
    # recompute contributions from the in-frame integers
    from iceberg_rest_catalog_spark.operators.graph import _knn_edges

    ecnt = _knn_edges(spark, SF)[1].count()
    for r in rows:
        want = (ecnt * r.e_in - r.d_sum * r.d_sum) / (ecnt * ecnt)
        assert abs(r.contribution - want) < 1.5e-4


def test_srm_check_algebra(spark, qs):
    """chi2 must equal the exact rational (n_a-n_b)^2/(n_a+n_b), the
    expected count the design midpoint, and the flag the 3.8415 cut."""
    (r,) = qs["q_evt_srm_check"](spark, SF01).collect()
    assert r.n_a > 0 and r.n_b > 0
    want = (r.n_a - r.n_b) ** 2 / (r.n_a + r.n_b)
    assert abs(r.chi2 - want) < 1e-4
    assert r.expected == round((r.n_a + r.n_b) / 2.0, 1)
    assert r.srm_flag == (want > 3.8415)


def test_stream_topk_bounded_crash_resume(spark, qs, tmp_path):
    """Exactly-once proof for the changelog swap: kill the stream after a
    batch's partial counts are written, RESTART from the same checkpoint
    — the replayed batch OVERWRITES its own sink/batch=<id> directory
    (idempotent by construction), so the final rollup equals both the
    uninterrupted bounded run and the exact per-key-state oracle."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from iceberg_rest_catalog_spark.operators.common import t as _t
    from iceberg_rest_catalog_spark.streaming.queries import _state_parallelism

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    ev = (
        _t(spark, SF01, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "user_id")
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def run(crash_on):
        def fb(df, bid):
            df.groupBy("event_type", "user_id").agg(
                F.count("*").alias("n")
            ).write.mode("overwrite").parquet(os.path.join(sink, f"batch={bid}"))
            if crash_on is not None and bid >= crash_on:
                raise RuntimeError("injected crash after the batch write")

        with _state_parallelism(spark):
            q = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(fb)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                assert crash_on is None, "armed run must crash"
            except Exception:
                assert crash_on is not None, "only the armed run may fail"

    run(crash_on=1)  # batch 0 committed; batch 1 written then crashed
    run(crash_on=None)  # resume: batch 1 replays, overwrite dedups
    got = {
        (r.event_type, r.user_id): r.n
        for r in spark.read.parquet(os.path.join(sink, "batch=*"))
        .groupBy("event_type", "user_id")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    want = {
        (r.event_type, r.user_id): r.n
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_publish_parquet_atomic_race(spark, tmp_path):
    """Two builders racing the same signature-keyed cache: both write
    temp dirs; exactly one rename wins; the loser's temp is removed; the
    published cache is complete (_SUCCESS present, readable, right
    rows).  Simulates the concurrent-session race the r13 ADVICE flagged
    by invoking the publish twice back-to-back (the second call sees a
    non-empty target and must clean up after itself)."""
    import glob
    import os

    from iceberg_rest_catalog_spark.operators.common import (
        publish_parquet_atomic,
    )

    cache = str(tmp_path / "cache")
    os.makedirs(cache, exist_ok=True)  # an empty target is replaced
    df1 = spark.range(10).withColumnRenamed("id", "v")
    df2 = spark.range(99).withColumnRenamed("id", "v")
    publish_parquet_atomic(df1, cache)
    publish_parquet_atomic(df2, cache)  # loser: target already non-empty
    assert os.path.exists(os.path.join(cache, "_SUCCESS"))
    assert spark.read.parquet(cache).count() == 10  # first writer won
    assert not glob.glob(cache + ".tmp-*")  # loser cleaned up its temp


def test_build_once_caches_follow_fixture_rewrite(spark, tmp_path, monkeypatch):
    """A fixture rewritten in place gets fresh build-once inputs: after
    the odd o_orderkey rows are dropped from orders.parquet, q_time_travel
    (a cached catalog warehouse) and q_scan_partition_prune (a cached
    partitioned parquet copy) match their DuckDB oracles on the new data,
    and the old keys are gone.  A repeat call on an unchanged fixture
    leaves each cache directory untouched."""
    import os
    import shutil

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from iceberg_rest_catalog_spark import registry
    from iceberg_rest_catalog_spark.operators import common
    from tools.check_queries import norm

    sf = str(tmp_path / "sf")
    shutil.copytree(SF, sf)
    monkeypatch.setattr(common, "SCRATCH_ROOT", str(tmp_path / "scratch"))
    qs, oracles = registry.queries(), registry.oracles()
    caches = {"q_time_travel": "time_travel", "q_scan_partition_prune": "part_orders"}

    def run_and_compare():
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
        )
        stats = {}
        for name, cache in caches.items():
            got = norm(qs[name](spark, sf).toPandas())
            assert got.equals(norm(con.execute(oracles[name]).fetchdf())), name
            d = common.fixture_cache_dir(sf, cache)
            assert os.listdir(os.path.dirname(d)) == [os.path.basename(d)], name
            st = os.stat(d)
            stats[name] = (st.st_ino, st.st_mtime_ns)
        return stats

    first = run_and_compare()
    assert run_and_compare() == first
    orders = pq.read_table(os.path.join(sf, "orders.parquet"))
    even = pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0)
    pq.write_table(orders.filter(even), os.path.join(sf, "orders.parquet"))
    run_and_compare()


# -- round-15 newborns ---------------------------------------------------------


def test_graph_search_recall_bounds_and_beam_contract(spark, qs):
    """q_sim_graph_search: every probe reports, recall in {0, 1/3, 2/3, 1},
    and the beam walk can never claim MORE hits than the beam holds."""
    rows = qs["q_sim_graph_search"](spark, SF).collect()
    from iceberg_rest_catalog_spark.llm.similarity import (
        _emb_count,
        recall_qstep_for,
    )
    from iceberg_rest_catalog_spark.operators.graph import BFS_K, GS_BEAM

    qstep = recall_qstep_for(_emb_count(spark, SF))
    assert len(rows) > 0 and len(rows) == len({r.q_vec_id for r in rows})
    assert all(r.q_vec_id % qstep == 0 for r in rows)
    for r in rows:
        assert 0 <= r.n_hits <= min(BFS_K, GS_BEAM)
        assert abs(r.recall - round(r.n_hits / BFS_K, 4)) < 1e-9


def test_graph_search_beats_random_on_connected_component(spark, qs):
    """The walk is only useful if it finds SOME true neighbors: assert
    nonzero aggregate recall (entry node 0's component covers part of the
    probe set; a recall of exactly 0 everywhere means the search is
    broken, not that the fixture is adversarial)."""
    rows = qs["q_sim_graph_search"](spark, SF).collect()
    assert sum(r.n_hits for r in rows) > 0


def test_bpe_apply_conserves_token_mass(spark, qs):
    """q_tokenizer_bpe_apply: sum of per-doc BPE tokens equals
    q_text_bpe_train's final tokens_after (same corpus, same merges) —
    the composition contract between train and apply; and per doc
    n_words <= n_bpe_tokens <= n_chars (merges only fuse within words)."""
    apply_rows = qs["q_tokenizer_bpe_apply"](spark, SF).collect()
    train_rows = qs["q_text_bpe_train"](spark, SF).collect()
    assert sum(r.n_bpe_tokens for r in apply_rows) == train_rows[-1].tokens_after
    for r in apply_rows:
        assert r.n_words <= r.n_bpe_tokens <= r.n_chars
        assert r.bpe_per_word >= 1.0 and r.chars_per_token >= 1.0


def test_psi_fold_is_zero_on_identical_and_fires_on_shifted():
    """_psi_fold: PSI of a histogram against itself is exactly 0; a
    hard-shifted distribution exceeds the 0.2 action threshold; PSI is
    always >= 0 (each term (p-q)ln(p/q) is sign-aligned)."""
    from iceberg_rest_catalog_spark.streaming.queries import (
        PSI_ALERT,
        PSI_BINS,
        _psi_fold,
    )

    ref = {b: 100 for b in range(PSI_BINS)}
    same = _psi_fold(dict(ref), 100 * PSI_BINS, ref, 100 * PSI_BINS)
    assert same == 0.0
    shifted = {b: (1000 if b == 0 else 0) for b in range(PSI_BINS)}
    hot = _psi_fold(shifted, 1000, ref, 100 * PSI_BINS)
    assert hot > PSI_ALERT
    skew = {b: 100 + 40 * b for b in range(PSI_BINS)}
    mild = _psi_fold(skew, sum(skew.values()), ref, 100 * PSI_BINS)
    assert mild >= 0.0


def test_stream_drift_psi_crash_resume(spark, qs, tmp_path):
    """Exactly-once proof for the PSI changelog (the r13/r14 newborn
    discipline): kill the stream after a batch's PSI row is written,
    RESTART from the same checkpoint — the replayed batch OVERWRITES its
    own sink/batch=<id> row, so the final ledger equals the uninterrupted
    registered run's."""
    import os

    from iceberg_rest_catalog_spark.streaming.queries import (
        _psi_reference,
        _psi_source,
        _psi_writer,
        _state_parallelism,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    expected = _psi_source(spark, SF, src)
    ref, rtot = _psi_reference(spark, SF)
    inner = _psi_writer(spark, sink, ref, rtot)

    def run(crash_on):
        def fb(df, bid):
            inner(df, bid)
            if crash_on is not None and bid >= crash_on:
                raise RuntimeError("injected crash after the batch write")

        with _state_parallelism(spark):
            q = (
                spark.readStream.schema("bin int")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(fb)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                assert crash_on is None, "armed run must crash"
            except Exception:
                assert crash_on is not None, "only the armed run may fail"

    run(crash_on=1)  # batch 0 committed; batch 1 written then crashed
    run(crash_on=None)  # resume: batch 1 replays, overwrite dedups
    res = (
        spark.read.parquet(os.path.join(sink, "batch=*"))
        .orderBy("batch_seq")
        .collect()
    )
    assert [r.n_rows for r in res] == expected  # no double-counted batch
    ledger = {(r.batch_seq, r.n_rows, r.psi, r.alert) for r in res}
    want = {
        (r.batch_seq, r.n_rows, r.psi, r.alert)
        for r in qs["q_stream_drift_psi"](spark, SF).collect()
    }
    assert ledger == want


def test_periodogram_shares_sum_to_one_single_dominant(spark, qs):
    rows = qs["q_ts_periodogram"](spark, SF).collect()
    from iceberg_rest_catalog_spark.operators.events import PERIODOGRAM_PERIODS

    assert [r.period_hours for r in rows] == sorted(PERIODOGRAM_PERIODS)
    assert abs(sum(r.power_share for r in rows) - 1.0) < 1e-2  # 4dp rounding
    assert sum(r.dominant for r in rows) == 1
    best = max(rows, key=lambda r: (r.power_share, -r.period_hours))
    assert next(r for r in rows if r.dominant).power_share == best.power_share


def test_sprt_path_is_cumulative_and_decisions_match_bound(spark, qs):
    rows = qs["q_evt_sprt"](spark, SF).collect()
    from iceberg_rest_catalog_spark.operators.events import SPRT_BOUND

    assert len(rows) >= 28  # ~a month of days
    n_prev = c_prev = 0
    for r in rows:
        assert r.n_conv <= r.n_events
        assert r.n_events >= n_prev and r.n_conv >= c_prev  # cumulative
        n_prev, c_prev = r.n_events, r.n_conv
        want = (
            "reject_h0"
            if r.llr >= SPRT_BOUND
            else "accept_h0" if r.llr <= -SPRT_BOUND else "continue"
        )
        assert r.decision == want


def test_bootstrap_envelope_brackets_the_point_estimate(spark, qs):
    (r,) = qs["q_sample_bootstrap"](spark, SF).collect()
    assert r.ci_lo <= r.boot_mean <= r.ci_hi
    assert r.ci_lo <= r.point_mean <= r.ci_hi  # B=16 envelope is wide enough
    assert r.boot_sd > 0
    # deterministic: a second run returns the identical row
    (r2,) = qs["q_sample_bootstrap"](spark, SF).collect()
    assert r == r2


def test_filtered_ann_respects_predicate_and_subsets_probed_region(spark, qs):
    """q_sim_ann_ivf_filtered: every result matches the predicate, and the
    filtered top-k is exactly the predicate-matching subset of the probed
    region's ranking (pre-filter semantics, not post-filter truncation):
    any unfiltered probed candidate with label FILTER_LABEL ranking above
    the filtered list's tail must BE in the filtered list."""
    from iceberg_rest_catalog_spark.llm.similarity import FILTER_LABEL

    rows = qs["q_sim_ann_ivf_filtered"](spark, SF).collect()
    assert rows and all(r.label == FILTER_LABEL for r in rows)
    cos = [r.cos for r in rows]
    assert cos == sorted(cos, reverse=True)
    unfiltered = qs["q_sim_ann_ivf"](spark, SF).collect()
    flt_ids = {r.vec_id for r in rows}
    for u in unfiltered:
        if u.label == FILTER_LABEL and u.cos > min(cos):
            assert u.vec_id in flt_ids


def test_did_placebo_z_is_small_and_cells_consistent(spark, qs):
    (r,) = qs["q_evt_did"](spark, SF01).collect()
    got = round(
        (r.mean_t_post - r.mean_t_pre) - (r.mean_c_post - r.mean_c_pre), 3
    )
    assert abs(got - r.did) < 2e-3  # did equals its four cells (4dp noise)
    assert r.se > 0
    assert abs(r.z) < 4  # parity placebo: no real treatment effect


def test_freshness_watermark_row_has_zero_lag(spark, qs):
    rows = qs["q_dq_freshness"](spark, SF01).collect()
    assert len(rows) == 5  # the five fixture event types
    assert min(r.lag_hours for r in rows) == 0  # someone owns the watermark
    for r in rows:
        assert r.lag_hours >= 0
        assert r.stale == int(r.lag_hours >= 24)


def test_power_sizing_is_internally_consistent(spark, qs):
    """q_evt_power: at n = n_required per arm (equal split), the MDE
    formula detects exactly the target lift — i.e. the two outputs are
    inverses of each other; and at the CURRENT n the detectable lift
    must exceed the target (the fixture arms are far smaller than
    n_required)."""
    (r,) = qs["q_evt_power"](spark, SF01).collect()
    assert r.n_a > 0 and r.n_b > 0 and r.mean_pooled > 0
    assert r.mde_abs > 0
    assert abs(r.mde_rel - round(r.mde_abs / r.mean_pooled, 3)) < 2e-3
    assert r.n_required > max(r.n_a, r.n_b)  # 5% lift needs more users


# -- round-16 newborns --------------------------------------------------------


def test_edge_audit_internal_consistency(spark, qs):
    """q_graph_edge_audit: the stage digests must agree with each other —
    cell-census vec_id mass == lpa0 label mass (labels start as own ids),
    edge-bucket counts sum to the modularity triple's |E|, and every
    expected stage is present."""
    rows = qs["q_graph_edge_audit"](spark, SF).collect()
    stages = {r.stage for r in rows}
    assert {"cell", "edge", "lpa0", "lpa1", "lpa2", "lpa3", "mod"} <= stages
    cell_mass = sum(r.v for r in rows if r.stage == "cell")
    lpa0_mass = sum(r.v for r in rows if r.stage == "lpa0")
    assert cell_mass == lpa0_mass  # both are sum(vec_id) over the corpus
    e_total = sum(r.n for r in rows if r.stage == "edge")
    (mod0,) = [r for r in rows if r.stage == "mod" and r.k == 0]
    assert mod0.n == e_total  # |E| agrees between digest and triple
    (mod1,) = [r for r in rows if r.stage == "mod" and r.k == 1]
    assert 0 < mod1.n <= sum(r.n for r in rows if r.stage == "lpa3")


def test_fof_recommendations_are_two_hop_nonneighbors(spark, qs):
    from iceberg_rest_catalog_spark.operators.graph import FOF_K, _knn_edges

    rows = qs["q_graph_fof"](spark, SF).collect()
    assert rows, "no recommendations"
    _, edges = _knn_edges(spark, SF)
    direct = {(r.u, r.v) for r in edges.collect()}
    per_node: dict[int, list] = {}
    for r in rows:
        assert 1 <= r.rank <= FOF_K and r.rec != r.node
        assert r.common_neighbors >= 1
        assert (r.node, r.rec) not in direct  # anti-join held
        per_node.setdefault(r.node, []).append(r)
    for node, rs in per_node.items():
        rs.sort(key=lambda r: r.rank)
        cs = [r.common_neighbors for r in rs]
        assert cs == sorted(cs, reverse=True)  # rank follows the score


def test_srm_counts_and_flag(spark, qs):
    from iceberg_rest_catalog_spark.operators.events import SRM_CHI2_CRIT
    from iceberg_rest_catalog_spark.operators.common import t

    (r,) = qs["q_evt_srm"](spark, SF).collect()
    n_users = (
        t(spark, SF, "events")
        .filter("user_id IS NOT NULL")
        .select("user_id")
        .distinct()
        .count()
    )
    assert r.n_a + r.n_b == n_users
    assert r.chi2 >= 0
    assert r.srm_flag == int(r.chi2 > SRM_CHI2_CRIT)


def test_retention_matrix_shares_and_age_zero(spark, qs):
    rows = qs["q_evt_retention_matrix"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_active <= r.n_cohort
        assert 0 < r.retention <= 1.0
        if r.age_week == 0:
            assert r.retention == 1.0  # cohort defined by first activity


def test_ltv_curve_is_monotone_per_cohort(spark, qs):
    rows = qs["q_evt_ltv"](spark, SF).collect()
    assert rows
    by_cohort: dict[int, list] = {}
    for r in rows:
        assert r.n_users > 0
        assert abs(r.ltv - round(r.cum_revenue / r.n_users, 4)) < 2e-3
        by_cohort.setdefault(r.cohort_week, []).append(r)
    for rs in by_cohort.values():
        rs.sort(key=lambda r: r.age_week)
        cums = [r.cum_revenue for r in rs]
        assert cums == sorted(cums)  # purchases only add revenue


def test_seasonal_naive_errors_and_lookup(spark, qs):
    rows = qs["q_ts_seasonal_naive"](spark, SF).collect()
    assert rows
    n_by_day = {r.day: r.n for r in rows}
    import datetime as _dt

    for r in rows:
        assert r.abs_err == abs(r.err) and r.err == r.n - r.forecast
        d = _dt.date.fromisoformat(r.day) - _dt.timedelta(days=7)
        if str(d) in n_by_day:  # the prior day is itself in the output
            assert r.forecast == n_by_day[str(d)]


def test_ewma_cross_signals_match_state(spark, qs):
    rows = qs["q_ts_ewma_cross"](spark, SF).collect()
    rows.sort(key=lambda r: r.day)
    assert rows[0].signal == 0  # no prior state on day 1
    for r in rows:
        assert r.signal in (-1, 0, 1)
        if r.signal == 1:
            assert r.ewma_fast >= r.ewma_slow  # crossed up (4-dp view)
        if r.signal == -1:
            assert r.ewma_fast <= r.ewma_slow


def test_hhi_bounds(spark, qs):
    rows = qs["q_agg_hhi"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.hhi <= 1.0 + 1e-9
        # sum(s_i^2) <= max(s_i) * sum(s_i) = top_share, and >= top_share^2
        assert r.hhi <= r.top_share + 1e-3
        assert r.hhi >= r.top_share**2 - 1e-3
        assert r.hhi >= 1.0 / r.n_customers - 1e-3  # even split is the floor


def test_iqr_fences_and_counts(spark, qs):
    rows = qs["q_dq_anomaly_iqr"](spark, SF).collect()
    assert len(rows) == 5  # the five fixture event types
    for r in rows:
        assert r.q1 <= r.q3
        assert abs(r.iqr - round(r.q3 - r.q1, 4)) < 2e-3
        assert 0 <= r.n_outliers < r.n_values


def test_rake_phrases_have_no_stopwords_and_score_floor(spark, qs):
    from iceberg_rest_catalog_spark.llm.text import RAKE_STOP, RAKE_TOP

    rows = qs["q_text_rake"](spark, SF).collect()
    assert len(rows) == RAKE_TOP
    for r in rows:
        words = r.phrase.split(" ")
        assert len(words) == r.n_words >= 1
        assert not set(words) & set(RAKE_STOP)  # delimiters never inside
        assert r.n_occurrences >= 1
        # each member word scores deg/freq >= 1, so a phrase scores >= len
        assert r.score >= r.n_words - 1e-3


def test_trimmed_mean_is_between_winsorized_bounds(spark, qs):
    rows = qs["q_agg_trimmed_mean"](spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_cut_each == r.n_values * 10 // 100
        # trimming and winsorizing both pull toward the center; they stay
        # within each other's neighborhood and inside the value range
        assert abs(r.trimmed_mean - r.winsorized_mean) < max(
            1.0, 0.2 * abs(r.winsorized_mean)
        )


def test_skewkurt_matches_numpy_moments(spark, qs):
    import numpy as np
    from iceberg_rest_catalog_spark.operators.common import t as _t

    rows = {r.event_type: r for r in qs["q_agg_skewkurt"](spark, SF).collect()}
    vals = (
        _t(spark, SF, "events")
        .filter("value IS NOT NULL AND event_type = 'purchase'")
        .select("value")
        .collect()
    )
    x = np.array([v.value for v in vals])
    mu, m2 = x.mean(), ((x - x.mean()) ** 2).mean()
    m3 = ((x - mu) ** 3).mean()
    m4 = ((x - mu) ** 4).mean()
    r = rows["purchase"]
    assert abs(r.skewness - m3 / m2**1.5) < 1e-2
    assert abs(r.excess_kurtosis - (m4 / m2**2 - 3)) < 1e-2


def test_schema_drift_halves_are_exhaustive(spark, qs):
    from iceberg_rest_catalog_spark.operators.common import t as _t

    rows = qs["q_dq_schema_drift"](spark, SF).collect()
    assert {r.column_name for r in rows} == {
        "event_type", "user_id", "value", "props",
    }
    total = _t(spark, SF, "events").count()
    for r in rows:
        assert r.n_a + r.n_b == total  # the halves partition the window
        assert abs(r.null_rate_delta - round(r.null_rate_a - r.null_rate_b, 4)) < 2e-4
        assert r.n_distinct_a >= 0 and r.n_distinct_b >= 0


def test_readability_counts_and_score_shape(spark, qs):
    rows = qs["q_text_readability"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_words >= 0 and r.n_syllables >= 0 and r.n_sentences >= 0
        if r.n_words and r.n_sentences:
            expected = round(
                206.835
                - 1.015 * r.n_words / max(r.n_sentences, 1)
                - 84.6 * r.n_syllables / max(r.n_words, 1),
                3,
            )
            assert abs(r.flesch - expected) < 2e-3


def test_eccentricity_bounds_and_probe_batch(spark, qs):
    from iceberg_rest_catalog_spark.operators.graph import ECC_ROUNDS

    rows = qs["q_graph_eccentricity"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.vec_id % 25 == 0  # the probe stride at fixture scale
        assert 0 <= r.ecc <= ECC_ROUNDS  # round budget caps the estimate
        assert r.n_reached >= 1  # at least the source itself
    # the BFS source is a probe: its single-source distances must agree
    bfs = {x.vec_id: x.dist for x in qs["q_graph_knn_bfs"](spark, SF).collect()}
    src_rows = [r for r in rows if r.vec_id == 0]
    if src_rows and bfs:
        assert src_rows[0].ecc == max(bfs.values())
        assert src_rows[0].n_reached == len(bfs)


def test_theta_decomposition_identities(spark, qs):
    rows = qs["q_ts_theta"](spark, SF).collect()
    rows.sort(key=lambda r: r.day)
    assert rows[0].forecast is None  # no prior state on day 1
    # trend is a single straight line: second differences vanish (4dp)
    tr = [r.trend for r in rows]
    for a, b, c in zip(tr, tr[1:], tr[2:]):
        assert abs((c - b) - (b - a)) < 5e-3
    # forecast(i) = trend(i) + resid_smooth(i-1) up to output rounding
    for prev, cur in zip(rows, rows[1:]):
        assert abs(cur.forecast - (cur.trend + prev.resid_smooth)) < 2e-3
