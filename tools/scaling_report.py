"""Scale steps: time queries across fixture directories of growing size.

For each query and each directory in ``--dirs`` (default the sf0.001 /
sf0.01 / sf0.1 fixtures next to ``$SPARK_GRAFT_SF_DIR``) it times one pass
through ``bench.measure`` — one warm run, one timed noop-sink run, a deep
release after each — and counts the output rows untimed.  For each step
between consecutive directories it reports the time ratio and the output
row ratio, so output-bound queries are judged sub-linear in output, not
just in input.  Runtime should grow far slower than the data while fixed
overhead dominates and approach linear only as real work displaces
scheduling; a step far above the data ratio flags super-linear (all-pairs
or re-scan) behavior.  Prints one JSON line per query.

Other axes are other directories: ``tools/adversarial_corpus.py`` builds
x10 / x100 count-axis and long-document corpora from a fixture.

Usage:
    python tools/scaling_report.py
    python tools/scaling_report.py --dirs /data/sf0.1 /tmp/scale_x10 q_graph_pagerank
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from iceberg_rest_catalog_spark import registry  # noqa: E402
from iceberg_rest_catalog_spark.operators.common import (  # noqa: E402
    release_persistent_state_deep,
)
from iceberg_rest_catalog_spark.session import get_spark  # noqa: E402

DIRS = [
    os.path.join(os.path.dirname(bench.SF_DIR), f"sf{sf}")
    for sf in ("0.001", "0.01", "0.1")
]
QUERIES = [
    "q_tpch_q1",
    "q_tpch_q5",
    "q_tpch_q21",
    "q_dedup_fuzzy",
    "q_sim_lsh",
    "q_text_tokens",
    "q_evt_sessionize",
    "q_dedup_fuzzy_verified",
    "q_cluster_kmeans",
    "q_text_perplexity",
    "q_text_chunk_dedup",
    "q_join_bloom_prune",
    "q_join_interval_overlap",
    "q_sim_ann_ivf",
    "q_evt_anomaly",
    "q_embed_quantize",
    "q_graph_pagerank",
    "q_evt_attribution",
    "q_ts_interpolate",
    "q_shard_assign",
    "q_text_bpe_pairs",
    "q_dedup_simhash_shingle",
    "q_dedup_incremental",
    "q_sim_knn_batch",
    "q_dedup_spans",
    "q_dedup_index",
    "q_embed_pq",
    "q_agg_countmin",
    "q_tokenizer_apply",
    "q_caption_pairs",
    "q_evt_rolling_dau",
    "q_embed_matryoshka",
    "q_dedup_eval_sweep",
    "q_evt_pattern_match",
    "q_evt_drift_ks",
    "q_curriculum_order",
    "q_dedup_semantic",
    "q_agg_bloom",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--dirs", nargs="+", default=DIRS)
    args = ap.parse_args()
    qs = registry.queries()
    # `--dirs` is greedy: query names typed after it land in args.dirs.
    names = args.queries + [x for x in args.dirs if x in qs] or QUERIES
    dirs = [x for x in args.dirs if x not in qs]

    spark = get_spark("scaling")
    for name in names:
        sec, rows = [], []
        for d in dirs:
            sec.append(round(bench.measure(spark, [name], d, 1)[name][0], 3))
            rows.append(qs[name](spark, d).count())
            release_persistent_state_deep(spark)
        steps = [
            {
                "from": dirs[i],
                "to": dirs[i + 1],
                "ratio": round(sec[i + 1] / max(sec[i], 1e-9), 2),
                "row_ratio": round(rows[i + 1] / max(rows[i], 1), 2),
            }
            for i in range(len(dirs) - 1)
        ]
        print(
            json.dumps(
                {"query": name, "dirs": dirs, "sec": sec, "rows": rows, "steps": steps}
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
