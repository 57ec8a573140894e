"""Standalone per-query timings through bench.py's own loop.

Each named query runs alone through ``bench.measure`` (one warm run, then
``--passes`` timed noop-sink runs, a deep release after every run) on the
session ``get_spark`` builds, so standalone and in-suite numbers share
confs and hygiene.  ``--plans`` also writes each query's formatted
physical plan — a measure-and-explain loop without paying for the whole
suite per iteration.

Usage:
    python tools/measure_one.py q_graph_triangles q_stream_topk
    python tools/measure_one.py --passes 5 --plans plans/r16 --suffix before q_evt_seq_patterns
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
    release_persistent_state,
)
from iceberg_rest_catalog_spark.session import get_spark  # noqa: E402


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", default=None, help="directory for explain output")
    ap.add_argument("--suffix", default="before", help="plan file suffix")
    args = ap.parse_args()

    spark = get_spark("measure_one")
    qs = registry.queries()
    results: dict[str, dict] = {}
    for name in args.names:
        spark.sparkContext.setJobDescription(f"measure:{name}")
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = qs[name](spark, bench.SF_DIR)
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(formatted_plan(df))
            release_persistent_state(spark)
        timed = bench.measure(spark, [name], bench.SF_DIR, args.passes)[name]
        samples = [round(x, 3) for x in timed]
        med = sorted(samples)[len(samples) // 2]
        results[name] = {"median": med, "samples": samples}
        print(f"MEASURE {name} median={med} samples={samples}", flush=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
