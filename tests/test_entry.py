"""Driver-contract regression tests for ``__spark_entry__``.

The grading driver may call ``queries()`` / ``oracle_sql()`` BEFORE it builds
a SparkSession, so the whole registry import chain must not need one (string
DDL return types on udf/pandas_udf/udtf are parsed through the active
SparkContext at decoration time — the bug these tests pin down).
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_collect_without_spark_session():
    """registry.collect() must succeed in a fresh interpreter with no JVM."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import pyspark.sql.utils as u\n"
        "import __spark_entry__ as e\n"
        "qs, osql = e.queries(), e.oracle_sql()\n"
        # exact-count pin (VERDICT r9 item 7): a module import that silently
        # fails to register its queries trips this loudly; bump on every
        # operator addition.
        "assert len(qs) == 408, len(qs)\n"
        "assert set(osql) <= set(qs), sorted(set(osql) - set(qs))\n"
        "print('OK', len(qs), len(osql))\n" % REPO
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.startswith("OK")


def test_every_oracle_has_query():
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    dangling = [k for k in osql if k not in qs]
    assert not dangling, dangling


def test_driver_window_is_mechanical_staleness_order():
    """Since round 8 the registry DERIVES the driver-window ordering from the
    committed CORRECTNESS_r*.json artifacts (VERDICT r7 item 2: generate, not
    check).  This test recomputes the policy independently and asserts the
    live queries() ordering obeys it: never-driver-checked ids first, then
    red rows, then oldest-evidence-first with id tiebreak."""
    import json

    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    from iceberg_rest_catalog_spark import registry

    ids = list(e.queries())
    assert len(ids) == len(set(ids))

    # Independent re-parse of the artifacts (same green rule as the driver).
    last_seen: dict[str, int] = {}
    failed: set[str] = set()
    rounds = []
    import glob as _glob
    import re as _re

    for path in sorted(_glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        r = int(_re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        rounds.append(r)
        for qid, row in json.load(open(path)).items():
            last_seen[qid] = r
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)
                and not row.get("err")
            )
            if ok:
                failed.discard(qid)
            else:
                failed.add(qid)

    never = [q for q in ids if q not in last_seen]
    red = sorted(
        (q for q in ids if q in last_seen and q in failed),
        key=lambda q: (last_seen[q], q),
    )
    green = sorted(
        (q for q in ids if q in last_seen and q not in failed),
        key=lambda q: (last_seen[q], q),
    )
    assert ids == never + red + green

    # And the registry's own evidence parse agrees with this one.
    reg_seen, reg_failed = registry.driver_evidence()
    assert {q: r for q, r in reg_seen.items()} == last_seen
    assert set(reg_failed) == failed


def test_survey_section2_matches_registry_exactly():
    """SURVEY.md §2's operator inventory and the registry are the same id
    set (zero symmetric difference) — the judge checks this mechanically;
    this test makes adding an op without its §2 row (or vice versa) fail
    in CI instead of at grading time."""
    import re

    from iceberg_rest_catalog_spark import registry

    survey = open(os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")).read()
    survey_ids = set(re.findall(r"^\| ([qc]_\w+) \|", survey, re.M))
    reg_ids = set(registry.queries())
    assert survey_ids == reg_ids, (
        sorted(survey_ids - reg_ids),
        sorted(reg_ids - survey_ids),
    )


def test_bench_suites_resolve_in_registry():
    """bench.py silently filters HEADLINE/TRACKED to registered names —
    a typo'd entry would drop a query from the suite without an error.
    Pin: every name in both lists resolves, and the two lists are
    disjoint (a query must not be double-counted)."""
    sys.path.insert(0, REPO)
    import importlib

    import __spark_entry__ as e

    bench = importlib.import_module("bench")
    qs = set(e.queries())
    missing = [n for n in bench.HEADLINE + bench.TRACKED if n not in qs]
    assert not missing, missing
    assert not set(bench.HEADLINE) & set(bench.TRACKED)


def test_newest_driver_artifacts_are_tracked():
    """Structural fix for the recurring round-open miss (VERDICT r13 item 1):
    the highest-numbered CORRECTNESS_r*.json / BENCH_r*.json present on disk
    must be in `git ls-files`.  Rounds 9-13 each left the freshest driver
    artifacts untracked at HEAD because the commit relied on a checklist;
    a red test can't be forgotten."""
    import re
    import glob

    tracked = set(
        subprocess.run(
            ["git", "ls-files"], cwd=REPO, capture_output=True, text=True
        ).stdout.split()
    )
    for stem in ("CORRECTNESS_r", "BENCH_r"):
        # variant artifacts (e.g. BENCH_r16_c8.json, the driver's low-core
        # probe) carry no round suffix of their own — skip them
        on_disk = [
            p
            for p in glob.glob(os.path.join(REPO, stem + "*.json"))
            if re.search(r"_r(\d+)\.json$", p)
        ]
        if not on_disk:
            continue
        newest = max(
            on_disk,
            key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
        )
        rel = os.path.relpath(newest, REPO)
        assert rel in tracked, (
            f"{rel} exists on disk but is not committed — "
            "git add it before closing the round"
        )
