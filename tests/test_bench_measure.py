"""bench.measure is the one timing loop: its call protocol, the static
guarantees that no harness times or configures queries on its own, and
the shuffle-partition policy get_spark owns."""

import ast
from pathlib import Path

import bench
from iceberg_rest_catalog_spark import session

ROOT = Path(__file__).resolve().parents[1]
HARNESS_FILES = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
SHUFFLE = "spark.sql.shuffle.partitions"


class _Recorder:
    """Fake query functions and release hook that log every call."""

    def __init__(self):
        self.log: list[tuple] = []

    def query(self, name):
        rec = self

        class Writer:
            def format(self, fmt):
                rec.log.append(("format", fmt))
                return self

            def mode(self, mode):
                rec.log.append(("mode", mode))
                return self

            def save(self):
                rec.log.append(("save", name))

        class Frame:
            write = Writer()

        def fn(spark, sf_dir):
            rec.log.append(("build", name, spark, sf_dir))
            return Frame()

        return fn

    def release(self, spark):
        self.log.append(("release", spark))


def test_measure_runs_warm_then_pass_major_with_release_after_every_run(monkeypatch):
    rec = _Recorder()
    names = ["q_a", "q_b"]
    monkeypatch.setattr(bench.registry, "queries", lambda: {n: rec.query(n) for n in [*names, "q_unused"]})
    monkeypatch.setattr(bench, "release_persistent_state_deep", rec.release)
    spark = object()

    samples = bench.measure(spark, names, "/fixture/dir", 3)

    def run(n):
        return [
            ("build", n, spark, "/fixture/dir"),
            ("format", "noop"),
            ("mode", "overwrite"),
            ("save", n),
            ("release", spark),
        ]

    one_pass = run("q_a") + run("q_b")
    assert rec.log == one_pass * (1 + 3)  # one warm pass, then 3 timed
    assert list(samples) == names
    assert all(len(v) == 3 and all(isinstance(x, float) and x >= 0 for x in v) for v in samples.values())


def _calls(path):
    """(enclosing function, attribute name, first constant arg) per call."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute) and child.args:
                arg = child.args[0]
                if isinstance(arg, ast.Constant):
                    out.append((fn, child.func.attr, arg.value))
            visit(child, inner)

    visit(ast.parse(path.read_text()), None)
    return out


def test_no_harness_sets_shuffle_partitions():
    setters = [
        (p.name, attr)
        for p in HARNESS_FILES
        for _, attr, arg in _calls(p)
        if arg == SHUFFLE and attr in ("set", "config")
    ]
    assert setters == []


def test_noop_sink_only_in_bench_run_one():
    sites = [
        (p.name, fn)
        for p in HARNESS_FILES
        for fn, attr, arg in _calls(p)
        if attr == "format" and arg == "noop"
    ]
    assert sites == [("bench.py", "run_one")]


def test_get_spark_caps_shuffle_partitions_at_32(monkeypatch):
    confs: dict[str, str] = {}

    class Builder:
        def master(self, m):
            confs["master"] = m
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            confs[k] = v
            return self

        def getOrCreate(self):
            class Spark:
                class sparkContext:
                    @staticmethod
                    def setLogLevel(_):
                        pass

            return Spark()

    class FakeSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    for cpus, want in ((2, "2"), (8, "8"), (32, "32"), (64, "32")):
        session.get_spark("t", cpus=cpus)
        assert (confs["master"], confs[SHUFFLE]) == (f"local[{cpus}]", want)


def test_tier1_session_reads_back_min_32_cpus(spark):
    assert int(spark.conf.get(SHUFFLE)) == min(32, 8)
