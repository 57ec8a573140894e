"""Per-change performance benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see BENCHMARK.json):

* ``llm``     iterative and Python-UDF registry ops (fixpoint loops, Arrow)
* ``ingest``  streaming micro-batch replays plus an embedded-catalog table
              loop (append, pruned and full scans, delete, compaction)
* ``catalog`` concurrent REST catalog clients against the REST facade

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A fuller artifact (per-op samples,
per-layer detail, spans, failures with tracebacks) goes to
``.perfbench/results/``. Each run works in a fresh directory under
``.perfbench/runs/`` (also its ``TMPDIR``) and removes it at the end.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "iceberg_rest_catalog_spark"
WORKLOADS = ("llm", "ingest", "catalog")



def cores() -> int:
    """The core count the Spark workloads run on (local[N], N shuffle
    partitions, N collector threads). Two, not four: on a few cores of a
    shared host, every thread beyond that measures the scheduler."""
    return min(2, len(os.sched_getaffinity(0)))


class Context:
    """What a workload needs from the harness: its arguments, the run
    directory, the tracer, the process meter and the op/failure counts."""

    def __init__(self, args, run_dir: str):
        from measure import HostSpeed, ProcessTree, Tracer

        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.sf, self.max_ops = args.sf, args.max_ops
        self.cpus = cores()
        # three untraced passes: the median drops a slow first pass
        self.min_passes = 4 if self.trace else 3
        self.run_dir = run_dir
        self.tracer = Tracer(self.trace)
        self.procs = ProcessTree().start()
        self.host = HostSpeed()
        self.attempted = self.checks = 0
        self.failures: list[dict] = []
        self.marks: dict[str, list[float]] = {}     # set-up part -> per set-up
        self._last_mark = START
        self._setups: list[float] = []              # start of each set-up
        self.setup_s = None

    def setup_begin(self):
        """A workload that sets up more than once calls this before each."""
        self._last_mark = time.perf_counter()
        self._setups.append(self._last_mark)

    def mark(self, name: str):
        now = time.perf_counter()
        self.marks.setdefault(f"{name}_s", []).append(now - self._last_mark)
        self._last_mark = now

    def first_timed_op(self):
        """Set-up time: process start to the first timed op. With several
        set-ups, the median one stands in for all of them."""
        now = time.perf_counter()
        if len(self._setups) < 2:
            self.setup_s = now - START
            return
        took = [b - a for a, b in zip(self._setups, self._setups[1:] + [now])]
        self.setup_s = self._setups[0] - START + statistics.median(took)

    def fail(self, what: str, detail: str):
        self.failures.append({"what": what, "detail": detail})
        print(f"FAILED {what}\n{detail}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.01,
                   help="fixture scale factor of the Spark workloads")
    p.add_argument("--max-ops", type=int, default=None,
                   help="cap the op list (Spark) or ops per client (catalog); for smoke runs")
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and pin the
    program's core count and driver heap."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # C1 only: its code is ready after the warm pass, where C2 keeps
        # recompiling through the first timed passes. A code cache that
        # holds a whole run: C1 alone gets 48 MB, which Spark's generated
        # classes fill, and flushing then recompiles in bursts. A fixed set
        # of compiler threads, whose CPU the meter leaves out.
        "JAVA_TOOL_OPTIONS": (f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                              f"-XX:ReservedCodeCacheSize=256m -XX:-UseCodeCacheFlushing "
                              f"-XX:-UseDynamicNumberOfCompilerThreads "
                              f"-XX:ParallelGCThreads={cores()} -XX:ConcGCThreads=1 "
                              f"-Djava.io.tmpdir={tmp}"),
        # a fixed, pre-touched driver heap keeps the JVM's resident memory
        # from depending on when the collector grows and touches the heap
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options '-Xms2g -XX:+AlwaysPreTouch' pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    prepare_env(run_dir)
    ctx = Context(args, run_dir)
    try:
        if args.workload == "catalog":
            import catalog_workload as workload
        else:
            import spark_workloads as workload
        e2e, layers, artifact = workload.run(ctx, args.workload)
    finally:
        ctx.procs.stop()
        os.chdir(ROOT)
        shutil.rmtree(run_dir)

    e2e = dict(e2e, setup_s=ctx.setup_s, peak_rss_mb=ctx.procs.peak_mb["total"])
    e2e["host.ref_ms"] = statistics.median(ctx.host.samples) * 1e3
    attempted = ctx.attempted + ctx.checks
    failed = len(ctx.failures)
    marks = {k: statistics.median(v) for k, v in ctx.marks.items()}
    values = dict(e2e, **layers, **marks) if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    artifact.update(
        args=vars(args), cpus=ctx.cpus, e2e=e2e, setup=ctx.marks,
        error_rate=failed / attempted, peak_rss_mb=ctx.procs.peak_mb,
        host_ref_s=ctx.host.samples,
        failures=ctx.failures, spans=ctx.tracer.spans)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results_dir, name), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(json.dumps({k: round(v, 4) if isinstance(v, float) else v
                      for k, v in dict(e2e, **marks, error_rate=failed / attempted).items()}),
          file=sys.stderr)
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
