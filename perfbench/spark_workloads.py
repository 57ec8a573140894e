"""The Spark workloads: ``llm`` and ``ingest``.

Each runs on one session from the program's ``get_spark`` and one client
(closed loop: the next op starts when the previous one has finished).

* Set-up: session start, registry import, fixture generation, then a warm
  pass that runs every op once, collects its rows and checks them against
  the op's registered DuckDB oracle (the output check of the run).
* Timed passes over the op list repeat until the run's seconds are spent.
  Each registry op writes to the noop sink; after every registry op, and
  after the ingest table loop, ``release_persistent_state_deep`` frees what
  it left, outside the timed windows. Each op's window yields its wall time
  and the CPU time of the benchmark process and its descendants, and is
  preceded by one host speed sample.
* The drift controls ``q_tpch_q6`` and ``q_agg_group`` run before and after
  the timed passes.

Traced runs interleave untraced and traced passes (U T T U). Traced passes
tag each op with Spark job groups, read the status store after the op and
record spans around op build (the call into the registered function), op
execution (the noop write) and the release.
"""

from __future__ import annotations

import decimal
import math
import os
import re
import time
import traceback
from contextlib import nullcontext

from measure import counting_fileio, geomean, median, overhead_pct, summary

OPS = {
    "llm": ["q_graph_pagerank", "q_cluster_kmeans", "q_udf_pandas"],
    "ingest": ["q_stream_tumbling"],
}
CONTROLS = ("q_tpch_q6", "q_agg_group")
# ingest table loop: appends per pass, scans after every SCAN_EVERY appends
APPENDS, SCAN_EVERY = 4, 2
DELETE_WHERE, DELETE_QTY = "l_quantity > 45", 45
TABLE_COLS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag"]
MB = 2**20
_DURATION = re.compile(r"([\d.]+) (ms|s|m|h)\b")
_SECONDS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class SparkProfile:
    """Per-op engine numbers read from Spark's status store by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.bus = jsc.listenerBus()

    def read(self, groups: list[str], wall: tuple[float, float]) -> dict:
        self.bus.waitUntilEmpty()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "jvm_gc_s": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        intervals = []
        tracker = self.sc.statusTracker()
        job_ids = set()
        for group in groups:
            jobs = tracker.getJobIdsForGroup(group)
            job_ids.update(jobs)
            out[f"jobs:{group.rsplit(':', 1)[1]}"] = len(jobs)
            for job_id in jobs:
                jd = self.store.job(job_id)
                out["jobs"] += 1
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    intervals.append((jd.submissionTime().get().getTime() / 1000,
                                      jd.completionTime().get().getTime() / 1000))
                sids = jd.stageIds()
                for i in range(sids.size()):
                    sd = self.store.lastStageAttempt(sids.apply(i))
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                    out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                    out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                    out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        busy, reach = 0.0, wall[0]
        for a, b in sorted(intervals):
            a, b = max(a, reach), min(b, wall[1])
            if b > a:
                busy += b - a
                reach = b
        out["job_busy_s"] = busy
        out["driver_gap_s"] = max(0.0, (wall[1] - wall[0]) - busy)
        out["blocked_s"] = out["executor_run_s"] - out["executor_cpu_s"]
        out["build_jobs"] = out.pop("jobs:build", 0)
        out.pop("jobs:exec", None)
        out["top_sql_ops"] = self.top_sql_ops(job_ids, wall[0])
        return out

    def top_sql_ops(self, job_ids: set[int], since: float, k: int = 3) -> list:
        """The k plan operators with the most time (their SQL timing
        metrics, summed) in the SQL executions that ran these jobs."""
        jvm, per_op = self.sc._jvm, {}
        execs = self.sql_store.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            if ex.submissionTime() / 1000 < since - 1:
                break
            ran = ex.jobs().keys().iterator()
            if not any(ran.next() in job_ids for _ in iter(ran.hasNext, False)):
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            nodes = self.sql_store.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.metricType() != "timing":
                        continue
                    value = values.get(jvm.java.lang.Long.valueOf(metric.accumulatorId()))
                    # "12 ms", or a "total (min, med, max ...)" header line
                    # followed by "<total> (<min>, ...)"
                    found = value.isDefined() and _DURATION.search(value.get().split("\n")[-1])
                    if found:
                        per_op[node.name()] = (per_op.get(node.name(), 0.0)
                                               + float(found[1]) * _SECONDS[found[2]])
        return sorted(per_op.items(), key=lambda kv: -kv[1])[:k]


def _streaming_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            sink.append({
                "batch_ms": d.get("triggerExecution", 0), "plan_ms": d.get("queryPlanning", 0),
                "add_batch_ms": d.get("addBatch", 0), "wal_commit_ms": d.get("walCommit", 0),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem_mb": sum(s.memoryUsedBytes for s in p.stateOperators) / MB,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _canon_rows(pdf) -> list[str]:
    """Order-insensitive, column-name-sorted row strings, floats to 4 dp."""

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, decimal.Decimal):
            v = float(v)
        if isinstance(v, float):
            return str(int(v)) if v == int(v) and abs(v) < 1e15 else f"{v:.4f}"
        return str(v)

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted("|".join(canon(v) for v in row)
                  for row in pdf.astype(object).itertuples(index=False, name=None))


class SparkRun:
    def __init__(self, ctx, workload: str):
        self.ctx, self.workload = ctx, workload
        self.tracer = ctx.tracer
        self.samples: dict[str, list[float]] = {}   # op -> timed seconds
        self.samples_cpu: dict[str, list[float]] = {}  # op -> CPU seconds
        self.pass_walls = {"untraced": [], "traced": []}
        self.pass_cpu: list[float] = []             # untraced passes
        self.layer: dict[str, float] = {}           # summed over traced passes
        self.modules: dict[str, float] = {}
        self.profiles: list[dict] = []
        self.streaming: list[dict] = []
        self.catalog_calls = {"commit": [], "load": [], "cas_losses": 0}
        self.ingest_rows = []
        self.op_seq = 0
        self.measuring = False

    # -- ops ----------------------------------------------------------------
    def run_op(self, name: str, module: str, build, execute, traced: bool,
               release: bool = True):
        """Time one op (build, then execute); release after it, untimed,
        unless ``release`` is false. A failing op is counted and recorded
        with its traceback."""
        ctx, sc = self.ctx, self.spark.sparkContext
        self.op_seq += 1
        op_id = f"{name}#{self.op_seq}"
        ctx.attempted += 1
        if self.measuring:
            ctx.host.sample()
        c0 = ctx.procs.snapshot()
        t_wall0 = time.time()
        t0 = time.perf_counter()
        result, ok = None, True
        span = self.tracer.span if traced else (lambda *a, **k: nullcontext())
        try:
            with span("op", op=op_id, module=module):
                if traced:
                    sc.setJobGroup(f"{op_id}:build", name)
                with span("op.build", op=op_id):
                    built = build()
                if traced:
                    sc.setJobGroup(f"{op_id}:exec", name)
                with span("op.exec", op=op_id):
                    result = execute(built)
        except Exception:
            ok = False
            ctx.fail(op_id, traceback.format_exc())
        elapsed = time.perf_counter() - t0
        t_wall1 = time.time()
        cpu = sum(ctx.procs.cpu_delta(c0, ctx.procs.snapshot()))
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            with self.tracer.span("trace.profile_read", op=op_id):
                prof = self.profile.read([f"{op_id}:build", f"{op_id}:exec"], (t_wall0, t_wall1))
            prof.update(op=name, module=module, wall_s=elapsed)
            self.profiles.append(prof)
            self.modules[module] = self.modules.get(module, 0.0) + elapsed
        if release:
            with span("op.release", op=op_id):
                self.release(self.spark)
        return ok, elapsed, cpu, result

    def registry_op(self, name: str, traced: bool):
        fn = self.entries[name].fn
        return self.run_op(
            name, fn.__module__, lambda: fn(self.spark, self.fixture),
            lambda df: df.write.format("noop").mode("overwrite").save(), traced)

    # -- ingest table loop --------------------------------------------------
    def table_loop(self, pass_no: int, traced: bool, timed: dict):
        """One table history on the embedded catalog: a new table (untimed:
        a millisecond metadata write, timed in the catalog workload), then
        APPENDS micro-batch appends with a pruned and a full scan after
        every SCAN_EVERY, a merge-on-read delete, a compaction, a final
        count. These ops cache nothing, so one release follows the loop."""
        from pyspark.sql import functions as F

        state = {"t": self.catalog.create_table(
            ("bench", f"p{pass_no}"), self.schema,
            partition_spec=[{"name": "l_returnflag", "transform": "identity"}])}

        def table_op(kind, build, execute):
            ok, dt, cpu, result = self.run_op(kind, "iceberg_rest_catalog_spark.catalog.catalog",
                                              build, execute, traced, release=False)
            timed.setdefault(kind, []).append((dt, cpu))
            return ok, dt, result

        try:
            appended = 0
            for b in range(APPENDS):
                commits_before = len(self.catalog_calls["commit"])
                ok, dt, _ = table_op(
                    "append", lambda b=b: self.spark.read.parquet(self.batch_files[b]),
                    lambda df: state.update(t=state["t"].append(df)))
                if ok:
                    appended += self.batch_rows[b]
                    commit_s = sum(self.catalog_calls["commit"][commits_before:])
                    self.ingest_rows.append({"append_s": dt, "commit_s": commit_s})
                if (b + 1) % SCAN_EVERY == 0:
                    _, _, pruned = table_op(
                        "scan_pruned",
                        lambda: state["t"].scan(self.spark,
                                                partition_filters={"l_returnflag": "R"}),
                        lambda df: df.count())
                    _, _, full = table_op(
                        "scan_full",
                        lambda: state["t"].scan(self.spark).filter(F.col("l_returnflag") == "R"),
                        lambda df: df.count())
                    self.check(f"pruned scan p{pass_no} b{b}", pruned, full)
            table_op("delete", lambda: None, lambda _: state.update(
                t=state["t"].delete_where(self.spark, DELETE_WHERE, mode="merge-on-read")))
            table_op("compact", lambda: None,
                     lambda _: state.update(t=state["t"].compact(self.spark)))
            _, _, rows = table_op("count", lambda: state["t"].df(self.spark),
                                  lambda df: df.count())
            self.check(f"row count p{pass_no}", rows, appended - sum(self.batch_deleted))
        finally:
            self.release(self.spark)

    def check(self, what: str, got, want):
        self.ctx.checks += 1
        if got != want:
            self.ctx.fail(what, f"expected {want!r}, got {got!r}")

    # -- set-up -------------------------------------------------------------
    def setup(self):
        ctx = self.ctx
        with self.tracer.span("setup.start"):
            from iceberg_rest_catalog_spark.session import get_spark

            self.spark = get_spark("perfbench", ctx.cpus)
            self.spark.sparkContext.setLogLevel("ERROR")
        ctx.mark("setup.start")
        with self.tracer.span("setup.inputs"):
            from fixture import generate
            from iceberg_rest_catalog_spark import registry
            from iceberg_rest_catalog_spark.operators.common import (
                release_persistent_state_deep,
            )

            self.release = release_persistent_state_deep
            self.entries = registry.collect()
            self.fixture = generate(os.path.join(ctx.run_dir, "fixture"), ctx.seed, ctx.sf)
            self.ops = OPS[self.workload][: ctx.max_ops]
            missing = [n for n in self.ops + list(CONTROLS) if n not in self.entries]
            if missing:
                raise KeyError(f"ops not in the registry: {missing}")
            if self.workload == "ingest":
                self._setup_table_loop()
            self.profile = SparkProfile(self.spark)
            if ctx.trace:
                self.spark.streams.addListener(_streaming_listener(self.streaming))
        ctx.mark("setup.inputs")
        with self.tracer.span("setup.warm"):
            self.warm_and_check()
        ctx.mark("setup.warm")

    def _setup_table_loop(self):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from iceberg_rest_catalog_spark.catalog.catalog import Catalog
        from iceberg_rest_catalog_spark.catalog.errors import CommitFailedException
        from iceberg_rest_catalog_spark.catalog.fileio import LocalFileIO
        from iceberg_rest_catalog_spark.catalog.schema import Schema

        calls = self.catalog_calls

        class TimedCatalog(Catalog):
            """Catalog whose public commit and load calls are timed."""

            def update_table(self, ident, requirements, updates):
                t0 = time.perf_counter()
                try:
                    out = super().update_table(ident, requirements, updates)
                except CommitFailedException:
                    calls["cas_losses"] += 1
                    raise
                calls["commit"].append(time.perf_counter() - t0)
                return out

            def load_table(self, ident):
                t0 = time.perf_counter()
                out = super().load_table(ident)
                calls["load"].append(time.perf_counter() - t0)
                return out

        self.catalog = TimedCatalog(os.path.join(self.ctx.run_dir, "warehouse"),
                                    fileio=counting_fileio(LocalFileIO)())
        self.catalog.create_namespace(("bench",))
        # seeded micro-batch slicing of the fixture, one parquet file a batch
        li = pq.read_table(os.path.join(self.fixture, "lineitem.parquet"), columns=TABLE_COLS)
        which = np.random.default_rng(self.ctx.seed).integers(0, APPENDS, li.num_rows)
        deleted = li.column("l_quantity").to_numpy() > DELETE_QTY
        self.batch_files, self.batch_rows, self.batch_deleted = [], [], []
        for b in range(APPENDS):
            mask = which == b
            self.batch_files.append(os.path.join(self.ctx.run_dir, f"batch{b}.parquet"))
            pq.write_table(li.filter(pa.array(mask)), self.batch_files[-1])
            self.batch_rows.append(int(mask.sum()))
            self.batch_deleted.append(int((mask & deleted).sum()))
        self.schema = Schema.from_spark(self.spark.read.parquet(self.batch_files[0]).schema)

    def warm_and_check(self):
        """Run every op once, untimed: fills caches and JIT, and checks each
        op's rows against its registered DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        for t in os.listdir(self.fixture):
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.fixture, t)}')")
        for name in dict.fromkeys(self.ops + list(CONTROLS)):
            entry = self.entries[name]
            ok, _, _, got = self.run_op(name, entry.fn.__module__,
                                     lambda fn=entry.fn: fn(self.spark, self.fixture),
                                     lambda df: _canon_rows(df.toPandas()), False)
            if not ok:
                continue
            if entry.oracle is None:
                raise KeyError(f"{name} has no registered oracle to check against")
            self.check(f"oracle {name}", got, _canon_rows(con.execute(entry.oracle).fetchdf()))
        con.close()
        if self.workload == "ingest":
            self.table_loop(0, False, {})
            self.catalog_calls.update(commit=[], load=[], cas_losses=0)
            self.ingest_rows.clear()

    # -- timed part ---------------------------------------------------------
    def controls(self) -> dict[str, float]:
        return {name: self.registry_op(name, False)[1] for name in CONTROLS}

    def counts(self) -> dict[str, float]:
        """Cumulative layer counters that a traced pass adds to."""
        fio = self.catalog.fio.counts if self.workload == "ingest" else {}
        return {"streaming.batches": len(self.streaming),
                "catalog.commits": len(self.catalog_calls["commit"]),
                "catalog.cas_losses": self.catalog_calls["cas_losses"],
                "fileio.calls": fio.get("calls", 0)}

    def one_pass(self, pass_no: int, traced: bool) -> tuple[float, float, dict]:
        """Runs the op list once; returns the pass's summed op wall time and
        op CPU time, and (wall, CPU) samples per op."""
        timed: dict[str, list[tuple[float, float]]] = {}
        first, before = len(self.tracer.spans), self.counts()
        for name in self.ops:
            _, dt, cpu, _ = self.registry_op(name, traced)
            timed.setdefault(name, []).append((dt, cpu))
        if self.workload == "ingest":
            self.table_loop(pass_no, traced, timed)
        if traced:
            after = self.counts()
            deltas = {k: after[k] - before[k] for k in after}
            for k, v in {**self.tracer.self_times(first), **deltas}.items():
                self.layer[k] = self.layer.get(k, 0.0) + v
        samples = [x for v in timed.values() for x in v]
        return sum(w for w, _ in samples), sum(c for _, c in samples), timed

    def measure(self):
        ctx = self.ctx
        self.measuring = True
        self.control_before = self.controls()
        t_end = time.perf_counter() + ctx.seconds
        pass_no = 0
        cpu_traced = [0.0, 0.0]
        while pass_no < ctx.min_passes or time.perf_counter() < t_end:
            pass_no += 1
            traced = ctx.trace and pass_no % 4 in (2, 3)  # U T T U: balanced against drift
            c0 = ctx.procs.snapshot() if traced else None
            wall, cpu, timed = self.one_pass(pass_no, traced)
            if traced:
                d, e = ctx.procs.cpu_delta(c0, ctx.procs.snapshot())
                cpu_traced[0] += d
                cpu_traced[1] += e
            else:
                self.pass_cpu.append(cpu)
            self.pass_walls["traced" if traced else "untraced"].append(wall)
            for k, v in timed.items():
                self.samples.setdefault(k, []).extend(w for w, _ in v)
                self.samples_cpu.setdefault(k, []).extend(c for _, c in v)
        self.cpu_traced = cpu_traced
        self.control_after = self.controls()

    # -- results ------------------------------------------------------------
    def results(self) -> tuple[dict, dict, dict]:
        ctx = self.ctx
        walls = self.pass_walls["untraced"]
        # an op's median CPU, times the times it runs in a pass
        pass_cpu = (sum(median(v) * len(v) for v in self.samples_cpu.values())
                    / sum(map(len, self.pass_walls.values())))
        e2e = {
            "pass_cpu_s": pass_cpu * ctx.host.factor(),
            "cpu.pass_raw_s": pass_cpu,
            "pass_wall_s": median(walls),
            "op_geomean_s": geomean([median(v) for v in self.samples.values()]),
        }
        artifact = {
            "ops": {k: summary(v) for k, v in self.samples.items()},
            "ops_cpu": self.samples_cpu,
            "pass_walls": self.pass_walls,
            "pass_cpu": self.pass_cpu,
            "controls": {"before": self.control_before, "after": self.control_after},
        }
        if self.workload == "ingest":
            artifact["ingest"] = {
                "append_s": summary(self.samples["append"]),
                "scan_pruned_s": summary(self.samples["scan_pruned"]),
                "commit_s": summary(self.catalog_calls["commit"]),
                "load_s": summary(self.catalog_calls["load"]),
            }
        layers: dict[str, float] = {}
        if ctx.trace:
            n_tr = len(self.pass_walls["traced"])
            per = {k: v / n_tr for k, v in self.layer.items()}
            tot = {k: sum(p[k] for p in self.profiles) / n_tr for k in
                   ("jobs", "build_jobs", "stages", "tasks", "job_busy_s", "driver_gap_s",
                    "executor_run_s", "executor_cpu_s", "blocked_s", "jvm_gc_s",
                    "shuffle_read_mb", "shuffle_write_mb", "spill_mb")}
            layers = {
                "op.build_s": per.get("op.build", 0.0),
                "op.exec_s": per.get("op.exec", 0.0),
                "driver.cpu_s": self.cpu_traced[0] / n_tr,
                "engine.cpu_s": self.cpu_traced[1] / n_tr,
                "spark.jobs": tot["jobs"], "spark.build_jobs": tot["build_jobs"],
                "spark.stages": tot["stages"], "spark.tasks": tot["tasks"],
                "spark.shuffle_write_mb": tot["shuffle_write_mb"],
                "streaming.batches": per["streaming.batches"],
                "catalog.commits": per["catalog.commits"],
                "catalog.cas_losses": per["catalog.cas_losses"],
                "fileio.calls": per["fileio.calls"],
            }
            detail = {f"spark.{k}": v for k, v in tot.items()}
            detail.update({
                "op.release_s": per.get("op.release", 0.0),
                "trace.profile_read_s": per.get("trace.profile_read", 0.0),
                **{f"module.{m}.s": v / n_tr for m, v in sorted(self.modules.items())},
                **{f"control.{k}_s": median([self.control_before[k], self.control_after[k]])
                   for k in CONTROLS},
            })
            if self.streaming:
                for k in ("batch_ms", "plan_ms", "add_batch_ms", "wal_commit_ms",
                          "state_commit_ms", "state_rows", "state_mem_mb"):
                    detail[f"streaming.{k}"] = median([s[k] for s in self.streaming])
            if self.workload == "ingest":
                c = self.catalog.fio.counts
                n_commit = len(self.catalog_calls["commit"])
                n_load = len(self.catalog_calls["load"])
                detail.update({
                    "catalog.commit_ms": median(self.catalog_calls["commit"]) * 1e3,
                    "catalog.load_ms": median(self.catalog_calls["load"]) * 1e3,
                    "fileio.calls_per_commit": c["calls"] / n_commit,
                    "fileio.bytes_written_per_commit": c["bytes_written"] / n_commit,
                    "fileio.listdir_entries_per_load": c["listdir_entries"] / n_load,
                    "ingest.data_write_s": median([r["append_s"] - r["commit_s"]
                                                   for r in self.ingest_rows]),
                })
            layers["trace.overhead_pct"] = overhead_pct(self.pass_walls)
            artifact["layers"] = dict(layers, **detail)
            artifact["profiles"] = self.profiles
        return e2e, layers, artifact

    def close(self):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def run(ctx, workload: str):
    run_ = SparkRun(ctx, workload)
    try:
        run_.setup()
        ctx.first_timed_op()
        run_.measure()
        return run_.results()
    finally:
        if hasattr(run_, "spark"):
            run_.close()
