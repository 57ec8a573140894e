"""The ``catalog`` workload: the REST metadata plane, no Spark.

The REST facade runs as its own process
(``python -m iceberg_rest_catalog_spark.catalog.rest``) on a fresh warehouse.
``CLIENTS`` client threads, each with the program's ``RestCatalog``, run a
fixed seeded sequence of ops per pass (closed loop: each waits for its
reply): 70% ``load_table``, 20% commits, 10% namespace and table
create/list/rename/drop/properties.

A commit works as an external engine's would: load the table, write a
manifest of synthetic file entries, send an add-snapshot update asserting
the loaded head with ``assert-ref-snapshot-id``; on a 409 reload and retry
until it lands. A fixed share of commits go to one hot table shared by all
clients, the rest to each client's own table. Every pass runs in a fresh
namespace whose tables start pre-grown to ``HISTORY`` snapshots, so every
pass ends with the same table history.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time
import traceback
import uuid
from contextlib import nullcontext

from measure import counting_fileio, geomean, median, overhead_pct, summary

SETUPS = 3             # set-ups per run, each on a fresh warehouse
# Two client threads are enough for CAS contention on the hot table; more
# threads of one process only wait on each other for the interpreter lock.
CLIENTS = 2
HOST_SAMPLES = 4       # host speed samples before each pass
HISTORY = 8            # snapshots each table starts with
OPS_PER_CLIENT = 160    # long enough that the seeded op mix varies little
HOT_SHARE = 0.3        # share of commits that go to the shared hot table
MANIFEST_ENTRIES = 4
MAX_ATTEMPTS = 1000    # a commit that loses this often is a failure


def op_sequence(seed: int, clients: int, n: int = OPS_PER_CLIENT) -> list[list[tuple]]:
    """Per-client op lists, fixed by the seed. Every client gets the same
    number of each kind (loads: half hot, a quarter its own table, a
    quarter any client's; commits: HOT_SHARE hot) in a seeded order, so
    the seed moves the interleaving, not the amount of work. Meta ops are
    chosen among those valid for the client's own scratch tables at that
    point."""
    rng = random.Random(seed)
    n_load, n_commit = max(1, round(0.7 * n)), max(1, round(0.2 * n))
    n_hot = round(HOT_SHARE * n_commit)
    seqs = []
    for c in range(clients):
        kinds = (["load_hot"] * (n_load // 2) + ["load_own"] * (n_load // 4)
                 + ["load_any"] * (n_load - n_load // 2 - n_load // 4)
                 + ["commit_hot"] * n_hot + ["commit_own"] * (n_commit - n_hot)
                 + ["meta"] * (n - n_load - n_commit))
        rng.shuffle(kinds)
        seq, scratch, k = [], [], 0
        for i, kind in enumerate(kinds):
            if kind.startswith("load"):
                seq.append(("load", {"load_hot": "hot", "load_own": f"own{c}"}.get(
                    kind, f"own{rng.randrange(clients)}")))
            elif kind.startswith("commit"):
                seq.append(("commit", "hot" if kind == "commit_hot" else f"own{c}"))
            else:
                kind = rng.choice(["create", "list", "props"]
                                  + (["rename", "drop"] if scratch else []))
                if kind == "create":
                    scratch.append(f"s{c}x{k}")
                    seq.append(("create", scratch[-1]))
                elif kind == "rename":
                    seq.append(("rename", scratch.pop(), f"r{c}x{k}"))
                    scratch.append(seq[-1][2])
                elif kind == "drop":
                    seq.append(("drop", scratch.pop()))
                elif kind == "list":
                    seq.append(("list",))
                else:
                    seq.append(("props", f"client{c}", str(i)))
                k += 1
        seqs.append(seq)
    return seqs


def expected_scratch(seq: list[tuple]) -> set[str]:
    live: set[str] = set()
    for op in seq:
        if op[0] == "create":
            live.add(op[1])
        elif op[0] == "rename":
            live.discard(op[1])
            live.add(op[2])
        elif op[0] == "drop":
            live.discard(op[1])
    return live


class CatalogRun:
    def __init__(self, ctx):
        self.ctx = ctx
        self.tracer = ctx.tracer
        self.clients = min(CLIENTS, ctx.cpus)
        self.seqs = op_sequence(ctx.seed, self.clients, ctx.max_ops or OPS_PER_CLIENT)
        self.lat: dict[str, list[float]] = {}       # route -> seconds
        self.op_lat: dict[str, list[float]] = {}    # op kind -> seconds (timed passes)
        self.cas_losses = self.commits = 0
        self.pass_walls = {"untraced": [], "traced": []}
        self.pass_cpu: list[float] = []             # untraced passes
        self.layer: dict[str, float] = {}
        self.final_meta: dict[tuple, dict] = {}
        self.lock = threading.Lock()

    # -- server -------------------------------------------------------------
    def start_server(self):
        from iceberg_rest_catalog_spark.catalog.fileio import LocalFileIO
        from iceberg_rest_catalog_spark.catalog.rest_client import RestCatalog

        self.warehouse = os.path.join(self.ctx.run_dir, "warehouse")
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        self.log = open(os.path.join(self.ctx.run_dir, "rest-server.log"), "wb")
        self.server = subprocess.Popen(
            [sys.executable, "-m", "iceberg_rest_catalog_spark.catalog.rest",
             "--host", "127.0.0.1", "--port", str(port), "--warehouse", self.warehouse,
             "--log-level", "WARNING"],
            cwd=self.ctx.run_dir, stdout=self.log, stderr=subprocess.STDOUT)
        uri = f"http://127.0.0.1:{port}"
        fio = counting_fileio(LocalFileIO)
        # one client per thread, plus one for set-up and checks
        self.cats = [RestCatalog(uri, self.warehouse, fileio=fio()) for _ in range(self.clients + 1)]
        deadline = time.monotonic() + 60
        while True:
            if self.server.poll() is not None:
                raise RuntimeError(f"REST server exited with {self.server.returncode}")
            try:
                self.cats[0].health()
                return
            except OSError:
                if time.monotonic() > deadline:
                    raise
                time.sleep(0.05)

    def stop_server(self):
        self.server.send_signal(signal.SIGTERM)
        try:
            self.server.wait(timeout=30)
        finally:
            if self.server.poll() is None:
                self.server.kill()
                self.server.wait(timeout=30)
            self.log.close()
        if self.server.returncode != 0:
            raise RuntimeError(f"REST server exited with {self.server.returncode}")

    # -- ops ----------------------------------------------------------------
    def call(self, route: str, fn, *args, span=None, record=True):
        t0 = time.perf_counter()
        with (span or self._no_span)("op.exec", route=route):
            out = fn(*args)
        if record:
            dt = time.perf_counter() - t0
            with self.lock:
                self.lat.setdefault(route, []).append(dt)
        return out

    @staticmethod
    def _no_span(*a, **k):
        return nullcontext()

    def commit(self, cat, ident: tuple, tag: str, span=None, record=True) -> int:
        """Manifest write + add-snapshot CAS, retried on conflict; returns
        the number of CAS losses before it landed."""
        span = span or self._no_span
        t = self.call("load_table", cat.load_table, ident, span=span, record=record)
        with span("op.build"):
            mdir = os.path.dirname(t.metadata_location)
            rel = os.path.join("manifests", f"bench-{uuid.uuid4().hex}.json")
            cat.fio.mkdirs(os.path.join(mdir, "manifests"))
            cat.fio.write_text_atomic(os.path.join(mdir, rel), json.dumps({"entries": [
                {"path": f"data/{tag}-{i}.parquet", "partition": {}, "records": 100}
                for i in range(MANIFEST_ENTRIES)]}))
        from iceberg_rest_catalog_spark.catalog.errors import CommitFailedException

        for attempt in range(1, MAX_ATTEMPTS + 1):
            parent = t.metadata.get("current-snapshot-id")
            snap = {
                "snapshot-id": max((s["snapshot-id"] for s in t.metadata["snapshots"]),
                                   default=0) + 1,
                "parent-snapshot-id": parent, "timestamp-ms": int(time.time() * 1000),
                "operation": "append", "manifest-path": rel,
                "added-files-count": MANIFEST_ENTRIES, "summary": {"bench.commit": tag},
            }
            try:
                self.call("update_table", cat.update_table, ident,
                          [{"type": "assert-ref-snapshot-id", "snapshot-id": parent}],
                          [{"action": "add-snapshot", "snapshot": snap}],
                          span=span, record=record)
            except CommitFailedException:
                t = self.call("load_table", cat.load_table, ident, span=span, record=record)
                continue
            return attempt - 1
        raise RuntimeError(f"commit {tag} lost {MAX_ATTEMPTS} times")

    def run_client(self, c: int, ns: tuple, traced: bool, acked: list, timed: dict):
        cat, ctx = self.cats[c + 1], self.ctx
        span = self.tracer.span if traced else self._no_span
        for i, op in enumerate(self.seqs[c]):
            kind = op[0]
            op_id = f"{ns[0]}/c{c}/{i}"
            with self.lock:
                ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                with span("op", op=op_id, kind=kind):
                    if kind == "load":
                        self.call("load_table", cat.load_table, ns + (op[1],), span=span)
                    elif kind == "commit":
                        losses = self.commit(cat, ns + (op[1],), op_id, span=span)
                        acked.append((op[1], op_id))
                        with self.lock:
                            self.commits += 1
                            self.cas_losses += losses
                    elif kind == "create":
                        self.call("create_table", cat.create_table, ns + (op[1],),
                                  self.schema, span=span)
                    elif kind == "rename":
                        self.call("rename_table", cat.rename_table, ns + (op[1],),
                                  ns + (op[2],), span=span)
                    elif kind == "drop":
                        self.call("drop_table", cat.drop_table, ns + (op[1],), span=span)
                    elif kind == "list":
                        self.call("list_tables", cat.list_tables, ns, span=span)
                    else:
                        self.call("update_namespace_properties",
                                  cat.update_namespace_properties, ns, [],
                                  {op[1]: op[2]}, span=span)
            except Exception:
                with self.lock:
                    ctx.fail(op_id, traceback.format_exc())
                continue
            # namespace and table DDL ops are rare: one pooled "meta" kind
            timed.setdefault(kind if kind in ("load", "commit") else "meta",
                             []).append(time.perf_counter() - t0)

    def prepare_pass(self, ns: tuple):
        """Fresh namespace; hot and per-client tables pre-grown to HISTORY."""
        cat = self.cats[0]
        cat.create_namespace(ns)
        for name in ["hot"] + [f"own{c}" for c in range(self.clients)]:
            cat.create_table(ns + (name,), self.schema)
            for h in range(HISTORY):
                self.commit(cat, ns + (name,), f"{ns[0]}/pregrow/{name}/{h}", record=False)

    def one_pass(self, pass_no: int, traced: bool):
        """Run the client sequences on a namespace made by prepare_pass."""
        ns = (f"p{pass_no}",)
        acked = [[] for _ in range(self.clients)]
        timed: dict[str, list[float]] = {}
        per_client = [{} for _ in range(self.clients)]
        first, before = len(self.tracer.spans), self.counts()
        threads = [threading.Thread(target=self.run_client,
                                    args=(c, ns, traced, acked[c], per_client[c]))
                   for c in range(self.clients)]
        c0 = self.ctx.procs.snapshot()
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            if t.is_alive():
                raise RuntimeError("catalog client did not finish within 120 s")
        wall = time.perf_counter() - t0
        cpu = self.ctx.procs.cpu_delta(c0, self.ctx.procs.snapshot())
        for d in per_client:
            for k, v in d.items():
                timed.setdefault(k, []).extend(v)
        if traced:
            after = self.counts()
            for k, v in {**self.tracer.self_times(first),
                         **{k: after[k] - before[k] for k in after}}.items():
                self.layer[k] = self.layer.get(k, 0.0) + v
        self.check_pass(ns, [x for a in acked for x in a])
        return wall, cpu, timed

    def counts(self) -> dict[str, float]:
        return {"catalog.commits": self.commits, "catalog.cas_losses": self.cas_losses,
                "fileio.calls": sum(c.fio.counts["calls"] for c in self.cats[1:])}

    # -- checks -------------------------------------------------------------
    def check(self, what: str, ok: bool, detail: str = ""):
        self.ctx.checks += 1
        if not ok:
            self.ctx.fail(what, detail)

    def check_pass(self, ns: tuple, acked: list[tuple[str, str]]):
        """Every acknowledged commit is in its table's lineage exactly once,
        metadata versions are contiguous, and scratch tables are as the
        sequences leave them."""
        cat = self.cats[0]
        for name in ["hot"] + [f"own{c}" for c in range(self.clients)]:
            t = cat.load_table(ns + (name,))
            by_id = {s["snapshot-id"]: s for s in t.metadata["snapshots"]}
            tags, sid = [], t.metadata.get("current-snapshot-id")
            while sid is not None:
                tags.append(by_id[sid]["summary"]["bench.commit"])
                sid = by_id[sid]["parent-snapshot-id"]
            want = [tag for tbl, tag in acked if tbl == name]
            self.check(f"lineage {ns[0]}.{name}",
                       sorted(x for x in tags if "/pregrow/" not in x) == sorted(want)
                       and len(tags) == len(set(tags)) == HISTORY + len(want),
                       f"{len(tags)} snapshots in lineage, {len(want)} acknowledged")
            mdir = os.path.dirname(t.metadata_location)
            versions = sorted(int(f[1:-len(".metadata.json")]) for f in os.listdir(mdir)
                              if f.startswith("v") and f.endswith(".metadata.json"))
            self.check(f"versions {ns[0]}.{name}",
                       versions == list(range(1, 2 + HISTORY + len(want))), str(versions))
            self.final_meta[ns + (name,)] = t.metadata
        live = {i[-1] for i in cat.list_tables(ns)}
        want_live = {"hot", *(f"own{c}" for c in range(self.clients))}
        for seq in self.seqs:
            want_live |= expected_scratch(seq)
        self.check(f"tables {ns[0]}", live == want_live, f"{sorted(live ^ want_live)}")

    def check_reopen(self):
        """After the server stops, a fresh embedded Catalog on the warehouse
        loads the same metadata the REST clients saw last."""
        from iceberg_rest_catalog_spark.catalog.catalog import Catalog

        fresh = Catalog(self.warehouse)
        for ident, meta in self.final_meta.items():
            self.check(f"reopen {'.'.join(ident)}", fresh.load_table(ident).metadata == meta)

    # -- run ----------------------------------------------------------------
    def setup(self):
        """SETUPS times: server start on a fresh warehouse, the first
        namespace, a warm pass. All but the last server are stopped again;
        the run reports the median set-up."""
        ctx = self.ctx
        from iceberg_rest_catalog_spark.catalog.schema import NestedField, Schema

        self.schema = Schema(0, [NestedField(1, "id", "long", False),
                                 NestedField(2, "v", "string", False)])
        for i in range(SETUPS):
            if i:
                self.stop_server()
                shutil.rmtree(self.warehouse)
                self.final_meta.clear()
            ctx.setup_begin()
            self.start_server()
            ctx.mark("setup.start")
            self.prepare_pass(("p0",))
            ctx.mark("setup.inputs")
            self.one_pass(0, False)
            self.lat.clear()
            ctx.mark("setup.warm")

    def measure(self):
        """Passes until the run's seconds are spent; driver and server CPU
        are summed over the pass windows, all and traced ones."""
        ctx = self.ctx
        t_end = time.perf_counter() + ctx.seconds
        pass_no, self.cpu, self.cpu_traced = 0, [0.0, 0.0], [0.0, 0.0]
        while pass_no < ctx.min_passes or time.perf_counter() < t_end:
            pass_no += 1
            traced = ctx.trace and pass_no % 4 in (2, 3)  # U T T U: balanced against drift
            self.prepare_pass((f"p{pass_no}",))
            ctx.host.sample(HOST_SAMPLES)
            wall, delta, timed = self.one_pass(pass_no, traced)
            if not traced:
                self.pass_cpu.append(sum(delta))
            for acc in (self.cpu, self.cpu_traced) if traced else (self.cpu,):
                acc[0] += delta[0]
                acc[1] += delta[1]
            self.pass_walls["traced" if traced else "untraced"].append(wall)
            for k, v in timed.items():
                self.op_lat.setdefault(k, []).extend(v)

    def results(self):
        ctx = self.ctx
        walls = self.pass_walls["untraced"]
        n_ops = sum(len(v) for v in self.op_lat.values())
        e2e = {
            "pass_cpu_s": median(self.pass_cpu) * ctx.host.factor(),
            "cpu.pass_raw_s": median(self.pass_cpu),
            "pass_wall_s": median(walls),
            "op_geomean_s": geomean([median(v) for v in self.op_lat.values()]),
        }
        commits_ms = [x * 1e3 for x in self.op_lat["commit"]]
        loads_ms = [x * 1e3 for x in self.op_lat["load"]]
        server_cpu_ms_per_op = self.cpu[1] * 1e3 / n_ops
        all_ms = [x * 1e3 for v in self.op_lat.values() for x in v]
        meta_files, meta_bytes, files = 0, 0, 0
        for dp, _, fns in os.walk(self.warehouse):
            if os.path.basename(dp) == "metadata" or "/metadata/" in dp + "/":
                files += len(fns)
                for f in fns:
                    if f.startswith("v") and f.endswith(".metadata.json"):
                        meta_files += 1
                        meta_bytes += os.path.getsize(os.path.join(dp, f))
        hot = [m for ident, m in self.final_meta.items() if ident[-1] == "hot"]
        detail = {
            "catalog.ops_per_s": n_ops / sum(walls + self.pass_walls["traced"]),
            **{f"rest.{r}_ms": median(v) * 1e3 for r, v in sorted(self.lat.items())},
            "catalog.commit_ms": summary(commits_ms),
            "catalog.load_ms": summary(loads_ms),
            "catalog.cas_loss_ratio": self.cas_losses / (self.commits + self.cas_losses),
            "catalog.retries_per_commit": self.cas_losses / self.commits,
            "catalog.metadata_kb": median([len(json.dumps(m, indent=1, sort_keys=True))
                                           for m in hot]) / 1024,
            "catalog.metadata_bytes_per_commit": meta_bytes / meta_files,
            "catalog.files_per_commit": files / meta_files,
            "rest.server_cpu_ms_per_op": server_cpu_ms_per_op,
            "rest.wait_ms": sum(all_ms) / n_ops - server_cpu_ms_per_op,
        }
        artifact = {"ops": {k: summary(v) for k, v in self.op_lat.items()},
                    "pass_walls": self.pass_walls, "pass_cpu": self.pass_cpu,
                    "catalog": detail,
                    "op_sequence": self.seqs}
        layers = {}
        if ctx.trace:
            n_tr = len(self.pass_walls["traced"])
            per = {k: v / n_tr for k, v in self.layer.items()}
            layers = {
                "op.build_s": per.get("op.build", 0.0),
                "op.exec_s": per.get("op.exec", 0.0),
                "driver.cpu_s": self.cpu_traced[0] / n_tr,
                "engine.cpu_s": self.cpu_traced[1] / n_tr,
                "spark.jobs": 0, "spark.build_jobs": 0, "spark.stages": 0,
                "spark.tasks": 0, "spark.shuffle_write_mb": 0.0, "streaming.batches": 0,
                "catalog.commits": per["catalog.commits"],
                "catalog.cas_losses": per["catalog.cas_losses"],
                "fileio.calls": per["fileio.calls"],
                "trace.overhead_pct": overhead_pct(self.pass_walls),
            }
            artifact["layers"] = dict(layers, **detail)
        return e2e, layers, artifact


def run(ctx, workload: str):
    run_ = CatalogRun(ctx)
    try:
        run_.setup()
        ctx.first_timed_op()
        run_.measure()
    finally:
        if hasattr(run_, "server"):
            run_.stop_server()
    run_.check_reopen()
    return run_.results()
