"""Measurement primitives shared by every workload.

* :class:`Tracer` records spans (name, start, end, parent, op id) around
  the calls the harness makes into a layer. Spans stay in memory and are
  written with the run artifact; per-layer numbers are self times.
* :class:`ProcessTree` reads CPU time and resident memory of the program's
  processes from ``/proc``: the benchmark process itself (the Python driver
  or catalog clients) and all of its descendants (the Spark JVM and its
  Python workers, or the REST server).
* Small statistics helpers with sample counts attached.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
# JVM JIT compiler threads ("C1 CompilerThread0", truncated to 15 chars)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "op": op, "parent": stack[-1]["id"] if stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Sum of self time (duration minus the union of the children's
        intervals) per span name, over spans recorded from index ``since``."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans[since:]:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans[since:]:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], ())):
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def _jit_cpu(pid: int) -> float:
    """CPU seconds spent by the JIT compiler threads of process ``pid``
    (0 for a process that is not a JVM, or has exited)."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:raw.rindex(")")].startswith(_JIT_THREADS):
            fields = raw[raw.rindex(")") + 2:].split()
            total += (int(fields[11]) + int(fields[12])) / _CLK_TCK
    return total


def _proc_table() -> dict[int, tuple[int, float, float]]:
    """pid -> (ppid, cpu seconds, rss MB) for every readable process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue  # exited between listdir and open
        fields = raw[raw.rindex(")") + 2:].split()
        table[int(name)] = (
            int(fields[1]),
            (int(fields[11]) + int(fields[12])) / _CLK_TCK,
            int(fields[21]) * _PAGE_MB,
        )
    return table


class ProcessTree:
    """CPU and peak RSS of this process (the driver) and its descendants
    (the engine). A sampler thread tracks the peak of the summed RSS.

    A descendant's memory counts from its second sample on: a child seen
    between fork and exec (the JVM spawns helper commands) still shows
    its parent's whole resident set. The sampler's own CPU time is left
    out of the driver's."""

    def __init__(self, interval: float = 0.25):
        self.root = os.getpid()
        self.interval = interval
        self.peak_mb = {"driver": 0.0, "engine": 0.0, "total": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._seen: set[int] = set()
        self._sampler_cpu = 0.0

    def _split(self, table):
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        engine, todo = [], list(kids.get(self.root, ()))
        while todo:
            pid = todo.pop()
            engine.append(pid)
            todo.extend(kids.get(pid, ()))
        return engine

    def snapshot(self) -> dict:
        """Current cumulative CPU seconds: driver (at clock resolution), and
        engine per pid (at clock-tick resolution, from ``/proc``). JIT
        compiler threads are left out: compiling is warm-up that runs in
        the background, for as long as the JVM finds code to compile."""
        table = _proc_table()
        return {"driver": time.process_time() - self._sampler_cpu,
                "engine": {p: table[p][1] - _jit_cpu(p)
                           for p in self._split(table) if p in table}}

    @staticmethod
    def cpu_delta(a: dict, b: dict) -> tuple[float, float]:
        """(driver, engine) CPU seconds spent between snapshots a and b.
        A process that started after ``a`` counts in full."""
        engine = sum(cpu - a["engine"].get(p, 0.0) for p, cpu in b["engine"].items())
        return b["driver"] - a["driver"], engine

    def _sample(self):
        while not self._stop.wait(self.interval):
            table = _proc_table()
            drv = table[self.root][2]
            pids = set(self._split(table))
            eng = sum(table[p][2] for p in pids & self._seen)
            self._seen = pids
            peak = self.peak_mb
            peak["driver"] = max(peak["driver"], drv)
            peak["engine"] = max(peak["engine"], eng)
            peak["total"] = max(peak["total"], drv + eng)
            self._sampler_cpu = time.thread_time()

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler thread did not stop")


class HostSpeed:
    """How fast the host runs a fixed computation right now.

    On a few cores of a shared host, the CPU time a fixed amount of work
    takes moves with the neighbours' load (shared cores and caches) by tens
    of percent between minutes; run-to-run spreads of raw CPU times follow.
    The benchmark process times a fixed single-threaded sort of a seeded
    array between ops (outside every timed window) and scales the program's
    CPU times by ``NOMINAL_S`` over the median of those samples: CPU seconds
    at a fixed host speed. The reference runs no program code, so no change
    to the program moves it."""

    NOMINAL_S = 0.015   # the sort's median CPU time on an idle 4-core Xeon VM

    def __init__(self):
        import numpy as np

        self._data = np.random.default_rng(0).random(1_000_000)
        self._sort = np.sort
        self.samples: list[float] = []

    def sample(self, n: int = 1):
        for _ in range(n):
            t0 = time.thread_time()
            self._sort(self._data)
            self.samples.append(time.thread_time() - t0)

    def factor(self) -> float:
        return self.NOMINAL_S / median(self.samples)


def counting_fileio(base):
    """A subclass of the FileIO class ``base`` whose instances count their
    public calls, the bytes they write and the entries they list."""

    class CountingFileIO(base):
        def __init__(self, *args, **kwargs):
            self.counts = {"calls": 0, "bytes_written": 0, "listdir_entries": 0}
            super().__init__(*args, **kwargs)

        def __getattribute__(self, name):
            attr = object.__getattribute__(self, name)
            if not name.startswith("_") and callable(attr):
                object.__getattribute__(self, "counts")["calls"] += 1
            return attr

        def write_text_atomic(self, path, text):
            self.counts["bytes_written"] += len(text.encode())
            return super().write_text_atomic(path, text)

        def create_exclusive(self, path, text):
            self.counts["bytes_written"] += len(text.encode())
            return super().create_exclusive(path, text)

        def listdir(self, path):
            out = super().listdir(path)
            self.counts["listdir_entries"] += len(out)
            return out

    return CountingFileIO


def overhead_pct(pass_walls: dict) -> float:
    """Traced against untraced pass walls, in percent. Passes run U T T U;
    the first untraced pass is left out because it also carries the last
    of the warm-up."""
    untraced = pass_walls["untraced"][1:] or pass_walls["untraced"]
    return 100.0 * (median(pass_walls["traced"]) / median(untraced) - 1.0)


def median(xs) -> float:
    return statistics.median(xs)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, q: int) -> float | None:
    """The q-th percentile, or None unless at least ten samples lie beyond
    it (the benchmark reports a tail only where it is measured)."""
    n = len(xs)
    if n * (100 - q) / 100 < 10:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def summary(xs) -> dict:
    """Median with its sample count, plus p90/p99 where measurable."""
    out = {"p50": median(xs), "n": len(xs)}
    for q in (90, 99):
        v = tail(xs, q)
        if v is not None:
            out[f"p{q}"] = v
    return out
