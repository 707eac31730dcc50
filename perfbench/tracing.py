"""Tracing from outside the engine: spans, job labels, /proc, event log.

Spans are recorded by the benchmark around its calls into the engine's
public entry points, plus wrappers around ``CatalogAdapter.append_batch``
and ``CatalogAdapter.write_table`` that name a span after the layer that
owns the table. Every span labels the Spark jobs it starts with its own job
group, so the event log maps each job, stage and task onto a span; a job
carrying another group (e.g. a streaming micro-batch) goes to the innermost
span open when it was submitted. Python-worker CPU is read from ``/proc``
at span boundaries. With tracing off every span is a no-op.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: which layer writes which table
TABLE_LAYER = {
    "parsed": "parse",
    "corpus_stats": "stats", "doc_stats": "stats", "doc_stats_topical": "stats",
    "postings": "postings",
    "vocab_capitals": "term_stats", "vocab_entities": "term_stats",
    "term_stats": "term_stats",
}

#: name prefixes of the JVM threads that compile and collect garbage. Their
#: CPU lands on whichever op runs when they wake: in a minute-old JVM the
#: JIT alone took 30-70% of a query op's CPU, a share that shrinks op by op
#: as the JVM warms up, and a collection can double an op's CPU
HOUSEKEEPING = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread",
                "GC Thread", "G1 ", "VM Thread")

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _stat(path: str) -> tuple[str, list[int]]:
    """``(comm, fields)`` of a ``/proc`` stat file; ``fields`` start at
    field 3."""
    with open(path) as f:
        raw = f.read()
    close = raw.rindex(")")
    return (raw[raw.index("(") + 1:close],
            [int(x) if x.lstrip("-").isdigit() else 0
             for x in raw[close + 2:].split()])


class ProcTree:
    """The Spark processes this benchmark started: the JVM and its Python
    workers (descendants of this process, which itself is excluded)."""

    def __init__(self):
        self.root = os.getpid()
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.tick = os.sysconf("SC_CLK_TCK")
        #: last CPU ticks seen per JVM housekeeping thread, kept after the
        #: thread ends (its ticks stay in the process total)
        self.housekeeping_ticks: dict[int, int] = {}
        #: ``pid -> (comm, own CPU ticks)`` as last seen, kept after the
        #: process ends
        self.process_ticks: dict[int, tuple[str, int]] = {}

    def descendants(self) -> dict[int, tuple[str, list[int]]]:
        """``pid -> (comm, fields)`` of every descendant."""
        procs = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    procs[int(entry)] = _stat(f"/proc/{entry}/stat")
                except OSError:
                    continue
        out = {}
        for pid, info in procs.items():
            p = info[1][1]  # ppid
            while p in procs and p != self.root:
                p = procs[p][1][1]
            if p == self.root:
                out[pid] = info
        return out

    def _own_ticks(self, housekeeping: bool = True) -> None:
        """Record each live descendant's own CPU ticks (utime + stime).
        The children's ticks (cutime, cstime) are left out: they arrive all
        at once when a process is reaped, e.g. a Python worker that idled
        out after a minute, and would land a whole lifetime of CPU on
        whichever op runs then. A process that ended keeps its last count."""
        for pid, (comm, f) in self.descendants().items():
            self.process_ticks[pid] = (comm, f[11] + f[12])
            if housekeeping and comm == "java":
                self._scan_housekeeping(pid)

    def cpu_s(self) -> float:
        """CPU of the whole tree, JVM and Python workers, less the JVM's
        housekeeping threads (``HOUSEKEEPING``). Unlike wall time it does
        not grow when the host steals CPU from this machine."""
        self._own_ticks()
        total = sum(t for _comm, t in self.process_ticks.values())
        return (total - sum(self.housekeeping_ticks.values())) / self.tick

    def _scan_housekeeping(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            try:
                comm, f = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(HOUSEKEEPING):
                self.housekeeping_ticks[int(tid)] = f[11] + f[12]

    def python_cpu_s(self) -> float:
        """CPU of the Python workers, counted as in ``cpu_s``."""
        self._own_ticks(housekeeping=False)
        return sum(t for comm, t in self.process_ticks.values()
                   if comm != "java") / self.tick

    def rss_bytes(self) -> int:
        return sum(f[21] for _comm, f in self.descendants().values()) \
            * self.page


class PeakRss:
    """Samples the RSS of the Spark process tree in a background thread."""

    def __init__(self, tree: ProcTree, every_s: float = 0.5):
        self.tree, self.every_s, self.peak = tree, every_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.every_s):
            self.sample()

    def sample(self) -> None:
        self.peak = max(self.peak, self.tree.rss_bytes())

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak


@dataclass
class Span:
    name: str
    phase: str
    start: float
    parent: int | None
    end: float = 0.0
    py_cpu: float = 0.0
    jobs: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while attached to a SparkContext and switched ``on``;
    a no-op otherwise."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.sc = None
        self.on = False
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.phase = "setup"

    def attach(self, sc) -> None:
        self.sc, self.on = sc, True

    @property
    def enabled(self) -> bool:
        return self.on and self.sc is not None

    def _label(self) -> None:
        if self.stack:
            idx = self.stack[-1]
            self.sc.setJobGroup(f"perfbench-{idx}", self.spans[idx].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, self.phase, time.time(), parent))
        self.stack.append(idx)
        self._label()
        cpu0 = self.tree.python_cpu_s()
        try:
            yield
        finally:
            span = self.spans[idx]
            span.py_cpu = self.tree.python_cpu_s() - cpu0
            span.end = time.time()
            self.stack.pop()
            self._label()

    def table_span(self, table: str) -> str:
        layer = TABLE_LAYER.get(table, "other")
        open_names = {self.spans[i].name for i in self.stack}
        if "compact" in open_names:
            return "compact." + ("append" if layer == "parse" else layer)
        return layer


def patch_catalog(tracer: Tracer) -> None:
    """Wrap the catalog's table writers in layer spans (this process only)."""
    from search_engine_spark.sources.catalog import CatalogAdapter

    def wrap(method):
        def wrapper(self, df, name, *args, **kwargs):
            with tracer.span(tracer.table_span(name)):
                return method(self, df, name, *args, **kwargs)
        return wrapper

    CatalogAdapter.append_batch = wrap(CatalogAdapter.append_batch)
    CatalogAdapter.write_table = wrap(CatalogAdapter.write_table)


# -- event log -------------------------------------------------------------

def _plan_scan_accums(plan: dict, table: str, out: set) -> None:
    """Accumulator ids of 'number of output rows' on scans of ``table``."""
    loc = (plan.get("metadata") or {}).get("Location", "")
    if plan.get("nodeName", "").startswith("Scan") and f"/{table}]" in loc:
        out.update(m["accumulatorId"] for m in plan.get("metrics", [])
                   if m["name"] == "number of output rows")
    for child in plan.get("children", []):
        _plan_scan_accums(child, table, out)


def attribute_events(spans: list[Span], events) -> None:
    """Add each task's counters to the span that owns its job."""
    own = {f"perfbench-{i}": i for i in range(len(spans))}
    stage_span: dict[int, int] = {}
    postings_accums: set = set()

    def by_time(ms: int) -> int | None:
        t = ms / 1000.0
        best = None
        for i, s in enumerate(spans):
            if s.start <= t <= s.end and (best is None
                                          or s.start >= spans[best].start):
                best = i
        return best

    for e in events:
        kind = e.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_scan_accums(e.get("sparkPlanInfo") or {}, "postings",
                              postings_accums)
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            idx = own.get(group)
            if idx is None:
                idx = by_time(e["Submission Time"])
            if idx is None:
                continue
            spans[idx].jobs["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_span.setdefault(sid, idx)
        elif kind == "SparkListenerTaskEnd":
            idx = stage_span.get(e.get("Stage ID"))
            if idx is None:
                continue
            c = spans[idx].jobs
            tm = e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            out = tm.get("Output Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            c["tasks"] += 1
            c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            c["rows_written"] += out.get("Records Written", 0)
            c["bytes_written"] += out.get("Bytes Written", 0)
            c["scan_bytes"] += inp.get("Bytes Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if not isinstance(upd, (int, float, str)):
                    continue
                if name in (_PY_SENT, _PY_RECV):
                    c["arrow_bytes"] += int(upd)
                elif acc.get("ID") in postings_accums:
                    c["postings_rows"] += int(upd)


def read_event_log(log_dir: str):
    """Events of every application logged under ``log_dir``."""
    from scripts.stage_balance import read_events

    for app in sorted(os.listdir(log_dir)):
        yield from read_events(os.path.join(log_dir, app))


def layer_totals(spans: list[Span], phase: str) -> dict[str, dict]:
    """Per span name: count, wall, self wall, Python CPU and event-log
    counters, summed over the spans of ``phase``."""
    child_wall: dict[int, float] = defaultdict(float)
    child_cpu: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_wall[s.parent] += s.wall
            child_cpu[s.parent] += s.py_cpu
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for i, s in enumerate(spans):
        if s.phase != phase:
            continue
        t = out[s.name]
        t["count"] += 1
        t["wall_s"] += s.wall
        t["self_s"] += s.wall - child_wall[i]
        t["py_cpu_s"] += s.py_cpu - child_cpu[i]
        for k, v in s.jobs.items():
            t[k] += v
    return out
