"""The ``query`` and ``fold`` workloads, driven through the engine's public
entry points: ``build_index``, ``BM25SearchEngine.search_batch(...)
.collect()``, ``incremental_index_update`` and ``compact_staging``.

One client, closed loop: each op is sent after the previous one finished.
Every answer is checked against the oracle; oracle and checker time is kept
out of every metric.
"""

from __future__ import annotations

import os
import shlex
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import replace

import pyarrow.parquet as pq

import checks
import inputs
from tracing import PeakRss, ProcTree, Tracer

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.search import BM25SearchEngine
from search_engine_spark.session import get_spark
from search_engine_spark.sources.catalog import CatalogAdapter
from search_engine_spark.streaming.incremental import (
    compact_staging, incremental_index_update,
)

NPROC = len(os.sched_getaffinity(0))
#: engine defaults, with one bucket and one shuffle partition per core
CONFIG = EngineConfig(num_buckets=NPROC, shuffle_partitions=NPROC)
#: pure-BM25 ranking, which switches block-max WAND on
BM25_CONFIG = replace(CONFIG, w_cosine=0.0, w_glove=0.0)
#: driver heap, through ``get_spark``'s own ``SPARK_DRIVER_MEM``: its 8g
#: default let the peak RSS of one run swing between 3.4 and 5 GB, which is
#: too much on a shared host; with 2g a run peaks at 2-3 GB
DRIVER_MEMORY = "2g"


class Bench:
    """State of one benchmark run: session, index, oracle, counters."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.tree = ProcTree()
        self.rss = PeakRss(self.tree)
        self.tracer = Tracer(self.tree)
        self.spark = None
        #: event-log directory of a traced run, else None
        self.event_log: str | None = None
        self.attempted = self.failed = self.rank_mismatches = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.check_s = 0.0
        #: wall seconds of the steps of set-up, for the detail line
        self.steps: dict[str, float] = {}
        self.index = self.path("index")
        self.rows: list[tuple] = []
        self.text_bytes = 0
        self.oracle: checks.Oracle | None = None
        self.oracles: dict = {}
        self.memo: dict = {}
        self.engines: dict = {}
        self.pending: list[tuple] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ---------------------------------------------------------
    def start_session(self, event_log: str | None = None) -> None:
        """Start Spark through the engine's own ``get_spark``. Settings it
        leaves open are passed the way spark-submit takes them: scratch
        directories inside the work directory, the driver heap, and the
        event log of a traced run."""
        for d in ("spark-local", "warehouse", "tmp"):
            os.makedirs(self.path(d), exist_ok=True)
        args = [
            "--conf", f"spark.sql.warehouse.dir={self.path('warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}",
        ]
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            args += ["--conf", "spark.eventLog.enabled=true",
                     "--conf", f"spark.eventLog.dir={event_log}",
                     "--conf", "spark.eventLog.rolling.enabled=true"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{NPROC}]",
                               config=CONFIG)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.steps["session_s"] = time.perf_counter() - t0
        if event_log:
            self.tracer.attach(self.spark.sparkContext)

    def shutdown(self) -> int:
        """Stop Spark and its JVM, wait for every process they started to
        end, and return the peak RSS of the process tree. Safe to repeat."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()  # also flushes the event log
            self.spark = None
        peak = self.rss.stop()
        pids = list(self.tree.descendants())
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while any(os.path.exists(f"/proc/{p}") for p in pids):
            if time.time() > deadline:
                for p in pids:
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
                break
            time.sleep(0.1)
        return peak

    # -- checking (kept out of every metric) -----------------------------
    @contextmanager
    def checking(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def add_to_oracle(self, rows, fresh: bool = False) -> None:
        """Add docs to the oracle (or start a ``fresh`` one over them) and
        finalize it for grading."""
        with self.checking():
            if fresh:
                self.oracle = checks.Oracle(EngineConfig(), rows)
            else:
                self.oracle.add(rows)
            self.oracles = self.oracle.engines()
            self.memo = {mode: {} for mode in self.oracles}

    def check_index(self) -> bool:
        with self.checking():
            broken = checks.index_invariants(
                self.index, CatalogAdapter(self.index),
                self.oracles["search"].n_docs)
        if broken:
            self.problems.append("; ".join(broken))
        self.count_op(not broken)
        return not broken

    def count_op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    # -- ops ---------------------------------------------------------------
    def open_engines(self) -> None:
        self.engines = {
            "search": BM25SearchEngine(self.spark, self.index, CONFIG),
            "search_bm25": BM25SearchEngine(self.spark, self.index,
                                            BM25_CONFIG),
        }

    def query_op(self, kind: str, texts: list[str], record: bool) -> None:
        """One ``search_batch(...).collect()`` call, timed from the call to
        the end of ``collect``. Its answers wait in ``pending`` to be graded,
        so grading does not eat into the measured seconds."""
        mode = "search_bm25" if kind == "search_bm25" else "search"
        t0, cpu0 = time.perf_counter(), self.tree.cpu_s()
        try:
            with self.tracer.span("query.plan"):
                df = self.engines[mode].search_batch(
                    list(enumerate(texts)), k=checks.K)
            with self.tracer.span("query.exec"):
                rows = df.collect()
        except Exception as exc:  # a failed op is counted, not fatal
            self.problems.append(f"{kind}: {exc!r}"[:300])
            self.count_op(False)
            return
        self.pending.append((kind, mode, texts, rows,
                             time.perf_counter() - t0,
                             self.tree.cpu_s() - cpu0, record))

    def grade_pending(self) -> None:
        """Grade the pending answers query by query against the oracle of
        the index they were read from, and record the timings of the ops
        answered correctly."""
        with self.checking():
            for kind, mode, texts, rows, wall, cpu, record in self.pending:
                grades = checks.grade_batch(rows, texts, self.oracles[mode],
                                            self.memo[mode])
                wrong = [t for t, g in zip(texts, grades)
                         if g == checks.WRONG]
                if wrong:
                    self.problems.append(
                        f"{kind}: wrong answer for {wrong[:3]}")
                self.rank_mismatches += grades.count(checks.TIE_FLIP)
                self.count_op(not wrong)
                if record and not wrong:
                    self.samples[kind].append(wall)
                    self.samples[kind + ".cpu"].append(cpu)
            self.pending.clear()

    def build(self) -> None:
        """The timed build of the workload's base index."""
        t0, cpu0 = time.perf_counter(), self.tree.cpu_s()
        with self.tracer.span("build"):
            built = build_index(self.spark, self.spark.read.parquet(
                self.path("base.parquet")), self.index, CONFIG)
        self.steps["build_s"] = time.perf_counter() - t0
        self.steps["build_cpu_s"] = self.tree.cpu_s() - cpu0
        self.samples["build.cpu_per_doc"].append(
            self.steps["build_cpu_s"] / built["n_docs"])
        self.open_engines()
        self.add_to_oracle(self.rows, fresh=True)
        self.check_index()

    def warm_up(self) -> None:
        """The untimed warm-up of the query path, from an op stream of its
        own."""
        phase, self.tracer.phase = self.tracer.phase, "warmup"
        t0, check0 = time.perf_counter(), self.check_s
        ops = inputs.op_stream(self.pool, inputs.OP_CYCLE, part=1)
        for _ in range(self.warm_up_ops):
            self.query_op(*next(ops), record=False)
        self.grade_pending()
        self.steps["warm_up_s"] = (time.perf_counter() - t0
                                   - (self.check_s - check0))
        self.tracer.phase = phase

    def prepare(self) -> None:
        """Generate the inputs (before Spark starts; not part of set-up)."""
        base = inputs.corpus(self.seed, self.vocab, self.base_docs)
        self.pool = inputs.query_pool(self.seed, self.vocab, base)
        self.rows = inputs.oracle_rows(base)
        self.text_bytes = inputs.text_bytes(base)
        pq.write_table(base, self.path("base.parquet"))

    def setup(self) -> None:
        """The base build, then the query warm-up. The build is the first in
        a fresh JVM, as is every build a user starts with spark-submit."""
        self.build()
        self.warm_up()

    def start_measure(self) -> None:
        """(Re)start the op stream: a traced phase replays the ops of the
        untraced one."""
        self.ops = inputs.op_stream(self.pool, inputs.OP_CYCLE)
        self.rank_mismatches = 0

    def snapshot(self) -> dict:
        return {}

    def restore(self, snap: dict) -> None:
        pass


class QueryWorkload(Bench):
    """Interleaved ``search``/``search_bm25``/``search_batch`` ops against a
    dense index built in set-up."""

    vocab = inputs.DENSE
    base_docs = inputs.QUERY_DOCS
    #: in a fresh JVM the CPU of a query op falls by half over its first
    #: half dozen ops, as the JIT compiles the query path
    warm_up_ops = 6
    #: the index write whose CPU per doc is reported
    write = "build"
    primary = "search"
    #: nominal seconds of one op, a cycle of the three query kinds, on a
    #: quiet 4-core host
    op_s = 2.5

    def op(self, record: bool = True) -> None:
        for _ in inputs.OP_CYCLE:
            self.query_op(*next(self.ops), record)


class FoldWorkload(Bench):
    """Fold seeded increments with fresh urls into a web-shaped index that
    grows across the run; after each fold, probe the folded index with
    ``probe_cycles`` ops of each query kind."""

    vocab = inputs.WEB
    base_docs = inputs.FOLD_BASE_DOCS
    #: fewer than on ``query``: a fold run has less time, and the first
    #: probe cycle after a fold warms the rest
    warm_up_ops = 3
    #: probe cycles after each fold. The first op of each engine on a
    #: folded index pays for reading its new files; with three cycles the
    #: median of a kind is a warm op
    probe_cycles = 3
    write = "fold"
    primary = "fold"
    #: nominal seconds of one op, a fold and its probes
    op_s = 25.0

    def prepare(self) -> None:
        super().prepare()
        self.n_folds = 0
        self.next_doc = self.base_docs
        self.fold_text_bytes: list[int] = []
        self.fold_incremental: list[bool] = []

    def setup(self) -> None:
        """The base build and the query warm-up. The timed fold is the first
        in its JVM, so it includes the one-time start-up of the incremental
        path (one traced run on a 4-core VM: 18.6 s for the first fold,
        11.5 s for the next). A run has no time for a warm-up fold, except a traced run:
        its two phases must both fold warm for their difference to be the
        tracing overhead."""
        self.build()
        if self.event_log:
            phase, self.tracer.phase = self.tracer.phase, "warmup"
            self.fold(record=False)
            self.tracer.phase = phase
        self.warm_up()

    def op(self, record: bool = True) -> None:
        """A fold, then probes of the folded index."""
        self.grade_pending()  # the previous probes, on the index they read
        self.fold(record)
        for _ in range(self.probe_cycles * len(inputs.OP_CYCLE)):
            self.query_op(*next(self.ops), record)

    def fold(self, record: bool) -> None:
        """Land an increment, stage it, compact it: timed until the new docs
        are searchable. Then check the invariants."""
        n = self.n_folds
        inc = inputs.corpus(self.seed, inputs.WEB, inputs.FOLD_INCREMENT_DOCS,
                            first=self.next_doc, part=1 + n)
        landing, staging, ckpt = (self.path(f"fold{n}", d)
                                  for d in ("landing", "staging", "ckpt"))
        n_before = self.oracles["search"].n_docs
        t0, cpu0 = time.perf_counter(), self.tree.cpu_s()
        with self.tracer.span("land"):
            os.makedirs(landing)
            pq.write_table(inc, os.path.join(landing, "part-0.parquet"))
        with self.tracer.span("ingest"):
            incremental_index_update(self.spark, landing, staging, ckpt,
                                     CONFIG)
        t1 = time.perf_counter()
        with self.tracer.span("compact"):
            out = compact_staging(self.spark, self.index, staging, CONFIG)
        t2, cpu = time.perf_counter(), self.tree.cpu_s() - cpu0
        wall = t2 - t0
        self.n_folds += 1
        self.next_doc += inputs.FOLD_INCREMENT_DOCS
        rows = inputs.oracle_rows(inc)
        self.rows = self.rows + rows
        self.text_bytes += inputs.text_bytes(inc)
        self.add_to_oracle(rows)
        if self.check_index() and record:
            added = self.oracles["search"].n_docs - n_before
            self.samples["fold"].append(wall)
            self.samples["fold.compact"].append(t2 - t1)
            self.samples["fold.cpu_per_doc"].append(cpu / added)
            self.fold_text_bytes.append(inputs.text_bytes(inc))
            self.fold_incremental.append(bool(out["incremental"]))
        self.open_engines()

    def snapshot(self) -> dict:
        snap = self.path("snapshot")
        shutil.copytree(self.index, snap)
        return {"dir": snap, "n_folds": self.n_folds,
                "next_doc": self.next_doc, "rows": self.rows,
                "text_bytes": self.text_bytes}

    def restore(self, snap: dict) -> None:
        shutil.rmtree(self.index)
        shutil.copytree(snap["dir"], self.index)
        for n in range(snap["n_folds"], self.n_folds):
            shutil.rmtree(self.path(f"fold{n}"))
        self.n_folds, self.next_doc = snap["n_folds"], snap["next_doc"]
        self.rows, self.text_bytes = snap["rows"], snap["text_bytes"]
        self.fold_text_bytes.clear()
        self.fold_incremental.clear()
        self.add_to_oracle(self.rows, fresh=True)
        self.open_engines()


WORKLOADS = {"query": QueryWorkload, "fold": FoldWorkload}
