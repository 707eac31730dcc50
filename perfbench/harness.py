"""Runs one workload and assembles its result: end-to-end metrics from an
untraced run, or per-layer metrics from a traced one (see README.md)."""

from __future__ import annotations

import statistics
import time

import workloads
from checks import index_bytes, percentiles, table_files
from tracing import (
    attribute_events, layer_totals, patch_catalog, read_event_log,
)

#: name -> (unit, better); BENCHMARK.json lists the same. Op costs are CPU
#: seconds of the Spark process tree, not wall time: on this kind of shared
#: virtual host the wall time of one op swings by 40-60% from run to run
#: with the CPU the host steals, while its CPU time moves by about a third
#: of that. The wall times are in the details line.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "index_cpu_ms_per_doc": ("ms", "lower"),
    "query_cpu_ms": ("ms", "lower"),
    "index_bytes_per_text_byte": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
#: query op kind -> its per-layer metric (median CPU of one op of the kind)
KIND_METRICS = {
    "search": "query.search_cpu_ms",
    "search_bm25": "query.bm25_search_cpu_ms",
    "search_batch": "query.batch_cpu_ms",
}
_S, _B, _N, _R = ("s", "lower"), ("bytes", "lower"), ("count", "lower"), \
    ("ratio", "lower")
PER_LAYER = {
    "parse.wall_s": _S, "parse.cpu_s": _S, "parse.py_cpu_s": _S,
    "parse.arrow_bytes": _B, "parse.rows_out": _N, "parse.tasks": _N,
    "stats.wall_s": _S, "stats.cpu_s": _S, "stats.shuffle_bytes": _B,
    "postings.wall_s": _S, "postings.cpu_s": _S, "postings.py_cpu_s": _S,
    "postings.shuffle_bytes": _B, "postings.spill_bytes": _B,
    "postings.rows": _N, "postings.bytes": _B,
    "term_stats.wall_s": _S, "term_stats.cpu_s": _S,
    "term_stats.shuffle_bytes": _B,
    "build.wall_s": _S, "build.self_s": _S, "build.jobs": _N,
    "query.plan_s": _S, "query.exec_s": _S, "query.exec_cpu_s": _S,
    "query.py_cpu_s": _S, "query.arrow_bytes": _B, "query.scan_bytes": _B,
    "query.postings_rows": _N, "query.shuffle_bytes": _B, "query.jobs": _N,
    "query.tasks": _N, "query.rank_mismatches": _N,
    **{name: ("ms", "lower") for name in KIND_METRICS.values()},
    "ingest.wall_s": _S, "ingest.cpu_s": _S, "ingest.py_cpu_s": _S,
    "ingest.rows": _N,
    "compact.wall_s": _S, "compact.append_s": _S, "compact.stats_s": _S,
    "compact.postings_s": _S, "compact.term_stats_s": _S,
    "compact.self_s": _S, "compact.shuffle_bytes": _B,
    "compact.postings_bytes_written": _B, "compact.write_amp": _R,
    "compact.incremental_ratio": ("ratio", "higher"),
    "catalog.postings_files": _N, "catalog.index_bytes": _B,
    "trace.overhead_s": _S, "trace.overhead_ratio": _R,
}
BUILD_LAYERS = ("build", "parse", "stats", "postings", "term_stats")


def measure(bench, seconds: float) -> None:
    """Closed loop: run as many ops as take ``seconds`` at the workload's
    nominal pace, at least one, then grade them. The count does not depend
    on how fast this run goes: a run stopped by the clock would time fewer
    and earlier ops, which cost more in a younger JVM, whenever the host
    is busy, and so would spread the medians further."""
    for _ in range(max(1, round(seconds / bench.op_s))):
        bench.op()
    bench.grade_pending()


def _median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def _ms(samples) -> float | None:
    m = _median(samples)
    return m if m is None else 1000 * m


def kind_cpu_ms(bench) -> dict[str, float | None]:
    """Median CPU of one op, per query op kind."""
    return {kind: _ms(bench.samples[kind + ".cpu"]) for kind in KIND_METRICS}


def end_to_end(bench, setup_s: float, peak_rss: int) -> dict:
    """The end-to-end metrics; a metric whose samples are missing (every
    op of its kind failed) is ``None``. ``query_cpu_ms`` is the mean over
    the three query op kinds of the kind's median: a run has too few ops
    of one kind for a steady median of that kind."""
    kinds = list(kind_cpu_ms(bench).values())
    return {
        "setup_s": setup_s,
        "index_cpu_ms_per_doc": _ms(
            bench.samples[f"{bench.write}.cpu_per_doc"]),
        "query_cpu_ms": (None if None in kinds
                         else statistics.fmean(kinds)),
        "index_bytes_per_text_byte": index_bytes(bench.index)
        / bench.text_bytes,
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(bench) -> dict:
    """Per-layer numbers of the traced phase: build layers per set-up
    build, query layers per query op, ingest/compact per fold."""
    setup = layer_totals(bench.tracer.spans, "setup")
    run = layer_totals(bench.tracer.spans, "measure")
    nb = int(setup["build"]["count"]) or 1
    nq = int(run["query.exec"]["count"]) or 1
    nf = int(run["compact"]["count"]) or 1
    q = {k: run["query.plan"][k] + run["query.exec"][k]
         for k in ("py_cpu_s", "jobs", "tasks")}
    compact_shuffle = sum(t["shuffle_bytes"] for name, t in run.items()
                          if name.startswith("compact"))
    postings_written = run["compact.postings"]["bytes_written"]
    increment_bytes = sum(bench.fold_text_bytes[-nf:]) \
        if getattr(bench, "fold_text_bytes", None) else 0
    incremental = getattr(bench, "fold_incremental", [])[-nf:]
    out = {
        "build.wall_s": setup["build"]["wall_s"] / nb,
        "build.self_s": setup["build"]["self_s"] / nb,
        "build.jobs": sum(setup[n]["jobs"] for n in BUILD_LAYERS) / nb,
        "parse.arrow_bytes": setup["parse"]["arrow_bytes"] / nb,
        "parse.rows_out": setup["parse"]["rows_written"] / nb,
        "parse.tasks": setup["parse"]["tasks"] / nb,
        "postings.spill_bytes": setup["postings"]["spill_bytes"] / nb,
        "postings.rows": setup["postings"]["rows_written"] / nb,
        "postings.bytes": setup["postings"]["bytes_written"] / nb,
        "query.plan_s": run["query.plan"]["wall_s"] / nq,
        "query.exec_s": run["query.exec"]["wall_s"] / nq,
        "query.exec_cpu_s": run["query.exec"]["cpu_s"] / nq,
        "query.py_cpu_s": q["py_cpu_s"] / nq,
        "query.arrow_bytes": run["query.exec"]["arrow_bytes"] / nq,
        "query.scan_bytes": run["query.exec"]["scan_bytes"] / nq,
        "query.postings_rows": run["query.exec"]["postings_rows"] / nq,
        "query.shuffle_bytes": run["query.exec"]["shuffle_bytes"] / nq,
        "query.jobs": q["jobs"] / nq,
        "query.tasks": q["tasks"] / nq,
        "query.rank_mismatches": bench.rank_mismatches,
        "ingest.wall_s": run["ingest"]["wall_s"] / nf,
        "ingest.cpu_s": run["ingest"]["cpu_s"] / nf,
        "ingest.py_cpu_s": run["ingest"]["py_cpu_s"] / nf,
        "ingest.rows": run["ingest"]["rows_written"] / nf,
        "compact.wall_s": run["compact"]["wall_s"] / nf,
        "compact.append_s": run["compact.append"]["wall_s"] / nf,
        "compact.stats_s": run["compact.stats"]["wall_s"] / nf,
        "compact.postings_s": run["compact.postings"]["wall_s"] / nf,
        "compact.term_stats_s": run["compact.term_stats"]["wall_s"] / nf,
        "compact.self_s": run["compact"]["self_s"] / nf,
        "compact.shuffle_bytes": compact_shuffle / nf,
        "compact.postings_bytes_written": postings_written / nf,
        "compact.write_amp": (postings_written / increment_bytes
                              if increment_bytes else 0.0),
        "compact.incremental_ratio": (sum(incremental) / len(incremental)
                                      if incremental else 0.0),
        "catalog.postings_files": table_files(bench.index, "postings"),
        "catalog.index_bytes": index_bytes(bench.index),
    }
    for layer in ("parse", "stats", "postings", "term_stats"):
        for key in ("wall_s", "cpu_s", "py_cpu_s", "shuffle_bytes"):
            name = f"{layer}.{key}"
            if name in PER_LAYER:
                out[name] = setup[layer][key] / nb
    return out


def traced_run(bench, seconds: float) -> dict:
    """The measured ops untraced, then the same ops again traced, in the
    same session after the same set-up. The difference on the workload's
    primary op is the tracing overhead (the event log is on in both)."""
    snap = bench.snapshot()
    bench.tracer.on = False
    bench.start_measure()
    measure(bench, seconds)
    untraced = _median(bench.samples[bench.primary])
    kinds = kind_cpu_ms(bench)
    bench.samples.clear()
    bench.restore(snap)
    bench.tracer.on = True
    bench.start_measure()
    measure(bench, seconds)
    traced = _median(bench.samples[bench.primary])
    bench.shutdown()
    attribute_events(bench.tracer.spans, read_event_log(bench.event_log))
    metrics = per_layer(bench)
    # per-kind op costs from the untraced phase, which spans do not slow
    metrics.update({KIND_METRICS[k]: v for k, v in kinds.items()})
    if traced and untraced:
        metrics["trace.overhead_s"] = traced - untraced
        metrics["trace.overhead_ratio"] = traced / untraced - 1
    return metrics


def run(workload: str, seed: int, seconds: float, trace: bool,
        work: str) -> tuple[dict, dict]:
    bench = workloads.WORKLOADS[workload](work, seed)
    bench.prepare()
    bench.event_log = bench.path("eventlog") if trace else None
    if trace:
        patch_catalog(bench.tracer)
    try:
        t0, check0 = time.perf_counter(), bench.check_s
        bench.start_session(bench.event_log)
        bench.setup()
        setup_s = time.perf_counter() - t0 - (bench.check_s - check0)
        bench.tracer.phase = "measure"
        if trace:
            metrics, units = traced_run(bench, seconds), PER_LAYER
        else:
            bench.start_measure()
            measure(bench, seconds)
            metrics = end_to_end(bench, setup_s, bench.shutdown())
            units = END_TO_END
    finally:
        bench.shutdown()
    missing = sorted(k for k in units if metrics.get(k) is None)
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "nproc": workloads.NPROC,
        "engine_config": dict(vars(workloads.CONFIG)),
        "setup_s": setup_s, "setup_steps_s": bench.steps,
        "check_s": bench.check_s,
        "samples_s": {k: percentiles(v) for k, v in bench.samples.items()},
        # every query op's CPU, in the order the ops ran
        "op_cpu_s": {k: v for k, v in bench.samples.items()
                     if k.endswith(".cpu")},
        "error_rate": bench.failed / max(bench.attempted, 1),
        "rank_mismatches": bench.rank_mismatches,
        "missing_metrics": missing,
        "problems": bench.problems[:10],
    }
    result = {
        "correct": bench.failed == 0 and not bench.problems and not missing,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name][0]}
                    for name in units if name not in missing},
    }
    return result, detail
