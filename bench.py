#!/usr/bin/env python
"""Benchmark harness (driver-run per round; also used locally).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total_sec>, "unit": "sec", "queries": {...}, "sf": ...}

Included headline work:
- the search-engine pipeline itself: web_pages fixture index build
  (docs/sec) + batched BM25 top-10 latency over the 25-query fixture set,
- the SQL-gate flagship (se_bm25_topk) and representative pipeline
  operators (term_df, minhash LSH dedup, brute-force ANN, sessionize).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
#: web_pages fixture rows for the index-build benchmark. 150k (vs round 1's
#: 50k) so the ~15 s of fixed Spark overhead (session, job scheduling,
#: python worker spin-up) amortizes and docs/sec reflects steady-state
#: throughput — at 50k docs the overhead dominated and under-reported the
#: engine by ~2× relative to the zero-overhead single-node oracle.
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "150000"))
CACHE_DIR = os.environ.get(
    "SPARK_GRAFT_BENCH_CACHE", os.path.join(os.path.dirname(__file__), ".bench_cache")
)

#: previous-round per-query seconds (best clean evidence across rounds 2-4:
#: min of BENCH_r02/BENCH_r03 plus round-4 best samples from the probe log
#: for the three queries r4 re-measured — corpus_curate's single-scan
#: fusion, and the two r3 phantom regressions confirmed as noise; sf0.1,
#: 32 cpus, 150k-page build). Regression guard: any query slower than
#: PREV_ROUND * (1 + TOLERANCE) is flagged in extra["regressions"].
#: Update each round.
PREV_ROUND = {
    "index_build": 11.801,
    "bm25_query_batch": 1.543,
    "se_bm25_topk": 2.091,
    "se_term_df": 0.279,
    "dedup_minhash_lsh": 1.4,
    "dedup_lsh_verified": 3.465,
    "sim_bruteforce_topk": 0.573,
    "sim_lsh_topk": 2.935,
    "mm_image_dims": 0.341,
    "text_fingerprint": 0.419,
    "text_gopher_filter": 0.786,
    "corpus_curate": 4.62,
    "rel_pricing_summary": 0.303,
    "rel_sessionize": 0.386,
}
#: r01 measured index_build/bm25_query_batch at 50k pages — only
#: comparable when N_PAGES matches
PREV_ROUND_50K = {"index_build": 25.626, "bm25_query_batch": 2.863}
REGRESSION_TOLERANCE = 0.20


def _sf_label(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def classify_regressions(
    timings: dict, prev_all: dict, probe_log: dict,
    tolerance: float = REGRESSION_TOLERANCE,
) -> tuple[dict, dict]:
    """Split prev-round exceedances into (regressions, regressions_unprobed).

    A regression CLAIM requires clean evidence: when every sample of a
    query was probe-contended, the exceedance says nothing about the code
    (external contention only ever inflates a sample, never deflates it) —
    it is reported separately as unprobed, with the per-sample probe
    readings in bench_probes.json, instead of flagging a phantom
    regression (three were flagged in r3 under loadavg 12 with unchanged
    plans, all re-measured back to baseline in clean windows)."""
    exceeded = {
        name: {"prev": prev, "now": timings[name]}
        for name, prev in prev_all.items()
        if name in timings and timings[name] > prev * (1 + tolerance)
    }
    regressions = {
        n: v for n, v in exceeded.items()
        if probe_log.get(n, {}).get("clean_samples", 0) > 0
    }
    unprobed = {n: v for n, v in exceeded.items() if n not in regressions}
    return regressions, unprobed


#: side file for the full per-sample probe log; the headline JSON line must
#: stay compact (round 4 embedded the log in the headline and blew past the
#: driver's tail-capture window → BENCH_r04.json parsed: null)
PROBE_LOG_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "bench_probes.json")


#: the driver keeps only a bounded tail of stdout (~2000 chars) and parses
#: its last line; the headline must fit WELL inside that window or the cut
#: lands mid-JSON (the round-4 delivery failure)
HEADLINE_BUDGET = 1900


def emit_headline(payload: dict, probe_log: dict, detail: dict | None = None,
                  probe_path: str = PROBE_LOG_PATH) -> None:
    """Print the headline JSON as the FINAL stdout line, compact.

    The driver captures a bounded tail of stdout and json-parses the last
    line, so: (1) the full probe log + any bulky per-section detail goes to
    ``probe_path`` and its own stdout line BEFORE the headline, never
    inside it; (2) the headline carries only per-query clean-sample counts
    (a few bytes per query); (3) if the composed headline still exceeds
    ``HEADLINE_BUDGET``, the largest ``extra`` entries are spilled to the
    detail channel (largest first, deterministically) until it fits.
    """
    detail = dict(detail or {})
    extra = payload.setdefault("extra", {})
    extra["clean_samples"] = {
        name: rec["clean_samples"] for name, rec in probe_log.items()
    }
    # spill oversized extras to the side channel until the headline fits
    while len(json.dumps(payload)) >= HEADLINE_BUDGET and extra:
        biggest = max(extra, key=lambda k: len(json.dumps(extra[k])))
        detail[f"extra.{biggest}"] = extra.pop(biggest)
    side = {"probes": probe_log, "detail": detail}
    with open(probe_path, "w") as f:
        json.dump(side, f, indent=1)
    print(json.dumps({"metric": "probe_log", "path": probe_path, **side}))
    line = json.dumps(payload)
    # hard guard: a bloated headline is a delivery failure, fail loudly here
    # rather than silently handing the driver an unparseable tail
    assert len(line) < HEADLINE_BUDGET, \
        f"headline line too long ({len(line)} chars)"
    print(line)


def main() -> None:
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.session import get_spark

    cfg = EngineConfig(
        num_buckets=int(CPUS),
        shuffle_partitions=int(CPUS),
        files_max_partition_bytes=8 * 1024 * 1024,
        files_open_cost_bytes=8 * 1024 * 1024,
    )
    spark = get_spark("bench", master=f"local[{CPUS}]", config=cfg)
    spark.sparkContext.setLogLevel("ERROR")

    # Cluster warm-up, excluded from timings: spin up one Python worker per
    # slot (pandas/pyarrow imports, ~5 s across 32 slots) exactly like the
    # discarded warm-up run in the scaling protocol (BASELINE.md). On a real
    # long-lived cluster executors are warm; folding one-time fork+import
    # cost into a 34 s local build would mis-state steady-state throughput.
    def _ident(it):
        for pdf in it:
            yield pdf

    spark.range(0, int(CPUS), 1, int(CPUS)).mapInPandas(
        _ident, "id long"
    ).count()

    timings: dict[str, float] = {}
    extra: dict = {}
    detail: dict = {}
    probe_log: dict[str, dict] = {}
    try:
        extra["loadavg_start"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass

    from scripts.bench_scaling import contention_probe

    #: extra attempts allowed while hunting for a clean-probed sample —
    #: bounded so a long contention burst can't stall the driver's round
    MAX_EXTRA_ATTEMPTS = 2

    def timed(name, fn, repeats=1):
        """Record fn's wall — best-of with a pre+post contention gate.

        Every sample is bracketed by the SAME busy-cores+memcpy probe the
        scaling harness gates on (scripts/bench_scaling.contention_probe)
        and counts as clean only when BOTH bracket probes pass — a burst
        that begins mid-sample shows up in the post probe (matches the
        compaction-section and scaling-harness protocol). best-of already
        bounds upward noise (external contention can only inflate a
        sample, never deflate it), but a round where every probe was
        contended used to surface as a phantom regression (3 flagged in
        r3 under loadavg 12 with unchanged plans). If no sample probed
        clean after ``repeats`` tries, up to MAX_EXTRA_ATTEMPTS more
        samples hunt for a clean window; full per-sample probe readings
        land in bench_probes.json (NOT the headline line)."""
        best = None
        out = None
        clean_samples = 0
        samples = []
        attempt = 0
        while attempt < repeats or (
            clean_samples == 0 and attempt < repeats + MAX_EXTRA_ATTEMPTS
        ):
            pre = contention_probe()
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            post = contention_probe()
            attempt += 1
            clean = pre["clean"] and post["clean"]
            if clean:
                clean_samples += 1
            best = dt if best is None else min(best, dt)
            samples.append(
                {"sec": round(dt, 3), "clean": clean,
                 "busy_cores": [pre["busy_cores"], post["busy_cores"]],
                 "memcpy_gbps": [pre["memcpy_gbps"], post["memcpy_gbps"]]}
            )
        timings[name] = round(best, 3)
        probe_log[name] = {"clean_samples": clean_samples,
                           "n_samples": attempt, "samples": samples}
        return out

    # --- engine: index build + query latency over web_pages fixture --------
    os.makedirs(CACHE_DIR, exist_ok=True)
    fixture = os.path.join(CACHE_DIR, f"web_pages_{N_PAGES}.parquet")
    if not os.path.exists(fixture):
        from search_engine_spark.sources.fixtures import write_web_pages

        write_web_pages(fixture, N_PAGES)

    index_path = os.path.join(CACHE_DIR, f"index_{N_PAGES}_{CPUS}")

    def build():
        from search_engine_spark.operators.index_build import build_index

        # fresh build every repeat (a leftover index would resume-no-op)
        shutil.rmtree(index_path, ignore_errors=True)
        pages = spark.read.parquet(fixture)
        return build_index(spark, pages, index_path, cfg, resume_batches=1)

    # best-of-2 like the cheap queries: the build is the headline number and
    # a single 35 s sample can land entirely inside a contention burst
    metrics = timed("index_build", build, repeats=2)
    extra["index_docs_per_sec"] = round(metrics["n_docs"] / timings["index_build"], 1)
    extra["index_n_docs"] = metrics["n_docs"]
    for stage, sec in metrics.get("stage_sec", {}).items():
        extra[f"index_{stage}_sec"] = sec

    def run_queries():
        from search_engine_spark.operators.search import BM25SearchEngine
        from search_engine_spark.sources.fixtures import FIXTURE_QUERIES

        engine = BM25SearchEngine(spark, index_path, cfg)
        return engine.search_batch(FIXTURE_QUERIES, k=10).collect()

    rows = timed("bm25_query_batch", run_queries, repeats=2)
    extra["bm25_ms_per_query"] = round(
        1000.0 * timings["bm25_query_batch"] / 25, 1
    )
    extra["bm25_result_rows"] = len(rows)

    # --- reference-equivalent single-node baseline -------------------------
    # The reference is a single-threaded pure-Python pipeline; its faithful
    # reimplementation (tests/oracle.py) indexed over a fixture slice gives
    # the single-node docs/sec the engine must match-or-beat. The timed
    # span includes persisting the index state the way the reference does —
    # append-pickle of postings / doc stats / inverted index (reference
    # utils.py:14-27,71-83, written during indexing via the 200k-term spill
    # at indexer.py:89-116) — because the Spark side's docs/sec likewise
    # pays for writing its durable compressed index; an in-memory-only
    # baseline would overstate the reference (it also pays a spill-file
    # k-way merge, indexer.py:118-206, NOT charged here).
    def oracle_rate():
        import pickle
        import tempfile

        import pyarrow.parquet as pq

        from tests.oracle import OracleEngine

        t = pq.read_table(fixture, columns=["url", "warc_ts", "text"])
        n = min(3000, t.num_rows)
        urls = t["url"].to_pylist()[:n]
        tss = t["warc_ts"].to_pylist()[:n]
        txts = t["text"].to_pylist()[:n]
        best = 0.0
        # best-of-3: the shared host's external contention flaps minute to
        # minute (loadavg_* fields record it); best-of bounds the noise on
        # the single-node side the same way the pinned scaling protocol
        # does (BASELINE.md)
        for _ in range(3):
            eng = OracleEngine()
            t0 = time.time()
            for u, ts_, x in zip(urls, tss, txts):
                eng.add_doc(u, ts_, x)
            eng.finalize()
            with tempfile.TemporaryDirectory() as d:
                for name, obj in (("postings", eng.postings),
                                  ("doc_stats", eng.doc_stats),
                                  ("inverted_idx", eng.inverted_idx)):
                    with open(os.path.join(d, name + ".pkl"), "wb") as f:
                        for kv in obj.items():
                            pickle.dump(kv, f)
            best = max(best, n / (time.time() - t0))
        return best

    extra["oracle_single_node_docs_per_sec"] = round(oracle_rate(), 1)
    extra["speedup_vs_reference_single_node"] = round(
        extra["index_docs_per_sec"] / extra["oracle_single_node_docs_per_sec"], 2
    )

    # --- SQL-gate flagship + representative pipeline operators -------------
    import __spark_entry__ as e

    q = e.queries()
    for name in [
        "se_bm25_topk",
        "se_term_df",
        "dedup_minhash_lsh",
        "dedup_lsh_verified",
        "sim_bruteforce_topk",
        "sim_lsh_topk",
        "mm_image_dims",
        "text_fingerprint",
        "text_gopher_filter",
        "corpus_curate",
        "rel_pricing_summary",
        "rel_sessionize",
        "rel_sessionize_native",
    ]:
        # clearCache per run: se_bm25_topk caches its shared token relation
        # (keyed by logical plan), so a repeat would otherwise measure a
        # warm cache instead of the cold query r01 timings are based on
        timed(
            name,
            lambda n=name: (
                spark.catalog.clearCache(),
                q[n](spark, SF_DIR).collect(),
            )[1],
            # best-of-3: this box's contention bursts routinely stretch a
            # quiet-window 1.4 s query past 2 s; two samples still leave
            # ~1-in-10 rounds with both hit (false regression flags)
            repeats=3,
        )

    # --- provisional headline: crash insurance for the long tail -----------
    # The compaction sections below run multi-minute Spark jobs (the Zipf
    # trend alone builds+rebuilds up to a 660k-doc index). If the driver
    # kills the process mid-section, everything printed LAST is lost — so
    # emit a complete, parseable headline NOW covering all per-query
    # timings; the final emit at the end supersedes it as the tail's last
    # line (the driver parses the last line, so on a healthy run the
    # provisional line is simply ignored).
    emit_headline(
        {
            "metric": "headline_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": dict(timings),
            "sf": _sf_label(SF_DIR),
            "extra": {**extra, "provisional": True},
            "cpus": int(CPUS),
        },
        probe_log,
    )

    # --- incremental compaction vs full rebuild -----------------------------
    # The north_rule's resume/lineage machinery, measured: land 10% new
    # docs through the streaming staging path (micro-batch parse of ONLY
    # the new docs), fold them into a COPY of the built index with
    # compact_staging (incremental merge: untouched posting groups pass
    # through byte-identical, never re-parses, never re-encodes the
    # untouched bulk), and compare against a measured full rebuild over
    # the same 110% corpus. ingest_sec (the streaming micro-batch parse —
    # amortized at crawl time in production) and compact_sec (the fold —
    # the scheduled operation this entry is about) are reported
    # separately; the ratio compares the fold alone against the rebuild.
    incoming = os.path.join(CACHE_DIR, f"web_pages_incoming_{N_PAGES}.parquet")
    n_new = N_PAGES // 10
    if not os.path.exists(incoming):
        import pyarrow.parquet as pq

        from search_engine_spark.sources.fixtures import generate_web_pages

        # rows [N_PAGES, N_PAGES + n_new) of the deterministic generator:
        # fresh urls/doc_ids, same corpus distribution
        big = generate_web_pages(N_PAGES + n_new)
        pq.write_table(big.slice(N_PAGES, n_new), incoming,
                       compression="snappy", row_group_size=8_192)

    import tempfile

    def _compact_incremental() -> tuple[float, float, dict]:
        from search_engine_spark.streaming.incremental import (
            compact_staging, incremental_index_update,
        )

        work = tempfile.mkdtemp(prefix="bench_compact_")
        idx_copy = os.path.join(work, "index")
        shutil.copytree(index_path, idx_copy)
        in_dir = os.path.join(work, "incoming")
        os.makedirs(in_dir)
        shutil.copy(incoming, os.path.join(in_dir, "pages.parquet"))
        t0 = time.time()
        incremental_index_update(
            spark, in_dir, os.path.join(work, "staging"),
            os.path.join(work, "ckpt"), config=cfg,
        )
        t1 = time.time()
        out = compact_staging(spark, idx_copy, os.path.join(work, "staging"),
                              config=cfg)
        t2 = time.time()
        shutil.rmtree(work, ignore_errors=True)
        return t1 - t0, t2 - t1, out

    def _full_rebuild() -> float:
        from search_engine_spark.operators.index_build import build_index

        rb_path = os.path.join(CACHE_DIR, f"index_rebuild_{N_PAGES}")
        shutil.rmtree(rb_path, ignore_errors=True)
        t0 = time.time()
        build_index(spark, spark.read.parquet(fixture, incoming), rb_path,
                    cfg, resume_batches=1)
        dt = time.time() - t0
        shutil.rmtree(rb_path, ignore_errors=True)
        return dt

    probe_pre = contention_probe()
    ingest_sec, compact_sec, compact_out = _compact_incremental()
    rebuild_sec = _full_rebuild()
    probe_post = contention_probe()
    # full record goes to the side channel; the headline keeps the summary
    detail["compaction"] = {
        "incoming_docs": n_new,
        "ingest_sec": round(ingest_sec, 3),
        "compact_sec": round(compact_sec, 3),
        "compact_stage_sec": compact_out["stage_sec"],
        "incremental": compact_out["incremental"],
        "rebuild_sec": round(rebuild_sec, 3),
        "compact_over_rebuild": round(compact_sec / rebuild_sec, 3),
        "probe_pre": probe_pre,
        "probe_post": probe_post,
    }
    extra["compaction"] = {
        "compact_over_rebuild": round(compact_sec / rebuild_sec, 3),
        "clean": bool(probe_pre["clean"] and probe_post["clean"]),
    }

    # --- monotone-id compaction on the web-shaped (Zipf-tail) corpus --------
    # The dense 5k-term fixture above is the worst case for incremental
    # merges (every posting group is touched by any increment, and a 10%
    # increment touches 76-94% of posting MASS even on realistic
    # vocabularies — head terms hold the mass and are always hit; see
    # BASELINE.md). Batch-monotone doc ids make merges
    # TAIL SPLICES (codec._encode_group_batch): only the old list's last
    # block re-encodes, the rest is a header-adjusted memcpy, so work is
    # increment-proportional.
    # Measured here on a 2M-term Zipf vocabulary (most terms df<10, like a
    # real crawl). The increment-proportionality claim is a TREND, not a
    # single ratio: a Zipf increment's distinct-term count grows with its
    # token count (fat tail), so at small base corpora the merge's
    # per-group machinery costs about what rebuild's streamlined
    # explode+sort+encode does. The decisive evidence is holding the
    # increment FIXED while doubling the base: rebuild's wall is
    # corpus-proportional (re-parses everything), compact's is
    # increment + index-I/O-proportional — so compact_over_rebuild must
    # FALL as the base grows. Measured at base = N_PAGES and 2·N_PAGES.
    def _zipf_fixture(base: int) -> tuple[str, str]:
        fx = os.path.join(CACHE_DIR, f"web_pages_zipf_{base}.parquet")
        inc = os.path.join(
            CACHE_DIR, f"web_pages_zipf_incoming_{base}.parquet")
        if not (os.path.exists(fx) and os.path.exists(inc)):
            import pyarrow.parquet as pq

            from search_engine_spark.sources.fixtures import generate_web_pages

            zt = generate_web_pages(base + n_new, vocab_size=2_000_000,
                                    zipf_s=1.1)
            pq.write_table(zt.slice(0, base), fx,
                           compression="snappy", row_group_size=8_192)
            pq.write_table(zt.slice(base, n_new), inc,
                           compression="snappy", row_group_size=8_192)
            del zt
        return fx, inc

    def _zipf_compaction(base: int) -> dict:
        from search_engine_spark.config import EngineConfig
        from search_engine_spark.operators.index_build import build_index
        from search_engine_spark.streaming.incremental import (
            compact_staging, incremental_index_update,
        )

        zipf_fixture, zipf_incoming = _zipf_fixture(base)
        mcfg = EngineConfig(
            num_buckets=int(CPUS), shuffle_partitions=int(CPUS),
            files_max_partition_bytes=8 * 1024 * 1024,
            files_open_cost_bytes=8 * 1024 * 1024,
        )
        work = tempfile.mkdtemp(prefix="bench_zipf_")
        idx = os.path.join(work, "index")
        build_index(spark, spark.read.parquet(zipf_fixture), idx, mcfg,
                    resume_batches=1)
        in_dir = os.path.join(work, "incoming")
        os.makedirs(in_dir)
        shutil.copy(zipf_incoming, os.path.join(in_dir, "pages.parquet"))
        t0 = time.time()
        incremental_index_update(
            spark, in_dir, os.path.join(work, "staging"),
            os.path.join(work, "ckpt"), config=mcfg,
        )
        t1 = time.time()
        out = compact_staging(spark, idx, os.path.join(work, "staging"),
                              config=mcfg)
        t2 = time.time()
        rb = os.path.join(work, "rebuild")
        t3 = time.time()
        build_index(spark, spark.read.parquet(zipf_fixture, zipf_incoming),
                    rb, mcfg, resume_batches=1)
        t4 = time.time()
        shutil.rmtree(work, ignore_errors=True)
        return {
            "base_docs": base,
            "incoming_docs": n_new,
            "vocab": "zipf-tail 2M terms, s=1.1",
            "ingest_sec": round(t1 - t0, 3),
            "compact_sec": round(t2 - t1, 3),
            "compact_stage_sec": out["stage_sec"],
            "incremental": out["incremental"],
            "rebuild_sec": round(t4 - t3, 3),
            "compact_over_rebuild": round((t2 - t1) / (t4 - t3), 3),
        }

    zipf_runs = []
    for base in (N_PAGES, 2 * N_PAGES, 4 * N_PAGES):
        probe_pre = contention_probe()
        zres = _zipf_compaction(base)
        zres["probe_pre"] = probe_pre
        zres["probe_post"] = contention_probe()
        zipf_runs.append(zres)
    detail["compaction_monotone_zipf"] = {"runs": zipf_runs}
    extra["compaction_monotone_zipf"] = {
        # increment fixed, base quadrupled: compact wall should stay ~flat
        # while rebuild's is corpus-proportional
        "ratio_by_base": {
            str(r["base_docs"]): r["compact_over_rebuild"]
            for r in zipf_runs
        },
        "compact_sec_growth_4x_base": round(
            zipf_runs[2]["compact_sec"] / zipf_runs[0]["compact_sec"], 3),
        "rebuild_sec_growth_4x_base": round(
            zipf_runs[2]["rebuild_sec"] / zipf_runs[0]["rebuild_sec"], 3),
        "clean": all(r["probe_pre"]["clean"] and r["probe_post"]["clean"]
                     for r in zipf_runs),
    }

    # regression guard vs previous round (only meaningful at the standard
    # sf0.1 / 32-cpu configuration the driver runs)
    if _sf_label(SF_DIR) == 0.1 and int(CPUS) == 32:
        prev_all = dict(PREV_ROUND)
        if N_PAGES != 150_000:  # build numbers only comparable at 150k pages
            prev_all.pop("index_build", None)
            prev_all.pop("bm25_query_batch", None)
        if N_PAGES == 50_000:
            prev_all.update(PREV_ROUND_50K)
        regressions, unprobed = classify_regressions(
            timings, prev_all, probe_log)
        extra["regressions"] = regressions
        extra["regression_count"] = len(regressions)
        if unprobed:
            extra["regressions_unprobed"] = unprobed

    try:
        extra["loadavg_end"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    total = round(sum(timings.values()), 3)
    emit_headline(
        {
            "metric": "headline_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": _sf_label(SF_DIR),
            "extra": extra,
            "cpus": int(CPUS),
        },
        probe_log,
        detail=detail,
    )
    spark.stop()


if __name__ == "__main__":
    main()
