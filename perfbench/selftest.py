#!/usr/bin/env python3
"""Self-tests of the benchmark itself (no Spark session is started).

    python3 perfbench/selftest.py

Run from the repository root. They check that the inputs are a pure function
of the seed, the tail-percentile rule, that the answer checker flags a
doctored answer, and that the metrics the harness emits are the ones
BENCHMARK.json declares, with the same units and directions.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import harness  # noqa: E402
import inputs  # noqa: E402
from tests.oracle import OracleEngine  # noqa: E402


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for vocab in (inputs.DENSE, inputs.WEB):
            a = inputs.corpus(7, vocab, 50)
            self.assertTrue(a.equals(inputs.corpus(7, vocab, 50)))
            self.assertFalse(a.equals(inputs.corpus(8, vocab, 50)))
            pool = inputs.query_pool(7, vocab, a)
            self.assertEqual(pool, inputs.query_pool(7, vocab, a))
            ops = [inputs.op_stream(pool, inputs.OP_CYCLE)
                   for _ in range(2)]
            self.assertEqual([next(ops[0]) for _ in range(20)],
                             [next(ops[1]) for _ in range(20)])
            # another seed: other terms, the same shape at each position
            other = inputs.query_pool(8, vocab, inputs.corpus(8, vocab, 50))
            self.assertNotEqual(pool, other)
            self.assertEqual([len(q.split()) for q in pool],
                             [len(q.split()) for q in other])

    def test_increments_have_fresh_urls(self):
        base = inputs.corpus(7, inputs.WEB, 50)
        inc = inputs.corpus(7, inputs.WEB, 20, first=50, part=1)
        self.assertFalse(set(base["url"].to_pylist())
                         & set(inc["url"].to_pylist()))


class PercentilesTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertEqual(checks.percentiles([]), {"n": 0})
        few = checks.percentiles([float(i) for i in range(39)])
        self.assertEqual(set(few), {"n", "p50"})
        p75 = checks.percentiles([float(i) for i in range(40)])
        self.assertEqual(p75["p75"], 29.0)
        self.assertNotIn("p90", p75)
        p90 = checks.percentiles([float(i) for i in range(100)])
        self.assertEqual(p90["p90"], 89.0)
        self.assertNotIn("p99", p90)


class CheckerTest(unittest.TestCase):
    def setUp(self):
        docs = inputs.corpus(3, inputs.DENSE, 80)
        self.oracle = OracleEngine()
        for url, ts, text in inputs.oracle_rows(docs):
            self.oracle.add_doc(url, ts, text)
        self.oracle.finalize()
        self.query = "term0001 term0002"
        self.want = [(u, s) for _, u, s, _ in
                     self.oracle.search(self.query, k=checks.K)]
        self.assertGreater(len(self.want), 2)
        # the first pair of neighbours whose scores differ
        self.cut = next(i for i in range(len(self.want) - 1)
                        if self.want[i][1] != self.want[i + 1][1])

    def rows(self, answer):
        return [{"qid": 0, "rank": r, "url": u, "score": s}
                for r, (u, s) in enumerate(answer, 1)]

    def grade(self, answer):
        return checks.grade_batch(self.rows(answer), [self.query],
                                  self.oracle, {})[0]

    def test_exact_answer_passes(self):
        self.assertEqual(self.grade(self.want), checks.EXACT)

    def test_doctored_answers_fail(self):
        score = [(u, s * (1 + 1e-6)) for u, s in self.want]
        i = self.cut
        swapped = (self.want[:i] + [self.want[i + 1], self.want[i]]
                   + self.want[i + 2:])
        other = (self.want[:i] + [("https://elsewhere.example/x",
                                   self.want[i][1])] + self.want[i + 1:])
        for doctored in (score, swapped, other, self.want[:-1], []):
            self.assertEqual(self.grade(doctored), checks.WRONG)

    def test_tie_flip_is_told_apart(self):
        want = [("a", 2.0), ("b", 1.0), ("c", 1.0), ("d", 0.5)]
        got = [("a", 2.0), ("c", 1.0 + 1e-15), ("b", 1.0), ("d", 0.5)]
        self.assertEqual(checks.compare(got, want), checks.TIE_FLIP)
        got[1] = ("e", 1.0)
        self.assertEqual(checks.compare(got, want), checks.WRONG)


class FakeBench:
    """The state ``end_to_end`` and ``per_layer`` read, without Spark."""

    primary = "search"
    write = "build"

    def __init__(self, index: str):
        self.index = index
        self.text_bytes = 1000
        self.samples = defaultdict(list, {
            "search.cpu": [0.5, 0.7], "search_bm25.cpu": [0.4],
            "search_batch.cpu": [1.25], "build.cpu_per_doc": [0.02]})
        self.rank_mismatches = 0
        self.fold_text_bytes: list[int] = []
        self.fold_incremental: list[bool] = []
        self.tracer = type("T", (), {"spans": []})()


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        self.tmp = tempfile.TemporaryDirectory()
        os.makedirs(os.path.join(self.tmp.name, "postings"))
        pq.write_table(pa.table({"x": [1, 2, 3]}),
                       os.path.join(self.tmp.name, "postings", "p.parquet"))
        self.bench = FakeBench(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def declared(self, key: str) -> dict:
        return {m["name"]: (m["unit"], m["better"]) for m in self.spec[key]}

    def test_declared_names_units_and_directions(self):
        self.assertEqual(self.declared("end_to_end"), harness.END_TO_END)
        self.assertEqual(self.declared("per_layer"), harness.PER_LAYER)
        self.assertEqual({w["name"] for w in self.spec["workloads"]},
                         set(harness.workloads.WORKLOADS))

    def test_emitted_names(self):
        e2e = harness.end_to_end(self.bench, 40.0, 2**30)
        self.assertEqual(set(e2e), set(harness.END_TO_END))
        # mean of the kind medians 600, 400 and 1250 ms
        self.assertAlmostEqual(e2e["query_cpu_ms"], 750.0)
        self.assertEqual(e2e["index_cpu_ms_per_doc"], 20.0)
        self.assertEqual(e2e["peak_rss_mb"], 1024.0)
        self.assertAlmostEqual(harness.kind_cpu_ms(self.bench)["search"],
                               600.0)
        layers = set(harness.per_layer(self.bench)) | {
            "trace.overhead_s", "trace.overhead_ratio",
            *harness.KIND_METRICS.values()}
        self.assertEqual(layers, set(harness.PER_LAYER))

    def test_missing_samples_give_no_value(self):
        self.bench.samples["search_bm25.cpu"].clear()
        e2e = harness.end_to_end(self.bench, 40.0, 2**30)
        self.assertIsNone(e2e["query_cpu_ms"])


if __name__ == "__main__":
    unittest.main()
