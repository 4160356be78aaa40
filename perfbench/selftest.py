#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py            # all, about two minutes
    python3 perfbench/selftest.py -k host    # one test by name

- the input generators are deterministic for a seed;
- ``guard_merge`` statements have exactly the forms ``build_merge_batches``
  renders for the same triples;
- exact counts (error codes, ``spark.jobs``, stage rows) repeat across runs;
- ``throughput`` of a guard workload does not move when only the host speed
  changes: a busy sibling process pinned to the same CPU halves the raw
  statement rate but leaves the reference-second rate in place.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil
import sys
import tempfile
import time
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import guard_workloads as G  # noqa: E402


def _spin(seconds: float, cpu: int) -> None:
    os.sched_setaffinity(0, {cpu})
    end = time.perf_counter() + seconds
    x = 0
    while time.perf_counter() < end:
        x += 1


class GeneratorTests(unittest.TestCase):
    def test_generators_deterministic(self):
        self.assertEqual(gen.merge_batches(7, 50), gen.merge_batches(7, 50))
        self.assertNotEqual(gen.merge_batches(7, 50), gen.merge_batches(8, 50))
        self.assertEqual(gen.golden_corpus(ROOT, 3), gen.golden_corpus(ROOT, 3))
        batches = gen.merge_batches(11)
        share = sum(bool(b.expected_errors) for b in batches) / len(batches)
        self.assertTrue(0.05 < share < 0.15, share)

    def test_benchmark_json_matches_metrics(self):
        import json

        import metrics as M
        import run

        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, M.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, M.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))

    def test_documents_deterministic(self):
        import pyarrow.parquet as pq

        import spark_workloads as S

        with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench") as d:
            S.write_documents(Path(d, "a"), 120, 60)
            S.write_documents(Path(d, "b"), 120, 60)
            a = pq.read_table(Path(d, "a")).to_pylist()
            self.assertEqual(a, pq.read_table(Path(d, "b")).to_pylist())
            self.assertEqual(a[0]["doc_id"], "doc-00000120")


class GuardTests(unittest.TestCase):
    def test_error_counts_repeat(self):
        counts = []
        for _ in range(2):
            res = G.run("guard_merge", ROOT, 5, 1.0, True, ROOT / ".perfbench/trace/selftest.jsonl")
            self.assertTrue(res["correct"])
            counts.append({k: v for k, v in res["per_layer"].items() if "_errors." in k})
        self.assertEqual(counts[0], counts[1])
        self.assertGreater(sum(counts[0].values()), 0)

    def test_host_normalization(self):
        """A sibling spinning on the same CPU slows the raw rate, not the
        reference-second rate."""
        cpu = min(os.sched_getaffinity(0))
        old = os.sched_getaffinity(0)
        os.sched_setaffinity(0, {cpu})
        try:
            loop, _ = G._setup("guard_merge", ROOT, 3)
            loop.measure(1.0)  # warm

            def rates():
                m = loop.measure(3.0)
                return m["units"] / m["wall_s"], m["units"] / m["ref_s"]

            raw_alone, ref_alone = rates()
            ctx = mp.get_context("spawn")
            busy = ctx.Process(target=_spin, args=(6.0, cpu))
            busy.start()
            try:
                time.sleep(0.5)
                raw_busy, ref_busy = rates()
            finally:
                busy.join(timeout=30)
                if busy.is_alive():
                    busy.terminate()
                    busy.join(timeout=10)
            self.assertFalse(busy.is_alive())
        finally:
            os.sched_setaffinity(0, old)
        self.assertLess(raw_busy, 0.8 * raw_alone, (raw_alone, raw_busy))
        self.assertLess(abs(ref_busy / ref_alone - 1.0), 0.10, (ref_alone, ref_busy))


class SparkTests(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import spark_workloads as S

        cls.S = S
        cls.work = Path(tempfile.mkdtemp(prefix="selftest-", dir=ROOT / ".perfbench"))
        S._prepare_env(ROOT, cls.work)
        cls.spark = S._session(cls.work)

    @classmethod
    def tearDownClass(cls):
        cls.S._stop(cls.spark)
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_merge_forms_match_codegen(self):
        import random

        from cypher_guard_spark.pipeline.codegen import build_merge_batches

        rng = random.Random(21)
        triples = [gen.draw_triple(rng) for _ in range(40)]
        nodes = sorted({(t[0], t[1]) for t in triples} | {(t[3], t[4]) for t in triples})
        tr = self.spark.createDataFrame(
            [(s, p, o, sl, ol) for sl, s, p, ol, o in triples],
            "subj string, pred string, obj string, subj_label string, obj_label string",
        )
        em = self.spark.createDataFrame(
            [(lbl, name, name) for lbl, name in nodes], "label string, surface string, canonical string"
        )
        rendered = {
            line
            for r in build_merge_batches(em, tr, 10_000).collect()
            for line in r["cypher"].split("\n")
        }
        expected = {gen.rel_statement(*t) for t in triples} | {
            gen.node_statement(lbl, name) for lbl, name in nodes
        }
        self.assertEqual(rendered, expected)

    def test_spark_counts_repeat(self):
        S = self.S
        S.write_documents(self.work / "docs", 0, 1500)
        p = S.Pipeline(self.spark, self.work / "docs", self.work)
        stats = S.JobStats(self.spark)
        seen = []
        for i in range(3):
            group = f"selftest-{i}"
            _, out, ck = p.call(group)
            p.check(out)
            shutil.rmtree(ck, ignore_errors=True)
            seen.append((stats.read(group)["spark.jobs"], S._stage_walls(out)[1]))
        self.assertEqual(p.failed, 0)
        self.assertGreater(seen[1][0], 0)
        self.assertEqual(seen[1], seen[2])


if __name__ == "__main__":
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    unittest.main()
