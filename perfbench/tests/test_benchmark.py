"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unicodedata
import unittest
from collections import Counter
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import digest, expect, gen, metrics  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class TailRule(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        self.assertEqual(metrics.tail(xs), (90, 90, 100))
        self.assertEqual(metrics.tail(list(range(1, 1001))), (99, 990, 1000))
        self.assertEqual(metrics.tail(list(range(1, 10001))), (99.9, 9990, 10000))

    def test_exactly_ten_beyond_qualifies(self):
        self.assertEqual(metrics.tail(list(range(1, 41))), (75, 30, 40))
        self.assertEqual(metrics.tail(list(range(1, 40)))[0], 50)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail([5.0, 1.0, 3.0]), (None, 3.0, 3))

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(200)]
        self.assertEqual(metrics.tail(xs), metrics.tail(list(reversed(xs))))


class Generators(unittest.TestCase):

    def _twice(self, fn, seed_a, seed_b):
        with tempfile.TemporaryDirectory() as d:
            fn(seed_a, os.path.join(d, "a"))
            fn(seed_a, os.path.join(d, "b"))
            fn(seed_b, os.path.join(d, "c"))
            return same_tree(os.path.join(d, "a"), os.path.join(d, "b")), \
                same_tree(os.path.join(d, "a"), os.path.join(d, "c"))

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with mock.patch.multiple(gen, MR_TEXT_LINES_PER_FILE=200, MR_EDGES_PER_FILE=500,
                                 GRAPH_DOCS=500, GRAPH_ID_SPACE=600):
            for fn in (gen.gen_mr, gen.gen_graph, gen.gen_stream):
                same, other = self._twice(fn, 7, 8)
                self.assertTrue(same, fn.__name__)
                self.assertFalse(other, fn.__name__)

    def test_mr_facts_match_the_files(self):
        """The MR expected outputs come from the generator's facts; check
        those facts against the written text with an independent
        tokenizer (maximal runs of Unicode letters, lower-cased)."""
        with mock.patch.multiple(gen, MR_TEXT_LINES_PER_FILE=300, MR_EDGES_PER_FILE=300), \
                tempfile.TemporaryDirectory() as d:
            facts = gen.gen_mr(3, d)
            counts, grep = Counter(), []
            for name in sorted(os.listdir(os.path.join(d, "text"))):
                with open(os.path.join(d, "text", name), encoding="utf-8") as f:
                    text = f.read()
                word = []
                for ch in text + " ":
                    if unicodedata.category(ch).startswith("L"):
                        word.append(ch)
                    elif word:
                        counts["".join(word).lower()] += 1
                        word = []
                for i, line in enumerate(text.split("\n")[:-1]):
                    if facts["term"] in line:
                        grep.append(f"{name}:{i + 1}:: {line}")
            self.assertEqual(counts, Counter(facts["counts"]))
            self.assertEqual(grep, facts["grep_lines"])
            degree = Counter()
            for name in os.listdir(os.path.join(d, "edges")):
                with open(os.path.join(d, "edges", name)) as f:
                    for line in f:
                        a, b = line.split()
                        degree[a] += 1
                        degree[b] += 1
            self.assertEqual(degree, Counter(facts["degree"]))


class Digests(unittest.TestCase):

    def test_order_insensitive_and_exact(self):
        a = digest.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = digest.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(digest.digest(["v"], [(1,)]), digest.digest(["v"], [(1.0,)]))
        self.assertNotEqual(digest.digest(["v"], [(0.1 + 0.2,)]), digest.digest(["v"], [(0.3,)]))
        self.assertNotEqual(digest.digest(["v"], [(1,), (1,)]), digest.digest(["v"], [(1,)]))

    def test_matrix_expectation(self):
        import numpy as np
        a = np.array([[1, 0], [2, 3]])
        b = np.array([[0, 4], [5, 0]])
        facts = {"counts": {}, "grep_lines": [], "degree": {}, "A": a, "B": b}
        exp = expect.mr_expected(facts)
        self.assertEqual(exp["matrix_multiply_1"],
                         digest.lines_digest(["0 1 4 C", "1 1 8 C", "1 0 15 C"]))
        self.assertEqual(exp["matrix_multiply_2"],
                         digest.lines_digest(["0 1 4 C", "1 1 8 C", "1 0 15 C"]))


def fake_result(shas, traced=False):
    ops = []
    for i, (name, sha) in enumerate(shas):
        ops.append({"id": i, "pass": i // 2, "name": name, "traced": traced,
                    "wall_s": 0.5 + 0.1 * i, "heap_mb": 100.0 + i, "ckpt_left": 0,
                    "rows": 3, "sha": sha, "error": None, "counters": {}})
    passes = [{"pass": p, "traced": traced, "wall_s": 1.0 + p} for p in range(len(shas) // 2)]
    return {"cores": 4, "setup_s": 4.25, "ops": ops, "passes": passes,
            "probe": {}, "spans": [], "jobs": [], "stages": []}


class Output(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        self.expected = {"q1": {"rows": 3, "sha": "aa"}, "q2": {"rows": 3, "sha": "bb"}}

    def test_names_and_units_match_benchmark_json(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         sorted(run.WORKLOADS))

    def test_printed_result_has_every_metric(self):
        res = fake_result([("q1", "aa"), ("q2", "bb")] * 3)
        with mock.patch("builtins.print"):
            out = run.report("query_mix", res, self.expected, trace=0)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(out["metrics"]), [n for n, _ in metrics.END_TO_END])
        for name, unit in metrics.END_TO_END:
            self.assertEqual(out["metrics"][name]["unit"], unit)
            self.assertGreater(out["metrics"][name]["value"], 0)
        self.assertEqual(out["metrics"]["setup_s"]["value"], 4.25)
        self.assertEqual(out["metrics"]["warm_pass_s"]["value"], 2.5)

        traced = fake_result([("q1", "aa"), ("q2", "bb")] * 3, traced=True)
        with mock.patch("builtins.print"):
            out = run.report("query_mix", traced, self.expected, trace=1)
        self.assertEqual(list(out["metrics"]), [n for n, _ in metrics.PER_LAYER])

    def test_wrong_output_counts_as_failed(self):
        res = fake_result([("q1", "aa"), ("q2", "bb")] * 3)
        wrong = dict(self.expected, q2={"rows": 3, "sha": "not-bb"})
        with mock.patch("builtins.print"), mock.patch.object(run, "log"):
            out = run.report("query_mix", res, wrong, trace=0)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (6, 3))

    def test_error_and_missing_expectation_count_as_failed(self):
        res = fake_result([("q1", "aa"), ("q3", "cc")])
        res["ops"][0]["error"] = "boom"
        attempted, failed, _ = metrics.check_ops(res["ops"], self.expected)
        self.assertEqual((attempted, failed), (2, 2))


if __name__ == "__main__":
    unittest.main()
