"""Self-tests for the benchmark harness: python3 -m unittest discover -s perfbench/tests"""
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import canon  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

BENCHMARK = json.load(open(os.path.join(HERE, "..", "..", "BENCHMARK.json")))


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class GeneratedInputs(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            p = lambda n: os.path.join(t, n)
            self.assertEqual(gen.etl(p("a"), 7), gen.etl(p("b"), 7))
            self.assertTrue(same_tree(p("a"), p("b")))
            gen.etl(p("c"), 8)
            self.assertFalse(same_tree(p("a"), p("c")))
            gen.tables(p("t1"), 42)
            gen.tables(p("t2"), 42)
            self.assertTrue(same_tree(p("t1"), p("t2")))
            self.assertEqual(sorted(os.listdir(p("t1"))),
                             sorted(f"{n}.parquet" for n in gen.TABLE_NAMES))

    def test_etl_inputs_carry_the_reference_edge_cases(self):
        with tempfile.TemporaryDirectory() as t:
            counts = gen.etl(t, 3)
        self.assertGreater(counts["dup_hierarchy_edges"], 0)
        self.assertGreater(counts["entity_misses"], 0)
        self.assertGreater(counts["service_404"], 0)
        self.assertGreater(counts["service_503"], 0)
        self.assertLess(counts["concept_nodes"], gen.N_CONCEPTS)  # duplicate names


class Fingerprint(unittest.TestCase):
    df = pd.DataFrame({
        "k": [3, 1, 2],
        "x": [0.1234567, -0.0, 2.5],
        "s": ["c", "a", "b"],
        "t": pd.to_datetime(["2024-01-02", "2024-01-01", "2024-01-03"]),
        "v": [[1.0, 2.0], [], [3.0]],
    })

    def test_ignores_row_and_column_order(self):
        shuffled = self.df.iloc[[2, 0, 1]][["v", "s", "t", "x", "k"]]
        self.assertEqual(canon.fingerprint(self.df), canon.fingerprint(shuffled))

    def test_canonicalizes_like_the_oracle_compare(self):
        same = self.df.copy()
        same["x"] = [0.12345670000001, 0.0, 2.5]  # 6 dp rounding, -0.0 == 0.0
        self.assertEqual(canon.fingerprint(self.df), canon.fingerprint(same))

    def test_detects_a_changed_value(self):
        other = self.df.copy()
        other.loc[1, "s"] = "z"
        self.assertNotEqual(canon.fingerprint(self.df)["hash"],
                            canon.fingerprint(other)["hash"])


class Scoring(unittest.TestCase):
    def test_wrong_expected_fingerprint_raises_the_fail_ratio(self):
        with tempfile.TemporaryDirectory() as t:
            out = os.path.join(t, "q1")
            os.makedirs(out)
            Fingerprint.df.to_parquet(os.path.join(out, "part-0.parquet"))
            good = {"q1": canon.fingerprint_dir(out)}
            bad = {"q1": dict(good["q1"], hash="0" * 16)}
            runs = [{"name": "q1", "s": 1.0, "error": None}] * 4
            outputs = {"q1": [out, out]}  # the cold and the last pass
            ok = run.outcome(runs, run.score_queries(outputs, good, ["q1"]))
            self.assertEqual(ok, {"correct": True, "attempted": 4, "failed": 0})
            wrong = run.outcome(runs, run.score_queries(outputs, bad, ["q1"]))
            self.assertEqual(wrong["failed"], 1)
            self.assertFalse(wrong["correct"])
            self.assertEqual(run.score_queries(outputs, {}, ["q1"]), ["q1"])
            # a pass that wrote no output fails too
            self.assertEqual(run.score_queries({"q1": [out]}, good, ["q1"]), ["q1"])

    def test_etl_counts_are_compared(self):
        expected = {"nodes": 5, "edges": 7}
        self.assertEqual(run.score_etl({"nodes": 5, "edges": 7,
                                        "pass1.exactly_once": True}, expected), [])
        self.assertEqual(run.score_etl({"nodes": 6, "edges": 8,
                                        "pass1.exactly_once": False}, expected),
                         ["pass1.exactly_once", "nodes", "edges"])


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(10))
        for n in range(11, 2000):
            p = run.tail_percentile(n)
            beyond = lambda q: n - -(-q * n // 100)  # samples above the nearest rank
            self.assertGreaterEqual(beyond(p), 10, n)
            self.assertLess(beyond(p + 1), 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile(xs, 90), 90)


class MetricNames(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_names_and_units_are_well_formed_and_unique(self):
        metrics = BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in BENCHMARK["workloads"]]
        for n in names:
            self.assertRegex(n, self.NAME)
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["unit"], self.UNIT)

    def test_end_to_end_metrics_match_the_harness(self):
        op = lambda s: {"name": "q", "s": s, "error": None}
        result = {
            "setup": {"ready_ms": 5000.0},
            "heap_retained_mb": 100.0,
            "passes": [
                {"cold": True, "traced": False, "cpu_s": 3.0, "ops": [op(2.0), op(1.0)]},
                {"cold": False, "traced": False, "cpu_s": 2.0, "ops": [op(1.0), op(0.5)]},
            ]}
        e2e = run.end_to_end(result, 0.2, 1000.0)
        self.assertEqual(set(e2e), {m["name"] for m in BENCHMARK["end_to_end"]})
        self.assertAlmostEqual(e2e["setup_s"][0], 4.2)
        self.assertEqual(e2e["cold_s"][0], 3.0)
        self.assertEqual(e2e["wall_s"][0], 1.5)
        self.assertEqual(e2e["op_p50_s"][0], 0.75)
        self.assertEqual(e2e["cpu_s"][0], 5.0)
        # etl_graph is held back from BENCHMARK.json, and only from it
        self.assertEqual(set(run.WORKLOADS) - {"etl_graph"},
                         {w["name"] for w in BENCHMARK["workloads"]})
        self.assertEqual(set(json.load(open(os.path.join(HERE, "..", "expected.json")))),
                         {op for ops in run.QUERY_OPS.values() for op in ops})


if __name__ == "__main__":
    unittest.main()
