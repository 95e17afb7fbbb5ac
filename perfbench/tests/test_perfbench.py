"""Self-tests of the benchmark.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests

The first two classes need only Python; `EngineTest` builds the engine and
starts Spark (about four minutes).
"""
import contextlib
import io
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import propgraph  # noqa: E402
import run        # noqa: E402


class SeededInputsTest(unittest.TestCase):
    def test_same_seed_same_reports_and_ops(self):
        a, b = propgraph.make(7, 64), propgraph.make(7, 64)
        self.assertEqual(json.dumps(a).encode(), json.dumps(b).encode())

    def test_other_seed_other_reports_and_ops(self):
        a, b = propgraph.make(7, 64), propgraph.make(8, 64)
        self.assertNotEqual(json.dumps(a[0]), json.dumps(b[0]))
        self.assertNotEqual(json.dumps(a[1]), json.dumps(b[1]))

    def test_stream_follows_the_cycle(self):
        _, ops = propgraph.make(3, 2 * len(propgraph.CYCLE))
        self.assertEqual([o["kind"] for o in ops],
                         [k for k, _ in propgraph.CYCLE] * 2)

    def test_query_order_is_seeded(self):
        work = os.path.join(run.HERE, "_work", "test-order")
        os.makedirs(work, exist_ok=True)

        def order(seed):
            run.prepare("query_sample", seed, 10, work)
            with open(os.path.join(work, "order.json")) as f:
                return f.read()
        self.assertEqual(order(5), order(5))
        self.assertNotEqual(order(5), order(6))
        self.assertEqual(sorted(json.loads(order(5))), sorted(run.QUERY_SAMPLE))

    def test_stream_is_whole_cycles_and_grows_with_seconds(self):
        cycle = len(propgraph.CYCLE)
        for seconds in (1, 5, 10, 60):
            n = run.stream_ops(seconds)
            self.assertEqual(n % cycle, 0)
            self.assertGreaterEqual(n, seconds * run.MAX_OPS_PER_S)


class ReferenceModelTest(unittest.TestCase):
    def test_first_write_wins_and_cascade(self):
        m = propgraph.Model()
        m.ingest([json.dumps({"a.example": {"country": "VN", "dns-resolutions": [
            {"ipaddress": "10.0.0.1", "date": "2016-01-02"}]}})])
        m.ingest([json.dumps({"a.example": {"country": "US"}})])
        self.assertEqual(m.v[("domain", "a.example")], {"country": "VN"})
        m.delete({"label": "ip"})
        self.assertEqual(m.e, {})
        self.assertEqual(m.neighbors(("domain", "a.example")), [])

    def test_filters(self):
        props = {"country": "VN"}
        self.assertTrue(propgraph.matches({"props.country": {"$in": ["VN"]}}, ("ip", "k"), props))
        self.assertTrue(propgraph.matches({"props.x": {"$ne": "1"}}, ("ip", "k"), props))
        self.assertFalse(propgraph.matches({"key": {"$regex": "^j"}}, ("ip", "k"), props))

    def test_tail_has_ten_samples_beyond(self):
        xs = list(range(100))
        value, pct = run.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 90.0)
        self.assertEqual(run.tail([3.0, 1.0] * 10), (3.0, 100.0))


def _run(*argv):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        run.main(list(argv))
    return [json.loads(line) for line in out.getvalue().splitlines()]


class EngineTest(unittest.TestCase):
    def test_noop_write_keeps_final_project_and_sort(self):
        plans = _run("--workload", "selftest_plan", "--seed", "0", "--seconds", "1")[-1]
        self.assertIn("Sort", plans["noop"])
        self.assertIn("Project", plans["noop"])
        # the count() form of the same frame drops both
        self.assertNotIn("Sort", plans["count"])

    def test_traced_run_labels_every_job(self):
        detail, result = _run("--workload", "propgraph_session", "--seed", "11",
                              "--seconds", "1", "--trace", "1")
        self.assertEqual(detail["unlabelled_jobs"], 0)
        # the traced phase and the last phase replay the first one's ops
        phases = {}
        for o in detail["ops"]:
            phases.setdefault(o["phase"], []).append((o["i"], o["op"]))
        self.assertEqual(phases["untraced"], phases["traced"])
        self.assertEqual(phases["untraced"], phases["untraced_after"])
        self.assertTrue(result["correct"], detail["failed_ops"])
        manifest = run.load_manifest()
        self.assertEqual(set(result["metrics"]), {m["name"] for m in manifest["per_layer"]})
        self.assertGreater(result["metrics"]["spark.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
