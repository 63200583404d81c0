"""Tests for tools/ab_pairs.py over fixture reports.

Run: python3 -m unittest discover -s tools/tests
"""
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ab_pairs  # noqa: E402

BOUNDS = [{"name": "ops_per_s", "better": "higher", "bound": 0.25},
          {"name": "latency_p50_ms", "better": "lower", "bound": 0.25}]


class Fixture:
    """A ledger of fixture runs: each run a report.json and a raw.json."""

    def __init__(self, root):
        self.root = root
        self.ledger = os.path.join(root, "ledger.jsonl")
        self.n = 0

    def run(self, side, pair, ops_per_s, p50, ops=(), exit_code=0):
        self.n += 1
        run_dir = os.path.join(self.root, f"run{self.n}")
        os.makedirs(run_dir)
        report = os.path.join(run_dir, "report.json")
        with open(report, "w") as f:
            json.dump({"run_dir": run_dir, "metrics": {
                "ops_per_s": {"value": ops_per_s},
                "latency_p50_ms": {"value": p50}}}, f)
        with open(os.path.join(run_dir, "raw.json"), "w") as f:
            json.dump({"ops": [{"name": n, "pass": p, "status": "ok",
                                "latency_ms": ms} for n, p, ms in ops]}, f)
        with open(self.ledger, "a") as f:
            f.write(json.dumps({"side": side, "seed": 200 + pair, "pair": pair,
                                "workload": "w", "exit": exit_code,
                                "report": report}) + "\n")


class AbPairs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.fx = Fixture(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def rows(self):
        pairs = ab_pairs.pairs_of(ab_pairs.load(self.fx.ledger), "w")
        return pairs, {r["metric"]: r for r in ab_pairs.metric_rows(pairs, BOUNDS)}

    def test_medians_wins_and_parent_spread(self):
        for i, (par, chg) in enumerate([(1.0, 1.5), (2.0, 1.9), (3.0, 3.5),
                                        (4.0, 4.0), (5.0, 6.0)]):
            self.fx.run("parent", i, par, 100.0 * par)
            self.fx.run("change", i, chg, 100.0 * par)
        _, rows = self.rows()
        ops = rows["ops_per_s"]
        self.assertEqual((ops["parent"], ops["change"]), (3.0, 3.5))
        # higher is better: pairs 0, 2 and 4 won; pair 3 is a tie
        self.assertEqual((ops["wins"], ops["pairs"]), (3, 5))
        # parent quartiles 2 and 4 around a median of 3
        self.assertAlmostEqual(ops["parent_iqr"], 2.0 / 3.0)
        self.assertEqual(ops["bound"], 0.25)
        # equal latencies win no pair
        self.assertEqual(rows["latency_p50_ms"]["wins"], 0)

    def test_lower_is_better_and_incomplete_pairs_are_left_out(self):
        self.fx.run("parent", 0, 1.0, 200.0)
        self.fx.run("change", 0, 1.0, 150.0)
        self.fx.run("parent", 1, 1.0, 200.0)
        self.fx.run("change", 1, 1.0, 100.0, exit_code=3)
        pairs, rows = self.rows()
        self.assertEqual(list(pairs), [0])
        self.assertEqual(rows["latency_p50_ms"]["wins"], 1)

    def test_op_medians_keep_pass_one_apart(self):
        ops = [("q126", 1, 4000.0), ("q126", 2, 2000.0), ("q126", 3, 1600.0)]
        self.fx.run("parent", 0, 1.0, 1.0, ops)
        self.fx.run("change", 0, 1.0, 1.0, [(n, p, ms / 2) for n, p, ms in ops])
        pairs, _ = self.rows()
        q = ab_pairs.op_rows(pairs)["q126"]
        self.assertEqual(q[("parent", "cold")], [4000.0])
        self.assertEqual(q[("parent", "warm")], [2000.0, 1600.0])
        self.assertEqual(q[("change", "cold")], [2000.0])
        out = io.StringIO()
        with redirect_stdout(out):
            print(ab_pairs.render("w", pairs, BOUNDS))
        self.assertIn("w: 1 complete pairs", out.getvalue())
        self.assertIn("q126", out.getvalue())

    def test_seed_ranges(self):
        self.assertEqual(ab_pairs.seeds_of("201-203,7"), [201, 202, 203, 7])


if __name__ == "__main__":
    unittest.main()
