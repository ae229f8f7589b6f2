"""Self-check of the benchmark harness: seeded inputs are reproducible and
the reported statistics are computed as documented.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen_idr  # noqa: E402
import gen_ops  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def same_tree(a, b):
    """True when both trees hold the same files with byte-identical content."""
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratedInputs(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.BUILD, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=run.BUILD)
        self.addCleanup(self.tmp.cleanup)

    def out(self, name):
        return os.path.join(self.tmp.name, name)

    def test_idr_inputs_repeat_per_seed(self):
        for name, seed in [("a", 7), ("b", 7), ("c", 8)]:
            arms = gen_idr.generate(2000, seed, self.out(name))
            self.assertTrue(all(v > 0 for v in arms.values()), arms)
        self.assertTrue(same_tree(self.out("a"), self.out("b")))
        self.assertFalse(same_tree(self.out("a"), self.out("c")))

    def test_ops_inputs_repeat_per_seed(self):
        for name, seed in [("a", 1), ("b", 1), ("c", 2)]:
            gen_ops.generate(0.001, seed, self.out(name))
        self.assertTrue(same_tree(self.out("a"), self.out("b")))
        self.assertFalse(same_tree(self.out("a"), self.out("c")))


class Statistics(unittest.TestCase):
    def test_percentiles_on_a_hand_sample(self):
        sample = [0.7, 0.1, 1.0, 0.4, 0.2, 0.9, 0.3, 0.6, 0.8, 0.5]
        # linear interpolation between ranks: position (n - 1) * p / 100
        self.assertAlmostEqual(stats.percentile(sample, 50), 0.55)
        self.assertAlmostEqual(stats.percentile(sample, 90), 0.91)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)
        self.assertEqual(stats.percentile([2.0, 1.0, 3.0], 50), 2.0)
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 75), 4.0)

    def test_failed_share(self):
        self.assertEqual(stats.failed_share(10, 0), 0.0)
        self.assertEqual(stats.failed_share(8, 2), 0.25)
        self.assertEqual(stats.failed_share(4, 9), 1.0)
        with self.assertRaises(ValueError):
            stats.failed_share(0, 0)

    def test_end_to_end_uses_only_successful_warm_ops(self):
        rec = {
            "setup_s": 5.0, "peak_heap_mb": 100.0, "wh_bytes": 300, "input_bytes": 100,
            "walls": [{"pass": 0, "seconds": 9.0}, {"pass": 1, "seconds": 4.0},
                      {"pass": 2, "seconds": 5.0}],
            # [name, pass, seconds, ok]
            "ops": [["a", 0, 8.0, True]]
                   + [["a", 1, s / 10, True] for s in range(1, 11)]
                   + [["b", 2, 50.0, False]],
        }
        m, n = run.end_to_end(rec, attempted=12, failed=1)
        self.assertEqual(n, 10)
        self.assertAlmostEqual(m["op_p50_s"][0], 0.55)
        self.assertAlmostEqual(m["op_p90_s"][0], 0.91)
        self.assertEqual(m["cold_wall_s"][0], 9.0)
        self.assertEqual(m["warm_wall_s"][0], 4.5)
        self.assertEqual(m["wh_bytes_per_input_byte"][0], 3.0)
        self.assertAlmostEqual(m["ok_share"][0], 11 / 12)

    def test_trace_overhead_is_traced_minus_untraced_warm_wall(self):
        def rec(walls):
            return {"walls": [{"pass": p, "seconds": s} for p, s in enumerate(walls)],
                    "ops": [["a", p, s, True] for p, s in enumerate(walls)],
                    "layers": [{"cold": p == 0, "metrics": {"sched.jobs": 3.0}}
                               for p in range(len(walls))]}
        m = run.per_layer(rec([9.0, 6.0, 7.0]), rec([8.0, 5.0, 5.5]), {"a": "graph"},
                          attempted=3, failed=0)
        self.assertAlmostEqual(m["trace.overhead_s"][0], 6.5 - 5.25)
        self.assertEqual(m["family.graph.wall_s"][0], 6.5)
        self.assertEqual(m["sched.jobs"][0], 3.0)
        self.assertEqual(m["failed_share"][0], 0.0)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]), (4.5 - 1.5) / 3.0)


if __name__ == "__main__":
    unittest.main()
