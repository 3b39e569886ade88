"""Tests of the benchmark's percentile and metric-reduction code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import statistics
import unittest

import stats


def raw(passes, setup=3.0, cores=4, untraced_warm_s=None):
    r = {"setup_s": setup, "cores": cores, "unattributed_tasks": 0,
         "probe_s": [0.1], "passes": passes}
    if untraced_warm_s is not None:
        r["untraced_warm_s"] = untraced_warm_s
    return r


def op(name, wall, ok=True, records=10, **layers):
    d = {"name": name, "wall_s": wall, "ok": ok, "records_out": records,
         "materialize.cached_partitions_left": 0,
         "materialize.checkpoint_files_left": 0}
    d.update(layers)
    return d


def pas(kind, ops):
    return {"kind": kind, "wall_s": sum(o["wall_s"] for o in ops), "ops": ops}


class PercentileTest(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25), q1)
        self.assertAlmostEqual(stats.percentile(xs, 50), q2)
        self.assertAlmostEqual(stats.percentile(xs, 75), q3)

    def test_ends_and_interpolation(self):
        xs = [10.0, 20.0]
        self.assertEqual(stats.percentile(xs, 0), 10.0)
        self.assertEqual(stats.percentile(xs, 100), 20.0)
        self.assertEqual(stats.percentile(xs, 25), 12.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailTest(unittest.TestCase):
    def test_climbs_to_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1000)]
        v, pct, n = stats.tail(xs)
        self.assertEqual((pct, n), (99.0, 1000))
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(stats.tail(xs[:200])[1], 95.0)
        self.assertEqual(stats.tail(xs[:100])[1], 90.0)
        self.assertEqual(stats.tail(xs[:40])[1], 75.0)
        self.assertEqual(stats.tail(xs[:20])[1], 50.0)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([1.0, 2.0, 3.0]), (2.0, 50.0, 3))


class SpreadTest(unittest.TestCase):
    def test_iqr_over_median(self):
        xs = [9.0, 10.0, 10.0, 10.0, 11.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


class ReductionTest(unittest.TestCase):
    def test_end_to_end_skips_the_cold_and_warm_up_passes(self):
        r = raw([pas("cold", [op("a", 5.0), op("b", 3.0)]),
                 pas("warmup", [op("a", 9.0), op("b", 9.0)]),
                 pas("warm", [op("a", 2.0), op("b", 1.0)]),
                 pas("warm", [op("a", 2.2), op("b", 1.2)])])
        m = stats.end_to_end(r)
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["cold_s"], 8.0)
        self.assertAlmostEqual(m["warm_s"], 3.2)
        self.assertAlmostEqual(m["op_p50_s"], (2.1 + 1.1) / 2)
        self.assertAlmostEqual(m["rows_per_s"], 40 / 6.4)
        self.assertEqual(m["warm_passes"], 2)
        self.assertEqual((m["attempted"], m["failed"], m["fail_frac"]), (8, 0, 0.0))

    def test_op_p50_is_the_median_operation(self):
        passes = [pas("cold", [op("a", 9.0), op("b", 9.0), op("c", 9.0)]),
                  pas("warmup", [op("a", 9.0), op("b", 9.0), op("c", 9.0)])]
        for walls in ((1.0, 2.0, 9.0), (1.2, 2.4, 8.0), (0.9, 2.2, 9.5)):
            passes.append(pas("warm", [op(n, w) for n, w in zip("abc", walls)]))
        self.assertAlmostEqual(stats.end_to_end(raw(passes))["op_p50_s"], 2.2)

    def test_failures_count_in_every_pass(self):
        r = raw([pas("cold", [op("a", 1.0, ok=False)]),
                 pas("warmup", [op("a", 1.0, ok=False)]),
                 pas("warm", [op("a", 1.0)])])
        m = stats.end_to_end(r)
        self.assertEqual((m["attempted"], m["failed"]), (3, 2))

    def test_per_layer_sums_warm_passes_and_reads_cold_compile(self):
        r = raw([pas("cold", [op("a", 4.0, **{"codegen.compile_s": 1.5}),
                              op("b", 4.0, **{"codegen.compile_s": 0.5})]),
                 pas("warmup", [op("a", 1.0, **{"executor.run_s": 9.0}),
                                op("b", 1.0, **{"executor.run_s": 9.0})]),
                 pas("warm", [op("a", 1.0, **{"executor.run_s": 2.0}),
                              op("b", 1.2, **{"executor.run_s": 2.4})])],
                untraced_warm_s=2.0)
        m = stats.per_layer(r)
        self.assertEqual(m["codegen.compile_s"], 2.0)
        self.assertAlmostEqual(m["executor.run_s"], 4.4)
        self.assertAlmostEqual(m["executor.busy_frac"], 4.4 / (2.2 * 4))
        self.assertAlmostEqual(m["trace.overhead_frac"], 2.2 / 2.0 - 1.0)


if __name__ == "__main__":
    unittest.main()
