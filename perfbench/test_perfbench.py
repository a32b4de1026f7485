"""Tests of the benchmark's own code (not of graft).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class GenTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.generate(a, 7, sf=0.002)
            gen.generate(b, 7, sf=0.002)
            gen.generate(c, 8, sf=0.002)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 10)
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertIn("documents.parquet", differ)
            self.assertIn("lineitem.parquet", differ)

    def test_row_counts_scale_and_duplicates_are_planted(self):
        t = gen.tables(3, sf=0.01)
        self.assertEqual(t["lineitem"].num_rows, 60_000)
        self.assertEqual(t["documents"].num_rows, 500)
        texts = t["documents"].column("text").to_pylist()
        self.assertLess(len(set(texts)), len(texts))
        self.assertTrue(any(x.endswith(" dup") for x in texts))
        self.assertEqual(t["documents"].column("n_chars").to_pylist(), [len(x) for x in texts])


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile([4.0], 90), 4.0)
        self.assertAlmostEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.5, 0.5, 0.5]), 0.5)
        with self.assertRaises(ValueError):
            stats.geomean([])

    def test_ratio(self):
        self.assertEqual(stats.ratio(3, 4), 0.75)
        self.assertEqual(stats.ratio(3, 0), 0.0)


def _call(query, module, call_s, action_s, **layers):
    return dict(query=query, module=module, call_s=call_s, action_s=action_s,
                failed=False, **layers)


class MetricsTest(unittest.TestCase):
    def test_end_to_end_uses_untraced_passes_only(self):
        h = {"passes": [
            {"traced": False, "pass_s": 2.0,
             "calls": [_call("q_a", "TextOps", 0.5, 0.5), _call("q_b", "TextOps", 1.0, 0.0)]},
            {"traced": True, "pass_s": 9.0,
             "calls": [_call("q_a", "TextOps", 9.0, 0.0)]},
        ]}
        m = run.end_to_end(h, setup_s=3.0)
        self.assertEqual(m["pass_s"], (2.0, 1))
        self.assertAlmostEqual(m["call_geomean_s"][0], 1.0)
        self.assertEqual(m["call_geomean_s"][1], 2)

    def test_layers_sum_calls_and_batches(self):
        layers = dict(jobs=2, stages=3, tasks=10, useful_tasks=4, stream_tasks=6,
                      sched_delay_ms=100, run_ms=2000, cpu_ns=10**9, gc_ms=50,
                      shuffle_read_bytes=10**6, shuffle_write_bytes=2 * 10**6,
                      fetch_wait_ms=0, spill_bytes=0, input_bytes=3 * 10**6,
                      output_bytes=10**6, files_written=2, driver_gap_ms=300)
        p = {"traced": True, "pass_s": 3.0, "tmp_mb_end": 1.0, "cache_blocks_end": 4,
             "cache_mb_end": 2.0,
             "calls": [_call("q_a", "MediaDedupStream", 1.0, 0.5, **layers),
                       _call("q_b", "Publish", 0.25, 0.25, **layers)],
             "batches": [{"input_rows": 100, "duration_ms": {"triggerExecution": 200, "addBatch": 150}},
                         {"input_rows": 300, "duration_ms": {"triggerExecution": 400, "addBatch": 350}}]}
        m = run.pass_layers(p)
        self.assertEqual(m["mod.MediaDedupStream.call_s"], 1.0)
        self.assertEqual(m["mod.Publish.action_s"], 0.25)
        self.assertEqual(m["mod.TextOps.call_s"], 0)
        self.assertEqual(m["sched.tasks"], 20)
        self.assertAlmostEqual(m["sched.useful_task_ratio"], 0.4)
        self.assertAlmostEqual(m["driver.gap_s"], 0.6)
        self.assertEqual(m["stream.batches"], 2)
        self.assertEqual(m["stream.tasks_per_batch"], 6)
        self.assertEqual(m["stream.add_batch_ms"], 500)
        self.assertAlmostEqual(m["stream.batch_p50_ms"], 300)
        self.assertAlmostEqual(m["stream.rows_per_s"], 400 / 0.6)

        plain = dict(p, traced=False, pass_s=2.0)
        h = {"passes": [plain, p], "untagged_tasks": 0}
        out = run.per_layer(h)
        self.assertAlmostEqual(out["trace.overhead"][0], 0.5)
        self.assertEqual(out["trace.untagged_tasks"], (0, 1))


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_the_workloads(self):
        import json
        from workloads import MODULES, WORKLOADS
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(WORKLOADS))
        mods = {m["name"].split(".")[1] for m in spec["per_layer"] if m["name"].startswith("mod.")}
        self.assertEqual(mods, set(MODULES))


if __name__ == "__main__":
    unittest.main()
