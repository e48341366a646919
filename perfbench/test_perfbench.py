"""The benchmark's own tests (no JVM needed).

    python3 perfbench/test_perfbench.py
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import servecheck  # noqa: E402
import stats  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "test-tmp")


class SeededInputs(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertFalse(cmp.left_only or cmp.right_only or cmp.funny_files)
        for f in cmp.common_files:
            with open(os.path.join(a, f), "rb") as x, open(os.path.join(b, f), "rb") as y:
                self.assertEqual(x.read(), y.read(), f)
        for d in cmp.common_dirs:
            self.same_tree(os.path.join(a, d), os.path.join(b, d))

    def test_same_seed_gives_byte_identical_inputs(self):
        for workload in run.WORKLOADS:
            a, b, c = (os.path.join(self.dir, workload, x) for x in "abc")
            small = {"season_live": {**run.SIZES["season_live"], "gameweeks": 8, "events_per_match": 20},
                     "query_suite": {"sf": 0.001}}
            saved, run.SIZES = run.SIZES, small
            try:
                for d, seed in ((a, 7), (b, 7), (c, 8)):
                    os.makedirs(d)
                    run.generate(workload, seed, d)
            finally:
                run.SIZES = saved
            self.same_tree(a, b)
            with self.assertRaises(AssertionError):
                self.same_tree(a, c)

    def test_season_shape(self):
        truth, players, teams, n_events = gen.write_season(
            self.dir, 3, drops=4, gameweeks=4, events_per_match=200)
        self.assertEqual(len(teams), 20)
        self.assertEqual(len(truth["matches"]), 40)
        self.assertGreater(len(players), 600)
        self.assertEqual(len(os.listdir(os.path.join(self.dir, "drops"))), 4)
        self.assertGreater(sum(len(m["goals"]) for m in truth["matches"]), 0)
        self.assertGreater(sum(len(m["yellow"]) for m in truth["matches"]), 0)
        self.assertGreater(n_events, 40 * 150)


class Units(unittest.TestCase):
    def test_unit_from_name(self):
        self.assertEqual(run.unit_of("serve.handle_ms.predict_model"), "ms")
        self.assertEqual(run.unit_of("serve.bytes_read_per_request.match"), "bytes")
        self.assertEqual(run.unit_of("serve.jobs_per_request.profile"), "count")
        self.assertEqual(run.unit_of("suite.q1_agg_s"), "s")
        self.assertEqual(run.unit_of("throughput_per_s"), "1/s")
        self.assertEqual(run.unit_of("peak_rss_mb"), "MB")
        self.assertEqual(run.unit_of("failed_share"), "ratio")


class Percentiles(unittest.TestCase):
    def test_reports_sample_count(self):
        p = stats.percentile(range(100), 50)
        self.assertEqual((p["n"], p["beyond"]), (100, 50))
        self.assertEqual(p["value"], 49)

    def test_refuses_without_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(range(100), 90)["beyond"], 10)
        with self.assertRaises(stats.Refused):
            stats.percentile(range(99), 90)
        with self.assertRaises(stats.Refused):
            stats.percentile(range(19), 50)
        self.assertEqual(stats.percentile(range(20), 50)["beyond"], 10)
        self.assertIsNone(stats.percentile_or_none(range(49), 80)["value"])


class WrongAnswers(unittest.TestCase):
    def test_wrong_request_counts_as_failed_not_fast(self):
        reqs = [{"i": i, "kind": run.KINDS[i % 4], "latency_ms": 100.0 + i} for i in range(40)]
        reqs[0]["latency_ms"] = 1.0                       # the fastest request ...
        texts = [str(i) for i in range(40)]
        good = run.serve_window(reqs, [True] * 40, texts)
        bad = run.serve_window(reqs, [False] + [True] * 39, texts)   # ... is wrong
        self.assertLess(bad["serve_requests_per_s"], good["serve_requests_per_s"])
        self.assertGreater(bad["serve_p50_ms"]["value"], good["serve_p50_ms"]["value"])

    def test_wrong_query_counts_as_failed_not_fast(self):
        rows = {q: 10 for q in run.SUITE}
        passes = {"passes": [{q: {"s": s, "rows": 10, "cpu_s": 2 * s} for q in run.SUITE}
                             for s in (1.0, 1.1)]}
        named, thr, att, failed = run.suite_window(passes, rows)
        self.assertEqual((att, failed), (2 * len(run.SUITE), 0))
        # the first query failed its oracle check, so it has no checked row count
        wrong = {q: n for q, n in rows.items() if q != run.SUITE[0]}
        wnamed, wthr, watt, wfailed = run.suite_window(passes, wrong)
        self.assertEqual((watt, wfailed), (att, 2))
        self.assertLess(wthr, thr)
        self.assertGreater(wnamed["suite_total_s"], named["suite_total_s"])
        self.assertLess(wnamed["throughput_per_cpu_s"], named["throughput_per_cpu_s"])

    def test_timed_pass_with_other_rows_counts_as_failed(self):
        rows = {q: 10 for q in run.SUITE}
        passes = {"passes": [{q: {"s": 1.0, "rows": 10, "cpu_s": 2.0} for q in run.SUITE}
                             for _ in range(2)]}
        # fast and cheap, but stale
        passes["passes"][1][run.SUITE[-1]] = {"s": 0.01, "rows": 3, "cpu_s": 0.01}
        named, thr, att, failed = run.suite_window(passes, rows)
        self.assertEqual(failed, 1)
        good, gthr, _, _ = run.suite_window(
            {"passes": [passes["passes"][0]] * 2}, rows)
        self.assertLess(thr, gthr)
        self.assertLess(named["throughput_per_cpu_s"], good["throughput_per_cpu_s"])

    def test_response_compare(self):
        want = [{"team1": {"name": "A", "winning chance": 50.5}}]
        self.assertTrue(servecheck.same(want, [{"team1": {"name": "A", "winning chance": 50.5 + 1e-12}}]))
        self.assertFalse(servecheck.same(want, [{"team1": {"name": "A", "winning chance": 50.6}}]))
        self.assertFalse(servecheck.same([{"status": "Not Found"}], []))


if __name__ == "__main__":
    unittest.main()
