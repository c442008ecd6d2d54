"""The benchmark's own tests: generator determinism, the reported
arithmetic, the oracles, and BENCHMARK.json against run.py.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import itertools
import json
import os
import statistics
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from pb import gen, loads, stats  # noqa: E402


OUT = os.path.join(BENCH, "out")


def _tmp():
    os.makedirs(OUT, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=OUT)


def _files(d):
    return sorted(os.path.relpath(os.path.join(a, f), d)
                  for a, _, fs in os.walk(d) for f in fs)


class GeneratorDeterminism(unittest.TestCase):
    def _generate(self, workload, seed, d):
        run.generate(workload, seed, d)
        return _files(d)

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w), _tmp() as a, _tmp() as b:
                fa, fb = self._generate(w, 7, a), self._generate(w, 7, b)
                self.assertEqual(fa, fb)
                self.assertTrue(fa)
                _, mismatch, errors = filecmp.cmpfiles(a, b, fa, shallow=False)
                self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w), _tmp() as a, _tmp() as b:
                fa, fb = self._generate(w, 7, a), self._generate(w, 8, b)
                _, mismatch, _ = filecmp.cmpfiles(a, b, fa, shallow=False)
                self.assertTrue(mismatch)

    def test_request_sequence_is_seeded(self):
        def first(seed, n=500):
            return list(itertools.islice(gen.ExecData(seed).sequence(), n))
        self.assertEqual(first(3), first(3))
        self.assertNotEqual(first(3), first(4))

    def test_programs_are_built_on_demand_in_sequence_order(self):
        data = gen.ExecData(3)
        load = loads.ExecLoad(data)
        self.assertEqual(load._entries, [])
        seq = list(itertools.islice(data.sequence(), 40))
        self.assertEqual(load.program(39), data.program(*seq[39]))
        self.assertEqual(len(load._entries), 40)
        self.assertEqual(load.entry(7)[:2], seq[7])


class Arithmetic(unittest.TestCase):
    def test_percentile_interpolates_like_numpy(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.5]
        for q in (0, 10, 50, 90, 99, 100):
            self.assertAlmostEqual(stats.percentile(xs, q), float(np.percentile(xs, q)))
        self.assertEqual(stats.median([3.0]), 3.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_failed_share(self):
        self.assertEqual(stats.failed_share(40, 0), 0.0)
        self.assertEqual(stats.failed_share(40, 10), 0.25)
        self.assertEqual(stats.failed_share(3, 3), 1.0)
        for attempted, failed in ((0, 0), (5, 6), (5, -1)):
            with self.assertRaises(ValueError):
                stats.failed_share(attempted, failed)

    def test_quartile_spread_matches_statistics(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / q2)

    def test_self_time_of_a_span_tree(self):
        # root [0,100] has children a [10,40] and b [30,70] (overlapping)
        # and c [90,120] (sticks out); a has child a1 [15,25]
        spans = [
            {"id": 1, "parent": None, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 70},
            {"id": 4, "parent": 1, "start": 90, "end": 120},
            {"id": 5, "parent": 2, "start": 15, "end": 25},
        ]
        own = stats.self_times(spans)
        # root: 100 - |[10,70] u [90,100]| = 100 - 70
        self.assertEqual(own, {1: 30, 2: 20, 3: 40, 4: 30, 5: 10})


class Oracles(unittest.TestCase):
    def test_dedup_oracle_finds_planted_copies(self):
        docs = [(0, " ".join("w%04d" % i for i in range(40))),
                (1, " ".join("w%04d" % i for i in range(100, 140))),
                (2, " ".join("w%04d" % i for i in range(40)).replace("w0020", "w0999"))]
        cand, pairs, clusters = gen.expected_dedup(docs)
        self.assertGreaterEqual(cand, pairs)
        self.assertEqual(pairs, 1)
        self.assertEqual(clusters, {0: 0, 2: 0})

    def test_exec_answers_compare_on_keys_and_values(self):
        want = {("h001", 5): 1.0, ("h002", 5): 2.0}
        self.assertTrue(gen.same_answer({("h001", 5): 1.0, ("h002", 5): 2.0}, want))
        self.assertFalse(gen.same_answer({("h001", 5): 1.0}, want))
        self.assertFalse(gen.same_answer({("h001", 5): 1.0, ("h002", 5): 2.5}, want))
        body = json.dumps([[{"c": "x", "l": {"host": "h001"}, "t": 5, "v": 1.0}]])
        self.assertEqual(gen.parse_exec(body, "fetch_raw"), {("h001", 5): 1.0})
        self.assertEqual(gen.parse_exec("[42]", "size"), {("size", 0): 42.0})

    def test_ingest_values_are_a_function_of_seed_series_tick(self):
        self.assertEqual(gen.ingest_value(5, 3, 7), gen.ingest_value(5, 3, 7))
        lines = gen.ingest_lines(5, 7, 250_000).splitlines()
        self.assertEqual(len(lines), gen.INGEST_SERIES)
        tick = gen.INGEST_EPOCH + 7 * 250_000
        self.assertEqual(lines[3], "%d// ingest.m{g=g00,s=s003} %.1f"
                         % (tick, gen.ingest_value(5, 3, 7)))

    def test_reduce_answers_are_keyed_by_dc(self):
        body = json.dumps([[{"c": "x", "l": {"dc": "dc1"}, "t": 5, "v": 2.0}]])
        self.assertEqual(gen.parse_exec(body, "reduce_dc"), {("dc1", 5): 2.0})

    def test_reduce_and_apply_oracles(self):
        data = gen.ExecData(2)
        j = gen.EXEC_TICKS - 1
        for panel, pn in enumerate(data.panels):
            if pn["kind"] == "reduce_dc":
                got = data.expected(panel, j)
                # the per-dc sums add up to the per-host bucket sums
                self.assertEqual(len(got), gen.EXEC_DCS * 12)
                self.assertAlmostEqual(sum(got.values()),
                                       data.window(pn, j).sum())
            elif pn["kind"] == "apply_sub":
                got = data.expected(panel, j)
                other = (pn["cls"] + 1) % len(gen.EXEC_CLASSES)
                self.assertEqual(len(got), gen.EXEC_HOSTS * 12)
                self.assertAlmostEqual(sum(got.values()),
                                       data.window(pn, j).sum()
                                       - data.window(pn, j, other).sum())

    def test_excluded_templates_are_never_requested(self):
        data = gen.ExecData(2)
        self.assertEqual([data.panels[p]["kind"] for p in data.excluded],
                         list(gen.EXCLUDED))
        sent = {p for p, _ in itertools.islice(data.sequence(), 2000)}
        self.assertEqual(sent, set(range(loads.ExecLoad.block)))
        self.assertFalse(sent & set(data.excluded))

    def test_repeat_share_counts_earlier_identical_programs(self):
        load = loads.ExecLoad(gen.ExecData(1))
        load._entries = [(0, 0, p) for p in ["a", "b", "a", "a", "c"]]
        ops = [loads.Op(i, 0, 1, 200, b"") for i in range(5)]
        self.assertEqual(load.repeat_share(ops), 2 / 5)

    def test_write_ops_from_fetch_visibility(self):
        with _tmp() as d:
            load = loads.IngestLoad(5, d, 0.25, 2, visible_limit_s=1.0)
        load.timed_writes = [(2, 10.0), (3, 10.25), (4, 10.5)]
        # tick 2 is first seen after 0.5 s, tick 3 after 1.75 s, tick 4 never
        lat, bad = load.visibility({2: 10.5, 3: 12.0})
        self.assertEqual(lat, [500.0])
        self.assertEqual([b[:2] for b in bad], [("write-3", "write"),
                                                ("write-4", "write")])

    def test_fetch_check_records_first_sight_of_each_tick(self):
        with _tmp() as d:
            load = loads.IngestLoad(5, d, 0.25, 2, visible_limit_s=1.0)
        load.written, load.t0, load.k0 = 4, 0.0, 2

        def body(ks):
            return "".join(gen.ingest_lines(5, k, load.period_us)
                           .splitlines(True)[3] for k in ks).encode()
        ops = [loads.Op(0, 0.0, 1.0, 200, body([0, 1, 2])),
               loads.Op(1, 0.5, 2.0, 200, body([0, 1, 2, 3])),
               loads.Op(2, 0.6, 2.5, 200, b"1// ingest.m{g=g00,s=s003} 1.0"),
               loads.Op(3, 0.7, 3.0, 500, b"boom")]
        bad, ok_ms, lags, seen = load.check(ops)
        self.assertEqual(seen, {0: 1.0, 1: 1.0, 2: 1.0, 3: 2.0})
        self.assertEqual([round(x, 6) for x in ok_ms], [1000.0, 1500.0])
        self.assertEqual([b[0] for b in bad], ["fetch-2", "fetch-3"])

    def test_only_ops_that_succeeded_count_for_latency(self):
        ops = [loads.Op(i, 0, 0.001 * (i + 1), 200, b"") for i in range(4)]
        bad = [("req-1", "reduce_dc", "HTTP 500")]
        self.assertEqual([round(x, 6) for x in
                          run.ok_ms(ops, bad, lambda o: "req-%d" % o.key)],
                         [1.0, 3.0, 4.0])


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_metrics_match_the_runner(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))
        self.assertIn("setup_s", run.END_TO_END)

    def test_bench_session_confs_are_parsed(self):
        confs = run.bench_confs(4)
        self.assertIsNotNone(confs)
        self.assertEqual(confs.get("spark.sql.shuffle.partitions"), "4")
        self.assertEqual(confs.get("spark.sql.adaptive.enabled"), "true")
        self.assertEqual(confs.get("spark.master"), "local[4]")


if __name__ == "__main__":
    unittest.main()
