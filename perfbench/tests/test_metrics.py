"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The generator test compiles graft and the benchmark first (perfbench/build.py;
reused while no source changes).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import summary  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 99), 99)
        self.assertEqual(metrics.percentile(reversed(xs), 100), 100)
        self.assertEqual(metrics.percentile([7], 99), 7)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.highest_supported(10000), 99.9)
        self.assertEqual(metrics.highest_supported(9999), 99.0)
        self.assertEqual(metrics.highest_supported(1000), 99.0)
        self.assertEqual(metrics.highest_supported(999), 95.0)
        self.assertEqual(metrics.highest_supported(200), 95.0)
        self.assertEqual(metrics.highest_supported(20), 50.0)
        self.assertIsNone(metrics.highest_supported(19))
        for n in (20, 199, 1000, 5000, 123457):
            q = metrics.highest_supported(n)
            xs = list(range(n))
            cut = metrics.percentile(xs, q)
            self.assertGreaterEqual(sum(x > cut for x in xs), 10)

    def test_p99_unsupported_fails_the_run(self):
        raw = fake_run(rows_per_batch=9)
        correct, _, failed, _, _, notes = metrics.evaluate(raw)
        self.assertFalse(correct)
        self.assertEqual(failed, 1)
        self.assertTrue(any("p99 is not supported" in n for n in notes))


def sink_batch(episode, batch_id, held, rows):
    return {"episode": episode, "batch_id": batch_id, "held_ms": held,
            "start_ms": held - 5.0, "end_ms": held + 1.0, "rows": rows}


def fake_run(rows_per_batch=20, tally_off=False, late=0):
    """A live run with one warm-up and one timed episode: 60 batches of
    `rows_per_batch` rows, each row 100 ms old when held."""
    tally = [[10000 * b, c, b + 1] for b in range(60) for c in range(rows_per_batch)]
    sink = [sink_batch(1, b, 1000 + 100 * b,
                       [[10000 * b, c, b + 1, 900 + 100 * b] for c in range(rows_per_batch)])
            for b in range(60)]
    if tally_off:
        tally[0][2] += 1
    progress = [{"run_id": "r1", "batch_id": b, "start_ms": 950 + 100 * b, "input_rows": 100,
                 "duration_ms": {"triggerExecution": 50}} for b in range(60)]
    gen = {"calls": 10, "late_ms_max": late, "tally": tally, "produce_ns": [1e6] * 10}
    warm = {"index": 0, "timed": False, "run_id": "r0", "start_ms": 0.0, "setup_s": 0.1,
            "window": [1.0, 1.0], "cpu_s": 0.0, "heap_live_mb": 9.0,
            "gen": dict(gen, tally=[])}
    timed = {"index": 1, "timed": True, "run_id": "r1", "start_ms": 500.0, "setup_s": 0.25,
             "window": [900.0, 6900.0], "cpu_s": 3.0, "heap_live_mb": 50.0, "gen": gen}
    return {"workload": "kafka_live", "trace": False, "jvm_start_ms": 0, "session_s": 0.2,
            "peak_rss_mb": 100.0, "episodes": [warm, timed], "sink": sink,
            "progress": progress, "phases": [], "spans": [], "probe": {},
            "tasks": [{"end_ms": 1000.0 + 100 * b, "cpu_ns": 5e7} for b in range(60)]}


class LatencyStampingTest(unittest.TestCase):
    def test_samples_are_held_time_minus_max_created(self):
        sink = [sink_batch(1, 0, 5000, [[0, 1, 3, 4200], [0, 2, 1, 4900]]),
                sink_batch(1, 1, 9000, [[0, 1, 4, 8000]]),
                sink_batch(2, 0, 5000, [[0, 1, 3, 0]])]
        self.assertEqual(metrics.latency_samples(sink, 1, (4000, 6000)), [800, 100])
        self.assertEqual(metrics.latency_samples(sink, 1, (0, 10000)), [800, 100, 1000])
        self.assertEqual(metrics.latency_samples(sink, 1, (4000, 6000), since=4000), [1000, 1000])

    def test_evaluate_reports_latency_and_setup(self):
        correct, attempted, failed, e2e, _, notes = metrics.evaluate(fake_run())
        self.assertTrue(correct, notes)
        self.assertEqual(failed, 0)
        self.assertEqual(e2e["latency_p50_ms"], 100)
        self.assertEqual(e2e["latency_p99_ms"], 100)
        # 60 triggers of 100 rows, all inside the 6 s window
        self.assertAlmostEqual(e2e["records_per_s"], 1000.0)
        self.assertAlmostEqual(e2e["task_cpu_us_per_record"], 500.0)
        # one-off 0.5 s up to the timed episode, plus its own 0.25 s
        self.assertAlmostEqual(e2e["setup_s"], 0.75)
        self.assertEqual(e2e["heap_live_mb"], 50.0)
        self.assertEqual(attempted, 2 * 10 + 1200 + 60)

    def test_generator_behind_schedule_fails(self):
        correct, _, failed, _, _, notes = metrics.evaluate(
            fake_run(late=metrics.GEN_LATE_TOLERANCE_MS + 1))
        self.assertFalse(correct)
        self.assertEqual(failed, 1)
        self.assertTrue(any("behind schedule" in n for n in notes))

    def test_trigger_straddling_the_window_is_prorated(self):
        progress = [{"run_id": "r", "start_ms": 0, "input_rows": 100,
                     "duration_ms": {"triggerExecution": 100}},
                    {"run_id": "r", "start_ms": 100, "input_rows": 40,
                     "duration_ms": {"triggerExecution": 100}}]
        self.assertAlmostEqual(metrics.window_rows(progress, "r", (50, 150)), 70.0)


class TallyTest(unittest.TestCase):
    def test_last_emitted_count_is_compared(self):
        sink = [sink_batch(1, 1, 0, [[0, 1, 5, 0]]), sink_batch(1, 0, 0, [[0, 1, 9, 0]]),
                sink_batch(1, 2, 0, [[10, 1, 2, 0]])]
        emitted = metrics.last_counts(sink, 1)
        self.assertEqual(emitted, {(0, 1): 5, (10, 1): 2})
        self.assertEqual(metrics.mismatches(emitted, [[0, 1, 5], [10, 1, 2]]), [])
        self.assertEqual(metrics.mismatches(emitted, [[0, 1, 5], [10, 1, 3], [20, 4, 1]]),
                         [(10, 1), (20, 4)])

    def test_wrong_output_counts_as_failed(self):
        correct, _, failed, _, _, _ = metrics.evaluate(fake_run(tally_off=True))
        self.assertFalse(correct)
        self.assertEqual(failed, 1)

    def test_generator_tally_matches_its_records(self):
        """The generator's own tally equals the query's answer recomputed
        from the records it produced, out-of-order ones included, and each
        record is stamped with its call's due time."""
        cp = build.build()
        start, records = 1_700_000_003_000, 20_000
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.GenMain", "--mode", "dump",
             "--seed", "7", "--records", str(records), "--start", str(start)],
            check=True, capture_output=True, text=True).stdout.splitlines()
        campaigns = json.loads(out[-2].split(" ", 1)[1])
        tally = json.loads(out[-1].split(" ", 1)[1])
        recs = [json.loads(line) for line in out[:-2]]
        self.assertEqual(len(recs), records)
        expected, early = {}, 0
        for i, (part, ts, value) in enumerate(recs):
            call = i // 500
            self.assertEqual(part, call % 4)
            self.assertEqual(value["created_ms"], start + 20 * call)
            early += ts == value["created_ms"] - 5000
            if value["event_type"] == "view":
                k = (ts // 10000 * 10000, campaigns[value["ad_id"]])
                expected[k] = expected.get(k, 0) + 1
        self.assertGreater(early, records // 200)
        self.assertEqual({(w, c): n for w, c, n in tally}, expected)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [["a", "", "root", 0.0, 10.0], ["b", "a", "kid", 1.0, 4.0],
                 ["c", "a", "kid", 3.0, 5.0], ["d", "a", "kid", 8.0, 12.0]]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["root"], 10 - 4 - 2)
        self.assertAlmostEqual(st["kid"], 3 + 2 + 4)

    def test_unknown_parent_is_the_innermost_container(self):
        spans = [["run", "", "run", 0.0, 100.0], ["t", "?", "trigger", 10.0, 20.0],
                 ["s", "?", "sink", 12.0, 18.0], ["j", "s", "job", 13.0, 14.0]]
        parents = {s[0]: s[1] for s in metrics.resolve_parents(spans)}
        self.assertEqual(parents, {"run": "", "t": "run", "s": "t", "j": "s"})


class SummaryTest(unittest.TestCase):
    def write(self, d, i, value):
        p = os.path.join(d, "r%d.json" % i)
        with open(p, "w") as fh:
            fh.write("build chatter\n" + json.dumps(
                {"correct": True, "attempted": 1, "failed": 0,
                 "metrics": {"latency_p50_ms": {"value": value, "unit": "ms"}}}) + "\n")
        return p

    def test_median_quartiles_and_flags(self):
        with tempfile.TemporaryDirectory() as d:
            a = [self.write(d, i, v) for i, v in enumerate([10, 11, 12, 13, 14])]
            b = [self.write(d, 10 + i, v) for i, v in enumerate([15, 16, 17])]
            vals = summary.collect(a)["latency_p50_ms"]
            n, q1, med, q3, spread = summary.stats(vals)
            self.assertEqual((n, med), (5, 12))
            self.assertEqual((q1, q3), (10.5, 13.5))
            self.assertAlmostEqual(spread, 0.25)
            spec = {"end_to_end": [{"name": "latency_p50_ms", "unit": "ms",
                                    "better": "lower", "bound": 0.2}], "per_layer": []}
            rows = summary.summarize(summary.collect(a), summary.collect(b), spec)
            self.assertIn("spread > bound/3", rows[1])
            self.assertIn("worse than bound", rows[1])


class ContractTest(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.UNITS)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        for m in spec["per_layer"]:
            self.assertEqual(run.layer_unit(m["name"]), m["unit"], m["name"])


if __name__ == "__main__":
    unittest.main()
