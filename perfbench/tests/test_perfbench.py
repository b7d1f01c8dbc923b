"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The first class is pure and fast. ``EndToEnd`` runs the real benchmark
at tiny inputs (2,000 replay events; the 1 % batch corpus), one JVM per
case, a few minutes in all; skip it with ``PERFBENCH_FAST=1``.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402

T0 = 1_700_000_000_000.0


def progress(batch, rows, start_ms, trigger_ms, **dur):
    iso = metrics.datetime.datetime.fromtimestamp(
        start_ms / 1000.0, metrics.datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
    return {"batchId": batch, "numInputRows": rows, "timestamp": iso[:-3] + "Z",
            "durationMs": dict(dur, triggerExecution=trigger_ms)}


class Pure(unittest.TestCase):

    def test_file_to_batch_mapping_is_exact(self):
        # five files read as 2 + 0 (no-data) + 1 + 2 files
        rows = [100, 50, 70, 30, 30]
        seq = [progress(0, 150, T0, 900), progress(1, 0, T0 + 900, 300),
               progress(2, 70, T0 + 1200, 800), progress(3, 60, T0 + 2000, 700)]
        batches = metrics.data_batches(seq)
        self.assertEqual(metrics.files_to_batches(rows, batches), [0, 0, 2, 3, 3])
        emit_end = {0: T0 + 850, 2: T0 + 1990, 3: T0 + 2690}
        due = [T0 - 100, T0 - 50, T0 + 1000, T0 + 1500, T0 + 1600]
        self.assertEqual(metrics.file_latencies(due, rows, batches, emit_end),
                         [950, 900, 990, 1190, 1090])

    def test_unread_file_maps_to_none(self):
        self.assertEqual(metrics.files_to_batches([10, 10, 10], [(0, 10), (1, 10)]),
                         [0, 1, None])

    def test_phases_add_up_to_trigger_execution(self):
        p = progress(4, 10, T0, 1000, latestOffset=50, walCommit=100, getBatch=10,
                     queryPlanning=40, addBatch=700, commitOffsets=60)
        start, end, kids = metrics.phase_children(p)
        self.assertEqual(end - start, 1000)
        self.assertAlmostEqual(sum(hi - lo for _, lo, hi in kids), 1000)
        self.assertEqual(kids[-1][0], "unattributed")

    def test_self_time_subtracts_union_of_children(self):
        spans = [dict(id=1, parent=0, start_ms=0, end_ms=100),
                 dict(id=2, parent=1, start_ms=10, end_ms=40),
                 dict(id=3, parent=1, start_ms=30, end_ms=60),
                 dict(id=4, parent=1, start_ms=90, end_ms=120)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30)

    def test_replay_check_flags_the_files_of_a_wrong_window(self):
        w = metrics.WINDOW_MS
        files = [dict(lo_ms=0, hi_ms=w - 1), dict(lo_ms=w, hi_ms=2 * w + 10)]
        oracle = [[0, w, "a", 5], [w, 2 * w, "a", 7], [2 * w, 3 * w, "a", 1]]
        latest = {(0, "a"): 5, (w, "a"): 7, (2 * w, "a"): 1}
        wm = metrics.datetime.datetime.fromtimestamp(
            2 * w / 1000.0, metrics.datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.000Z")
        pq = [{"eventTime": {"watermark": wm}}]
        ok = metrics.replay_failures(files, oracle, latest, [["a", 5], ["a", 7]], pq, 0)
        self.assertEqual(ok, set())
        self.assertEqual(metrics.replay_failures(files, oracle, {**latest, (w, "a"): 8},
                                                 [["a", 5], ["a", 7]], pq, 0), {1})
        self.assertEqual(metrics.replay_failures(files, oracle, latest, [["a", 5]], pq, 0), {1})
        self.assertEqual(metrics.replay_failures(files, oracle, latest, [["a", 5], ["a", 7]],
                                                 pq, 3), {0, 1})


def bench(workload, trace=0, fault=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    if fault:
        cmd += ["--fault", fault]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(r.stderr[-3000:])
    return json.loads(r.stdout.strip().splitlines()[-1])


@unittest.skipIf(os.environ.get("PERFBENCH_FAST"), "PERFBENCH_FAST is set")
class EndToEnd(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check_metrics(self, out, key):
        names = [m["name"] for m in self.spec[key]]
        self.assertEqual(sorted(out["metrics"]), sorted(names))
        for m in self.spec[key]:
            v = out["metrics"][m["name"]]
            self.assertEqual(v["unit"], m["unit"])
            self.assertIsInstance(v["value"], (int, float))

    def test_every_workload_prints_every_metric(self):
        for w in [w["name"] for w in self.spec["workloads"]]:
            with self.subTest(workload=w):
                out = bench(w)
                self.assertEqual(out["failed"], 0)
                self.assertTrue(out["correct"])
                self.check_metrics(out, "end_to_end")
                for m in self.spec["end_to_end"]:
                    self.assertGreater(out["metrics"][m["name"]]["value"], 0)
                self.check_metrics(bench(w, trace=1), "per_layer")

    def test_planted_faults_count_as_failed(self):
        for w, fault in (("replay_drain", "drop_file"), ("replay_drain", "bad_count"),
                         ("batch_mix", "bad_count")):
            with self.subTest(workload=w, fault=fault):
                out = bench(w, fault=fault)
                self.assertGreater(out["failed"], 0)
                self.assertFalse(out["correct"])


if __name__ == "__main__":
    unittest.main()
