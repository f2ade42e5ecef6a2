"""Self-tests for the benchmark's pure parts: the seeded tick generator,
percentiles with sample counts, per-tick latency attribution from a
synthetic progress record and file-source log, and the per-layer metrics
each workload's traced record yields.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import math
import os
import sys
import tempfile
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402
import tickgen  # noqa: E402


def read_dir(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            tickgen.stage_cycles(a, 7, 20, 30)
            tickgen.stage_cycles(b, 7, 20, 30)
            tickgen.stage_cycles(c, 8, 20, 30)
            self.assertEqual(read_dir(a), read_dir(b))
            self.assertNotEqual(read_dir(a), read_dir(c))

    def test_expected_cycles_match_staged_files(self):
        with tempfile.TemporaryDirectory() as d:
            valid, rejects, per_file = tickgen.stage_cycles(d, 3, 10, 12)
            exp, exp_rejects = tickgen.expected_cycles(3, 10, 12)
            self.assertEqual(per_file, exp)
            self.assertEqual(rejects, exp_rejects)
            self.assertEqual(len(valid) + len(rejects), 120)
            # files drain in cycle order: modification times strictly rise
            mtimes = [os.path.getmtime(os.path.join(d, n)) for n in sorted(os.listdir(d))]
            self.assertEqual(mtimes, sorted(set(mtimes)))

    def test_reject_mix_and_event_id_convention(self):
        per_file, rejects = tickgen.expected_cycles(1, 100, 100)
        n = 100 * 100
        self.assertTrue(0.005 * n < len(rejects) < 0.02 * n)
        self.assertEqual(set(rejects), set(tickgen.REJECT_KINDS))
        gen = tickgen.TickGen(1, 100)
        for c in range(100):
            lines, valid, _ = gen.cycle(c)
            for company, event_id, t, price in valid:
                self.assertEqual(event_id, t * 1_000_000)
                self.assertEqual(t, tickgen.BASE_EPOCH_S + 60 * c)
                self.assertGreater(price, 0)
            for line in lines:
                try:
                    msg = json.loads(line)
                except ValueError:
                    continue  # the malformed kind
                bad = (msg["current_price"] is None or msg["volume"] < 0
                       or math.isnan(msg["current_price"]) or msg["current_price"] <= 0)
                key = (int(msg["company_id"]), tickgen.event_id(tickgen.BASE_EPOCH_S + 60 * c))
                self.assertEqual(not bad, key in {(v[0], v[1]) for v in valid})

    def test_live_writer_publishes_whole_files_matching_the_staged_ones(self):
        with tempfile.TemporaryDirectory() as live, tempfile.TemporaryDirectory() as staged:
            manifest = os.path.join(live, ".manifest.json")
            tickgen.run_live(live, 5, 10, 200.0, 0.2, time.time(), manifest, first_cycle=2)
            tickgen.stage_cycles(staged, 5, 10, 6)
            m = json.load(open(manifest))
            os.remove(manifest)
            got = read_dir(live)
            # no hidden temp file is left behind; every file is complete
            self.assertEqual(sorted(got), [tickgen.file_name(c) for c in range(2, 6)])
            want = read_dir(staged)
            for name, body in got.items():
                self.assertEqual(body, want[name])
            self.assertEqual([f["name"] for f in m["files"]], sorted(got))
            self.assertGreaterEqual(m["lag_ms_max"], 0.0)


class PercentileTest(unittest.TestCase):

    def test_percentiles_carry_sample_counts(self):
        self.assertEqual(M.percentile([], 50), (None, 0))
        self.assertEqual(M.percentile([4.0], 90), (4.0, 1))
        xs = list(range(1, 11))
        self.assertEqual(M.percentile(xs, 50), (5.5, 10))
        self.assertAlmostEqual(M.percentile(xs, 90)[0], 9.1)
        self.assertEqual(M.percentile(reversed(xs), 0), (1, 10))
        self.assertEqual(M.percentile(xs, 100), (10, 10))

    def test_slope(self):
        self.assertAlmostEqual(M.slope([0, 1, 2, 3], [1, 3, 5, 7]), 2.0)
        self.assertIsNone(M.slope([1, 1], [2, 3]))
        self.assertIsNone(M.slope([1], [2]))


class LatencyAttributionTest(unittest.TestCase):

    def write_log(self, ckpt, batch, entries, compact=False):
        d = os.path.join(ckpt, "sources", "0")
        os.makedirs(d, exist_ok=True)
        name = f"{batch}.compact" if compact else str(batch)
        with open(os.path.join(d, name), "w") as f:
            f.write("v1\n")
            for path, b in entries:
                f.write(json.dumps({"path": "file:///x/stage/" + path, "timestamp": 0,
                                    "batchId": b}) + "\n")

    def test_latency_from_progress_and_source_log(self):
        with tempfile.TemporaryDirectory() as root:
            a, j = os.path.join(root, "ckpt_a"), os.path.join(root, "ckpt_j")
            # query a: f0 in batch 0, f1 and f2 in batch 1 (logged in a compact file)
            self.write_log(a, 1, [("f0", 0), ("f1", 1), ("f2", 1)], compact=True)
            self.write_log(a, 0, [("f0", 0)])
            # query j: f0 and f1 in batch 0; f2 never read
            self.write_log(j, 0, [("f0", 0), ("f1", 0)])
            fa, fj = M.read_source_log(a), M.read_source_log(j)
            self.assertEqual(fa, {"f0": 0, "f1": 1, "f2": 1})
            triggers = [
                {"query": "A", "batch": 0, "start_ms": 1000, "trigger_ms": 500},
                {"query": "A", "batch": 1, "start_ms": 1600, "trigger_ms": 400},
                {"query": "J", "batch": 0, "start_ms": 1100, "trigger_ms": 1200},
            ]
            ends = [M.batch_ends(triggers, "A"), M.batch_ends(triggers, "J")]
            self.assertEqual(ends, [{0: 1500, 1: 2000}, {0: 2300}])
            files = {"f0": 2, "f1": 3, "f2": 4}
            sent = {"f0": 900, "f1": 1400, "f2": 1700}
            samples, undelivered = M.attribute_latency(files, sent, [fa, fj], ends)
            # f0: later of 1500 (A0) and 2300 (J0); f1: later of 2000 (A1), 2300 (J0)
            self.assertEqual(sorted(v for v, _ in samples), [900] * 3 + [1400] * 2)
            self.assertEqual(undelivered, 4)
            self.assertEqual({b for _, b in samples}, {(1, 0)})
            p90, n = M.percentile([v for v, _ in samples], 90)
            self.assertEqual(n, 5)
            self.assertEqual(M.batches_beyond(samples, 1000), 1)


class LayerCoverageTest(unittest.TestCase):
    """Every traced run prints every per-layer metric of BENCHMARK.json,
    on either workload (host.steal_pct is added by run.py's main)."""

    TOTALS = {"jobs": 2, "stages": 3, "tasks": 9, "task_s": 1.5, "shuffle_bytes": 10,
              "spill_bytes": 0, "bytes_written": 20, "plan_ms": 4.0}

    def window(self, label, phase, pas, start, end):
        return {"label": label, "phase": phase, "pass": pas, "start_ms": start,
                "end_ms": end, "ms": end - start + 0.25, "totals": dict(self.TOTALS)}

    def common(self, windows):
        import run
        rec = {"calib": {"cpu_ms": 500.5, "mt_ms": 300.5}, "gc_ms": 12, "run_ms": 9000.5,
               "recorder": {"windows": windows, "listener_ms": 3.5}}
        return rec, run.common_metrics(rec, 0.0)[1]

    def test_tick_workload_covers_the_per_layer_metrics(self):
        import run
        rec, layer = self.common([self.window("analytics", "construct", 0, 0, 5),
                                  self.window("alerts", "construct", 0, 900, 903),
                                  self.window("live", "execute", 1, 2000, 9000)])
        allp = [{"start_ms": 2500, "progress": {"durationMs": {"queryPlanning": 7}}},
                {"start_ms": 1000, "progress": {"durationMs": {"queryPlanning": 50}}}]
        layer.update(run.tick_shared_layers(rec, allp))
        self.assertEqual(set(layer) | {"host.steal_pct"}, set(run.LAYER_UNITS))
        self.assertEqual(layer["plan.ms"], 7)  # only triggers in the live window
        self.assertAlmostEqual(layer["construct.s"], 0.0085)

    def test_suite_workload_covers_the_per_layer_metrics(self):
        import run
        wins = [self.window(q, ph, p, 10 * p, 10 * p + 5)
                for q in ("q1", "q2") for ph in ("construct", "execute") for p in (0, 1, 2)]
        rec, layer = self.common(wins)
        layer.update(run.suite_layers(rec, {"q1": 0.5, "q2": 0.25}))
        self.assertTrue(set(run.LAYER_UNITS) - {"host.steal_pct"} <= set(layer))
        self.assertEqual(layer["exec.jobs"], 4)  # per warm pass, both queries


class BenchmarkJsonTest(unittest.TestCase):

    def test_benchmark_json_names_what_run_py_prints(self):
        import run
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        b = json.load(open(os.path.join(root, "BENCHMARK.json")))
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.LAYER_UNITS)
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
