"""Self-tests of the benchmark's Python side (no JVM, no data needed).

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen    # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("semantic_mix", "pipeline_heavy", "artifact_ingest_serve")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def load(path):
    with open(path) as f:
        return json.load(f)


def fake_run(traced):
    """A minimal harness record: two ops, the second a repeat of the first."""
    ops = [{"seq": s, "idx": 0, "phase": "timed", "wall_s": w, "cpu_s": w}
           for s, w in ((0, 0.5), (1, 0.3))]
    run = {"ops": ops, "setup_rounds_s": [4.0, 2.0, 2.5], "jit_ms_setup": 900,
           "fixtures": {"warm_at_start": True, "built_setup": 0, "built_timed": 0},
           "jvm": {"cpu_s": 1.0, "gc_ms": 3, "jit_ms": 10, "heap_peak_mb": 300.0}}
    if traced:
        run.update(
            spans=[[0, "op", 0.0, 500.0], [0, "compile", 0.0, 100.0], [0, "exec", 100.0, 500.0],
                   [1, "op", 600.0, 900.0], [1, "compile", 600.0, 650.0], [1, "exec", 650.0, 900.0]],
            counters=[[0, "wire.json_bytes", 1000.0]],
            jobs=[[0, 120, 400, 2, 8, 300, 250.0, 5, 1024, 10, 10, 0]],
            qes=[[110, 130, 130, 140, 1, 9, 2, 4096]])
    return run


class SeedTest(unittest.TestCase):
    def test_same_seed_same_ops_and_sql(self):
        for w in WORKLOADS:
            self.assertEqual(gen.gen_workload(w, 7), gen.gen_workload(w, 7), w)
        sql = [gen.tile_sql(t) for t in gen.gen_workload("semantic_mix", 7)[0]]
        self.assertEqual(sql, [gen.tile_sql(t) for t in gen.gen_workload("semantic_mix", 7)[0]])

    def test_other_seed_other_ops_and_sql(self):
        for w in WORKLOADS:
            self.assertNotEqual(gen.gen_workload(w, 7)[0], gen.gen_workload(w, 8)[0], w)
        a = [gen.tile_sql(t) for t in gen.gen_workload("semantic_mix", 7)[0]]
        b = [gen.tile_sql(t) for t in gen.gen_workload("semantic_mix", 8)[0]]
        self.assertNotEqual(a, b)

    def test_pipeline_draw_covers_every_family(self):
        for seed in range(20):
            entries = {o["entry"] for o in gen.gen_workload("pipeline_heavy", seed)[0]}
            for fam, members in gen.FAMILIES.items():
                self.assertTrue(entries & set(members), (seed, fam))

    def test_artifact_stream_never_runs_dry(self):
        ops = gen.gen_workload("artifact_ingest_serve", 3)[0]
        days = [o["day"] for o in ops if o["kind"] == "mc_append"]
        self.assertEqual(len(days), len(set(days)))
        self.assertTrue(all(d <= gen._day(gen.LAST_DAY) for d in days))
        self.assertEqual(sum(o["kind"] == "takedown" for o in ops), 1)


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(stats.tail_percentile(list(range(200)))[0], 95)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99)
        self.assertEqual(stats.tail_percentile(list(range(40)))[0], 75)
        self.assertIsNone(stats.tail_percentile(list(range(39))))

    def test_at_least_ten_samples_beyond(self):
        for n in range(40, 400, 7):
            xs = list(range(n))
            p, v = stats.tail_percentile(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), stats.TAIL_SAMPLES, n)

    def test_batch_wall_takes_median_per_op(self):
        recs = [{"idx": 0, "wall_s": 1.0}, {"idx": 1, "wall_s": 2.0},
                {"idx": 0, "wall_s": 3.0}, {"idx": 0, "wall_s": 2.0}]
        self.assertEqual(stats.batch_wall(recs, 2), 4.0)


class NameTest(unittest.TestCase):
    def setUp(self):
        self.bench = load(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"))
        self.workloads = load(os.path.join(BENCH, "workloads.json"))

    def declared(self, group):
        return {m["name"]: m["unit"] for m in self.bench[group]}

    def test_printed_metrics_are_declared(self):
        e2e = stats.end_to_end(fake_run(False), core=1)
        self.assertEqual({k: stats.unit(k) for k in e2e}, self.declared("end_to_end"))
        layer = stats.per_layer(fake_run(True), core=1, untraced_wall=0.3)
        self.assertEqual({k: stats.unit(k) for k in layer}, self.declared("per_layer"))
        for k in list(e2e) + list(layer):
            self.assertRegex(k, NAME)

    def test_printed_extras_are_declared(self):
        run = fake_run(False)
        run["ops"] = [dict(r, seq=i, idx=i % 5, wall_s=0.1 + i / 100) for i, r in
                      enumerate(run["ops"] * 30)]
        run["artifact"] = {}
        ops = gen.gen_workload("artifact_ingest_serve", 1)[0]
        extras = stats.workload_extras(run, ops, failed=0, attempted=60)
        declared = self.workloads["artifact_ingest_serve"]["extras"]
        for k in extras:
            self.assertRegex(k, NAME)
            self.assertTrue(k in declared or re.sub(r"_p\d+_", "_pNN_", k) in declared, k)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(WORKLOADS))
        for w in WORKLOADS:
            rec = self.workloads[w]
            self.assertEqual((rec["loop"], rec["clients"]), ("closed", 1))
            self.assertNotEqual(rec["default_seed"], rec["held_out_seed"])

    def test_layer_map_lists_every_per_layer_metric(self):
        mapped = [m for layer in self.workloads["layers"].values() for m in layer["metrics"]]
        self.assertEqual(sorted(mapped), sorted(self.declared("per_layer")))


class CheckTest(unittest.TestCase):
    def test_dates_read_as_midnight_and_floats_round_trip(self):
        got = ([("d", "datetime"), ("x", "float")], [("2024-01-02", "0.1")])
        want = ([("x", "float"), ("d", "datetime")], [(0.1, datetime.datetime(2024, 1, 2))])
        self.assertIsNone(check.compare(*got, *want))
        bad = ([("x", "float"), ("d", "datetime")], [(0.1000001, datetime.datetime(2024, 1, 2))])
        self.assertIsNotNone(check.compare(*got, *bad))

    def test_dtype_class_mismatch_fails(self):
        self.assertIsNotNone(check.compare([("n", "int")], [(1,)], [("n", "float")], [(1.0,)]))

    def test_union_of_intervals(self):
        self.assertEqual(stats.union_ms([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(stats.union_ms([(0, 20)], 5, 10), 5)


if __name__ == "__main__":
    unittest.main()
