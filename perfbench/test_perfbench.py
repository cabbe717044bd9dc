"""Unit tests for the benchmark's own arithmetic and inputs (no Spark).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import gen
import metrics
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(list(range(100)))[:2], (90.0, 89))
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[:2], (99.0, 989))
        # 99 samples: p90 leaves 9 beyond, so p75 is the highest that qualifies
        p, v, beyond = metrics.tail_percentile(list(range(99)))
        self.assertEqual((p, v, beyond), (75.0, 74, 24))

    def test_order_does_not_matter(self):
        xs = [((i * 37) % 101) / 10 for i in range(101)]
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))

    def test_too_few_samples_fall_back_to_the_median(self):
        p, v, beyond = metrics.tail_percentile([1.0, 2.0, 3.0, 10.0])
        self.assertEqual((p, v), (50.0, 2.5))
        self.assertLess(beyond, 10)


class PerQueryLatency(unittest.TestCase):
    def test_geometric_mean_of_query_medians(self):
        read = lambda q, sec: {"kind": "read", "name": q, "error": None, "t0_us": 0,
                               "t2_us": sec * 1e6}
        samples = [read("a", 1.0), read("a", 3.0), read("b", 4.0), read("b", 4.0),
                   {**read("b", 99.0), "error": "boom"}]
        med = metrics.per_query_medians(samples)
        self.assertEqual(med, {"a": 2.0, "b": 4.0})
        self.assertAlmostEqual(metrics.gmean(med.values()), 8 ** 0.5)


class SpanSelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertAlmostEqual(metrics.self_time((0, 10), [(1, 2), (5, 7)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertAlmostEqual(metrics.self_time((0, 10), [(1, 4), (3, 6), (2, 5)]), 5)

    def test_children_sticking_out_are_clipped(self):
        self.assertAlmostEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_nested_child_inside_child(self):
        self.assertAlmostEqual(metrics.self_time((0, 10), [(2, 8), (3, 4)]), 4)


def traced_read(t0, t1, t2, phases, jobs):
    """A synthetic traced read sample; times in seconds."""
    return {
        "name": "q", "kind": "read", "pass": 1, "timed": True, "traced": True, "error": None,
        "t0_us": t0 * 1e6, "t1_us": t1 * 1e6, "t2_us": t2 * 1e6,
        "trace": {
            "qes": [{"id": 1, "func": "overwrite", "reads_tile": False, "rules": {}, "scan_bytes": 0,
                     "phases": {k: [a * 1e3, b * 1e3] for k, (a, b) in phases.items()}}],
            "jobs": [{"id": i, "group": f"perfbench:0:{g}", "start": a * 1e3, "end": b * 1e3,
                      "stages": [i]} for i, (g, a, b) in enumerate(jobs)],
            "stages": [{"id": i, "submit": a * 1e3, "end": b * 1e3, "task_ms": [(b - a) * 1e3],
                        "launch": [a * 1e3], "cpu_ns": 0, "gc_ms": 0,
                        "sh_read_bytes": 0, "sh_write_bytes": 0,
                        "spill_bytes": 0} for i, (g, a, b) in enumerate(jobs)],
        },
    }


class LayerSum(unittest.TestCase):
    PHASES = {"analysis": (1.0, 1.1), "optimization": (1.1, 1.3), "planning": (1.3, 1.4)}

    def test_layers_tile_the_op(self):
        s = traced_read(0.0, 1.0, 3.0, self.PHASES, [("write", 1.5, 2.5)])
        lay = metrics.read_layers(s, cores=4)
        self.assertAlmostEqual(lay["driver.gap_s"], 0.6)  # 1.4-1.5 and 2.5-3.0
        self.assertAlmostEqual(lay["exec.s"], 1.0)
        self.assertAlmostEqual(lay["layer_sum_err"], 0.0)

    def test_build_jobs_stay_in_build(self):
        s = traced_read(0.0, 1.0, 3.0, self.PHASES, [("build", 0.2, 0.8), ("write", 1.5, 2.5)])
        lay = metrics.read_layers(s, cores=4)
        self.assertEqual((lay["build.jobs"], lay["exec.jobs"]), (1, 1))
        self.assertAlmostEqual(lay["build.job_s"], 0.6)
        self.assertAlmostEqual(lay["layer_sum_err"], 0.0)

    def test_overlapping_layers_show_as_error(self):
        # a write job that starts during planning is counted in two layers
        s = traced_read(0.0, 1.0, 2.0, self.PHASES, [("write", 1.2, 2.0)])
        lay = metrics.read_layers(s, cores=4)
        self.assertAlmostEqual(lay["layer_sum_err"], 0.1)
        self.assertGreater(metrics.layer_sum_error(1.0, [0.6, 0.6]), 0.1)
        self.assertEqual(metrics.layer_sum_error(1.0, [0.25, 0.75]), 0.0)


    def test_per_layer_reports_every_declared_metric(self):
        read = traced_read(0.0, 1.0, 3.0, self.PHASES, [("write", 1.5, 2.5)])
        append = {**traced_read(3.0, 4.0, 5.0, {}, [("insert", 3.2, 3.5)]),
                  "kind": "append", "name": "append#1"}
        record = {"samples": [read, {**read, "traced": False}, append], "peak_rss_kb": 1024}
        m = metrics.per_layer(record, cores=4)
        self.assertEqual(sorted(m), sorted(n for n, _ in metrics.PER_LAYER))
        self.assertEqual(m["mv.maint_jobs"], 1)


class GeneratorDeterminism(unittest.TestCase):
    def test_tables_repeat(self):
        for t in ("orders", "documents", "embeddings"):
            a, b = gen.build_table(t, 0.001), gen.build_table(t, 0.001)
            self.assertEqual(gen.table_digest(a), gen.table_digest(b), t)

    def test_append_batches_follow_the_seed(self):
        mk = lambda seed: gen.append_batches(seed, 4, 10, first_key=1500, n_customers=150)
        self.assertEqual(gen.table_digest(mk(3)), gen.table_digest(mk(3)))
        self.assertNotEqual(gen.table_digest(mk(3)), gen.table_digest(mk(4)))
        b = mk(3)
        self.assertTrue(all(0 <= k < 150 for k in b["o_custkey"].to_pylist()))
        self.assertEqual(min(b["o_orderkey"].to_pylist()), 1500)

    def test_streams_follow_the_seed(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.make_stream(w, 5), run.make_stream(w, 5))
            self.assertNotEqual(run.make_stream(w, 5), run.make_stream(w, 6))
            first = run.make_stream(w, 5)[0]
            self.assertEqual(sorted(o for o in first if o.startswith("r:")),
                             sorted(f"r:{q}" for q in run.WORKLOADS[w]["queries"]))

    def test_file_digest_covers_contents(self):
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            for name, text in (("a", "x"), ("b", "y")):
                with open(os.path.join(d, name), "w") as f:
                    f.write(text)
            before = gen.digest([d])
            self.assertEqual(before, gen.digest([d]))
            with open(os.path.join(d, "b"), "w") as f:
                f.write("z")
            self.assertNotEqual(before, gen.digest([d]))


class DeclaredMetrics(unittest.TestCase):
    def test_benchmark_json_matches_what_run_prints(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], metrics.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))
        self.assertLessEqual(len(metrics.PER_LAYER), 128)
        self.assertTrue(all(len(n) <= 64 for n, _ in metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
