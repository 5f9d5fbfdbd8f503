"""Tests of the benchmark itself: metric names and units, the metric and
check arithmetic, the generators, and a smoke run of every workload.

    python3 -m unittest discover -s perfbench/tests -v

The smoke runs build the engine on first use and take a few minutes.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_osm  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sample(name, seconds, phases, hash_=None, result=None, error=None, tracker=None):
    return {"name": name, "seconds": seconds, "phases": phases,
            "catalystMs": tracker or {}, "hash": hash_,
            "result": result, "error": error}


def fake_report():
    counters = {
        "construct": {"jobs": 3, "tasks": 5, "input_bytes": 1_000_000},
        "exec": {"jobs": 2, "stages": 3, "single_task_stages": 1, "tasks": 8,
                 "task_run_ms": 4000, "task_cpu_ns": 3_000_000_000, "gc_ms": 100,
                 "shuffle_read_bytes": 2_000_000, "shuffle_write_bytes": 2_000_000,
                 "input_bytes": 3_000_000, "output_bytes": 0},
    }
    samples = [sample("q_a", 2.0, {"construct": 1.5, "catalyst": 0.1, "exec": 0.4}, "1:aa",
                      tracker={"analysis": 5, "optimization": 10, "planning": 3}),
               sample("q_b", 1.0, {"construct": 0.2, "catalyst": 0.1, "exec": 0.7}, "2:bb",
                      tracker={"analysis": 1, "optimization": 2, "planning": 1})]

    def p(traced, pass_s):
        return {"traced": traced, "pass_s": pass_s, "samples": samples,
                "cached_bytes": 5_000_000, "persisted_rdds": 2,
                "counters": counters if traced else {}}

    return {"setup_s": 2.0,
            "passes": [p(False, 3.0), p(True, 3.3), p(False, 3.2), p(True, 3.3)]}


class MetricSpecTest(unittest.TestCase):
    def test_benchmark_json_names_every_metric_with_its_unit(self):
        spec = load_spec()
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         ["iterative", "report", "osm_wrangle"])

    def test_names_units_and_bounds_are_well_formed(self):
        spec = load_spec()
        metrics_all = spec["end_to_end"] + spec["per_layer"]
        names = [m["name"] for m in metrics_all] + [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in metrics_all:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))
        for w in spec["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)


class MetricArithmeticTest(unittest.TestCase):
    def test_percentile_is_nearest_rank(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 0.9), 4)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 0.5), 2)
        self.assertEqual(metrics.percentile(list(range(1, 21)), 0.9), 18)

    def test_end_to_end_uses_untraced_passes_only(self):
        e, latency = metrics.end_to_end(fake_report())
        self.assertEqual(set(e), set(metrics.END_TO_END))
        self.assertEqual(e["setup_s"], 2.0)
        self.assertEqual(e["pass_s"], 3.1)  # the traced passes are left out
        self.assertEqual(e["query_p50_s"], 1.5)
        self.assertEqual(e["query_p90_s"], 2.0)
        self.assertEqual(latency, {"samples": 4, "beyond_p90": 0})

    def test_per_layer_splits_phases_and_counters(self):
        r = metrics.per_layer(fake_report(), cores=4, xml_bytes=0)
        self.assertEqual(set(r), set(metrics.PER_LAYER))
        self.assertAlmostEqual(r["construct.s"], 1.7)
        self.assertEqual(r["construct.jobs"], 3)
        self.assertEqual(r["exec.jobs"], 2)
        self.assertAlmostEqual(r["exec.core_util"], 100 * 4.0 / (1.1 * 4))
        self.assertEqual(r["catalyst.optimization_ms"], 12)
        self.assertAlmostEqual(r["scan.input_mb"], 4.0)
        # the first pass is left out of the comparison
        self.assertAlmostEqual(r["trace.overhead_pct"], 100 * (3.3 / 3.2 - 1))

    def test_check_counts_mismatches_and_errors(self):
        rep = fake_report()
        rep["passes"][0]["samples"] = [sample("q_a", 1, {}, "1:aa"),
                                       sample("q_b", 1, {}, "2:XX"),
                                       sample("q_c", 1, {}, error="boom")]
        attempted, failures = metrics.check({"passes": rep["passes"][:1]},
                                            {"q_a": "1:aa", "q_b": "2:bb"})
        self.assertEqual(attempted, 3)
        self.assertEqual([f.split(":")[1] for f in failures], ["q_b", "q_c"])


class GeneratorTest(unittest.TestCase):
    def test_osm_is_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            outs = []
            for sub, seed in (("a", 3), ("b", 3), ("c", 4)):
                gen_osm.generate(os.path.join(d, sub), seed, 400)
                with open(os.path.join(d, sub, "expected.json")) as f:
                    outs.append(f.read())
            self.assertEqual(outs[0], outs[1])
            self.assertNotEqual(outs[0], outs[2])
            e = json.loads(outs[0])
            self.assertEqual(e["census"]["node"], e["process_map"]["nodes"])
            self.assertTrue(e["audit_street_types"])
            # abbreviations the cleaning maps never survive it
            self.assertFalse({"St", "St.", "Ave", "Rd"} & {t for t, _, _ in e["audit_street_types"]})

    def test_tables_are_deterministic_and_typed(self):
        a, b = gen_tables.tables(0.001, 42), gen_tables.tables(0.001, 42)
        self.assertEqual(sorted(a), sorted(["region", "nation", "supplier", "customer", "part",
                                            "orders", "lineitem", "events", "documents",
                                            "embeddings"]))
        for n in a:
            self.assertTrue(a[n].equals(b[n]), n)
        self.assertEqual(str(a["lineitem"].schema.field("l_shipdate").type), "timestamp[us]")
        self.assertEqual(str(a["nation"].schema.field("n_nationkey").type), "int32")
        self.assertEqual(a["lineitem"].num_rows, 6000)


class SmokeTest(unittest.TestCase):
    """One short pass of each workload on the smallest inputs, checked."""

    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "11", "--seconds", "0", "--trace", str(trace), "--smoke"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_every_workload(self):
        for w in ("iterative", "report", "osm_wrangle"):
            with self.subTest(workload=w):
                res = self.run_bench(w, 0)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"], res)
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                                 metrics.END_TO_END)
                self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_traced_run_reports_every_layer(self):
        res = self.run_bench("report", 1)
        self.assertTrue(res["correct"], res)
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, metrics.PER_LAYER)
        self.assertGreater(res["metrics"]["exec.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
