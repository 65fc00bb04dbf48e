"""Checks of the benchmark's own rules: aggregation, host noise, the refusal
to compare across configurations, and output-fold checking.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def artifact(**cfg):
    base = {"bench": "perfbench", "workload": "dedup_joins", "trace": 0, "cpus": 4,
            "driver_memory": "3g", "spark_version": "4.1.2", "java_version": "17.0.20",
            "data_digest": "d1", "run_seconds": 12, "seed": 1, "source_digest": "s1"}
    base.update(cfg)
    return {"config": base, "end_to_end": {"warm_s": 10.0}}


class Aggregation(unittest.TestCase):
    def test_percentile_interpolates(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 75), 3.25)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_quartiles_follow_statistics_quantiles(self):
        xs = [10.2, 9.8, 10.0, 11.5, 9.9, 10.1, 10.4, 9.7, 10.3, 10.6]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, med, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)

    def test_warm_metrics_use_untraced_warm_passes_only(self):
        step = lambda p, kind, name, wall, traced=False: {
            "pass": p, "kind": kind, "traced": traced, "step": name, "wall_s": wall,
            "cpu_s": 2 * wall}
        result = {"peak_rss_kb": 2048, "steps": [
            step(0, "cold", "a", 5.0), step(0, "cold", "b", 3.0),
            step(1, "settle", "a", 4.0), step(1, "settle", "b", 3.0),
            step(2, "warm", "a", 9.0, traced=True), step(2, "warm", "b", 9.0, traced=True),
            step(3, "warm", "a", 2.5), step(3, "warm", "b", 1.2),
            step(4, "warm", "a", 7.0), step(4, "warm", "b", 1.1),
            step(5, "warm", "a", 2.0), step(5, "warm", "b", 1.0)]}
        m, samples = run.end_to_end(result, 8.5)
        self.assertEqual(m["setup_s"], 8.5)
        self.assertEqual(m["cold_s"], 8.0)
        # per-step medians over untraced warm passes 3, 4, 5: a 2.5, b 1.1
        self.assertAlmostEqual(m["warm_s"], 3.6)
        self.assertAlmostEqual(m["warm_cpu_s"], 7.2)
        self.assertAlmostEqual(m["query_p50_s"], 1.8)
        self.assertEqual(m["peak_rss_mb"], 2.0)
        self.assertEqual(samples, {"warm_passes": 3, "steps": 2})


class Contract(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.UNITS)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         list(run.PER_LAYER.items()))
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


class HostNoise(unittest.TestCase):
    BEFORE = "cpu  100 0 50 800 10 0 5 35 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n"
    AFTER = "cpu  200 0 70 1500 10 0 5 135 40 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n"

    def test_steal_between_two_samples(self):
        before = stats.parse_proc_stat(self.BEFORE)
        after = stats.parse_proc_stat(self.AFTER)
        # deltas: user 100, system 20, idle 700, steal 100 -> 100 / 920
        self.assertAlmostEqual(stats.steal_pct(before, after), 100.0 * 100 / 920)

    def test_no_elapsed_time_reads_zero(self):
        s = stats.parse_proc_stat(self.BEFORE)
        self.assertEqual(stats.steal_pct(s, s), 0.0)


class Refusal(unittest.TestCase):
    def test_same_configuration_compares(self):
        cfg = stats.check_comparable([artifact(seed=1), artifact(seed=2, source_digest="s2")])
        self.assertEqual(cfg["cpus"], 4)

    def test_other_core_count_is_refused(self):
        with self.assertRaises(stats.ConfigMismatch):
            stats.check_comparable([artifact(), artifact(cpus=32)])

    def test_traced_and_untraced_are_refused(self):
        with self.assertRaises(stats.ConfigMismatch):
            stats.check_comparable([artifact(), artifact(trace=1)])

    def test_bench_json_without_configuration_is_refused(self):
        bench_line = {"metric": "total", "value": 31.4, "unit": "sec", "queries": {"q1": 0.2}}
        with self.assertRaises(stats.ConfigMismatch):
            stats.check_comparable([artifact(), bench_line])

    def test_compare_cli_refuses_mixed_configurations(self):
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for i, a in enumerate([artifact(), artifact(driver_memory="8g")]):
                paths.append(os.path.join(d, f"{i}.json"))
                with open(paths[-1], "w") as fh:
                    json.dump(a, fh)
            sys.argv = ["compare.py", "--base", paths[0], "--new", paths[1]]
            self.assertEqual(compare.main(), 2)


class Folds(unittest.TestCase):
    EXPECTED = {"q:q_setsim_join": {"fold": "-42", "rows": 25}}

    def step(self, fold, rows=25, error=None):
        return {"pass": 1, "step": "q:q_setsim_join", "error": error,
                "folds": [] if error else [{"label": "q:q_setsim_join", "fold": fold, "rows": rows}]}

    def test_matching_fold_passes(self):
        self.assertEqual(stats.fold_failures([self.step("-42")], self.EXPECTED), [])

    def test_fold_mismatch_is_a_failure(self):
        bad = stats.fold_failures([self.step("7")], self.EXPECTED)
        self.assertEqual(len(bad), 1)
        self.assertIn("expected -42", bad[0][2])

    def test_row_count_mismatch_is_a_failure(self):
        self.assertEqual(len(stats.fold_failures([self.step("-42", rows=24)], self.EXPECTED)), 1)

    def test_error_and_unknown_step_are_failures(self):
        self.assertEqual(len(stats.fold_failures([self.step(None, error="boom")], self.EXPECTED)), 1)
        self.assertEqual(len(stats.fold_failures([self.step("-42")], {})), 1)


class Attribution(unittest.TestCase):
    def test_parts_add_up_to_wall_time(self):
        phase = lambda busy, run_s, scan, shuffle: {
            "jobs": 2, "stages": 2, "tasks": 8, "busy_s": busy, "skew": 1.5,
            "counters": {"run_s": run_s, "shuffle_write_s": shuffle, "fetch_wait_s": 0.0},
            "sql": {"scan_s": scan}}
        result = {"steps": [{
            "pass": 2, "step": "q:x", "traced": True, "build_s": 0.5, "execute_s": 2.0,
            "sink_s": 0.0, "wall_s": 2.5, "folds": [],
            "layers": {"phases": {"build": phase(0.1, 0.1, 0.0, 0.0),
                                  "execute": phase(1.5, 4.0, 1.0, 1.0)}}}]}
        [r] = run.attribution(result)
        self.assertEqual(r["build_jobs"], 2)
        self.assertAlmostEqual(r["driver_gap_s"], 0.5)
        self.assertAlmostEqual(r["scan_s"], 1.5 * 1.0 / 4.0)
        self.assertAlmostEqual(r["exchange_s"], 1.5 * 1.0 / 4.0)
        parts = r["build_s"] + r["scan_s"] + r["exchange_s"] + r["operator_s"] + r["sink_s"] + r["driver_gap_s"]
        self.assertAlmostEqual(parts, r["wall_s"])


if __name__ == "__main__":
    unittest.main()
