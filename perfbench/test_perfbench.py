"""Tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def job(i, start, input_b=0, cpu=0.0, tasks=1):
    return {"id": i, "start_ms": start, "tasks": tasks, "cpu_s": cpu,
            "task_s": cpu, "gc_s": 0.0, "input_b": input_b,
            "shuffle_b": 0, "spill_b": 0}


SPANS = [
    {"layer": "sources", "start_ms": 100, "end_ms": 110, "dur_s": 0.010},
    {"layer": "Sampling", "start_ms": 114, "end_ms": 120, "dur_s": 0.006},
    {"layer": "Profile", "start_ms": 125, "end_ms": 200, "dur_s": 0.075},
    {"layer": "sources", "start_ms": 204, "end_ms": 210, "dur_s": 0.006},
]


class QuantileTest(unittest.TestCase):
    def test_quartiles_match_statistics(self):
        for xs in ([3.0, 1.0, 2.0, 5.0, 4.0], [1.0, 2.0, 4.0, 8.0],
                   [0.9, 1.1, 1.0, 1.3, 0.8, 1.2, 1.05, 0.95, 1.15, 1.0]):
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            self.assertEqual(stats.quartiles(xs), (q1, q2, q3))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))
        self.assertEqual(stats.spread([2.5]), 0.0)

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]  # exclusive quartiles 1.5, 4.5
        self.assertAlmostEqual(stats.spread(xs), (4.5 - 1.5) / 3.0)

    def test_spread_of_constant_values_is_zero(self):
        self.assertEqual(stats.spread([0.0, 0.0, 0.0]), 0.0)

    def test_median(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)


class AttributionTest(unittest.TestCase):
    def test_job_goes_to_window_it_starts_in(self):
        jobs = [job(0, 100), job(1, 110), job(2, 116), job(3, 150),
                job(4, 205)]
        self.assertEqual(stats.attribute(jobs, SPANS), {
            0: "sources", 1: "sources", 2: "Sampling", 3: "Profile",
            4: "sources"})

    def test_jobs_outside_windows_are_unattributed(self):
        jobs = [job(0, 50), job(1, 112), job(2, 300)]
        self.assertEqual(set(stats.attribute(jobs, SPANS).values()), {None})

    def test_span_order_does_not_matter(self):
        jobs = [job(0, 126), job(1, 205)]
        self.assertEqual(stats.attribute(jobs, list(reversed(SPANS))),
                         {0: "Profile", 1: "sources"})

    def test_layer_metrics_sum_windows_and_jobs(self):
        jobs = [job(0, 101, input_b=stats.MB, cpu=1.5, tasks=4),
                job(1, 150, input_b=2 * stats.MB, cpu=2.0, tasks=2),
                job(2, 207, input_b=stats.MB, cpu=0.5, tasks=4),
                job(3, 400, input_b=5 * stats.MB, cpu=9.0)]
        m = stats.layer_metrics(SPANS, jobs)
        self.assertAlmostEqual(m["sources.wall_s"], 0.016)
        self.assertEqual(m["sources.jobs"], 2)
        self.assertEqual(m["sources.tasks"], 8)
        self.assertAlmostEqual(m["sources.cpu_s"], 2.0)
        self.assertAlmostEqual(m["sources.input_mb"], 2.0)
        self.assertAlmostEqual(m["Profile.cpu_s"], 2.0)
        self.assertEqual(m["Sampling.jobs"], 0)
        self.assertEqual(m["Dedup.wall_s"], 0.0)  # never called
        self.assertEqual(len(m), len(stats.LAYERS) * len(stats.LAYER_FIELDS))
        self.assertEqual(stats.top_layer(m), "sources")

    def test_read_amp_counts_every_walk_task_once(self):
        jobs = [job(0, 101, input_b=300), job(1, 150, input_b=500),
                job(2, 400, input_b=10_000)]  # outside the walk
        self.assertAlmostEqual(stats.read_amp(SPANS, jobs, 200), 4.0)


class CompareTest(unittest.TestCase):
    def record(self, workload, wall):
        return {"workload": workload, "trace": 0, "result": {
            "correct": True, "metrics": {"wall_s": {"value": wall, "unit": "s"}}}}

    def test_ratio_against_base_median(self):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, walls in (("base", [10.0, 12.0, 11.0]), ("new", [5.5, 5.0])):
                p = os.path.join(d, name)
                with open(p, "w") as f:
                    for w in walls:
                        f.write(json.dumps(self.record("scan_full", w)) + "\n")
                paths.append(p)
            rows = compare.compare(compare.load(paths[0]), compare.load(paths[1]))
        self.assertEqual(rows, [("scan_full", "end_to_end", "wall_s", "s",
                                 11.0, 3, (12.0 - 10.0) / 11.0,
                                 5.25, 2, (5.625 - 4.875) / 5.25, 5.25 / 11.0)])


class ChecksTest(unittest.TestCase):
    def test_shingles_are_distinct_word_trigrams(self):
        self.assertEqual(check.shingles("A b a b a"),
                         {("a", "b", "a"), ("b", "a", "b")})

    def test_scan_check_flags_wrong_counts(self):
        figures = {("k", "character"): {"non_missing": 10, "distinct": 2,
                                        "min": None, "max": None,
                                        "hist": {"x": 6, "y": 4}}}
        ref = {"t.tsv": {"rows": 10, "columns": ["k"],
                         "stat": lambda c, t: figures[c, t]}}
        cfg = {"max_rows": -1, "min_cell_count": 5, "max_distinct": 1000,
               "shift_dates": False}
        summary_head = ["Column", "DataType", "TotalCount", "NonMissingCount",
                        "MissingCount", "EmptyCount", "DistinctCount"]
        sheets = {
            "Overview": [["Table", "FileName", "N_rows", "N_rows_checked", "N_Fields"],
                         ["File1", "t.tsv", "11", "10", "1"]],
            "File1_Summary": [summary_head, ["k", "character", "10", "10", "0", "0", "2"]],
            "File1_Freq": [["Column", "Value", "Count", "Percentage"],
                           ["k", "x", "6", "1.0"]],
        }
        self.assertEqual(check.check_scan(sheets, ref, cfg), [])
        sheets["File1_Freq"][1][2] = "7"
        sheets["File1_Summary"][1][6] = "3"
        probs = check.check_scan(sheets, ref, cfg)
        self.assertEqual(len(probs), 2, probs)


class DigestStoreTest(unittest.TestCase):
    def test_later_run_must_match_the_first_digest_of_its_key(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "digests.json")
            self.assertIsNone(run.check_digest(path, "scan_full/1/v", "aa"))
            self.assertIsNone(run.check_digest(path, "scan_full/1/v", "aa"))
            self.assertEqual(run.check_digest(path, "scan_full/1/v", "bb"), "aa")
            self.assertIsNone(run.check_digest(path, "scan_full/2/v", "bb"))
            with open(path) as f:
                self.assertEqual(json.load(f), {"scan_full/1/v": "aa",
                                                "scan_full/2/v": "bb"})


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_run_prints(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         list(run.PER_LAYER))
        self.assertEqual(max(m["bound"] for m in b["end_to_end"]),
                         next(m["bound"] for m in b["end_to_end"]
                              if m["name"] == "setup_s"))


if __name__ == "__main__":
    unittest.main()
