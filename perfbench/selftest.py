#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

They cover the statistics, the result digest, the agreement between
BENCHMARK.json and the metrics run.py prints, and (building the JVM side
first) that every op name the workloads use resolves in SparkEntry.allQ.
"""
import json
import random
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import pandas as pd  # noqa: E402

import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_forty_samples_give_p75_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 41))), (30, 75.0, 10))

    def test_order_of_samples_does_not_matter(self):
        xs = list(range(1, 101))
        random.Random(7).shuffle(xs)
        self.assertEqual(stats.tail(xs), (90, 90.0, 10))

    def test_twenty_one_samples_reach_the_median(self):
        v, pct, beyond = stats.tail(list(range(1, 22)))
        self.assertEqual((v, beyond), (11, 10))
        self.assertAlmostEqual(pct, 100 * 11 / 21)

    def test_few_samples_report_the_median(self):
        self.assertEqual(stats.tail([4.0, 1.0, 3.0, 2.0]), (2.5, 50.0, 2))
        self.assertEqual(stats.tail([5.0]), (5.0, 50.0, 0))


class DigestTest(unittest.TestCase):
    df = pd.DataFrame({"k": [1, 2, 3, 4], "s": ["a", "b", "c", None],
                       "x": [0.1, 0.2, 0.30000000000000004, float("nan")]})

    def test_row_and_column_order_do_not_matter(self):
        shuffled = self.df.sample(frac=1, random_state=3)[["x", "s", "k"]]
        self.assertEqual(checks.digest(self.df), checks.digest(shuffled))

    def test_a_changed_value_changes_the_digest(self):
        changed = self.df.copy()
        changed.loc[2, "x"] = 0.3  # one ulp away
        self.assertNotEqual(checks.digest(self.df), checks.digest(changed))
        renamed = self.df.copy()
        renamed.loc[0, "s"] = "z"
        self.assertNotEqual(checks.digest(self.df), checks.digest(renamed))

    def test_close_compare_tolerates_summation_order_only(self):
        a = pd.DataFrame({"g": ["a"], "v": [0.1 + 0.2]})
        self.assertEqual(checks.compare_close(a, pd.DataFrame({"g": ["a"], "v": [0.3]})), "OK")
        self.assertNotEqual(checks.compare_close(a, pd.DataFrame({"g": ["a"], "v": [0.31]})), "OK")


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_printed_metrics(self):
        spec = json.loads(Path("BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)


class OpNamesTest(unittest.TestCase):
    def test_every_op_name_resolves_in_the_registry(self):
        classes, _ = build.build(Path(".bench_build") / "perfbench")
        tmp = (Path(".bench_build") / "perfbench" / "tmp").resolve()
        tmp.mkdir(parents=True, exist_ok=True)
        env, _ = run.pinned_env()
        r = subprocess.run(run.java_cmd(classes, tmp, "org.apache.spark.perfbench.Main",
                                        ["--check-names"]),
                           env=env, capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
