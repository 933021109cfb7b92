#!/usr/bin/env python3
"""Tests of the benchmark's own definitions: python3 perfbench/test_run.py"""
import json
import os
import re
import unittest

import run

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


class MetricNames(unittest.TestCase):
    def setUp(self):
        self.workloads = run.load_workloads()
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_match_the_pattern_and_are_unique(self):
        names = [n for n, _ in run.END_TO_END + run.per_layer_metrics(self.workloads)]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_lists_what_run_py_reports(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         run.per_layer_metrics(self.workloads))
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(self.workloads))

    def test_every_family_metric_has_a_workload(self):
        for p in run.families(self.workloads):
            self.assertTrue(any(p in w["families"] for w in self.workloads.values()), p)


if __name__ == "__main__":
    unittest.main()
