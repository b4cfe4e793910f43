#!/usr/bin/env python3
"""Self-test of the graft benchmark.

    python3 perfbench/tests/test_selftest.py

Runs perfbench/run.py on its `selftest` workload (perfbench/workloads.json):
two real entries (q3_top_revenue, q6_distinct_parts) plus two injected ones
at sf 0.001. `selftest_throw` throws, `selftest_leak` leaves one persisted
RDD behind per execution.
Both an untraced and a traced run must:
  - print every metric of BENCHMARK.json with its name and unit;
  - count every execution of the throwing entry in failed_ratio;
  - count every RDD left persisted after set-up in leaked_rdds.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        cls.end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        cls.per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        cls.runs = {t: cls.run_bench(t) for t in (0, 1)}

    @classmethod
    def run_bench(cls, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "selftest",
             "--seed", "3", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            timeout=600)
        if r.returncode != 0:
            raise AssertionError(f"run.py exited {r.returncode}:\n{r.stderr[-3000:]}")
        lines = r.stdout.strip().splitlines()
        return lines[:-1], json.loads(lines[-1])

    def printed(self, lines, kind):
        out = {}
        for line in lines:
            m = re.match(rf"{kind} (\S+) = (\S+) (\S+)", line)
            if m:
                out[m.group(1)] = (float(m.group(2)), m.group(3))
        return out

    def test_every_metric_printed_with_unit(self):
        for trace, spec in ((0, self.end_to_end), (1, self.per_layer)):
            lines, result = self.runs[trace]
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            self.assertEqual(got, spec)
            for m in result["metrics"].values():
                self.assertIsInstance(m["value"], (int, float))
            printed = self.printed(lines, "metric")
            if not trace:
                for name, unit in self.end_to_end.items():
                    self.assertEqual(printed[name][1], unit)
            self.assertEqual(printed["failed_ratio"][1], "ratio")
            self.assertEqual(printed["leaked_rdds"][1], "count")
        layers = self.printed(self.runs[1][0], "layer")
        self.assertEqual({n: u for n, (_, u) in layers.items()}, self.per_layer)

    def test_throwing_entry_counts_as_failed(self):
        for trace in (0, 1):
            lines, result = self.runs[trace]
            n_passes = result["attempted"] // 4 - 1
            counted = [re.match(r"failed (\S+): (\d+) timed \+ (\d+) check", line)
                       for line in lines if line.startswith("failed ")]
            # every timed execution of the throwing entry, plus its check
            self.assertEqual([(m.group(1), int(m.group(2)), int(m.group(3)))
                              for m in counted], [("selftest_throw", n_passes, 1)])
            self.assertFalse(result["correct"])
            self.assertEqual(result["failed"], n_passes + 1)
            ratio = self.printed(lines, "metric")["failed_ratio"][0]
            self.assertAlmostEqual(ratio, result["failed"] / result["attempted"], places=5)

    def test_persisted_rdd_counts_as_leaked(self):
        for trace in (0, 1):
            lines, result = self.runs[trace]
            n_passes = result["attempted"] // 4 - 1
            leaked = self.printed(lines, "metric")["leaked_rdds"][0]
            # one RDD per execution after the leak baseline: the settling
            # pass, each timed pass and the check pass
            self.assertEqual(leaked, n_passes + 2)
        self.assertEqual(self.runs[1][1]["metrics"]["caches.leaked_rdds"]["value"],
                         self.printed(self.runs[1][0], "metric")["leaked_rdds"][0])


if __name__ == "__main__":
    unittest.main()
