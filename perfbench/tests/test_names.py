import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


def op(i, traced):
    job = {"id": 1, "span": 3, "desc": "target: wide_docs", "start_ms": 1000, "end_ms": 1500,
           "tasks": 4, "failed_tasks": 0, "run_ms": 1200, "cpu_ns": 9e8, "duration_ms": 1300,
           "deser_ms": 10, "result_ser_ms": 5, "getting_result_ms": 0, "gc_ms": 3,
           "shuffle_write_bytes": 10, "shuffle_read_bytes": 10, "fetch_wait_ms": 0,
           "spill_disk_bytes": 0, "spill_mem_bytes": 0, "peak_mem_bytes": 64,
           "input_bytes": 100, "input_records": 10, "output_bytes": 50}
    o = {"i": i, "traced": traced, "wall_s": 1.0 + i / 10, "gc_ms": 5, "written_bytes": 50,
         "input_bytes": 100, "digest": {"r": "1:2"}, "digest_ok": True, "dir": "x"}
    if traced:
        o.update(jobs=[job], stages=1, stage_retries=0,
                 executions=[{"ok": True, "analysis_ms": 1, "optimization_ms": 2,
                              "planning_ms": 3}],
                 spans=[{"id": 1, "parent": -1, "name": "op", "start_ns": 0, "end_ns": 10**9},
                        {"id": 2, "parent": 1, "name": "sources.Tables.events",
                         "start_ns": 0, "end_ns": 10**7},
                        {"id": 3, "parent": 1, "name": "operators.Targets.run",
                         "start_ns": 10**7, "end_ns": 10**9}])
    return o


UNTRACED = {"ops": [op(0, False), op(1, False)], "error": None, "peak_rss_mb": 900.0,
            "host": {"default_parallelism": 4}}
TRACED = {"ops": [op(0, True)], "error": None, "peak_rss_mb": 950.0,
          "host": {"default_parallelism": 4}}


class NamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def printed(self, traced):
        raws = [UNTRACED, TRACED] if traced else [UNTRACED]
        line = metrics.summarize(raws, [1.0, 2.0, 3.0], [])
        self.assertEqual(set(line) - {"provenance"}, {"correct", "attempted", "failed", "metrics"})
        return {k: v["unit"] for k, v in line["metrics"].items()}

    def test_end_to_end_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(self.printed(False), want)

    def test_per_layer_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(self.printed(True), want)

    def test_workload_names(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], run.WORKLOADS)

    def test_command_and_paths(self):
        self.assertEqual(self.bench["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(self.bench["paths"], ["perfbench"])

    def test_end_to_end_values_are_positive(self):
        line = metrics.summarize([UNTRACED], [1.0, 2.0, 3.0], [])
        for name, m in line["metrics"].items():
            self.assertGreater(m["value"], 0, name)


if __name__ == "__main__":
    unittest.main()
