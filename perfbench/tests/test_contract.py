"""BENCHMARK.json matches what the benchmark prints."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import metrics    # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def traced_result():
    spans = [
        {"id": 1, "parent": 0, "kind": "op", "name": "q", "start_us": 0, "end_us": 4_000_000,
         "phase_planning": 0.1},
        {"id": 2, "parent": 1, "kind": "exec", "name": "q", "start_us": 1_000_000,
         "end_us": 4_000_000},
        {"id": 3, "parent": 2, "kind": "job", "name": "job 0", "start_us": 1_000_000,
         "end_us": 3_000_000},
        {"id": 4, "parent": 3, "kind": "stage", "name": "stage 0", "start_us": 1_000_000,
         "end_us": 3_000_000, "tasks": 1, "task_s": 2.0, "cpu_s": 1.5, "gc_s": 0.1,
         "shuffle_read_b": 0, "shuffle_write_b": 1048576, "spill_b": 0},
        {"id": 5, "parent": 0, "kind": "op", "name": "q", "start_us": 5_000_000,
         "end_us": 9_000_000},
    ]
    ops = [{"name": "q", "pass": 1, "traced_pass": True, "wall_s": 4.0, "build_s": 1.0,
            "plan_s": 0.1, "exec_s": 2.9, "count_s": 0.5, "module": "text", "span": 1,
            "ok": True},
           {"name": "q", "pass": 2, "traced_pass": False, "wall_s": 4.0, "span": 5,
            "ok": True}]
    passes = [{"pass": 1, "wall_s": 4.0, "probe_ms": 2.0, "pprobe_ms": 4.0,
               "cache_peak_mb": 1.0, "traced_pass": True},
              {"pass": 2, "wall_s": 4.0, "probe_ms": 2.0, "pprobe_ms": 4.0,
               "cache_peak_mb": 0.0, "traced_pass": False}]
    return {"workload": "catalog", "cpus": 4, "ops": ops, "passes": passes}, spans


class Contract(unittest.TestCase):
    def test_command_and_paths(self):
        self.assertEqual(BENCH["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(BENCH["paths"], ["perfbench"])

    def test_workloads(self):
        self.assertEqual({w["name"] for w in BENCH["workloads"]}, set(workloads.WORKLOADS))

    def test_end_to_end_names_and_units(self):
        ops = [{"name": "q", "pass": 1, "wall_s": 1.0, "rows": 3, "ok": True}]
        result = {"workload": "catalog", "ops": ops, "setup_end_ms": 2000,
                  "passes": [{"pass": 1, "wall_s": 1.0, "heap_after_gc_mb": 10.0}]}
        printed, _ = metrics.end_to_end(result, setup_start_ms=0)
        self.assertEqual({k: u for k, (_, u) in printed.items()},
                         {m["name"]: m["unit"] for m in BENCH["end_to_end"]})
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [dict(setup[0], unit="s", better="lower")])
        self.assertEqual(max(m["bound"] for m in BENCH["end_to_end"]), setup[0]["bound"])

    def test_per_layer_names_and_units(self):
        printed = metrics.per_layer(*traced_result())
        self.assertEqual({k: u for k, (_, u) in printed.items()},
                         {m["name"]: m["unit"] for m in BENCH["per_layer"]})
        self.assertEqual(printed["exec.single_task_stages"], (1, "count"))
        self.assertEqual(printed["text.task_s"], (2.0, "s"))
        self.assertEqual(printed["queries.count_s"], (0.5, "s"))
        self.assertEqual(printed["exec.cpu_util"], (0.125, "ratio"))   # 2 / (4 s x 4 cores)
        self.assertEqual(printed["exec.gap_s"], (1.0, "s"))            # exec 3 s, stage 2 s
        self.assertEqual(printed["self.exec_s"], (1.0, "s"))
        self.assertEqual(printed["trace.overhead"], (0.0, "ratio"))


if __name__ == "__main__":
    unittest.main()
