#!/usr/bin/env python3
"""Smoke test of the benchmark: runs every workload at tiny size, untraced
and traced, and asserts that each run's result line is well formed, that
every check passed, and that every metric the run owes is emitted with the
unit BENCHMARK.json declares.

Usage: python3 perfbench/smoke_test.py      (from the repository root)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def result(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"], cwd=ROOT, capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    return res, lines[:-1]


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    for w in run.WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res, text = result(w, trace)
            assert res["correct"] and res["failed"] == 0, res
            assert res["attempted"] >= 1
            declared = {m["name"]: m["unit"] for m in spec[kind]}
            assert set(res["metrics"]) == set(declared), \
                set(res["metrics"]) ^ set(declared)
            for name, m in res["metrics"].items():
                assert m["unit"] == declared[name], (name, m)
                assert isinstance(m["value"], (int, float)), (name, m)
            if trace:
                # every call of this workload shows up with a wall time
                printed = {t.split(" = ")[0] for t in text if " = " in t}
                walls = [n for n in printed if n.endswith(".wall_s")]
                assert walls and all(
                    res["metrics"][n]["value"] > 0 for n in walls), walls
                assert res["metrics"]["trace.overhead_ratio"]["value"] > 0
            else:
                for name, m in res["metrics"].items():
                    assert m["value"] > 0, (w, name, m)
                    assert f"{name} = " in "\n".join(text), name
                assert "op_fail_ratio = 0" in text
            print(f"ok {w} {kind}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} calls checked")


if __name__ == "__main__":
    main()
