#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001:

    python3 perfbench/smoke_test.py

Runs the test-only `smoke_fail` workload (one passing row, one row that
always throws, and `perfbench_wrong_digest`, an alias of q04_derive whose
digest in expected/sf0.001.json is deliberately wrong) with
--trace 0 and --trace 1, and asserts that
  * every end-to-end and per-layer metric of BENCHMARK.json prints as a
    `<workload>.<name> <value> <unit>` line with its unit and appears in
    the final JSON line;
  * failed_frac is above 0, `correct` is false, and both failing rows
    are named.
Exits 0 when all assertions hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD = "smoke_fail"


def run(trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, f"run.py exited {r.returncode}:\n{r.stderr[-3000:]}"
    return r.stdout.strip().splitlines()


def check_lines(lines, specs):
    final = json.loads(lines[-1])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}, final
    printed = {}
    for line in lines[:-1]:
        name, value, unit = (line.split(" ", 2) + ["", ""])[:3]
        printed[name] = (value, unit)
    for spec in specs:
        key = f"{WORKLOAD}.{spec['name']}"
        assert key in printed, f"{key} not printed"
        float(printed[key][0])
        assert printed[key][1] == spec["unit"], f"{key}: unit {printed[key][1]} != {spec['unit']}"
        m = final["metrics"][spec["name"]]
        assert m["unit"] == spec["unit"] and isinstance(m["value"], (int, float)), m
    assert set(final["metrics"]) == {s["name"] for s in specs}, sorted(final["metrics"])
    return final, printed


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    lines = run(0)
    final, printed = check_lines(lines, bench["end_to_end"])
    assert not final["correct"] and final["failed"] > 0, final
    assert float(printed[f"{WORKLOAD}.failed_frac"][0]) > 0, printed
    named = {line.split()[1] for line in lines if line.startswith(f"{WORKLOAD}.failed_query ")}
    assert named == {"perfbench_fail", "perfbench_wrong_digest"}, named

    lines = run(1)
    check_lines(lines, bench["per_layer"])
    print("smoke test OK")


if __name__ == "__main__":
    main()
