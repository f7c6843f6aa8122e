#!/usr/bin/env python3
"""Smoke check of the benchmark itself, on the sf0.001 fixtures.

Usage (from the repository root): python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json once untraced and once traced, with a
one-second window, and checks that each run exits 0, reports correct
output, and prints every metric BENCHMARK.json names, with its unit, both
in the human-readable lines and in the final JSON object.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = {0: spec["end_to_end"], 1: spec["per_layer"]}
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--scale", "sf0.001"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            tag = f"{w['name']} trace={trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: correct={result['correct']} failed={result['failed']}")
            for m in wanted[trace]:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} missing or not in {m['unit']}")
                if not any(l.startswith(f"{m['name']} = ") and l.split()[3] == m["unit"]
                           for l in lines[:-1]):
                    problems.append(f"{tag}: {m['name']} not printed with its unit")
            print(f"ok {tag}" if not any(p.startswith(tag) for p in problems) else f"FAIL {tag}")
    for p in problems:
        print(p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
