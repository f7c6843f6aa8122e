#!/usr/bin/env python3
"""Record the per-layer baseline of the current sources.

Usage (from the repository root):
  python3 perfbench/baseline.py

For each workload and each of seeds 1-3 it makes one untraced and one
traced run, in that order, and writes perfbench/baseline/<workload>.json with:
  - the run conditions of every run,
  - the end-to-end metrics of the untraced runs and their medians,
  - the per-layer metrics of the traced runs and their medians,
  - the tracing overhead: median traced pass_s minus median untraced pass_s,
  - the per-query layer table and span self times of the first traced run.
"""
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = range(1, 4)


def run(workload, seed, trace, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {r.returncode}")
    path = re.search(r"record=(\S+)", r.stdout).group(1)
    with open(path) as f:
        return json.load(f)


def medians(dicts):
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    for w in [x["name"] for x in spec["workloads"]]:
        plain, traced = [], []
        for s in SEEDS:
            plain.append(run(w, s, 0, spec["run_seconds"]))
            traced.append(run(w, s, 1, spec["run_seconds"]))
        e2e = medians([r["end_to_end"] for r in plain])
        layers = medians([r["per_layer"] for r in traced])
        out = {
            "workload": w,
            "seeds": list(SEEDS),
            "conditions": [r["conditions"] for r in plain + traced],
            "end_to_end": {"median": e2e, "runs": [r["end_to_end"] for r in plain]},
            "per_layer": {"median": layers, "runs": [r["per_layer"] for r in traced]},
            "tracing_overhead_s": layers["trace.pass_s"] - e2e["pass_s"],
            "tracing_overhead_share": layers["trace.pass_s"] / e2e["pass_s"] - 1,
            "per_query": traced[0]["per_query"],
            "self_ms_per_run": traced[0]["self_ms_per_run"],
        }
        with open(os.path.join(HERE, "baseline", f"{w}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"{w}: pass_s {e2e['pass_s']:.3f} s, traced {layers['trace.pass_s']:.3f} s, "
              f"overhead {out['tracing_overhead_share']:+.1%}")


if __name__ == "__main__":
    main()
