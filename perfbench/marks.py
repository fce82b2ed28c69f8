#!/usr/bin/env python3
"""Marks the per-layer counters that repeat exactly across two traced runs.

    python3 perfbench/marks.py            # from the repository root

Runs every workload traced twice on the default seed of
perfbench/counters.json and rewrites its `repeating_counters`: per workload,
the count, byte and ratio metrics that are not zero and whose two values
are identical. A later claim that rests on a count may use only these
counters. Timings are never marked; a counter that stays zero measured no
work on that workload.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LEDGER = os.path.join(HERE, "counters.json")


def traced(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       capture_output=True, text=True, check=True)
    lines = r.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    if not result["correct"]:
        sys.exit(f"{workload}: traced run failed its checks: {report['errors']}")
    return result["metrics"]


def main():
    ledger = json.load(open(LEDGER))
    seed = ledger["default_seed"]
    spec = json.load(open("BENCHMARK.json"))
    marks = {}
    for w in (x["name"] for x in spec["workloads"]):
        a, b = (traced(w, seed, spec["run_seconds"]) for _ in range(2))
        counters = [k for k, v in a.items() if v["unit"] != "s" and (v["value"] or b[k]["value"])]
        marks[w] = sorted(k for k in counters if a[k]["value"] == b[k]["value"])
        moved = sorted(k for k in counters if a[k]["value"] != b[k]["value"])
        print(f"{w}: {len(marks[w])} counters repeat; differ: {moved}")
    ledger["repeating_counters"] = marks
    with open(LEDGER, "w") as f:
        json.dump(ledger, f, indent=2)
        f.write("\n")


if __name__ == "__main__":
    main()
