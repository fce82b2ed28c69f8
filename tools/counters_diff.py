#!/usr/bin/env python3
"""Compare the repeating counters of two traced perfbench runs.

    python3 tools/counters_diff.py PARENT_OUT CHANGE_OUT [WORKLOAD]

PARENT_OUT and CHANGE_OUT are saved stdouts of
`python3 perfbench/run.py --workload W --seed S --trace 1`: the last JSON
line is the result, the JSON line before it the report naming the workload.
Prints each counter that perfbench/counters.json lists as repeating for the
workload, plus `vt.log_bytes`, whose value differs between the two runs (a
counter measured by one run only counts as a difference), then both runs'
`correct` flags. Exits 1 on any difference, 0 when every counter is equal,
2 on unreadable input. WORKLOAD defaults to the one the report line names.
Reads perfbench/ and never writes to it.
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXTRA = ("vt.log_bytes",)


def json_lines(path):
    out = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("{"):
                try:
                    out.append(json.loads(line))
                except ValueError:
                    pass
    return out


def load(path):
    """(workload or None, result) of one saved run."""
    lines = json_lines(path)
    if not lines or "metrics" not in lines[-1] or "correct" not in lines[-1]:
        print(f"counters_diff: no perfbench result line in {path}", file=sys.stderr)
        sys.exit(2)
    report = next((x for x in reversed(lines[:-1]) if "workload" in x), {})
    return report.get("workload"), lines[-1]


def value(result, name):
    m = result["metrics"].get(name)
    return None if m is None else m.get("value")


def main(argv):
    if len(argv) not in (3, 4):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    (w_parent, parent), (w_change, change) = load(argv[1]), load(argv[2])
    workload = argv[3] if len(argv) == 4 else (w_parent or w_change)
    with open(os.path.join(ROOT, "perfbench", "counters.json")) as fh:
        repeating = json.load(fh)["repeating_counters"]
    if workload not in repeating:
        print(f"counters_diff: unknown workload {workload!r} "
              f"(known: {', '.join(sorted(repeating))})", file=sys.stderr)
        return 2
    names = list(repeating[workload]) + [n for n in EXTRA if n not in repeating[workload]]
    diffs = compared = 0
    for name in names:
        a, b = value(parent, name), value(change, name)
        if a is None and b is None and name in EXTRA:
            continue  # not measured by this workload
        compared += 1
        if a != b:
            diffs += 1
            print(f"{name}: {a} -> {b}")
    print(f"{workload}: {compared} counters, {diffs} differ; "
          f"correct {parent['correct']} -> {change['correct']}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
