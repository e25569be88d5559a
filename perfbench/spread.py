#!/usr/bin/env python3
"""Spread of repeated benchmark runs.

    python3 perfbench/spread.py <run output file>...

Each file holds the stdout of one `run.py` run; the workload is read
from its `[env] start` line and the metrics from its last line. For
each workload and metric it prints the values, their median and the
quartile spread (q3 - q1) / median, with the quartiles of
`statistics.quantiles(values, n=4)`, as a markdown table.
"""
import json
import re
import statistics
import sys


def main(paths):
    runs = {}
    for p in paths:
        with open(p) as f:
            lines = f.read().splitlines()
        m = next((re.search(r"workload=(\S+) seed=(\d+)", ln) for ln in lines
                  if ln.startswith("[env] start")), None)
        if not m or not lines or not lines[-1].startswith("{"):
            print(f"skipping {p}: no result", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        runs.setdefault(m.group(1), []).append((int(m.group(2)), res))
    print("| workload | metric | n | median | q1 | q3 | spread | values |")
    print("|---|---|---|---|---|---|---|---|")
    for wl, rs in sorted(runs.items()):
        rs.sort()
        for name in rs[0][1]["metrics"]:
            vals = [r["metrics"][name]["value"] for _, r in rs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            shown = ", ".join(f"{v:.4g}" for v in vals)
            print(f"| {wl} | {name} | {len(vals)} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                  f"| {spread:.3f} | {shown} |")
        bad = sum(1 for _, r in rs if not r["correct"])
        print(f"| {wl} | seeds | {len(rs)} | {', '.join(str(s) for s, _ in rs)} "
              f"| | | incorrect: {bad} | |")


if __name__ == "__main__":
    main(sys.argv[1:])
