#!/usr/bin/env python3
"""Compare the optimized logical plans of two `graft.Explain` dumps.

Each dump holds, per catalog entry, a `== <name>` header, then a
`-- optimized logical plan` section and a `-- physical plan` section.
Only the logical sections are compared, entry by entry, after masking
what differs between two runs of the same code: expression ids,
plan ids, RDD ids, scratch paths, timestamps, lambda class names,
query-stage and codegen-stage numbers. An entry that failed to plan
is compared on its `ERROR:` line.

Usage: python3 tools/plan_diff.py A B
Prints each entry whose plan differs (or that only one dump has) and
exits nonzero if any does.
"""
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\[\d+\] at "), "[N] at "),
    (re.compile(r"/tmp/graft_[^\s,\]]*\d+"), "/tmp/graft_N"),
    (re.compile(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?"), "TS"),
    (re.compile(r"\$Lambda\$[^\s,)\]]*@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"QueryStage \d+"), "QueryStage N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
]
HEADER = re.compile(r"^== (\S+)$")


def logical_plans(path):
    """name -> normalized optimized logical plan text (or ERROR line)."""
    plans, name, section, buf = {}, None, None, []

    def close():
        if name is not None:
            plans[name] = "\n".join(buf)

    for line in open(path, encoding="utf-8"):
        line = line.rstrip("\n")
        m = HEADER.match(line)
        if m:
            close()
            name, section, buf = m.group(1), None, []
        elif line == "-- optimized logical plan":
            section = "logical"
        elif line == "-- physical plan":
            section = "physical"
        elif name is not None and (section == "logical" or line.startswith("ERROR:")):
            for pat, rep in NORMALIZE:
                line = pat.sub(rep, line)
            buf.append(line)
    close()
    return plans


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = logical_plans(sys.argv[1]), logical_plans(sys.argv[2])
    differ = sorted(n for n in a.keys() | b.keys() if a.get(n) != b.get(n))
    for n in differ:
        what = "only in A" if n not in b else "only in B" if n not in a else "differs"
        print(f"{n}: {what}")
    print(f"{len(differ)} of {len(a.keys() | b.keys())} entries differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
