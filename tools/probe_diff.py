#!/usr/bin/env python3
"""Compare the job, stage and task counts of two Probe runs query by query.

Usage: python3 tools/probe_diff.py <logA> <logB>

Each log is the stdout of `graft.tools.Probe <sfDir> <outDir> <reps>
<names...|all>` with reps >= 1. A query's counts come from its last
`PROBE <name> repN: ... jobs=J stages=S tasks=T` line (the counts are read
after the listener bus drains, so every rep prints the same ones). Prints
one line per query with the B - A delta of each count (`ONLY in <log>`
when one side lacks it), then the totals over the queries both logs hold,
and exits 1 when any query launched more jobs in B than in A.
"""
import re
import sys

_PROBE = re.compile(
    r"^PROBE (\S+) rep\d+: .* jobs=(\d+) stages=(\d+) tasks=(\d+)\s*$")
KEYS = ("jobs", "stages", "tasks")


def load(path):
    counts = {}
    with open(path) as f:
        for line in f:
            m = _PROBE.match(line)
            if m:
                counts[m.group(1)] = tuple(int(g) for g in m.groups()[1:])
    return counts


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    left, right = load(a), load(b)
    if not left or not right:
        sys.exit(f"no PROBE lines in {a if not left else b}")
    totals = [[0, 0] for _ in KEYS]
    rose = []
    for name in sorted(left.keys() | right.keys()):
        if name not in left or name not in right:
            print(f"{name}: ONLY in {a if name in left else b}")
            continue
        parts = []
        for i, key in enumerate(KEYS):
            x, y = left[name][i], right[name][i]
            totals[i][0] += x
            totals[i][1] += y
            parts.append(f"{key} {x} -> {y} ({y - x:+d})")
        if right[name][0] > left[name][0]:
            rose.append(name)
        print(f"{name}: " + ", ".join(parts))
    both = len(left.keys() & right.keys())
    print(f"== totals over {both} queries: " + ", ".join(
        f"{key} {x} -> {y} ({y - x:+d})" for key, (x, y) in zip(KEYS, totals)))
    if rose:
        print(f"== jobs rose for {len(rose)} queries: {', '.join(rose)}")
    sys.exit(1 if rose else 0)


if __name__ == "__main__":
    main()
