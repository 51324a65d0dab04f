#!/usr/bin/env python3
"""Compare the job, stage and task counts of Probe runs query by query.

Usage: python3 tools/probe_diff.py <logA> [<logA2> ...] <logB>

Each log is the stdout of `graft.tools.Probe <sfDir> <outDir> <reps>
<names...|all>` with reps >= 1; the last log is the change (B), every
log before it a run of the parent (A). A query's counts come from its
last `PROBE <name> repN: ... jobs=J stages=S tasks=T` line (the counts
are read after the listener bus drains, so every rep prints the same
ones).

Some queries' counts move between runs of one tree (see the verify
skill), so a single parent run can make an unchanged query look risen;
give two or more parent logs to judge the change against their range.
Per query, each count prints as the parent range `min..max`, B's value
and B's distance past that range (0 inside it): `jobs 29..30 -> 31
(+1)`. A query missing from any log reads `ONLY in` the logs that hold
it. The totals line sums each log over the queries every log holds and
prints the parent logs' totals as the same `min..max -> B` range. Exits
1 when any query's jobs in B exceed the maximum over the parent logs.
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


def ranged(key, xs, y):
    """`key min..max -> y (+d)`, d being y's distance outside [min, max]."""
    lo, hi = min(xs), max(xs)
    d = y - hi if y > hi else y - lo if y < lo else 0
    return f"{key} {lo}..{hi} -> {y} ({d:+d})"


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    paths = sys.argv[1:]
    logs = [load(p) for p in paths]
    for p, counts in zip(paths, logs):
        if not counts:
            sys.exit(f"no PROBE lines in {p}")
    parents, right = logs[:-1], logs[-1]
    rose, common = [], []
    for name in sorted(set(right).union(*parents)):
        holders = [p for p, counts in zip(paths, logs) if name in counts]
        if len(holders) < len(paths):
            print(f"{name}: ONLY in {', '.join(holders)}")
            continue
        common.append(name)
        print(f"{name}: " + ", ".join(
            ranged(key, [counts[name][i] for counts in parents], right[name][i])
            for i, key in enumerate(KEYS)))
        if right[name][0] > max(counts[name][0] for counts in parents):
            rose.append(name)

    def total(counts, i):
        return sum(counts[n][i] for n in common)

    print(f"== totals over {len(common)} queries: " + ", ".join(
        ranged(key, [total(counts, i) for counts in parents], total(right, i))
        for i, key in enumerate(KEYS)))
    if rose:
        print(f"== jobs rose for {len(rose)} queries: {', '.join(rose)}")
    sys.exit(1 if rose else 0)


if __name__ == "__main__":
    main()
