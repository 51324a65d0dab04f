#!/usr/bin/env python3
"""Compare the job, stage and task counts of Probe runs query by query.

Usage: python3 tools/probe_diff.py <logA> [<logA2> ...] <logB>

Each log is the stdout of `graft.tools.Probe <sfDir> <outDir> <reps>
<names...|all>` with reps >= 1; the last log is the change (B), every
log before it a run of the parent (A). A query's counts come from its
last `PROBE <name> repN: <secs> s (<rows> rows) jobs=J stages=S
tasks=T` line (the counts are read after the listener bus drains, so
every rep of a deterministic query prints the same ones). Probe counts
the stages that ran; a stage skipped because its shuffle output already
existed is not counted.

A few queries' counts still move between runs of one tree (see the
verify skill: eager seams under AQE), so a single parent run can make
an unchanged query look risen; give two or more parent logs to judge
the change against their range. Per query, each count prints as the
parent range `min..max`, B's value and B's distance past that range (0
inside it): `jobs 29..30 -> 31 (+1)`. A query missing from any log
reads `ONLY in` the logs that hold it. The totals line sums each log
over the queries every log holds and prints the parent logs' totals as
the same `min..max -> B` range. Exits 1 when any query's jobs in B
exceed the maximum over the parent logs.

Below each query's count line, a `wall` line gives the rep wall times:
the median and quartiles of every parent rep pooled over the parent
logs, then B's median and `outside` when B's median falls outside the
parent quartiles (`wall s 1.210 [1.150, 1.302] (6 reps) -> 1.254 (3
reps)`); with fewer than three parent reps nothing is judged.
Quartiles use the inclusive method, so they never leave the range of
the parent reps. A closing line names the queries whose B
median is outside; that line does not change the exit status. For the
within-IQR check on a plan change, run both sides interleaved at the
same scale factor with several reps.
"""
import re
import statistics
import sys

_PROBE = re.compile(
    r"^PROBE (\S+) rep\d+: ([\d.]+) s .* jobs=(\d+) stages=(\d+) tasks=(\d+)\s*$")
KEYS = ("jobs", "stages", "tasks")


def load(path):
    """(query -> last rep's counts, query -> every rep's wall seconds)."""
    counts, walls = {}, {}
    with open(path) as f:
        for line in f:
            m = _PROBE.match(line)
            if m:
                counts[m.group(1)] = tuple(int(g) for g in m.groups()[2:])
                walls.setdefault(m.group(1), []).append(float(m.group(2)))
    return counts, walls


def wall(parent, change):
    """`wall s med [q1, q3] (n reps) -> med (n reps)`, and whether B's
    median is outside the parent quartiles."""
    if len(parent) >= 2:
        q1, med, q3 = statistics.quantiles(parent, n=4, method="inclusive")
    else:
        q1 = med = q3 = parent[0]
    b = statistics.median(change)
    out = len(parent) >= 3 and not q1 <= b <= q3
    return (f"wall s {med:.3f} [{q1:.3f}, {q3:.3f}] ({len(parent)} reps) -> "
            f"{b:.3f} ({len(change)} reps){' outside' if out else ''}"), out


def ranged(key, xs, y):
    """`key min..max -> y (+d)`, d being y's distance outside [min, max]."""
    lo, hi = min(xs), max(xs)
    d = y - hi if y > hi else y - lo if y < lo else 0
    return f"{key} {lo}..{hi} -> {y} ({d:+d})"


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    paths = sys.argv[1:]
    loaded = [load(p) for p in paths]
    logs = [counts for counts, _ in loaded]
    walls = [w for _, w in loaded]
    for p, counts in zip(paths, logs):
        if not counts:
            sys.exit(f"no PROBE lines in {p}")
    parents, right = logs[:-1], logs[-1]
    rose, common, outside = [], [], []
    for name in sorted(set(right).union(*parents)):
        holders = [p for p, counts in zip(paths, logs) if name in counts]
        if len(holders) < len(paths):
            print(f"{name}: ONLY in {', '.join(holders)}")
            continue
        common.append(name)
        print(f"{name}: " + ", ".join(
            ranged(key, [counts[name][i] for counts in parents], right[name][i])
            for i, key in enumerate(KEYS)))
        line, out = wall([t for w in walls[:-1] for t in w[name]], walls[-1][name])
        print(f"  {line}")
        if out:
            outside.append(name)
        if right[name][0] > max(counts[name][0] for counts in parents):
            rose.append(name)

    def total(counts, i):
        return sum(counts[n][i] for n in common)

    print(f"== totals over {len(common)} queries: " + ", ".join(
        ranged(key, [total(counts, i) for counts in parents], total(right, i))
        for i, key in enumerate(KEYS)))
    if outside:
        print(f"== wall median outside the parent quartiles for {len(outside)} "
              f"queries: {', '.join(outside)}")
    if rose:
        print(f"== jobs rose for {len(rose)} queries: {', '.join(rose)}")
    sys.exit(1 if rose else 0)


if __name__ == "__main__":
    main()
