#!/usr/bin/env python3
"""Compare two plan dump directories query by query.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

Each directory holds the `<name>.txt` files written by
`graft.tools.Probe <sfDir> <outDir> 0 <names...>`. A query's two plans
are compared after stripping expression ids (`#123`, `#45L`) and
`plan_id=N`, which differ between any two sessions. Prints one line per
query (`same`, `DIFF` followed by a unified diff, or `ONLY in <dir>`)
and exits 1 when any query differs or is missing on one side.
"""
import difflib
import os
import re
import sys

_IDS = re.compile(r"#\d+L?|plan_id=\d+")


def load(path):
    with open(path) as f:
        return [_IDS.sub("", line.rstrip("\n")) for line in f]


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    names_a, names_b = plans(a), plans(b)
    differing = 0
    for name in sorted(names_a | names_b):
        if name not in names_b or name not in names_a:
            print(f"{name}: ONLY in {a if name in names_a else b}")
            differing += 1
            continue
        left = load(os.path.join(a, name + ".txt"))
        right = load(os.path.join(b, name + ".txt"))
        if left == right:
            print(f"{name}: same")
            continue
        differing += 1
        print(f"{name}: DIFF")
        for line in difflib.unified_diff(left, right, a, b, lineterm="", n=1):
            print("  " + line)
    print(f"== {len(names_a | names_b) - differing}/{len(names_a | names_b)} plans identical")
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
