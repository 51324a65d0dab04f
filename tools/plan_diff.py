#!/usr/bin/env python3
"""Compare two plan dump directories query by query.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

Each directory holds the `<name>.txt` files written by
`graft.tools.Probe <sfDir> <outDir> 0 <names...>`. A query's two plans
are compared after stripping what differs between any two sessions or
checkouts of the same code:
  - expression ids (`#123`, `#45L`) and `plan_id=N`;
  - RDD ids and their call-site lines (`MapPartitionsRDD[221] at
    localCheckpoint at Seams.scala:67` -> `MapPartitionsRDD[] at
    localCheckpoint at Seams.scala`);
  - JVM lambda class names and identity hashes
    (`AvroCodec$$$Lambda$4970/0x00007f63e933ec08@1a48f55b` ->
    `AvroCodec$$$Lambda`);
  - the checkout directory in front of `spark-warehouse/` (bucketed
    tables live under the checkout).
Prints one line per query (`same`, `DIFF` followed by a unified diff,
or `ONLY in <dir>`) and exits 1 when any query differs or is missing on
one side.
"""
import difflib
import os
import re
import sys

_NORMALIZE = [
    (re.compile(r"#\d+L?|plan_id=\d+"), ""),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"( at \w+ at [\w$]+\.scala):\d+"), r"\1"),
    (re.compile(r"(\$\$Lambda)(?:\$\d+)?(?:/0x[0-9a-f]+)?(?:@[0-9a-f]+)?"), r"\1"),
    (re.compile(r"file:\S*?/(spark-warehouse/)"), r"\1"),
]


def normalize(line):
    for pattern, repl in _NORMALIZE:
        line = pattern.sub(repl, line)
    return line


def load(path):
    with open(path) as f:
        return [normalize(line.rstrip("\n")) for line in f]


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
