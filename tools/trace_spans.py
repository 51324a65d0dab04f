#!/usr/bin/env python3
"""Print the spans of a traced perfbench artifact, one row per span.

Usage: python3 tools/trace_spans.py <artifact.json> [span-prefix]

The artifact is the JSON file a `perfbench/run.py --trace 1` run writes
under `.bench_build/artifacts/<workload>/`. Its `spans` list holds every
span with its inclusive Spark counters. Each row shows, in span order
(the order the spans opened): the span id, its trace (set-up spans and
the timed loop's spans carry different ones), its name, wall and driver
seconds, jobs, stages, tasks, input bytes and shuffle-write bytes. With
a prefix, only spans whose name starts with it are printed, so
`trace_spans.py <artifact> kafkalog.append` lists the producer append
of every tick and shows whether its input grows with the log.
"""
import json
import sys

COLUMNS = (("wall_s", "{:>8.3f}"), ("driver_s", "{:>8.3f}"),
           ("jobs", "{:>5d}"), ("stages", "{:>6d}"), ("tasks", "{:>6d}"),
           ("input_bytes", "{:>12d}"), ("shuffle_write_bytes", "{:>12d}"))


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        spans = json.load(f).get("spans", [])
    prefix = argv[2] if len(argv) == 3 else ""
    rows = sorted((s for s in spans if s["name"].startswith(prefix)),
                  key=lambda s: s["id"])
    if not rows:
        print(f"no span named {prefix!r}* in {argv[1]} (traced run?)",
              file=sys.stderr)
        return 1
    width = max(len(s["name"]) for s in rows)
    print(f"{'id':>4} {'trace':>5}  {'name':<{width}}  {'wall_s':>8} {'driver_s':>8} "
          f"{'jobs':>5} {'stages':>6} {'tasks':>6} {'input_bytes':>12} "
          f"{'shuffle_bytes':>12}")
    for s in rows:
        cells = " ".join(fmt.format(s[k]) for k, fmt in COLUMNS)
        print(f"{s['id']:>4} {s['trace']:>5}  {s['name']:<{width}}  {cells}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
