#!/usr/bin/env python3
"""Paired A/B benchmark runs of two checkouts.

    python3 tools/ab_pairs.py <parent_checkout> <change_checkout> \\
        --workload batch_mix --seeds 21-32 [--log runs.jsonl]

For every seed it runs ``perfbench/run.py`` once in each checkout, at the
``run_seconds`` of the parent's ``BENCHMARK.json``, alternating which side
runs first (even pair index: parent first), so a drift in machine speed
lands on both sides alike. Each run's result is appended to ``--log`` as
one JSON line; the summary covers every pair of the workload in that log,
so a series can be extended by later calls (``--seeds ''`` only prints
the summary). A log holding pairs of another run length is refused.

For each end-to-end metric of the parent's ``BENCHMARK.json`` it prints
every run, both sides' medians and quartiles, the pair wins (ties count
for neither side) and two verdicts:

* ``gain``: ``yes`` when the change wins at least 9/10 of the pairs and
  its median beats the parent's by more than the parent's interquartile
  range, else ``no``;
* ``bound``: the verdict of the parent's ``perfbench/compare.py``
  (``better`` / ``worse`` / ``unresolved`` / ``within bound``) on the
  two sides' values, whose ``summary`` and ``verdict`` are imported
  here so both tools judge a set of runs alike.

``perfbench/compare.py`` compares two unpaired sets of artifacts; this
tool keeps the pairing.
"""
import argparse
import json
import os
import subprocess
import sys
import time


def parse_seeds(text):
    seeds = []
    for part in filter(None, text.split(",")):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds):
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    lines = out.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "attempted": 0, "failed": None, "metrics": {}}
    metrics = {k: v["value"] for k, v in res.get("metrics", {}).items()}
    return {"correct": res.get("correct"), "attempted": res.get("attempted"),
            "failed": res.get("failed"), "metrics": metrics,
            "exit": out.returncode, "wall_s": round(time.time() - t0, 1)}


def report(pairs, end_to_end, summary, verdict):
    print(f"{len(pairs)} pairs")
    for p in pairs:
        print(f"  seed {p['seed']:>4} {p['order']:<13}"
              f" parent correct={p['parent']['correct']} failed={p['parent']['failed']}"
              f"  change correct={p['change']['correct']} failed={p['change']['failed']}")
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["parent"]["metrics"].get(name), p["change"]["metrics"].get(name))
                for p in pairs]
        both = [(a, b) for a, b in both if a is not None and b is not None]
        if not both:
            print(f"\n{name}: no paired values")
            continue
        a = [x for x, _ in both]
        b = [y for _, y in both]
        better = (lambda x, y: y < x) if lower else (lambda x, y: y > x)
        wins = sum(better(x, y) for x, y in both)
        losses = sum(better(y, x) for x, y in both)
        sa, sb = summary(a), summary(b)
        am, aq1, aq3 = sa["median"], sa["q1"], sa["q3"]
        bm, bq1, bq3 = sb["median"], sb["q1"], sb["q3"]
        gap = (am - bm) if lower else (bm - am)
        gain = wins >= 0.9 * len(both) and gap > (aq3 - aq1)
        bound = m["bound"]
        print(f"\n{name} ({m['unit']}, {m['better']} is better, bound {bound:.0%})")
        print("  parent: " + " ".join(f"{x:.4g}" for x in a))
        print("  change: " + " ".join(f"{y:.4g}" for y in b))
        print(f"  parent median {am:.4g} [q1 {aq1:.4g}, q3 {aq3:.4g}]"
              f"  change median {bm:.4g} [q1 {bq1:.4g}, q3 {bq3:.4g}]")
        print(f"  pair wins {wins}/{len(both)} (losses {losses},"
              f" ties {len(both) - wins - losses});"
              f" median gap {gap:+.4g} vs parent IQR {aq3 - aq1:.4g}")
        print(f"  gain: {'yes' if gain else 'no'};"
              f" bound: {verdict(a, b, lower, bound)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="comma list of seeds or ranges, e.g. 21-26,40")
    ap.add_argument("--log", default="ab_pairs.jsonl")
    a = ap.parse_args()
    with open(os.path.join(a.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    sys.dont_write_bytecode = True  # leave the parent checkout as it is
    sys.path.insert(0, os.path.join(a.parent, "perfbench"))
    from compare import summary, verdict

    done = []
    if os.path.exists(a.log):
        with open(a.log) as fh:
            done = [json.loads(ln) for ln in fh if ln.strip()]
    if any(p["seconds"] != seconds for p in done):
        sys.exit(f"{a.log} holds runs of another length than {seconds} s")
    for seed in parse_seeds(a.seeds):
        n = sum(p["workload"] == a.workload for p in done)
        order = ["parent", "change"] if n % 2 == 0 else ["change", "parent"]
        pair = {"workload": a.workload, "seed": seed, "seconds": seconds,
                "order": "-".join(order)}
        for side in order:
            pair[side] = run_once(getattr(a, side), a.workload, seed, seconds)
            print(f"seed {seed} {side}: {pair[side]}", file=sys.stderr, flush=True)
        with open(a.log, "a") as fh:
            fh.write(json.dumps(pair) + "\n")
        done.append(pair)
    report([p for p in done if p["workload"] == a.workload], bench["end_to_end"],
           summary, verdict)


if __name__ == "__main__":
    main()
