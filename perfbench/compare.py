#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py <baseline_dir> <candidate_dir> [--bench BENCHMARK.json]

Each directory holds run artifacts as written by ``run.py`` (by default
under ``.bench_build/artifacts/<workload>/``; copy that tree aside to keep a
set). For every workload and end-to-end metric it prints both sets'
medians and quartiles and a verdict:

* ``better``        every candidate run beats every baseline run, or the
                    quartile ranges are apart and the median improved by
                    more than the baseline's own quartile spread;
* ``unresolved``    either side's quartile spread is wider than the metric's
                    bound, or fewer than three runs on a side;
* ``worse``         the median regressed by more than the bound;
* ``within bound``  otherwise.

Traced runs (``--trace 1``) add the tracing overhead (traced minus untraced
medians), the per-layer metric medians that differ, and whether traced
runs of the same seed within a set agree on job and stage counts.
"""
import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

COUNT_KEYS = ("jobs", "stages", "tasks")


def load(path):
    runs = defaultdict(list)
    for f in sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True)):
        with open(f) as fh:
            try:
                a = json.load(fh)
            except json.JSONDecodeError:
                continue
        if isinstance(a, dict) and "workload" in a and "end_to_end" in a:
            runs[a["workload"]].append(a)
    return runs


def summary(vals):
    if len(vals) >= 2:
        q1, med, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = med = q3 = vals[0]
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3}


def verdict(a_vals, b_vals, lower_better, bound):
    a, b = summary(a_vals), summary(b_vals)
    if a["n"] < 3 or b["n"] < 3 or a["median"] == 0:
        return "unresolved"
    if (max(b_vals) < min(a_vals)) if lower_better else (min(b_vals) > max(a_vals)):
        return "better"
    rel_iqr = [(s["q3"] - s["q1"]) / abs(s["median"]) for s in (a, b)]
    if max(rel_iqr) > bound:
        return "unresolved"
    change = (b["median"] - a["median"]) / abs(a["median"])
    worse = change if lower_better else -change
    if worse > bound:
        return "worse"
    apart = a["q3"] < b["q1"] or b["q3"] < a["q1"]
    if apart and -worse > rel_iqr[0]:
        return "better"
    return "within bound"


def e2e_values(runs, trace, seeds=None):
    out = defaultdict(list)
    for r in runs:
        if r["trace"] == trace and r["failed"] == 0 and (
                seeds is None or r["seed"] in seeds):
            for k, v in r["end_to_end"].items():
                out[k].append(v["value"])
    return out


def layer_values(runs):
    out = defaultdict(list)
    for r in runs:
        if r["trace"] == 1:
            for k, v in r.get("layers", {}).items():
                out[k].append(v)
    return out


def determinism(runs):
    """Traced runs of one seed must report identical job/stage counts."""
    by_seed = defaultdict(list)
    for r in runs:
        if r["trace"] == 1:
            by_seed[r["seed"]].append(
                {k: v for k, v in r["layers"].items() if k.endswith((".jobs", ".stages"))})
    pairs = [(s, xs) for s, xs in by_seed.items() if len(xs) > 1]
    if not pairs:
        return "no seed traced twice"
    bad = [s for s, xs in pairs if any(x != xs[0] for x in xs[1:])]
    return "identical" if not bad else f"differ for seeds {bad}"


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("baseline")
    ap.add_argument("candidate")
    ap.add_argument("--bench", default="BENCHMARK.json")
    a = ap.parse_args()
    spec = {}
    if os.path.exists(a.bench):
        with open(a.bench) as fh:
            spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base, cand = load(a.baseline), load(a.candidate)
    for w in sorted(set(base) | set(cand)):
        br, cr = base.get(w, []), cand.get(w, [])
        print(f"== {w}: {len(br)} baseline runs, {len(cr)} candidate runs")
        bv, cv = e2e_values(br, 0), e2e_values(cr, 0)
        for m in sorted(set(bv) | set(cv)):
            if not bv.get(m) or not cv.get(m):
                print(f"  {m:22s} missing on one side")
                continue
            s = spec.get(m, {})
            sa, sb = summary(bv[m]), summary(cv[m])
            v = verdict(bv[m], cv[m], s.get("better", "lower") == "lower", s.get("bound", 0.1))
            print(f"  {m:22s} base {fmt(sa['median'])} [{fmt(sa['q1'])}, {fmt(sa['q3'])}]"
                  f"  cand {fmt(sb['median'])} [{fmt(sb['q1'])}, {fmt(sb['q3'])}]"
                  f"  {(sb['median'] / sa['median'] - 1) * 100:+.1f}%  {v}")
        for label, runs in (("baseline", br), ("candidate", cr)):
            # overhead over the seeds that have traced runs
            traced_seeds = {r["seed"] for r in runs if r["trace"] == 1}
            plain = e2e_values(runs, 0, traced_seeds)
            traced = e2e_values(runs, 1)
            over = [f"{m} {statistics.median(traced[m]) - statistics.median(plain[m]):+.4g}"
                    for m in sorted(traced) if plain.get(m)]
            if over:
                print(f"  tracing overhead ({label}, traced - untraced): " + ", ".join(over))
            if any(r["trace"] == 1 for r in runs):
                print(f"  traced job/stage counts per seed ({label}): {determinism(runs)}")
        bl, cl = layer_values(br), layer_values(cr)
        diffs = []
        for k in sorted(set(bl) & set(cl)):
            mb, mc = statistics.median(bl[k]), statistics.median(cl[k])
            if mb != mc and (k.split(".")[-1] in COUNT_KEYS or k.endswith(
                    ("_bytes", "blocks", "entries", "_amp", "_ratio"))):
                diffs.append(f"    {k:40s} {fmt(mb)} -> {fmt(mc)}")
        if diffs:
            print("  per-layer count changes (medians):")
            print("\n".join(diffs))
        elif bl and cl:
            print("  per-layer counts: no change")


if __name__ == "__main__":
    main()
