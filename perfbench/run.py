#!/usr/bin/env python3
"""The graft benchmark: one seeded workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
harness under ``perfbench/`` with sbt (offline) and caches the classpath in
``.bench_build/``; later runs reuse it while no source file has changed.

Workloads:

* ``cdc_sync``   route81's produce → Kafka log → consume → merge round
                 trip: catch-up over a backlog, then an open-loop live
                 phase at a fixed rate;
* ``batch_mix``  graft's batch side in one session: the curation daemon
                 (``CurationJob.applyBatch``: markup, Gopher,
                 exact-fingerprint dedup, compaction) over a seeded
                 document stream with planted duplicates, interleaved with
                 passes over a fixed cross-family set of
                 ``SparkEntry.queries`` in the seed's order, each checked
                 against its DuckDB oracle SQL.

Every workload reports the same end-to-end metrics, each meaning the
workload's own headline number:

=================  ========================  ==========================
metric             cdc_sync                  batch_mix
=================  ========================  ==========================
throughput_per_s   catch-up events/s         curated docs/s
latency_p50_s      sync lag p50              per-query p50
latency_tail_s     sync lag p99              per-query p95
setup_s            target bootstrap          catalog load + stream staging
heap_after_gc_mb   heap retained after full GCs at the end of the window
=================  ========================  ==========================

``--trace 1`` registers the span listener and prints the per-layer metrics
instead. Every run also writes a full artifact (inputs, end-to-end and
per-layer numbers, spans, checks, errors) to
``.bench_build/artifacts/<workload>/``; ``perfbench/compare.py`` compares
two sets of them. The last stdout line is the result JSON.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150
SETUPS = 3

# Fixed query set: every family, each query about a second or less warm at
# the generated scale, so that a pass takes about QUERY_PASS_NOMINAL_S.
# dedup_incremental is the curation daemon's novelty gate (anti-join
# against a standing fingerprint index).
QUERIES = [
    "pipe_group", "pipe_unwind", "pipe_search",                   # plans
    "dedup_exact", "dedup_minhash_lsh", "dedup_incremental",      # dedup
    "text_gopher", "text_bm25",                                   # text
    "sim_topk_bruteforce", "sim_knn_graph",                       # similarity
    "cdc_latest_state",                                           # cdc
    "q1_pricing",                                                 # other
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Work per run is sized from --seconds with fixed nominal unit costs, so a
# seed always gets the same work (and the same Spark job counts). On a
# shared host the speed of the machine drifts by tens of percent over tens
# of seconds, so each rate is taken over a whole phase, not from its
# median sample, and batch_mix interleaves its two sides over the window.
CDC = {"history": 4000, "tick_max": 1500, "rate": 1000.0, "interval_s": 2.0,
       "keys": 20000, "partitions": 4}
CDC_TICK_NOMINAL_S = 1.5  # one catch-up tick of tick_max ops
CDC_CATCHUP_SHARE = 0.6   # of --seconds; the live phase gets the rest
CURATION_BATCH_NOMINAL_S = 1.5  # one micro-batch of BATCH_DOCS docs
BATCH_DOCS = 100
QUERY_PASS_NOMINAL_S = 6.5  # one pass over QUERIES, warm
QUERY_SHARE = 0.6  # of --seconds in batch_mix; the curation daemon gets the rest
TABLE_SCALE = 2


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    h = hashlib.sha256()
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def classpath():
    """Build (if stale) and return the harness's runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine sources not found ({need}); run from a repository checkout")
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = _sources()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout)
        die("build failed")
    cp = [ln for ln in out.stdout.splitlines() if ".jar" in ln and ":" in ln]
    if not cp:
        sys.stderr.write(out.stdout)
        die("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, tmp):
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=warn"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, seconds, in_dir):
    os.makedirs(in_dir)
    if workload == "cdc_sync":
        catchup = seconds * CDC_CATCHUP_SHARE
        catchup_ticks = max(3, round(catchup / CDC_TICK_NOMINAL_S))
        ticks = max(3, round((seconds - catchup) / CDC["interval_s"]))
        backlog = catchup_ticks * CDC["tick_max"]
        live = int(ticks * CDC["rate"] * CDC["interval_s"])
        props = gen.oplog(os.path.join(in_dir, "oplog.parquet"), seed,
                          CDC["history"], backlog, live, CDC["keys"])
        params = dict(CDC, backlog=backlog, live_ticks=ticks, setups=SETUPS)
        props.update(rate=CDC["rate"], tick_max=CDC["tick_max"],
                     catchup_ticks=catchup_ticks, live_ticks=ticks)
    else:
        passes = max(1, round(seconds * QUERY_SHARE / QUERY_PASS_NOMINAL_S))
        batches = max(2, round(seconds * (1 - QUERY_SHARE) / CURATION_BATCH_NOMINAL_S))
        props = gen.docstream(in_dir, seed, batches * BATCH_DOCS)
        props.update(gen.tables(os.path.join(in_dir, "tables"), seed, TABLE_SCALE))
        order = list(QUERIES)
        random.Random(seed).shuffle(order)
        params = {"batch_docs": BATCH_DOCS, "batches": batches, "queries": order,
                  "passes": passes, "tables": TABLES, "setups": SETUPS}
        props.update(batch_docs=BATCH_DOCS, batches=batches, queries=len(order),
                     passes=passes)
    with open(os.path.join(in_dir, "params.json"), "w") as fh:
        json.dump(params, fh)
    return props


# ---------------------------------------------------------------- checks

def oracle_check(results_dir, errors):
    """Compare each query's rows with its oracle SQL run by DuckDB over the
    same catalog (columns by name, rows sorted, exact values)."""
    import duckdb
    import math

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])

        def norm(v):
            if isinstance(v, float) and math.isnan(v):
                return "NaN"
            if isinstance(v, bytes):
                return v.hex()
            if isinstance(v, list):
                return tuple(norm(x) for x in v)
            if isinstance(v, dict):
                return tuple((k, norm(x)) for k, x in v.items())
            return v
        out = [tuple(norm(r[i]) for i in order) for r in rows]
        out.sort(key=lambda t: tuple(str(x) for x in t))
        return [cols[i] for i in order], out

    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    with open(os.path.join(results_dir, "catalog")) as fh:
        catalog = fh.read()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{catalog}/{t}.parquet')")
    attempted = failed = 0
    for name, sql in sorted(oracle.items()):
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            continue  # the query itself failed; already counted
        attempted += 1
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            g = canon(got.fetchall(), got.columns)
            want = con.sql(sql)
            w = canon(want.fetchall(), want.columns)
            if g != w:
                raise AssertionError(
                    f"{len(g[1])} rows vs oracle {len(w[1])}; columns "
                    f"{g[0]} vs {w[0]}")
        except Exception as e:  # a mismatch or an oracle error fails the op
            failed += 1
            msg = f"check oracle {name}: {str(e).splitlines()[0][:300]}"
            errors.append(msg)
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
    return attempted, failed


# ---------------------------------------------------------------- main

def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "seams.bytes":
        return "bytes"
    if name.endswith(("_share", "_frac", "_ratio", "_amp")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cdc_sync", "batch_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, work = os.path.join(run_dir, "in"), os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    try:
        t0 = time.time()
        props = make_inputs(a.workload, a.seed, a.seconds, in_dir)
        gen_s = time.time() - t0
        result_file = os.path.join(run_dir, "result.json")
        rc = run_jvm(cp, [a.workload, str(a.trace), in_dir, work, result_file], tmp)
        if rc is None or not os.path.exists(result_file):
            die(f"engine run did not finish (exit {rc})")
        with open(result_file) as fh:
            res = json.load(fh)
        if a.workload == "batch_mix":
            att, fail = oracle_check(os.path.join(work, "results"), res["errors"])
            res["attempted"] += att
            res["failed"] += fail
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = res["end_to_end"]
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()}
    if not metrics:
        die("no metrics measured: " + "; ".join(res["errors"][:5]))
    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "time": time.time(), "inputs": props,
                "input_gen_s": gen_s, **res}
    art_dir = os.path.join(BUILD, "artifacts", a.workload)
    os.makedirs(art_dir, exist_ok=True)
    with open(os.path.join(art_dir, f"seed{a.seed}-trace{a.trace}-"
                           f"{int(time.time() * 1000)}.json"), "w") as fh:
        json.dump(artifact, fh)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
