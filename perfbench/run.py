#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The program is compiled once per source
state (sbt, into the repository's own target dirs); each run then starts a
fresh JVM on the exported classpath, so sbt start-up is outside every
metric.  The JVM (perfbench.Main) drives the program through its public
entry points with one closed-loop client, at local[<cores>]; this script
makes the inputs, checks every output against computations made apart
from the program, and prints the metrics.  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

CATALOG_SF = 0.01
# the catalog queries (graft.ops operators that run Spark jobs while the
# query is built), or None for the loan workloads, which share one
# generator: loan_ingest times Dag.run ticks, loan_stream streaming drains
WORKLOADS = {
    "catalog_llm": ["q64_dedup_clusters", "q78_incremental_neardup", "q102_pagerank"],
    "loan_ingest": None,
    "loan_stream": None,
}
RUN_LIMIT_S = 170          # the JVM is stopped past this, counting from start
BUILD_LIMIT_S = 840
JVM_HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "?"


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def _sources():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return paths


def build(work):
    """Compile once per source state; returns the runtime classpath."""
    h = hashlib.sha256()
    for p in _sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building (sbt writeClasspath)")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(work, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"build failed (see {work}/build.log)")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def catalog_data(work):
    # named after the generator's source, so a changed generator makes new
    # tables (and, through the name, new oracle results)
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(work, f"catalog-sf{CATALOG_SF}-{version}")
    if not os.path.exists(os.path.join(d, "embeddings.parquet")):
        gen.catalog_tables(d, CATALOG_SF)
    return d


def loan_data(run_dir, seed):
    steps = gen.loan_arrivals(seed)
    base = os.path.join(run_dir, "arrivals")
    for step, files in steps:
        os.makedirs(os.path.join(base, step))
        for name, _, data in files:
            with open(os.path.join(base, step, name), "wb") as f:
                f.write(data)
    return base, steps


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def check_catalog(ops, oracle_sql, data_dir, work):
    oracle = checks.Oracle(data_dir, gen.CATALOG_TABLES, os.path.join(work, "oracle-cache"))
    problems = []
    for op in ops:
        if op.get("error"):
            continue
        sql = oracle_sql.get(op["name"])
        found = (oracle.check(op["name"], sql, op["result"])
                 if sql else [f"{op['name']}: no oracle SQL"])
        if found:
            op["check_failed"] = True
            problems += found
    return problems


def check_loan(ops, steps):
    # rows and file names landed once each step's operations have run
    rows, names, landed = [], [], {}
    for step, files in steps:
        rows = rows + [r for _, rs, _ in files for r in rs]
        names = names + [n for n, _, _ in files]
        landed[step] = (rows, names, [n for n, _, _ in files])
    problems = []
    for op in ops:
        if op.get("error"):
            continue
        label = f"{op['kind']} {op['name']} (pass {op['pass']})"
        rows, arrived, step = landed[op["name"]]
        snap = op["snapshot"]
        if op["kind"] == "tick":
            found = checks.check_tick(label, rows, op, snap)
            found += checks.check_ledger(label, arrived, os.path.join(snap, "ledger.json"))
            if sorted(op.get("processed", [])) != sorted(step):
                found.append(f"{label}: ingested {op.get('processed')} != arrived {step}")
        else:
            found = checks.compare_aggregates(
                label, checks.stream_aggregates(rows), os.path.join(snap, "aggregates"))
        if found:
            op["check_failed"] = True
            problems += found
    sources = {n: d for _, files in steps for n, _, d in files}
    rounds = sorted({os.path.dirname(os.path.dirname(op["snapshot"]))
                     for op in ops if op["kind"] == "tick" and "snapshot" in op})
    for base in rounds:
        problems += checks.check_landing(base, os.path.join(base, "dag"), sources)
    return problems


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def pass_metrics(ops, key="wall_s"):
    """Per pass over the operations that did not fail, the sum and the
    geometric mean of `key`; each the median over the run's passes.
    """
    by_pass = {}
    for op in ops:
        if op["timed"] and not op.get("error") and not op.get("check_failed"):
            by_pass.setdefault(op["pass"], []).append(op[key])
    if not by_pass:
        return None, None, 0
    vals = list(by_pass.values())
    return (statistics.median(sum(v) for v in vals),
            statistics.median(geomean(v) for v in vals), len(vals))


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise SystemExit("perfbench: the graft sources (src/main/scala/graft, build.sbt) "
                         "are not next to perfbench/; run from a full checkout")
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    classpath = build(work)
    started = time.time()  # the build is not part of the run's time limit

    load_before = loadavg()
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    queries = WORKLOADS[a.workload]
    jvm_args = ["--workload", a.workload, "--work", run_dir, "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    if queries is None:
        arrivals, steps = loan_data(run_dir, a.seed)
        jvm_args += ["--arrivals", arrivals]
    else:
        data_dir = catalog_data(work)
        names = list(queries)
        random.Random(a.seed).shuffle(names)  # the seed sets the query order
        jvm_args += ["--data", data_dir, "--queries", ",".join(names)]

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: the JVM would otherwise keep its counters file in /tmp
    cmd = ([java, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Main"] + jvm_args)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        try:
            r = subprocess.run(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                               timeout=max(10.0, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: the benchmark JVM overran (see {run_dir}/jvm.log)")
    result_path = os.path.join(run_dir, "result.json")
    if r.returncode != 0 or not os.path.exists(result_path):
        raise SystemExit(f"perfbench: the benchmark JVM failed with {r.returncode} "
                         f"(see {run_dir}/jvm.log)")
    with open(result_path) as f:
        result = json.load(f)
    ops = result["ops"]

    if queries is None:
        problems = check_loan(ops, steps)
    else:
        problems = check_catalog(ops, result["oracle"], data_dir, work)
    load_after = loadavg()

    timed = [op for op in ops if op["timed"]]
    failed = [op for op in timed if op.get("error") or op.get("check_failed")]
    for op in ops:
        if op.get("error"):
            log(f"failed: {op['kind']} {op['name']} pass {op['pass']}: {op['error']}")
    for p in problems[:20]:
        log(f"check: {p}")
    pass_s, geo_s, n_pass = pass_metrics(ops)
    pass_cpu_s, geo_cpu_s, _ = pass_metrics(ops, "cpu_s")
    log(f"run wall {time.time() - started:.1f} s; "
        f"load before {load_before}, after {load_after}; {len(timed)} timed operations "
        f"in {n_pass} passes, {len(failed)} failed; setup {result['setup_s']:.3f} s, "
        f"pass {pass_s} s; cpu: setup {result['setup_cpu_s']:.3f} s, pass {pass_cpu_s} s, "
        f"geomean {geo_cpu_s} s; cores {result['cores']}, "
        f"storage memory {result['storage_memory_bytes'] / 2**20:.0f} MB")

    if a.trace:
        new_rows = gen.FILES_PER_BATCH * gen.ROWS_PER_FILE
        input_bytes = (sum(len(d) for _, files in steps for _, _, d in files)
                       if queries is None else 0)
        recs, stored = layers.per_op(os.path.join(run_dir, "trace.json"), ops, new_rows)
        values = layers.summarise(recs, stored, input_bytes)
        values.update({"jvm.peak_rss_mb": result["vm_hwm_kb"] / 1024.0,
                       "setup_wall_s": result["setup_s"], "pass_s": pass_s,
                       "query_geomean_s": geo_s})
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump({"ops": recs, "summary": values}, f, indent=1)
        bad = [r for r in recs if "reconcile" in r and abs(r["reconcile"] - 1.0) > 0.10]
        log(f"layers: {len(recs)} operations traced, {len(bad)} outside 10% of their wall "
            f"(worst {values['reconcile.worst']:.3f}); pass_s traced {pass_s}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.PER_LAYER.items()}
    else:
        # CPU seconds of the benchmark JVM: other guests' CPU steal on a
        # shared host stretches walls but not these (perfbench/README.md)
        metrics = {
            "setup_s": {"value": result["setup_cpu_s"], "unit": "s"},
            "pass_cpu_s": {"value": pass_cpu_s, "unit": "s"},
            "query_cpu_geomean_s": {"value": geo_cpu_s, "unit": "s"},
        }
    print(json.dumps({"correct": not problems, "attempted": len(timed),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
