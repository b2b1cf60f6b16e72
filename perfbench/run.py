#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run builds the program and the harness from source when needed
(perfbench/build.py), makes the workload's inputs from the seed, runs
the workload in one JVM (perfbench/harness/Main.scala), checks every
result against DuckDB, and prints as its last line one JSON object with
the keys correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.
Everything a run writes goes under the build directory ($CARGO_TARGET_DIR,
default .bench_build), and its own work directory there is removed
when it ends. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import compare  # noqa: E402
import corpus  # noqa: E402
import oracle  # noqa: E402

# fixture tables of TESTDATA.md, read in place
FIXTURES = "/root/testdata"
TPCH = [f"tpch_q{i}" for i in range(1, 23)]
LLM = ["q_text_stats", "q_lang_id", "q_fingerprint",
       "q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram"]
# query ids probed in the vector-index layer of a traced llm_pipeline run
# (besides query 0), out of the 2000 sf0.1 embeddings
N_PROBES = 2
N_VECTORS = 2000
# the harness JVM is stopped after this long, so a run ends within 180 s
JVM_TIMEOUT_S = 172

# JVM options of the program's own runs (build.sbt javaOptions, with its
# default heap)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_options():
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                   "-Xmx8g", "-Xss64m"]


def metric_units(kind):
    """name -> unit of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json declares, in its order."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def workload_inputs(workload, seed, build_dir):
    """(data dir, operations in run order, vector query ids to probe when
    tracing, extra harness arguments)."""
    rng = random.Random(seed)
    if workload == "tpch_sql":
        ops = TPCH[:]
        rng.shuffle(ops)
        return (os.path.join(FIXTURES, "sf0.01"), ops, [],
                ["--sql", os.path.join(HERE, "tpch_sql")])
    if workload == "llm_pipeline":
        ops = LLM[:]
        rng.shuffle(ops)
        probes = [0] + rng.sample(range(1, N_VECTORS), N_PROBES)
        data = corpus.make(os.path.join(FIXTURES, "sf0.1"),
                           os.path.join(build_dir, "inputs"), seed)
        return data, ops, probes, []
    raise ValueError(workload)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def end_to_end(run):
    timed = [p for p in run["passes"] if p["kind"] == "timed" and not p["traced"]]
    cold = [p for p in run["passes"] if p["kind"] == "cold"][0]
    return {
        "setup_s": run["setup_s"],
        "cold_pass_s": cold["wall_s"],
        "pass_s": median([p["wall_s"] for p in timed]),
        "latency_geomean_s": geomean([o["lat_s"] for p in timed for o in p["ops"]]),
        "cpu_per_pass_s": median([p["cpu_s"] for p in timed]),
    }


def per_layer(run, recalls):
    traced = [p for p in run["passes"] if p["kind"] == "timed" and p["traced"]]
    untraced = [p for p in run["passes"] if p["kind"] == "timed" and not p["traced"]]
    m = {k: 0.0 for k in metric_units("per_layer")}
    m.update({k: float(v) for k, v in run["session"].items()})
    ops = [o for p in traced for o in p["ops"]]
    sql = run["workload"] == "tpch_sql"
    m["queries.build_s"] = 0.0 if sql else median([o["build_s"] for o in ops])
    if sql:
        m["dialect.rewrite_s"] = median([o["rewrite_s"] for o in ops])
        m["dialect.sql_s"] = median([o["build_s"] for o in ops])
    for key in ("plan.analysis_s", "plan.optimization_s", "plan.planning_s",
                "plan.broadcast_joins", "plan.smj_joins", "plan.exchanges",
                "plan.runtime_filters", "exec.no_task_s"):
        m[key] = median([sum(o["layer"].get(key, 0.0) for o in p["ops"]) for p in traced])
    for key, src in (("codegen.compiles", "compiles"), ("jvm.classes_loaded", "classes_loaded"),
                     ("jvm.jit_s", "jit_s"), ("jvm.gc_s", "gc_s")):
        m[key] = median([p[src] for p in traced])
    for key in traced[0]["exec"] if traced else []:
        m[key] = median([p["exec"][key] for p in traced])
    m.update({k: float(v) for k, v in run["layers"].items()})
    m.update(recalls)
    t, u = median([p["wall_s"] for p in traced]), median([p["wall_s"] for p in untraced])
    m["trace.pass_s"] = t
    m["trace.overhead"] = t / u - 1.0 if u > 0 else 0.0
    return m


def check(workload, run, out_dir, build_dir, data_dir, probes):
    """Names of operations whose results disagree with DuckDB, problems
    found, and vector-probe recall by index kind."""
    results = os.path.join(out_dir, "results")
    sqls = run["oracle_sql"]
    problems, wrong = [], set()
    names = [o["name"] for o in run["passes"][0]["ops"]]
    missing = [n for n in names if n not in sqls]
    if missing:
        problems.append(f"no oracle SQL for {missing}")
    expected = oracle.answers(FIXTURES + "/sf0.1" if workload == "llm_pipeline" else data_dir,
                              sqls, os.path.join(build_dir, "cache", "oracle"),
                              llm=workload == "llm_pipeline")
    for n, exp in expected.items():
        d = os.path.join(results, n)
        diff = compare.compare(exp, compare.read_parquet_dir(d)) if os.path.isdir(d) \
            else "no result"
        if diff:
            wrong.add(n)
            problems.append(f"{n}: {diff}")
    recalls = {}
    if probes:
        fixture = os.path.join(FIXTURES, "sf0.1")
        by_kind = {}
        for q in probes:
            cos = oracle.exact_cosines(fixture, q)
            for kind in ("ann", "ivf", "ivfpq"):
                d = os.path.join(results, f"probe_{kind}_{q}")
                if not os.path.isdir(d):
                    problems.append(f"probe_{kind}_{q}: no result")
                    continue
                prob, rec = oracle.check_probe(
                    compare.read_parquet_dir(d), cos, 10, exact=q == 0)
                by_kind.setdefault(kind, []).append(rec)
                if prob:
                    problems.append(f"probe_{kind}_{q}: {prob}")
        recalls = {f"index.{k}_recall_at_10": statistics.mean(v) for k, v in by_kind.items()}
    return wrong, problems, recalls


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("tpch_sql", "llm_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = build.ROOT
    for need in ("BENCHMARK.json", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/harness/Main.scala"):
        if not os.path.isfile(os.path.join(root, need)):
            sys.exit(f"run.py: {need} is missing; run from a checkout of the repository")
    for t in corpus.TABLES:
        for sf in ("sf0.01", "sf0.1"):
            if not os.path.isfile(os.path.join(FIXTURES, sf, f"{t}.parquet")):
                sys.exit(f"run.py: fixture {FIXTURES}/{sf}/{t}.parquet is missing")
    build_dir = build.build_dir()
    classes = build.build(build_dir)
    data_dir, ops, probes, extra = workload_inputs(a.workload, a.seed, build_dir)
    if not a.trace:
        probes = []
    elif probes:
        extra += ["--probes", ",".join(map(str, probes))]

    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, work, out = (os.path.join(run_dir, d) for d in ("tmp", "work", "out"))
    for d in (tmp, work, out):
        os.makedirs(d)
    jvm = None
    try:
        cpus = len(os.sched_getaffinity(0))
        cmd = (["java"] + jvm_options() + [f"-Djava.io.tmpdir={tmp}", "-cp",
                ":".join([classes] + build.spark_jars()), "perfbench.Main",
                "--workload", a.workload, "--data", data_dir, "--ops", ",".join(ops),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
                "--cpus", str(cpus), "--work", work,
                "--fixtures", os.path.join(FIXTURES, "sf0.1")] + extra)
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            jvm = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                rc = jvm.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            with open(log_path) as f:
                tail = [ln for ln in f if " INFO " not in ln and " WARN " not in ln][-40:]
            sys.stderr.write("".join(tail))
            sys.exit(f"run.py: the harness JVM ended with {rc}")
        with open(os.path.join(out, "run.json")) as f:
            run = json.load(f)
        wrong, problems, recalls = check(a.workload, run, out, build_dir, data_dir, probes)

        attempted = failed = 0
        for p in run["passes"]:
            for o in p["ops"]:
                attempted += 1
                if o["status"] != "ok":
                    problems.append(f"{o['name']} ({p['kind']} pass): {o['status']}")
                if o["status"] != "ok" or o["name"] in wrong:
                    failed += 1
        correct = not problems

        for x in problems:
            print(f"check: {x}")
        passes = run["passes"]
        diag = {
            "workload": a.workload, "seed": a.seed, "cores": run["cpus"],
            "passes": [p["kind"] + ("+trace" if p["traced"] else "") for p in passes],
            "steal_s": round(run["steal_s"], 2),
            "jit_s": round(sum(p["jit_s"] for p in passes), 2),
            "gc_s": round(sum(p["gc_s"] for p in passes), 2),
            "janino_compiles": int(sum(p["compiles"] for p in passes)),
            "pass_cpu_s": [round(p["cpu_s"], 2) for p in passes],
            "pass_wall_s": [round(p["wall_s"], 2) for p in passes],
            "pass_steal_s": [round(p["steal_s"], 2) for p in passes],
            "op_lat_s": [{o["name"]: round(o["lat_s"], 3) for o in p["ops"]} for p in passes],
        }
        print("diagnostics: " + json.dumps(diag))
        if a.trace:
            # the spans outlive the run's work directory
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{a.workload}_seed{a.seed}_spans.json")
            shutil.copyfile(os.path.join(out, "spans.json"), spans)
            with open(spans) as f:
                n_spans = len(json.load(f))
            print("trace: " + json.dumps({"spans": n_spans, "file": os.path.relpath(spans, root),
                                          "self_s": {
                k: round(v, 3) for k, v in sorted(run["self_s"].items())}}))
            values = per_layer(run, recalls)
            units = metric_units("per_layer")
        else:
            values = end_to_end(run)
            units = metric_units("end_to_end")
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if jvm is not None and jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
