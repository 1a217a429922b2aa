#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one closed-loop client, one fresh JVM.

    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S]
                             [--trace 0|1] [--cores N] [--record-golden]

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), then launches one JVM on local[cores] that runs the
workload's queries one at a time over the sf0.1 tables in perfbench/data:
set-up (session build, staging, and a first pass whose results are checked
against perfbench/golden.json), an untimed warm-up pass, then timed passes for
--seconds and at least three. The seed permutes the query order inside every
pass.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The line before it records the run's
environment. A traced run also writes its spans to .bench_build/traces and
prints the per-layer self-time table on standard error.
"""
import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

DEFAULT_SEED = 1
SF_DIR = os.path.join("perfbench", "data", "sf0.1")
GOLDEN = os.path.join(HERE, "golden.json")
JVM_TIMEOUT_S = 170

# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {
    "etl_pipeline": {
        "stages": ["raw_fixtures"],
        "queries": ["q_pipeline_dimension", "q_dim_join_distinct", "q_count_check"],
    },
    "catalog_stream": {
        "stages": ["sql_verbs"],
        "queries": ["q_sql_spj_agg", "q_stream_cdf_tail", "q_sql_merge"],
    },
}

# The forked-run flags of build.sbt: JDK 17 module opens, the 2 GB code
# cache, its default 8 GB heap, no UI, UTC.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_FLAGS = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx8g",
    "-XX:ReservedCodeCacheSize=2g",
    # keep every file the JVM writes inside the run directory
    "-XX:-UsePerfData", "-Dspark.hadoop.fs.file.impl=perfbench.ConfinedFileSystem",
    "-Dspark.hadoop.fs.file.impl.disable.cache=true"]


def declared(kind):
    """(name, unit) of every metric of `kind` that BENCHMARK.json declares."""
    with open("BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def run_jvm(root, classes, jars, args, run_dir, cores, trace):
    """Launch the harness; return (setup seconds, exit code, log path)."""
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_CPUS": str(cores),
                "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
                "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local")})
    flags = JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
    if trace:
        flags.append("-Dspark.sql.queryExecutionListeners=perfbench.PlanProbe")
    cmd = ["java"] + flags + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
                              "perfbench.Harness"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    setup = {}
    with open(log_path, "w") as log:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                             stderr=log, text=True)

        def read():
            for line in p.stdout:
                if line.strip() == "PB_SETUP_DONE" and "s" not in setup:
                    setup["s"] = time.monotonic() - t0
        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            code = p.wait()
            sys.stderr.write(f"perfbench: JVM killed after {JVM_TIMEOUT_S} s\n")
        reader.join(10)
    with open(log_path) as f:
        sys.stderr.write("".join(line for line in f if "[perfbench]" in line))
    return setup.get("s"), code, log_path


def summarize(res, setup_s, golden, cores, rss_mb, trace):
    first = res["first_pass"]
    passes = [p["queries"] for p in res["passes"]]
    timed = [q for p in passes for q in p]
    ran = first + [q for p in res["warmup"] for q in p["queries"]] + timed
    mismatched = metrics.digest_mismatches(first, golden)
    failed_ops = [q for q in ran if q["status"] == "failed"]
    timed_out = [q for q in ran if q["status"] == "timed_out"]
    attempted = len(ran)
    failed = len(failed_ops) + len(timed_out) + len(mismatched)
    pass_walls = [sum(q["wall_s"] for q in p) for p in passes]
    walls = [q["wall_s"] for q in timed]
    tail = metrics.tail(walls)
    info = {"warmup_walls_s": [sum(q["wall_s"] for q in p["queries"]) for p in res["warmup"]],
            "pass_walls_s": pass_walls, "query_samples": len(walls),
            "query_tail": {"percentile": tail[0], "value_s": tail[1]} if tail else None,
            "digest_mismatch": mismatched,
            "not_ok": sorted({q["query"] + ":" + q["status"] for q in failed_ops + timed_out})}
    if not trace:
        values = {
            "setup_s": setup_s,
            "pass_s": metrics.median(pass_walls),
            "query_p50_s": metrics.median(walls),
            "retained_heap_mb": max(q["heap_mb"] for q in timed),
        }
        out = {k: {"value": values[k], "unit": u} for k, u in declared("end_to_end")}
    else:
        out = per_layer(res, setup_s, cores, rss_mb, pass_walls,
                        len(failed_ops), len(timed_out), len(mismatched))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}, info


def per_layer(res, setup_s, cores, rss_mb, pass_walls, n_failed, n_timed_out, n_mismatch):
    counters = [p["counters"] for p in res["passes"]]

    def per_pass(key):
        return metrics.median([c.get(key, 0.0) for c in counters])

    # the query span ids of each timed pass
    pass_ids = [s[0] for s in res["spans"] if s[2].startswith("pass:")]
    queries_of = [{s[0] for s in res["spans"] if s[1] == pid} for pid in pass_ids]

    def per_pass_span(name):
        """Median over passes of the summed duration of `name` spans."""
        return metrics.median([sum(s[4] - s[3] for s in res["spans"]
                                   if s[2] == name and s[4] is not None and s[1] in ids)
                               for ids in queries_of])
    stage_s = {"operators": 0.0, "catalog": 0.0}
    for st in res["stages"]:
        stage_s[st["layer"]] += st["seconds"]
    trace_pass = metrics.median(pass_walls)
    values = {
        "Sessions.build_s": res["session_build_s"],
        "operators.stage_s": stage_s["operators"],
        "catalog.stage_s": stage_s["catalog"],
        "operators.build_s": per_pass_span("build"),
        "operators.build_jobs": per_pass("operators.build_jobs"),
        "spark.action_s": per_pass_span("action"),
        "spark.jobs": per_pass("spark.jobs"),
        "spark.stages": per_pass("spark.stages"),
        "spark.tasks": per_pass("spark.tasks"),
        "catalyst.plan_s": per_pass("catalyst.plan_s"),
        "catalyst.executions": per_pass("catalyst.executions"),
        "codegen.compiles": per_pass("codegen.compiles"),
        "codegen.compile_s": per_pass("codegen.compile_s"),
        "codegen.setup_compiles": res["setup_compiles"],
        "codegen.setup_compile_s": res["setup_compile_s"],
        "task.run_s": per_pass("task.run_s"),
        "task.cpu_s": per_pass("task.cpu_s"),
        "task.gc_s": per_pass("task.gc_s"),
        "task.slot_util": per_pass("task.run_s") / (trace_pass * cores),
        "task.skew": per_pass("task.skew"),
        "shuffle.write_mb": per_pass("shuffle.write_mb"),
        "shuffle.read_mb": per_pass("shuffle.read_mb"),
        "shuffle.spill_mb": per_pass("shuffle.spill_mb"),
        "io.input_mb": per_pass("io.input_mb"),
        "io.output_mb": per_pass("io.output_mb"),
        "streaming.batches": per_pass("streaming.batches"),
        "streaming.batch_s": per_pass("streaming.batch_s"),
        "streaming.addBatch_s": per_pass("streaming.addBatch_s"),
        "streaming.walCommit_s": per_pass("streaming.walCommit_s"),
        "streaming.queryPlanning_s": per_pass("streaming.queryPlanning_s"),
        "streaming.latestOffset_s": per_pass("streaming.latestOffset_s"),
        "streaming.state_rows": per_pass("streaming.state_rows"),
        "streaming.state_mb": per_pass("streaming.state_mb"),
        "streaming.state_commit_s": per_pass("streaming.state_commit_s"),
        "jvm.gc_s": metrics.median([sum(q["gc_s"] for q in p["queries"])
                                    for p in res["passes"]]),
        "jvm.setup_gc_s": res["setup_gc_s"],
        "jvm.codecache_mb": res["codecache_mb"],
        "jvm.rss_peak_mb": rss_mb,
        "trace.setup_s": setup_s,
        "trace.pass_s": trace_pass,
        "ops.failed": n_failed,
        "ops.timed_out": n_timed_out,
        "ops.digest_mismatch": n_mismatch,
    }
    return {k: {"value": values[k], "unit": u} for k, u in declared("per_layer")}


def git_commit(root):
    """The checkout's commit, or None when the checkout is not a git work tree."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def self_time_table(spans):
    rows = sorted(metrics.self_time_by_layer(spans).items(), key=lambda kv: -kv[1][0])
    lines = [f"{'layer':<16}{'self_s':>10}{'spans':>8}"]
    lines += [f"{layer:<16}{t:>10.3f}{n:>8}" for layer, (t, n) in rows]
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float,
                    help="timed window; default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--record-golden", action="store_true",
                    help="write the first pass's digests to perfbench/golden.json")
    a = ap.parse_args()
    root = os.getcwd()
    if a.seconds is None:
        with open("BENCHMARK.json") as f:
            a.seconds = json.load(f)["run_seconds"]
    if not os.path.isdir(os.path.join(root, SF_DIR)):
        raise SystemExit(f"perfbench: run from the checkout root ({SF_DIR} not found)")
    classes, source_stamp = build.ensure(root)
    jars = build.spark_jars(root)
    w = WORKLOADS[a.workload]
    run_dir = os.path.join(root, build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "scratch", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    out_file = os.path.join(run_dir, "result.json")
    try:
        setup_s, code, log_path = run_jvm(
            root, classes, jars,
            [os.path.join(root, SF_DIR), str(a.seed), str(a.seconds), str(a.trace),
             os.path.join(run_dir, "warehouse"), out_file,
             ",".join(w["stages"]), ",".join(w["queries"])],
            run_dir, a.cores, a.trace)
        if code != 0 or setup_s is None or not os.path.exists(out_file):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"perfbench: harness exited with code {code}")
        with open(out_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0

    if a.record_golden:
        golden = {q["query"]: {"rows": q["rows"], "hashsum": q["hashsum"]}
                  for q in res["first_pass"] if q["status"] == "ok"}
        with open(GOLDEN) as f:
            merged = json.load(f) if os.path.getsize(GOLDEN) else {}
        merged.update(golden)
        with open(GOLDEN, "w") as f:
            json.dump(dict(sorted(merged.items())), f, indent=1)
            f.write("\n")
    with open(GOLDEN) as f:
        golden = json.load(f)

    result, info = summarize(res, setup_s, golden, a.cores, rss_mb, a.trace)
    if a.trace:
        trace_dir = os.path.join(root, build.BUILD_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"spans": res["spans"], "passes": res["passes"]}, f)
        sys.stderr.write(self_time_table(res["spans"]) + "\n")
    # paths inside the checkout are reported relative to its root
    jvm_args = [x.replace(root + os.sep, "") for x in res["env"]["jvm_args"]]
    env = dict(res["env"], jvm_args=jvm_args, workload=a.workload, seed=a.seed, seconds=a.seconds,
               trace=a.trace, nproc=os.cpu_count(), sf_dir=SF_DIR,
               source_sha256=source_stamp,
               spark_graft_java_opts_set="SPARK_GRAFT_JAVA_OPTS" in os.environ,
               git_commit=git_commit(root),
               session_build_s=res["session_build_s"],
               stage_s={st["name"]: st["seconds"] for st in res["stages"]},
               first_pass_s={q["query"]: q["seconds"] for q in res["first_pass"]},
               timed_median_s={q: metrics.median([r["wall_s"] for p in res["passes"]
                                                   for r in p["queries"] if r["query"] == q])
                               for q in w["queries"]},
               **info)
    print(json.dumps({"env": env}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
