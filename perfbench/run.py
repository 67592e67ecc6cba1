#!/usr/bin/env python3
"""Run one benchmark workload and print its record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program with the harness (sbt, once per checkout), makes the
workload's inputs from the seed, computes the expected outputs (cached
per seed), runs one JVM (perfbench.Main) for the timed part, checks every
op's output, and prints the record. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170  # each run must end within 180 s
LOCAL_THREADS = 4  # Spark local[k], k capped at nproc

# Ops per workload. An op is a catalog query (one SparkEntry.queries
# call plus collect) or `pipeline:<drop>` (extract, transform, load over
# one dirty titles drop). A run measures round(seconds / round_s) whole
# rounds of these (at least one), round_s being a round's nominal time
# here: a fixed count, so every run measures the same ops however fast
# the machine is at the moment.
WORKLOADS = {
    "etl_analytics": {
        "drops": 1,
        "drop_rows": 150000,
        "setup_op": "q2_filter_project",
        "ops": ["pipeline:0", "q3_join_agg", "q84_pipeline_staged"],
        "round_s": 5.5,
    },
    "lakehouse_dml": {
        "setup_op": "q362_sql_ctas",
        "ops": ["q362_sql_ctas", "q309_time_travel", "q358_stream_rlo_sink"],
        "round_s": 9.0,
    },
}
JVM_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _terminate(signum, frame):
    # unwinds through run_bounded's finally, which stops the child group
    raise SystemExit(128 + signum)


def run_bounded(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group; kill the whole group if it
    outlives `timeout`, and always wait for it to end."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            log(f"timed out after {timeout:.0f}s: {cmd[0]}")
            return -1
        finally:
            if p.poll() is None:
                for sig in (signal.SIGTERM, signal.SIGKILL):
                    try:
                        os.killpg(p.pid, sig)
                    except ProcessLookupError:
                        break
                    try:
                        p.wait(timeout=10)
                        break
                    except subprocess.TimeoutExpired:
                        pass


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("SPARK_HOME is not set to a Spark install")
    return home


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(env):
    """Compile the program and the harness (skipped when up to date) and
    dump the oracle. Returns (classpath, oracle)."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "runtime.classpath")
    oracle_file = os.path.join(target, "oracle.json")
    sources = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "build.sbt")]
    if not (os.path.exists(cp_file) and os.path.exists(oracle_file)
            and os.path.getmtime(oracle_file) >= newest_mtime(sources)):
        os.makedirs(WORK, exist_ok=True)
        log("building (sbt compile)")
        blog = os.path.join(WORK, "build.log")
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "writeClasspath"], HERE, blog, 780, env)
        if rc != 0:
            log(tail(blog))
            raise SystemExit("build failed")
        with open(cp_file) as f:
            cp = f.read().strip()
        rc = run_bounded(["java", "-cp", cp, "perfbench.OracleDump", oracle_file],
                         HERE, os.path.join(WORK, "oracle.log"), 120, env)
        if rc != 0:
            raise SystemExit("oracle dump failed")
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(oracle_file) as f:
        return cp, json.load(f)


def source_id():
    """The commit when run inside git, else a digest of the program's
    sources (a benchmark checkout is not a git repository)."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(PROGRAM_SRC)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + b"\0" + fh.read())
    return "src-" + h.hexdigest()[:12]


def inputs(name, seed):
    """Make the workload's inputs from the seed (cached). Returns
    (data_dir, [(drop_path, rows)])."""
    import gen
    w = WORKLOADS[name]
    root = os.path.join(CACHE, f"seed{seed}")
    base = os.path.join(root, "sf0.1")
    if not os.path.exists(os.path.join(base, "_DONE")):
        gen.write_base(base, seed)
        open(os.path.join(base, "_DONE"), "w").close()
    drops = []
    for i in range(w.get("drops", 0)):
        path = os.path.join(root, f"titles_{i}.csv")
        if not os.path.exists(path):
            gen.write_titles_drop(path, seed, w["drop_rows"], i)
        drops.append((path, w["drop_rows"]))
    return base, drops


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, _terminate)

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    sys.path.insert(0, HERE)
    import check

    cp, oracle = build(env)
    t_built = time.time()  # a first run in a checkout also builds
    w = WORKLOADS[args.workload]
    t_inputs = time.time()
    data, drops = inputs(args.workload, args.seed)
    exp = check.expected(
        os.path.join(CACHE, f"seed{args.seed}", "expected", args.workload),
        data, list(dict.fromkeys(w["ops"] + [w["setup_op"]])), oracle,
        [p for p, _ in drops])
    log(f"inputs and expected results ready in {time.time() - t_inputs:.1f}s")

    run_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    cwd, out = os.path.join(run_dir, "cwd"), os.path.join(run_dir, "out")
    os.makedirs(cwd)
    os.makedirs(out)
    threads = min(LOCAL_THREADS, os.cpu_count() or 1)
    cmd = ["java", *JVM_OPTS, "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--rounds", str(max(1, round(args.seconds / w["round_s"]))),
           "--trace", str(args.trace),
           "--data", data,
           "--drops", ",".join(f"{p}:{n}" for p, n in drops),
           "--ops", ",".join(w["ops"]), "--setup-op", w["setup_op"],
           "--out", out, "--threads", str(threads),
           "--commit", source_id()]
    jlog = os.path.join(run_dir, "jvm.log")
    rc = run_bounded(cmd, cwd, jlog, DEADLINE_S - (time.time() - t_built), env)
    rec_path = os.path.join(out, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        log(tail(jlog))
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(rec_path) as f:
        rec = json.load(f)

    # outputs: first run of each op against the expected result; the JVM
    # already checked every repeat against that first run
    wrong = set()
    for c in rec["checks"]:
        want = exp[c["op"]]
        if want is None:
            continue
        reason = check.same(check.got(c), want)
        c["ok"] = reason is None
        if reason:
            c["reason"] = reason[:500]
            wrong.add(c["op"])
            log(f"WRONG OUTPUT {c['op']}: {reason[:300]}")
    basis = [r for r in rec["op_records"]
             if r["round"] >= 0 and (args.trace or not r["traced"])]
    failed = sum(1 for r in basis if not r["ok"] or r["op"] in wrong)
    setup_wrong = rec["provenance"]["setup_op"] in wrong
    attempted = len(basis)
    rec["failed"] = failed
    rec["failed_ratio"] = failed / attempted if attempted else 1.0
    if rec["trace"]:
        rec["per_layer"]["failed_ratio"] = rec["failed_ratio"]
    with open(rec_path, "w") as f:
        json.dump(rec, f)

    units = UNITS_TRACE if args.trace else UNITS_E2E
    source = rec["per_layer"] if args.trace else rec["end_to_end"]
    metrics = {k: {"value": source[k], "unit": u} for k, u in units.items()}
    summary = {k: rec[k] for k in ("workload", "trace", "provenance",
                                   "rounds", "measured_s", "op_tail",
                                   "etl_rows_per_s", "failed_ratio")}
    summary["checks"] = rec["checks"]
    summary["run_wall_s"] = time.time() - t_start
    print(json.dumps(summary))
    print(json.dumps({"correct": failed == 0 and not setup_wrong,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


UNITS_E2E = {"setup_s": "s", "ops_per_min": "1/min", "op_p50_s": "s",
             "op_tail_s": "s", "cpu_s_per_op": "s", "heap_retained_mb": "MB",
             "stored_mb": "MB"}
UNITS_TRACE = {
    "registry.build_s": "s", "registry.build_jobs": "count",
    "registry.self_s": "s",
    "operators.execute_s": "s", "operators.execute_jobs": "count",
    "operators.self_s": "s",
    "pipeline.extract_s": "s", "pipeline.transform_s": "s",
    "pipeline.load_s": "s", "pipeline.self_s": "s",
    "sources.read_mb": "MB", "sources.read_rows": "count",
    "spark.jobs": "count", "spark.stages": "count",
    "spark.stages_skipped": "count", "spark.tasks": "count",
    "spark.task_retries": "count", "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s", "spark.job_concurrency": "ratio",
    "spark.task_cpu_s": "s", "spark.task_gc_s": "s", "spark.task_wait_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.output_mb": "MB",
    "streaming.triggers": "count", "streaming.planning_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "catalog.ddl_events": "count", "storage.write_amp": "ratio",
    "trace.overhead_pct": "%", "etl_rows_per_s": "1/s",
    "failed_ratio": "ratio",
}

if __name__ == "__main__":
    main()
