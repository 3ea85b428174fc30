#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the engine from source through
the repository's own sbt build (offline, once per source change),
generates the inputs from the seed, starts one JVM with a local[nproc]
Spark session that drives the workload through the engine's public entry
points, checks every output, and prints the metrics. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Everything it writes stays under perfbench/.work and the build's target
directories. See perfbench/README.md.
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = ["dml_point", "olap_sql", "cdc_replica"]
RUN_LIMIT_S = 170  # one run, build excluded
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# repository's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark; returns the classpath file."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as c:
            built = c.read().split("\n")[1].split(os.pathsep)
            if f.read() == stamp and all(os.path.exists(p) for p in built):
                return cp_file
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True,
                           text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write("-cp\n" + lines[-1].strip() + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp_file


def run_jvm(args, cp_file, data_dir, run_dir, deadline):
    out = os.path.join(run_dir, "out.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"@{cp_file}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir, "--work", run_dir, "--out", out,
            "--cpus", str(nproc())]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=lf)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            fail("run exceeded its time limit")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the benchmark JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def declared_units(trace):
    """Each metric the run must print, with its unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


# the tables each workload reads, and the test data scale whose row counts
# they are generated at: dml_point and cdc_replica seed `acct` from the
# 15,000 sf0.1 customers, olap_sql reads every table (None) at sf0.01
INPUTS = {"dml_point": ("sf0.1", ["customer"]),
          "olap_sql": ("sf0.01", None),
          "cdc_replica": ("sf0.1", ["customer"])}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}; run from a full checkout")
    try:
        import duckdb  # noqa: F401  the oracle for olap_sql
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401
    except ImportError as e:
        fail(f"missing python module: {e.name}")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"`{tool}` is not on PATH")

    if not os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py")):
        fail("tools/oracle_check.py is missing; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    cp_file = build()
    start = time.time()
    import datagen
    import check
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir = os.path.join(run_dir, "data")
    try:
        scale, tables = INPUTS[args.workload]
        datagen.generate(args.seed, data_dir, scale, tables)
        res = run_jvm(args, cp_file, data_dir, run_dir, start + RUN_LIMIT_S)
        errors = list(res["errors"])
        if res["error_count"] > len(errors):
            errors.append(f"... {res['error_count'] - len(errors)} more")
        oracle = os.path.join(run_dir, "olap-oracle.json")
        if os.path.exists(oracle):
            n, fails = check.compare(data_dir, os.path.join(
                run_dir, "olap-results"), oracle)
            print(f"oracle: {n - len(fails)}/{n} results match DuckDB")
            errors += fails
        if args.trace:
            spans = os.path.join(WORK, "spans")
            os.makedirs(spans, exist_ok=True)
            dest = os.path.join(spans, f"{args.workload}-{args.seed}.jsonl")
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), dest)
            print(f"spans: {dest}")
            for c, v in sorted(res.get("classes", {}).items()):
                print(f"class {c:>14}: n={int(v['n'])} p50={v['p50_ms']:.1f} ms "
                      f"p90={v['p90_ms']:.1f} ms")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in errors:
        print(f"WRONG: {e}")
    for f in res["failures"]:
        print(f"FAILED: {f}")
    print("setup runs (s): " + ", ".join(f"{s:.3f}" for s in res["setup_runs_s"]))
    units = declared_units(args.trace)
    if set(res["metrics"]) != set(units):
        fail(f"metrics {sorted(set(res['metrics']) ^ set(units))} differ "
             "from BENCHMARK.json")
    metrics = {k: {"value": v, "unit": units[k]}
               for k, v in sorted(res["metrics"].items())}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    attempted = max(int(res["attempted"]), 1)
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
