#!/usr/bin/env python3
"""Seeded benchmark of the extraction engine, one workload per run.

    python3 perfbench/run.py --workload <extract|graph|contract> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark (an sbt
build in perfbench/ that depends on the program's build at the root);
later runs reuse the build while sources and build files are unchanged. Each run starts one JVM with Spark at local[<cores>], stages the
seeded inputs, runs a warm pass, then timed passes for --seconds, checking
every pass's output outside its timing. The contract workload's results are
compared with DuckDB running the program's oracle SQL over the same tables.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it carries the per-workload detail and the
output checks. With --trace 1 the metrics are the per-layer ones and the
spans are written to perfbench/out/trace-<workload>-<seed>.json.

Everything a run writes stays in the checkout: the build in target/ and
perfbench/target, the run's scratch root (java.io.tmpdir, SPARK_LOCAL_DIRS,
staged inputs, outputs) in perfbench/work/run-<pid>, deleted at exit, and
the oracle cache and traces in perfbench/out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
DATA = os.path.join(HERE, "data")
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench.classpath")

WORKLOADS = ("extract", "graph", "contract")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + benchmark once per source state; return the classpath."""
    builds = [os.path.join(d, f) for d in (ROOT, HERE)
              for f in ("build.sbt", os.path.join("project", "build.properties"))]
    stamp = tree_hash([PROGRAM_SRC, BENCH_SRC] + [b for b in builds if os.path.exists(b)])
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(f"{stamp}\n{cp}\n")
    return cp


def clean_stale_runs():
    """Remove scratch roots left by runs that were killed before cleanup."""
    if not os.path.isdir(WORK):
        return
    for d in os.listdir(WORK):
        if not d.startswith("run-"):
            continue
        try:
            os.kill(int(d[4:]), 0)
            alive = True
        except (ValueError, ProcessLookupError):
            alive = False
        except PermissionError:
            alive = True
        if not alive:
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def run_jvm(cp, args, run_dir, result_path):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # fixed heap size: the full GC after each pass must not shrink the heap
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--data", DATA, "--out", result_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die("timed out" if code is None else f"benchmark JVM exited with {code}")
    with open(result_path) as fh:
        return json.load(fh)


def oracle_digests(oracle_sql):
    """DuckDB digests of each oracle query over the fixture tables, cached
    by (SQL, fixture bytes): they depend on neither seed nor program."""
    import oracle
    sf = os.path.join(DATA, "sf0.01")
    fixture = tree_hash([sf])
    cache_path = os.path.join(OUT, "oracle-cache.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    keys = {q: hashlib.sha256((fixture + sql).encode()).hexdigest()
            for q, sql in oracle_sql.items()}
    missing = {q: sql for q, sql in oracle_sql.items() if keys[q] not in cache}
    if missing:
        for q, d in oracle.digests(sf, missing).items():
            cache[keys[q]] = d
        os.makedirs(OUT, exist_ok=True)
        with open(cache_path + ".tmp", "w") as fh:
            json.dump(cache, fh)
        os.replace(cache_path + ".tmp", cache_path)
    return {q: cache[keys[q]] for q in oracle_sql}


def on_signal(signum, frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        die("--seed must be >= 0")
    if not os.path.isdir(PROGRAM_SRC):
        die(f"no program sources at {os.path.relpath(PROGRAM_SRC, os.getcwd())}; "
            "run from the root of a checkout")
    if not os.path.isdir(os.path.join(DATA, "sf0.01")):
        die("fixture tables missing under perfbench/data")

    cp = build()
    clean_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(cp, args, run_dir, os.path.join(run_dir, "result.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = res["checks"]
    failed = res["failed"]
    attempted = res["attempted"]
    bad_checks = res["failed_checks"]
    if res["digests"]:
        want = oracle_digests(res["info"]["oracle_sql"])
        bad_ops = 0
        for d in res["digests"]:
            ok = want.get(d["query"], {}).get("digest") == d["digest"]
            if not ok:
                if d["pass"] >= 0:
                    bad_ops += 1
                bad_checks += 1
            checks.append({"name": f"oracle {d['query']} pass {d['pass']}", "ok": ok,
                           "note": f"{d['rows']} rows vs {want.get(d['query'], {}).get('rows')}"})
        failed = min(attempted, failed + bad_ops)
        del res["info"]["oracle_sql"]

    detail = res["detail"]
    spans = detail.pop("spans", None)
    if spans is not None:
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans}, fh)
    print(json.dumps({"detail": detail, "info": res["info"],
                      "checks_failed": [c for c in checks if not c["ok"]],
                      "checks_passed": sum(1 for c in checks if c["ok"])}))
    units = {
        "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
        "spark.busy_ratio": "fraction",
        "spark.task_skew": "ratio", "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.failed_tasks": "count", "trace.overhead_s": "s",
    }

    def unit(name):
        if name in units:
            return units[name]
        if name.endswith("_mb"):
            return "MB"
        if name.endswith("us_per_doc"):
            return "us/doc"
        if name.endswith("bytes_per_doc"):
            return "B/doc"
        return "s"

    metrics = {k: {"value": v, "unit": unit(k)} for k, v in res["metrics"].items()}
    print(json.dumps({"correct": bad_checks == 0 and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
