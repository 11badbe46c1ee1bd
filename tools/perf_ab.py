#!/usr/bin/env python3
"""Paired A/B runs of perfbench: a base revision against the working tree.

    python3 tools/perf_ab.py --workload extract [--base HEAD~1] [--seeds 101-110]

Run from anywhere inside a checkout. The base revision is exported (`git
archive`) into a directory under the system temp dir, removed at exit. For
each seed, `perfbench/run.py --trace 0` runs once in the base checkout and
once in the working tree, with the side that runs first alternating from
seed to seed (perfbench/README.md: a claim needs ten or more such pairs).
Run length is BENCHMARK.json's `run_seconds` on both sides.

Printed, per metric: both medians, the change/parent ratio, each side's
spread (IQR / median), and how many pairs the change won; then each side's
correct runs and failed/attempted ops, and one JSON line with every run.

Exit status 1 if any end-to-end metric of BENCHMARK.json has a change median
worse than the parent median by more than its bound, if a run failed or was
incorrect, or if the change failed a larger share of ops; 0 otherwise.
Nothing under perfbench/ or BENCHMARK.json is written.
"""
import argparse
import atexit
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = subprocess.run(["git", "rev-parse", "--show-toplevel"], check=True, text=True,
                      stdout=subprocess.PIPE, cwd=os.path.dirname(os.path.abspath(__file__))
                      ).stdout.strip()


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export_base(rev):
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         check=True, text=True, stdout=subprocess.PIPE).stdout.strip()
    tmp = tempfile.mkdtemp(prefix="perf_ab-")
    atexit.register(shutil.rmtree, tmp, True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"perf_ab: git archive {rev} failed")
    return sha, tmp


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.Popen(cmd, cwd=checkout, text=True, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE)
    try:
        out, err = proc.communicate()
    except BaseException:
        # run.py stops its JVM and removes its scratch root on SIGTERM
        proc.terminate()
        proc.wait()
        raise
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-3000:])
        return None
    return json.loads(lines[-1])


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="HEAD~1")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="101-110")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seeds = parse_seeds(args.seeds)
    sha, base_dir = export_base(args.base)
    sides = {"parent": base_dir, "change": ROOT}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], args.workload, seed, bench["run_seconds"])
            runs[side].append(res)
            status = "error" if res is None else ("correct" if res["correct"] else "INCORRECT")
            print(f"seed {seed} {side}: {status}", file=sys.stderr, flush=True)

    def values(side, name):
        return [r["metrics"][name]["value"] for r in runs[side]
                if r is not None and name in r["metrics"]]

    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    names = sorted({n for rs in runs.values() for r in rs if r for n in r["metrics"]})
    print(f"workload {args.workload}, parent {sha[:12]} vs working tree, "
          f"{len(seeds)} pairs, seeds {args.seeds}, {bench['run_seconds']} s per run")
    print(f"{'metric':<34} {'parent':>11} {'change':>11} {'ratio':>7} "
          f"{'spread p':>9} {'spread c':>9} {'wins':>6}")
    for name in names:
        p, c = values("parent", name), values("change", name)
        if not p or not c:
            continue
        pm, cm = statistics.median(p), statistics.median(c)
        wins = ""
        if name in better:
            pairs = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                     for a, b in zip(runs["parent"], runs["change"])
                     if a and b and name in a["metrics"] and name in b["metrics"]]
            sign = 1 if better[name] == "lower" else -1
            wins = f"{sum(1 for a, b in pairs if sign * (b - a) < 0)}/{len(pairs)}"
        ratio = cm / pm if pm else float("nan")
        print(f"{name:<34} {pm:>11.4g} {cm:>11.4g} {ratio:>7.3f} "
              f"{spread(p):>9.3f} {spread(c):>9.3f} {wins:>6}")

    ok = True
    share = {}
    for side, rs in runs.items():
        done = [r for r in rs if r is not None]
        correct = sum(1 for r in done if r["correct"])
        failed = sum(r["failed"] for r in done)
        attempted = sum(r["attempted"] for r in done)
        share[side] = failed / attempted if attempted else 1.0
        print(f"{side}: {correct}/{len(rs)} runs correct, {failed}/{attempted} ops failed")
        ok &= correct == len(rs)
    if share["change"] > share["parent"]:
        print("REGRESSION: the change fails a larger share of ops")
        ok = False
    for m in bench["end_to_end"]:
        p, c = values("parent", m["name"]), values("change", m["name"])
        if not p or not c:
            print(f"REGRESSION: {m['name']} missing")
            ok = False
            continue
        pm, cm = statistics.median(p), statistics.median(c)
        worse = cm > pm * (1 + m["bound"]) if m["better"] == "lower" \
            else cm < pm * (1 - m["bound"])
        if worse:
            print(f"REGRESSION: {m['name']} median {cm:.4g} vs parent {pm:.4g} "
                  f"(bound {m['bound']})")
            ok = False
    print(json.dumps({"workload": args.workload, "parent": sha, "seeds": seeds,
                      "runs": {side: [r and {k: v["value"] for k, v in r["metrics"].items()}
                                      for r in rs] for side, rs in runs.items()}}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
