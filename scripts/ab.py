#!/usr/bin/env python3
"""Paired A/B runs of the repository benchmark: a parent against a change.

    python3 scripts/ab.py --workloads dedup_curate --pairs 10
    python3 scripts/ab.py --aa --pairs 10          # harness bias
    python3 scripts/ab.py --workloads ann_lifecycle --pairs 3 --trace

The parent (HEAD) is exported with `git archive` into a scratch
directory; the change is the working tree. `--aa` runs the parent against
a second export of itself, so any ratio it reports is harness bias, not
code. Each tree builds once (perfbench/run.py caches the build per source
digest), then every workload runs `--pairs` pairs in ABBA order (pair i
runs parent then change when i is even, change then parent when odd),
both runs of a pair with the same seed and BENCHMARK.json's run_seconds.

Per workload and metric it prints each side's median and interquartile
range (IQR), the median of the per-pair change/parent ratios, a bootstrap
90 % interval of that median, and how many pairs moved the better way
(`better` from BENCHMARK.json), and per workload the failed operations
summed over each side's runs. A metric is marked GAIN when the change won
at least nine tenths of the pairs, the medians differ by more than the
parent's IQR and the change failed no more operations than the parent; it
is marked WORSE THAN BOUND when its median ratio is worse than its
BENCHMARK.json bound, and UNRESOLVED when either side's IQR is wider than
the bound times that side's median (the runs spread too widely to tell a
change within the bound from none), unless every change run reads better
than every parent run. `--trace`
runs perfbench traced (`--trace 1`): each pair then carries the per-layer
metrics (build phases, Spark jobs, maintenance, probes) in place of the
end-to-end ones, so the layer that moved gets its own ratio and interval.
Raw runs
are written to <scratch>/ab-runs.json. Exits 1 if any run was incorrect
or failed, or if the change failed more operations than the parent.
"""
import argparse
import importlib.util
import json
import os
import random
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print("[ab] " + msg, file=sys.stderr, flush=True)


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def export(dest):
    """The tree of HEAD at `dest`, re-exported only when HEAD moved, so a
    repeated call keeps the earlier build."""
    sha = git("rev-parse", "--verify", "HEAD^{commit}")
    stamp = os.path.join(dest, ".ab-rev")
    if os.path.isfile(stamp) and open(stamp).read().strip() == sha:
        return dest
    subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit("git archive HEAD failed")
    with open(stamp, "w") as f:
        f.write(sha + "\n")
    log("exported HEAD (%s) to %s" % (sha[:9], dest))
    return dest


def build(tree):
    """Build the benchmark in `tree` through its own perfbench/run.py, so
    no timed run pays for (or times out on) the build."""
    sys.dont_write_bytecode = True  # leave no __pycache__ in the tree
    spec = importlib.util.spec_from_file_location(
        "perfbench_run_%d" % abs(hash(tree)), os.path.join(tree, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    os.makedirs(mod.OUT, exist_ok=True)
    mod.build()


def run(tree, workload, seed, seconds, trace):
    """One perfbench run in `tree`: its result object, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        log("run failed in %s (exit %d): %s" % (
            tree, proc.returncode, proc.stderr.strip().splitlines()[-1:]))
        return None
    result = json.loads(lines[-1])
    log("%s seed %d in %s: correct=%s, failed=%s, %.0f s" % (
        workload, seed, os.path.basename(tree), result["correct"],
        result["failed"], time.time() - t0))
    return result


def bootstrap(ratios, reps=2000, level=0.90):
    """Percentile bootstrap interval of the median ratio, resampling pairs."""
    rnd = random.Random(7)
    meds = sorted(statistics.median(rnd.choices(ratios, k=len(ratios)))
                  for _ in range(reps))
    lo = meds[int((1 - level) / 2 * reps)]
    hi = meds[min(reps - 1, int((1 + level) / 2 * reps))]
    return lo, hi


def median_iqr(xs):
    """Median and interquartile range (0 for a single run)."""
    med = statistics.median(xs)
    if len(xs) < 2:
        return med, 0.0
    q = statistics.quantiles(xs, n=4)
    return med, q[2] - q[0]


def report(workload, pairs, specs):
    """Print the workload's table; True when the change failed more
    operations than the parent."""
    failed = [sum(r["failed"] for r in side) for side in zip(*pairs)] or [0, 0]
    more_failed = failed[1] > failed[0]
    print("== %s: %d pairs, failed operations: parent %d, change %d%s ==" % (
        workload, len(pairs), failed[0], failed[1],
        " (MORE FAILED)" if more_failed else ""))
    print("%-28s %6s %11s %11s %11s %11s %8s %19s %7s" % (
        "metric", "better", "parent", "parent IQR", "change", "change IQR",
        "ratio", "90% interval", "better"))
    names = sorted({m for a, b in pairs for m in a["metrics"]} &
                   {m for a, b in pairs for m in b["metrics"]})
    for name in names:
        vals = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                for a, b in pairs
                if name in a["metrics"] and name in b["metrics"]]
        vals = [(p, c) for p, c in vals if p is not None and c is not None]
        if not vals:
            continue
        spec = specs.get(name, {})
        higher = spec.get("better", "higher") == "higher"
        ratios = [c / p for p, c in vals if p != 0]
        wins = sum(1 for p, c in vals if (c > p if higher else c < p))
        parents, changes = [p for p, _ in vals], [c for _, c in vals]
        pm, iqr = median_iqr(parents)
        cm, ciqr = median_iqr(changes)
        gain = wins >= 0.9 * len(vals) and abs(cm - pm) > iqr and not more_failed
        bound = spec.get("bound")
        separated = (min(changes) > max(parents) if higher
                     else max(changes) < min(parents))
        unresolved = (bound is not None and not separated and
                      (iqr > bound * abs(pm) or ciqr > bound * abs(cm)))
        if ratios:
            med = statistics.median(ratios)
            lo, hi = bootstrap(ratios)
            ratio, interval = "%8.3f" % med, "[%7.3f, %7.3f]" % (lo, hi)
            worse = bound is not None and (med < 1 - bound if higher else med > 1 + bound)
        else:
            ratio, interval, worse = "%8s" % "-", "%19s" % "-", False
        flags = (("  GAIN" if gain else "") + ("  WORSE THAN BOUND" if worse else "") +
                 ("  UNRESOLVED" if unresolved else ""))
        print("%-28s %6s %11.5g %11.5g %11.5g %11.5g %s %s %3d/%-3d%s" % (
            name, "up" if higher else "down", pm, iqr, cm, ciqr, ratio, interval,
            wins, len(vals), flags))
    return more_failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--aa", action="store_true",
                    help="run the parent against a second copy of itself")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated (default: all in BENCHMARK.json)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1001, help="seed of the first pair")
    ap.add_argument("--trace", action="store_true",
                    help="traced runs: report the per-layer metrics too")
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "graft-ab"),
                    help="where the exported trees and raw runs go")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = bench["run_seconds"]

    os.makedirs(a.scratch, exist_ok=True)
    parent = export(os.path.join(a.scratch, "parent"))
    change = export(os.path.join(a.scratch, "parent-copy")) if a.aa else ROOT
    log("parent %s, change %s" % (parent, change))
    for tree in (parent, change):
        build(tree)

    runs = {w: [] for w in workloads}
    bad = 0
    for w in workloads:
        for i in range(a.pairs):
            seed = a.seed + i
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            got = {}
            for label, tree in order:
                got[label] = run(tree, w, seed, seconds, a.trace)
            ok = all(r is not None and r["correct"] for r in got.values())
            if not ok:
                bad += 1
                log("pair %d of %s had an incorrect or failed run" % (i, w))
            runs[w].append({"seed": seed, "parent_first": i % 2 == 0, **got})
            with open(os.path.join(a.scratch, "ab-runs.json"), "w") as f:
                json.dump(runs, f)
    more_failed = 0
    for w in workloads:
        done = [(p["parent"], p["change"]) for p in runs[w]
                if p["parent"] is not None and p["change"] is not None]
        more_failed += report(w, done, specs)
    if bad:
        print("%d pair(s) with an incorrect or failed run" % bad)
    if more_failed:
        print("%d workload(s) where the change failed more operations" % more_failed)
    if bad or more_failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
