#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload exact_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the benchmark
package (perfbench/build.sbt, which compiles the engine's sources with the
benchmark's own) and records the runtime classpath; later calls reuse it
while the sources are unchanged. Each run gets a fresh JVM whose working
directory is a new scratch directory, so no index cache survives from an
earlier run. Seeded inputs and their ground truth are cached per seed.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. Everything else goes to stderr.
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
OUT = os.path.join(HERE, "out")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 840
INPUT_SEEDS_KEPT = 4  # per workload; older seeds' inputs are evicted

JVM_OPTS = [
    "-Xmx4g", "-Xss4m", "-XX:-UsePerfData",
    "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the benchmark package; returns the runtime classpath."""
    stamp = os.path.join(OUT, "classpath.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            rec = json.load(f)
        if rec.get("digest") == digest:
            return rec["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += " -XX:-UsePerfData -Djava.io.tmpdir=" + tmp
    log("building the benchmark package")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        raise SystemExit("benchmark build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log("built in %.1f s" % (time.time() - t0))
    return classpath


def inputs_dir(workload, seed):
    """This seed's input cache, marked most recent; older seeds beyond
    INPUT_SEEDS_KEPT are evicted to bound the disk the cache takes."""
    base = os.path.join(OUT, "inputs")
    mine = os.path.join(base, "%s-s%d" % (workload, seed))
    os.makedirs(mine, exist_ok=True)
    os.utime(mine)
    others = [os.path.join(base, d) for d in os.listdir(base)
              if d.startswith(workload + "-s")]
    others.sort(key=os.path.getmtime)
    for d in others[:max(0, len(others) - INPUT_SEEDS_KEPT)]:
        shutil.rmtree(d, ignore_errors=True)
    return mine


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found: run from a checkout of the repository")
    expected = expected_metrics(a.trace)
    os.makedirs(OUT, exist_ok=True)
    classpath = build()

    inputs = inputs_dir(a.workload, a.seed)
    work = os.path.join(OUT, "runs", "%s-s%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    trace_file = os.path.join(OUT, "traces", "%s-s%d.jsonl" % (a.workload, a.seed))
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)

    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + work, "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--inputs", inputs, "--result", result_file, "--trace-file", trace_file]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("run exceeded its time limit")
    try:
        with open(result_file) as f:
            result = json.loads(f.read())
    except (OSError, ValueError):
        result = None
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        raise SystemExit("benchmark JVM failed (exit %d)" % proc.returncode)
    if sorted(result["metrics"]) != sorted(expected):
        raise SystemExit("metrics %s do not match BENCHMARK.json %s"
                         % (sorted(result["metrics"]), sorted(expected)))
    log("run took %.1f s" % (time.time() - started))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
