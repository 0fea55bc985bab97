#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload tail_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine and the harness
(perfbench/harness) from source when their sources changed, generates the
workload's inputs from --seed, runs the workload in fresh JVMs for about
--seconds of measured time, checks the outputs, and prints one JSON object
as the last line of stdout: every end-to-end metric of BENCHMARK.json with
--trace 0, every per-layer metric with --trace 1. It exits 1 when an output
check fails and 2 when the checkout cannot run the benchmark.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("tail_drain", "registry_mix")
DEADLINE_S = 170
# JVMs per untraced run (see main).
JVMS = {"tail_drain": 1, "registry_mix": 2}
# Set-ups per JVM (the median is reported): the first one pays JVM start.
SETUPS = {"tail_drain": 3, "registry_mix": 4}
# tail_drain: one-shot catch-up over 2 x nproc shards; untimed warm-up
# passes after the set-ups.
DRAIN_RECORDS = 100_000
DRAIN_WARM_PASSES = 4
# registry_mix: generated tables at this scale factor; per JVM, untimed
# warm-up passes, then at least this many timed passes over the query list.
REGISTRY_SF = 0.01
REGISTRY_WARM_PASSES = 3
REGISTRY_MIN_PASSES = 2


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ build

def _sources():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
            "perfbench/harness/build.sbt", "perfbench/harness/project/*.properties",
            "perfbench/harness/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True) if os.path.isfile(f))
    return sorted(files)


def build():
    """Compiles the engine and the harness with sbt unless the build stamp
    matches the current sources. Returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a checkout of the engine: {need} is missing")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, ".bench_build", "perfbench")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    os.makedirs(out, exist_ok=True)
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt keeps its temp files under java.io.tmpdir: point it inside the build dir.
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or
                       "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g") + \
        f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # sbt always binds a boot socket under $XDG_RUNTIME_DIR (else java.io.tmpdir).
    # A unix socket path holds at most 107 bytes, which a deep checkout path
    # exceeds, so give it as a short path relative to sbt's working directory.
    harness_dir = os.path.join(HERE, "harness")
    env["XDG_RUNTIME_DIR"] = os.path.relpath(tmp, harness_dir)
    log("building engine and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=harness_dir, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    cp = [l for l in r.stdout.splitlines() if not l.startswith("[") and "classes" in l]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


# ------------------------------------------------------------------ inputs

def make_inputs(a, work):
    """Generates the workload's inputs; returns (harness args, check state)."""
    inp = os.path.join(work, "input")
    n = cores()
    if a.workload == "tail_drain":
        now, start, due = gen.drain_stream(f"{inp}/stream", a.seed, DRAIN_RECORDS, 2 * n)
        return ["--now-us", now, "--start", start, "--warm-passes", DRAIN_WARM_PASSES], {"due": due}
    sf_dir = os.path.join(inp, "sf")
    gen.registry_tables(sf_dir, a.seed, REGISTRY_SF)
    with open(os.path.join(HERE, "queries", f"{a.workload}.txt")) as f:
        ids = [l.strip() for l in f if l.strip()]
    order = ids[:]
    random.Random(a.seed).shuffle(order)
    return ["--sf-dir", sf_dir, "--queries", ",".join(ids), "--order", ",".join(order),
            "--warm-passes", REGISTRY_WARM_PASSES, "--min-passes", REGISTRY_MIN_PASSES], \
        {"sf": sf_dir, "ids": ids}


# ------------------------------------------------------------------ checks

def check_outputs(a, work, res, state):
    """Runs the output checks; returns the number of failed outputs. Each
    output counts once: a drain pass fails when Tail.run's exit code or its
    lines are wrong, a registry query when its verify result is missing or
    differs from the oracle."""
    if a.workload == "tail_drain":
        due = state["due"]
        want = checks.digest(gen.render(r) for r in due)
        failed = 0
        for k, rc in enumerate(res["pass_rc"]):
            with open(os.path.join(work, "lines", f"drain-pass{k}.txt")) as f:
                lines = f.read().splitlines()
            problems = ([f"Tail.run exit code {rc}"] if rc != 0 else []) + \
                checks.check_tail(lines, due, want)
            if problems:
                failed += 1
                log(f"drain pass {k}: " + "; ".join(problems[:5]))
        return failed
    vdir = os.path.join(work, "verify")
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), state["sf"], vdir]
                       + state["ids"], capture_output=True, text=True, cwd=work)
    passed = sum(l.startswith("PASS") for l in r.stdout.splitlines())
    for l in r.stdout.splitlines():
        if l.startswith("FAIL"):
            log(l[:300])
    if r.returncode not in (0, 1):
        log("tools/check.py crashed: " + r.stderr[-500:])
    with open(os.path.join(vdir, "oracle_sql.json")) as f:
        oracled = json.load(f)
    res["oracle_checked"] = len(oracled)
    res["no_oracle"] = [q for q in state["ids"] if q not in oracled]
    missing = [q for q in res["no_oracle"] if not os.path.isdir(os.path.join(vdir, q))]
    for q in missing:
        log(f"FAIL {q}: no spark output written")
    return len(oracled) - passed + len(missing)


# ------------------------------------------------------------------ harness

def run_jvm(a, cp, work, k, seconds, harness_args, budget):
    """Runs the harness in a fresh JVM for `seconds` of measured time and
    returns its result. JVM 0 of a run writes the registry outputs the
    checks compare."""
    out = os.path.join(work, f"result-{k}.json")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # A fixed, pre-touched heap, so peak RSS does not depend on when G1
    # grew the heap.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seconds", seconds,
            "--trace", a.trace, "--cores", cores(), "--verify", int(k == 0),
            "--setups", SETUPS[a.workload], "--work", work,
            "--input", os.path.join(work, "input"), "--out", out] + harness_args
    cmd = [str(c) for c in cmd]
    log_path = os.path.join(work, f"jvm-{k}.log")
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path).read()[-6000:])
        die(f"harness JVM {k} failed (exit {rc})", 1)
    return json.load(open(out))


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A terminated run still stops its JVM and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bad = checks.self_test()
    if bad:
        die("output-check self-test failed: " + ", ".join(bad), 1)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json is missing")
    spec = json.load(open(spec_path))
    cp = build()
    # The run's deadline starts after the build, which only the first run
    # in a checkout pays.
    t_start = time.monotonic()
    runs = os.path.join(ROOT, ".bench_runs")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        harness_args, state = make_inputs(a, work)
        log(f"inputs ready at {time.monotonic() - t_start:.1f}s")
        # A registry_mix JVM settles into a speed of its own (README,
        # "Steadiness"), so an untraced registry_mix run uses several JVMs,
        # each timed for an equal share of --seconds, and reports the mean
        # of their figures.
        n_jvms = 1 if a.trace else JVMS[a.workload]
        results = []
        for k in range(n_jvms):
            budget = DEADLINE_S - (time.monotonic() - t_start)
            results.append(run_jvm(a, cp, work, k, a.seconds / n_jvms, harness_args, budget))
        res = results[0]
        log(f"harness done at {time.monotonic() - t_start:.1f}s")
        failed = sum(r["failed"] for r in results) + check_outputs(a, work, res, state)
        log(f"checks done at {time.monotonic() - t_start:.1f}s")
        metrics = {m: statistics.fmean(r["metrics"][m] for r in results)
                   for m in res["metrics"] if all(m in r["metrics"] for r in results)}
        names = spec["per_layer" if a.trace else "end_to_end"]
        out_metrics = {}
        for m in names:
            v = metrics.get(m["name"])
            if v is None:
                if not a.trace:
                    die(f"harness did not report {m['name']}", 1)
                v = 0.0  # the layer is not on this workload's path
            out_metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        detail = [{k: r.get(k) for k in (
            "window_verdict", "steal_frac", "window_classes", "health_start", "health_end",
            "setup_samples_s", "setup_steal_frac", "passes", "pass_walls_s", "pass_steal_frac",
            "samples", "timed_s",
            "trace_untraced_unit_ms", "trace_traced_unit_ms", "self_time_ms_per_unit",
            "traced_units", "oracle_checked", "no_oracle",
            "query_median_ms", "query_samples_ms", "metrics")
            if k in r} for r in results]
        print(json.dumps({"detail": detail}))
        attempted = sum(int(r["attempted"]) for r in results)
        result = {"correct": failed == 0, "attempted": max(1, attempted),
                  "failed": int(failed), "metrics": out_metrics}
        print(json.dumps(result), flush=True)
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)


if __name__ == "__main__":
    sys.exit(main())
