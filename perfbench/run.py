#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the engine and
the harness from source (sbt, offline) and trains the serving model on
the sf0.1 input tables kept in perfbench/data/sf0.1; both are cached
under .bench_build/ and redone when a source changes.
Each run is a fresh JVM with its own warehouse and java.io.tmpdir under
.bench_build/, removed when the run ends. The last line of standard
output is the JSON result; the full report (rounds, per-query times,
failures, environment) is kept under .bench_build/reports/.
"""
import argparse
import fcntl
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
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stamp_of(roots):
    """Hash of every file under `roots`, so a changed source rebuilds."""
    h = hashlib.sha256()
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_checked(cmd, cwd, timeout, env=None):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    if p.returncode != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        die(f"exit {p.returncode}: {' '.join(cmd[:3])} ...")
    return out


def ensure_build(stamp):
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    out = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S, sbt_env())
    cp = [l for l in out.splitlines() if l.strip()][-1].strip()
    if "classes" not in cp:
        die(f"could not read the classpath from sbt: {cp[:200]}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def source_rev(stamp):
    """The git revision when the checkout is a git repository, else the source hash."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return f"src-{stamp}"


def java(cp, tmp, main, args, timeout):
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return run_checked(cmd + ["-cp", cp, main] + args, ROOT, timeout)


def check_data():
    """The input tables, checked against their recorded hashes."""
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(DATA, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != want:
                    die(f"input table {name} does not match SHA256SUMS")


def ensure_model(cp, stamp):
    model = os.path.join(BUILD, f"model-{stamp}")
    if not os.path.exists(os.path.join(model, "_DONE")):
        for old in os.listdir(BUILD):
            if old.startswith("model-"):
                shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
        tmp = os.path.join(BUILD, "prepare-tmp")
        java(cp, tmp, "perfbench.Prepare", [DATA, model], BUILD_TIMEOUT_S)
        shutil.rmtree(tmp, ignore_errors=True)
        open(os.path.join(model, "_DONE"), "w").close()
    return model


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--regen", action="store_true",
                    help="rewrite the expected fingerprints from this run")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src/main/scala/graft; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    check_data()

    stamp = stamp_of([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                      os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        # one build and one input generation at a time per checkout
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = ensure_build(stamp)
        # the model is trained with the engine, so it is retrained with
        # every build
        model = ensure_model(cp, stamp)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    report = os.path.join(run_dir, "report.json")
    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--model", model, "--expected", expected,
            "--out", report, "--rev", source_rev(stamp)]
    if a.regen:
        args += ["--regen", expected]
    t0 = time.time()
    try:
        java(cp, os.path.join(run_dir, "tmp"), "perfbench.Main", args, RUN_TIMEOUT_S)
        with open(report) as fh:
            rep = json.load(fh)
        kept = os.path.join(BUILD, "reports")
        os.makedirs(kept, exist_ok=True)
        base = os.path.join(kept, f"{a.workload}-s{a.seed}-t{a.trace}")
        shutil.copy(report, base + ".json")
        if os.path.exists(report + ".spans.jsonl"):
            shutil.copy(report + ".spans.jsonl", base + ".spans.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    section = rep["per_layer"] if a.trace else rep["end_to_end"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in section:
            die(f"report lacks metric {m['name']}")
        metrics[m["name"]] = {"value": section[m["name"]], "unit": m["unit"]}
    d = rep["detail"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{rep['attempted']} operations, {rep['failed']} failed, "
          f"wall {time.time() - t0:.1f} s, latency median {d['p50_ms']:.1f} ms and "
          f"p{d['tail_percentile']} {d['tail_ms']:.1f} ms of {d['latency_samples']} samples")
    for f in d.get("failures", [])[:10]:
        print(f"  FAILED {json.dumps(f)}")
    for k, v in metrics.items():
        print(f"  {k:28s} {v['value']:14.4f} {v['unit']}")
    print(f"  report: {base}.json")
    print(json.dumps({"correct": rep["failed"] == 0, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
