#!/usr/bin/env python3
"""Extraction benchmark: one workload, one closed loop, checked output.

    python3 perfbench/run.py --workload pdf-custom --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (perfbench/build.py), runs
the workload in one JVM at local[nproc] and prints, as its last line, one
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer metrics
with --trace 1. The line before it carries every metric the run measured,
the seed and the environment stamp. The full record (and with --trace 1 the
span and task trace) is kept under perfbench/results/. Inputs, oracle
digests and outputs live under perfbench/work/ and are removed at the end.

Exit code: 0 when every timed pass matched the oracle, 1 when any doc
differed or a pass threw, 2 when the benchmark could not run.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import build

BENCH_DIR = build.BENCH_DIR
ROOT = build.ROOT
WORKLOADS = ("pdf-custom", "pdf-commit", "web-extract")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# A fixed young generation gives every pass several young collections, so
# the old generation's occupancy after GC is sampled the same way each pass.
YOUNG = "512m"

# Spark on JDK 17 outside spark-submit needs these (as build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_probe():
    """Median seconds of a fixed single-thread loop: the speed the VM's CPU
    gives right now, which /proc/loadavg inside a VM does not show."""
    times = []
    for _ in range(3):
        t, x = time.perf_counter(), 0
        for i in range(1_000_000):
            x += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_stamp():
    """HEAD sha and dirty flag, or None outside a git work tree."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=20).stdout.strip()
        dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=no"],
                               capture_output=True, text=True, timeout=20).stdout.strip() != ""
        return {"sha": sha, "dirty": dirty}
    except (OSError, subprocess.SubprocessError):
        return None


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(cmd, log_path):
    """Run the JVM in its own process group; kill the group on timeout or
    when this process is told to stop."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def fail(msg, log_path=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log_path and os.path.isfile(log_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        spec = contract()
        classes, jars, source_digest = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e))
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BENCH_DIR, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(BENCH_DIR, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(work, "record.json")
    log_path = os.path.join(results, f"{tag}.log")
    cores = nproc()
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out, "--cores", str(cores)]

    load_before, load_after, probe_after = loadavg(), None, None
    probe_before = cpu_probe()
    started = time.time()
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime(started))
    try:
        code = run_jvm(cmd, log_path)
        load_after, probe_after = loadavg(), cpu_probe()
        if code is None:
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s", log_path)
        if code != 0 or not os.path.isfile(out):
            fail(f"JVM exited with {code}", log_path)
        with open(out) as f:
            rec = json.load(f)
        trace_file = out[:-len(".json")] + ".trace.json"
        if a.trace and os.path.isfile(trace_file):
            rec["trace_file"] = f"{stamp}-{tag}.trace.json"
            shutil.move(trace_file, os.path.join(results, rec["trace_file"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["env"] = {
        "git": git_stamp(), "source_sha256": source_digest, "nproc": cores, "heap": HEAP,
        "young": YOUNG,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_probe_s_before": probe_before, "cpu_probe_s_after": probe_after,
        "started_utc": stamp, "elapsed_s": round(time.time() - started, 3),
        "python": sys.version.split()[0],
    }
    with open(os.path.join(results, f"{stamp}-{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1)

    measured = {m["name"]: m for m in rec["metrics"]}
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"metrics missing from the record: {missing}", log_path)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"],
                      "metrics": {n: m["value"] for n, m in measured.items()},
                      "units": {n: m["unit"] for n, m in measured.items()},
                      "errors": rec["errors"][:5], "env": rec["env"]}))
    print(json.dumps({
        "correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"],
        "metrics": {m["name"]: {"value": measured[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
