#!/usr/bin/env python3
"""CDC replay + analytics benchmark.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark with sbt (cdcbench/build.sbt) and caches the launch spec; later
runs start the JVM directly. The last line of standard output is the result
object: {"correct", "attempted", "failed", "metrics"}; the line before it,
prefixed "detail ", carries every figure of the run with its sizes and seed.

The end-to-end seconds are scaled to a reference host speed. A probe JVM
of its own (cdcbench.Calib) times a fixed computation before the benchmark
JVM starts, while it is stopped (SIGSTOP) between its setup and its timed
operations, and after it exits. setup_s is multiplied by
CALIB_REFERENCE_S / median(probe seconds) over the first two probes, and
op_p50_s over the last two. The traced run reports the op_p50_s factor as
host.speed; the raw figures are in the detail line.

Extra flags, for checking the benchmark itself:
  --write-fingerprints        regenerate cdcbench/fingerprints.txt (analytics)
  --corrupt-replica drop|alter  damage one replica row before the replay
                              gate; the run must then fail
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORKLOADS = ("replay_large_replica", "replay_large_batch", "analytics_heavy")
DEADLINE_S = 160
HEAP = "2g"
CALIB_SAMPLES = 4
# the probe's median seconds on an idle 4-core x86 host (JDK 17)
CALIB_REFERENCE_S = 0.1


def log(msg):
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for top in ("src/main", "project", "cdcbench/src", "cdcbench/project"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    for f in ("build.sbt", "cdcbench/build.sbt"):
        newest = max(newest, os.path.getmtime(os.path.join(ROOT, f)))
    return newest


def run(cmd, cwd, timeout):
    """Run `cmd` in its own process group, its output to stderr; on
    timeout kill the whole group (sbt and java start children) and wait.
    Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    """Compile the library and the benchmark, unless the launch spec is
    newer than every source."""
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) > newest_source_mtime():
        return
    log("building (sbt launchSpec)")
    t0 = time.time()
    code = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"], HERE, 850)
    if code != 0 or not os.path.exists(LAUNCH):
        raise SystemExit(f"[cdcbench] build failed (exit {code})")
    log(f"built in {time.time() - t0:.1f} s")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_paused(cmd, cwd, timeout, probe):
    """Run the benchmark JVM like `run`, its output to stderr. When it
    creates <cwd>/pause, stop its process group, call `probe`, let it
    continue and create <cwd>/resume. Returns the exit code, or None on
    timeout."""
    pause, resume = os.path.join(cwd, "pause"), os.path.join(cwd, "resume")
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    end = time.monotonic() + timeout
    try:
        while True:
            try:
                return proc.wait(timeout=0.02)
            except subprocess.TimeoutExpired:
                pass
            if time.monotonic() > end:
                return None
            if os.path.exists(pause):
                os.killpg(proc.pid, signal.SIGSTOP)
                try:
                    probe()
                finally:
                    os.killpg(proc.pid, signal.SIGCONT)
                os.remove(pause)
                open(resume, "w").close()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def calibrate(launch, work):
    """Probe seconds from a JVM of its own, which runs nothing else."""
    out = subprocess.run([java(), "-Xmx256m", *launch, "cdcbench.Calib", str(CALIB_SAMPLES)],
                         cwd=work, capture_output=True, text=True, timeout=20, check=True)
    return json.loads(out.stdout.strip().split("\n")[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-fingerprints", action="store_true")
    ap.add_argument("--corrupt-replica", choices=("drop", "alter"))
    a = ap.parse_args()

    # the benchmark measures the library of the checkout it sits in
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("[cdcbench] no library sources next to cdcbench/; "
                         "run from the root of a full checkout")
    build()
    with open(LAUNCH) as f:
        launch = f.read().split("\n")

    work = os.path.join(HERE, "target", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(HERE, "target", "trace", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}", *launch, "cdcbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work,
           "--data", os.path.join(HERE, "data"),
           "--fingerprints", os.path.join(HERE, "fingerprints.txt")]
    if a.trace:
        cmd += ["--trace-out", trace_out]
    if a.write_fingerprints:
        cmd += ["--write-fingerprints", os.path.join(HERE, "fingerprints.txt")]
    if a.corrupt_replica:
        cmd += ["--corrupt-replica", a.corrupt_replica]

    probes = []
    try:
        probes.append(calibrate(launch, work))
        code = run_paused(cmd, work, DEADLINE_S, lambda: probes.append(calibrate(launch, work)))
        if code is None:
            raise SystemExit(f"[cdcbench] run exceeded {DEADLINE_S} s")
        res_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(res_path):
            raise SystemExit(f"[cdcbench] benchmark JVM failed (exit {code})")
        with open(res_path) as f:
            res = json.load(f)
        probes.append(calibrate(launch, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # the probes that bracket setup, and those that bracket the timed operations
    speed = {"setup_s": CALIB_REFERENCE_S / statistics.median(probes[0] + probes[1]),
             "op_p50_s": CALIB_REFERENCE_S / statistics.median(probes[1] + probes[2])}
    detail = res.pop("detail")
    detail.update(calib_s=probes, host_speed=speed)
    metrics = res["metrics"]
    if a.trace:
        metrics["host.speed"] = {"value": speed["op_p50_s"], "unit": "ratio"}
    else:
        for name, raw in (("setup_s", "setup_raw_s"), ("op_p50_s", "op_p50_raw_s")):
            detail[raw] = metrics[name]["value"]
            metrics[name]["value"] *= speed[name]
    print("detail " + json.dumps(detail, sort_keys=True))
    if a.trace:
        print(f"trace {trace_out}")
    print(json.dumps(res))
    if not res["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
