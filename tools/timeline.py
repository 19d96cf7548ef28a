#!/usr/bin/env python3
"""Per-SQL-execution and per-job timeline of a Spark event log.

    python3 tools/timeline.py <event log file or directory> [--match TEXT]

Reads a Spark event log (one JSON event per line; a `.zstd` log is read
through `unzstd -c`, which must then be on the PATH) and prints, for every
SQL execution in start order:

    sql <id>  start  duration  wait  jobs  description

where `start` is seconds since the application started, `duration` and
`wait` are milliseconds, and `wait` is the time from the execution's start
to the submission of its first job (planning, and any driver work before
the first job). Under each execution, one line per job:

    job <id>  start  duration  tasks  run  deserialize

with `run` and `deserialize` the summed executor run time and executor
deserialize time of the job's tasks, in milliseconds. A job that belongs to
no SQL execution (an RDD action, such as a step of the `Fit` kernel) is
printed unindented, in start order among the executions, with its call
site: the name of its result stage, the stage of highest id in its
`SparkListenerJobStart`, for example `reduce at Fit.scala:48`. `--match`
keeps only the executions whose description, and the jobs outside them
whose call site, contains TEXT (for example `KMeans.scala`).

To take an event log from a benchmark run (Spark needs <dir> to exist):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir>" \\
        python3 cdcbench/run.py --workload analytics_heavy --seed 7 --seconds 8 --trace 0
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def event_files(path):
    if os.path.isfile(path):
        return [path]
    files = []
    for dirpath, _, names in os.walk(path):
        files += [os.path.join(dirpath, n) for n in names
                  if n.startswith(("events_", "eventlog", "local-", "app-"))
                  and not n.endswith(".crc")]
    # a rolled log's parts are events_<n>_<app>: read them in n order
    def order(f):
        parts = os.path.basename(f).split("_")
        return (os.path.dirname(f), int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0, f)
    return sorted(files, key=order)


def lines(path):
    if path.endswith(".zstd"):
        if not shutil.which("unzstd"):
            raise SystemExit(f"{path} is zstd-compressed and unzstd is not on the PATH")
        out = subprocess.run(["unzstd", "-c", path], capture_output=True, check=True).stdout
        yield from out.decode("utf-8").splitlines()
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def load(files):
    app_start = None
    sqls, jobs, stage_job = {}, {}, {}
    for path in files:
        for line in lines(path):
            if not line.strip():
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerApplicationStart":
                app_start = e["Timestamp"]
            elif kind == SQL_START:
                sqls[e["executionId"]] = {
                    "start": e["time"], "end": None, "jobs": [],
                    "description": e.get("description", "").split("\n")[0]}
            elif kind == SQL_END:
                if e["executionId"] in sqls:
                    sqls[e["executionId"]]["end"] = e["time"]
            elif kind == "SparkListenerJobStart":
                sql = (e.get("Properties") or {}).get("spark.sql.execution.id")
                stages = e.get("Stage Infos") or []
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"], "end": None,
                    "sql": int(sql) if sql is not None else None,
                    # a result stage is created after its parents, so it
                    # has the highest id; the parents that an earlier job
                    # already ran are named after the thread that ran them
                    "site": max(stages, key=lambda st: st["Stage ID"])["Stage Name"] if stages else "",
                    "run": 0, "deser": 0, "done": 0}
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"]))
                metrics = e.get("Task Metrics")
                if job is not None and metrics:
                    job["run"] += metrics.get("Executor Run Time", 0)
                    job["deser"] += metrics.get("Executor Deserialize Time", 0)
                    job["done"] += 1
    return app_start, sqls, jobs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", help="an event log file, or a directory holding one")
    ap.add_argument("--match", default=None,
                    help="only executions whose description, and jobs outside them whose "
                         "call site, contains this text")
    a = ap.parse_args()
    files = event_files(a.log)
    if not files:
        raise SystemExit(f"no event log under {a.log}")
    app_start, sqls, jobs = load(files)
    t0 = app_start if app_start is not None else min(
        [s["start"] for s in sqls.values()] + [j["start"] for j in jobs.values()])
    for jid, j in jobs.items():
        if j["sql"] in sqls:
            sqls[j["sql"]]["jobs"].append(jid)

    def ms(a, b):
        return f"{b - a:7d}" if a is not None and b is not None else "      ?"

    def job_line(jid, indent):
        j = jobs[jid]
        # tasks: the tasks that ran; a stage skipped from an earlier job's
        # shuffle output is counted in the job's stages but runs none
        return (f"{indent}job {jid:<5d} {(j['start'] - t0) / 1000:9.3f} {ms(j['start'], j['end'])}"
                f" {j['done']:6d} {j['run']:7d} {j['deser']:7d}")

    out = sys.stdout
    out.write(f"{'':8s} {'start_s':>9s} {'dur_ms':>7s} {'wait_ms':>7s} {'jobs':>4s}  description\n")
    out.write(f"{'':10s} {'start_s':>9s} {'dur_ms':>7s} {'tasks':>6s} {'run_ms':>7s} {'deser_ms':>7s}\n")
    # executions and the jobs outside them, merged in start order
    rows = [(s["start"], 0, sid) for sid, s in sqls.items()
            if not a.match or a.match in s["description"]]
    rows += [(j["start"], 1, jid) for jid, j in jobs.items()
             if j["sql"] not in sqls and (not a.match or a.match in j["site"])]
    for _, kind, key in sorted(rows):
        if kind == 1:
            out.write(f"{job_line(key, '')}  {jobs[key]['site']}\n")
            continue
        s = sqls[key]
        first = min((jobs[j]["start"] for j in s["jobs"]), default=None)
        out.write(f"sql {key:<4d} {(s['start'] - t0) / 1000:9.3f} {ms(s['start'], s['end'])}"
                  f" {ms(s['start'], first)} {len(s['jobs']):4d}  {s['description']}\n")
        for jid in sorted(s["jobs"]):
            out.write(job_line(jid, "    ") + "\n")

if __name__ == "__main__":
    main()
