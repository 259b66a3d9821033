#!/usr/bin/env python3
"""Spark jobs and wall time per call site, read from a Spark event log.

Every SQL execution in the log (one `collect`, `count`, write, ...) is
attributed to the first stack frame of its call site that starts with
`graft.`, falling back to the first frame outside Spark,
Scala and the JDK. Jobs that ran outside any SQL execution (RDD actions)
are attributed by their first stage's call site the same way.

Get a log from any JVM that builds its session in-process, without
changing its code:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false" \
      python3 perfbench/run.py --workload corpus_curate --seed 31 --seconds 15 --trace 0
    python3 tools/jobs_by_callsite.py /tmp/ev/eventlog_v2_local-*

Output: one row per call site, sorted by job wall time: SQL executions,
jobs, summed job wall time and summed execution wall time (seconds).
`--depth 2` keys each row by the attributed frame and its caller, which
splits a shared helper (perfbench's `materialize`) by operator.
"""
import argparse
import collections
import json
import os
import sys

PREFIX = "graft."
SKIP = ("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")


def frame(call_site, depth=1):
    """The attributed frame of a long-form call site (one frame a line),
    joined with the `depth - 1` frames that called it."""
    lines = [l.strip() for l in (call_site or "").splitlines() if l.strip()]
    if not lines:
        return "(unknown)"
    at = next((i for i, l in enumerate(lines) if l.startswith(PREFIX)),
              next((i for i, l in enumerate(lines) if not l.startswith(SKIP)), 0))
    return " < ".join(lines[at:at + depth])


def log_files(path):
    """A plain log file, or the parts of a rolling log directory
    (`eventlog_v2_*/events_<n>_*`, Spark's default) in order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    return [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def read_events(path):
    for part in log_files(path):
        with open(part, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def summarize(paths, depth=1):
    execs = {}  # execution id -> dict(site, start, end, jobs, job_s)
    jobs = {}   # job id -> dict(exec, site, start, end)
    for path in paths:
        for e in read_events(path):
            kind = e.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart"):
                execs[e["executionId"]] = {
                    "site": frame(e.get("details"), depth),
                    "start": e.get("time"), "end": None}
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if e["executionId"] in execs:
                    execs[e["executionId"]]["end"] = e.get("time")
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                stages = e.get("Stage Infos") or [{}]
                jobs[e["Job ID"]] = {
                    "exec": int(exec_id) if exec_id is not None else None,
                    "site": frame(stages[0].get("Details"), depth),
                    "start": e.get("Submission Time"), "end": None}
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e.get("Completion Time")

    def secs(a, b):
        return (b - a) / 1000.0 if a is not None and b is not None else 0.0

    per_exec = collections.defaultdict(lambda: [0, 0.0])
    loose = []
    for j in jobs.values():
        if j["exec"] in execs:
            per_exec[j["exec"]][0] += 1
            per_exec[j["exec"]][1] += secs(j["start"], j["end"])
        else:
            loose.append(j)

    # site -> [executions, jobs, job_s, exec_s]
    sites = collections.defaultdict(lambda: [0, 0, 0.0, 0.0])
    for eid, x in execs.items():
        n, js = per_exec.get(eid, (0, 0.0))
        es = secs(x["start"], x["end"])
        s = sites[x["site"]]
        s[0] += 1
        s[1] += n
        s[2] += js
        s[3] += es
    for j in loose:
        s = sites["(no SQL execution) " + j["site"]]
        s[1] += 1
        s[2] += secs(j["start"], j["end"])
    return sites, len(jobs)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("logs", nargs="+",
                    help="uncompressed Spark event log file(s) or rolling log dir(s)")
    ap.add_argument("--depth", type=int, default=1,
                    help="frames per call site, from the attributed one outward "
                         "(2 separates the callers of a shared helper)")
    a = ap.parse_args(argv)
    sites, n_jobs = summarize(a.logs, a.depth)
    print(f"{'execs':>5} {'jobs':>5} {'job_s':>8} {'exec_s':>8}  call site")
    for site, (ne, nj, js, es) in sorted(sites.items(), key=lambda kv: -kv[1][2]):
        print(f"{ne:>5} {nj:>5} {js:8.3f} {es:8.3f}  {site}")
    tot = [sum(v[i] for v in sites.values()) for i in range(4)]
    print(f"{tot[0]:>5} {tot[1]:>5} {tot[2]:8.3f} {tot[3]:8.3f}  total ({n_jobs} jobs in the log)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
