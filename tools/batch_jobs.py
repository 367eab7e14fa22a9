#!/usr/bin/env python3
"""Per stream batch Spark work, read from Spark event logs.

    python3 tools/batch_jobs.py EVENTLOG_DIR

EVENTLOG_DIR holds uncompressed event logs: single files, or the
`eventlog_v2_<app>` directories of rolling logs. Turn them on for any JVM
that builds its session through SparkConf defaults, for example:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///tmp/ev" \
      python3 perfbench/run.py --workload feed --seed 1 --seconds 15

For every application that ran a streaming query, one line per micro-batch:

  rows    the source's input rows (numInputRows)
  trig    the trigger's wall time in ms (triggerExecution)
  execs   SQL executions nested in the batch
  jobs    Spark jobs the batch ran
  tasks   their tasks
  busy    their summed task time, ms
  span    first job submitted to last job ended, ms
  gap     trigger start to the first nested SQL execution, ms
  files   parquet files its scans read (the scans' "number of files read")

then the medians over every batch but the first, which also pays the cold
start.
"""
import datetime
import json
import os
import statistics
import sys


def event_files(root):
    """(name, [files in order]) per application under `root`."""
    apps = []
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if os.path.isdir(path):
            parts = sorted(
                (f for f in os.listdir(path) if f.startswith("events_")),
                key=lambda f: int(f.split("_")[1]))
            if parts:
                apps.append((name, [os.path.join(path, f) for f in parts]))
        elif not name.startswith(".") and not name.endswith(".inprogress.crc"):
            apps.append((name, [path]))
    return apps


def iso_ms(ts):
    t = datetime.datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def scan_metrics(info, out):
    """Add the "number of files read" metric ids of the parquet scans in a
    plan-info tree to `out`."""
    if info["nodeName"].startswith("Scan parquet"):
        out.update(m["accumulatorId"] for m in info["metrics"]
                   if m["name"] == "number of files read")
    for c in info["children"]:
        scan_metrics(c, out)


def read_app(files):
    jobs = {}  # job id -> dict
    stage_job = {}
    exec_start = {}  # execution id -> (root id, start ms)
    progress = {}  # (query id, batch id) -> progress
    file_ids = {}  # execution id -> files-read metric ids
    files_read = {}  # execution id -> files read
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    p = e.get("Properties") or {}
                    if "streaming.sql.batchId" not in p:
                        continue
                    j = {
                        "batch": (p.get("sql.streaming.queryId"), int(p["streaming.sql.batchId"])),
                        "exec": p.get("spark.sql.execution.id"),
                        "root": p.get("spark.sql.execution.root.id"),
                        "submit": e["Submission Time"],
                        "end": e["Submission Time"],
                        "tasks": 0,
                        "busy": 0,
                    }
                    jobs[e["Job ID"]] = j
                    for s in e["Stage IDs"]:
                        stage_job[s] = j
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
                    j = stage_job[e["Stage ID"]]
                    info = e["Task Info"]
                    j["tasks"] += 1
                    j["busy"] += info["Finish Time"] - info["Launch Time"]
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_start[e["executionId"]] = (e.get("rootExecutionId"), e["time"])
                    scan_metrics(e["sparkPlanInfo"], file_ids.setdefault(e["executionId"], set()))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    scan_metrics(e["sparkPlanInfo"], file_ids.setdefault(e["executionId"], set()))
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    x = e["executionId"]
                    files_read[x] = files_read.get(x, 0) + sum(
                        v for i, v in e["accumUpdates"] if i in file_ids.get(x, ()))
                elif kind.endswith("QueryProgressEvent"):
                    pr = e["progress"]
                    progress[(pr["id"], pr["batchId"])] = pr
    return jobs, exec_start, progress, files_read


def batches(jobs, exec_start, progress, files_read):
    by_batch = {}
    for j in jobs.values():
        by_batch.setdefault(j["batch"], []).append(j)
    rows = []
    for key in sorted(by_batch, key=lambda k: (str(k[0]), k[1])):
        js = by_batch[key]
        roots = {int(j["root"]) for j in js if j["root"] is not None}
        # every execution nested under the batch's root, jobs or not
        execs = {x for x, (root, _) in exec_start.items()
                 if root in roots and x not in roots}
        execs |= {int(j["exec"]) for j in js if j["exec"] is not None and int(j["exec"]) not in roots}
        pr = progress.get(key)
        starts = [exec_start[x][1] for x in execs if x in exec_start]
        gap = None
        if pr is not None and starts:
            gap = min(starts) - iso_ms(pr["timestamp"])
        rows.append({
            "batch": key[1],
            "rows": sum(x["numInputRows"] for x in pr["sources"]) if pr else None,
            "trig": pr["durationMs"].get("triggerExecution") if pr else None,
            "execs": len(execs),
            "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js),
            "busy": sum(j["busy"] for j in js),
            "span": max(j["end"] for j in js) - min(j["submit"] for j in js),
            "gap": gap,
            "files": sum(files_read.get(x, 0) for x in execs),
        })
    return rows


COLS = ["batch", "rows", "trig", "execs", "jobs", "tasks", "busy", "span", "gap", "files"]


def fmt(v):
    if v is None:
        return "-"
    if isinstance(v, float):
        return f"{v:.0f}"
    return str(v)


def main():
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        sys.exit(__doc__)
    for name, files in event_files(sys.argv[1]):
        rows = batches(*read_app(files))
        if not rows:
            continue
        print(f"== {name}: {len(rows)} stream batches")
        print("\t".join(COLS))
        for r in rows:
            print("\t".join(fmt(r[c]) for c in COLS))
        live = rows[1:]
        if live:
            med = {c: statistics.median(r[c] for r in live if r[c] is not None)
                   for c in COLS[1:] if any(r[c] is not None for r in live)}
            print("median\t" + "\t".join(fmt(med.get(c)) for c in COLS[1:]))


if __name__ == "__main__":
    main()
