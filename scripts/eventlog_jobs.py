#!/usr/bin/env python3
"""Per-job table of a Spark event log: jobs, tasks and wall time per job
group and description, each job labelled by kind.

    python3 scripts/eventlog_jobs.py <event log file or directory> [--group SUBSTR]

The log must be uncompressed JSON lines. A directory is searched for its
`events_*` files (Spark's rolling `eventlog_v2_*` layout) or, failing
that, taken as one log per file; with several applications the newest
one is read. `--group` keeps only job groups that contain SUBSTR.

Kinds, from the stages a job ran and their RDDs:
  broadcast     result tasks over ParallelCollectionRDD roots only, under a
                BroadcastExchange scope: a broadcast relation's build
  cache build   result tasks through an InMemoryTableScan with no shuffle
                read or write: a persisted frame materialized on its own
  shuffle map   every task a ShuffleMapTask (an adaptive-execution map stage)
  result        anything else

A perfbench run with event logging, one workload and seed:

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false \\
      -Dspark.eventLog.dir=file:///tmp/ev" \\
      python3 perfbench/run.py --workload ensemble_missing --seed 1 --seconds 1 --trace 1
    python3 scripts/eventlog_jobs.py /tmp/ev --group fit.

perfbench tags every span's jobs with a `perfbench:<span>#<n>` job group,
and the C4.5 level loop describes each histogram job as
`graft.<fitter> level=N models=M histogram`, so the table splits a fit
into its levels. The first perfbench call also builds, and its
class-data-sharing dump writes an event log of its own; the newest
application is the run.
"""
import argparse
import collections
import json
import os
import sys


def log_files(path):
    """The event log files of the newest application under `path`."""
    if os.path.isfile(path):
        return [path]
    apps = []
    for root, _, files in os.walk(path):
        rolled = sorted(f for f in files if f.startswith("events_"))
        if rolled:
            apps.append([os.path.join(root, f) for f in rolled])
        elif root == path:
            apps.extend([os.path.join(root, f)] for f in files if not f.startswith("."))
    if not apps:
        sys.exit(f"eventlog_jobs: no event log under {path}")
    return max(apps, key=lambda fs: os.path.getmtime(fs[-1]))


def jobs_of(files):
    """Job id -> dict(group, desc, wall_ms, tasks, kind), in job order."""
    jobs, stage_job = {}, {}
    for name in files:
        with open(name) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = dict(
                        group=props.get("spark.jobGroup.id") or "",
                        desc=props.get("spark.job.description") or "",
                        start=e["Submission Time"], end=None, tasks=0,
                        types=collections.Counter(), roots=set(), scopes=set(),
                        shuffle=False)
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    j = jobs.get(stage_job.get(info["Stage ID"]))
                    if j is None:
                        continue
                    for rdd in info.get("RDD Info", []):
                        if not rdd.get("Parent IDs"):
                            j["roots"].add(rdd["Name"])
                        try:
                            j["scopes"].add(json.loads(rdd.get("Scope") or "{}").get("name"))
                        except ValueError:
                            pass
                elif ev == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e["Stage ID"]))
                    if j is None:
                        continue
                    j["tasks"] += 1
                    j["types"][e.get("Task Type")] += 1
                    m = e.get("Task Metrics") or {}
                    read = m.get("Shuffle Read Metrics") or {}
                    write = m.get("Shuffle Write Metrics") or {}
                    if (read.get("Remote Blocks Fetched", 0) + read.get("Local Blocks Fetched", 0)
                            + write.get("Shuffle Records Written", 0)) > 0:
                        j["shuffle"] = True
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"]
    for j in jobs.values():
        j["wall_ms"] = (j["end"] - j["start"]) if j["end"] else 0
        j["kind"] = kind(j)
    return jobs


def kind(j):
    result = not j["types"] or set(j["types"]) == {"ResultTask"}
    if result and j["roots"] == {"ParallelCollectionRDD"} and "BroadcastExchange" in j["scopes"]:
        return "broadcast"
    if result and "InMemoryTableScan" in j["scopes"] and not j["shuffle"] \
            and "Exchange" not in j["scopes"] and "AQEShuffleRead" not in j["scopes"]:
        return "cache build"
    if j["types"] and set(j["types"]) == {"ShuffleMapTask"}:
        return "shuffle map"
    return "result"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--group", default="")
    args = ap.parse_args()
    jobs = [j for _, j in sorted(jobs_of(log_files(args.log)).items())
            if args.group in j["group"]]
    rows = collections.OrderedDict()
    for j in jobs:
        key = (j["group"], j["desc"], j["kind"])
        r = rows.setdefault(key, [0, 0, 0])
        r[0] += 1
        r[1] += j["tasks"]
        r[2] += j["wall_ms"]
    print(f"{'group':<30} {'description':<48} {'kind':<12} {'jobs':>4} {'tasks':>5} {'wall_ms':>8}")
    for (group, desc, k), (n, tasks, wall) in rows.items():
        print(f"{group[:30]:<30} {desc[:48]:<48} {k:<12} {n:>4} {tasks:>5} {wall:>8}")
    groups = collections.OrderedDict()
    for j in jobs:
        g = groups.setdefault(j["group"], [0, 0, 0])
        g[0] += 1
        g[1] += j["tasks"]
        g[2] += j["wall_ms"]
    print()
    print(f"{'group':<30} {'jobs':>4} {'tasks':>5} {'wall_ms':>8}")
    for group, (n, tasks, wall) in groups.items():
        print(f"{group[:30]:<30} {n:>4} {tasks:>5} {wall:>8}")


if __name__ == "__main__":
    main()
