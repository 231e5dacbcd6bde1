#!/usr/bin/env python3
"""Per-job table of a Spark event log: jobs, tasks and wall time per job
group and description, each job labelled by kind.

    python3 scripts/eventlog_jobs.py <event log file or directory> [--group SUBSTR] [--jobs]

The log must be uncompressed JSON lines. A directory is searched for its
`events_*` files (Spark's rolling `eventlog_v2_*` layout) or, failing
that, taken as one log per file; with several applications the newest
one is read. `--group` keeps only job groups that contain SUBSTR.

`--jobs` prints one row per job instead: its id, its call site (the name
of its last stage, e.g. `localCheckpoint at Dedup.scala:760`, or
`(adaptive map stage)` for a map stage that adaptive execution submitted
from its own thread), the tasks each of its stages ran (`4+1`: a 4-task
map stage, then a 1-task result stage; skipped stages are left out), its
wall ms, and the driver gap: ms from the end of the previous job in the
log to this job's start (negative when jobs overlap).

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
into its levels; a small fit runs one `graft.<fitter> local rows=N
models=K` collect instead. The first perfbench call also builds, and its
class-data-sharing dump writes an event log of its own; the newest
application is the run.

`graft.Bench` and `graft.Verify` run each query under a job group named
after it, so `--group q_minhash_lsh` keeps that query's jobs:

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false \\
      -Dspark.eventLog.dir=file:///tmp/ev" SPARK_GRAFT_ONLY=q_minhash_lsh \\
      sbt -batch "runMain graft.Verify <sf dir> /tmp/verify_out"
    python3 scripts/eventlog_jobs.py /tmp/ev --group q_minhash_lsh
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
                        shuffle=False, site="", stage_tasks={})
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                    names = {i["Stage ID"]: i.get("Stage Name", "") for i in e.get("Stage Infos", [])}
                    if names:
                        site = names[max(names)]
                        # adaptive execution submits its map stages from a
                        # pool thread, so their call site names that thread
                        jobs[e["Job ID"]]["site"] = ("(adaptive map stage)"
                            if "withThreadLocalCaptured" in site else site)
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
                    j["stage_tasks"][e["Stage ID"]] = j["stage_tasks"].get(e["Stage ID"], 0) + 1
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


def print_jobs(every, group):
    """One row per job whose group contains `group`."""
    print(f"{'job':>5} {'group':<26} {'call site':<44} {'tasks':<10} {'wall_ms':>8} {'gap_ms':>7}")
    prev_end = None
    for jid, j in every:
        gap = j["start"] - prev_end if prev_end is not None else 0
        prev_end = j["end"] or j["start"]
        if group not in j["group"]:
            continue
        tasks = "+".join(str(n) for _, n in sorted(j["stage_tasks"].items())) or "0"
        print(f"{jid:>5} {j['group'][:26]:<26} {j['site'][:44]:<44} {tasks:<10} "
              f"{j['wall_ms']:>8} {gap:>7}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--group", default="")
    ap.add_argument("--jobs", action="store_true", help="one row per job")
    args = ap.parse_args()
    every = sorted(jobs_of(log_files(args.log)).items())
    if args.jobs:
        print_jobs(every, args.group)
        return
    jobs = [j for _, j in every if args.group in j["group"]]
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
