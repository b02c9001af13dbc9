#!/usr/bin/env python3
"""Per-micro-batch job breakdown of an uncompressed Spark event log.

Usage: python3 dev/batch_jobs.py <event log file or eventlog_v2_* dir>
           [--query ID-PREFIX] [--other]

For every streaming micro-batch (jobs tagged with the same
`sql.streaming.queryId` and `streaming.sql.batchId`) it prints:
  - the batch's job count, its span from the first job's start to the
    last job's end, the summed job wall and the summed driver gaps, plus
    the engine's `addBatch`/`triggerExecution` durations when the log
    carries the query's progress events;
  - per job: start offset within the batch, wall time, tasks run, the
    driver gap before it (time when no job of the batch was running),
    and the root nodes of its SQL plan (the final adaptive plan when
    there is one). "Listing leaf files" jobs (the file source's
    distributed listing) are flagged LISTING.
`--other` also prints the jobs that belong to no micro-batch (snapshot
landing, FINAL reads); `--query` keeps the queries whose id starts with
the given prefix.

To record a log without changing the program or the benchmark, pass the
settings to the JVM, for example:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.dir=/tmp/evlog -Dspark.eventLog.compress=false" \
      python3 perfbench/run.py --workload repl --seed 7 --seconds 8 --trace 1

Spark writes one `eventlog_v2_<app>` directory (or one file) per
application under that dir; pass it to this script.
"""
import argparse
import collections
import glob
import json
import os
import re
import sys

# wrapper nodes skipped when naming a plan's roots
WRAPPERS = {"AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage",
            "TableCacheQueryStage", "WholeStageCodegen", "InputAdapter"}


def event_files(path):
    if os.path.isdir(path):
        files = glob.glob(os.path.join(path, "events_*"))
        # events_<n>_<app>: roll order is the index
        return sorted(files, key=lambda f: int(re.match(r"events_(\d+)_", os.path.basename(f)).group(1)))
    return [path]


def plan_roots(info, limit=4):
    """Node names from the root down, through single-child nodes."""
    names = []
    node = info
    while node is not None and len(names) < limit:
        name = node.get("nodeName", "?")
        base = re.sub(r"\s*\(\d+\)$", "", name)
        if base.split(" ")[0] not in WRAPPERS and not base.startswith("WholeStageCodegen"):
            names.append(base)
        kids = node.get("children") or []
        node = kids[0] if len(kids) == 1 else None
        if len(kids) > 1:
            names.append("[%d children]" % len(kids))
    return " > ".join(names) if names else "-"


def load(path):
    jobs = {}
    stage_job = {}
    tasks = collections.Counter()
    plans = {}
    progress = {}
    for f in event_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"], "start": e["Submission Time"], "end": None,
                        "query": props.get("sql.streaming.queryId"),
                        "batch": props.get("streaming.sql.batchId"),
                        "exec": props.get("spark.sql.execution.id"),
                        "desc": props.get("spark.job.description") or "",
                    }
                    for s in e.get("Stage IDs", []):
                        stage_job[s] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks[stage_job.get(e["Stage ID"])] += 1
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[str(e["executionId"])] = e.get("sparkPlanInfo") or {}
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plans[str(e["executionId"])] = e.get("sparkPlanInfo") or {}
                elif kind.endswith("QueryProgressEvent"):
                    p = e.get("progress") or {}
                    progress[(p.get("id"), str(p.get("batchId")))] = p.get("durationMs") or {}
    for j in jobs.values():
        j["tasks"] = tasks[j["id"]]
        # a job outside SQL (the file listing) is named by its description
        j["plan"] = (plan_roots(plans[j["exec"]]) if j["exec"] in plans
                     else j["desc"].split("<br/>")[0].splitlines()[0][:80])
        j["listing"] = j["desc"].startswith("Listing leaf files")
    return sorted(jobs.values(), key=lambda j: (j["start"], j["id"])), progress


def print_group(title, group, dur):
    t0 = group[0]["start"]
    ends = [j["end"] or j["start"] for j in group]
    wall = sum(e - j["start"] for j, e in zip(group, ends))
    # driver gap before a job: time since every earlier job had ended
    busy_until = None
    gaps = []
    for j, e in zip(group, ends):
        gaps.append(0 if busy_until is None else max(0, j["start"] - busy_until))
        busy_until = e if busy_until is None else max(busy_until, e)
    extra = ""
    if dur:
        extra = "  addBatch %s ms  trigger %s ms" % (dur.get("addBatch", "-"), dur.get("triggerExecution", "-"))
    print("%s: %d jobs, span %d ms, job wall %d ms, driver gaps %d ms%s" % (
        title, len(group), max(ends) - t0, wall, sum(gaps), extra))
    for j, e, g in zip(group, ends, gaps):
        print("  job %-5d +%6d ms  wall %6d ms  tasks %4d  gap %5d ms%s  %s" % (
            j["id"], j["start"] - t0, e - j["start"], j["tasks"], g,
            "  LISTING" if j["listing"] else "", j["plan"]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("log")
    ap.add_argument("--query", default="")
    ap.add_argument("--other", action="store_true")
    a = ap.parse_args()
    jobs, progress = load(a.log)
    if not jobs:
        sys.exit("batch_jobs: no jobs in %s" % a.log)
    batches = collections.OrderedDict()
    other = []
    for j in jobs:
        if j["query"] is not None and j["batch"] is not None:
            if j["query"].startswith(a.query):
                batches.setdefault((j["query"], j["batch"]), []).append(j)
        else:
            other.append(j)
    for (q, b), group in batches.items():
        print_group("query %s batch %s" % (q[:8], b), group, progress.get((q, b)))
    listing = [j for g in batches.values() for j in g if j["listing"]]
    print("micro-batches %d, jobs %d, listing jobs %d (%d ms)" % (
        len(batches), sum(len(g) for g in batches.values()), len(listing),
        sum((j["end"] or j["start"]) - j["start"] for j in listing)))
    if a.other and other:
        print_group("outside micro-batches", other, None)


if __name__ == "__main__":
    main()
