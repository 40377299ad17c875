#!/usr/bin/env python3
"""Executor CPU of every Spark stage in an event log, by streaming batch.

    python3 tools/stage_cpu.py EVENT_LOG [EVENT_LOG ...]

EVENT_LOG is an uncompressed Spark event log, or a directory of them
(Spark's rolling `eventlog_v2_<app>` dirs included). A
benchmark run writes one with no change to the harness:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file://<absolute dir> \\
      -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload index --seed 1 --seconds 10 --trace 0

For each streaming query (its id's first 8 characters; `-` for jobs that
no stream started) and each of its batches, in the order they ran, it
prints every stage: its kind, its task count, the executor CPU and the
executor deserialize CPU its tasks used (ms), the records it wrote and the
table it wrote. Then one total line per batch.

Kinds:
  shuffle map  a stage of shuffle-map tasks
  write        the result stage of a query that writes files
               (InsertIntoHadoopFsRelationCommand)
  checkpoint   a result stage that persists its RDD (localCheckpoint,
               persist barriers)
  source scan  any other result stage that scans a file or data source
  result       every other result stage

Records written are the output records of a write stage and the shuffle
records of a shuffle-map stage. The table is the directory a write lands
in, named by the path component above its `_g<n>-` generation dir (the
last component when there is none); the shuffle-map stages of the same
query carry it too. It reads only the log.
"""
import argparse
import collections
import json
import os
import re
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
# the written path, first of the command's arguments in a formatted plan
WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand\nInput: .*\nArguments: ([^,\s]+)")
GENERATION = re.compile(r"_g\d+-")
SCAN_RDDS = ("FileScanRDD", "DataSourceRDD")


def table_of(path):
    """The table a write to `path` lands in."""
    parts = [p for p in path.rstrip("/").split("/") if p]
    for i, p in enumerate(parts):
        if GENERATION.match(p) and i > 0:
            return parts[i - 1]
    return parts[-1] if parts else "-"


def persisted(rdd):
    level = rdd.get("Storage Level") or {}
    return level.get("Use Disk") or level.get("Use Memory")


def apps(paths):
    """Each application's log files, in order: a plain log file, or the
    `events_<n>_<app>` files of a rolling log's `eventlog_v2_<app>` dir.
    """
    for p in paths:
        if not os.path.isdir(p):
            yield [p]
            continue
        names = sorted(n for n in os.listdir(p) if not n.startswith("."))
        rolled = [n for n in names if n.startswith("events_")]
        if rolled:
            rolled.sort(key=lambda n: int(n.split("_")[1]))
            yield [os.path.join(p, n) for n in rolled]
        else:
            yield from apps([os.path.join(p, n) for n in names
                             if not n.startswith("appstatus_")])


def lines(files):
    for f in files:
        with open(f) as fh:
            yield from fh


class Stage:
    def __init__(self, sid, info, props):
        self.sid = sid
        self.name = info.get("Stage Name", "")
        self.rdds = info.get("RDD Info", [])
        self.props = props
        self.tasks = 0
        self.shuffle_map = False
        self.cpu_ns = 0
        self.deser_ns = 0
        self.out_records = 0
        self.shuffle_records = 0


def read(paths):
    """Stages in submission order, and each SQL execution's written path."""
    stages = collections.OrderedDict()
    writes = {}
    for app, files in enumerate(apps(paths)):
        for line in lines(files):
            try:
                ev = json.loads(line)
            except ValueError:
                continue  # a truncated last line of a log in progress
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                for info in ev.get("Stage Infos", []):
                    sid = (app, info["Stage ID"])
                    if sid not in stages:
                        stages[sid] = Stage(sid, info, props)
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((app, ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if st is None or m is None:
                    continue
                st.tasks += 1
                st.shuffle_map |= ev.get("Task Type") == "ShuffleMapTask"
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.deser_ns += m.get("Executor Deserialize CPU Time", 0)
                st.out_records += (m.get("Output Metrics") or {}).get("Records Written", 0)
                st.shuffle_records += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Records Written", 0)
            elif kind == SQL_START:
                w = WRITE.search(ev.get("physicalPlanDescription") or "")
                if w:
                    writes[(app, ev["executionId"])] = w.group(1)
    # stages a job listed but never ran (skipped: their shuffle output was reused)
    return [s for s in stages.values() if s.tasks], writes


def classify(st, written):
    if st.shuffle_map:
        return "shuffle map"
    if written:
        return "write"
    if "checkpoint" in st.name.lower() or any(persisted(r) for r in st.rdds):
        return "checkpoint"
    if any(r.get("Name", "").startswith(SCAN_RDDS) for r in st.rdds):
        return "source scan"
    return "result"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("logs", nargs="+", metavar="EVENT_LOG")
    a = ap.parse_args()
    missing = [p for p in a.logs if not os.path.exists(p)]
    if missing:
        sys.exit("stage_cpu: no such file or directory: " + ", ".join(missing))
    stages, writes = read(a.logs)
    if not stages:
        sys.exit("stage_cpu: no completed tasks in " + ", ".join(a.logs))

    batches = collections.OrderedDict()
    for st in stages:
        query = (st.props.get("sql.streaming.queryId") or "-")[:8]
        batch = st.props.get("streaming.sql.batchId", "-")
        batches.setdefault((query, batch), []).append(st)

    row = "{:>7} {:<12} {:>6} {:>10} {:>9} {:>9}  {}"
    print(row.format("stage", "kind", "tasks", "cpu_ms", "deser_ms", "records", "table"))
    for (query, batch), sts in batches.items():
        print(f"query {query} batch {batch}")
        tot = collections.Counter()
        for st in sts:
            exec_id = st.props.get("spark.sql.execution.id")
            path = writes.get((st.sid[0], int(exec_id))) if exec_id else None
            kind = classify(st, path is not None and not st.shuffle_map)
            records = st.shuffle_records if st.shuffle_map else st.out_records
            tot.update(tasks=st.tasks, cpu=st.cpu_ns, deser=st.deser_ns,
                       records=records, stages=1)
            print(row.format(st.sid[1], kind, st.tasks, f"{st.cpu_ns / 1e6:.1f}",
                             f"{st.deser_ns / 1e6:.1f}", records,
                             table_of(path) if path else "-"))
        print(row.format("total", f"{tot['stages']} stages", tot["tasks"],
                         f"{tot['cpu'] / 1e6:.1f}", f"{tot['deser'] / 1e6:.1f}",
                         tot["records"], ""))


if __name__ == "__main__":
    main()
