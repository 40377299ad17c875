#!/usr/bin/env python3
"""CPU seconds of a benchmark run's harness JVM, by thread group.

    python3 tools/jvm_cpu.py [--interval S] -- python3 perfbench/run.py \\
        --workload index --seed 2 --seconds 10 --trace 0

Runs the command and, while it runs, samples the harness JVM (the process
whose command line names `perfbench.Main`) every `--interval` seconds: the
user+system CPU time and the name of each of its threads, read from
`/proc/<pid>/task/*/stat` and `comm`. It only reads `/proc`. When the
command exits, it prints the CPU seconds of each thread group:

  c2        C2 compiler threads (the JIT's optimizing tier)
  c1        C1 compiler threads
  executor  Spark executor task threads
  driver    the stream-execution threads and the JVM's main thread
            (which the `java` launcher leaves named `java`)
  gc        garbage-collector threads
  other     every other thread (listener bus, Janino runs on callers)

for the whole run and for each window of the run: `session` (JVM start to
the Spark session, from `info.session_start_s`) and then each phase in
`info.phase_s` of the run's `record.json`, in order. Windows are aligned by
the JVM's start time (`/proc/<pid>/stat` field 22) against `/proc/uptime`.

A thread that ends between two samples loses the CPU it used since the
last one, so the figures are lower bounds that tighten with a shorter
interval; the sampler itself takes a few percent of one core. The
command's output passes through unchanged and the table follows it; the
exit code is the command's.
"""
import argparse
import json
import os
import shlex
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")
GROUPS = ("c2", "c1", "executor", "driver", "gc", "other")


def group(comm):
    """The thread group of a thread name (`comm`, at most 15 bytes)."""
    if comm.startswith("C2 CompilerThre"):
        return "c2"
    if comm.startswith("C1 CompilerThre"):
        return "c1"
    if comm.startswith("Executor task"):
        return "executor"
    if comm.startswith("stream executio") or comm in ("java", "main"):
        return "driver"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "other"


def uptime():
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def stat_fields(path):
    """Fields of a /proc stat file after the `(comm)` field: result[k]
    is field k + 3 of proc(5)."""
    with open(path) as f:
        s = f.read()
    return s[s.rindex(")") + 2:].split()


def children(pid):
    """PIDs whose parent is `pid`."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if int(stat_fields(f"/proc/{d}/stat")[1]) == pid:
                    out.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return out


def find_harness(root):
    """The descendant of `root` running perfbench.Main, or None."""
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")
        except OSError:
            continue
        if b"perfbench.Main" in cmd:
            return pid, [c.decode(errors="replace") for c in cmd]
        todo.extend(children(pid))
    return None


def sample(pid):
    """{tid: (comm, cpu seconds)} for the threads of `pid` right now."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        base = f"/proc/{pid}/task/{tid}"
        try:
            with open(base + "/comm") as f:
                comm = f.read().rstrip("\n")
            fields = stat_fields(base + "/stat")
        except OSError:
            continue
        # utime and stime are fields 14 and 15
        out[int(tid)] = (comm, (int(fields[11]) + int(fields[12])) / TICK)
    return out


def by_group(samples, lo, hi):
    """CPU seconds per group used between boot-clock times lo and hi:
    per thread, its last sample at or before hi minus its last sample at
    or before lo (0 for a thread not yet seen at lo)."""
    start, end = {}, {}
    for t, snap in samples:
        if t <= lo:
            start.update(snap)
        if t <= hi:
            end.update(snap)
    tot = dict.fromkeys(GROUPS, 0.0)
    for tid, (comm, cpu) in end.items():
        tot[group(comm)] += cpu - start.get(tid, (comm, 0.0))[1]
    return tot


def windows(record, jvm_start, last):
    """[(name, lo, hi)] on the boot clock: the whole run, the session
    start, and each phase of the run's record."""
    out = [("run", jvm_start, last)]
    info = (record or {}).get("harness", {}).get("info", {})
    t = jvm_start + float(info.get("session_start_s", 0.0))
    if "session_start_s" in info:
        out.append(("session", jvm_start, t))
    for name, secs in (info.get("phase_s") or {}).items():
        out.append((name, t, t + float(secs)))
        t += float(secs)
    return out


def main():
    ap = argparse.ArgumentParser(
        usage="jvm_cpu.py [--interval S] -- <perfbench command>")
    ap.add_argument("--interval", type=float, default=0.1)
    ap.add_argument("command", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.command[1:] if a.command[:1] == ["--"] else a.command
    if not cmd:
        ap.error("a command to run is required after --")

    p = subprocess.Popen(cmd)
    harness, jvm_start, samples = None, None, []
    while p.poll() is None:
        if harness is None:
            harness = find_harness(p.pid)
            if harness is not None:
                try:
                    # field 22: the start time in clock ticks since boot
                    jvm_start = int(stat_fields(f"/proc/{harness[0]}/stat")[19]) / TICK
                except OSError:  # it exited before we read it
                    harness = None
        if harness is not None:
            snap = sample(harness[0])
            if snap:
                samples.append((uptime(), snap))
        time.sleep(a.interval)
    rc = p.returncode
    if harness is None or not samples:
        print("jvm_cpu: no perfbench.Main JVM was seen", file=sys.stderr)
        return rc or 1

    pid, jvm_cmd = harness
    record = None
    if "--out" in jvm_cmd:
        rec = os.path.join(os.path.dirname(jvm_cmd[jvm_cmd.index("--out") + 1]),
                           "record.json")
        if os.path.exists(rec):
            with open(rec) as f:
                record = json.load(f)
    print(f"jvm_cpu: pid {pid}, {len(samples)} samples every {a.interval}s; "
          f"command: {shlex.join(cmd)}")
    print(f"{'window':<14}{'wall_s':>8}" + "".join(f"{g:>10}" for g in GROUPS)
          + f"{'total':>10}")
    for name, lo, hi in windows(record, jvm_start, samples[-1][0]):
        tot = by_group(samples, lo, hi)
        print(f"{name:<14}{hi - lo:>8.1f}"
              + "".join(f"{tot[g]:>10.2f}" for g in GROUPS)
              + f"{sum(tot.values()):>10.2f}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
