#!/usr/bin/env python3
"""Count the processes a command execs through the helpers Hadoop forks.

    python3 tools/count_execs.py -- python3 perfbench/run.py \\
        --workload index --seed 1 --seconds 10 --trace 0

Without Hadoop's native library, its local file system forks a helper
for permission work: `chmod` for every file, `.crc` and dir it creates,
and `ls`, `stat`, `id`, `groups` and friends elsewhere. This script puts
a logging shim for each of those commands ahead on `PATH`, for this one
command only: the shim appends a line (boot-clock time, command,
arguments) to a log and `exec`s the real program, so the command runs as
before. Nothing outside a temporary directory is changed.

When the command exits, it prints the exec count in total and per
command; per window of the run (`session` and each phase of
`info.phase_s` in the run's `record.json`, aligned on the harness JVM's
start as `tools/jvm_cpu.py` aligns them; `run` is the JVM's whole life);
and per path class of the last argument (manifest `_commits`, generation
`_g…` data, `_temporary` write attempts, streaming checkpoint, Spark
local dirs, other), with `.crc` files counted apart. The command's output
passes through unchanged; the exit code is the command's.
"""
import argparse
import collections
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from jvm_cpu import TICK, find_harness, stat_fields, windows  # noqa: E402

COMMANDS = ("chmod", "chown", "chgrp", "ls", "stat", "id", "groups",
            "whoami", "df", "du", "readlink", "ln", "setsid")

SHIM = """#!/bin/sh
read up _ < /proc/uptime
printf '%s %s %s\\n' "$up" "{name}" "$*" >> "{log}"
exec "{real}" "$@"
"""


def path_class(args):
    """The class of a logged exec's last argument (its target path)."""
    target = args.split()[-1] if args.split() else ""
    crc = " .crc" if target.endswith(".crc") else ""
    for needle, name in (("/_commits", "manifest"), ("/_temporary", "write-attempt"),
                         ("/_g", "generation"), ("/ckpt", "checkpoint"),
                         ("/state/", "checkpoint"), ("/offsets", "checkpoint"),
                         ("/commits", "checkpoint"), ("spark-local", "spark-local"),
                         ("blockmgr-", "spark-local")):
        if needle in target:
            return name + crc
    return "other" + crc


def main():
    ap = argparse.ArgumentParser(usage="count_execs.py -- <command>")
    ap.add_argument("command", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.command[1:] if a.command[:1] == ["--"] else a.command
    if not cmd:
        ap.error("a command to run is required after --")

    shims = tempfile.mkdtemp(prefix="count-execs-")
    log = os.path.join(shims, "execs.log")
    open(log, "w").close()
    for name in COMMANDS:
        real = shutil.which(name)
        if real is None:
            continue
        path = os.path.join(shims, name)
        with open(path, "w") as f:
            f.write(SHIM.format(name=name, log=log, real=real))
        os.chmod(path, 0o755)
    env = dict(os.environ, PATH=shims + os.pathsep + os.environ.get("PATH", ""))

    p = subprocess.Popen(cmd, env=env)
    harness, jvm_start = None, None
    while p.poll() is None:
        if harness is None:
            harness = find_harness(p.pid)
            if harness is not None:
                try:
                    jvm_start = int(stat_fields(f"/proc/{harness[0]}/stat")[19]) / TICK
                except OSError:
                    harness = None
        time.sleep(0.2)
    rc = p.returncode

    execs = []
    with open(log) as f:
        for line in f:
            up, name, *rest = line.rstrip("\n").split(" ", 2)
            execs.append((float(up), name, rest[0] if rest else ""))
    shutil.rmtree(shims, ignore_errors=True)

    print(f"count_execs: {len(execs)} execs; command: {shlex.join(cmd)}")
    for name, n in collections.Counter(e[1] for e in execs).most_common():
        print(f"  {name:<10}{n:>8}")
    if harness is not None:
        jvm_cmd = harness[1]
        record = None
        if "--out" in jvm_cmd:
            rec = os.path.join(os.path.dirname(jvm_cmd[jvm_cmd.index("--out") + 1]),
                               "record.json")
            if os.path.exists(rec):
                with open(rec) as f:
                    record = json.load(f)
        last = max([e[0] for e in execs] + [jvm_start])
        print(f"{'window':<14}{'execs':>8}{'chmod':>8}")
        for name, lo, hi in windows(record, jvm_start, last):
            inside = [e for e in execs if lo <= e[0] <= hi]
            print(f"{name:<14}{len(inside):>8}"
                  f"{sum(e[1] == 'chmod' for e in inside):>8}")
    else:
        print("count_execs: no perfbench.Main JVM was seen; no windows")
    print(f"{'path class':<24}{'execs':>8}")
    for cls, n in collections.Counter(path_class(e[2]) for e in execs).most_common():
        print(f"  {cls:<22}{n:>8}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
