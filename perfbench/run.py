#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.sbt compiles graft's src/main/scala together with the
harness) and later runs reuse the build while the sources are unchanged.
The last line of stdout is one JSON object: correct, attempted, failed and
the metrics named in BENCHMARK.json (end_to_end with --trace 0, per_layer
with --trace 1). A full record with provenance, checks and the trace goes
to perfbench/out/<workload>-s<seed>-t<trace>/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("index", "query_suite")
# Fixed data seed for the query_suite tables, so the pinned result hashes
# of queries without an oracle stay valid. The suite's query order is fixed
# too: --seed changes nothing in that workload.
SUITE_DATA_SEED = 20240501
SUITE_SCALE = 0.004
RUN_BUDGET_S = 170
HEAP = "2g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the harness build compiles."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    log = os.path.join(HERE, "out", "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isdir(classes):
        die(f"harness build failed (exit {rc}); see {log}", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def other_jvms(exclude):
    """PIDs of java or sbt processes that are not ours."""
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in exclude:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")
        except OSError:
            continue
        exe = os.path.basename(cmd[0].decode(errors="replace")) if cmd else ""
        if exe == "java" or any(b"sbt-launch" in c or c.endswith(b"/sbt")
                                for c in cmd):
            found.append(int(d))
    return found


def git_commit():
    try:
        return subprocess.check_output(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, stderr=subprocess.DEVNULL,
            text=True).strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def canon(df):
    """Canonical form of a result, as tools/check_oracle.py compares them:
    columns sorted by name, floats at 9 digits, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)
    out = df.apply(lambda c: c.map(cell))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def canon_hash(df):
    c = canon(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for row in c.itertuples(index=False):
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return h.hexdigest()


def check_suite(out_dir, tables_dir, record):
    """Compare each written result with the DuckDB oracle, or with the
    pinned seed-commit hash for queries that have no oracle."""
    import duckdb
    import pandas as pd
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(HERE, "expected_hashes.json")) as f:
        pinned = json.load(f)["queries"]
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    checks = []
    for res in sorted(glob.glob(os.path.join(out_dir, "results", "*"))):
        name = os.path.basename(res)
        try:
            mine = pd.read_parquet(res)
            got = canon_hash(mine)
            if name in oracles:
                want = canon_hash(con.execute(oracles[name]).df())
                source = "duckdb_oracle"
            else:
                want = pinned.get(name, {}).get("sha256")
                source = "seed_commit_pin"
            checks.append({"query": name, "ok": got == want, "source": source,
                           "rows": len(mine), "sha256": got})
        except Exception as e:  # a broken result is a failed check
            checks.append({"query": name, "ok": False, "error": str(e)})
    record["suite_checks"] = checks
    return checks


def wait_child(p, budget):
    """Wait for the JVM, killing it past `budget`; return (rc, peak RSS MB)."""
    deadline = time.time() + budget
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid == p.pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            return p.returncode, ru.ru_maxrss / 1024.0
        if time.time() > deadline:
            p.kill()
            _, status, ru = os.wait4(p.pid, 0)
            p.returncode = os.waitstatus_to_exitcode(status)
            return None, ru.ru_maxrss / 1024.0
        time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # characterization only: the index workload's live block rate
    ap.add_argument("--live-rate", type=float)
    a = ap.parse_args()
    t_start = time.time()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(bench_json)):
        die("run from the root of a graft checkout (build.sbt, "
            "src/main/scala/graft and BENCHMARK.json are required)")
    with open(bench_json) as f:
        spec = json.load(f)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at a Spark distribution")

    classes = build()
    t_built = time.time()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out_dir = os.path.join(HERE, "out", tag)
    work = os.path.join(HERE, "work", tag)
    for d in (out_dir, work):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(work, "tmp"))
    cores = min(4, os.cpu_count() or 1)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "git_commit": git_commit(),
        "source_sha256": source_stamp(), "nproc": os.cpu_count(),
        "cores": cores, "heap": HEAP, "loadavg_before": os.getloadavg(),
        "build_s": round(t_built - t_start, 3)}
    before_jvms = other_jvms({os.getpid()})

    harness_args = ["--rate", str(a.live_rate)] if a.live_rate else []
    gen_cpu_s = 0.0
    if a.workload == "query_suite":
        sys.path.insert(0, HERE)
        import gen_tables
        c0 = time.process_time()
        tables_dir = os.path.join(work, "tables")
        gen_tables.write(tables_dir, SUITE_DATA_SEED, SUITE_SCALE)
        gen_cpu_s = time.process_time() - c0
        harness_args += ["--tables", tables_dir]
        record["suite_data"] = {"seed": SUITE_DATA_SEED, "scale": SUITE_SCALE}

    cp = classes + os.pathsep + os.path.join(spark_home, "jars", "*")
    # A fixed, pre-touched heap is resident from the start, so peak RSS
    # minus the committed heap is the JVM's native and off-heap peak.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", os.path.join(out_dir, "result.json"),
              "--cores", str(cores)] + harness_args)
    # Two malloc arenas: with glibc's default of eight per core, how many
    # arenas Spark's threads happen to touch moved peak RSS by ~150 MB
    # from run to run.
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc, rss_mb = wait_child(p, RUN_BUDGET_S - (time.time() - t_built))
        except BaseException:
            p.kill()
            p.wait()
            raise
    record["loadavg_after"] = os.getloadavg()
    # a run that shared the machine with another JVM or sbt is flagged, so
    # it is never pooled with clean runs
    record["overlapped_other_jvm"] = bool(before_jvms or
                                          other_jvms({os.getpid()}))
    res_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        die(f"harness exited with {rc}; see {os.path.join(out_dir, 'jvm.log')}", 1)
    with open(res_path) as f:
        res = json.load(f)
    record["harness"] = res

    metrics = dict(res["metrics"])
    # set-up: CPU seconds of everything before the clock starts (input
    # generation, JVM and session start, graft's set-up work)
    metrics["setup_s"] += gen_cpu_s
    # memory: the largest heap in use after a full collection, plus the
    # native and off-heap peak
    heap_mb = res["engine"]["heap_committed_mb"]
    metrics["peak_mem_mb"] = (rss_mb - heap_mb) + res["info"]["live_heap_peak_mb"]
    record["peak_rss_mb"] = rss_mb
    correct = not res["checks_failed"]
    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "query_suite":
        checks = check_suite(out_dir, tables_dir, record)
        bad = [c for c in checks if not c["ok"]]
        failed += len(bad)
        correct = correct and not bad and len(checks) == len(
            res["info"].get("query_s", {})) > 0
    shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    out = {}
    for m in spec[kind]:
        v = metrics.get(m["name"])
        if v is None:
            die(f"metric {m['name']} was not measured", 1)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    # every figure the workload defines, by name, before the result line
    info = res["info"]
    named = {"setup_s": (metrics["setup_s"], "s"),
             "peak_mem_mb": (metrics["peak_mem_mb"], "MB"),
             "failed_ops_ratio": (failed / max(1, attempted), "ratio")}
    if a.workload == "index":
        named.update({
            "backfill_heights_per_s": (metrics["ops_per_s"], "heights/s"),
            "freshness_p50_s": (metrics["op_latency_p50_ms"] / 1000, "s"),
            "freshness_p90_s": (metrics["op_latency_p90_ms"] / 1000, "s"),
            "freshness_p99_s": (info["freshness_p99_ms"] / 1000, "s"),
            "lake_sql_p50_ms": (info["lake_sql_p50_ms"], "ms"),
            "lake_sql_p90_ms": (info["lake_sql_p90_ms"], "ms"),
            "cpu_ms_per_height": (metrics["cpu_ms_per_op"], "ms")})
    else:
        named.update({"suite_s": (info["suite_s"], "s"),
                      "suite_cpu_s": (info["suite_cpu_s"], "s")})
    record["named"] = named
    record["metrics"] = out
    record["correct"] = correct
    record["wall_s"] = round(time.time() - t_start, 3)
    with open(os.path.join(out_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k, (v, u) in named.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    print(f"{a.workload} correct = {bool(correct and failed == 0)}")
    print(json.dumps({"correct": bool(correct and failed == 0),
                      "attempted": int(attempted), "failed": int(failed),
                      "metrics": out}))


if __name__ == "__main__":
    main()
