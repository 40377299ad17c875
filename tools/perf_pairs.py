#!/usr/bin/env python3
"""Compare paired benchmark runs of a parent and a change checkout.

    python3 tools/perf_pairs.py PARENT_OUT CHANGE_OUT [--benchmark BENCHMARK.json]
                                [--workload NAME] [--runs] [--spans]

PARENT_OUT and CHANGE_OUT are `perfbench/out` directories, one per
checkout: `perfbench/run.py` writes each run to `<workload>-s<seed>-t<trace>/`
and reuses that directory, so the two sides of a pair must come from two
checkouts. Runs pair up by workload and seed; only untraced runs (`-t0`)
carry the end-to-end metrics.

For every end-to-end metric in BENCHMARK.json and every workload, prints
each side's median and quartiles, how many pairs the change won (ties count
for neither side), and two verdicts:

  gain   the change won at least 9 of every 10 pairs AND its median beats
         the parent's by more than the parent's own Q1-Q3 spread
  bound  the change's median is no worse than the parent's by more than the
         metric's BENCHMARK.json bound (a relative bound): `holds` or
         `BROKEN`; `unresolved` instead of `holds` when the parent's own
         Q1-Q3 spread, relative to its median, is wider than the bound,
         unless every change run beats every parent run (the runs spread too
         widely to tell "unchanged" from a regression within the bound)

It also reports whether every run was correct with no failed operations,
and flags runs that shared the machine with another JVM. It only reads
files.

--spans compares the traced runs (`-t1`) instead: for each workload and
seed traced on both sides, it sums each side's `spans.jsonl` by span group,
the name of the span's parent (`-` at top level) and its name, e.g.
`trigger-1  foreach_batch  merge.events` (a live trigger's merge; the
backfill's merges of the same group sit at top level), and prints wall ms,
executor CPU ms, shuffle write bytes, Spark jobs and tasks, parent -> change.
"""
import argparse
import glob
import json
import os
import re
import statistics
import sys

TAG = re.compile(r"^(?P<workload>.+)-s(?P<seed>\d+)-t(?P<trace>[01])$")


def load_runs(out_dir):
    """{(workload, seed): record} for the untraced runs under out_dir."""
    runs = {}
    for path in glob.glob(os.path.join(out_dir, "*", "record.json")):
        m = TAG.match(os.path.basename(os.path.dirname(path)))
        if not m or m["trace"] != "0":
            continue
        with open(path) as f:
            runs[(m["workload"], int(m["seed"]))] = json.load(f)
    return runs


def span_paths(out_dir):
    """{(workload, seed): spans.jsonl path} for the traced runs under out_dir."""
    runs = {}
    for path in glob.glob(os.path.join(out_dir, "*", "spans.jsonl")):
        m = TAG.match(os.path.basename(os.path.dirname(path)))
        if m and m["trace"] == "1":
            runs[(m["workload"], int(m["seed"]))] = path
    return runs


SPAN_FIELDS = (("ms", "wall ms"), ("executor_cpu_ms", "cpu ms"),
               ("shuffle_write_bytes", "shuffle B"), ("jobs", "jobs"),
               ("tasks", "tasks"))


def span_sums(path):
    """{(group, parent name, name): {field: sum}} over one spans.jsonl."""
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    names = {s["id"]: s["name"] for s in spans}
    sums = {}
    for s in spans:
        key = (s["group"], names.get(s["parent"], "-"), s["name"])
        acc = sums.setdefault(key, {k: 0.0 for k, _ in SPAN_FIELDS})
        for k, _ in SPAN_FIELDS:
            acc[k] += s.get(k, 0) or 0
    return sums


def compare_spans(parent_out, change_out, workload):
    """Print each traced pair's per-(group, name) span sums side by side."""
    parent, change = span_paths(parent_out), span_paths(change_out)
    keys = sorted(k for k in set(parent) & set(change)
                  if workload in (None, k[0]))
    if not keys:
        sys.exit("no traced run appears in both directories")
    for w, seed in keys:
        p, c = span_sums(parent[(w, seed)]), span_sums(change[(w, seed)])
        print(f"\n== {w} seed {seed}: spans summed by group, parent span "
              "and name, parent -> change")
        print(f"{'group':<22} {'under':<16} {'name':<26} " + " ".join(
            f"{label:>23}" for _, label in SPAN_FIELDS))
        zero = {k: 0.0 for k, _ in SPAN_FIELDS}
        for key in sorted(set(p) | set(c)):
            a, b = p.get(key, zero), c.get(key, zero)
            print(f"{key[0]:<22} {key[1]:<16} {key[2]:<26} " + " ".join(
                f"{a[k]:>10.6g} ->{b[k]:>10.6g}" for k, _ in SPAN_FIELDS))


def quartiles(xs):
    """(Q1, median, Q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def value(record, name):
    """An end-to-end metric of one run, or None where it was not recorded."""
    return record.get("metrics", {}).get(name, {}).get("value")


def failed_ops(record):
    harness = record.get("harness", {})
    return int(harness.get("failed", 0))


def compare(workload, pairs, spec):
    """Print one workload's table; return False if any bound is broken."""
    seeds = sorted(pairs)
    print(f"\n== {workload}: {len(seeds)} pairs, seeds "
          f"{', '.join(str(s) for s in seeds)}")
    bad_runs = [(side, s) for s in seeds for side, r in
                zip(("parent", "change"), pairs[s])
                if not r.get("correct") or failed_ops(r)]
    shared = [(side, s) for s in seeds for side, r in
              zip(("parent", "change"), pairs[s])
              if r.get("overlapped_other_jvm")]
    print(f"correct with 0 failed: "
          f"{'all runs' if not bad_runs else 'NO ' + str(bad_runs)}")
    if shared:
        print(f"runs that shared the machine with another JVM: {shared}")
    print(f"{'metric':<20} {'parent Q1 / median / Q3':>29} "
          f"{'change Q1 / median / Q3':>29} {'delta':>7} {'wins':>6}  gain  bound")
    ok = True
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        both = [(value(pairs[s][0], name), value(pairs[s][1], name))
                for s in seeds]
        both = [(p, c) for p, c in both if p is not None and c is not None]
        if not both:
            print(f"{name:<20} not measured")
            continue
        par, chg = [p for p, _ in both], [c for _, c in both]
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        gap = (pmed - cmed) if lower else (cmed - pmed)
        gain = 10 * wins >= 9 * len(both) and gap > (pq3 - pq1)
        worse = -gap / pmed if pmed else 0.0
        within = worse <= m["bound"]
        ok = ok and within
        spread = (pq3 - pq1) / pmed if pmed else 0.0
        beats_all = (max(chg) < min(par)) if lower else (min(chg) > max(par))
        verdict = ("BROKEN" if not within else
                   "unresolved" if spread > m["bound"] and not beats_all else
                   "holds")
        delta = (cmed - pmed) / pmed if pmed else float("nan")
        print(f"{name:<20} {pq1:>9.4g} {pmed:>9.4g} {pq3:>9.4g} "
              f"{cq1:>9.4g} {cmed:>9.4g} {cq3:>9.4g} {delta:>+7.1%} "
              f"{wins:>2}/{len(both):<3}  {'yes' if gain else 'no':<4}  "
              f"{verdict} (bound {m['bound']:.0%})")
    return ok


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_out")
    ap.add_argument("change_out")
    ap.add_argument("--benchmark", default=os.path.join(root, "BENCHMARK.json"))
    ap.add_argument("--workload", help="only this workload")
    ap.add_argument("--runs", action="store_true",
                    help="also print every pair's values")
    ap.add_argument("--spans", action="store_true",
                    help="compare the traced runs' spans instead")
    a = ap.parse_args()
    if a.spans:
        compare_spans(a.parent_out, a.change_out, a.workload)
        return
    with open(a.benchmark) as f:
        spec = json.load(f)
    parent, change = load_runs(a.parent_out), load_runs(a.change_out)
    keys = sorted(set(parent) & set(change))
    unpaired = sorted(set(parent) ^ set(change))
    if unpaired:
        print(f"unpaired runs (ignored): {unpaired}")
    workloads = sorted({w for w, _ in keys if a.workload in (None, w)})
    if not workloads:
        sys.exit("no untraced run appears in both directories")
    ok = True
    for w in workloads:
        pairs = {s: (parent[(w, s)], change[(w, s)]) for ww, s in keys if ww == w}
        ok = compare(w, pairs, spec) and ok
        if a.runs:
            names = [m["name"] for m in spec["end_to_end"]]
            print("seed     " + "  ".join(f"{n:>25}" for n in names))
            nan = float("nan")
            for s in sorted(pairs):
                p, c = pairs[s]
                cells = []
                for n in names:
                    pv, cv = value(p, n), value(c, n)
                    cells.append(f"{nan if pv is None else pv:>11.4g} ->"
                                 f"{nan if cv is None else cv:>11.4g}")
                print(f"{s:<8} " + "  ".join(cells))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
