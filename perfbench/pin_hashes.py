#!/usr/bin/env python3
"""Pin the result hashes of query_suite queries that have no DuckDB oracle.

    python3 perfbench/pin_hashes.py perfbench/out/query_suite-s<seed>-t0

Reads the results a query_suite run wrote and records the canonical hash of
each query without an oracle in perfbench/expected_hashes.json, labelled
with the commit that produced it. Pins are taken once, on the commit that
defined the benchmark; re-pinning to make a run pass hides a changed result.
"""
import json
import os
import sys

import pandas as pd

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def main(out_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(out_dir, "record.json")) as f:
        commit = json.load(f).get("git_commit")
    pins = {}
    for name in sorted(os.listdir(os.path.join(out_dir, "results"))):
        if name in oracles:
            continue
        df = pd.read_parquet(os.path.join(out_dir, "results", name))
        pins[name] = {"sha256": run.canon_hash(df), "rows": len(df)}
    doc = {"source": f"output of commit {commit} on the query_suite tables "
                     f"(data seed {run.SUITE_DATA_SEED}, scale {run.SUITE_SCALE})",
           "queries": pins}
    with open(os.path.join(HERE, "expected_hashes.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
