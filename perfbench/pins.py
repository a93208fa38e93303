#!/usr/bin/env python3
"""Make or verify perfbench/pins.json, the pinned outputs of the graph
and reporting queries on the generated tables.

Usage (from the root of the repository):

    python3 perfbench/pins.py            # verify pins.json
    python3 perfbench/pins.py --write    # rewrite pins.json

The benchmark program writes each pinned query's output as parquet,
with its row count and digest. Each output is compared in DuckDB with
the query's oracle SQL (SparkEntry.oracleSql) over the same tables:
same columns, same row count, same values after sorting every column.
Only outputs that pass become pins; the benchmark then checks each run's
row counts and digests against them.
"""
import argparse
import json
import os
import shutil
import sys

import duckdb

import build
import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def matches(con, got_dir, sql):
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
    exp = con.sql(sql).df()
    cols = sorted(got.columns)
    if cols != sorted(exp.columns):
        return f"columns {cols} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = got[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    e = exp[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    bad = [c for c in cols if g[c].dtype.kind != e[c].dtype.kind
           or not ((g[c] == e[c]) | (g[c].isna() & e[c].isna())).all()]
    return f"values differ in {bad}" if bad else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()
    classes, _ = build.ensure_built(run.ROOT, run.OUT)
    data, _ = run.ensure_data(classes)
    out = os.path.join(run.OUT, "pins")
    shutil.rmtree(out, ignore_errors=True)
    code, _ = run.run_jvm(classes, ["pins", data, out], os.path.join(out, "tmp"), 900,
                          os.path.join(run.OUT, "pins.log"))
    if code != 0:
        sys.exit(f"pins JVM exited with {code}; see {run.OUT}/pins.log")
    digests = json.load(open(os.path.join(out, "digests.json")))
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet/*.parquet'")
    failed = 0
    for q in sorted(digests):
        why = matches(con, os.path.join(out, q), oracle[q])
        print(f"{'FAIL' if why else 'PASS'} {q} {digests[q]}{': ' + why if why else ''}")
        failed += bool(why)
    pins_path = os.path.join(run.HERE, "pins.json")
    if failed:
        sys.exit(f"{failed} outputs differ from their oracle; pins not written")
    if a.write:
        with open(pins_path, "w") as f:
            json.dump({"scale": run.SCALE, "queries": digests}, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {pins_path}")
    else:
        pins = json.load(open(pins_path))
        stale = [q for q in digests if pins["queries"].get(q) != digests[q]]
        if pins["scale"] != run.SCALE or stale:
            sys.exit(f"pins.json is stale for {stale or 'scale'}")
        print("pins.json matches")


if __name__ == "__main__":
    main()
