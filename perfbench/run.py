#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload graph_mining --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the engine and the benchmark program
from source (see build.py) and generates the input tables; later runs
reuse both from .bench_build/. Each run starts a fresh JVM, which
prints its measurements to a file; this script checks them, stamps a
run record (.bench_build/records/) and prints, as the last line of
stdout, one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lakehouse_day", "graph_mining", "er_incremental")
# generated input scale: main tables (1500 customers, 15k orders) and
# the smaller tables the warm-up runs on; pins.json is made at SCALE
SCALE = 0.01
WARM_SCALE = 0.001
JVM_HEAP = "3g"
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(classes, args, tmp, timeout, log_path):
    """Run the benchmark program in its own JVM and process group; kill
    the group and wait for it if it outlives `timeout`."""
    os.makedirs(os.path.join(tmp, "jvm"), exist_ok=True)
    cmd = build.java_cmd(classes, JVM_HEAP, tmp,
                         os.path.join(HERE, "log4j2.properties")) + list(args)
    # a cluster manager's local-dir variables would override spark.local.dir
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    env["TMPDIR"] = os.path.join(tmp, "jvm")
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=err, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return code, cmd


def ensure_data(classes):
    """Generate the input tables once per checkout (they depend only on
    the generator's source, never on the seed)."""
    key = build.digest([os.path.join(HERE, "src", "graftbench", "DataGen.scala")])[:16]
    data = os.path.join(OUT, "data", f"{key}-sf{SCALE}-sf{WARM_SCALE}")
    if not os.path.exists(os.path.join(data, "done")):
        shutil.rmtree(data, ignore_errors=True)
        for name, sf in (("main", SCALE), ("warm", WARM_SCALE)):
            log(f"generating {name} tables at sf{sf}")
            code, _ = run_jvm(classes, ["gen", os.path.join(data, name), str(sf)],
                              os.path.join(data, "tmp"), 600, os.path.join(data, "gen.log"))
            if code != 0:
                sys.exit(f"data generation failed; see {data}/gen.log")
        shutil.rmtree(os.path.join(data, "tmp"), ignore_errors=True)
        open(os.path.join(data, "done"), "w").close()
    return os.path.join(data, "main"), os.path.join(data, "warm")


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("no engine sources at src/main/scala: run from the root of a graft checkout")
    t_start = time.time()
    load_start = os.getloadavg()
    classes, source_hash = build.ensure_built(ROOT, OUT)
    data, warm = ensure_data(classes)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(OUT, "runs", f"{tag}-{os.getpid()}")
    logs = os.path.join(OUT, "logs")
    records = os.path.join(OUT, "records")
    for d in (logs, records):
        os.makedirs(d, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(records, f"{tag}.spans.json")
    log_path = os.path.join(logs, f"{tag}.log")
    # the JVM's time limit applies once the build and the data exist
    # (the first run of a checkout also builds them)
    t_run = time.time()
    try:
        code, cmd = run_jvm(classes, [
            "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--warm", warm, "--work", os.path.join(run_dir, "work"),
            "--pins", os.path.join(HERE, "pins.json"),
            "--out", result_path, "--spans", spans_path,
        ], os.path.join(run_dir, "tmp"), RUN_LIMIT_S, log_path)
        if code != 0 or not os.path.exists(result_path):
            tail = open(log_path).read().splitlines()[-20:]
            sys.exit(f"benchmark JVM exited with {code}; log {log_path}:\n" + "\n".join(tail))
        res = json.load(open(result_path))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    wall = time.time() - t_run

    layers = res["layers"]
    acc_errors = sum("Failed to update accumulator" in line for line in open(log_path))
    layers["operators.er.accumulator_errors"] = {"value": acc_errors, "unit": "count"}
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    got = layers if a.trace else res["e2e"]
    if sorted(got) != sorted(want):
        sys.exit(f"metric names differ from BENCHMARK.json: "
                 f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    metrics = {k: got[k] for k in want}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_head": git_head(), "source_hash": source_hash, "nproc": os.cpu_count(),
        "spark_master": res["spark_master"], "jvm_args": cmd[1:cmd.index("graftbench.Main")],
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "run_wall_s": wall, "script_wall_s": time.time() - t_start, "window_s": res["window_s"],
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "e2e": res["e2e"], "named": res["named"], "layers": layers,
        "samples": res["samples"], "checks": res["checks"], "spans": spans_path,
    }
    if a.trace:
        # tracing overhead: this traced run minus the untraced run of
        # the same workload and seed, when one is on record
        base = os.path.join(records, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(base):
            b = json.load(open(base))
            record["trace_overhead"] = {
                k: {"value": v["value"] - b[part][k]["value"], "unit": v["unit"]}
                for part in ("e2e", "named") for k, v in res[part].items()
                if k in b[part] and v["value"] is not None and b[part][k]["value"] is not None}
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for part in ("e2e", "named"):
        for k, v in res[part].items():
            log(f"{k} = {v['value']} {v['unit']}")
    for k, v in record.get("trace_overhead", {}).items():
        log(f"trace overhead {k} = {v['value']:+} {v['unit']}")
    for c in res["checks"]:
        if not c["ok"]:
            log(f"check failed: {c['check']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
