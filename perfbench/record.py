#!/usr/bin/env python3
"""Writes the traced-run record of one workload, with its tracing overhead.

Usage, from the root of a checkout:

    python3 perfbench/record.py --workload <name> --seed <n>

Runs the workload traced (a fixed step count), then untraced with the same
seed and step count. The traced run writes its per-layer record; this
script adds the measured-phase wall time of both runs and their difference,
the tracing overhead, and stores the record as
perfbench/records/<workload>.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_sync", "search_mix", "curate_batch")


def run(workload, seed, trace, extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "15", "--trace", str(trace)] + extra
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout + p.stderr)
        sys.exit(f"{workload} run failed")
    detail = {}
    for line in p.stdout.splitlines():
        f = line.split()
        if len(f) == 4 and f[0] in ("metric", "detail"):
            detail[f[1]] = float(f[2])
    return detail, json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    out = os.path.join(HERE, "records", f"{a.workload}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    traced, traced_res = run(a.workload, a.seed, 1, ["--record", out])
    with open(out) as fh:
        rec = json.load(fh)
    plain, plain_res = run(a.workload, a.seed, 0, ["--steps", str(rec["steps"])])
    rec["correct"] = plain_res["correct"] and traced_res["correct"]
    rec["tracing_overhead"] = {
        "untraced_measured_s": plain["measured_s"],
        "traced_measured_s": traced["measured_s"],
        "overhead_s": traced["measured_s"] - plain["measured_s"],
        "overhead_share": traced["measured_s"] / plain["measured_s"] - 1,
        "in_process_overhead_ms": rec["per_layer"]["trace.overhead_ms"]["value"],
        "untraced_figures": plain,
    }
    with open(out, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{out}: overhead {rec['tracing_overhead']['overhead_s']:.2f} s "
          f"({100 * rec['tracing_overhead']['overhead_share']:.1f} %)")


if __name__ == "__main__":
    main()
