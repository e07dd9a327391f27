#!/usr/bin/env python3
"""Sizing sweep: how a workload's throughput and executor core use change
with the size of its input, to choose the sizes in params.json.

    python3 perfbench/sizing.py cdc 300 600 1200 2400
    python3 perfbench/sizing.py curation 2000 4000 8000

For `cdc` each value is the backlog's `txns_per_file` (the batch size
grows with it; files and files per trigger stay as in params.json); for
`curation` it is the corpus size in documents. Each value is one untraced
run of perfbench/run.py with that size and otherwise the params.json
settings. Prints one row per value: events (docs) per batch (iteration),
the median throughput of the measured drains (iterations), their median
core use (executor task seconds / (wall seconds x k)), and the median wall
seconds of one drain (iteration).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload", choices=["cdc", "curation"])
    ap.add_argument("values", type=int, nargs="+")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args()
    with open(os.path.join(BENCH, "params.json")) as f:
        base = json.load(f)
    work = os.path.join(BENCH, ".work", "sizing")
    os.makedirs(work, exist_ok=True)
    print("value  per_unit  throughput_per_s  core_use  unit_s", flush=True)
    for v in args.values:
        p = json.loads(json.dumps(base))
        if args.workload == "cdc":
            p["cdc"]["catchup"]["txns_per_file"] = v
        else:
            p["curation"]["docs"] = v
        path = os.path.join(work, f"params-{args.workload}-{v}.json")
        with open(path, "w") as f:
            json.dump(p, f)
        r = subprocess.run(
            ["python3", "perfbench/run.py", "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", "0", "--params", path],
            cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-2000:])
            print(f"{v}  run failed (rc={r.returncode})", flush=True)
            continue
        out = os.path.join(BENCH, ".out",
                           f"{args.workload}-seed{args.seed}-trace0.json")
        with open(out) as f:
            d = json.load(f)["details"]
        if args.workload == "cdc":
            per = d["backlog_events"] / statistics.median(d["drain_batches"])
            tput = statistics.median(d["drain_events_per_s"])
            use = statistics.median(d["drain_core_use"])
            unit = d["backlog_events"] / tput
        else:
            per = v
            unit = statistics.median(d["iteration_s"])
            tput = v / unit
            use = statistics.median(d["iteration_core_use"])
        print(f"{v}  {per:.0f}  {tput:.1f}  {use:.3f}  {unit:.2f}", flush=True)


if __name__ == "__main__":
    main()
