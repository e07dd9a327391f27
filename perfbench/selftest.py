#!/usr/bin/env python3
"""Self-test of the benchmark, at a tiny size of every workload.

    python3 perfbench/selftest.py

Asserts that
  * every workload passes its output checks and prints every end-to-end
    metric (--trace 0) and every per-layer metric (--trace 1) named in
    BENCHMARK.json, with its unit;
  * each output check fails on a corrupted output: one broker record
    dropped (CDC), one manifest hash altered (curation);
  * a directory holding only BENCHMARK.json and the benchmark's own files
    makes the benchmark exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work", "selftest")


def tiny_params():
    with open(os.path.join(BENCH, "params.json")) as f:
        p = json.load(f)
    p["cdc"]["warmup_txns"] = 20
    live = p["cdc"]["live"]
    live["offered_events_per_s"] = 400
    live["lead_in_txns"] = 20
    cu = p["cdc"]["catchup"]
    cu["files"], cu["txns_per_file"], cu["min_drains"] = 6, 40, 1
    cur = p["curation"]
    cur["docs"], cur["warm_docs"], cur["min_iterations"] = 400, 100, 1
    cur["warmup_iterations"] = 0
    path = os.path.join(WORK, "params.json")
    with open(path, "w") as f:
        json.dump(p, f)
    return path


def run(cwd, workload, trace, params=None, corrupt=""):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    if params:
        cmd += ["--params", params]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, last, p.stderr


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    params = tiny_params()
    failures = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(ROOT, w, trace, params)
            expect(rc == 0 and res and res["correct"], f"{w} trace={trace} passes its checks")
            if rc != 0:
                sys.stderr.write(err[-3000:])
            got = (res or {}).get("metrics", {})
            for m in spec[key]:
                v = got.get(m["name"])
                expect(v is not None and v["unit"] == m["unit"],
                       f"{w} trace={trace} prints {m['name']} [{m['unit']}]")

    for w, corrupt in (("cdc", "drop-record"), ("curation", "alter-hash")):
        rc, res, _ = run(ROOT, w, 0, params, corrupt)
        expect(rc != 0 and res is not None and not res["correct"] and res["failed"] > 0,
               f"{w} fails its check when corrupted ({corrupt})")

    bare = os.path.join(WORK, "bare")
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".out", ".build",
                                                  "target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res, _ = run(bare, spec["workloads"][0]["name"], 0)
    expect(rc != 0 and res is None,
           "without the program's sources it exits non-zero and prints no result")

    shutil.rmtree(WORK, ignore_errors=True)
    print(f"selftest: {len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
