#!/usr/bin/env python3
"""Change-data and curation benchmark for the Spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):
  cdc       backlog drains (closed loop), then a live window (open loop: a
            generator thread publishes a redo feed file every tick at a fixed
            offered rate) through Pipeline.stream -> Kafka, in one session
  curation  closed loop: q136_curation_e2e over a seeded documents corpus

The first run builds the program and the benchmark with sbt (offline) into
perfbench/target and ./target. Each run writes its full result, stamped with
its run conditions, to perfbench/.out/ and prints one compact JSON line last.
The exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
OUT = os.path.join(BENCH, ".out")
RUN_LIMIT_S = 165
BUILD_LIMIT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: the hypervisor's steal shows how
    much of a run's time the host took away."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return None


def steal_frac(before, after):
    if not before or not after or after[1] <= before[1]:
        return None
    return round((after[0] - before[0]) / (after[1] - before[1]), 4)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def tree_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_head():
    """HEAD of the checkout when it is itself a git work tree, else None."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           cwd=ROOT, capture_output=True, text=True, timeout=10)
        out = r.stdout.split()
        if r.returncode == 0 and len(out) == 2 and \
                os.path.realpath(out[0]) == os.path.realpath(ROOT):
            return out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def run_group(cmd, cwd, env, timeout, out_path):
    """Run a command in its own process group; on timeout kill the group.
    Always waits until the process has ended."""
    with open(out_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build():
    """Compile program + benchmark once per source tree; return classpath."""
    digest = tree_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no program build (build.sbt) in the checkout")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark (sbt, offline)")
    t0 = time.time()
    blog = os.path.join(BUILD, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export perfbench/Runtime/fullClasspath"],
                   BENCH, env, BUILD_LIMIT_S, blog)
    with open(blog, errors="replace") as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: build failed (rc={rc})")
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if not cps:
        raise SystemExit("perfbench: build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"build done in {time.time() - t0:.0f}s")
    return cps[-1].strip()


# ---- curation corpus -----------------------------------------------------

def make_vocab(rnd, n):
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "si", "po", "de", "fa", "gu",
           "be", "zo", "vi", "che", "an", "or", "el", "ist", "um"]
    words = set()
    while len(words) < n:
        words.add("".join(rnd.choice(syl) for _ in range(rnd.randint(1, 4))))
    return sorted(words)


def gen_docs(seed, n, p):
    """Seeded corpus with the TESTDATA `documents` schema and fixed shares of
    exact duplicates (same text, maybe re-cased) and near duplicates (a few
    tokens replaced). Duplicates copy original documents only, so duplicate
    groups are stars of bounded diameter and the connected-components work
    does not depend on the seed's chance chains."""
    rnd = random.Random(seed)
    vocab = make_vocab(rnd, p["vocab_size"])
    lo, hi = p["tokens_per_doc"]
    exact, near = p["exact_dup_frac"], p["near_dup_frac"]
    texts, originals = [], []
    for i in range(n):
        u = rnd.random()
        if originals and u < exact:
            t = texts[rnd.choice(originals)]
            texts.append(t.upper() if rnd.random() < 0.5 else t)
        elif originals and u < exact + near:
            toks = texts[rnd.choice(originals)].split(" ")
            for _ in range(max(1, int(len(toks) * p["near_dup_edit_frac"]))):
                toks[rnd.randrange(len(toks))] = vocab[int(len(vocab) * rnd.random() ** 2)]
            texts.append(" ".join(toks))
        else:
            k = rnd.randint(lo, hi)
            texts.append(" ".join(vocab[int(len(vocab) * rnd.random() ** 2)]
                                  for _ in range(k)))
            originals.append(i)
    langs = ["en"] * 8 + ["de", "fr"]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [langs[rnd.randrange(len(langs))] for _ in range(n)],
        "source": [f"src{rnd.randrange(p['sources'])}" for _ in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def write_docs(path, cols, rows_per_group):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })
    pq.write_table(table, os.path.join(path, "documents.parquet"),
                   row_group_size=rows_per_group)


def manifest_digest(manifest):
    """The JVM's manifest digest, recomputed from the rows it reported."""
    text = "\n".join(sorted(f"{s}|{n}|{o}" for s, n, o in manifest))
    return hashlib.md5(text.encode()).hexdigest()


def check_manifest(cols, manifest, sample_k, n_shards):
    """Independent check of q136's training manifest against the corpus:
    shard ids and per-shard counts are consistent, the sample has exactly
    `sample_k` distinct documents, and every sampled document is the
    first-seen copy of its text (exact dedup) and passes the quality rule."""
    texts = cols["text"]
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t.lower(), i)
    problems, ids = [], []
    for shard, n, order in manifest:
        got = [int(x) for x in order.split(",")] if order else []
        if len(got) != n or not 0 <= shard < n_shards:
            problems.append(f"shard {shard}: n_docs={n} listed={len(got)}")
        ids += got
    if len(ids) != len(set(ids)) or len(ids) != sample_k:
        problems.append(f"{len(ids)} sampled, {len(set(ids))} distinct, want {sample_k}")
    for i in ids:
        if not 0 <= i < len(texts):
            problems.append(f"doc {i} not in corpus")
            continue
        toks = [x for x in texts[i].split(" ") if x]
        if first[texts[i].lower()] != i:
            problems.append(f"doc {i} is an exact duplicate of {first[texts[i].lower()]}")
        if not (5 <= len(toks) <= 100000 and (len(texts[i]) + 1) / len(toks) < 40):
            problems.append(f"doc {i} fails the quality rule")
    return not problems, "; ".join(problems[:5]) or f"{len(ids)} docs in {len(manifest)} shards"


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--params", default=os.path.join(BENCH, "params.json"))
    ap.add_argument("--corrupt", default="",
                    choices=["", "drop-record", "alter-hash"],
                    help="self-test only: corrupt one output before checking")
    args = ap.parse_args()
    started = time.time()
    load_before = loadavg()
    ticks_before = cpu_ticks()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(args.params) as f:
        params = json.load(f)
    classpath = build()
    built = time.time()  # the run's time limit starts after a (first) build

    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    # k Spark cores + the generator thread + the driver-side threads
    # (streaming driver, JIT, GC, broker) on nproc
    k = max(1, nproc - params["reserved_cores"])
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")

    corpus = None
    try:
        if args.workload == "curation":
            cp = params["curation"]
            corpus = gen_docs(args.seed, cp["docs"], cp)
            write_docs(os.path.join(work, "curation", "corpus"), corpus,
                       cp["docs_per_row_group"])
            # the set-up's warm-up pass reads a small corpus of another seed
            write_docs(os.path.join(work, "curation", "warm"),
                       gen_docs(args.seed + 1, cp["warm_docs"], cp),
                       cp["docs_per_row_group"])
        cmd = (["java", f"-Xmx{params['driver_memory']}", "-XX:-UsePerfData"] +
               [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dderby.system.home={work}",
                "-cp", classpath, "graft.perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work, "--params", args.params, "--out", result_path,
                "--k", str(k)] +
               (["--corrupt", args.corrupt] if args.corrupt else []))
        jvm_log = os.path.join(OUT, f"{tag}.jvm.log")
        os.makedirs(OUT, exist_ok=True)
        # set-up is timed from here: the JVM's start, less input generation
        # inside it, up to its first timed operation
        cmd += ["--launched-ms", str(int(time.time() * 1000))]
        rc = run_group(cmd, work, os.environ.copy(),
                       RUN_LIMIT_S - (time.time() - built), jvm_log)
        if rc is None or not os.path.exists(result_path):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            raise SystemExit(f"perfbench: JVM run failed (rc={rc})")
        with open(result_path) as f:
            res = json.load(f)
        if res.get("error"):
            sys.stderr.write(res["error"])
        checks = list(res["checks"])
        attempted, failed = int(res["attempted"]), int(res["failed"])
        if corpus is not None and not res.get("error"):
            cp = params["curation"]
            manifest = res["details"]["manifest"]
            ok, detail = check_manifest(corpus, manifest, cp["sample_k"],
                                        cp["shards"])
            checks.append({"name": "manifest_valid_for_corpus", "ok": ok,
                           "detail": detail})
            digest = manifest_digest(manifest)
            same = digest == res["details"]["manifest_hash"]
            checks.append({"name": "reported_hash_matches_manifest", "ok": same,
                           "detail": f"reported={res['details']['manifest_hash']} "
                                     f"recomputed={digest}"})
            if not (ok and same):
                failed = attempted
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = spec["per_layer" if args.trace else "end_to_end"]
    metrics, missing = {}, []
    for m in names:
        v = res["metrics"].get(m["name"])
        if v is None or not isinstance(v["value"], (int, float)) \
                or not math.isfinite(v["value"]) or v["unit"] != m["unit"]:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    correct = (not res.get("error") and not missing and failed == 0
               and all(c["ok"] for c in checks))
    for c in checks:
        if not c["ok"]:
            log(f"CHECK FAILED {c['name']}: {c['detail']}")
    if missing:
        log(f"metrics missing or not finite: {missing}")
    summary = {"correct": bool(correct), "attempted": max(1, attempted),
               "failed": failed if correct else max(1, failed),
               "metrics": metrics}

    conditions = {
        "commit": git_head() or "src-" + tree_digest()[:16],
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc, "k": k, "xmx": params["driver_memory"],
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "cpu_steal_frac": steal_frac(ticks_before, cpu_ticks()),
        "spark": {"master": f"local[{k}]", "spark.sql.shuffle.partitions": k,
                  "stateStore": "RocksDB", "tune": "graft.core.Tables.tune"},
        "wall_s": round(time.time() - started, 3),
    }
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump({"summary": summary, "conditions": conditions,
                   "checks": checks, "all_metrics": res["metrics"],
                   "details": res["details"], "error": res.get("error")},
                  f, indent=1)
    print(json.dumps(summary), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
