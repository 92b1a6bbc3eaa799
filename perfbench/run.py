#!/usr/bin/env python3
"""graft benchmark: a document-ETL workload and a registry query suite.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (`perfbench/build.py`), makes the
workload's inputs from the seed, runs one JVM with `graft.Bench`'s session
configuration (`perfbench/harness`), checks the outputs outside the timed
region and prints, as the last line of standard output, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, the per-layer ones with
`--trace 1`. The line before it records the host context. See
`perfbench/README.md` for the workloads and metrics.
"""
import argparse
import csv
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import urllib.parse

sys.dont_write_bytecode = True
import build  # noqa: E402
import corpus  # noqa: E402

HERE, ROOT, WORK = build.HERE, build.ROOT, build.WORK
EXPECTED = os.path.join(HERE, "expected.json")
LOG4J = os.path.join(HERE, "log4j2.properties")

WORKLOADS = ("farm_csv", "query_suite")
FARM_DOCS = 400     # documents in the farm_csv corpus
HEAP = "3g"
JVM_TIMEOUT_S = 160

ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host():
    with open("/proc/meminfo") as f:
        mem = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem}


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far (Linux)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def java(cp, run_dir, args, timeout, index_dir=None):
    """Runs perfbench.Main with its scratch space under `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_LOCAL_DIRS=tmp,
               SPARK_GRAFT_INDEX_DIR=index_dir or os.path.join(run_dir, "index"))
    cmd = (["java", f"-Xmx{HEAP}"] + ADD_OPENS +
           ["-Dlog4j2.configurationFile=" + LOG4J,
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()])
    p = subprocess.Popen(cmd, cwd=run_dir, env=env,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: JVM timed out")
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited with {rc}")


def suite_tables(cp, sf, cpus):
    """The suite's tables, generated once per checkout (with the build,
    so that no measured run pays for them)."""
    d = os.path.join(WORK, f"tables-sf{sf}")
    if not os.path.exists(os.path.join(d, ".ok")):
        shutil.rmtree(d, ignore_errors=True)
        gen = os.path.join(WORK, "tables-gen")
        shutil.rmtree(gen, ignore_errors=True)
        os.makedirs(gen)
        java(cp, gen, {"mode": "gen", "data": d, "sf": sf, "cpus": cpus}, 600)
        shutil.rmtree(gen, ignore_errors=True)
        open(os.path.join(d, ".ok"), "w").close()
    return d


def suite_index(cp, key, data, cpus):
    """The persisted indexes untraced suite runs read, built once per
    source tree (with the build, so that no measured run pays for it) by
    the code that reads them."""
    d = os.path.join(WORK, f"index-{key}")
    if not os.path.exists(os.path.join(d, ".ok")):
        for old in os.listdir(WORK):
            if old.startswith("index-"):
                shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
        gen = os.path.join(WORK, "index-gen")
        shutil.rmtree(gen, ignore_errors=True)
        os.makedirs(gen)
        java(cp, gen, {"mode": "index", "data": data, "cpus": cpus}, 600, d)
        shutil.rmtree(gen, ignore_errors=True)
        open(os.path.join(d, ".ok"), "w").close()
    return d


def farm_inputs(seed, run_dir):
    """Writes the corpus; checks that generating it again gives the same
    bytes."""
    goldens = corpus.load_goldens(ROOT)
    docs, planted = corpus.generate(seed, FARM_DOCS, goldens)
    again, planted2 = corpus.generate(seed, FARM_DOCS, goldens)

    def digest(ds):
        h = hashlib.sha256()
        for doc, blocks in ds:
            h.update(doc.encode() + corpus.dump(blocks))
        return h.hexdigest()
    deterministic = planted == planted2 and digest(docs) == digest(again)
    corpus.write_dumps(docs, os.path.join(run_dir, "dumps"))
    return docs, planted, goldens, deterministic


def check_csv(out, docs, planted, goldens):
    """One CSV per document; each planted document's file equals the
    reference's rows. Returns (failed documents, records written)."""
    found = {}
    for d in os.listdir(out):
        if d.startswith("doc="):
            path = urllib.parse.unquote(d[len("doc="):])
            doc = os.path.basename(path).rsplit(".", 1)[0]
            found[doc] = [os.path.join(out, d, f)
                          for f in os.listdir(os.path.join(out, d))
                          if f.endswith(".csv") and not f.startswith(".")]
    failed, records = 0, 0
    for doc, _ in docs:
        files = found.get(doc, [])
        if len(files) != 1:
            log(f"{doc}: {len(files)} CSV files")
            failed += 1
            continue
        with open(files[0], newline="") as f:
            rows = list(csv.reader(f))
        records += len(rows) - 1
        if doc in planted:
            want = [[str(v) for v in r]
                    for r in goldens[planted[doc]]["csv_rows"]]
            if rows != want:
                log(f"{doc} ({planted[doc]}): rows differ from the reference")
                failed += 1
    return failed, records


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(EXPECTED) as f:
        expected = json.load(f)
    ctx = dict(host(), seed=a.seed, workload=a.workload, trace=a.trace,
               load1_before=os.getloadavg()[0])
    ticks = cpu_ticks()
    cp, key = build.classpath()
    cpus = str(ctx["nproc"])
    data = suite_tables(cp, expected["sf"], cpus)
    # Untraced suite runs share one index per source tree; a traced run
    # builds a fresh one in its set-up to measure the build.
    index_dir = None
    if a.workload == "query_suite" and not a.trace:
        index_dir = suite_index(cp, key, data, cpus)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = {"mode": "run", "workload": a.workload, "seconds": a.seconds,
                "trace": a.trace, "cpus": cpus, "out": run_dir}
        if a.workload == "query_suite":
            queries = sorted(expected["digests"])
            random.Random(f"order:{a.seed}").shuffle(queries)
            args.update(data=data, queries=",".join(queries))
        else:
            docs, planted, goldens, deterministic = farm_inputs(a.seed, run_dir)
            args.update(input=run_dir)
        args["launch_ms"] = int(time.time() * 1000)
        java(cp, run_dir, args, JVM_TIMEOUT_S, index_dir)
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        metrics = result["metrics"]

        if a.workload == "query_suite":
            want, got = expected["digests"], result["digests"]
            bad = set(result["failed_queries"]) | {
                q for q in queries if got.get(q) != want.get(q)}
            for q in sorted(bad):
                log(f"{q}: digest {got.get(q)} != expected {want.get(q)}")
            attempted, failed = len(queries), len(bad)
            selfcheck = result["digest_order_free"]
        else:
            (out,) = os.listdir(os.path.join(run_dir, "csv"))
            failed, records = check_csv(os.path.join(run_dir, "csv", out),
                                        docs, planted, goldens)
            attempted, selfcheck = len(docs), deterministic
            metrics["parity.records"] = float(records)
        if a.trace:
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.move(os.path.join(run_dir, "spans.jsonl"), os.path.join(
                WORK, "spans", f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing:
        log(f"not applicable to {a.workload}, reported as 0: {missing}")
    steal, total = (end - start for start, end in zip(ticks, cpu_ticks()))
    ctx.update(load1_after=os.getloadavg()[0],
               cpu_steal_frac=round(steal / max(total, 1), 4),
               passes=result["passes"],
               pass_samples=result["pass_samples"])
    line = {"correct": bool(selfcheck) and failed == 0,
            "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in names}}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({"host": ctx, "result": line,
                            "query_samples": result["query_samples"]}) + "\n")
    print(json.dumps({"host": ctx}))
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
