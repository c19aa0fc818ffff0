#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload star-sql --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
runner from source with sbt (offline); later runs reuse the build while
the sources are unchanged. A run makes its inputs from --seed in a
temporary directory under .bench_build/, starts one JVM with a fixed heap
that runs the workload's passes, checks the last pass's outputs with
checks.py, removes the temporary directory and prints
{"correct", "attempted", "failed", "metrics"} as its last line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Host load and an all-core spin probe, taken before and after, go to
stderr. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
HEAP = "2g"
JVM_TIMEOUT_S = 170

# Registry ops of each registry workload, in pass order. See README.md for
# why each op is in its workload.
STAR_OPS = [
    "q01_pricing_summary", "q05_region_revenue", "q12_intersect",
    "q15_window_rank", "q18_cube", "q23_json_extract",
]
SIMILARITY_OPS = [
    "q33_minhash_lsh_dup", "q34_topk_cosine", "q72_dup_clusters", "q117_kmeans_lloyd",
]
WORKLOADS = {
    "star-sql": {"ops": STAR_OPS},
    "similarity": {"ops": SIMILARITY_OPS},
    "wiki-etl": {"pages": 100, "max_depth": 4},
}
END_TO_END = {"setup_s": "s", "cold_s": "s", "pass_s": "s", "cpu_s": "s",
              "peak_rss_mb": "MB"}
# Per-layer metrics of a traced run (name -> unit); the runner reports
# each as the mean over the timed passes (peaks: the maximum). A layer
# the workload does not call reads 0.
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.plan_s": "s", "plan.codegen_compiles": "count", "plan.codegen_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.listing_tasks": "count", "sched.driver_cpu_s": "s",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_records": "count", "exec.spill_mb": "MB", "exec.input_mb": "MB",
    "exec.output_mb": "MB", "exec.gc_s": "s", "exec.peak_exec_mem_mb": "MB",
    "store.peak_cached_mb": "MB", "store.resident_after_mb": "MB",
    "wiki.crawl_s": "s", "wiki.write_html_s": "s", "wiki.categorize_s": "s",
    "wiki.distribution_s": "s", "wiki.jdbc_s": "s", "wiki.convert_s": "s",
    **{f"op.{o}": "s" for o in STAR_OPS + SIMILARITY_OPS},
}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + runner with sbt unless the sources are unchanged."""
    stamp = os.path.join(HERE, "target", "sources.sha256")
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"build failed (exit {rc}); see .bench_build/sbt.log")
    with open(stamp, "w") as f:
        f.write(digest)


def _spin(n):
    x = 0
    for i in range(n):
        x = (x * 31 + i) % 1000003
    return x


def spin_probe_ms(threads):
    """Wall ms for `threads` processes each doing the same fixed work."""
    ctx = multiprocessing.get_context("fork")
    t = time.perf_counter()
    pool = ctx.Pool(threads)
    try:
        pool.map(_spin, [500_000] * threads)
    finally:
        pool.close()
        pool.join()
    return round((time.perf_counter() - t) * 1000, 1)


def host_probe(cores):
    return {"load1": os.getloadavg()[0], "spin_ms": spin_probe_ms(cores)}


def make_inputs(workload, seed, data):
    if workload == "wiki-etl":
        import pyarrow as pa
        import pyarrow.parquet as pq
        cfg = WORKLOADS[workload]
        web, _ = gen.wiki(seed, cfg["pages"])
        os.makedirs(data, exist_ok=True)
        pq.write_table(pa.table({"url": [u for u, _ in web], "html": [h for _, h in web]}),
                       os.path.join(data, "web.parquet"))
    else:
        gen.star(data, seed)


def run_jvm(args, workload, seed, tmp, cores):
    cfg = WORKLOADS[workload]
    data, work = os.path.join(tmp, "data"), os.path.join(tmp, "work")
    os.makedirs(os.path.join(work, "out"), exist_ok=True)
    make_inputs(workload, seed, data)
    result = os.path.join(tmp, "result.json")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    jargs = {
        "workload": workload, "data": data, "work": work, "result": result,
        "seconds": str(args.seconds),
        "trace": str(args.trace), "cores": str(cores),
        "trace-file": os.path.join(traces, f"{workload}-seed{seed}.jsonl"),
        "ops": ",".join(cfg.get("ops", [])) or "-",
        "seed-url": gen.WIKI + gen.title(seed, 0),
        "max-depth": str(cfg.get("max_depth", 0)),
    }
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main"]
    launched = int(time.time() * 1000)
    for k, v in dict(jargs, launched=str(launched)).items():
        cmd += [f"--{k}", v]
    with open(os.path.join(tmp, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        tail = open(os.path.join(tmp, "jvm.log")).read()[-3000:]
        sys.exit(f"runner failed ({rc}):\n{tail}")
    return json.load(open(result)), data, work


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("engine sources not found: run from the root of a repository checkout")
    build()
    cores = min(4, os.cpu_count() or 1)
    tmp = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        before = host_probe(cores)
        res, data, work = run_jvm(args, args.workload, args.seed, tmp, cores)
        after = host_probe(cores)
        problems = checks.check(args.workload, args.seed, data, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    for e in res["errors"]:
        log(f"OP FAILED: {e}")
    timed = [p for p in res["passes"] if p["timed"]]
    log(json.dumps({"host_before": before, "host_after": after,
                    "passes": [round(p["wall_s"], 3) for p in res["passes"]],
                    "timed_passes": len(timed), "op_s": [p["ops"] for p in timed]}))
    if args.trace:
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": res["setup_s"],
            "cold_s": res["cold_s"],
            "pass_s": statistics.median(p["wall_s"] for p in timed),
            "cpu_s": statistics.median(p["cpu_s"] for p in timed),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
