#!/usr/bin/env python3
"""Graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload assemble|curate|ann_serve \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds Graft and the benchmark
driver from source (`build.py`), generates the workload's input from
the seed (cached per seed and size), runs the driver in its own JVM on
`local[nproc]`, checks every output outside the timed region
(`checks.py`) and prints, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Everything it
writes stays under the build directory (`.bench_build`, or
`$CARGO_TARGET_DIR` when set).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

HEAP = "2g"
# the fixed request set e2e_s and the latencies cover, per workload
REQUESTS = {"assemble": 40, "curate": 4, "ann_serve": 16}
# untimed warm-up requests served before that set
WARM_REQUESTS = {"assemble": 2, "curate": 2, "ann_serve": 6}
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = {
    "setup_s": "s", "e2e_s": "s", "build_s": "s", "req_p50_ms": "ms", "req_p90_ms": "ms",
    "recall": "ratio", "peak_heap_mb": "MiB"}

# per-layer metric -> (unit, key in the driver's layer map, scale)
PER_LAYER = {
    "session.jobs": ("count", "session.jobs", 1),
    "session.stages": ("count", "session.stages", 1),
    "session.tasks": ("count", "session.tasks", 1),
    "session.plan_ms": ("ms", "session.plan_ms", 1),
    "session.codegen_ms": ("ms", "session.codegen_ms", 1),
    "session.driver_gap_s": ("s", "session.driver_gap_s", 1),
    "session.sched_delay_s": ("s", "session.sched_delay_s", 1),
    "exec.run_s": ("s", "exec.run_s", 1),
    "exec.cpu_s": ("s", "exec.cpu_s", 1),
    "exec.failed_tasks": ("count", "exec.failed_tasks", 1),
    "shuffle.write_mb": ("MiB", "shuffle.write_mb", 1),
    "shuffle.read_mb": ("MiB", "shuffle.read_mb", 1),
    "shuffle.fetch_wait_s": ("s", "shuffle.fetch_wait_s", 1),
    "shuffle.spill_mb": ("MiB", "shuffle.spill_mb", 1),
    "ck.cached_mb_peak": ("MiB", "ck.cached_mb_peak", 1),
    "jvm.gc_s": ("s", "jvm.gc_s", 1),
    "sources.input_mb": ("MiB", "sources.input_mb", 1),
    "sources.output_mb": ("MiB", "sources.output_mb", 1),
    "sources.artifacts_built": ("count", "sources.artifacts_built", 1),
    "sources.artifact_mb": ("MiB", "sources.artifact_mb", 1),
    "sources.fasta_write_s": ("s", "sources.fasta_write_s", 1),
    "sources.fasta_lookup_ms": ("ms", "span.sources.fasta_lookup", 1000),
    "sources.query_read_ms": ("ms", "span.sources.query_read", 1000),
    "sources.index_read_ms": ("ms", "span.sources.index_read", 1000),
    "graphops.overlap_s": ("s", "graphops.overlap_s", 1),
    "sequence.lowcov_s": ("s", "sequence.lowcov_s", 1),
    "graphops.clean_s": ("s", "graphops.clean_s", 1),
    "graphops.chains_s": ("s", "graphops.chains_s", 1),
    "pipeline.rounds": ("count", "pipeline.rounds", 1),
    "pipeline.assemble_s": ("s", "span.pipeline.assembleToFasta", 1),
    "curation.dsir_s": ("s", "span.curation.dsir", 1),
    "dedup.quote_scrub_s": ("s", "span.dedup.quote_scrub", 1),
    "dedup.soft_dedup_s": ("s", "span.dedup.soft_dedup", 1),
    "curation.audit_s": ("s", "span.curation.audit", 1),
    "dedup.verdict_ms": ("ms", "span.dedup.verdict", 1000),
    "similarity.train_s": ("s", "span.similarity.train", 1),
    "similarity.serve_ms": ("ms", "span.similarity.serve", 1000),
    "similarity.scored_per_result": ("count", "similarity.scored_per_result", 1),
    "bench.self_ms": ("ms", "bench.self_s", 1000),
}


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def inputs(workload, seed, root):
    """The workload's input for `seed`, generated once per seed and size."""
    path = os.path.join(root, "inputs", f"{workload}-s{seed}-{gen.size_key(workload)}")
    if not os.path.exists(os.path.join(path, "truth.json")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(os.path.join(path, "truth.json")) as f:
        return path, json.load(f)


def run_driver(args, classes, input_dir, work, cores):
    """Run the driver JVM; returns its result.json, or exits on failure."""
    scratch, tmp = os.path.join(work, "scratch"), os.path.join(work, "tmp")
    os.makedirs(scratch)
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dgraft.scratchDir={scratch}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-cp", build.classpath(os.path.dirname(classes)), "graft.perfbench.Driver",
        "--workload", args.workload, "--input", input_dir, "--work", work,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
        "--requests", str(REQUESTS[args.workload]),
        "--warm-requests", str(WARM_REQUESTS[args.workload]),
        "--t0-ms", str(int(time.time() * 1000))]
    with open(os.path.join(work, "driver.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"run: driver timed out after {RUN_TIMEOUT_S} s (log: {log.name})")
    if code != 0:
        with open(os.path.join(work, "driver.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"run: driver failed with code {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def commit():
    """The checkout's git commit, when it is a git repository."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(REQUESTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = build_dir()
    os.makedirs(root, exist_ok=True)
    classes = build.build(root)
    input_dir, truth = inputs(args.workload, args.seed, root)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load = os.getloadavg()[0]
    try:
        res = run_driver(args, classes, input_dir, work, cores)
        out = res["outputs"]
        out["requests"] = len(res["warm_ms"]) + len(res["request_ms"])
        build_ok, failed_requests, recall = checks.CHECKS[args.workload](input_dir, truth, out)
    finally:
        shutil.rmtree(os.path.join(work, "scratch"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    attempted = 1 + out["requests"]
    failed = (0 if build_ok else 1) + failed_requests
    if args.trace:
        os.makedirs(os.path.join(root, "spans"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(root, "spans", os.path.basename(work) + ".json"))
    if failed == 0:
        shutil.rmtree(work)  # a failed run keeps its outputs and driver log
    if args.trace:
        layers = res["layers"]
        metrics = {name: metric(layers.get(key, 0.0) * scale, unit)
                   for name, (unit, key, scale) in PER_LAYER.items()}
        # tracing overhead: this traced run's e2e_s, to set against the
        # untraced runs' e2e_s
        metrics["trace.e2e_s"] = metric(res["e2e_s"], "s")
    else:
        req = res["request_ms"]
        values = {
            "setup_s": res["setup_s"],
            "e2e_s": res["e2e_s"],
            "build_s": res["build_s"],
            "req_p50_ms": percentile(req, 50),
            "req_p90_ms": percentile(req, 90),
            "recall": recall,
            "peak_heap_mb": res["peak_heap_mb"],
        }
        metrics = {name: metric(values[name], unit) for name, unit in END_TO_END.items()}
    env = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "loadavg_1m": load, "nproc": cores, "xmx": HEAP, "commit": commit(),
           "source": build.stamp(),
           "builds_s": res["builds_s"],
           "warm_request_ms": res["warm_ms"], "live_heaps_mb": res["live_heaps_mb"],
           "requests": out["requests"],
           "fail_ratio": failed / attempted}
    with open(os.path.join(root, "results.jsonl"), "a") as f:
        f.write(json.dumps({"env": env, "metrics": metrics}) + "\n")
    print("run: " + json.dumps(env))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
