#!/usr/bin/env python3
"""yark write-path benchmark: one workload run.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. It builds the engine and the JVM driver
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the workload in one JVM, checks the outputs
(perfbench/check.py) outside the timed region, prints human-readable
lines starting with '#', and last one JSON line with the keys correct,
attempted, failed and metrics. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer metrics of a separate traced run.
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

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from stats import median, percentile, self_times  # noqa: E402

WORKLOADS = ("ingest_batch", "ingest_stream", "query_mix")
# query_mix: the PageRank fixpoint and a single-pass join control; the
# latency operation is the control query, run QUERY_REPEATS times
QUERIES = ["q130_pagerank", "q06_revenue_join"]
LATENCY_QUERY = "q06_revenue_join"
QUERY_REPEATS = 20
HEAP = "1536m"
JVM_TIMEOUT_S = 170

# metric names and units, as BENCHMARK.json declares them
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

_SPAN_METRICS = {
    "sources.decode": "sources.decode_s",
    "pipelines.refine": "pipelines.refine_s",
    "operators.dedup": "operators.dedup_s",
    "operators.fk_check": "operators.fk_check_s",
    "sinks.merge": "sinks.merge_s",
    "operators.cascade": "operators.cascade_s",
    "sinks.delete": "sinks.delete_s",
    "queries.plan": "queries.plan_s",
}


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(root, classes, workload, inputs, out, seconds, trace):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS then moves with off-heap memory,
    # not with how far the collector happened to grow the heap
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(out, 'derby.log')}",
           "-Dlog4j2.configurationFile="
           + os.path.join(HERE, "log4j2.properties")]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.classpath(root),
            "perfbench.BenchMain", "--workload", workload, "--inputs", inputs,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores()), "--queries", ",".join(QUERIES),
            "--latency-query", LATENCY_QUERY, "--repeats", str(QUERY_REPEATS),
            "--launch-ns", str(time.time_ns())]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=log)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed: {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def end_to_end(workload, res):
    s = res["samples"]
    warm = {"ingest_batch": "ingest_s", "ingest_stream": "epoch_s",
            "query_mix": "warm_pass_s"}[workload]
    lat = {"ingest_batch": "unarchive_s", "ingest_stream": "latency_s",
           "query_mix": "latency_s"}[workload]
    return {
        # one sample: this process's launch to ready
        "setup_s": s["setup_s"][0],
        "first_pass_s": s["first_pass_s"][0],
        "warm_pass_s": median(s[warm]),
        "latency_p50_s": percentile(s[lat], 50),
        "latency_p90_s": percentile(s[lat], 90),
        "peak_rss_mb": s["peak_rss_mb"][0],
    }, {warm: len(s[warm]), lat: len(s[lat])}


def per_layer(workload, res):
    # a layer the workload bypasses reads 0
    m = {k: 0.0 for k in PER_LAYER}
    m.update(res["layers"])
    spans = res["spans"]
    selfs = self_times(spans)
    for span, metric in _SPAN_METRICS.items():
        if span in selfs:
            m[metric] = selfs[span]
    for q in QUERIES:
        if f"queries.{q}" in selfs:
            m[f"queries.{q}_s"] = selfs[f"queries.{q}"]
    if workload == "ingest_stream" and m["streaming.epochs"]:
        m["sinks.merge_s"] /= m["streaming.epochs"]  # per epoch
    roots = [s for s in spans if s["parent"] == -1]
    m["trace.wall_s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9
                            for s in roots)
    m["trace.harness_s"] = selfs.get("workload", 0.0)
    return m, selfs


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (inputs, dumps, logs)")
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("run from the repository root: src/main/scala "
                         "(the engine under test) is missing")
    t_build = time.time()
    classes = build.build(root)
    print(f"# build: {time.time() - t_build:.1f} s -> {classes}")

    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    os.makedirs(out)
    t_gen = time.time()
    manifest = gen.generate(a.workload, a.seed, inputs, a.seconds)
    print(f"# inputs: seed {a.seed}, generated in {time.time() - t_gen:.1f} s")
    res = run_jvm(root, classes, a.workload, inputs, out, a.seconds, a.trace)

    # each table, the W2 audit and each query oracle is one checked operation
    if a.workload == "query_mix":
        bad = check.check_queries(os.path.join(out, "results"),
                                  os.path.join(inputs, "tables"),
                                  os.path.join(out, "oracle.json"))
        checks = len(QUERIES)
    else:
        bad = check.check_catalog(os.path.join(out, "catalog"), manifest)
        checks = len(manifest["tables"]) + bool(manifest.get("guard_refused"))
    attempted = res["attempted"] + checks
    failed = res["failed"] + len(bad)
    failures = res["errors"] + bad

    info = dict(res["info"])
    info.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                nproc=cores(), heap=HEAP)
    if manifest.get("input_records"):
        info["input_records"] = manifest["input_records"]
    if a.trace:
        metrics, selfs = per_layer(a.workload, res)
        units = PER_LAYER
        info["self_time_s"] = {k: round(v, 4) for k, v in sorted(selfs.items())}
        info["self_time_sum_s"] = round(sum(selfs.values()), 4)
    else:
        metrics, counts = end_to_end(a.workload, res)
        units = END_TO_END
        info["sample_counts"] = counts
        if a.workload == "ingest_batch":
            info["ingest_rows_per_s"] = (manifest["input_records"]
                                         / metrics["warm_pass_s"])
    info["ops_failed_ratio"] = f"{failed}/{attempted}"
    for k, v in info.items():
        print(f"# {k}: {json.dumps(v, sort_keys=True)}")
    for f in failures:
        print(f"# FAILED: {f}")
    if not a.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
