#!/usr/bin/env python3
"""Run the benchmark over several seeds, on one checkout or on two.

    python3 perfbench/sweep.py OUT [--workloads a,b] [--seeds 1-10]
        [--trace 0]
    python3 perfbench/sweep.py OUT --base BASE_DIR --change CHANGE_DIR
        [--workloads a,b] [--seeds 1-10]

With no checkout given it runs the one it is started from and appends
each run's final JSON line, with its seed added, to OUT/<workload>.jsonl,
then prints per end-to-end metric the median and the quartile spread
(q3 - q1) / median next to the metric's bound.

With --base and --change (two checkouts, each run from its own root with
its own perfbench/run.py) it runs every seed on both, alternating which
side goes first from one seed to the next, so drift of the host over the
sweep falls on both sides alike. Runs go to OUT/base/ and OUT/change/,
and compare.py is run on them at the end. This is the way to compare two
versions: sweeps of the two sides made one after the other are not
comparable on a shared host.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def run_one(checkout, workload, seed, seconds, trace, path, label=""):
    """One run of `checkout`'s benchmark; appends its result to `path`."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", trace]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not last.startswith("{"):
        print(f"{label}{workload} seed {seed}: exit {p.returncode}",
              flush=True)
        return
    r = json.loads(last)
    with open(path, "a") as f:
        f.write(json.dumps(dict(r, seed=seed)) + "\n")
    print(f"{label}{workload} seed {seed} ({wall:.0f} s): "
          f"correct={r['correct']} failed={r['failed']}/{r['attempted']} "
          + " ".join(f"{k}={v['value']:.4g}"
                     for k, v in r["metrics"].items()), flush=True)


def spreads(path, spec):
    if not os.path.exists(path):
        return
    with open(path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"  {os.path.basename(path)[:-6]} {m['name']}: median "
              f"{med:.4g}, spread {(q3 - q1) / med:.3f} (bound {m['bound']})")


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--base", help="checkout of the parent")
    ap.add_argument("--change", help="checkout of the change")
    a = ap.parse_args()
    if bool(a.base) != bool(a.change):
        raise SystemExit("give both --base and --change, or neither")
    secs = spec["run_seconds"]
    if not a.base:
        os.makedirs(a.out, exist_ok=True)
        for w in a.workloads.split(","):
            path = os.path.join(a.out, f"{w}.jsonl")
            for s in seeds(a.seeds):
                run_one(os.getcwd(), w, s, secs, a.trace, path)
            if a.trace == "0":
                spreads(path, spec)
        return 0
    sides = [("base", os.path.abspath(a.base)),
             ("change", os.path.abspath(a.change))]
    for label, _ in sides:
        os.makedirs(os.path.join(a.out, label), exist_ok=True)
    for w in a.workloads.split(","):
        for i, s in enumerate(seeds(a.seeds)):
            for label, checkout in (sides if i % 2 == 0 else sides[::-1]):
                run_one(checkout, w, s, secs, a.trace,
                        os.path.join(a.out, label, f"{w}.jsonl"),
                        f"[{label}] ")
    if a.trace != "0":
        return 0
    return subprocess.call([sys.executable, os.path.join(HERE, "compare.py"),
                            os.path.join(a.out, "base"),
                            os.path.join(a.out, "change")])


if __name__ == "__main__":
    sys.exit(main())
