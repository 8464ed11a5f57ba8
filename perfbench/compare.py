#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds one `<workload>.jsonl` per workload, one line per
run: the JSON object run.py prints last, with the run's seed added. Make
them with `sweep.py OUT --base PARENT --change CHANGE`, which runs the two
sides interleaved seed by seed and calls this script; two sweeps made one
after the other differ by the host's drift. Runs pair by seed. For every
end-to-end metric the table shows each side's median and quartiles, then
a verdict by the rule of the choosing-metrics guide, section 8:

  - gain: the change wins at least 9 in 10 pairs (ties count for neither
    side) and the medians differ by more than the base's own quartile
    spread;
  - regression: the change's median is worse than the base's by more
    than the metric's bound in BENCHMARK.json;
  - unresolved: the base's own quartile spread is wider than the bound,
    unless every change run beats every base run;
  - within bound: none of the above.

A change that fails more operations than the base (summed over a
workload's runs) gets no gain on that workload and fails the comparison.
The exit code is 1 when any metric regressed or a workload failed more.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(base, change, better, bound, pairs):
    """Verdict for one metric: `base` and `change` are all values of each
    side, `pairs` the (base, change) values of runs with the same seed."""
    sign = 1 if better == "higher" else -1
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    worse = sign * (bm - cm) / bm if bm else 0.0
    spread = (b3 - b1) / bm if bm else 0.0
    if pairs and wins >= 0.9 * len(pairs) and sign * (cm - bm) > b3 - b1:
        return "gain"
    if worse > bound:
        return "regression"
    if spread > bound:
        if all(sign * (c - b) > 0 for b in base for c in change):
            return "gain"
        return "unresolved"
    return "within bound"


def main(argv):
    if len(argv) != 3:
        raise SystemExit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = False
    for w in spec["workloads"]:
        name = w["name"]
        pa = os.path.join(argv[1], f"{name}.jsonl")
        pb = os.path.join(argv[2], f"{name}.jsonl")
        if not (os.path.exists(pa) and os.path.exists(pb)):
            print(f"{name}: missing runs")
            continue
        ra, rb = load_runs(pa), load_runs(pb)
        fa, fb = (sum(r["failed"] for r in rs) for rs in (ra, rb))
        na, nb = (sum(r["attempted"] for r in rs) for rs in (ra, rb))
        more_failed = fb > fa
        bad |= more_failed
        print(f"== {name}: {len(ra)} base runs ({fa}/{na} ops failed), "
              f"{len(rb)} change runs ({fb}/{nb} ops failed)"
              + ("; the change fails more, so no gain counts"
                 if more_failed else ""))
        print(f"{'metric':16} {'base q1/med/q3':>30} {'change q1/med/q3':>30}"
              f"  bound  verdict")
        by_seed = {r["seed"]: r for r in rb if "seed" in r}
        for m in spec["end_to_end"]:
            def val(r):
                return r["metrics"][m["name"]]["value"]
            a, b = [val(r) for r in ra], [val(r) for r in rb]
            pairs = [(val(r), val(by_seed[r["seed"]])) for r in ra
                     if r.get("seed") in by_seed]
            qa, qb = quartiles(a), quartiles(b)
            v = verdict(a, b, m["better"], m["bound"], pairs)
            if v == "gain" and more_failed:
                v = "no gain: more ops failed"
            bad |= v == "regression"
            print(f"{m['name']:16} "
                  f"{'%.4g/%.4g/%.4g' % qa:>30} {'%.4g/%.4g/%.4g' % qb:>30}"
                  f"  {m['bound']:.2f}  {v}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
