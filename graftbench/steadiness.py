#!/usr/bin/env python3
"""Steadiness evidence for the benchmark. Run from the repository root:

    python3 graftbench/steadiness.py --runs 10 --first-seed 100 --traced 3 \
        --out graftbench/results/steadiness.json

For each workload it makes --runs untraced runs, each with its own seed,
and reports per end-to-end metric the median and the spread: the distance
between the first and third quartiles (statistics.quantiles, n=4) as a
share of the median, beside the bound BENCHMARK.json fixes: "ok" when
the spread is at most a third of the bound, "wide" when it is within the
bound, "OVER" beyond it. Every metric is judged, setup_s too. The first
--traced seeds also get a traced run, right after their untraced one, and
the tracing overhead of each end-to-end metric is the median over these
pairs of traced against untraced. With --against, it
reports how far each median moved from an earlier report's, and whether
the move, in either direction, is larger than the metric's bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    record_path = os.path.join(ROOT, ".graftbench_work", "records",
                               f"{workload}-seed{seed}-trace{trace}.json")
    with open(record_path) as fh:
        record = json.load(fh)
    print(f"{workload} seed {seed} trace {trace}: {wall:.1f} s, correct={result['correct']}",
          file=sys.stderr, flush=True)
    return {"seed": seed, "wall_s": wall, "correct": result["correct"],
            "attempted": result["attempted"], "failed": result["failed"],
            "end_to_end": record["end_to_end"]}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out")
    ap.add_argument("--against", help="an earlier report to compare medians with")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    earlier = None
    if args.against:
        with open(args.against) as fh:
            earlier = json.load(fh)["workloads"]
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in args.workloads:
        seeds = range(args.first_seed, args.first_seed + args.runs)
        plain, traced = [], []
        for i, s in enumerate(seeds):
            plain.append(run(w, s, spec["run_seconds"], 0))
            # the traced run follows the untraced run of its seed, so the
            # pair meets the machine in the same state
            if i < args.traced:
                traced.append(run(w, s, spec["run_seconds"], 1))
        metrics = {}
        for name, bound in bounds.items():
            m = spread([r["end_to_end"][name] for r in plain])
            m["bound"] = bound
            m["within_bound"] = m["spread"] <= bound
            m["within_third_of_bound"] = m["spread"] <= bound / 3
            pairs = [t["end_to_end"][name] / p["end_to_end"][name] - 1
                     for p, t in zip(plain, traced) if p["end_to_end"][name]]
            if pairs:
                m["tracing_overhead"] = statistics.median(pairs)
            if earlier and w in earlier:
                before = earlier[w]["metrics"][name]["median"]
                change = m["median"] / before - 1 if before else 0.0
                m["change_vs_earlier"] = change
                m["moved_beyond_bound"] = abs(change) > bound
            metrics[name] = m
        report["workloads"][w] = {
            "runs": len(plain), "traced_runs": len(traced),
            "failed": sum(r["failed"] for r in plain + traced),
            "attempted": sum(r["attempted"] for r in plain + traced),
            "wall_s": spread([r["wall_s"] for r in plain]),
            "metrics": metrics}
        for name, m in metrics.items():
            extra = f"  traced {m['tracing_overhead']:+.1%}" if "tracing_overhead" in m else ""
            if "change_vs_earlier" in m:
                extra += f"  vs earlier {m['change_vs_earlier']:+.1%}"
                extra += " BEYOND BOUND" if m["moved_beyond_bound"] else ""
            verdict = ("ok" if m["within_third_of_bound"] else
                       "wide" if m["within_bound"] else "OVER")
            print(f"{w:7s} {name:24s} median {m['median']:12.4f}  spread {m['spread']:6.1%}"
                  f"  bound {m['bound']:.2f}  {verdict}{extra}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
