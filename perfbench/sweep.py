#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workloads crawl rag_search --seeds 1 2 3 4 5
    python3 perfbench/sweep.py --workloads crawl --seeds 1 2 --trace 0 1

For every workload, trace setting and metric it prints the median over the
seeds and the spread: the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median. With both
trace settings it also prints the tracing overhead, traced minus untraced
median, for every end-to-end metric the two runs share.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def one(workload, seed, seconds, trace):
    res = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)],
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {res.returncode}")
    result = json.loads(res.stdout.strip().splitlines()[-1])
    # the untraced end-to-end figures of a traced run, from its report on stderr
    e2e = {}
    for line in res.stderr.splitlines():
        parts = line.split()
        if len(parts) == 4 and parts[0] == "perfbench:" and parts[1].endswith(("_s", "_ms", "_mb")):
            e2e[parts[1]] = float(parts[2])
    return result, e2e


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", nargs="+", type=int, default=[0])
    a = ap.parse_args()
    for w in a.workloads:
        medians = {}
        for t in a.trace:
            values, seen = {}, {}
            for s in a.seeds:
                result, e2e = one(w, s, a.seconds, t)
                if not result["correct"] or result["failed"]:
                    print(f"{w} seed {s} trace {t}: correct={result['correct']} failed={result['failed']}")
                for k, m in result["metrics"].items():
                    values.setdefault(k, []).append(m["value"])
                for k, v in e2e.items():
                    seen.setdefault(k, []).append(v)
            print(f"== {w} trace={t} seeds={a.seeds}")
            for k, vs in values.items():
                med, sp = spread(vs)
                print(f"  {k:34s} median {med:14.4f}  spread {sp:7.2%}  n={len(vs)}")
            medians[t] = {k: statistics.median(vs) for k, vs in seen.items()}
        if 0 in medians and 1 in medians:
            print(f"== {w} tracing overhead (traced - untraced median)")
            for k, v in medians[0].items():
                if k in medians[1]:
                    print(f"  {k:34s} {medians[1][k] - v:+14.4f}")


if __name__ == "__main__":
    main()
