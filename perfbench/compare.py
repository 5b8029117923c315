#!/usr/bin/env python3
"""Compare two sets of benchmark results: a parent and a change.

Usage: python3 perfbench/compare.py <parent_dir> <change_dir> [--bench BENCHMARK.json]

Each directory holds the JSON records run.py writes to perfbench/runs/results/
(one per run). For every workload and end-to-end metric it prints both sides'
median and quartiles with the sample count, the share of seed-matched pairs
the change wins, and a verdict, using the bounds in BENCHMARK.json:

  improved      the change wins at least 9 of 10 pairs and the medians differ
                by more than the parent's own quartile spread
  worse         the change's median is worse than the parent's by more than
                the bound
  unresolved    the parent's quartile spread is wider than the bound, so a
                difference inside it cannot be told from noise
  within bound  none of the above

It also prints, per set, the tracing overhead (traced minus untraced pass_s),
the host state the runs saw, and the headline total (the sum of per-query
medians over the two headline workloads, comparable with the 25-query Bench
total) when both headline workloads were run.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, workload, metric, traced=False):
    """{seed: value} over the runs of one workload and trace mode."""
    return {r["seed"]: r["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and bool(r["trace"]) == traced
            and metric in r["metrics"]}


def verdict(parent, change, bound, lower_is_better):
    sign = 1 if lower_is_better else -1
    p_q1, p_med, p_q3 = quartiles(list(parent.values()))
    _, c_med, _ = quartiles(list(change.values()))
    seeds = sorted(set(parent) & set(change))
    if seeds:
        pairs = [(parent[s], change[s]) for s in seeds]
    else:  # no shared seeds: pair runs in the order they sort
        pairs = list(zip(sorted(parent.values()), sorted(change.values())))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    share = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (c_med - p_med) / p_med if p_med else 0.0
    spread = (p_q3 - p_q1) / p_med if p_med else 0.0
    all_worse = min(sign * c for c in change.values()) > max(sign * p for p in parent.values())
    if share >= 0.9 and sign * (p_med - c_med) > (p_q3 - p_q1):
        v = "improved"
    elif worse_by > bound and (spread <= bound or all_worse):
        v = "worse"
    elif spread > bound:
        v = "unresolved"
    else:
        v = "within bound"
    return share, worse_by, spread, v


def headline_total(runs):
    per_query = {}
    for r in runs:
        if r["workload"].startswith("headline_") and not r["trace"]:
            for c in r["calls"]:
                per_query.setdefault(c["name"], []).append(c["seconds"])
    total = sum(statistics.median(v) for v in per_query.values())
    return total, len(per_query)


def describe(name, runs, workloads):
    print(f"\n{name}: {len(runs)} runs")
    for w in workloads:
        plain = values(runs, w, "pass_s")
        traced = values(runs, w, "trace.pass_s", traced=True)
        if plain and traced:
            over = statistics.median(traced.values()) - statistics.median(plain.values())
            print(f"  {w}: tracing overhead {over:+.3f} s per pass "
                  f"({len(traced)} traced / {len(plain)} untraced runs)")
    steal = [r["host"]["steal_pct"] for r in runs if r.get("host")]
    spread = [r["host"]["spread_pct"] for r in runs if r.get("host")]
    if steal:
        print(f"  host: steal median {statistics.median(steal):.2f} % "
              f"(max {max(steal):.2f}), per-core spread median "
              f"{statistics.median(spread):.1f} %; cores "
              f"{sorted({r['cores'] for r in runs})}, heap {sorted({r['heap_gb'] for r in runs})} GB")
    total, n = headline_total(runs)
    if n == 25:
        print(f"  headline_total_s {total:.3f} (sum of 25 per-query medians)")
    elif n:
        print(f"  headline partial total {total:.3f} s over {n} of 25 queries")


def main():
    ap = argparse.ArgumentParser(description="compare two benchmark result sets")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    parent, change = load(a.parent), load(a.change)
    workloads = sorted({r["workload"] for r in parent + change})
    for name, runs in (("parent", parent), ("change", change)):
        describe(name, runs, workloads)
    print(f"\n{'workload':20} {'metric':17} {'parent med [q1, q3] n':34} "
          f"{'change med [q1, q3] n':34} {'wins':>5} {'worse':>7} {'bound':>5}  verdict")
    for w in workloads:
        for m in bench["end_to_end"]:
            p, c = values(parent, w, m["name"]), values(change, w, m["name"])
            if not p or not c:
                continue
            share, worse_by, _, v = verdict(p, c, m["bound"], m["better"] == "lower")

            def fmt(xs):
                q1, med, q3 = quartiles(list(xs.values()))
                return f"{med:.4g} [{q1:.4g}, {q3:.4g}] {len(xs)}"
            print(f"{w:20} {m['name']:17} {fmt(p):34} {fmt(c):34} "
                  f"{share:5.0%} {worse_by:+7.1%} {m['bound']:5.2f}  {v}")


if __name__ == "__main__":
    main()
