#!/usr/bin/env python3
"""Compares two sets of perfbench runs, per workload x metric.

    python3 perfbench/compare.py <set A> [<set B>]

A set is a directory of run records (``perfbench/.work/runs`` by default
holds them) or a single record file; give a directory per set. With one
set, it prints each metric's median, quartiles and spread, and whether the
spread stays within a third of the metric's bound. With two sets (A the
parent, B the change) it adds B's figures and a verdict:

- ``unresolved``: either set's spread (interquartile distance over median)
  exceeds the metric's bound, unless every run of B beats every run of A;
- ``regressed``: B's median is worse than A's by more than the bound;
- ``improved``: B wins at least 9/10 of the pairs (ties count for neither)
  and the medians differ by more than A's interquartile distance;
- ``no change`` otherwise.

Runs pair by seed when both sets ran the same seeds, else in run order.
Metrics without a bound (per-layer and detail figures) get no verdict.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_set(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("smoke"):
            continue
        vals = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        if not r["trace"]:
            for k, v in r["detail"].items():
                if isinstance(v, (int, float)):
                    vals[f"detail.{k}"] = v
                elif isinstance(v, dict):
                    vals.update({f"detail.{k}.{q}": x for q, x in v.items()
                                 if isinstance(x, (int, float))})
        runs.append({"workload": r["workload"], "trace": r["trace"], "seed": r["seed"],
                     "file": f, "values": vals})
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def pairs(a, b):
    sa = {r["seed"]: r for r in a}
    sb = {r["seed"]: r for r in b}
    common = sorted(set(sa) & set(sb))
    if common:
        return [(sa[s], sb[s]) for s in common]
    return list(zip(a, b))


def main(argv):
    if len(argv) not in (2, 3):
        raise SystemExit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sets = [load_set(p) for p in argv[1:]]
    keys = sorted({(r["workload"], r["trace"]) for s in sets for r in s})
    fmt = "{:<12} {:<34} {:>3} {:>12} {:>12} {:>7} {:>12} {:>7} {:>8} {:>5}  {}"
    print(fmt.format("workload", "metric", "n", "median A", "IQR A", "spr A",
                     "median B", "spr B", "B/A-1", "win", "verdict"))
    for wl, tr in keys:
        runs = [[r for r in s if r["workload"] == wl and r["trace"] == tr] for s in sets]
        names = sorted({k for rs in runs for r in rs for k in r["values"]})
        for name in names:
            m = spec.get(name, {})
            bound = m.get("bound")
            lower = m.get("better", "lower") == "lower"
            series = [[r["values"][name] for r in rs if name in r["values"]] for rs in runs]
            a = series[0]
            if not a:
                continue
            qa = quartiles(a)
            row = [wl, name, len(a), f"{qa[1]:.4g}", f"{qa[2] - qa[0]:.3g}", f"{spread(a):.3f}"]
            verdict = ""
            if len(series) == 1:
                row += ["", "", "", ""]
                if bound is not None:
                    verdict = "steady" if spread(a) < bound / 3 else (
                        "within bound" if spread(a) <= bound else "NOT within bound")
            else:
                b = series[1]
                if not b:
                    continue
                qb = quartiles(b)
                better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
                pr = [(pa["values"][name], pb["values"][name]) for pa, pb in pairs(
                    runs[0], runs[1]) if name in pa["values"] and name in pb["values"]]
                wins = sum(1 for x, y in pr if better(y, x))
                win = wins / len(pr) if pr else 0.0
                rel = qb[1] / qa[1] - 1 if qa[1] else float("inf")
                row += [f"{qb[1]:.4g}", f"{spread(b):.3f}", f"{rel:+.3f}", f"{win:.2f}"]
                if bound is not None:
                    worse = rel > bound if lower else -rel > bound
                    all_better = all(better(y, x) for x in a for y in b)
                    if (spread(a) > bound or spread(b) > bound) and not all_better:
                        verdict = "unresolved"
                    elif worse:
                        verdict = "regressed"
                    elif win >= 0.9 and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
                        verdict = "improved"
                    else:
                        verdict = "no change"
            row.append(verdict)
            print(fmt.format(*row))


if __name__ == "__main__":
    main(sys.argv)
