#!/usr/bin/env python3
"""Compare two sets of benchmark results against the bounds in BENCHMARK.json.

Usage, from the root of a checkout:

    python3 perfbench/compare.py A B [--bench BENCHMARK.json]
    python3 perfbench/compare.py --overhead RESULTS

A and B are each a directory or a comma-separated list of files. A file
is either a run record written under .bench_build/results/, or the
captured standard output of `perfbench/run.py` (its summary line names
the workload, its last line holds the metrics).

For every (workload, end-to-end metric) the tool prints each side's
median and quartiles (`statistics.quantiles(n=4)`), the quartile spread
as a share of the median, and whether the pair holds: each side's spread
is within the metric's bound (setup_s excepted) and B's median is not
worse than A's by more than the bound. It exits 1 when a pair fails.

With --overhead it reads traced and untraced run records from one set
and prints, per workload, how much slower the traced runs' end-to-end
figures were (the tracing overhead).
"""
import argparse
import json
import os
import re
import statistics
import sys

SUMMARY = re.compile(r"^\[perfbench\] (\w+) seed=(\d+) trace=(\d)")


def load(path):
    """(workload, trace, {metric: value}) from a record or captured output."""
    with open(path) as fh:
        text = fh.read()
    try:
        rec = json.loads(text)
        metrics = rec.get("all_metrics") or rec["metrics"]
        return rec["workload"], int(rec["trace"]), {k: v["value"] for k, v in metrics.items()}
    except (ValueError, KeyError):
        pass
    lines = [l for l in text.splitlines() if l.strip()]
    head = next((SUMMARY.match(l) for l in lines if SUMMARY.match(l)), None)
    if head is None or not lines:
        raise ValueError(f"{path}: neither a run record nor run.py output")
    last = json.loads(lines[-1])
    return head.group(1), int(head.group(3)), {k: v["value"] for k, v in last["metrics"].items()}


def collect(spec):
    if os.path.isdir(spec):
        files = sorted(os.path.join(spec, f) for f in os.listdir(spec)
                       if f.endswith(".json") or f.endswith(".txt"))
    else:
        files = [f for f in spec.split(",") if f]
    runs = {}
    for f in files:
        if os.path.getsize(f) == 0:
            print(f"skipping empty {f}", file=sys.stderr)
            continue
        w, t, m = load(f)
        runs.setdefault((w, t), []).append(m)
    return runs


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse_share(a_med, b_med, better):
    """How much worse B's median is than A's, as a share of A's."""
    if a_med == 0:
        return 0.0 if b_med == a_med else float("inf")
    d = (b_med - a_med) / abs(a_med)
    return d if better == "lower" else -d


def compare(a, b, bench):
    ok = True
    print(f"{'workload':9} {'metric':14} {'A median [q1, q3]':>34} {'spread':>7} "
          f"{'B median [q1, q3]':>34} {'spread':>7} {'B vs A':>7} {'bound':>6}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        ra, rb = a.get((w, 0), []), b.get((w, 0), [])
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va = [r[name] for r in ra if name in r]
            vb = [r[name] for r in rb if name in r]
            if not va or not vb:
                print(f"{w:9} {name:14} missing runs (A {len(va)}, B {len(vb)})  FAIL")
                ok = False
                continue
            sa, sb = summary(va), summary(vb)
            shift = worse_share(sa[0], sb[0], m["better"])
            spread_ok = name == "setup_s" or (sa[3] <= bound and sb[3] <= bound)
            good = spread_ok and shift <= bound
            ok &= good
            fmt = lambda s: f"{s[0]:.4g} [{s[1]:.4g}, {s[2]:.4g}] n={len(va if s is sa else vb)}"
            print(f"{w:9} {name:14} {fmt(sa):>34} {sa[3]:7.3f} {fmt(sb):>34} {sb[3]:7.3f} "
                  f"{shift:+7.3f} {bound:6.2f}  {'ok' if good else 'FAIL'}")
    return ok


def overhead(runs, bench):
    print(f"{'workload':9} {'metric':14} {'untraced':>10} {'traced':>10} {'overhead':>9}")
    for w in [x["name"] for x in bench["workloads"]]:
        plain, traced = runs.get((w, 0), []), runs.get((w, 1), [])
        for m in bench["end_to_end"]:
            name = m["name"]
            u = [r[name] for r in plain if name in r]
            t = [r[name] for r in traced if name in r]
            if u and t:
                mu, mt = statistics.median(u), statistics.median(t)
                print(f"{w:9} {name:14} {mu:10.4g} {mt:10.4g} {(mt / mu - 1):+9.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sets", nargs="+", help="A B, or one set with --overhead")
    ap.add_argument("--bench", default="BENCHMARK.json")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(args.bench) as fh:
        bench = json.load(fh)
    if args.overhead:
        overhead(collect(args.sets[0]), bench)
        return
    if len(args.sets) != 2:
        ap.error("give two result sets, A and B")
    sys.exit(0 if compare(collect(args.sets[0]), collect(args.sets[1]), bench) else 1)


if __name__ == "__main__":
    main()
