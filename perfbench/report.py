#!/usr/bin/env python3
"""Per-layer report over the runs kept in .bench_build/results/.

Usage (from the root of a checkout, after run.py has made at least one
run with --trace 1 and, for the tracing overhead, one with --trace 0 on
the same workload):
  python3 perfbench/report.py

For every workload it prints each end-to-end metric (median over the
untraced runs) and each per-layer metric (median over the traced runs),
marking the layers the workload does not exercise; the tracing overhead
(throughput of the traced runs against the untraced ones); and, for
every span with children in the traced runs (operation, phase, stream
trigger, job), whether its children lie inside it and its phases' time
plus its self time equals its wall. Exits non-zero if any span does not
reconcile.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

LAYER_UNITS = {"_ms": "ms", "_bytes": "bytes", "_mb": "MB", "_ratio": "ratio",
               "_rows": "rows"}


def unit_of(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    results = {}
    for path in sorted(glob.glob(os.path.join(run.BUILD, "results", "*.json"))):
        with open(path) as f:
            r = json.load(f)
        results.setdefault(r["workload"], {0: [], 1: []})[r["trace"]].append(r)
    if not results:
        print("no runs in .bench_build/results; run perfbench/run.py first")
        return 2
    bad = 0
    for workload in sorted(results):
        plain, traced = results[workload][0], results[workload][1]
        print(f"== {workload}: {len(plain)} untraced, {len(traced)} traced runs")
        for name, unit in run.UNITS.items():
            vals = [r["end_to_end"][name] for r in plain
                    if r["end_to_end"].get(name) is not None]
            shown = fmt(metrics.median(vals)) if vals else (
                "omitted: fewer than 10 samples beyond it" if plain else "n/a")
            print(f"  {name:<30} {shown} {unit}")
        names = []
        for r in traced:
            names += [k for k in r["per_layer"] if k not in names]
        for layer in metrics.LAYERS:
            for name in [n for n in names if n.startswith(layer + ".")] or [layer + ".*"]:
                if not metrics.exercised(workload, name):
                    print(f"  {name:<30} not exercised by {workload}")
                    continue
                vals = [r["per_layer"][name] for r in traced if name in r["per_layer"]]
                print(f"  {name:<30} {fmt(metrics.median(vals))} {unit_of(name)}")
        tp0 = metrics.median([r["end_to_end"]["throughput_ops_s"] for r in plain])
        tp1 = metrics.median([r["end_to_end"]["throughput_ops_s"] for r in traced])
        if tp0 and tp1:
            print(f"  tracing overhead: {(1 - tp1 / tp0) * 100:+.1f}% of throughput "
                  f"({tp0:.4g} ops/s untraced, {tp1:.4g} ops/s traced)")
        else:
            print("  tracing overhead: needs one traced and one untraced run")
        levels = {}
        for r in traced:
            spans = []
            for o in metrics.operations(r["record"]):
                spans.extend(o.get("spans", []))
            for name, wall, total, own, ok in metrics.reconcile(metrics.nest_jobs(spans)):
                n = levels.setdefault(name, [0, 0])
                n[0] += ok
                n[1] += 1
                if not ok:
                    print(f"  {name} does not reconcile: wall {wall} ns, "
                          f"children {total} ns, self {own} ns")
        for name, (n_ok, n_all) in sorted(levels.items()):
            bad += n_all - n_ok
            print(f"  reconciled {name}: {n_ok} of {n_all} spans")
        if not levels:
            print("  reconciled: no traced spans")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
