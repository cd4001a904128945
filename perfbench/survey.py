#!/usr/bin/env python3
"""Measure every candidate of every workload once at steady state, and
choose each workload's mix from the measurement by a fixed rule.

Usage (from the root of a checkout):
  python3 perfbench/survey.py            # measure, select, write
  python3 perfbench/survey.py --select   # re-select from survey.json

The candidates (perfbench.Registry) are every registry entry defined in
`graft.queries` (sql_interactive); the entries of DedupOps, GraphOps,
TextOps, MlOps and SimilarityOps (pipeline_batch); and the ten streaming
twins (stream_replay). For each workload the harness makes one traced
run over all candidates: one warm-up pass, then one measured pass (the
second, steady-state touch). The twins are run twice, with two seeds, to
see whose output repeats.

Rule: a candidate is eligible when its measured pass succeeded and, for
twins, its output digest was the same in both runs. The eligible
entries are sorted by steady latency (a twin's: its median trigger) and
cut into k strata of equal count; from each stratum the entry is taken
that is nearest the stratum's median latency and median front-door +
Catalyst time, by the sum of the two relative distances. If no pick
stores blocks (the materialize layer) while some eligible entry does,
one pick is swapped for the entry of its stratum that does and is
nearest by the same distance, in the stratum where that distance is
least. k is the largest number whose
sample's steady pass (a twin's: its whole replay) fits PASS_BUDGET_S;
for the batch workloads it is odd, so that with whole passes the median
operation falls on one entry's samples rather than between two. (A
twin's replay is eight triggers of overlapping latencies, so any k
serves there.) The sample's latency quantiles and its front-door +
Catalyst share are printed beside the full set's, and written with the
measurement to perfbench/survey.json; the mixes go to workloads.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

SURVEY = os.path.join(HERE, "survey.json")
# one steady pass over a mix: set-up (about 10 s), three warm-up passes
# (about 4.5 steady passes) and a 15 s timed region make a run of about
# 57 s, which keeps 4 + 22 x 2 runs and two builds within an hour
PASS_BUDGET_S = 7.0
SURVEY_LIMIT_S = 1800
SEEDS = (0, 1)
QUANTILES = (0.1, 0.25, 0.5, 0.75, 0.9)


def registry(classpath):
    path = os.path.join(run.BUILD, "registry.json")
    subprocess.run(["java", "-cp", classpath, "perfbench.Registry", path], check=True)
    with open(path) as f:
        return json.load(f)


def batch_entry(op):
    """Steady latency and front-door + Catalyst time of one batch op:
    its engine.build self time plus its catalyst.optimize and
    catalyst.plan spans."""
    spans = metrics.nest_jobs(list(op.get("spans", [])))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    front = 0
    for s in spans:
        if s["name"] == "engine.build":
            front += metrics.self_time(s, kids.get(s["id"], []))
        elif s["name"] in ("catalyst.optimize", "catalyst.plan"):
            front += s["end_ns"] - s["start_ns"]
    return {"status": op["status"], "latency_ms": op["wall_ms"],
            "pass_ms": op["wall_ms"], "front_ms": front / 1e6,
            "materializes": op["counters"]["block_rdds"] > 0,
            "digest": op.get("digest")}


def stream_entry(replay):
    """A twin's median trigger latency, whole replay time, and query
    planning time over trigger time."""
    ts = replay["triggers"]
    walls = [t["wall_ms"] for t in ts]
    plan = sum(t["durations_ms"].get("queryPlanning", 0) for t in ts)
    return {"status": replay["status"] if ts else "error",
            "latency_ms": metrics.median(walls) if walls else None,
            "pass_ms": (replay["end_ns"] - replay["start_ns"]) / 1e6,
            "front_ms": plan / len(ts) if ts else None,
            "trigger_ms": sum(walls) / len(ts) if ts else None,
            "materializes": replay["counters"]["block_rdds"] > 0,
            "digest": replay.get("digest")}


def measure(classpath, workload, candidates, seed):
    record = run.launch(classpath, workload, seed, 0, 1, [candidates], [candidates],
                        limit_s=SURVEY_LIMIT_S)
    one = stream_entry if workload == "stream_replay" else batch_entry
    return {o["entry"]: one(o) for o in metrics.timed(record)}


def stratified(entries, k):
    """k entries: sort by latency, cut into k strata of equal count,
    take from each the entry nearest the stratum's median latency and
    median front time; then make sure a pick stores blocks if any entry
    does."""
    order = sorted(entries, key=lambda e: (entries[e]["latency_ms"], e))
    n = len(order)
    strata = [order[round(i * n / k):round((i + 1) * n / k)] for i in range(k)]

    def nearest(stratum, among):
        lat = metrics.median([entries[e]["latency_ms"] for e in stratum])
        fr = metrics.median([entries[e]["front_ms"] for e in stratum])
        return min((abs(entries[e]["latency_ms"] / lat - 1)
                    + abs(entries[e]["front_ms"] / fr - 1), e) for e in among)

    picks = [nearest(st, st)[1] for st in strata]
    if (not any(entries[e]["materializes"] for e in picks)
            and any(m["materializes"] for m in entries.values())):
        swaps = []
        for i, st in enumerate(strata):
            stores = [e for e in st if entries[e]["materializes"]]
            if stores:
                dist, e = nearest(st, stores)
                swaps.append((dist, i, e))
        _, i, e = min(swaps)
        picks[i] = e
    return picks


def quantiles(xs):
    xs = sorted(xs)
    return [xs[min(len(xs) - 1, int(q * len(xs)))] for q in QUANTILES]


def summary(entries, names, stream):
    """Latency quantiles and front-door + Catalyst share (time-weighted,
    and the median entry's) of the named entries."""
    op_ms = "trigger_ms" if stream else "latency_ms"
    return {"n": len(names),
            "latency_quantiles_ms": quantiles(entries[e]["latency_ms"] for e in names),
            "front_share": (sum(entries[e]["front_ms"] for e in names)
                            / sum(entries[e][op_ms] for e in names)),
            "front_share_median": metrics.median(
                [entries[e]["front_ms"] / entries[e][op_ms] for e in names])}


def select(workload, entries):
    """Apply the rule to one workload's measured entries."""
    eligible = {e: m for e, m in entries.items() if m["eligible"]}
    stream = workload == "stream_replay"
    k = 1
    for cand in range(1, len(eligible) + 1, 1 if stream else 2):
        picks = stratified(eligible, cand)
        if sum(eligible[e]["pass_ms"] for e in picks) > PASS_BUDGET_S * 1e3:
            break
        k = cand
    mix = stratified(eligible, k)
    return {"k": k, "mix": mix,
            "excluded": {e: m["reason"] for e, m in entries.items() if not m["eligible"]},
            "full": summary(eligible, list(eligible), stream),
            "sample": summary(eligible, mix, stream)}


def survey(classpath):
    reg = registry(classpath)
    out = {"cores": run.cores(), "workloads": {}}
    for workload, candidates in reg["candidates"].items():
        seeds = SEEDS if workload == "stream_replay" else SEEDS[:1]
        runs = [measure(classpath, workload, candidates, s) for s in seeds]
        entries = {}
        for e in candidates:
            m = dict(runs[0].get(e, {"status": "missing"}))
            digests = {r.get(e, {}).get("digest") for r in runs}
            if m["status"] != "ok":
                m["eligible"], m["reason"] = False, f"measured pass: {m['status']}"
            elif len(digests) != 1:
                m["eligible"], m["reason"] = False, (
                    f"output differed between {len(runs)} runs: it depends on "
                    "where the micro-batch boundaries fall")
            else:
                m["eligible"] = True
            m.pop("digest", None)
            entries[e] = m
        out["workloads"][workload] = {"entries": entries}
        print(f"surveyed {workload}: {len(entries)} candidates", flush=True)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--select", action="store_true",
                    help="re-select from the existing survey.json")
    a = ap.parse_args()
    if a.select:
        with open(SURVEY) as f:
            data = json.load(f)
    else:
        data = survey(run.build())
    cfg = run.load_config()
    for workload, w in data["workloads"].items():
        sel = select(workload, w["entries"])
        w["selection"] = sel
        cfg["workloads"][workload]["entries"] = sel["mix"]
        print(f"== {workload}: k={sel['k']} of {sel['full']['n']} eligible")
        print("   mix: " + " ".join(sel["mix"]))
        for e, why in sel["excluded"].items():
            print(f"   excluded {e}: {why}")
        for part in ("full", "sample"):
            q = " ".join(f"{v:.0f}" for v in sel[part]["latency_quantiles_ms"])
            print(f"   {part:<6} latency p10/p25/p50/p75/p90 ms: {q}; "
                  f"front-door + Catalyst share {sel[part]['front_share']:.3f} "
                  f"(median entry {sel[part]['front_share_median']:.3f})")
    with open(SURVEY, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    with open(run.CONFIG, "w") as f:
        json.dump(cfg, f, indent=2)
        f.write("\n")


if __name__ == "__main__":
    main()
