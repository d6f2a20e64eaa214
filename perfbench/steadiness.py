#!/usr/bin/env python3
"""Steadiness evidence: two independent sets of ten untraced runs of the
same commit on every workload, written to perfbench/evidence/steadiness.json.

The sets are interleaved: for each seed index and workload, one run of
set A and one of set B follow each other (in alternating order), so a
drift of the host over the session shows up in both sets alike rather
than as a shift between them. For every end-to-end metric of every
workload it records, per set, the median and quartiles
(statistics.quantiles(values, n=4)), the spread (IQR over median)
against the metric's bound from BENCHMARK.json and against a third of
it, and the shift of the second set's median against the first; for
ingest_trickle also the open-loop generator's lateness.

    python3 perfbench/steadiness.py

Takes about 40 minutes on 4 vCPUs (60 runs).
"""
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
OUT = os.path.join(HERE, "evidence", "steadiness.json")


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    info = json.loads(lines[0])["info"] if len(lines) > 1 else {}
    result = json.loads(lines[-1]) if lines else None
    return {"workload": workload, "seed": seed, "exit": p.returncode,
            "wall_s": round(time.time() - t0, 1), "result": result,
            "generator_lateness_max_s": info.get("generator_lateness_max_s")}


def summarize(sets, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    out = {}
    for w in [x["name"] for x in bench["workloads"]]:
        per_set = []
        for runs in sets:
            rs = [r for r in runs if r["workload"] == w and r["result"]]
            metrics = {}
            for name in rs[0]["result"]["metrics"] if rs else []:
                vals = [r["result"]["metrics"][name]["value"] for r in rs]
                q1, _, q3 = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                spread = (q3 - q1) / med
                metrics[name] = {
                    "median": med, "q1": q1, "q3": q3, "spread": spread,
                    "bound": bounds[name],
                    "spread_within_bound": spread <= bounds[name],
                    "spread_within_bound_third": spread < bounds[name] / 3}
            lateness = [r["generator_lateness_max_s"] for r in rs
                        if r["generator_lateness_max_s"] is not None]
            per_set.append({
                "runs": len(rs), "failed_runs": sum(
                    1 for r in runs if r["workload"] == w and r["exit"] != 0),
                "metrics": metrics,
                **({"generator_lateness_max_s": max(lateness)}
                   if lateness else {})})
        shifts = {}
        for name, a in per_set[0]["metrics"].items():
            b = per_set[1]["metrics"][name]
            worse = (b["median"] - a["median"]) / a["median"]
            if better[name] == "higher":
                worse = -worse
            shifts[name] = {"second_worse_by": worse,
                            "within_bound": worse <= bounds[name]}
        out[w] = {"sets": per_set, "median_shift": shifts}
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    sets = [[], []]
    for i in range(RUNS):
        for w in [x["name"] for x in bench["workloads"]]:
            for s in ((0, 1) if i % 2 == 0 else (1, 0)):
                r = run_once(w, 1000 * (s + 1) + i, seconds)
                print(json.dumps({"set": s, **{k: r[k] for k in
                                  ("workload", "seed", "exit", "wall_s")},
                                  "metrics": {m: v["value"] for m, v in
                                              (r["result"] or {}).get(
                                                  "metrics", {}).items()}}),
                      file=sys.stderr, flush=True)
                sets[s].append(r)
    doc = {"machine": {"nproc": os.cpu_count(),
                       "platform": platform.platform()},
           "seconds": seconds, "sets": sets,
           "summary": summarize(sets, bench)}
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    summary = doc["summary"].values()
    print(json.dumps({
        "all_runs_passed": all(r["exit"] == 0 for runs in sets for r in runs),
        "spreads_within_bound": all(
            m["spread_within_bound"] for w in summary for st in w["sets"]
            for m in st["metrics"].values()),
        "spreads_within_bound_third": all(
            m["spread_within_bound_third"] for w in summary
            for st in w["sets"] for m in st["metrics"].values()),
        "shifts_within_bound": all(
            x["within_bound"] for w in summary
            for x in w["median_shift"].values())}))


if __name__ == "__main__":
    main()
