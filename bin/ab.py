#!/usr/bin/env python3
"""Interleaved A/B runs of perfbench between two checkouts.

    python3 bin/ab.py NAME PARENT_DIR CHANGE_DIR curate_tail:21-30 \
        extract_bulk:21-23 ingest_trickle:21-23 [--trace 0]

For every seed of every WORKLOAD:SEEDS spec, runs
`python3 perfbench/run.py --workload W --seed S` once in each checkout
(fresh JVM each; the run length is BENCHMARK.json's run_seconds),
alternating which side runs first (even pair index: parent first). Seeds are `a-b` ranges or comma lists. After every pair
it rewrites BENCH/ab_NAME.json (in the current directory) with every run
(exit code, metrics, the output fingerprint, checks, traced layers) and
a per-workload summary: the seeds requested, the failed runs of each
side (a non-zero exit: the run's checks failed), and per metric the
median and quartiles of each side over the pairs where both runs
passed, pair wins/ties, the change/parent median ratio, whether a gain
claim holds (every requested pair completed, the change fails no more
runs than the parent, wins >= 9/10 of the pairs, and the medians differ
by more than the parent's interquartile range), and whether the
change's median stays within the metric's regression bound from
BENCHMARK.json and the change fails no more runs than the parent.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

# checks whose detail is the workload's output fingerprint
FINGERPRINT_CHECKS = (
    "output is the same on every pass",
    "output row set is the same on every pass",
    "resumed rows equal streamed rows equal batch Job.run",
)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += range(int(a), int(b or a) + 1)
    return out


def revision(path):
    def git(*args):
        return subprocess.run(["git", "-C", path, *args], text=True,
                              capture_output=True).stdout.strip()
    return {"head": git("rev-parse", "HEAD"),
            "dirty": bool(git("status", "--porcelain", "--untracked-files=no"))}


def run_one(tree, path, workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=path, text=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    info, result = {}, {}
    for line in p.stdout.splitlines():
        if line.startswith("{"):
            d = json.loads(line)
            if "info" in d:
                info = d["info"]
            else:
                result = d
    checks = info.get("checks", [])
    run = {"workload": workload, "seed": seed, "tree": tree,
           "rc": p.returncode, "failed": result.get("failed"),
           "metrics": {k: v["value"]
                       for k, v in result.get("metrics", {}).items()},
           "latency_unscaled_s": info.get("latency_unscaled_s"),
           "host_probe_s": info.get("host_probe_s"),
           "fingerprint": next((c["detail"] for c in checks
                                if c["name"] in FINGERPRINT_CHECKS), None),
           "checks": {c["name"]: c["ok"] for c in checks}}
    if "layers" in info:
        run["layers"] = info["layers"]
    return run


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(runs, declared, requested):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w]
        failed = {t: sum(r["tree"] == t and r["rc"] != 0 for r in mine)
                  for t in ("parent", "change")}
        by = {(r["seed"], r["tree"]): r for r in mine if r["rc"] == 0}
        paired = sorted(s for s, t in by if t == "parent" and (s, "change") in by)
        ws = out[w] = {"requested": len(requested[w]), "pairs": len(paired),
                       "parent_failed": failed["parent"],
                       "change_failed": failed["change"],
                       "fingerprints_equal": all(
            by[s, "parent"]["fingerprint"] == by[s, "change"]["fingerprint"]
            for s in paired)}
        complete = (len(paired) == len(requested[w])
                    and failed["change"] <= failed["parent"])
        for name, spec in declared.items():
            pv = [by[s, "parent"]["metrics"][name] for s in paired
                  if name in by[s, "parent"]["metrics"]]
            cv = [by[s, "change"]["metrics"][name] for s in paired
                  if name in by[s, "change"]["metrics"]]
            if not pv or len(pv) != len(cv):
                continue
            sign = 1 if spec["better"] == "lower" else -1
            better = [sign * (p - c) for p, c in zip(pv, cv)]
            (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(pv), quartiles(cv)
            wins = sum(b > 0 for b in better)
            m = ws[name] = {
                "parent": {"median": pm, "q1": pq1, "q3": pq3},
                "change": {"median": cm, "q1": cq1, "q3": cq3},
                "change_wins": wins, "parent_wins": sum(b < 0 for b in better),
                "ties": sum(b == 0 for b in better),
                "ratio": cm / pm if pm else None,
                "gain_claim_met": complete and wins >= 0.9 * len(pv)
                and sign * (pm - cm) > pq3 - pq1}
            if "bound" in spec:
                m["within_bound"] = (failed["change"] <= failed["parent"]
                                     and sign * (cm - pm) <= spec["bound"] * pm)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("specs", nargs="+", metavar="WORKLOAD:SEEDS")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    declared = {m["name"]: m for m in
                manifest["per_layer" if a.trace else "end_to_end"]}
    seconds = manifest["run_seconds"]
    requested = {}
    for spec in a.specs:
        workload, _, seed_spec = spec.partition(":")
        requested.setdefault(workload, []).extend(seeds(seed_spec))
    out_path = os.path.join("BENCH", f"ab_{a.name}.json")
    doc = {"what": "Interleaved parent/change runs of perfbench/run.py "
                   f"--seconds {seconds} --trace {a.trace}, one fresh JVM "
                   "each; even pair index runs the parent first.",
           "parent": revision(a.parent), "change": revision(a.change),
           "runs": []}
    pair = 0
    for workload, seed_list in requested.items():
        for seed in seed_list:
            order = [("parent", a.parent), ("change", a.change)]
            for tree, path in order if pair % 2 == 0 else order[::-1]:
                r = run_one(tree, path, workload, seed, seconds, a.trace)
                doc["runs"].append(r)
                print(json.dumps({k: r[k] for k in
                                  ("workload", "seed", "tree", "rc",
                                   "metrics", "fingerprint")}), flush=True)
            pair += 1
            doc["summary"] = summarize(doc["runs"], declared, requested)
            with open(out_path, "w") as fh:
                json.dump(doc, fh, indent=1)
    print(json.dumps(doc["summary"], indent=1))


if __name__ == "__main__":
    main()
