#!/usr/bin/env python3
"""Run two sets of benchmark runs of the same checkout and say whether
they agree.

    python3 perfbench/compare.py [--runs 10] [--first-seed 1] \
        [--workloads ingest,analytics,table] [--sets 2] [--trace-set]

Run from the repository root. Each set runs every workload once per seed
(seeds first-seed .. first-seed+runs-1, the same in every set). For every
end-to-end metric of BENCHMARK.json, and for the workload's own figures
(`ingest_records_per_s`, `analytics_pass_s`, `table_commits_per_s`, ...,
checked against the bound of `round_s`), it prints each set's median and
quartiles (Python's statistics.quantiles(values, n=4)), the spread (the
quartile distance over the median) against the bound, and whether each
later set's median is within the bound of the first set's; and whether
the share of failed operations is the same in every set. With
--trace-set it then makes one traced set and prints the tracing overhead:
the traced-minus-untraced difference of each workload's median round
time. Raw results go to .bench_build/compare.json. Exits 1 if any check
fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
# The figures each workload reports beside the end-to-end metrics.
FIGURES = {
    "ingest": ["ingest_records_per_s", "reingest_records_per_s", "ingest_disk_mb"],
    "analytics": ["analytics_pass_s"],
    "table": ["table_commits_per_s", "table_reads_per_s", "table_disk_mb"],
}
LOWER = {"ingest_disk_mb", "analytics_pass_s", "table_disk_mb"}


def one_run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=ROOT)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"run failed ({workload}, seed {seed}):\n{r.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2][len("details: "):])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace-set", action="store_true")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seeds = list(range(a.first_seed, a.first_seed + a.runs))
    sets = []
    for s in range(a.sets):
        res = {w: [] for w in workloads}
        for seed in seeds:
            for w in workloads:
                out, det = one_run(w, seed, spec["run_seconds"], 0)
                res[w].append({"result": out, "details": det})
                print(f"set {s + 1} {w:9s} seed {seed:3d} correct={out['correct']} "
                      f"attempted={out['attempted']} failed={out['failed']} " +
                      " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
                      flush=True)
        sets.append(res)

    bounds = {m["name"]: (m["bound"], m["better"] == "lower") for m in spec["end_to_end"]}
    ok = True
    print()
    for w in workloads:
        print(f"== {w}")
        names = list(bounds) + FIGURES.get(w, [])
        for name in names:
            bound, lower = bounds.get(name, (bounds["round_s"][0], name in LOWER))
            meds = []
            for s, res in enumerate(sets):
                vals = [r["details"]["all_metrics"][name] for r in res[w]]
                q1, q2, q3, sp = spread(vals)
                meds.append(q2)
                within = sp <= bound
                ok &= within
                note = "" if sp <= bound / 3 else " (above a third of the bound)"
                print(f"  {name:24s} set {s + 1}: median {q2:.4g} quartiles [{q1:.4g}, {q3:.4g}] "
                      f"spread {sp:.3f} bound {bound} {'ok' if within else 'TOO WIDE'}{note}")
            for s in range(1, len(meds)):
                worse = (meds[s] - meds[0]) / meds[0] * (1 if lower else -1)
                agree = worse <= bound
                ok &= agree
                print(f"  {name:24s} set {s + 1} vs set 1: {'worse' if worse > 0 else 'better'} "
                      f"by {abs(worse):.3f} -> {'agree' if agree else 'DISAGREE'}")
        shares = [(sum(r["result"]["failed"] for r in res[w]),
                   sum(r["result"]["attempted"] for r in res[w])) for res in sets]
        same = len({f / t for f, t in shares}) == 1
        correct = all(r["result"]["correct"] for res in sets for r in res[w])
        ok &= same and correct
        print(f"  failed/attempted per set: {shares} -> "
              f"{'same share' if same else 'DIFFERENT SHARE'}; all correct: {correct}")
    if a.trace_set:
        print("\n== tracing overhead (median round time, traced vs untraced set 1)")
        for w in workloads:
            base = statistics.median(r["details"]["all_metrics"]["round_s"] for r in sets[0][w])
            traced = [one_run(w, seed, spec["run_seconds"], 1)[1] for seed in seeds]
            t = statistics.median(d["all_metrics"]["round_s"] for d in traced)
            print(f"  {w:9s} untraced {base:.3f} s traced {t:.3f} s overhead {(t - base) / base:+.3f}")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "compare.json"), "w") as f:
        json.dump(sets, f)
    print("\nALL AGREE" if ok else "\nSOME CHECKS FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
