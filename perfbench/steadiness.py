#!/usr/bin/env python3
"""Measures how steady the benchmark is: runs every workload of
BENCHMARK.json once per seed, and records for each end-to-end value the
median, the quartiles (statistics.quantiles(n=4)) and the spread, the
distance between the quartiles as a share of the median.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1000]
        [--workloads a,b] [--out perfbench/steadiness.json]

Run from the root of a checkout. Each invocation appends one set of
runs to the record in --out, so sets made at different times can be
compared: two sets of one tree should agree within the bounds. Besides
the gated metrics of BENCHMARK.json, the record keeps the ungated
end-to-end value a run computes (`latency_p50_s`) and the box's steal
time, read from the run's result file, so a later reader can tell a
noisy box from a noisy benchmark.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    with open(os.path.join(build_dir, "results",
                           f"{workload}-seed{seed}-trace0.json")) as fh:
        result = json.load(fh)
    return record_run(seed, wall, out, result)


def record_run(seed, wall, out, result):
    values = dict(result["e2e"])
    values.update({k: v["value"] for k, v in out["metrics"].items()})
    return {"seed": seed, "wall_s": round(wall, 2), "correct": out["correct"],
            "attempted": out["attempted"], "failed": out["failed"],
            "steal_s": round(result["layers"]["host.steal_s"], 2), "values": values}


def summary(values, bound):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med
    out = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4)}
    if bound is not None:
        out.update(bound=bound, within_bound=spread <= bound,
                   within_third_of_bound=spread <= bound / 3)
    return out


def summarise(spec, runs):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    keys = list(bounds) + sorted(k for k in runs[0]["values"] if k not in bounds)
    return {
        "metrics": {k: summary([r["values"][k] for r in runs], bounds.get(k))
                    for k in keys},
        "all_correct": all(r["correct"] for r in runs),
        "wall_s_total": round(sum(r["wall_s"] for r in runs), 1),
        "runs": runs}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="perfbench/steadiness.json")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    record = {"first_seed": a.first_seed, "runs_per_workload": a.runs,
              "run_seconds": spec["run_seconds"],
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workloads": {}}
    for w in names:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            runs.append(run_once(spec, w, seed))
            print(f"{w} seed={seed} wall={runs[-1]['wall_s']}s " + " ".join(
                f"{k}={v:.4g}" for k, v in sorted(runs[-1]["values"].items())),
                file=sys.stderr, flush=True)
        record["workloads"][w] = summarise(spec, runs)
        for k, s in record["workloads"][w]["metrics"].items():
            print(f"{w:<12} {k:<14} median={s['median']:.4g} q1={s['q1']:.4g} "
                  f"q3={s['q3']:.4g} spread={s['spread']:.3f} "
                  f"bound={s.get('bound', '-')}", file=sys.stderr)
    sets = []
    if os.path.exists(a.out):
        with open(a.out) as fh:
            sets = json.load(fh)["sets"]
    with open(a.out, "w") as fh:
        json.dump({"sets": sets + [record]}, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
