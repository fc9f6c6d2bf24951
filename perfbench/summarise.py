#!/usr/bin/env python3
"""Prints each layer's self time and Spark counts from a run's spans.

    python3 perfbench/summarise.py [spans file ...]

Without arguments, reads every .bench_build/results/*.spans.json. A
layer is a span name; its self time is its spans' duration minus the
part covered by their child spans. Spans of set-up and warm-up are
listed too (under their own names), so the table covers the whole run.
When both the traced and the untraced result of one workload and seed
are present, the tracing overhead (traced minus untraced) is printed.
"""
import collections
import glob
import json
import os
import sys


def self_times(spans):
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        covered, last = 0, s["start_ns"]
        for k in sorted(kids[s["id"]], key=lambda k: k["start_ns"]):
            lo, hi = max(k["start_ns"], last), k["end_ns"]
            if hi > lo:
                covered += hi - lo
                last = hi
        out[s["id"]] = dur - covered
    return out


COUNTS = ("jobs", "stages", "tasks", "task_ns", "shuffle_bytes",
          "spill_bytes", "input_bytes", "output_bytes")


def overhead(traced):
    """Lines of traced minus untraced end-to-end values, when the untraced
    run of the same workload and seed exists."""
    untraced = traced.replace("-trace1.json", "-trace0.json")
    if traced == untraced or not (os.path.exists(traced) and os.path.exists(untraced)):
        return []
    with open(traced) as fh:
        t = json.load(fh)["e2e"]
    with open(untraced) as fh:
        u = json.load(fh)["e2e"]
    return [f"tracing overhead {k}: {t[k] - u[k]:+.4f} s "
            f"(traced {t[k]:.4f}, untraced {u[k]:.4f})"
            for k in ("pass_s", "cpu_s", "latency_p50_s")]


def summarise(path):
    with open(path) as fh:
        spans = json.load(fh)
    st = self_times(spans)
    rows = collections.OrderedDict()
    for s in spans:
        r = rows.setdefault(s["name"], collections.Counter())
        r["n"] += 1
        r["total_ns"] += s["end_ns"] - s["start_ns"]
        r["self_ns"] += st[s["id"]]
        for c in COUNTS:
            r[c] += s.get(c, 0)
    print(f"== {os.path.basename(path)}")
    print(f"{'layer':<16}{'n':>6}{'total_s':>10}{'self_s':>10}{'jobs':>7}"
          f"{'stages':>7}{'tasks':>7}{'task_s':>9}{'shuffle_MB':>11}"
          f"{'spill_MB':>9}{'input_MB':>9}{'output_MB':>10}")
    for name, r in rows.items():
        print(f"{name:<16}{r['n']:>6}{r['total_ns'] / 1e9:>10.3f}"
              f"{r['self_ns'] / 1e9:>10.3f}{r['jobs']:>7}{r['stages']:>7}"
              f"{r['tasks']:>7}{r['task_ns'] / 1e9:>9.3f}"
              f"{r['shuffle_bytes'] / 1e6:>11.2f}{r['spill_bytes'] / 1e6:>9.2f}"
              f"{r['input_bytes'] / 1e6:>9.2f}{r['output_bytes'] / 1e6:>10.2f}")
    for line in overhead(path.replace(".spans.json", ".json")):
        print(line)

if __name__ == "__main__":
    files = sys.argv[1:] or sorted(glob.glob(".bench_build/results/*.spans.json"))
    for f in files:
        summarise(f)
