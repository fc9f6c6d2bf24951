#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload {incremental,query_mix}
        --seed N --seconds S --trace {0,1} [--record-expected]

Run from the root of a checkout. Builds the program and the benchmark
(perfbench/build.py) into .bench_build, runs one JVM at local[nproc],
and prints each metric by name and unit, then, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics, from a run with the span ledger's
Spark listener on. Results and spans of every run are kept under
.bench_build/results; perfbench/summarise.py reads them.

--record-expected rewrites perfbench/expected_hashes.txt from the query
mix's results instead of checking them (only for a tree whose oracles
pass).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import summarise  # noqa: E402

DEADLINE_S = 170
WORKLOADS = ("incremental", "query_mix")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    jar = build.build(build_dir)
    jars = build.spark_jars()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    results = os.path.abspath(os.path.join(build_dir, "results"))
    work = os.path.abspath(os.path.join(build_dir, "work", f"{tag}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(results, tag + ".json")
    spans_file = os.path.join(results, tag + ".spans.json")
    for f in (result_file, spans_file):
        if os.path.exists(f):
            os.remove(f)

    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms1g", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-cp", os.path.abspath(jar) + ":" + os.path.join(jars, "*"),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--root", work,
            "--data", os.path.join(HERE, "data"),
            "--expected", os.path.join(HERE, "expected_hashes.txt"),
            "--result", result_file, "--spans", spans_file,
            "--record", "1" if a.record_expected else "0",
            "--launch-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
               SPARK_LOCAL_IP="127.0.0.1")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)

    def stop(signum, _frame):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result_file):
        sys.exit(f"perfbench: {a.workload} run failed "
                 f"({'timed out' if code is None else 'exit %s' % code})")

    with open(result_file) as fh:
        r = json.load(fh)
    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        src = r["layers"] if a.trace else r["e2e"]
        if src.get(m["name"]) is None:
            sys.exit(f"perfbench: metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": src[m["name"]], "unit": m["unit"]}

    print(f"# {a.workload} seed={a.seed} local[{r['cpus']}] "
          f"attempted={r['attempted']} failed={r['failed']}")
    ungated = {k: v for k, v in r["e2e"].items() if k not in metrics}
    for k, v in sorted({**r["info"], **ungated}.items()):
        print(f"  {k:<28} {v:.6g}")
    for k, v in metrics.items():
        print(f"  {k:<28} {v['value']:.6g} {v['unit']}")
    for line in summarise.overhead(result_file):
        print("  " + line)
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] > 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
