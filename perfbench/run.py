#!/usr/bin/env python3
"""graft's benchmark. Builds graft and the benchmark from this checkout
(perfbench/build.py), runs one workload in a fresh JVM on local[nproc]
with a single closed-loop client, checks every operation's output, and
prints each metric by name with its unit. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 35 --trace 0

--seconds sizes the run: the first pass over the workload's pool, then
the number of whole passes that takes about that long on 4 cores, the
same in every run. --trace 0 reports the end-to-end metrics; --trace 1
runs the same loop with a span around every call into a layer and
reports the per-layer metrics (spans go to <build>/results/). --workload all runs every
workload untraced and traced and prints both, with the tracing overhead.
Workloads, metrics and the layer each metric belongs to are described in
BENCHMARK.json and perfbench/DESIGN.json.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [w["name"] for w in json.load(fh)["workloads"]]


def run_jvm(classes, workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns its result dict."""
    out_dir = os.path.join(build.build_dir(), "results")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(build.build_dir(), f"work-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", classes + os.pathsep + build.SPARK_JARS, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--data", os.path.join(HERE, "data"), "--work", work,
              "--expected", os.path.join(HERE, "expected.json"), "--out", out])
    log_path = os.path.join(out_dir, tag + ".log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise SystemExit(f"{workload}: JVM did not finish in {JVM_TIMEOUT_S}s (log: {log_path})")
        if code != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"{workload}: JVM exited with {code} (log: {log_path})")
        with open(out) as fh:
            res = json.load(fh)
        shutil.copyfile(out, os.path.join(out_dir, tag + ".json"))
        if os.path.exists(out + ".spans.json"):
            shutil.copyfile(out + ".spans.json", os.path.join(out_dir, tag + ".spans.json"))
        return res
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def report(res):
    d = res["detail"]
    print(f"# {d['workload']} seed={d['seed']} trace={int(d['trace'])} cores={d['cores']} "
          f"spark={d['spark_version']} heap={d['max_heap_mb']:.0f}MiB "
          f"tail=p{d['tail_percentile'] * 100:g} passes={d['passes']} steady_ops={d['steady_ops']}")
    for k, m in res["metrics"].items():
        print(f"{k} {m['value']} {m['unit']}")
    print(f"failed_frac {d['failed_frac']} ratio ({res['failed']}/{res['attempted']})")
    for f in d["failures"]:
        print(f"FAILED {f['op']} pass={f['pass']}: {f['error']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = workloads()
    if a.workload != "all" and a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload}; one of {names} or all")
    classes = build.build()
    if a.workload != "all":
        res = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace)
        report(res)
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return
    summary = {}
    for w in names:
        plain = run_jvm(classes, w, a.seed, a.seconds, 0)
        traced = run_jvm(classes, w, a.seed, a.seconds, 1)
        report(plain)
        report(traced)
        # traced / untraced - 1, for the two metrics both runs report
        overhead = {k: traced["metrics"][f"trace.{k}"]["value"] / plain["metrics"][k]["value"] - 1
                    for k in ("latency_p50_s", "ops_per_s")}
        print(f"tracing overhead on {w}: latency_p50_s {overhead['latency_p50_s']:+.1%}, "
              f"ops_per_s {overhead['ops_per_s']:+.1%}")
        summary[w] = {"correct": plain["correct"] and traced["correct"],
                      "attempted": plain["attempted"] + traced["attempted"],
                      "failed": plain["failed"] + traced["failed"],
                      "metrics": plain["metrics"], "tracing_overhead": overhead}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
