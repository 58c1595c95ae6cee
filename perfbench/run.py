#!/usr/bin/env python3
"""Pipeline benchmark for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source (see
build.py), then starts one JVM that parses pipeline YAML with
YamlConfigParser and runs it through PipelineExecutor.execute (or
StreamingExecutor.start for a micro-batch example) on inputs it generates
from the seed, and checks every output. Everything the run
writes sits under one directory, .perfbench_runs/<run>, deleted when the
run ends. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1), named and united as in BENCHMARK.json. The line
before it ("perfbench: {...}") carries the rest of the report: set-up
split, contention stamp, input digests and planted fractions, per-pipeline
medians and failed_frac.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("etl_batch", "examples_small")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# a run that lost more than this share of CPU time to other guests is
# stamped contended
STEAL_CONTENDED = 0.05
# JVM settings that keep a one-minute run steady (see README):
# - C1 only, with the tiered code cache size. Under C2 the JIT went on
#   compiling 4-9 CPU-seconds a pass through the whole run and its progress
#   set the pass times; C1 alone settles within the warm-up passes. Without
#   C2 the JVM shrinks the code cache to 48 MB, which Spark's generated code
#   fills within a run, and the flushing that follows costs whole seconds.
# - A fixed set of compiler threads, so that their CPU time can be told
#   apart from the program's.
# - The parallel collector: G1's concurrent marking took ~10% of the run's
#   CPU at times that varied from run to run.
JVM_TUNING = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
              "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:+UseParallelGC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat (zeros where absent)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except OSError:
        return 0, 0


def metric_spec(repo):
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    repo = os.getcwd()
    end_to_end, per_layer = metric_spec(repo)
    try:
        classpath = build.build(repo)
    except Exception as e:  # a missing source tree or a compile error
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1

    tmp_before = set(glob.glob("/tmp/graft*"))
    ticks_before = cpu_ticks()
    root = os.path.join(repo, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    log_path = os.path.join(root, "jvm.log")
    try:
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={root}/tmp"] + JVM_TUNING
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--root", root, "--repo", repo, "--threads", str(os.cpu_count() or 1),
                  "--spawn-ms", str(int(time.time() * 1000))])
        env = dict(os.environ, PERFBENCH_ROOT=root, SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"))
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"perfbench: run exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
                return 1
        reports = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_REPORT ")]
        if proc.returncode != 0 or not reports:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            print(f"perfbench: JVM exited {proc.returncode} without a report", file=sys.stderr)
            return 1
        report = json.loads(reports[-1][len("PERFBENCH_REPORT "):])

    finally:
        shutil.rmtree(root, ignore_errors=True)
        runs_dir = os.path.dirname(root)
        if os.path.isdir(runs_dir) and not os.listdir(runs_dir):
            os.rmdir(runs_dir)

    if "error" in report:
        print(f"perfbench: {report['error']}", file=sys.stderr)
        return 1
    leaked = sorted(set(glob.glob("/tmp/graft*")) - tmp_before)
    # share of CPU time the hypervisor gave to other guests during the run
    steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    steal_frac = steal / total if total > 0 else 0.0
    e2e = report.get("end_to_end", {})
    if args.trace:
        values = report.get("per_layer", {})
        wanted = per_layer
    else:
        values = e2e
        wanted = end_to_end
    missing = [m["name"] for m in wanted if not isinstance(values.get(m["name"]), (int, float))]
    if missing:
        print(f"perfbench: metrics missing from the report: {missing}", file=sys.stderr)
        return 1
    detail = {k: report.get(k) for k in (
        "workload", "seed", "contended", "env", "external_cpu_end", "setup", "inputs",
        "samples", "passes", "per_pipeline_s_p50", "input_rows", "failures", "walls",
        "problems", "check_s", "pass_detail")}
    detail["failed_frac"] = e2e.get("failed_frac")
    detail["cpu_steal_frac"] = steal_frac
    detail["contended"] = bool(report.get("contended")) or steal_frac > STEAL_CONTENDED
    detail["tmp_leaks"] = leaked
    if args.trace:
        detail["trace_example"] = report.get("trace_example")
    print("perfbench: " + json.dumps(detail, sort_keys=True))
    result = {
        "correct": bool(report.get("correct")) and not leaked,
        "attempted": int(report.get("attempted", 0)),
        "failed": int(report.get("failed", 0)),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
