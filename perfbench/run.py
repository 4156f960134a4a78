#!/usr/bin/env python3
"""Pipeline benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark's
JVM program (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py, three times: the median is part of setup_s, and
the three trees must be byte-identical), runs it in its own JVM,
and prints every metric by name and unit. The last line of stdout is one
JSON object: correct, attempted, failed, metrics. Tracing off gives the
end-to-end metrics, tracing on the per-layer ones. See perfbench/README.md.
"""
import argparse
import filecmp
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(build.BUILD, "work")
DEADLINE_S = 170
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def same_tree(a, b):
    c = filecmp.dircmp(a, b)
    if c.left_only or c.right_only or c.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, c.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in c.common_dirs)


def run_jvm(cp, args, work, budget_s):
    """Run the JVM program in its own process group; kill it on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:+IgnoreUnrecognizedVMOptions", *JAVA_OPENS,
           "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", cp, "org.apache.spark.sql.perfbench.PerfBench", *args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True)
        try:
            return p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    cp = build.build()
    t_start = time.time()  # the first run in a checkout also builds

    work = os.path.abspath(
        os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen_s = []
        for k in range(3):
            t0 = time.perf_counter()
            gen.generate(a.workload, a.seed, os.path.join(work, f"in{k}"),
                         a.size, a.seconds)
            gen_s.append(time.perf_counter() - t0)
        deterministic = all(same_tree(os.path.join(work, "in0"),
                                      os.path.join(work, f"in{k}"))
                            for k in (1, 2))
        out = os.path.join(work, "result.json")
        budget = DEADLINE_S - (time.time() - t_start)
        rc = run_jvm(cp, [a.workload, os.path.join(work, "in0"),
                             os.path.join(work, "run"), str(a.seconds),
                             str(a.trace), out], work, budget)
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit(f"benchmark JVM failed (exit {rc})")
        res = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["metrics"]["setup_s"] += statistics.median(gen_s)
    res["checks"]["inputs_deterministic"] = deterministic
    attempted = res["attempted"] + 1
    failed = res["failed"] + (0 if deterministic else 1)
    if a.trace:
        wanted, got = spec["per_layer"], res["layers"]
    else:
        wanted, got = spec["end_to_end"], res["metrics"]
    metrics = {}
    for m in wanted:
        # a per-layer span this workload never enters reads 0
        v = got.get(m["name"])
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    for k, v in res["notes"].items():
        print(f"note {k}: {v}")
    for k, v in res["checks"].items():
        print(f"check {k}: {'ok' if v else 'FAILED'}")
    print(f"failed_ratio: {failed / attempted:.4f} ({failed}/{attempted})")
    for k, v in metrics.items():
        print(f"{a.workload} {k} = {v['value']} {v['unit']}")
    if a.trace:  # layers outside BENCHMARK.json, e.g. store_cdc's spans
        for k, v in res["layers"].items():
            if k not in metrics:
                print(f"{a.workload} {k} = {v}")
    print(json.dumps({"correct": failed == 0 and all(res["checks"].values()),
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
