#!/usr/bin/env python3
"""Benchmark of record: the export -> clean -> load pipeline and the
warehouse query mix. See perfbench/README.md.

    python3 perfbench/run.py --workload etl_many_small --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all            # the three workloads in turn

Builds the repo from source on first use (perfbench/build.py), then runs
one fresh JVM per workload in a fresh work directory under `.bench_work/`.
The last stdout line is the result JSON; the line before it records the
run's cores, heap and pass counts. Exits 1 if any output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["etl_many_small", "etl_large", "warehouse_queries"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """A quarter of the box's memory, between 2 and 4 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(2, min(4, kb // (4 * 1024 * 1024)))


def input_dir(workload):
    """The bundled sf 0.01 fixture; for etl_large the sf 0.1 tables named by
    $SPARK_GRAFT_SF_DIR (too large to keep in the repo)."""
    if workload != "etl_large":
        return os.path.join(build.HERE, "data", "sf0.01")
    d = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if not all(os.path.isfile(os.path.join(d, f"{t}.parquet")) for t in ("lineitem", "orders")):
        raise SystemExit("perfbench: etl_large needs SPARK_GRAFT_SF_DIR=<dir holding the sf0.1 lineitem and orders parquet>")
    return os.path.abspath(d)


def run_one(cp, workload, seed, seconds, trace):
    inputs = input_dir(workload)
    work_base = os.path.join(build.ROOT, ".bench_work")
    work = os.path.join(work_base, f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    result = os.path.join(work, "result.json")
    spans = os.path.join(work_base, "traces", f"{workload}-{seed}-{time.time_ns()}.jsonl")
    expected = os.path.join(build.HERE, "expected_warehouse.tsv")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               GRAFT_CHECKPOINT_DIR=os.path.join(work, "ckpt"),
               GRAFT_ARTIFACTS_DIR=os.path.join(work, "artifacts"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{heap_gb()}g", "-Xss16m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            workload, str(seed), str(seconds), str(trace), work, inputs,
            str(int(time.time() * 1000)), result, spans, expected]
    try:
        for d in ("tmp", "local", "ckpt", "artifacts"):
            os.makedirs(os.path.join(work, d))
        proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
        code = "timeout"
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also when this script is interrupted or terminated
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if code != 0 or not os.path.isfile(result):
            raise SystemExit(f"perfbench: {workload} JVM ended with {code}")
        with open(result) as f:
            config, res = f.read().splitlines()[:2]
        if trace:
            print(f"perfbench: spans in {os.path.relpath(spans, build.ROOT)}", file=sys.stderr)
        return json.loads(config), json.loads(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build.build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in names:
        config, res = run_one(cp, w, a.seed, a.seconds, a.trace)
        print(json.dumps(config))
        results.append((w, res))
    if len(results) == 1:
        final = results[0][1]
    else:
        for w, res in results:
            print(w, json.dumps(res))
        final = {"correct": all(r["correct"] for _, r in results),
                 "attempted": sum(r["attempted"] for _, r in results),
                 "failed": sum(r["failed"] for _, r in results),
                 "metrics": {f"{w}.{k}": v for w, r in results for k, v in r["metrics"].items()}}
    print(json.dumps(final), flush=True)
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
