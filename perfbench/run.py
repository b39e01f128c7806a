#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload etl_session --seed 1 --seconds 40 --trace 0

Run from the root of a source checkout. It builds the engine and the
harness (perfbench/harness/build.py, skipped when up to date),
generates the workload's inputs from --seed, runs the workload in one
fresh JVM on local[nproc] with one closed-loop client thread, checks
the outputs, and prints one JSON line: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.

Every run performs the same operations whatever the seed and however
long they take; --seconds is recorded but never decides a count.
Build output and run scratch go under $CARGO_TARGET_DIR (default
.bench_build); each run's record is kept in its records/ directory.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "harness"))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import trace_report  # noqa: E402

WORKLOADS = ["etl_session", "stream_ingest"]
DEADLINE_S = 170

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def heap_gb():
    """A quarter of MemTotal, between 2 and 4 GB: the engine's build
    default (24g) exceeds small hosts."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(4, kb // (4 * 1024 * 1024)))


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(build_dir)
    # the deadline starts after the build, which only a checkout's first run does
    t_built = time.monotonic()
    jars = os.path.join(build.spark_jars(), "*")

    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen.lake(os.path.join(HERE, "lake"), os.path.join(work, "lake"), args.seed)
    if args.workload == "etl_session":
        truth = gen.doc_tree(os.path.join(work, "docs"), args.seed)
    if args.workload == "stream_ingest":
        labels = gen.deliveries(os.path.join(work, "deliveries"),
                                os.path.join(work, "lake"), args.seed)

    t_gen = time.monotonic() - t_start
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(work, "record.json")
    cmd = ["java", f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-XX:+UseSerialGC", "-XX:CICompilerCount=2"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}", "graftbench.Main",
            f"workload={args.workload}", f"work={work}", f"lake={work}/lake",
            f"cores={cores}", f"trace={args.trace}", f"out={out}"]
    with open("/proc/stat") as f:
        stat0 = [int(x) for x in f.readline().split()[1:]]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                timeout=DEADLINE_S - (time.monotonic() - t_built)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        sys.exit(f"run: the JVM ended with {rc} and no record")
    with open(out) as f:
        record = json.load(f)
    with open("/proc/stat") as f:
        stat1 = [int(x) for x in f.readline().split()[1:]]
    # host CPU ticks over the JVM's life: steal shows a busy host
    record["host_ticks"] = dict(zip(["user", "nice", "system", "idle", "iowait", "irq",
                                     "softirq", "steal"], [b - a for a, b in zip(stat0, stat1)]))
    t_jvm = time.monotonic() - t_start

    ratios = {}
    if args.workload == "etl_session":
        checks, ratios["item_yield"] = check.doc_chain(work, truth, record)
        checks += check.lake_queries(work, record)
    else:
        checks, ratios["admitted_ratio"] = check.stream_ingest(work, labels, record)
    for name, ok, detail in checks:
        if not ok:
            sys.stderr.write(f"check failed: {name} {detail}\n")
    for e in record["errors"]:
        sys.stderr.write(f"op failed: {e}\n")

    if args.trace:
        metrics = trace_report.per_layer(record, ratios)
        units = {n: u for n, u, _ in trace_report.PER_LAYER}
    else:
        metrics = trace_report.end_to_end(record)
        units = dict(trace_report.END_TO_END)
    failed = record["failed"] + sum(1 for _, ok, _ in checks if not ok)
    result = {"correct": failed == 0,
              "attempted": record["attempted"] + len(checks),
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}

    with open("/proc/loadavg") as f:
        record["env"]["loadavg_end"] = f.read().split()[:3]
    record["env"]["heap_gb"] = heap_gb()
    # per-operation medians and maxima with their sample counts: the
    # record's tail figures (too few passes to gate on)
    record["op_stats"] = {
        op: {"n": len(v), "p50": statistics.median(v), "max": max(v)}
        for op in record["passes"][0]["ops"]
        for v in [[p["ops"][op] for p in record["passes"][2:] if p["ops"][op] is not None]] if v}
    wall_s = {"gen": t_gen, "jvm": t_jvm, "total": time.monotonic() - t_start}
    record.update(seed=args.seed, seconds=args.seconds, checks=checks,
                  metrics=metrics, wall_s=wall_s)
    os.makedirs(os.path.join(build_dir, "records"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(build_dir, "records",
                           f"{stamp}-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
