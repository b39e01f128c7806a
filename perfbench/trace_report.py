"""Metrics from a run record, and the trace reader.

A run record is the JSON the harness writes (one per run, kept under
<build>/records/). `end_to_end` and `per_layer` turn a record into the
benchmark's metrics; run.py prints them.

As a script it reads records and prints, per traced record, the self
time per layer (a span's duration minus its children's), the per-layer
metrics, and the tracing overhead against an untraced record of the
same workload and seed:

    python3 perfbench/trace_report.py .bench_build/records
"""
import glob
import json
import os
import statistics
import sys

# (name, unit, better): the per-layer metrics every traced run prints.
# A layer a workload bypasses prints 0.
PER_LAYER = [
    ("sessions.create_s", "s", "lower"),
    ("sessions.warm_s", "s", "lower"),
    ("streaming.store_build_s", "s", "lower"),
    ("operators.construct_s.cold", "s", "lower"),
    ("operators.construct_s.warm", "s", "lower"),
    ("operators.construct_jobs.cold", "count", "lower"),
    ("operators.construct_jobs.warm", "count", "lower"),
    ("operators.nc.item_c_s", "s", "lower"),
    ("operators.nc.invitation_to_bid_s", "s", "lower"),
    ("operators.nc.award_letter_s", "s", "lower"),
    ("operators.nc.bids_as_read_s", "s", "lower"),
    ("operators.nc.bid_tabs_s", "s", "lower"),
    ("operators.dedup_cand_pairs", "count", "lower"),
    ("sessionmemo.persisted_rdds.cold", "count", "lower"),
    ("sessionmemo.persisted_rdds.warm", "count", "lower"),
    ("sessionmemo.cached_mb", "MB", "lower"),
    ("plans.analysis_s.cold", "s", "lower"),
    ("plans.analysis_s.warm", "s", "lower"),
    ("plans.optimization_s.cold", "s", "lower"),
    ("plans.optimization_s.warm", "s", "lower"),
    ("plans.planning_s.cold", "s", "lower"),
    ("plans.planning_s.warm", "s", "lower"),
    ("plans.topk_trim_ratio", "ratio", "lower"),
    ("plans.count_over_noop.warm", "ratio", "higher"),
    ("codegen.compile_s.cold", "s", "lower"),
    ("codegen.compile_s.warm", "s", "lower"),
    ("codegen.compiles.cold", "count", "lower"),
    ("codegen.compiles.warm", "count", "lower"),
    ("exec.jobs.cold", "count", "lower"),
    ("exec.jobs.warm", "count", "lower"),
    ("exec.stages.warm", "count", "lower"),
    ("exec.tasks.warm", "count", "lower"),
    ("exec.task_run_s.warm", "s", "lower"),
    ("exec.task_cpu_s.warm", "s", "lower"),
    ("exec.sched_delay_s.warm", "s", "lower"),
    ("exec.gc_s.warm", "s", "lower"),
    ("exec.cpu_util.warm", "ratio", "higher"),
    ("exec.shuffle_read_mb.warm", "MB", "lower"),
    ("exec.shuffle_write_mb.warm", "MB", "lower"),
    ("exec.spill_mb.warm", "MB", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.input_mb", "MB", "lower"),
    ("sources.output_mb", "MB", "lower"),
    ("pipeline.invoices_s", "s", "lower"),
    ("pipeline.nc_docs_s", "s", "lower"),
    ("pipeline.analytics_s", "s", "lower"),
    ("pipeline.item_yield", "ratio", "higher"),
    ("streaming.bloom_fold_s", "s", "lower"),
    ("streaming.cluster_fold_s", "s", "lower"),
    ("streaming.grain_fold_s", "s", "lower"),
    ("streaming.report_s", "s", "lower"),
    ("streaming.trigger_overhead_s", "s", "lower"),
    ("streaming.admitted_ratio", "ratio", "higher"),
    ("streaming.latency_growth", "ratio", "lower"),
]
LAYERS = ["harness", "sessions", "operators", "exec", "pipeline", "streaming"]
PER_LAYER += [(f"self_s.{layer}", "s", "lower") for layer in LAYERS]

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("retained_mb", "MB")]


def _measured(record):
    return record["passes"][2:]


def _op_median(record, op):
    vals = [p["ops"][op] for p in _measured(record) if p["ops"].get(op) is not None]
    return statistics.median(vals) if vals else 0.0


def end_to_end(record):
    ops = list(record["passes"][0]["ops"])
    return {
        "setup_s": sum(record["setup"].values()),
        "cold_s": sum(v for v in record["passes"][0]["ops"].values() if v is not None),
        "warm_s": sum(_op_median(record, op) for op in ops),
        "retained_mb": record["retained_mb"],
    }


def _spans(record):
    """Spans as dicts, each with the pass it ran in (None outside passes)."""
    spans = [dict(zip(["id", "parent", "layer", "name", "start", "end"], s))
             for s in record.get("spans", [])]
    for s in spans:
        p, s["pass"] = s, None
        while p is not None:
            if p["name"].startswith("pass."):
                s["pass"] = p["name"][5:]
                break
            p = spans[p["parent"]] if p["parent"] >= 0 else None
    return spans


def self_times(record):
    """Seconds per layer not covered by a child span."""
    spans = _spans(record)
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["end"] - s["start"]
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
    return out


def per_layer(record, checks):
    """Every PER_LAYER metric of a traced record; `checks` carries the
    ratios the output checks measured."""
    counts = record.get("counts", {})
    measured = [p["pass"] for p in _measured(record)]
    wl = record["workload"]

    def in_pass(pass_, key, phase=None, ops=None):
        return sum(v.get(key, 0.0) for c, v in counts.items()
                   if c.split("/")[0] == pass_ and (phase is None or c.split("/")[-1] == phase)
                   and (ops is None or c.split("/")[1] in ops))

    def cold(key, phase=None):
        return in_pass("cold", key, phase)

    def warm(key, phase=None, ops=None):
        return statistics.median(in_pass(p, key, phase, ops) for p in measured)

    spans = _spans(record)

    def construct_s(pass_):
        return sum(s["end"] - s["start"] for s in spans if s["pass"] == pass_
                   and s["layer"] == "operators" and s["name"].endswith(".construct"))

    ex = record["extra"]
    pass_wall = {p["pass"]: sum(v for v in p["ops"].values() if v) for p in record["passes"]}
    cores = record["env"]["cores"]
    nc = ex.get("nc_type_s", {})
    topk = ex.get("topk", {})
    topk_in = sum(v[0] for v in topk.values())
    prog = ex.get("stream_progress", {})
    etl, stream = wl == "etl_session", wl == "stream_ingest"
    lake = ex.get("lake_queries", [])
    lake_warm_s = sum(_op_median(record, q) for q in lake)
    # the doc chain's operations: sources.* counts only their tasks
    chain = [op for op in record["passes"][0]["ops"] if op not in lake]
    m = {
        "sessions.create_s": record["setup"]["sessions.create_s"],
        "sessions.warm_s": record["setup"]["sessions.warm_s"],
        "streaming.store_build_s": record["setup"]["streaming.store_build_s"],
        "operators.construct_s.cold": construct_s("cold"),
        "operators.construct_s.warm": statistics.median(construct_s(p) for p in measured),
        "operators.construct_jobs.cold": cold("jobs", "construct"),
        "operators.construct_jobs.warm": warm("jobs", "construct"),
        "operators.dedup_cand_pairs": sum(ex.get("cand_pairs", {}).values()),
        "sessionmemo.persisted_rdds.cold": cold("persisted_rdds"),
        "sessionmemo.persisted_rdds.warm": warm("persisted_rdds"),
        "sessionmemo.cached_mb": record["cached_mb"],
        "plans.topk_trim_ratio": sum(v[1] for v in topk.values()) / topk_in if topk_in else 0.0,
        "plans.count_over_noop.warm":
            sum(ex["count_s"].values()) / lake_warm_s if "count_s" in ex and lake_warm_s else 0.0,
        "codegen.compile_s.cold": cold("compile_ns") / 1e9,
        "codegen.compile_s.warm": warm("compile_ns") / 1e9,
        "codegen.compiles.cold": cold("compiles"),
        "codegen.compiles.warm": warm("compiles"),
        "exec.jobs.cold": cold("jobs"),
        "exec.jobs.warm": warm("jobs"),
        "exec.stages.warm": warm("stages"),
        "exec.tasks.warm": warm("tasks"),
        "exec.task_run_s.warm": warm("task_run_ms") / 1e3,
        "exec.task_cpu_s.warm": warm("task_cpu_ns") / 1e9,
        "exec.sched_delay_s.warm": warm("sched_delay_ms") / 1e3,
        "exec.gc_s.warm": warm("gc_ms") / 1e3,
        "exec.cpu_util.warm": statistics.median(
            in_pass(p, "task_cpu_ns") / 1e9 / (pass_wall[p] * cores) if pass_wall[p] else 0.0
            for p in measured),
        "exec.shuffle_read_mb.warm": warm("shuffle_read_b") / 1e6,
        "exec.shuffle_write_mb.warm": warm("shuffle_write_b") / 1e6,
        "exec.spill_mb.warm": warm("spill_b") / 1e6,
        "sources.scan_s": warm("scan_run_ms", ops=chain) / 1e3 if etl else 0.0,
        "sources.input_mb": warm("input_b", ops=chain) / 1e6 if etl else 0.0,
        "sources.output_mb": warm("output_b", ops=chain) / 1e6 if etl else 0.0,
        "pipeline.invoices_s": _op_median(record, "invoices") if etl else 0.0,
        "pipeline.nc_docs_s": _op_median(record, "nc_docs") if etl else 0.0,
        "pipeline.analytics_s": sum(_op_median(record, op) for op in record["passes"][0]["ops"]
                                    if op.startswith("a_")) if etl else 0.0,
        "pipeline.item_yield": checks.get("item_yield", 0.0),
        "streaming.bloom_fold_s": _op_median(record, "bloom_fold") if stream else 0.0,
        "streaming.cluster_fold_s": _op_median(record, "cluster_fold") if stream else 0.0,
        "streaming.grain_fold_s": _op_median(record, "grain_fold") if stream else 0.0,
        "streaming.report_s": _op_median(record, "report") if stream else 0.0,
        "streaming.trigger_overhead_s": statistics.median(
            sum(v[0] - v[1] for k, v in prog.items() if k.startswith(p + "/")) / 1e3
            for p in measured) if stream else 0.0,
        "streaming.admitted_ratio": checks.get("admitted_ratio", 0.0),
        "streaming.latency_growth":
            pass_wall[measured[-1]] / pass_wall["warmup"] if stream and pass_wall["warmup"] else 0.0,
    }
    for ph in ["analysis", "optimization", "planning"]:
        m[f"plans.{ph}_s.cold"] = cold(f"{ph}_ms") / 1e3
        m[f"plans.{ph}_s.warm"] = warm(f"{ph}_ms") / 1e3
    for t in ["item_c", "invitation_to_bid", "award_letter", "bids_as_read", "bid_tabs"]:
        m[f"operators.nc.{t}_s"] = nc.get(f"nc_{t}", 0.0)
    st = self_times(record)
    for layer in LAYERS:
        m[f"self_s.{layer}"] = st.get(layer, 0.0)
    return {name: m[name] for name, _, _ in PER_LAYER}


def _load(paths):
    out = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                out.append(json.load(fh))
    return out


def main(paths):
    records = _load(paths)
    for r in records:
        if not r["trace"]:
            continue
        print(f"== {r['workload']} seed {r['seed']} (traced)")
        print("self time per layer (s):")
        for layer, s in sorted(self_times(r).items(), key=lambda kv: -kv[1]):
            print(f"  {layer:<12} {s:9.3f}")
        print("per-layer metrics:")
        for name, v in r["metrics"].items():
            print(f"  {name:<36} {v:14.4f}")
        base = [u for u in records if not u["trace"] and u["workload"] == r["workload"]
                and u["seed"] == r["seed"]]
        traced = end_to_end(r)
        if base:
            for k in ["cold_s", "warm_s"]:
                un = statistics.median(end_to_end(u)[k] for u in base)
                print(f"tracing overhead on {k}: {traced[k] - un:+.3f} s "
                      f"({(traced[k] / un - 1) * 100:+.1f}% of {un:.3f} s untraced, "
                      f"{len(base)} untraced run(s))")
        else:
            print("tracing overhead: no untraced record of this workload and seed")


if __name__ == "__main__":
    main(sys.argv[1:] or [".bench_build/records"])
