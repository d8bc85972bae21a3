"""Turns one run record (written by graft.perfbench.MobBench) into the
benchmark's metrics: the end-to-end ones for an untraced run, the
per-layer ones for a traced run.  Names and units match BENCHMARK.json.
"""
import statistics

END_TO_END = {"setup_s": "s", "op_s": "s", "success_rate": "ratio"}
# stream_refit only (that workload is not in BENCHMARK.json; see NOTES.md)
STREAM_END_TO_END = {"trigger_s": "s"}

# name -> unit.  Times are seconds per op (span self time), counts are
# per op; stream values are per trigger unless they count triggers.
PER_LAYER = {
    "WoeBinning.stats_s": "s",
    "WoeBinning.stats_jobs": "count",
    "WoeBinning.stats_tasks": "count",
    "WoeBinning.shuffle_write_bytes": "bytes",
    "WoeBinning.collect_rows": "count",
    "WoeBinning.collect_bytes": "bytes",
    "WoeBinning.executor_cpu_s": "s",
    "WoeBinning.decode_s": "s",
    "WoeBinning.decode_rows": "count",
    "Kernels.fit_s": "s",
    "Kernels.fit_max_var_s": "s",
    "Kernels.exactMedian_s": "s",
    "Kernels.bins_out": "count",
    "WoeBinningModel.medians_s": "s",
    "WoeBinningModel.medians_rows": "count",
    "WoeBinningModel.medians_jobs": "count",
    "WoeBinningModel.eval_s": "s",
    "WoeBinningModel.eval_cpu_s": "s",
    "WoeBinningModel.eval_tasks": "count",
    "WoeBinningModel.vars_applied": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.op_cpu_s": "s",
    "jvm.heap_peak_mb": "MB",
    "host.steal_frac": "ratio",
    "host.loadavg": "load",
    "trace.op_s": "s",
    "trace.uncovered_s": "s",
    "trace.overhead_s": "s",
}
STREAM_LAYER = {
    "StreamingWoe.add_batch_s": "s",
    "StreamingWoe.plan_s": "s",
    "StreamingWoe.offsets_s": "s",
    "StreamingWoe.refit_s": "s",
    "StreamingWoe.state_rows": "count",
    "StreamingWoe.state_bytes": "bytes",
    "StreamingWoe.state_commit_s": "s",
    "StreamingWoe.triggers": "count",
}


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover (overlapping children counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_s"]):
            lo, hi = max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out


def per_op(spans):
    """op id -> {span name -> (self time, counters)}, summed per name."""
    selfs = self_times(spans)
    ops = {}
    for s in spans:
        slot = ops.setdefault(s["op"], {}).setdefault(s["name"], [0.0, {}])
        slot[0] += selfs[s["id"]]
        for k, v in s["counters"].items():
            slot[1][k] = slot[1].get(k, 0.0) + v
    return ops


def outcome_counts(rec):
    ops = rec["ops"] + rec["traced_ops"]
    failed = sum(1 for o in ops if not o["ok"])
    return len(ops), failed


def is_stream(rec):
    return rec["workload"] == "stream_refit"


def end_to_end(rec):
    ok = [o for o in rec["ops"] if o["ok"]]
    attempted, failed = outcome_counts(rec)
    m = {"setup_s": rec["setup_s"],
         "op_s": median(o["wall_s"] for o in ok),
         "success_rate": (attempted - failed) / attempted}
    if is_stream(rec):
        m["trigger_s"] = median(t["trigger_ms"] / 1000.0
                                for o in ok for t in o["triggers"])
    return m


def per_layer(rec):
    traced = rec["traced_ops"]
    ops = per_op(rec["spans"])
    names = sorted(ops)

    def span_self(name):
        return median(ops[o].get(name, [0.0, {}])[0] for o in names)

    def span_count(name, key, scale=1.0):
        return median(ops[o].get(name, [0.0, {}])[1].get(key, 0.0) * scale
                      for o in names)

    def op_total(key, scale=1.0):
        return median(sum(c.get(key, 0.0) for _, c in ops[o].values()) * scale
                      for o in names)

    def value(key):
        return median(o.get(key, 0) for o in traced)

    n_ops = len(rec["ops"]) + len(traced)
    traced_op_s = median(o["wall_s"] for o in traced)
    untraced_op_s = median(o["wall_s"] for o in rec["ops"])
    ns = 1e-9
    m = {
        "WoeBinning.stats_s": span_self("WoeBinning.stats"),
        "WoeBinning.stats_jobs": span_count("WoeBinning.stats", "jobs"),
        "WoeBinning.stats_tasks": span_count("WoeBinning.stats", "tasks"),
        "WoeBinning.shuffle_write_bytes": span_count("WoeBinning.stats", "shuffle_write_bytes"),
        "WoeBinning.collect_rows": value("collect_rows"),
        "WoeBinning.collect_bytes": span_count("WoeBinning.stats", "result_bytes"),
        "WoeBinning.executor_cpu_s": span_count("WoeBinning.stats", "executor_cpu_ns", ns),
        "WoeBinning.decode_s": span_self("WoeBinning.decode"),
        "WoeBinning.decode_rows": value("decode_rows"),
        "Kernels.fit_s": span_self("Kernels.fit"),
        "Kernels.fit_max_var_s": value("fit_max_var_s"),
        "Kernels.exactMedian_s": span_self("Kernels.exactMedian"),
        "Kernels.bins_out": value("bins_out"),
        "WoeBinningModel.medians_s": span_self("WoeBinningModel.transform"),
        "WoeBinningModel.medians_rows": span_count("WoeBinningModel.transform", "shuffle_read_records"),
        "WoeBinningModel.medians_jobs": span_count("WoeBinningModel.transform", "jobs"),
        "WoeBinningModel.eval_s": span_self("WoeBinningModel.eval"),
        "WoeBinningModel.eval_cpu_s": span_count("WoeBinningModel.eval", "executor_cpu_ns", ns),
        "WoeBinningModel.eval_tasks": span_count("WoeBinningModel.eval", "tasks"),
        "WoeBinningModel.vars_applied": value("vars_applied"),
        "spark.jobs": op_total("jobs"),
        "spark.stages": op_total("stages"),
        "spark.tasks": op_total("tasks"),
        "spark.shuffle_bytes": op_total("shuffle_write_bytes"),
        "spark.result_bytes": op_total("result_bytes"),
        "spark.spill_bytes": op_total("spill_bytes"),
        "spark.executor_cpu_s": op_total("executor_cpu_ns", ns),
        "jvm.gc_s": rec["jvm"]["gc_s"] / max(1, n_ops),
        "jvm.op_cpu_s": median(o["cpu_s"] for o in rec["ops"]),
        "jvm.heap_peak_mb": rec["jvm"]["heap_peak_mb"],
        "host.steal_frac": rec["host"]["steal_frac"],
        "host.loadavg": rec["host"]["loadavg"],
        "trace.op_s": traced_op_s,
        "trace.uncovered_s": span_self("op"),
        "trace.overhead_s": traced_op_s - untraced_op_s,
    }
    if is_stream(rec):
        m.update(stream_layer(traced))
    return m


def stream_layer(traced):
    """StreamingWoe metrics, read from each drain's query progress."""
    trig = [t for o in traced for t in o["triggers"]]

    def per_trigger_s(key):
        return median(t[key] / 1000.0 for t in trig)

    def final(key):
        return median(max(t[key] for t in o["triggers"]) for o in traced)

    return {
        "StreamingWoe.add_batch_s": per_trigger_s("add_batch_ms"),
        "StreamingWoe.plan_s": per_trigger_s("plan_ms"),
        "StreamingWoe.offsets_s": per_trigger_s("offsets_ms"),
        "StreamingWoe.refit_s": per_trigger_s("refit_ms"),
        "StreamingWoe.state_rows": final("state_rows"),
        "StreamingWoe.state_bytes": final("state_bytes"),
        "StreamingWoe.state_commit_s": per_trigger_s("state_commit_ms"),
        "StreamingWoe.triggers": median(len(o["triggers"]) for o in traced),
    }


def result(rec, trace):
    """The benchmark's one-line result object for a run record."""
    values = per_layer(rec) if trace else end_to_end(rec)
    units = {**PER_LAYER, **STREAM_LAYER} if trace else {**END_TO_END, **STREAM_END_TO_END}
    attempted, failed = outcome_counts(rec)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in values.items()}}
