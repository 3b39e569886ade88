"""Order statistics and metric reduction for the benchmark's raw records."""

import math
import statistics

# Percentile ladder op_tail_s climbs, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, pct):
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest ladder percentile with at least TAIL_MIN_BEYOND samples
    strictly above its rank; with fewer samples than that, the median.
    Returns (value, percentile, n)."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) / 100.0 >= TAIL_MIN_BEYOND:
            return percentile(values, pct), pct, n
    return percentile(values, 50.0), 50.0, n


def spread(values):
    """Inter-quartile range as a share of the median, as the acceptance
    check computes it."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def _ops(passes):
    return [op for p in passes for op in p["ops"]]


# The end-to-end metrics the result line carries. op_p50_s, op_tail_s,
# rows_per_s and fail_frac ride in the detail line (see README.md for why).
E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}

# Per-layer metrics that are read from the cold pass (compile and JIT work
# happens mostly there); all others are per warm pass.
COLD_LAYERS = ("codegen.compile_s", "codegen.classes", "jvm.jit_s", "jvm.gc_s",
               "jvm.heap_peak_mb")
SUMMED_LAYERS = (
    "operators.build_s", "operators.eager_jobs", "operators.eager_s",
    "catalyst.plan_s", "catalyst.sql_executions", "scheduler.jobs",
    "scheduler.stages", "scheduler.tasks", "scheduler.delay_s", "driver.gap_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "shuffle.write_mb",
    "shuffle.read_mb", "spill.disk_mb", "sources.records_read",
    "sources.mb_read", "sources.parse_s", "sinks.records_written",
    "sinks.mb_written", "sinks.write_s")


LAYER_UNITS = {
    name: ("s" if name.endswith("_s") else "MB" if "mb_" in name or name.endswith("_mb")
           else "ratio" if name.endswith(("_frac", "_amp")) else "count")
    for name in SUMMED_LAYERS + COLD_LAYERS + (
        "executor.busy_frac", "sinks.write_amp", "materialize.cached_partitions_left",
        "materialize.checkpoint_files_left", "trace.unattributed_tasks",
        "trace.overhead_frac")}


def warm_passes(raw):
    """The passes warm_s and the warm-pass layer figures are read from:
    every pass after the cold and warm-up passes."""
    return [p for p in raw["passes"] if p["kind"] == "warm"]


def end_to_end(raw):
    """End-to-end metrics of one run, plus the failure tally."""
    passes = raw["passes"]
    warm = warm_passes(raw)
    warm_ops = [op["wall_s"] for op in _ops(warm)]
    tail_v, tail_pct, tail_n = tail(warm_ops)
    per_op = {}
    for op in _ops(warm):
        per_op.setdefault(op["name"], []).append(op["wall_s"])
    every = _ops(passes)
    failed = sum(1 for op in every if not op["ok"])
    records = sum(op["records_out"] for op in _ops(warm))
    return {
        "setup_s": raw["setup_s"],
        "cold_s": passes[0]["wall_s"],
        "warm_s": statistics.median(p["wall_s"] for p in warm),
        # Median across operations of each operation's median: with a few
        # operations of very different cost, a median over all samples
        # would fall between two of them and jump with either one's noise.
        "op_p50_s": statistics.median(statistics.median(v) for v in per_op.values()),
        "op_tail_s": tail_v,
        "op_tail_pct": tail_pct,
        "op_n": tail_n,
        "rows_per_s": records / sum(p["wall_s"] for p in warm),
        "attempted": len(every),
        "failed": failed,
        "fail_frac": failed / len(every),
        "warm_passes": len(warm),
    }


def per_layer(raw):
    """Per-layer metrics of a traced run (see README.md for each one).
    run.py adds `untraced_warm_s`, the warm_s of an untraced run of the
    same workload, as the baseline of trace.overhead_frac."""
    passes = raw["passes"]
    cores = raw["cores"]
    cold = passes[0]
    warm = warm_passes(raw)
    out = {}
    for name in SUMMED_LAYERS:
        out[name] = statistics.median(
            sum(op.get(name, 0.0) for op in p["ops"]) for p in warm)
    for name in COLD_LAYERS:
        vals = [op.get(name, 0.0) for op in cold["ops"]]
        out[name] = max(vals) if name == "jvm.heap_peak_mb" else sum(vals)
    run_s = sum(op.get("executor.run_s", 0.0) for op in _ops(warm))
    wall = sum(op["wall_s"] for op in _ops(warm))
    out["executor.busy_frac"] = run_s / (wall * cores)
    read_mb = out["sources.mb_read"]
    out["sinks.write_amp"] = out["sinks.mb_written"] / read_mb if read_mb > 0 else 0.0
    every = _ops(passes)
    out["materialize.cached_partitions_left"] = sum(
        max(0, op["materialize.cached_partitions_left"]) for op in every)
    out["materialize.checkpoint_files_left"] = sum(
        max(0, op["materialize.checkpoint_files_left"]) for op in every)
    out["trace.unattributed_tasks"] = raw["unattributed_tasks"]
    out["trace.overhead_frac"] = (
        end_to_end(raw)["warm_s"] / raw["untraced_warm_s"] - 1.0)
    return out
