"""Metric names, units and the small statistics the benchmark reports.

The lists mirror BENCHMARK.json (a test keeps them equal). End-to-end
metrics use workload-neutral names so that every workload reports every
one; REPORT_UNITS gives the per-workload names the runs also print.
"""

import math
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "retained_heap_mb": ("MiB", "lower"),
}

PINNED_QUERIES = ["dedup_simhash", "dedup_components",
                  "dedup_containment_prefix", "ann_lsh_bucket", "k_core",
                  "stream_components"]

PER_LAYER = {
    "sources.input_s": ("s", "lower"),
    "sources.input_rows": ("rows", "higher"),
    "etl.condense_s": ("s", "lower"),
    "etl.sets_out": ("sets", "higher"),
    "mwas.state_s": ("s", "lower"),
    "mwas.readout_build_s": ("s", "lower"),
    "mwas.readout_plan_s": ("s", "lower"),
    "mwas.readout_exec_s": ("s", "lower"),
    "mwas.sink_s": ("s", "lower"),
    "mwas.contrasts": ("rows", "higher"),
    "mwas.jobs_per_request": ("jobs", "lower"),
    "stats.kernel_s": ("s", "lower"),
    "stats.perm_share": ("share", "lower"),
    "stats.early_stop_share": ("share", "higher"),
    "stats.exact_share": ("share", "higher"),
    "streaming.merge_s": ("s", "lower"),
    "streaming.readout_s": ("s", "lower"),
    "streaming.jobs_per_trigger": ("jobs", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.overhead_ms": ("ms", "lower"),
    "streaming.state_rows": ("rows", "higher"),
}
PER_LAYER.update({
    "spark.jobs": ("jobs", "lower"),
    "spark.stages": ("stages", "lower"),
    "spark.tasks": ("tasks", "lower"),
    "spark.failed_tasks": ("tasks", "lower"),
    "spark.task_busy_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.wait_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MiB", "lower"),
    "spark.shuffle_read_mb": ("MiB", "lower"),
    "spark.spill_mb": ("MiB", "lower"),
    "spark.max_task_s": ("s", "lower"),
    "spark.core_util": ("share", "higher"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.heap_after_gc_peak_mb": ("MiB", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.blocking_self_over_job": ("share", "higher"),
})
for _q in PINNED_QUERIES:
    PER_LAYER[f"operators.{_q}_s"] = ("s", "lower")
    PER_LAYER[f"operators.{_q}_jobs"] = ("jobs", "lower")
    PER_LAYER[f"operators.{_q}_spill_mb"] = ("MiB", "lower")

# the per-workload names printed on the report line
REPORT_UNITS = {
    "job_s": "s", "contrasts_per_s": "rows/s",
    "latency_p50_s": "s", "latency_p90_s": "s", "requests_per_s": "req/s",
    "trigger_p50_s": "s", "trigger_p90_s": "s", "catchup_s": "s",
    "pass_s": "s", "error_rate": "failed/attempted",
    "retained_heap_mb": "MiB", "setup_s": "s",
}


def valid_name(name):
    return bool(NAME.match(name))


def tail_percentile(samples, q, min_beyond=10):
    """Nearest-rank q-quantile, or None unless at least `min_beyond`
    samples lie beyond it (so a p90 needs 100 samples)."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return None
    k = max(1, math.ceil(q * n))
    if n - k < min_beyond:
        return None
    return s[k - 1]


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def self_times(spans):
    """Per-span self time: its duration minus the part of its interval
    that its child spans cover. Returns {span id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        cov = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in cov:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def descendants(spans, root_id):
    """Ids of every span below the span `root_id`."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], list(children.get(root_id, []))
    while todo:
        i = todo.pop()
        out.append(i)
        todo += children.get(i, [])
    return out


def layer_self_times(spans):
    """Self time summed per layer, in seconds."""
    st = self_times(spans)
    layers = {}
    for s in spans:
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + st[s["id"]]
    return layers
