"""Metric definitions shared by run.py and summarize.py.

The workloads and the metric names and units are those of BENCHMARK.json
at the root of the checkout. End-to-end metrics are measured with tracing
off and exist on every workload; what an op is differs per workload
(README.md). Per-layer metrics come from a traced run.
"""
import json
import os

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)

WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]
# name -> unit
END_TO_END = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}

# input scale of each workload (README.md: why master_refresh runs smaller)
SCALE = {"master_refresh": 0.01, "analyst": 0.1}


def end_to_end(run):
    return {
        "setup_s": run["setup_s"],
        "op_p50_s": run["op_p50_s"],
        "throughput_per_s": run["units"] / run["wall_s"],
        "live_heap_mb": run["live_heap_mb"],
    }


def report(run, failed_checks, checks_ok):
    """The run's result object plus human-readable notes."""
    attempted = len(run["latencies_s"])
    op_failures = len(run["failures"])
    failed = min(attempted, op_failures + len(failed_checks))
    correct = op_failures == 0 and checks_ok
    if run["trace"]:
        layers = run["layers"]
        missing = [k for k in PER_LAYER if k not in layers]
        values = {k: layers.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        missing = []
        values = end_to_end(run)
        units = END_TO_END
    tail = run["tail"]
    notes = [f"ops = {attempted}, failed = {failed}, failed_frac = {failed / max(attempted, 1)}",
             "tail: " + (f"p{tail['percentile']:g} = {tail['value_s']} s" if tail else
                         "none (fewer than 20 ops, so no percentile has 10 samples beyond it)"),
             f"checks = {len(run['checks'])}, mismatched = {failed_checks}"]
    notes += [f"op failure: {f}" for f in run["failures"][:5]]
    if missing:
        notes.append(f"layer metrics not measured: {missing}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    return result, notes
