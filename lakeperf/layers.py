"""Per-layer metrics of a traced run, reduced from the recorded spans.

Every traced run reports every metric; a layer the workload does not
load reports 0, which is the "stays flat" prediction for that pairing.
"""

from __future__ import annotations

import statistics

from harness import median_or_zero

ENGINE_CALLS = ("lookup", "raw_write", "curate", "merge", "snapshot_read", "compact", "vacuum")
OPERATOR_FAMILIES = ("text", "dedup", "similarity", "sampling", "packing")


def per_layer(wl, tracer, session_start_s: float, plain: dict, traced: dict, names: list[str]) -> dict:
    """Values of the per-layer metrics ``names``: timings are medians per
    call, counts and bytes are per operation unless the name says
    otherwise."""
    n_ops = max(1, traced["attempted"])
    v = {name: 0.0 for name in names}
    v["session.start_s"] = session_start_s
    v["sources.fetch_s"] = median_or_zero(tracer.durations("sources.fetch"))
    v["functions.ingest_policy_s"] = median_or_zero(tracer.durations("functions.ingest_policy"))
    for call in ENGINE_CALLS:
        v[f"engine.{call}_s"] = median_or_zero(tracer.durations(f"engine.{call}"))
    engine_spans = tracer.of("engine")
    if engine_spans:
        v["engine.jobs_per_call"] = tracer.spark_sum("engine", "jobs") / len(engine_spans)
    for fam in OPERATOR_FAMILIES:
        v[f"operators.{fam}_s"] = median_or_zero(tracer.durations(f"operators.{fam}"))
    family_calls = sum(len(tracer.durations(f"operators.{fam}")) for fam in OPERATOR_FAMILIES)
    if family_calls:
        v["operators.jobs_per_call"] = tracer.spark_sum("operators", "jobs") / family_calls
        v["operators.shuffle_bytes"] = tracer.spark_sum("operators", "shuffle_bytes") / n_ops
        v["operators.spill_bytes"] = tracer.spark_sum("operators", "spill_bytes") / n_ops
        v["operators.python_node_s"] = tracer.spark_sum("operators", "python_s") / n_ops
        v["operators.python_bytes"] = tracer.spark_sum("operators", "python_bytes") / n_ops
    if wl.pin_layer and traced["pins"]:
        v[f"{wl.pin_layer}.pins_leaked"] = statistics.mean(traced["pins"])
    for layer, secs in tracer.self_seconds().items():
        key = f"{layer}.self_s"
        if key in v:
            v[key] = secs / n_ops
    if plain["latency"] and traced["latency"]:
        v["trace.overhead_s"] = statistics.median(traced["latency"]) - statistics.median(plain["latency"])
    v.update(wl.layer_metrics())
    return v
