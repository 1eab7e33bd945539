"""The metric names the benchmark reports, with units and directions.

The end-to-end metrics are the ones every workload reports and the ones a
change is gated on. Steady-state work is timed in CPU milliseconds of the
driver and the JVM (``procfs.CpuClock``): on the shared virtual machine
the benchmark was built on, other guests took CPU in bursts of minutes
that doubled whole runs' wall times, which no bound of at most 0.25 can
hold, while CPU time moved far less. ``cycle_cpu_ms`` is the median CPU
time of one closed-loop cycle (a fixed mix of store calls);
``call_cpu_ms`` is the geometric mean of the per-call-kind median CPU
times, so doubling any one of a workload's three call kinds moves it by
26% however small that call's share of the cycle. ``min_recall`` is the
lowest of the workload's answer-quality scores, each taken on fixed
inputs. Wall-clock latencies per call and per cycle are printed and
recorded for ``compare.py`` but not gated.

Per-layer metrics come from a traced run; a span a workload never enters
reports 0.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": ("s", "lower"),
    "cycle_cpu_ms": ("ms", "lower"),
    "call_cpu_ms": ("ms", "lower"),
    "min_recall": ("ratio", "higher"),
    "space_amp": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_UNIT = {"wall_ms": "ms", "self_ms": "ms", "driver_ms": "ms", "executor_cpu_ms": "ms",
         "jobs": "count", "tasks": "count", "input_records": "count",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
ALL_FIELDS = tuple(_UNIT)
PLAN_FIELDS = ("wall_ms", "self_ms", "jobs")
SETUP_FIELDS = ("wall_ms", "self_ms", "driver_ms", "jobs", "executor_cpu_ms")

# Spans of the set-up phase; every other span is taken from the measured
# cycles.
SETUP_SPANS = ("session.get_spark", "store.register", "store.create_dedup_index", "store.create_vector_index")
# span -> fields reported for it (per-call means)
SPANS = {
    **{f"store.{c}.exec": ALL_FIELDS for c in ("get_online", "get", "get_training_set", "dedup_batch", "knn_batch")},
    **{s: ALL_FIELDS for s in ("store.push", "store.append", "store.materialize_online", "registry.write_version")},
    **{f"store.{c}.plan": PLAN_FIELDS for c in ("get_online", "get", "get_training_set", "dedup_batch", "knn_batch")},
    **{s: SETUP_FIELDS for s in SETUP_SPANS},
}

RATIOS = {
    "store.get_online.input_records_per_row": "ratio",
    "store.get.input_records_per_row": "ratio",
    "registry.read_version.calls_per_op": "ratio",
    "registry.meta.calls_per_op": "ratio",
    "registry.write_amp": "ratio",
    "registry.files_per_version": "count",
    "asof.task_skew": "ratio",
    "dedup.candidates_per_doc": "ratio",
    "dedup.verified_per_candidate": "ratio",
    "trace.overhead_ms": "ms",
    "trace.overhead_share": "ratio",
}


def per_layer() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {f"{s}.{f}": _UNIT[f] for s, fields in SPANS.items() for f in fields}
    out.update(RATIOS)
    return out
