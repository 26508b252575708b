"""Names and units of the metrics the final JSON line carries; they match
``BENCHMARK.json`` (a unit test checks that)."""

from __future__ import annotations

from perfbench.trace import LAYERS

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_s.gmean": "s",
    "peak_pss_mb": "MB",
}

# Every layer's counts. Times only for the layers every workload enters
# (session and data in set-up, sink at the end of each op): a time that
# is zero on a workload because the layer is never entered there is left
# to the per-layer table (perfbench/layers.py), which prints every counter.
_COUNTS = {
    "calls": "count",
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}
_TIMED_LAYERS = ["session", "data", "sink"]
_TIMES = {"self_s": "s", "task_s": "s", "driver_gap_s": "s"}

PER_LAYER = {
    **{f"{layer}.{c}": u for layer in LAYERS for c, u in _COUNTS.items()},
    **{f"{layer}.{c}": u for layer in _TIMED_LAYERS for c, u in _TIMES.items()},
    "operators.skew.write_bucketed.calls": "count",
    "jvm.gc_s": "s",
    "spark.tasks_failed": "count",
    "trace.overhead_frac": "frac",
}
