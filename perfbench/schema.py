"""Metric names and units the benchmark prints; BENCHMARK.json lists the same."""

from __future__ import annotations

from .queries import KEYS

WORKLOADS = ("stream", "queries_mix")

# Printed by every workload with --trace 0.  The wall figures of the timed
# section (op_ms, drain walls, batch and call latencies) are in the report
# line only: on a shared host they move with the other tenants' load by
# more than any bound, CPU time much less.
END_TO_END = {
    "setup_s": "s",  # session + warm-up drain, or session + cold pass
    # CPU of the process tree (Python driver, JVM less its JIT compiler
    # threads, Python workers) per micro-batch, or geometric mean of each
    # key's median call CPU
    "cpu_ms": "ms",
    "peak_rss_mb": "MB",  # driver (Python) process peak RSS
}

# Printed by every workload with --trace 1; a layer a workload does not
# exercise reads 0.
PER_LAYER = {
    **{f"trigger.{p}_ms_p50": "ms" for p in (
        "latestOffset", "getBatch", "walCommit", "commitOffsets", "queryPlanning",
        "addBatch", "bookkeeping")},
    "step.ms_p50": "ms",
    "step.self_ms_p50": "ms",
    "estep_local.ms_p50": "ms",
    "estep_local.calls": "count",
    "estep_dist.ms_p50": "ms",
    "estep_dist.calls": "count",
    "estep_dist.ids_returned": "count",
    "mstep.ms_p50": "ms",
    "model.nodes_final": "count",
    "snapshot.ms_p50": "ms",
    "snapshot.count": "count",
    "snapshot.bytes": "bytes",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    **{f"query.{k}.{m}": u for k in KEYS for m, u in (("s", "s"), ("jobs", "count"))},
    "setup.session_s": "s",
    "setup.warm_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.addbatch_cover_frac": "ratio",
}
