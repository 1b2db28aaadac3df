"""Metric names, units and directions: the schema every run reports.

``BENCHMARK.json`` lists the same metrics; ``tests/test_schema.py``
keeps the two in step.
"""

from __future__ import annotations

#: name -> (unit, better, bound); reported by untraced runs.  Every bound
#: is 0.25: each run starts a fresh JVM, whose speed differs from the
#: next one's by several percent in every metric at once, and on a shared
#: host the CPU time the hypervisor steals from a run slows all of its
#: passes together, so the quartiles of ten runs lie 0.1-0.2 of the
#: median apart.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cold_pass_s": ("s", "lower", 0.25),
    "pass_s": ("s", "lower", 0.25),
    "query_geomean_s": ("s", "lower", 0.25),
    "cpu_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

#: module groups whose public functions get call spans
MODULES = ("session", "kvs", "operators", "sources", "functions", "llm_ops",
           "streaming", "plans")

#: name -> (unit, better); reported by traced runs, per measured pass
#: unless the name says otherwise
PER_LAYER = {
    "entry.queries_s": ("s", "lower"),
    "session.get_spark_s": ("s", "lower"),
    "session.load_tables_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.sink_s": ("s", "lower"),
    "plans.eager_jobs": ("count", "lower"),
    "plans.eager_share": ("ratio", "lower"),
    "session.materialize_release.calls": ("count", "lower"),
    "session.materialize_release_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.scheduler_delay_s": ("s", "lower"),
    "spark.unattributed_jobs": ("count", "lower"),
    "codegen.compile_count": ("count", "lower"),
    "codegen.compile_s": ("s", "lower"),
    "executor.run_s": ("s", "lower"),
    "executor.cpu_s": ("s", "lower"),
    "executor.gc_s": ("s", "lower"),
    "executor.deserialize_s": ("s", "lower"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "shuffle.write_s": ("s", "lower"),
    "spill.memory_bytes": ("bytes", "lower"),
    "spill.disk_bytes": ("bytes", "lower"),
    "scan.input_bytes": ("bytes", "lower"),
    "scan.input_rows": ("rows", "lower"),
    "python.boot_s": ("s", "lower"),
    "python.init_s": ("s", "lower"),
    "python.run_s": ("s", "lower"),
    "python.sent_bytes": ("bytes", "lower"),
    "python.received_bytes": ("bytes", "lower"),
    "python.worker_cpu_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.state_rows": ("rows", "lower"),
    "streaming.input_rows": ("rows", "lower"),
    "batch_p50_ms": ("ms", "lower"),
    "batch_p90_ms": ("ms", "lower"),
    "stream_rows_per_s": ("rows/s", "higher"),
    "failed_frac": ("ratio", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    **{f"{m}.calls": ("count", "lower") for m in MODULES},
    **{f"{m}.self_s": ("s", "lower") for m in MODULES},
}


def report(values: dict[str, float], traced: bool) -> dict:
    """The ``metrics`` object of the final line: exactly the schema's
    metrics for this mode, each with its unit."""
    schema = PER_LAYER if traced else END_TO_END
    missing = sorted(set(schema) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {name: {"value": values[name], "unit": spec[0]} for name, spec in schema.items()}
