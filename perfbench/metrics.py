"""Metric names and units: the contract between the workloads, the
output line and ``BENCHMARK.json`` (a test keeps the two in step)."""

from __future__ import annotations

from perfbench.headline import HEADLINE

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

_QUERY_LAYERS = ("build_s", "plan_s", "exec_s")
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warm_s": "s",
    "queries.build_s": "s",
    "catalyst.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_share": "1",
    "spark.task_skew_max": "1",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "dsl.core.eval_s": "s",
    "dsl.core.rows_in": "rows",
    "dsl.core.rows_out": "rows",
    "dsl.core.rows_per_s": "rows/s",
    "interpreter.build_s": "s",
    "interpreter.job_s": "s",
    "interpreter.eval_share": "1",
    "interpreter.python_bytes_sent": "B",
    "interpreter.python_bytes_returned": "B",
    "stream.batches": "count",
    "stream.batch_s_p50": "s",
    "stream.batch_s_p90": "s",
    "stream.add_batch_s_p50": "s",
    "stream.state_commit_s_p50": "s",
    "stream.state_rows": "rows",
    "stream.state_bytes": "B",
    "stream.state_bytes_per_key": "B",
    "stream.rows_per_batch_p50": "rows",
    "stream.key_batch_ms": "ms",
    "stream.latest_offset_s_p50": "s",
    "stream.query_planning_s_p50": "s",
    "stream.wal_commit_s_p50": "s",
    "stream.backlog_rows_max": "rows",
    "stream.backlog_slope_rows_per_s": "rows/s",
    "gen.lag_s_p50": "s",
    "trace.overhead_share": "1",
    "probe.cpu_s": "s",
    "probe.mc_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = dict(PER_LAYER)
    for q in HEADLINE:
        for layer in _QUERY_LAYERS:
            units[f"q.{q}.{layer}"] = "s"
    return units


def zero_layers() -> dict[str, float]:
    """Every per-layer metric at 0: a layer a workload does not run
    reports 0, so each traced run prints the same names."""
    return dict.fromkeys(per_layer_units(), 0.0)
