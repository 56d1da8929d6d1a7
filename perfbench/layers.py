"""Which end-to-end metric each per-layer metric is expected to move,
and on which workloads.  Units and directions are in ``BENCHMARK.json``;
a traced run prints this mapping next to its per-layer result."""

from __future__ import annotations

ALL = ("mr_text", "iterative_pipeline", "streaming_state")
ITER = ("iterative_pipeline",)
MR = ("mr_text",)
STREAM = ("streaming_state",)

# name: (moves end-to-end metric, on workloads)
MOVES: dict[str, tuple[str, tuple[str, ...]]] = {
    "session.start_s": ("setup_s", ALL),
    "queries.construct_s": ("wall_s", ITER),
    "queries.construct_jobs": ("wall_s", ITER),
    "queries.construct_collect_jobs": ("wall_s", ITER),
    "queries.construct_checkpoint_jobs": ("wall_s", ITER),
    "action.s": ("wall_s", ITER),
    "action.jobs": ("wall_s", ITER),
    "pin.cached_mb": ("peak_rss_mb", ITER),
    "pin.retained_mb": ("peak_rss_mb", ITER),
    "sources.input_mb": ("wall_s", MR),
    "sources.input_rows": ("wall_s", MR),
    "sources.scan_task_s": ("wall_s", MR),
    "spark.shuffle_write_mb": ("wall_s", MR),
    "spark.shuffle_read_mb": ("wall_s", MR),
    "spark.spill_mb": ("wall_s", MR),
    "python.worker_cpu_s": ("wall_s", MR),
    "spark.driver_gap_s": ("query_p50_s", ALL),
    "spark.sched_delay_s": ("query_p50_s", ALL),
    "spark.jobs": ("wall_s", ALL),
    "spark.stages": ("wall_s", ALL),
    "spark.tasks": ("wall_s", ALL),
    "spark.failed_tasks": ("ok_frac", ALL),
    "spark.task_run_s": ("wall_s", ALL),
    "spark.task_cpu_s": ("wall_s", ALL),
    "spark.gc_s": ("wall_s", ALL),
    "spark.task_skew": ("wall_s", ALL),
    "jvm.cpu_s": ("wall_s", ALL),
    "streaming.batches": ("wall_s", STREAM),
    "streaming.batch_p50_ms": ("wall_s", STREAM),
    "streaming.batch_p90_ms": ("wall_s", STREAM),
    "streaming.add_batch_ms": ("wall_s", STREAM),
    "streaming.wal_commit_ms": ("wall_s", STREAM),
    "streaming.state_commit_ms": ("wall_s", STREAM),
    "streaming.state_rows": ("peak_rss_mb", STREAM),
    "streaming.state_mem_mb": ("peak_rss_mb", STREAM),
    "streaming.late_rows_dropped": ("ok_frac", STREAM),
    "trace.wall_s": ("wall_s", ALL),
    "trace.overhead_s": ("wall_s", ALL),
}
