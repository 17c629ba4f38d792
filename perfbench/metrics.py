"""Names and units of every metric the benchmark reports.

``BENCHMARK.json`` lists the same names; ``tests/test_streams.py``
checks that the two agree. A per-layer metric of a layer a workload
does not exercise reads 0 on that workload. Every end-to-end metric is
reported on every workload, so a figure that exists on some workloads
only (the write amplification of curation, a p90 that needs 100
samples) is a per-layer metric or sits in the record line.
"""

from __future__ import annotations

from streams import EXPORT_FORMATS, LLM_OPERATORS

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
}

PER_LAYER = {
    # set-up, all workloads -> setup_s
    "session.start_s": "s",
    "catalog.register_s": "s",
    "snapshots.base_write_s": "s",
    "ivm.initial_build_s": "s",
    "warmup_s": "s",
    # lookup -> latency_p50_ms, ops_per_s
    "query.build_df_ms": "ms",
    "plans.cache_key_ms": "ms",
    "service.jobs.submit_ms": "ms",
    "service.jobs.wait_ms": "ms",
    "service.preview_ms": "ms",
    "service.cache.hit_ratio": "frac",
    **{f"service.export.{fmt}_ms": "ms" for fmt in EXPORT_FORMATS},
    # curation -> latency_p50_ms
    "snapshots.merge_ms": "ms",
    "ivm.maintain_rollup_ms": "ms",
    "service.aggregate_ms": "ms",
    "plans.rewrite.rollup_answer_frac": "frac",
    "snapshots.point_read_ms": "ms",
    "snapshots.files_read_per_point": "frac",
    "snapshots.bytes_written_per_commit": "B",
    "snapshots.write_bytes_per_row": "B/row",
    "snapshots.live_files_end": "count",
    "snapshots.versions_end": "count",
    "snapshots.table_dir_bytes_end": "B",
    # llm_batch -> ops_per_s
    **{
        f"operators.{name}.{what}": unit
        for name in LLM_OPERATORS
        for what, unit in (
            ("build_ms", "ms"), ("exec_ms", "ms"), ("build_jobs", "count"), ("exec_jobs", "count"),
        )
    },
    # Spark, over the traced window, all workloads -> ops_per_s
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.input_bytes_per_op": "B",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.spill_bytes": "B",
    "spark.core_busy_frac": "frac",
    "spark.storage_mem_bytes_end": "B",
    "spark.rdd_blocks_end": "count",
    "trace.overhead_frac": "frac",
}
