"""The workloads and the metrics the benchmark reports.

Each workload runs registered engine queries over seeded fixture
tables; every query here has a DuckDB oracle computed from those
tables, so each is checked exactly.
"""

from __future__ import annotations

QUERY_WORKLOADS = {
    # functions layer: Arrow/Python workers and the Python boundary;
    # wordcount goes through operators, randomtextwriter (a seeded text
    # corpus) through sources.
    "llm_corpus": {
        "queries": ["dedup_minhash", "dedup_spans_apply", "multimodal_decode", "wordcount", "randomtextwriter"],
        "tables": ["documents"],
        "pass_s": 4.0,
    },
    # streaming layer: availableNow drains through the state stores.
    "streaming": {
        "queries": ["streaming_tumbling_counts", "streaming_stream_stream_join"],
        "tables": ["events"],
        "pass_s": 4.0,
    },
}

WORKLOADS = list(QUERY_WORKLOADS)


def warm_passes(workload: str, seconds: float, least: int = 2) -> int:
    """Warm passes a run makes: ``seconds`` over the workload's nominal
    steady pass time on 4 cores.  A count fixed by ``seconds``, not a
    deadline, so every run's steady half covers the same pass indices
    while times are still falling."""
    return max(least, round(seconds / QUERY_WORKLOADS[workload]["pass_s"]))


END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "cpu-s",
    "cpu_s": "cpu-s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.load_tables_s": "s",
    "plans.build_s": "s",
    "plans.build_cold_s": "s",
    "plans.eager_jobs": "count",
    "plans.self_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jvm_cpu_s": "cpu-s",
    "spark.cpu_util": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_floor_s": "s",
    "spark.gc_s": "s",
    "spark.peak_rss_mb": "MB",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_records": "count",
    "operators.spill_bytes": "bytes",
    "operators.peak_exec_mem_bytes": "bytes",
    "operators.task_skew": "ratio",
    "operators.rows_out": "count",
    "operators.self_s": "s",
    "functions.py_cpu_s": "cpu-s",
    "functions.arrow_bytes_to_python": "bytes",
    "functions.arrow_bytes_from_python": "bytes",
    "functions.py_workers_started": "count",
    "functions.driver_s": "s",
    "functions.self_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.self_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_stores": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.self_s": "s",
    "failed_frac": "ratio",
    "trace.cold_s": "s",
    "trace.warm_s": "s",
}
