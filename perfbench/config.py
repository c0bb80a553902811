"""Benchmark settings and the names and units of every metric.

``BENCHMARK.json`` at the repository root lists the same metric names;
``tests/test_perfbench.py`` keeps the two in step.
"""

from __future__ import annotations

from .trace import CLOSE_STAGES, SPARK_METRICS

# The 13 headline registry queries, listed here rather than imported
# from the repository's bench script so that the benchmark's workload
# does not move when that script is rewritten.
HEADLINE = [
    "flagship_revenue_by_month",
    "pricing_summary",
    "status_pivot",
    "topk_customers",
    "brand_revenue",
    "revenue_share",
    "duplicate_keys",
    "events_hourly",
    "events_sessions",
    "docs_quality",
    "docs_fingerprint",
    "docs_minhash_near_dup",
    "embedding_cosine_topk",
]

# Headline queries the engine answers wrongly on some generated inputs,
# left out of the timed pass so that every timed operation can pass its
# check.  ``events_sessions``: ``streaming.events.sessionize`` compares
# ``unix_timestamp`` seconds, which drop the fraction of a second, so a
# same-user gap of 1800.x s does not start a new session; about one seed
# in six holds such a gap.  ``tests/test_perfbench.py`` reproduces the
# defect (a strict xfail); put the query back once it is fixed.
KNOWN_WRONG = {"events_sessions"}
TIMED_QUERIES = [q for q in HEADLINE if q not in KNOWN_WRONG]

MONTH = "2025-12"  # the closed month of every generated input
MONTH_ROWS = 300_000  # rows in the clean and the dirty month (all five files)
REGISTRY_ORDERS = 15_000  # orders in the registry tables (lineitem = 4x)
CANARY_SEED = 42
EXTRA_SETUPS = 1  # set-ups in fresh interpreters after the run; setup_s is the median of 1 + this

WORKLOADS = ["close_csv", "registry_headline"]

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
}

_SPARK_UNITS = {
    "jobs": "count", "tasks": "count", "failed_tasks": "count", "executor_run_s": "s",
    "executor_cpu_s": "s", "core_busy_ratio": "ratio", "input_records": "count",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "peak_execution_memory_bytes": "B",
}


def _per_layer() -> dict[str, str]:
    m = {
        "session.get_spark_s": "s",
        "memory.peak_rss_mb": "MB",
        "readers.csv_parse_s": "s",
        "readers.csv_rows": "count",
        "raw_lake.ingest_s": "s",
        "raw_lake.scan_s": "s",
        "raw_lake.bytes": "B",
        "pipeline.warm_close_s": "s",
    }
    for stage in CLOSE_STAGES:
        m[f"pipeline.{stage}_s"] = "s"
        for metric in SPARK_METRICS:
            m[f"pipeline.{stage}.{metric}"] = _SPARK_UNITS[metric]
    m.update({
        "writers.csv_single_file_s": "s",
        "writers.csv_single_file_calls": "count",
        "writers.parquet_s": "s",
        "writers.parquet_calls": "count",
        "writers.curated_bytes_per_input_byte": "ratio",
        "exports.export_bi_s": "s",
        "star.export_star_s": "s",
        "publish.jobs": "count",
        "publish.executor_run_s": "s",
        "publish.core_busy_ratio": "ratio",
        "quality.gate_fail_s": "s",
        "quality.gate_fail.dq_sweep_s": "s",
        "quality.gate_fail.dq_audit_write_s": "s",
        "quality.gate_fail.dq_audit_write.executor_run_s": "s",
        "quality.gate_fail.dq_audit_write.core_busy_ratio": "ratio",
        "quality.gate_fail.exception_rows": "count",
    })
    for q in TIMED_QUERIES:
        m[f"contract.{q}_s"] = "s"
    m.update({
        "contract.queries_s": "s",
        "trace.overhead_ratio": "ratio",
        "trace.unattributed_jobs": "count",
        "trace.jobs": "count",
    })
    return m


PER_LAYER = _per_layer()
