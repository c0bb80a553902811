"""Traced-run support: job-group markers around the engine's public
functions, and a standard-library parser for Spark's event log.

The markers are installed from outside the package.  ``Tracer.patch``
replaces, for the duration of a ``with`` block, the names that
``plans.pipeline``, ``plans.exports``, ``plans.star`` and
``sources.raw_lake`` imported, so that every Spark job started inside
a close stage carries that stage's label as its job group
(``spark.jobGroup.id``).  The event log (uncompressed, one JSON event
per line) then attributes each task to a job and each job to a label.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from pathlib import Path

CLOSE_STAGES = ["dq_sweep", "dq_audit_write", "fact_write", "kpi_agg", "kpi_dim_write"]
SPARK_METRICS = [
    "jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "core_busy_ratio",
    "input_records", "shuffle_write_bytes", "spill_bytes", "peak_execution_memory_bytes",
]


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """Spark settings for a log the standard library can read."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{Path(log_dir).resolve()}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Sets job groups and times calls into the writer layer."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls: dict[str, list[float]] = defaultdict(list)
        self.marks: list[tuple[str, float]] = []
        self.scope = "pipeline"  # "gate" while the dirty month runs

    def mark(self, label: str) -> None:
        self.marks.append((label, time.perf_counter()))
        self.sc.setJobGroup(label, label)

    def clear(self) -> None:
        """End the current label: later jobs count as unattributed."""
        self.marks.append(("", time.perf_counter()))
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _timed(self, name: str, fn, on_call=None):
        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls[name].append(time.perf_counter() - t0)

        return wrapper

    def _marking(self, stage: str, fn):
        def wrapper(*args, **kwargs):
            self.mark(f"{self.scope}.{stage}")
            return fn(*args, **kwargs)

        return wrapper

    def _parquet_stage(self, df, path, *args, **kwargs) -> None:
        p = str(path)
        if p.endswith(("dim_accounts.parquet", "kpi_monthly.parquet")):
            self.mark(f"{self.scope}.kpi_dim_write")

    @contextlib.contextmanager
    def patch(self):
        from finance_etl_pipeline_monthly_close_dataset_spark.plans import exports, pipeline, star
        from finance_etl_pipeline_monthly_close_dataset_spark.sources import raw_lake

        # the first call each close stage makes, in run_month's order
        replacements = [
            (pipeline, "dq_summary_table", self._marking("dq_audit_write", pipeline.dq_summary_table)),
            (pipeline, "fx_to_base", self._marking("fact_write", pipeline.fx_to_base)),
            (pipeline, "kpi_monthly", self._marking("kpi_agg", pipeline.kpi_monthly)),
            (pipeline, "write_parquet", self._timed("parquet", pipeline.write_parquet, self._parquet_stage)),
            (pipeline, "write_csv_single_file", self._timed("csv_single_file", pipeline.write_csv_single_file)),
            (exports, "write_csv_single_file", self._timed("csv_single_file", exports.write_csv_single_file)),
            (star, "write_csv_single_file", self._timed("csv_single_file", star.write_csv_single_file)),
            (raw_lake, "write_parquet", self._timed("parquet", raw_lake.write_parquet)),
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _ in replacements]
        try:
            for mod, name, fn in replacements:
                setattr(mod, name, fn)
            yield self
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)


def parse_event_log(path: Path) -> dict:
    """Per job-group totals from one uncompressed event log.

    Returns ``{"groups": {group: {metric: value}}, "unattributed_jobs":
    n, "jobs": n}``.  A task belongs to the first job that listed its
    stage; a job belongs to its ``spark.jobGroup.id``.
    """
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_METRICS, 0))
    tasks = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[job] = group
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
                if group is not None:
                    groups[group]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        group = job_group.get(stage_job.get(ev["Stage ID"]))
        if group is None:
            continue
        g = groups[group]
        m = ev.get("Task Metrics") or {}
        g["tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            g["failed_tasks"] += 1
        g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        g["peak_execution_memory_bytes"] = max(g["peak_execution_memory_bytes"], m.get("Peak Execution Memory", 0))
    unattributed = sum(1 for g in job_group.values() if g is None)
    return {"groups": dict(groups), "unattributed_jobs": unattributed, "jobs": len(job_group)}


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in Path(log_dir).iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {[p.name for p in Path(log_dir).iterdir()]}")
    return logs[0]
