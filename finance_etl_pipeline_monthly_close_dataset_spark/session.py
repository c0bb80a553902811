"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same settings are what we would
ship on a 1000-executor cluster:

* AQE on (runtime coalescing of shuffle partitions, skew-join
  splitting, dynamic broadcast conversion) so plans tuned at sf0.1
  survive a 100x scale-up.
* ANSI off: the reference engine has pandas cast semantics
  (failed cast -> null, division by zero -> no error), and the DuckDB
  oracle comparisons assume non-throwing casts.
* Session timezone UTC so ``date_format``/``to_date`` agree with the
  oracle regardless of host timezone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def graft_cpus() -> int | None:
    """The core count in ``SPARK_GRAFT_CPUS``, or None when it is unset,
    empty or not a positive integer (the caller then uses its default)."""
    value = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(value) if value.isdigit() and int(value) > 0 else None


def get_spark(
    app_name: str = "finance-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster you would size it to ~2-3x total executor cores, or simply
    rely on AQE coalescing from a higher initial number.
    """
    cpus = graft_cpus()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus or 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dimension joins should broadcast aggressively on big-memory
        # executors; AQE still decides from runtime sizes, so an
        # oversized estimate cannot OOM a genuinely large build side
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # re-running a month must replace only that month's partition
        # in the curated lake, not truncate the table
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
