"""Incremental aggregate maintenance: mergeable per-group states.

The 100 TB pattern for recurring rollups (daily revenue, monthly KPI):
never re-aggregate history -- keep a per-group STATE of associative
partials (count, decimal sum, min, max), aggregate only the new
batch/partition, and MERGE the two states. ``merge_states(
aggregate_state(A), aggregate_state(B)) == aggregate_state(A union
B)`` holds exactly because every partial is associative+commutative
and the sum is decimal (order-independent -- the same reason the
contract's money aggregates cast to decimal before summing).

Derived measures (avg = sum/count) come off the state at read time,
never stored -- storing them would break mergeability. The monthly
close's partitioned fact lake pairs with this: each close aggregates
one month's partition and merges it into the running state instead of
re-scanning all history (``orders_incremental_state`` verifies
3-batch incremental == one-shot recompute against DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_state(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    precision: str = "18,2",
) -> DataFrame:
    """Per-group mergeable state for one batch/partition."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(v.cast(f"decimal({precision})")).alias("sum_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )


def merge_states(base: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two states: one shuffle on the (small) group key space,
    independent of how many rows either state summarized."""
    return (
        base.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
    )


def finalize_state(state: DataFrame, keys: list[str]) -> DataFrame:
    """Read-time derived measures off the state (avg from sum/count;
    sums surfaced as double for BI parity)."""
    return state.select(
        *keys,
        "n_rows",
        F.col("sum_val").cast("double").alias("total_val"),
        F.col("min_val").alias("min_val"),
        F.col("max_val").alias("max_val"),
        F.round(F.col("sum_val").cast("double") / F.col("n_rows"), 6).alias("avg_val"),
    )
