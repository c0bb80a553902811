"""Event-stream operators: windowed aggregation and sessionization.

Batch-first (the testdata ``events`` table is a bounded parquet), with
the same logical plans runnable under Structured Streaming -- see
``streamed_tumbling_counts`` which wires readStream + watermark around
the identical aggregation.

Scale notes: tumbling/sliding windows shuffle once on (window, key);
sessionization uses a window function partitioned by user_id --
at 100 TB that is a single shuffle on user_id, with AQE handling
hot users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    width: str = "1 hour",
) -> DataFrame:
    """Tumbling-window counts + value sums per key."""
    return (
        events.groupBy(F.window(F.col(ts_col), width).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    width: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window(F.col(ts_col), width, slide).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization via the islands technique: a new
    session starts when the gap from the previous event of the same
    user exceeds ``gap_minutes``; session_id = running count of
    session starts. Deterministic and SQL-expressible (lag + cumulative
    sum), unlike F.session_window whose output shape is engine-specific.
    """
    w_user = Window.partitionBy(user_col).orderBy(ts_col)
    gap_sec = gap_minutes * 60
    with_start = events.withColumn(
        "_new_session",
        F.when(
            F.lag(ts_col).over(w_user).isNull()
            | (
                F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.lag(ts_col).over(w_user))
                > gap_sec
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return with_start.withColumn(
        "session_id",
        F.sum("_new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("_new_session")


def session_stats(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Per-session aggregates: span, event count, value sum."""
    s = sessionize(events, ts_col, user_col, gap_minutes)
    return s.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def streamed_tumbling_counts(
    spark: SparkSession,
    parquet_dir: str,
    schema,
    width: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str = "event_type",
    max_files_per_trigger: int | None = None,
):
    """The same tumbling aggregation as a Structured Streaming plan:
    file-source readStream + event-time watermark for late data.
    Returns the streaming DataFrame (caller starts it with
    ``.writeStream``; tests use a memory sink + processAllAvailable).

    ``max_files_per_trigger=1`` forces a multi-batch replay over a
    multi-file directory, exercising incremental state merging across
    micro-batches instead of a single catch-all batch.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(parquet_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), width).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def streamed_dedup(
    spark: SparkSession,
    parquet_dir: str,
    schema,
    id_col: str = "event_id",
    watermark: str = "1 hour",
):
    """Streaming exact dedup: drop re-deliveries of the same event id
    across micro-batches.

    ``dropDuplicates`` on a stream keeps per-key state forever unless
    bounded; the event-time watermark lets the state store expire ids
    older than the lateness horizon, so state size tracks the event
    rate x watermark window, not the stream's lifetime -- the standard
    exactly-once-ingest pattern for at-least-once sources.
    """
    stream = spark.readStream.schema(schema).parquet(parquet_dir)
    return stream.withWatermark("ts", watermark).dropDuplicates([id_col, "ts"])


def streamed_dedup_within_watermark(
    spark: SparkSession,
    parquet_dir: str,
    schema,
    id_col: str = "event_id",
    watermark: str = "1 hour",
):
    """Streaming dedup for the REAL at-least-once failure mode: a
    retried delivery carries a NEW event time (producer re-stamps on
    retry), so exact-match ``dropDuplicates([id, ts])`` lets it
    through.  ``dropDuplicatesWithinWatermark`` dedups on the id alone
    while the watermark bounds how long each id's state lives -- any
    two deliveries of one id within the lateness horizon collapse to
    the first-processed one, and state still expires, so memory tracks
    rate x horizon, not stream lifetime."""
    stream = spark.readStream.schema(schema).parquet(parquet_dir)
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def streamed_attribution_join(
    spark: SparkSession,
    parquet_dir: str,
    schema,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
):
    """Stream-stream inner join: purchases attributed to the same
    user's click within the preceding attribution window.

    Both sides are watermarked and the join condition bounds purchase
    time to [click_ts, click_ts + window], so the state store can
    discard clicks once the watermark passes their attribution horizon
    -- the conditions Structured Streaming requires for bounded
    stream-stream join state.
    """
    stream = spark.readStream.schema(schema).parquet(parquet_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    # how="leftOuter": clicks with no purchase emit (with nulls) once
    # the watermark passes their attribution horizon -- the state store
    # can then prove no match can still arrive
    return clicks.join(
        purchases,
        on=F.expr(
            f"""c_user = p_user AND
                purchase_ts >= click_ts AND
                purchase_ts <= click_ts + INTERVAL {attribution_window}"""
        ),
        how=how,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def streamed_upsert_sink(
    spark: SparkSession,
    parquet_dir: str,
    schema,
    lake_dir: str,
    key_col: str = "event_id",
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
):
    """Streaming upsert into a keyed parquet lake via ``foreachBatch``
    -- the canonical merge-sink pattern when the target is a plain
    parquet table (no transactional format available).

    Each micro-batch is merged with the current lake contents and the
    latest row per key wins (by event time, batch beating lake on
    ties); the result is rewritten through a temp directory and promoted
    with ``promote_dir`` (rename-aside, recovered at the next batch) so
    a crashed batch never leaves a half-written or missing lake, and
    re-processing the same batch is idempotent (last-writer-wins is
    insensitive to replay). At 100 TB the same ``foreachBatch`` body
    targets a transactional MERGE (Delta/Iceberg) instead of the
    rewrite; the batch-side dedup and latest-per-key logic carry over
    unchanged.

    Returns the started ``StreamingQuery`` (caller awaits/stops it).
    """
    import os

    from ..sources.writers import promote_dir, recover_dir

    tmp = lake_dir.rstrip("/") + "__merging"

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        # a replayed batch after a crash inside promote_dir re-merges
        # idempotently: last-writer-wins is replay-insensitive
        recover_dir(lake_dir, tmp)
        target = batch.sparkSession
        if os.path.exists(lake_dir):
            current = target.read.parquet(lake_dir).withColumn(
                "__is_new", F.lit(0)
            )
            merged = batch.withColumn("__is_new", F.lit(1)).unionByName(current)
        else:
            merged = batch.withColumn("__is_new", F.lit(1))
        w = Window.partitionBy(key_col).orderBy(
            F.col(ts_col).desc(), F.col("__is_new").desc()
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__is_new")
        )
        latest.write.mode("overwrite").parquet(tmp)
        promote_dir(tmp, lake_dir)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(parquet_dir)
    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", lake_dir.rstrip("/") + "__checkpoint")
        .outputMode("update")
        .start()
    )
