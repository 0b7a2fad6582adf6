"""Structured Streaming ingestion variant (SURVEY §7 item 8).

The batch pipeline's unit of work is a trading date; the streaming variant
watches the landing directory and lands each micro-batch through the batch
load's own pieces: ``sources.csv_source.stream_eod_csv`` applies the same
schema, dialect, whole-row skip and lineage as ``read_eod_csv``, and
``plans.pipeline.silver_frames`` builds the same CORE and REJECT rows as
``build_silver``, for whatever dates the micro-batch holds. A streamed
backfill therefore lands what the daily batch lands for the same files.

Scale posture: file-source streams scale by listing cost — at production
volume use a notification-based source; ``maxFilesPerTrigger`` bounds
micro-batch size so the per-date partition rewrite stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from securities_pricing_data_pipeline_spark.operators.merge import upsert_partitions
from securities_pricing_data_pipeline_spark.plans.pipeline import SILVER_KEYS, silver_frames
from securities_pricing_data_pipeline_spark.sources.csv_source import stream_eod_csv
from securities_pricing_data_pipeline_spark.tables import Warehouse


def stream_ingest_eod(
    spark: SparkSession,
    landing_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source stream over the landing dir → bronze append, then the
    silver upsert and insert-only reject merge per micro-batch.

    ``available_now=True`` drains the backlog and stops (test/backfill
    mode); otherwise runs continuously.
    """
    stream = stream_eod_csv(spark, landing_dir, max_files_per_trigger)

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return
        # bronze append first (FORCE=TRUE parity), then silver merge
        batch.write.mode("append").partitionBy("trade_date").parquet(wh.bronze)
        _, _, core_rows, reject_rows = silver_frames(batch)
        upsert_partitions(spark, core_rows, wh.silver, keys=SILVER_KEYS)
        # looked up on operators.merge per call, so a wrapper installed on
        # the module after import (perfbench's tracer) is the one that runs
        from securities_pricing_data_pipeline_spark.operators.merge import insert_if_absent

        insert_if_absent(spark, reject_rows, wh.reject, keys=SILVER_KEYS)

    writer = stream.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def join_events_quotes_stream(
    events: DataFrame,
    quotes: DataFrame,
    max_delay_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with a time-range condition: each event
    pairs with quotes of its symbol from the trailing ``max_delay_minutes``
    window (``quote_time ∈ [event_time − delay, event_time]``).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can prove when buffered rows are no longer
    joinable and evict them — the ONLY stream-stream join formulation
    whose state doesn't grow without bound (an unconstrained condition
    buffers both streams forever). State ≈ one watermark horizon of each
    side, independent of total stream length. Works on batch frames too
    (same plan, minus watermarks/eviction).
    """
    e = (
        events.withWatermark("event_time", watermark) if events.isStreaming else events
    ).alias("e")
    q = (
        quotes.withWatermark("quote_time", watermark) if quotes.isStreaming else quotes
    ).alias("q")
    cond = F.expr(
        "e.symbol = q.symbol"
        f" AND q.quote_time >= e.event_time - INTERVAL {int(max_delay_minutes)} MINUTES"
        " AND q.quote_time <= e.event_time"
    )
    return e.join(q, cond).select(
        "e.event_id", "e.symbol", "e.event_time", "q.quote_time", "q.price"
    )


def dedup_event_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """In-stream exact dedup: keep the first occurrence of each key within
    the watermark horizon (`dropDuplicatesWithinWatermark`) — the streaming
    twin of the batch `dedup_exact` operator.

    Unlike plain `dropDuplicates` on a stream (state grows forever), the
    watermarked variant evicts key state once the watermark passes it, so
    state size is bounded by keys-per-horizon — the only formulation that
    survives an unbounded 100 TB/day feed. Redeliveries inside the horizon
    (at-least-once sources, retried micro-batches) collapse; replays older
    than the watermark are already beyond the sink's reprocessing window.
    Works on batch frames too (falls back to plain dropDuplicates).
    """
    keys = keys or ["event_id"]
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return events.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(keys)


def windowed_event_stats_stream(
    events: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window aggregate over an event stream
    (late rows beyond the watermark are dropped). ``events`` must carry an
    ``event_time`` timestamp column; works on batch frames too (same plan,
    minus the watermark)."""
    if events.isStreaming:
        events = events.withWatermark("event_time", watermark)
    return events.groupBy(
        F.window("event_time", window).alias("w"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
    ).select(
        F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
        "event_type",
        "n_events",
        "total_value",
    )


def sliding_event_stats_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    """Watermarked SLIDING-window aggregate: every event lands in
    window/slide overlapping windows (4 for 1h/15m), so each emitted row
    is a trailing-hour view refreshed every slide. The streaming twin of a
    rolling RANGE window — state per (window, event_type) key is bounded
    by the watermark horizon x overlap factor, which is the scalable way
    to keep "last hour" stats fresh on an unbounded feed (a batch RANGE
    re-scan at that cadence would reread the hot partition every slide).
    ``events`` must carry ``event_time``; works on batch frames too."""
    if events.isStreaming:
        events = events.withWatermark("event_time", watermark)
    return events.groupBy(
        F.window("event_time", window, slide).alias("w"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
    ).select(
        F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
        "event_type",
        "n_events",
        "total_value",
    )
