"""Structured Streaming operators over the ``events`` table.

North-star extension (SURVEY.md §2.9): the reference is batch-only, so this
module adds the streaming surface a production pipeline needs -- watermarked
tumbling/sliding/session windows, stateful dedup -- all with Spark built-ins
(no custom state stores).  Each transform is written against a *schema*, not
a source, so the same code serves a file/Kafka stream in production and a
memory/file stream in tests; the batch analogs (same expressions on a static
DataFrame) power the SQL-oracle correctness checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import TESTDATA_SCHEMAS


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based stream over a directory of events-table parquet files.

    In production this is the Kafka/file drop-zone reader.  readStream
    requires a schema: the events table's declared one, so opening the
    stream runs no inference job over the directory.
    """
    return (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts + value sum per event_type.

    Late rows beyond the watermark are dropped; state for a window is
    evicted once ``max(event time) - watermark`` passes its end -- bounded
    state at any throughput.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def tumbling_counts_batch(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Batch analog of :func:`tumbling_counts_stream` (same expressions).

    Used by the correctness registry: windowing semantics are identical in
    batch, and DuckDB's date_trunc reproduces the hour-aligned buckets.
    """
    return (
        events.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )
    )


def sliding_value_stats_stream(
    events: DataFrame,
    window: str = "30 minutes",
    slide: str = "10 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Sliding-window avg/max of ``value`` per event_type, watermarked."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.avg("value").alias("avg_value"), F.max("value").alias("max_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "avg_value",
            "max_value",
        )
    )


def sessionized_counts_stream(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Session windows per user: events within ``gap`` merge into a session.

    ``session_window`` is Spark's built-in dynamic-gap window -- state is one
    open session per (user, key), merged/evicted by watermark.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful streaming dedup on event_id within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only for the
    watermark window -- the streaming analog of exact dedup that stays
    bounded-state forever (vs ``dropDuplicates`` whose state grows without
    bound on an unbounded stream).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enrich_stream(
    events: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    STATIC dim table (re-read per trigger if the source supports it).

    Stream-static joins are stateless -- no watermark needed, no state
    store: the static side is planned like any batch join, so a small dim
    broadcasts (Catalyst's size estimate; the stream side is never
    shuffled then).  Left join keeps stream rows with no dim match --
    enrichment must not drop events.
    """
    return events.join(dim, on=key, how="left")


def matched_events_stream(
    events: DataFrame,
    type_a: str = "click",
    type_b: str = "purchase",
    key: str = "user_id",
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: pair each ``type_a`` event with the
    same user's ``type_b`` events that follow within ``max_delay``
    (click-to-purchase attribution).

    Both sides carry a watermark and the join predicate bounds event time
    on BOTH ends, so Spark can evict a-side state once no future b-row can
    land in its window -- the textbook bounded-state stream-stream join.
    ``watermark`` must be >= ``max_delay``: state evicted at the watermark
    horizon must never have been able to produce a future match.

    Returns (user_id, a_event_id, a_ts, b_event_id, b_ts) -- the batch
    analog is :func:`matched_events_batch`, equality-gated in tests.
    """
    a = (
        events.filter(F.col("event_type") == type_a)
        .select(
            F.col(key).alias("a_key"),
            F.col("event_id").alias("a_event_id"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", watermark)
    )
    b = (
        events.filter(F.col("event_type") == type_b)
        .select(
            F.col(key).alias("b_key"),
            F.col("event_id").alias("b_event_id"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", watermark)
    )
    return a.join(
        b,
        (F.col("a_key") == F.col("b_key"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {max_delay}")),
        "inner",
    ).select(
        F.col("a_key").alias(key),
        "a_event_id",
        "a_ts",
        "b_event_id",
        "b_ts",
    )


def matched_events_batch(
    events: DataFrame,
    type_a: str = "click",
    type_b: str = "purchase",
    key: str = "user_id",
    max_delay: str = "30 minutes",
) -> DataFrame:
    """Batch analog of :func:`matched_events_stream` (same expressions,
    no watermark) -- powers the stream/batch agreement test and is itself
    a plain interval self-join usable on the static table."""
    a = events.filter(F.col("event_type") == type_a).select(
        F.col(key).alias("a_key"),
        F.col("event_id").alias("a_event_id"),
        F.col("ts").alias("a_ts"),
    )
    b = events.filter(F.col("event_type") == type_b).select(
        F.col(key).alias("b_key"),
        F.col("event_id").alias("b_event_id"),
        F.col("ts").alias("b_ts"),
    )
    return a.join(
        b,
        (F.col("a_key") == F.col("b_key"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {max_delay}")),
        "inner",
    ).select(
        F.col("a_key").alias(key),
        "a_event_id",
        "a_ts",
        "b_event_id",
        "b_ts",
    )


def run_to_memory_sink(
    stream_df: DataFrame, query_name: str, mode: str = "append"
) -> "object":
    """Test/debug helper: drain a stream into an in-memory table.

    Returns the StreamingQuery; caller awaits termination/processes all
    available then reads ``spark.table(query_name)``.
    """
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
