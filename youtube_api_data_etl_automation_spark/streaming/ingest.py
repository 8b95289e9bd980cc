"""Structured Streaming restatement of the reference's scheduled batch loop.

The reference's "stream" is a daily cron re-run that processes only the delta
(daily_etl.yml:5-7 + the incremental gate at fetch_youtube_data.py:152-168).
The engine's equivalent is ``trigger(availableNow=True)``: each invocation
drains whatever new files/rows exist, exactly once per record via
checkpointing — the same cadence semantics, but state is engine-managed
(checkpoint + dropDuplicates watermark) instead of a hand-probed sink.

Scale notes: the watermark bounds per-window state in update/append
output modes (see :func:`tumbling_event_counts`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos (parquet TIMESTAMP(NANOS) via nanosAsLong)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (nanos ts → micros).
    The file source requires a directory; pathGlobFilter selects the events
    file from the shared testdata dir."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    # Unit guard: depending on the Spark build, a LongType user schema over
    # parquet TIMESTAMP(NANOS) delivers raw nanos (legacy conf honored) or
    # micros (4.1 truncating read). 1e17 cleanly separates the two for any
    # date between 1973 and ~5100, so the conversion survives upgrades.
    micros = F.when(
        F.col("ts") > F.lit(100_000_000_000_000_000), F.expr("ts div 1000")
    ).otherwise(F.col("ts"))
    return raw.withColumn("ts", F.timestamp_micros(micros))


def tumbling_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours",
                          slide: str | None = None) -> DataFrame:
    """Watermarked windowed aggregation. ``slide`` < ``window`` gives
    overlapping sliding windows — each event lands in window/slide
    windows, multiplying state accordingly.

    The watermark's guarantees are OUTPUT-MODE dependent (r6 review):
    in ``update``/``append`` mode late rows beyond the horizon are
    dropped and window state is evicted once finalized — the bounded
    long-running deployment shape. The demo runner
    :func:`run_available_now` uses ``complete`` mode (a memory sink
    cannot replay updates), where Spark RETAINS all window state and
    still aggregates late rows — acceptable for its one-shot
    drain-and-stop use, wrong for an always-on query; pair this
    aggregation with update mode and a real sink in production."""
    win = (
        F.window("ts", window, slide) if slide is not None else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_available_now(stream_df: DataFrame, checkpoint_dir: str, table_name: str) -> None:
    """Drain all currently-available input into an in-memory table, then
    stop — the engine-managed equivalent of one daily batch run."""
    q = (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("complete")
        .format("memory")
        .queryName(table_name)
        .start()
    )
    q.awaitTermination()
