"""Cross-micro-batch state continuity for the applyInPandasWithState
sessionizer: two files drained one-per-batch must yield the same final
per-session rollup as the batch operator over the union."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.sessionize import session_stats
from youtube_api_data_etl_automation_spark.streaming.stateful import (
    stateful_sessionize,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def split_events_dir(spark):
    """events split into two parquet files on a time boundary, so sessions
    straddle the batch boundary for some users."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from youtube_api_data_etl_automation_spark.sources.tables import load_table

    events = load_table(spark, SF_DIR, "events")
    cutoff = events.agg(F.expr("percentile(unix_micros(ts), 0.5)")).first()[0]
    out = tempfile.mkdtemp(prefix="split_events_")
    early = events.filter(F.unix_micros("ts") <= cutoff)
    late = events.filter(F.unix_micros("ts") > cutoff)
    early.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "f1"))
    late.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "f2"))
    # One flat dir of two files, named so f1 sorts (and is listed) first.
    flat = tempfile.mkdtemp(prefix="flat_events_")
    for sub, name in (("f1", "a_events.parquet"), ("f2", "b_events.parquet")):
        src = [
            f
            for f in os.listdir(os.path.join(out, sub))
            if f.endswith(".parquet")
        ][0]
        os.rename(os.path.join(out, sub, src), os.path.join(flat, name))
    return flat


def test_state_survives_micro_batches(spark, split_events_dir):
    from youtube_api_data_etl_automation_spark.sources.tables import load_table

    name = f"stateful_mb_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)  # force one file per micro-batch
        .parquet(split_events_dir)
    )
    q = (
        stateful_sessionize(stream, gap_minutes=30)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2, "expected at least two micro-batches"

    # Update-mode memory sink appends every emission; the LAST emission per
    # (user, session) is the final rollup. Emissions arrive in batch order,
    # and n_events grows monotonically within a session — take the max.
    emitted = spark.table(name)
    final = (
        emitted.groupBy("user_id", "session_idx")
        .agg(
            F.max_by(F.struct("n_events", "session_start_us", "duration_sec", "sum_value"), "n_events").alias("s")
        )
        .select("user_id", "session_idx", "s.*")
    )

    expected = session_stats(load_table(spark, SF_DIR, "events"), gap_minutes=30)
    diff = final.exceptAll(expected).union(expected.exceptAll(final))
    assert diff.count() == 0, diff.limit(10).collect()


def test_key_group_spanning_many_arrow_chunks(spark):
    """A key group larger than arrow.maxRecordsPerBatch arrives as MULTIPLE
    unordered chunks; the fold must concat-then-sort once, not sort per
    chunk, or session boundaries silently corrupt (ADVICE r1)."""
    from youtube_api_data_etl_automation_spark.sources.tables import load_table

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        name = f"stateful_chunks_{uuid.uuid4().hex[:8]}"
        events = load_table(spark, SF_DIR, "events")
        src = tempfile.mkdtemp(prefix="chunk_events_")
        # Reverse time order inside the single file so chunk order ≠ event
        # order — per-chunk sorting would fold sessions backwards.
        events.orderBy(F.desc("ts")).coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            stateful_sessionize(stream, gap_minutes=30)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.awaitTermination()
        emitted = spark.table(name)
        final = (
            emitted.groupBy("user_id", "session_idx")
            .agg(
                F.max_by(
                    F.struct("n_events", "session_start_us", "duration_sec", "sum_value"),
                    "n_events",
                ).alias("s")
            )
            .select("user_id", "session_idx", "s.*")
        )
        expected = session_stats(events, gap_minutes=30)
        diff = final.exceptAll(expected).union(expected.exceptAll(final))
        assert diff.count() == 0, diff.limit(10).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_stream_and_batch_events_agree_on_timestamps(spark):
    """The streaming events reader must yield the SAME timestamps as the
    batch loader regardless of what unit the runtime delivers under the
    explicit long schema (nanos on old Sparks, micros on 4.1+) — pins the
    magnitude-guard conversion in streaming/ingest.py."""
    import tempfile

    from youtube_api_data_etl_automation_spark.sources.tables import load_table
    from youtube_api_data_etl_automation_spark.streaming.ingest import (
        read_events_stream,
    )

    name = f"ts_agree_{uuid.uuid4().hex[:8]}"
    q = (
        read_events_stream(spark, SF_DIR)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    streamed = spark.table(name).select("event_id", F.unix_micros("ts").alias("us"))
    batch = load_table(spark, SF_DIR, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count() == 0


def test_session_window_boundary_parity_with_batch(spark):
    """Pins the gap-boundary contract between the JVM-native session_window
    aggregate and the batch `> gap` rule: an event EXACTLY gap after its
    predecessor merges into the same session in both; gap + 1 µs splits in
    both. If a Spark upgrade changes session-merge boundary semantics, this
    is the test that catches it."""
    from youtube_api_data_etl_automation_spark.streaming.stateful import (
        session_window_stats,
    )

    rows = [
        # user 1: e2 exactly 30 min after e1 (merge), e3 gap+1us after e2
        # (split), e4 just under gap after e3 (merge)
        (1, 1, "2026-01-01 00:00:00.000000", 1.0),
        (1, 2, "2026-01-01 00:30:00.000000", 2.0),
        (1, 3, "2026-01-01 01:00:00.000001", 4.0),
        (1, 4, "2026-01-01 01:30:00.000000", 8.0),
        # user 2: single event, NULL value
        (2, 5, "2026-01-01 00:00:00.000000", None),
    ]
    events = (
        spark.createDataFrame(
            rows, "user_id long, event_id long, ts_s string, value double"
        )
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    batch = session_stats(events, gap_minutes=30).drop("session_idx")
    native = session_window_stats(events, gap_minutes=30)
    diff = batch.exceptAll(native).union(native.exceptAll(batch))
    assert diff.count() == 0, diff.collect()
    # and the shape is what the boundary rules say: user 1 has sessions of
    # 2 and 2 events, user 2 has one 1-event session with NULL sum
    got = {
        (r.user_id, r.session_start_us): (r.n_events, r.sum_value)
        for r in native.collect()
    }
    assert len(got) == 3
    u1 = sorted(v[0] for (u, _), v in got.items() if u == 1)
    assert u1 == [2, 2]
    (null_sum,) = [v[1] for (u, _), v in got.items() if u == 2]
    assert null_sum is None


def test_session_window_drain_equals_batch(spark):
    """availableNow drain of the native session_window aggregate over the
    events table == the batch rollup, including the re-derived ordinal
    session_idx (the registry row's third section in miniature)."""
    from pyspark.sql.window import Window

    from youtube_api_data_etl_automation_spark.sources.tables import load_table
    from youtube_api_data_etl_automation_spark.streaming.stateful import (
        run_session_window_sessions,
    )

    name = f"sw_drain_{uuid.uuid4().hex[:8]}"
    run_session_window_sessions(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ckpt_"), name
    ).awaitTermination()
    idx_w = Window.partitionBy("user_id").orderBy("session_start_us")
    native = (
        spark.table(name)
        .withColumn("session_idx", F.row_number().over(idx_w).cast("int"))
        .select(
            "user_id", "session_idx", "n_events", "session_start_us",
            "duration_sec", "sum_value",
        )
    )
    expected = session_stats(load_table(spark, SF_DIR, "events"), gap_minutes=30)
    diff = native.exceptAll(expected).union(expected.exceptAll(native))
    assert diff.count() == 0, diff.limit(10).collect()
