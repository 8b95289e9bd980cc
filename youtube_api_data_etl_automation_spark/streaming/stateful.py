"""Custom stateful streaming operator: sessionization with explicit
per-key state via ``applyInPandasWithState``.

This is the engine's "operator Spark lacks" escape hatch (north-star brief:
``applyInPandasWithState`` for custom stateful operators): gap-based session
assembly where the session boundary depends on arbitrary per-key history —
beyond watermarked window aggs. State per user is O(1) (last event time +
open-session aggregates), so 1000 executors hold 1e9 users comfortably;
the shuffle is the single groupBy(user_id) the state operator requires.

Determinism contract (what makes this oracle-checkable): within a
micro-batch each user's rows are sorted by (ts, event_id) before folding,
monetary sums accumulate in integer micro-units (the batch op's
DECIMAL(18,6) grid, rounded HALF_UP like the decimal cast — r6: the old
integer-cents fold used Python round(), whose half-EVEN ties diverged
from the batch aggregate, and crashed on NULL values the batch SUM
skips), and each batch emits the current
aggregates of every session it touched. Draining a source in ONE
availableNow batch therefore reproduces the batch ``sessionize`` result
exactly; across multiple batches, the LAST emission per (user, session) is
the correct rollup (update-mode semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# (last_ts_us, session_idx, n_events, start_us, n_vals, sum_micros)
_STATE_SCHEMA = (
    "last_ts_us long, session_idx int, n_events long, start_us long, "
    "n_vals long, sum_micros long"
)
_OUTPUT_SCHEMA = (
    "user_id long, session_idx int, n_events long, session_start_us long, "
    "duration_sec double, sum_value double"
)


def stateful_sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization over a streaming events DataFrame
    (columns: event_id, ts timestamp, user_id, value). Emits, per
    micro-batch, the updated rollup of every session the batch touched.

    ``fold`` is a fully self-contained closure: cloudpickle ships nested
    functions BY VALUE, while a module-level helper would be pickled by
    reference and crash any worker that can't import this package (the
    driver harness runs the engine from a path-inserted checkout the
    executors' Python workers don't have on sys.path)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    prepped = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )

    def fold(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            last_ts, sidx, n_ev, start_us, n_vals, micros = state.get
        else:
            last_ts, sidx, n_ev, start_us, n_vals, micros = None, 0, 0, 0, 0, 0
        # Concatenate ALL Arrow chunks before the single sort: a key group
        # larger than arrow.maxRecordsPerBatch arrives as multiple chunks in
        # no guaranteed order — per-chunk sorting would fold events out of
        # global (ts, event_id) order and silently corrupt session bounds.
        chunks = list(pdfs)
        pdf = (
            pd.concat(chunks, ignore_index=True).sort_values(["ts_us", "event_id"])
            if chunks
            else pd.DataFrame({"ts_us": [], "value": []})
        )
        import math
        from decimal import ROUND_HALF_UP, Decimal

        def to_micros(v):
            # None for NULL/NaN; else the value on the DECIMAL(18,6) grid,
            # HALF_UP — exactly Spark's double→decimal(18,6) cast (both
            # start from the shortest decimal representation).
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return None
            return int(
                Decimal(str(float(v))).scaleb(6).to_integral_value(ROUND_HALF_UP)
            )

        # session_idx -> (n_events, start_us, last_ts_us, n_vals, micros)
        touched = {}
        for ts_us, val in zip(pdf["ts_us"], pdf["value"]):
            ts_us = int(ts_us)
            if last_ts is None or ts_us - last_ts > gap_us:
                sidx += 1
                n_ev, start_us, n_vals, micros = 0, ts_us, 0, 0
            n_ev += 1
            mv = to_micros(val)
            if mv is not None:
                n_vals += 1
                micros += mv
            last_ts = ts_us
            touched[sidx] = (n_ev, start_us, last_ts, n_vals, micros)
        state.update((last_ts, sidx, n_ev, start_us, n_vals, micros))
        rows = [
            (
                int(user_id),
                s,
                n,
                st,
                (lt - st) / 1e6,
                # all values NULL -> NULL sum, like the batch aggregate
                m / 1e6 if nv > 0 else None,
            )
            for s, (n, st, lt, nv, m) in touched.items()
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "user_id", "session_idx", "n_events", "session_start_us",
                "duration_sec", "sum_value",
            ],
        )

    return prepped.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _drain_partitions(spark, sf_dir: str) -> int:
    """Scale-adaptive state-store partition count for a one-shot
    availableNow drain (r14, guide §2: derive partitioning from input
    size, never a constant tuned for one box). A streaming aggregation
    pins its state partitioning to ``spark.sql.shuffle.partitions`` at
    the first batch, and EVERY partition costs a state-store commit
    (delta file + CRC + rename in the checkpoint) per batch plus a
    memory-sink collect batch — at fixture scale that fixed cost dwarfs
    the data. Measured on the sf0.1 drain (min-of-2 per point):
    partitions 1/4/8/16/32 → 9.3/4.0/3.7/8.5/11.8 s for the Python
    stateful drain and 4.8/2.9/4.3/8.8/12.1 s for the JVM
    session_window drain — commit overhead grows with the partition
    count while parallelism saturates quickly, and ONE partition
    serializes the CPU-bound Python fold. ~256 KiB of compressed input
    per partition sits at the measured knee; the session setting stays
    the CAP so a real cluster's configuration governs at volume (a
    100 TB drain hits the cap immediately)."""
    import os

    try:
        size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(target, size // (256 << 10) + 1))


def _drain(spark, sf_dir, checkpoint_dir, table_name, sessions_builder,
           output_mode: str):
    """Shared availableNow drain into a memory sink; returns the started
    StreamingQuery. The caller awaits it — Spark runs concurrent
    streaming queries natively, so independent drains overlap their fixed
    stream-init/state-store setup instead of paying it serially. The
    state partitioning is whatever ``spark.sql.shuffle.partitions`` holds
    when the query plans its first batch (see :func:`_drain_partitions`
    for the input-sized value)."""
    from .ingest import read_events_stream

    stream = read_events_stream(spark, sf_dir)
    return (
        sessions_builder(stream).writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .format("memory")
        .queryName(table_name)
        .start()
    )


def run_stateful_sessions(spark, sf_dir: str, checkpoint_dir: str,
                          table_name: str, gap_minutes: int = 30):
    """Drain the events table through the stateful operator into a memory
    sink (update mode: one row per touched session per batch). Returns
    the started StreamingQuery (see :func:`_drain`)."""
    return _drain(
        spark, sf_dir, checkpoint_dir, table_name,
        lambda stream: stateful_sessionize(stream, gap_minutes),
        "update",
    )


def session_window_stats(events: DataFrame, gap_minutes: int = 30,
                         watermark: str | None = None) -> DataFrame:
    """Gap sessionization via Spark's JVM-native ``F.session_window`` — the
    100 TB SCALE PATH for plain gap-based session rollups.

    The r7 decade audit (SCALE.md) found :func:`stateful_sessionize`'s cost
    at 100× data is dominated by per-key Python/pandas framework overhead in
    ``applyInPandasWithState`` (one fold call + one pandas frame per user per
    batch — ~1M keys at 100×), not by the data volume. ``session_window`` is
    a hash aggregation with session merging that runs entirely inside
    whole-stage-codegen'd JVM aggregation: one shuffle on (user_id), zero
    Python in the hot path. Use the Python stateful op only for state logic
    a merging-session aggregate cannot express (timers, cross-session
    carry-over, custom eviction).

    Boundary parity with :func:`..operators.sessionize.sessionize` (verified
    empirically + pinned in tests/test_stateful_streaming.py): an event
    exactly ``gap`` after its predecessor MERGES into the same session in
    both engines (batch rule is ``> gap`` starts a new session; session
    windows merge on boundary touch), and ``gap`` + 1 µs splits in both.

    Works on batch AND streaming inputs (same plan either way). Output
    matches :func:`..operators.sessionize.session_stats` minus the ordinal
    ``session_idx`` (a streaming aggregate cannot number sessions; derive it
    downstream with row_number over session_start_us — sessions are ≪
    events, so that window is cheap). Streaming restriction: session windows
    support append/complete output modes only (no update); ``watermark`` is
    required for state eviction in an always-on append-mode query."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(
            "user_id",
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            (
                (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
                / F.lit(1_000_000.0)
            ).alias("duration_sec"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .drop("w")
    )


def run_session_window_sessions(spark, sf_dir: str, checkpoint_dir: str,
                                table_name: str,
                                gap_minutes: int = 30):
    """Drain the events table through the native session_window aggregate
    into a memory sink. Complete mode: session windows don't support update
    mode, and append would hold back every session newer than the watermark
    horizon — complete emits the full rollup, which is exactly what a
    one-shot availableNow drain wants (same trade as the tumbling demo
    runner in ingest.py; an always-on deployment would use append + a real
    sink and accept watermark-delayed finalization). Returns the started
    StreamingQuery (see :func:`_drain`)."""
    return _drain(
        spark, sf_dir, checkpoint_dir, table_name,
        lambda stream: session_window_stats(stream, gap_minutes),
        "complete",
    )
