"""Incremental-load protocol — the reference pipeline's core relational op.

The reference hand-rolls a broadcast hash anti-join: build a Python set of
existing keys (fetch_youtube_data.py:158) and probe it in a list-comp (:160),
then short-circuits the whole pipeline on an empty delta (:164-165).

Spark-first restatement (SURVEY.md §2.3 J1, §2.2 P5, §7.1 item 5):
- ``select_new`` is a LEFT ANTI join on the key. The existing-keys side is a
  key-only projection (the reference's manual ``SELECT videoid`` pushdown at
  :155 — Catalyst's ColumnPruning does it from ``.select(key)``). When the
  existing-keys side is small we broadcast it, which is exactly the
  reference's set-probe strategy distributed: no shuffle of the candidate
  side at all. At 100 TB the candidate side never moves — only keys do.
- ``append_delta`` re-checks keys *inside* the write (anti-join against the
  sink at write time) so re-runs after partial failure stay idempotent —
  fixing the reference's non-transactional append (SURVEY.md §7.4 item 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def sink_exists(spark, sink_path: str) -> bool:
    """Sink-exists probe (S5) as a REAL existence check — the Hadoop
    FileSystem the session would read through — instead of try/except
    around the read, which would silently treat corrupt files or
    permission errors as 'first run' and overwrite-by-append. (For
    catalog-managed tables the probe is ``spark.catalog.tableExists``;
    the engine's own state is a path-addressed parquet sink.)"""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(sink_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(path))


def select_new(candidates: DataFrame, existing: DataFrame, key: str,
               broadcast_existing: bool = True) -> DataFrame:
    """Rows of ``candidates`` whose ``key`` is absent from ``existing``.

    ``existing`` is pruned to the key column before the join so only keys
    ever cross the wire; with ``broadcast_existing`` Catalyst plans a
    BroadcastHashJoin(LeftAnti) — the shuffle-free plan. No dedup of the
    keys side: anti-join semantics are unaffected by build-side duplicates
    (the hash table dedups implicitly), and an explicit dropDuplicates
    would cost a full shuffle of the keys.

    The key comparison is NULL-SAFE (r6): with a plain equi-join a
    NULL-key row can never match, so it would pass the "already in sink"
    filter on EVERY retry and duplicate forever — the exact idempotency
    break this protocol exists to prevent. eqNullSafe is still an
    equi-condition, so the broadcast-hash plan is unchanged.
    """
    keys = existing.select(F.col(key).alias("__existing_key"))
    if broadcast_existing:
        keys = F.broadcast(keys)
    return candidates.join(
        keys, candidates[key].eqNullSafe(F.col("__existing_key")), "left_anti"
    )


def append_delta(delta: DataFrame, sink_path: str, key: str) -> int:
    """Idempotent append: re-filter against current sink keys, then append.
    Returns the number of rows actually written — on a retry after partial
    failure this can be less than the incoming delta, and callers must report
    THIS count, not the pre-filter one.

    One write job: the count is an Observation on the append write itself
    (as in ``versioned.commit_manifest``), so the delta's source, transform
    and the anti-join run once, inside that job. The write never anti-joins
    against its own output, for two reasons: the sink-key side is
    ``F.broadcast``, so it is fully built before any write task starts, and
    the file list of ``spark.read.parquet(sink_path)`` is fixed when that
    DataFrame is created.

    An append whose rows have all landed already still runs the write, and
    Spark commits a schema-only part file for it (one file per zero-row
    append; the same write creates the sink if it did not exist). Callers
    that can know the delta is empty beforehand skip the call, as
    ``run_etl``'s empty-delta gate does.

    Parquet-dir sink for the engine's own state; `jdbc.append_delta_jdbc`
    is the same protocol over a database sink.
    """
    spark = delta.sparkSession
    if sink_exists(spark, sink_path):
        existing = spark.read.parquet(sink_path)
        delta = select_new(delta, existing, key)
    obs = Observation()
    delta.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "append").parquet(sink_path)
    return obs.get["n"]


def overwrite_dim(dim: DataFrame, sink_path: str) -> None:
    """Full-replace dimension write (reference's channel_stats at :198)."""
    dim.write.mode("overwrite").parquet(sink_path)

