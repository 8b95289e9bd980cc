"""Incremental-semantics tests (SURVEY.md §5 item 3): delta-only append,
idempotent re-run, dimension overwrite."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.incremental import (
    append_delta,
    overwrite_dim,
    select_new,
)


def _orders(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("videoId"), (F.col("id") * 2).alias("views"))


def _sink_state(spark, sink, key):
    """(rows, distinct keys counting NULL as one, .parquet files) of a sink."""
    df = spark.read.parquet(sink)
    files = [f for _, _, fs in os.walk(sink) for f in fs if f.endswith(".parquet")]
    return df.count(), df.select(key).distinct().count(), len(files)


def _assert_zero_row_rerun(before, after):
    """A zero-row append leaves rows and keys as they were and, because
    the write still runs, adds at most one (schema-only) part file."""
    assert after[:2] == before[:2]
    assert before[2] <= after[2] <= before[2] + 1


def test_select_new_is_anti_join(spark):
    cands = _orders(spark, 0, 100)
    existing = _orders(spark, 0, 60)
    new = select_new(cands, existing, "videoId")
    got = sorted(r.videoId for r in new.collect())
    assert got == list(range(60, 100))


def test_select_new_dedups_existing_side(spark):
    cands = _orders(spark, 0, 10)
    existing = _orders(spark, 5, 8).unionAll(_orders(spark, 5, 8))
    assert sorted(r.videoId for r in select_new(cands, existing, "videoId").collect()) == [
        0, 1, 2, 3, 4, 8, 9,
    ]


def test_append_delta_idempotent(spark, tmp_path):
    sink = str(tmp_path / "sink")
    # The return value is the rows ACTUALLY written (what run_etl reports
    # as 'loaded') — on overlap/retry it is the post-filter delta, not the
    # incoming batch size.
    assert append_delta(_orders(spark, 0, 500), sink, "videoId") == 500
    assert spark.read.parquet(sink).count() == 500
    # overlapping second batch: only the delta lands
    assert append_delta(_orders(spark, 0, 800), sink, "videoId") == 300
    assert spark.read.parquet(sink).count() == 800
    # exact re-run: no-op (idempotent under at-least-once retries)
    before = _sink_state(spark, sink, "videoId")
    assert before[:2] == (800, 800)
    assert append_delta(_orders(spark, 0, 800), sink, "videoId") == 0
    _assert_zero_row_rerun(before, _sink_state(spark, sink, "videoId"))


def test_overwrite_dim(spark, tmp_path):
    sink = str(tmp_path / "dim")
    overwrite_dim(_orders(spark, 0, 10), sink)
    overwrite_dim(_orders(spark, 100, 105), sink)
    got = sorted(r.videoId for r in spark.read.parquet(sink).collect())
    assert got == list(range(100, 105))


def test_sink_exists_probe(spark, tmp_path):
    """S5: the sink probe is a real FS existence check — false before any
    write, true after, and never confuses an empty dir for a table."""
    from youtube_api_data_etl_automation_spark.operators.incremental import sink_exists

    sink = str(tmp_path / "probe_sink")
    assert not sink_exists(spark, sink)
    append_delta(_orders(spark, 0, 5), sink, "videoId")
    assert sink_exists(spark, sink)


def test_jdbc_append_delta_idempotent(spark, tmp_path):
    """S6 over JDBC (the reference's actual sink is a database via to_sql
    append, fetch_youtube_data.py:194): same idempotent-append property as
    the parquet path, against embedded Derby."""
    from youtube_api_data_etl_automation_spark.operators.jdbc import (
        append_delta_jdbc,
        derby_url,
        jdbc_table_exists,
        read_dim_jdbc,
    )

    url = derby_url(str(tmp_path / "derby_db"))
    assert not jdbc_table_exists(spark, url, "video_stats")
    assert append_delta_jdbc(_orders(spark, 0, 100), url, "video_stats", "videoId") == 100
    assert jdbc_table_exists(spark, url, "video_stats")
    # overlapping second batch: only the delta lands
    assert append_delta_jdbc(_orders(spark, 0, 150), url, "video_stats", "videoId") == 50
    # exact re-run: no-op
    assert append_delta_jdbc(_orders(spark, 0, 150), url, "video_stats", "videoId") == 0
    back = read_dim_jdbc(spark, url, "video_stats")
    assert back.count() == 150
    assert back.groupBy("videoId").count().filter("count > 1").count() == 0


def test_jdbc_overwrite_dim(spark, tmp_path):
    """S7 over JDBC (to_sql replace, :198): full-replace semantics."""
    from youtube_api_data_etl_automation_spark.operators.jdbc import (
        derby_url,
        overwrite_dim_jdbc,
        read_dim_jdbc,
    )

    url = derby_url(str(tmp_path / "derby_dim"))
    overwrite_dim_jdbc(_orders(spark, 0, 10), url, "channel_stats")
    overwrite_dim_jdbc(_orders(spark, 100, 105), url, "channel_stats")
    got = sorted(r.videoId for r in read_dim_jdbc(spark, url, "channel_stats").collect())
    assert got == list(range(100, 105))


def test_null_key_append_stays_idempotent(spark, tmp_path):
    """r6: the anti-join key match is NULL-safe, so a NULL-key row appends
    once and a retry of the same delta appends nothing — previously the
    NULL = NULL comparison never matched and every retry duplicated it."""
    from youtube_api_data_etl_automation_spark.operators.incremental import (
        append_delta,
    )

    sink = str(tmp_path / "null_sink")
    delta = spark.createDataFrame([("k1", 1), (None, 2)], "key string, v int")
    assert append_delta(delta, sink, "key") == 2
    before = _sink_state(spark, sink, "key")
    assert before[:2] == (2, 2)
    # retry of the identical delta: both keys (incl. NULL) already present
    assert append_delta(delta, sink, "key") == 0
    _assert_zero_row_rerun(before, _sink_state(spark, sink, "key"))
