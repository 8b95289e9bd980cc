"""Golden-pipeline test: the reference's full transform block
(fetch_youtube_data.py:171-190) over a fixture covering every §2.6 edge case
(FIXTURES.md §3): NULL duration, views=0, NULL views, missing tags, empty
description, unparseable timestamp.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import types as T

from youtube_api_data_etl_automation_spark.sources.youtube_api import VIDEOS_SCHEMA
from youtube_api_data_etl_automation_spark.transforms import enrich_videos

# video_stats — the 19-column enriched output, column order as materialized
# by the reference write (fetch_youtube_data.py:194; FIXTURES.md §5).
VIDEO_STATS = T.StructType(
    [
        T.StructField("videoId", T.StringType(), False),
        T.StructField("channel", T.StringType(), True),
        T.StructField("video_title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("publishedAt", T.TimestampType(), True),
        T.StructField("likes", T.LongType(), True),
        T.StructField("views", T.LongType(), True),  # NULL policy per SURVEY §2.6 item 4
        T.StructField("comments", T.LongType(), True),
        T.StructField("favourites", T.LongType(), True),
        T.StructField("duration", T.StringType(), True),
        T.StructField("tag_count", T.IntegerType(), False),
        T.StructField("description_length", T.IntegerType(), False),
        T.StructField("publish_year", T.IntegerType(), True),
        T.StructField("publish_time", T.StringType(), True),
        T.StructField("published_dayofweek", T.StringType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("comment_view_ratio", T.DoubleType(), True),
        T.StructField("like_view_ratio", T.DoubleType(), True),
    ]
)


def _video(videoId, **kw):
    base = dict(
        videoId=videoId,
        channel="chan",
        video_title="title",
        description="desc!",
        tags=["a", "b"],
        publishedAt="2024-03-05T07:08:09Z",
        likes="10",
        views="100",
        comments="5",
        favourites="0",
        duration="PT1M40S",
    )
    base.update(kw)
    return tuple(base[f.name] for f in VIDEOS_SCHEMA.fields)


@pytest.fixture(scope="module")
def enriched(spark):
    rows = [
        _video("v_normal"),
        _video("v_null_duration", duration=None),
        _video("v_zero_views", views="0"),
        _video("v_null_views", views=None),
        _video("v_no_tags", tags=None),
        _video("v_empty_tags", tags=[]),
        _video("v_empty_desc", description=""),
        _video("v_null_desc", description=None),
        _video("v_bad_ts", publishedAt="not-a-timestamp"),
        _video("v_null_likes", likes=None, comments=None, favourites=None),
    ]
    df = enrich_videos(spark.createDataFrame(rows, VIDEOS_SCHEMA))
    return {r.videoId: r for r in df.collect()}, df


def test_output_schema(enriched):
    _, df = enriched
    assert [f.name for f in df.schema.fields] == [f.name for f in VIDEO_STATS.fields]
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in VIDEO_STATS.fields}
    assert got == want


def test_normal_row(enriched):
    r = enriched[0]["v_normal"]
    assert r.likes == 10 and r.views == 100 and r.comments == 5
    assert r.tag_count == 2 and r.description_length == 5
    assert r.publishedAt == datetime.datetime(2024, 3, 5, 7, 8, 9)
    assert r.publish_year == 2024
    assert r.publish_time == "07:08:09"
    assert r.published_dayofweek == "Tuesday"
    assert r.duration_sec == 100.0
    assert r.comment_view_ratio == 50.0  # 5/100*1000
    assert r.like_view_ratio == 100.0


def test_null_duration_policy(enriched):
    # reference crashes (fetch_youtube_data.py:184-186); engine → NULL
    assert enriched[0]["v_null_duration"].duration_sec is None


def test_zero_views_ratio_policy(enriched):
    # pandas → inf (suppressed warning); engine policy → NULL (§2.6 item 1)
    r = enriched[0]["v_zero_views"]
    assert r.comment_view_ratio is None and r.like_view_ratio is None


def test_null_views_policy(enriched):
    # reference crashes on astype(int) (:171); engine → NULL views + ratios
    r = enriched[0]["v_null_views"]
    assert r.views is None
    assert r.comment_view_ratio is None and r.like_view_ratio is None


def test_tag_and_description_lengths(enriched):
    rows, _ = enriched
    assert rows["v_no_tags"].tag_count == 0
    assert rows["v_empty_tags"].tag_count == 0
    assert rows["v_empty_desc"].description_length == 0
    assert rows["v_null_desc"].description_length == 0


def test_coerce_timestamp(enriched):
    # pd.to_datetime(errors='coerce') parity: NaT → NULL, derived parts NULL
    r = enriched[0]["v_bad_ts"]
    assert r.publishedAt is None and r.publish_year is None
    assert r.publish_time is None and r.published_dayofweek is None


def test_fillna_zero_counters(enriched):
    # likes/comments/favourites: fillna(0) parity (:172-174)
    r = enriched[0]["v_null_likes"]
    assert r.likes == 0 and r.comments == 0 and r.favourites == 0
    assert r.comment_view_ratio == 0.0  # 0/100*1000
