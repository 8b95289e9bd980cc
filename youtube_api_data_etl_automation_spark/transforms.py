"""The reference's transform block as one declarative Spark plan.

``enrich_videos`` reimplements fetch_youtube_data.py:171-190 (11 → 19 cols)
entirely with Column expressions — Catalyst sees a single Project, so the
whole block is one whole-stage-codegen span with zero Python in the loop.

Deliberate semantic policies vs pandas (SURVEY.md §2.6):
- ÷0 ratios → NULL (pandas: inf/NaN)            [items 1]
- NULL views → NULL, not crash                   [item 4]
- NULL/malformed duration → NULL, not crash      [item 3]
- publish_year is a proper nullable int          [item 5]
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import (
    day_name,
    iso8601_duration_seconds,
    null_safe_length,
    null_safe_size,
    safe_ratio,
    time_of_day,
    to_long_or_zero,
    ts_parse_utc,
)


def enrich_videos(videos_raw: DataFrame) -> DataFrame:
    """11-column videos_raw (sources/youtube_api.py::VIDEOS_SCHEMA) →
    19-column video_stats, in the reference write's column order."""
    ts = ts_parse_utc("publishedAt")
    # DELIBERATELY strict (T1): the reference's astype at :171 throws on a
    # malformed count, and so does this cast under the session's ANSI
    # mode — same totality contract on purpose, unlike the siblings'
    # try_cast NULL→0 policy (T2). The API schema guarantees digit
    # strings; a violation should stop the load, not write a zero.
    views = F.col("views").cast("long")
    return videos_raw.select(
        "videoId",
        "channel",
        "video_title",
        "description",
        "tags",
        ts.alias("publishedAt"),
        to_long_or_zero("likes").alias("likes"),
        views.alias("views"),
        to_long_or_zero("comments").alias("comments"),
        to_long_or_zero("favourites").alias("favourites"),
        "duration",
        null_safe_size("tags").alias("tag_count"),
        null_safe_length("description").alias("description_length"),
        F.year(ts).alias("publish_year"),
        time_of_day(ts).alias("publish_time"),
        day_name(ts).alias("published_dayofweek"),
        iso8601_duration_seconds("duration").alias("duration_sec"),
        safe_ratio(to_long_or_zero("comments"), views, 1000.0).alias("comment_view_ratio"),
        safe_ratio(to_long_or_zero("likes"), views, 1000.0).alias("like_view_ratio"),
    )
