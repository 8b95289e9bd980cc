"""The reference's daily ETL (fetch_youtube_data.py:143-200) as one
Spark-native pipeline over the custom DataSource.

Flow parity (SURVEY.md §3.1):
  E1 channel extract → E2 playlist scan → state read → J1 anti-join →
  P5 empty gate → E3 video extract → T transform block → L1 append →
  L2 dimension overwrite.

Differences by design: every stage is a lazy DataFrame plan except the
channel lookup, which runs on the driver as the reference's own P3 step
(:146-149): its rows are bounded by the channel count, and the one list
gives the playlist ids, the channel count and the dimension rows. The
eager points are (a) staging the delta *video* ids to parquet (the
reference collects these to the driver, :160; at backfill scale that list
is unbounded, so here it never leaves the executors), (b) the idempotent
append and (c) the dimension overwrite. The candidate and delta counts are
``observe()`` points on the staging write and the loaded count one on the
append, not jobs of their own; the empty-delta gate reads the delta count
after the staging write.
State lives in partitioned Parquet, not JDBC; the append re-checks keys at
write time so retries are idempotent (SURVEY.md §7.4 item 2).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .operators.incremental import append_delta, overwrite_dim, select_new, sink_exists
from .sources.youtube_api import CHANNELS_SCHEMA, YouTubeDataSource, lookup_channels
from .transforms import enrich_videos


def register_source(spark: SparkSession) -> None:
    """Register the custom DataSource, shipping its module BY VALUE.

    cloudpickle serializes importable classes by reference; the Python
    data-source worker processes of a bare session (the driver harness runs
    the engine from a path-inserted checkout) cannot import this package and
    would die with PYTHON_DATA_SOURCE_ERROR. register_pickle_by_value makes
    the whole source module travel inside the pickle instead."""
    from pyspark import cloudpickle

    from .sources import youtube_api as _src_mod

    cloudpickle.register_pickle_by_value(_src_mod)
    spark.dataSource.register(YouTubeDataSource)


def _read(spark: SparkSession, table: str, **options: str) -> DataFrame:
    reader = spark.read.format("youtube_api").option("table", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


# Ids per staged file ⇒ per source-task batch: 2 500 ids = 50 API calls per
# task, so a 1 M-id backfill plans ~400 parallel tasks instead of one giant
# option string. Tune down for more fan-out on slow transports.
IDS_PER_STAGED_FILE = 2_500


def _observed(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count observation point; the count is read from
    the returned Observation after whichever action runs the plan."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _stage_ids(new_ids: DataFrame, warehouse: str) -> str:
    """Write the delta-id relation to the warehouse staging area. Files are
    capped at IDS_PER_STAGED_FILE rows (each file is one source task's id
    batch), so the write needs no row count up front."""
    ids_dir = os.path.join(warehouse, "_staging", "new_video_ids")
    (new_ids.write.mode("overwrite")
     .option("maxRecordsPerFile", IDS_PER_STAGED_FILE).parquet(ids_dir))
    return ids_dir


def run_etl(spark: SparkSession, channel_ids: list[str], warehouse: str,
            transport: str = "fake", seed: int = 42) -> dict[str, int]:
    """One incremental ETL run. Returns per-stage row counts (the reference's
    log counters, fetch_youtube_data.py:72,:102,:137,:162)."""
    register_source(spark)
    opts = {"transport": transport, "seed": str(seed)}
    counts: dict[str, int] = {}

    # E1 — channel dimension (always rebuilt, :146/:198), looked up on the
    # driver. One fetch gives the playlist ids, the count and the rows the
    # L2 overwrite writes, so all three come from one API snapshot and no
    # Spark job runs for them. The rows become a local relation through
    # Arrow: a list of Python rows would be reserialized by a Python map
    # and cost a Python worker task at write time.
    rows = lookup_channels({"channel_ids": ",".join(channel_ids), **opts})
    channels = pa.Table.from_pylist(
        [dict(zip(CHANNELS_SCHEMA.names, row)) for row in rows],
        schema=to_arrow_schema(CHANNELS_SCHEMA))
    playlist_ids = channels.column("playlistId").to_pylist()
    counts["channels"] = channels.num_rows

    # E2 — playlist scan. The scan packs playlists into at most one
    # partition per task slot (see sources/youtube_api.py).
    items = _read(spark, "playlist_items", playlist_ids=",".join(playlist_ids),
                  slots=str(spark.sparkContext.defaultParallelism), **opts)
    candidate_ids, candidates_obs = _observed(
        items.select("videoId").distinct(), "candidate_ids")  # A1 (:103)

    # State read + J1 anti-join (key-only scan of the sink, :154-160).
    # S5 sink-exists probe is a real FS check, not try/except around the
    # read — a corrupt or unreadable sink must surface, not be treated as
    # first-run (which would re-append everything).
    video_sink = os.path.join(warehouse, "video_stats")
    if sink_exists(spark, video_sink):
        existing = spark.read.parquet(video_sink).select("videoId")
    else:
        existing = spark.createDataFrame([], "videoId string")
    new_ids, new_obs = _observed(
        select_new(candidate_ids, existing, "videoId"), "new_videos")

    # E3 staging — the delta ids are STAGED to parquet and the video source
    # reads them per (file, row-group) partition: unlike the reference's
    # driver-side id list (fetch_youtube_data.py:160), a million-id
    # backfill never materializes on the driver or in the plan. This write
    # is the one action over the playlist scan, so the scan runs once and
    # both counts below come from the same snapshot as the staged ids.
    ids_dir = _stage_ids(new_ids, warehouse)
    counts["candidate_ids"] = candidates_obs.get["rows"]
    counts["new_videos"] = new_obs.get["rows"]

    # P5 — empty-delta gate (:164-165): skip fetch/transform/load entirely.
    if counts["new_videos"] == 0:
        counts["loaded"] = 0
    else:
        # E3 — chunked video fetch, one source task per staged row group
        # (IDS_PER_STAGED_FILE ids ≈ that many /50 API calls).
        videos_raw = _read(spark, "videos", video_ids_path=ids_dir, **opts)
        # T — the 11→19 column transform block (:171-190), one Project
        video_stats = enrich_videos(videos_raw)
        # L1 — idempotent delta append (:194), one write job that runs the
        # video fetch and the transform. 'loaded' is what the append
        # ACTUALLY wrote: on a retry after partial failure the write-time
        # re-filter drops already-landed keys, so new_videos would overstate.
        counts["loaded"] = append_delta(video_stats, video_sink, "videoId")

    # L2 — dimension overwrite on BOTH branches (:196-198)
    overwrite_dim(spark.createDataFrame(channels, CHANNELS_SCHEMA),
                  os.path.join(warehouse, "channel_stats"))
    return counts
