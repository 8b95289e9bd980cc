"""Scalar-transform surface (SURVEY.md §2.4 T1-T11) demonstrated on the
driver's synthetic tables, plus the flagship end-to-end pipeline shape.

Each query exercises the same Column-expression library the reference-shaped
``transforms.enrich_videos`` uses, so the oracle checks cover the library,
not ad-hoc copies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import iso8601_duration_seconds, safe_ratio
from ..functions.rounding import round6, sql_round6
from ..sources.tables import load_table
from .registry import query


# T10 (÷0→NULL safe ratios) is driver-verified through the flagship query's
# unit_price column and unit-tested in tests/test_transforms.py.


@query(
    "iso_duration_seconds",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_orderkey % 97 = 0 THEN NULL
                ELSE CAST(l_linenumber * 3600
                          + (CAST(FLOOR(l_quantity) AS BIGINT) % 60) * 60
                          + (l_orderkey % 60) AS DOUBLE)
           END AS duration_sec
    FROM lineitem
    """,
)
def iso_duration_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: build ISO-8601 'PT#H#M#S' strings from lineitem columns, parse
    them with the engine's pure-Column duration parser, and check the result
    against direct arithmetic. Every 97th orderkey injects NULL (NULL-in →
    NULL-out policy, SURVEY.md §2.6 item 3).

    rebalance=True: 6 regex evaluations per row dominate — spread the scan
    across cores instead of serializing on the single-row-group file."""
    li = load_table(spark, sf_dir, "lineitem", rebalance=True)
    h = F.col("l_linenumber").cast("long")
    m = F.floor(F.col("l_quantity")).cast("long") % 60
    s = F.col("l_orderkey") % 60
    iso = F.when(
        F.col("l_orderkey") % 97 == 0, F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            F.lit("PT"),
            h.cast("string"), F.lit("H"),
            m.cast("string"), F.lit("M"),
            s.cast("string"), F.lit("S"),
        )
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        iso8601_duration_seconds(iso).alias("duration_sec"),
    )


# T5-T8 (year / time-of-day / English day-name extraction, UTC session) are
# driver-verified inside `json_props_extract` (plans/advanced.py), which
# projects them from the event timestamp alongside the JSON extraction —
# the same publish_year/publish_time/published_dayofweek derivation as the
# reference (fetch_youtube_data.py:176-180).
# T1/T2 + P2 (null-tolerant nested projection, fillna(0)+cast) are
# driver-verified through `json_props_extract` (plans/advanced.py), which
# runs the same .get() → fillna → astype chain over the events JSON.


def _etl_video_stats_table(spark: SparkSession) -> DataFrame:
    """Run the full reference ETL and return the loaded 19-column table
    (tags rendered to JSON text — lossless; the stored table keeps the
    real ArrayType)."""
    import tempfile

    from ..pipeline import run_etl

    warehouse = tempfile.mkdtemp(prefix="ref_etl_wh_")
    run_etl(spark, [f"chan{i}" for i in range(13)], warehouse)
    loaded = spark.read.parquet(f"{warehouse}/video_stats")
    return loaded.withColumn("tags", F.to_json("tags"))


# Golden oracle (see reference_etl_video_stats docstring): generated by
# tools/make_etl_golden.py from the deterministic fake-transport output —
# regenerate with that tool whenever the ETL's intended behavior changes.
try:
    from .etl_golden import ETL_GOLDEN_SQL as _ETL_GOLDEN_ORACLE
except ImportError:  # golden not generated yet → honest rows-only check
    _ETL_GOLDEN_ORACLE = None


@query("reference_etl_video_stats", oracle=_ETL_GOLDEN_ORACLE)
def reference_etl_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE daily ETL (fetch_youtube_data.py:143-200) run
    end-to-end over the custom API-shaped DataSource: channel extract →
    playlist scan (13 playlists packed into at most one partition per task
    slot: each partition is a Python task with ~0.3 s of fixed worker CPU)
    → anti-join delta → 11→19-column enrich → idempotent append →
    dimension overwrite. Returns a per-channel rollup of the loaded
    video_stats table WITH a content fingerprint: md5 over the sorted,
    delimiter-joined rendering of every row's 19 columns — any changed
    cell anywhere in the table flips its channel's fingerprint.

    r2 upgrade from rows-only to a GOLDEN-VALUES oracle: the fake
    transport is a pure function of ids+seed (sources/youtube_api.py:93),
    so the correct output is a constant; the oracle pins it as a literal
    table (tools/make_etl_golden.py regenerates). This converts the one
    remaining weak driver row into a hard value check covering the whole
    ETL — source pagination, delta detection, all 19 enrichment columns.

    Determinism notes: UTC rendering matches the driver session (proven by
    the r1-green timestamp queries); ratio doubles are rounded then cast
    to fixed-scale decimal strings before hashing so float repr can't
    drift."""
    from ..functions.rounding import round6

    loaded = _etl_video_stats_table(spark)
    row_str = F.concat_ws(
        "\x01",
        "videoId",
        "channel",
        "video_title",
        "description",
        F.coalesce(F.col("tags"), F.lit("<null>")),
        F.date_format("publishedAt", "yyyy-MM-dd HH:mm:ss"),
        "likes",
        "views",
        "comments",
        "favourites",
        "duration",
        "tag_count",
        "description_length",
        "publish_year",
        "publish_time",
        "published_dayofweek",
        F.col("duration_sec").cast("decimal(18,3)").cast("string"),
        round6(F.col("comment_view_ratio")).cast("decimal(12,6)").cast("string"),
        round6(F.col("like_view_ratio")).cast("decimal(12,6)").cast("string"),
    )
    return (
        loaded.withColumn("__row", row_str)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_videos"),
            F.sum("views").cast("long").alias("total_views"),
            F.sum("likes").cast("long").alias("total_likes"),
            F.sum("comments").cast("long").alias("total_comments"),
            F.sum("duration_sec").cast("long").alias("total_duration_sec"),
            F.md5(
                F.concat_ws("\x02", F.array_sort(F.collect_list("__row")))
            ).alias("content_fp"),
        )
    )


@query(
    "flagship_new_order_enrichment",
    oracle=f"""
    WITH delta AS (
      SELECT * FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 0)
    ),
    enriched AS (
      SELECT d.o_orderkey, d.o_orderpriority,
             CAST(year(d.o_orderdate) AS INT) AS order_year,
             dayname(d.o_orderdate) AS order_dow,
             l.l_quantity,
             l.l_extendedprice,
             {sql_round6('l.l_extendedprice / NULLIF(l.l_quantity, 0)')} AS unit_price
      FROM delta d JOIN lineitem l ON l.l_orderkey = d.o_orderkey
    )
    SELECT o_orderpriority, order_year,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           {sql_round6('CAST(SUM(CAST(unit_price AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)')} AS avg_unit_price
    FROM enriched
    GROUP BY o_orderpriority, order_year
    """,
)
def flagship_new_order_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline shape (SURVEY.md §7.2): anti-join delta detection
    (J1) → scalar enrichment (T5/T8/T10) → join to the fact table → grouped
    aggregation. This is the reference's whole computational core as ONE lazy
    Catalyst plan — the broadcast anti-join and broadcast dims mean the only
    shuffle is the final aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    # rebalance: two broadcast probes + decimal aggregation per fact row is
    # enough per-row work to beat the narrow-column shuffle (A/B: 1.66s →
    # 1.22s on the single-row-group test file; no-op on real layouts).
    li = load_table(spark, sf_dir, "lineitem", rebalance=True)
    existing = orders.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey")
    delta = orders.join(F.broadcast(existing), "o_orderkey", "left_anti")
    # Broadcast the enriched delta: it's delta-sized (small by the
    # incremental invariant) while lineitem is the 100 TB fact — this keeps
    # the fact side from ever shuffling; the only exchange left in the whole
    # plan is the final aggregation.
    enriched = (
        F.broadcast(
            delta.select(
                "o_orderkey",
                "o_orderpriority",
                F.year("o_orderdate").alias("order_year"),
                F.date_format("o_orderdate", "EEEE").alias("order_dow"),
            )
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderpriority",
            "order_year",
            "l_quantity",
            "l_extendedprice",
            round6(safe_ratio("l_extendedprice", "l_quantity")).alias("unit_price"),
        )
    )
    return enriched.groupBy("o_orderpriority", "order_year").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        round6(
            F.sum(F.col("unit_price").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))
        ).alias("avg_unit_price"),
    )
