"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Scan-parallelism policy: the testdata parquet files are single-row-group, so
Spark cannot split them — every scan would run in ONE task no matter how many
cores exist, serializing all per-row compute (regex parsing, hashing, vector
math). ``load_table`` therefore rebalances any non-tiny table up to the
session's parallelism right after the scan. On a real cluster with properly
sized multi-file tables the partition count already exceeds cores and this
is a no-op; it exists for exactly the degenerate single-file case.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

_warned_tz_override = False

# Below this size a table is dimension-like (region/nation are ~2 KB):
# broadcast fodder, not worth a rebalance exchange. Callers passing
# rebalance=True have already judged their per-row compute heavy, so this
# gate is deliberately tiny — compressed parquet understates row count badly
# (sf0.1 documents = 5000 docs in 580 KB).
_REBALANCE_MIN_BYTES = 16_000

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str,
               rebalance: bool = False) -> DataFrame:
    """Load one testdata table. ``rebalance=True`` opts into post-scan
    repartitioning for plans whose per-row compute (regex, hashing) would
    otherwise serialize on the single-row-group input — see module note."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Engine policy (session.py): UTC session timezone. Enforced here too
    # because the DRIVER runs queries on its own vanilla session — and with
    # date columns now resolving as TIMESTAMP_NTZ, any ntz→timestamp cast
    # or timestamp-literal comparison would silently shift under a
    # non-UTC session while the DuckDB oracle stays TZ-naive. The
    # oracle-checked query contract is only defined under UTC (lazy conf
    # reads make a save/restore around each query unsound). A host that
    # renders in another timezone should do so at the presentation edge —
    # when we DO override a differing pre-set timezone, say so once
    # instead of silently reconfiguring the host session mid-flight.
    global _warned_tz_override
    try:
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        prev_tz = None
    _utc_aliases = (None, "UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00")
    if prev_tz not in _utc_aliases and not _warned_tz_override:
        warnings.warn(
            f"load_table: overriding session timezone {prev_tz!r} with UTC — "
            "the engine's query/oracle contract is defined under UTC only",
            stacklevel=2,
        )
        _warned_tz_override = True
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). Spark 4.1 reads nanos
        # natively as TIMESTAMP_NTZ (truncating to micros — the data is
        # microsecond-aligned so lossless); older builds reject the type
        # unless the legacy nanosAsLong conf maps it to a raw nanos long.
        # Try the native, conf-clean path FIRST so the session-global
        # legacy flag is only ever set on builds that genuinely need it
        # (where it then deliberately stays on: the conf is re-read at
        # scan execution, so a save/restore around the read is unsound).
        from pyspark.sql import functions as F

        try:
            df = spark.read.parquet(path)
        except Exception:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # integer `div` avoids the double-precision trap on ~1e18 nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    return _rebalance(spark, df, path) if rebalance else df


def _rebalance(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    # Unconditional when opted in: partition COUNT is not evidence of real
    # parallelism here — size-based splitting of a single-row-group parquet
    # yields N-1 empty splits and one split holding every row (parquet can't
    # split below a row group), so a "already has N partitions" check would
    # silently keep the whole scan on one core.
    try:
        if os.path.getsize(path) < _REBALANCE_MIN_BYTES:
            return df
        # Cap the fan-out: this path exists only for unsplittable single-file
        # inputs, which can't justify more than ~64-way parallelism — and a
        # default-conf session (shuffle.partitions=200) would otherwise pay
        # 200 near-empty task launches per scan.
        target = min(64, int(spark.conf.get("spark.sql.shuffle.partitions")))
        return df.repartition(target)
    except Exception:
        return df
