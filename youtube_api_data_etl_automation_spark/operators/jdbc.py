"""JDBC sink path for the incremental-load protocol (S6/S7 fidelity).

The reference's actual sink is Postgres via SQLAlchemy
(fetch_youtube_data.py:29-31 engine setup; :194 to_sql append; :198 to_sql
replace). Spark-first restatement: the SAME idempotent anti-join-at-write
protocol as the parquet sink (operators/incremental.py), over
``format("jdbc")`` — only the storage changes, not the semantics.

Scale notes:
- the existing-keys read pushes a key-only projection to the database
  (``dbtable`` is a derived table selecting just the key column), so only
  keys cross the wire for the anti-join — the JDBC twin of the key-only
  parquet state scan (S4);
- writes batch through the driver-configured ``batchsize``; at warehouse
  scale the append parallelism is the DataFrame's partitioning (one
  connection per partition — repartition the delta to the DB's write
  concurrency, not the cluster's);
- tests run against embedded Derby (the only JDBC engine shipped with
  Spark); a production Postgres needs only a different url/driver pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .incremental import select_new

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_dir: str) -> str:
    """Embedded-Derby connection URL (creates the database on first use)."""
    return f"jdbc:derby:{db_dir};create=true"


def _read_table(spark, url: str, dbtable: str, driver: str) -> DataFrame:
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
        .option("driver", driver)
        .load()
    )


def jdbc_table_exists(spark, url: str, table: str, driver: str = DERBY_DRIVER) -> bool:
    """Sink-exists probe (S5) against the database catalog: a zero-row
    derived-table query — fails only on missing relations, never scans."""
    from pyspark.errors.exceptions.captured import AnalysisException
    from py4j.protocol import Py4JJavaError

    try:
        _read_table(spark, url, f"(SELECT * FROM {table} WHERE 1=0) probe", driver).schema
        return True
    except (AnalysisException, Py4JJavaError) as e:
        # ONLY a missing-relation error means "absent". Anything else —
        # connection refused, lock timeout, permissions — must surface:
        # treating it as first-run would skip append_delta_jdbc's
        # idempotency anti-join and duplicate a retried batch (the exact
        # try/except-as-first-run failure the parquet sink_exists
        # rejects; r6 review).
        msg = str(e)
        missing_markers = (
            "does not exist",        # Derby: Table/View 'X' does not exist
            "not exist",
            "not found",
            "42X05",                 # Derby SQLState: missing table/view
            "TABLE_OR_VIEW_NOT_FOUND",
        )
        if any(m in msg for m in missing_markers):
            return False
        raise


def append_delta_jdbc(delta: DataFrame, url: str, table: str, key: str,
                      driver: str = DERBY_DRIVER) -> int:
    """Idempotent JDBC append (the reference's to_sql(..., if_exists='append')
    at :194, made retry-safe): anti-join the incoming delta against the
    CURRENT sink keys (key-only pushdown read), append only the new rows.
    Returns rows actually written (same contract as the parquet
    ``append_delta``), counted by an Observation on the append write, so
    the delta is computed once, inside that write. The key side is
    ``F.broadcast``: the key read finishes and its table is built before
    any insert task starts, so the write never anti-joins against rows it
    inserted itself. A delta whose rows have all landed still runs the
    (empty) insert."""
    spark = delta.sparkSession
    if jdbc_table_exists(spark, url, table, driver):
        # .select(key) — the JDBC source pushes the projection down as a
        # properly-quoted key-only SELECT (hand-written derived-table SQL
        # would hit dialect identifier-folding, e.g. Derby uppercasing).
        existing_keys = _read_table(spark, url, table, driver).select(key)
        delta = select_new(delta, existing_keys, key)
    obs = Observation()
    (
        delta.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .mode("append")
        .save()
    )
    return obs.get["n"]


def overwrite_dim_jdbc(dim: DataFrame, url: str, table: str,
                       driver: str = DERBY_DRIVER) -> None:
    """Full-replace dimension write (the reference's to_sql(...,
    if_exists='replace') at :198): mode=overwrite drops and recreates the
    relation — the dimension is small by the star-schema invariant, so a
    non-truncate replace is fine (use option('truncate', True) to keep the
    DDL when the DB side has grants/indexes)."""
    (
        dim.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )


def read_dim_jdbc(spark, url: str, table: str, driver: str = DERBY_DRIVER) -> DataFrame:
    """Read a dimension/state table back from the JDBC sink."""
    return _read_table(spark, url, table, driver)
