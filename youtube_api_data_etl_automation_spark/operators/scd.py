"""Slowly-changing-dimension (type 2) history assembly.

The reference keeps only the LATEST dimension state: channel_stats is
drop-and-recreated on every run (fetch_youtube_data.py:198,
``to_sql(..., if_exists="replace")``) — history is destroyed daily. The
warehouse-grade upgrade is SCD type 2: every attribute change becomes a
new *version* row with a validity interval, so queries can join facts to
the dimension AS OF any past date. This module assembles that history
from an ordered stream of observations (snapshots or change events).

Scale shape (100 TB):
- one shuffle on the dimension key; the change-point window, the run
  collapse (groupBy key+version), and the interval chaining (lead over the
  collapsed relation) all reuse that key partitioning;
- the lead() that closes intervals runs on the COLLAPSED relation — one
  row per version, not per observation — so the second window pass touches
  orders of magnitude fewer rows than the input;
- attribute comparison is null-safe (``<=>``), so NULL→value and
  value→NULL transitions open new versions instead of being missed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(observations: DataFrame, *, key_cols: Sequence[str],
                 attr_cols: Sequence[str],
                 order_cols: Sequence[str]) -> DataFrame:
    """Collapse an ordered observation stream into SCD2 version intervals.

    Consecutive observations of a key with identical attributes (null-safe)
    belong to one version; each change opens the next. Output: one row per
    (key, version) with the attributes, ``valid_from`` / ``valid_to`` (the
    next version's valid_from; NULL for the open current version),
    ``n_observations`` in the run, and ``is_current``.

    ``order_cols`` must be a deterministic total order within each key
    (include a tie-breaker column) — same requirement a MERGE-based SCD2
    loader has on its staging batch.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    # The first observation per key must open version 1 explicitly: a NULL
    # initial attribute would satisfy NULL <=> lag(NULL-because-first) and
    # silently start at version 0 otherwise.
    changed: Column = F.row_number().over(w) == 1
    for a in attr_cols:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    versioned = observations.withColumn(
        "scd_version", F.sum(changed.cast("int")).over(w).cast("int")
    )
    order_struct = F.struct(*[F.col(c) for c in order_cols])
    collapsed = (
        versioned.groupBy(*key_cols, "scd_version", *attr_cols)
        .agg(
            F.min(order_struct).alias("_from"),
            F.count(F.lit(1)).cast("long").alias("n_observations"),
        )
    )
    w2 = Window.partitionBy(*key_cols).orderBy("scd_version")
    valid_from = F.col("_from").getField(order_cols[0])
    valid_to = F.lead("_from").over(w2).getField(order_cols[0])
    return collapsed.select(
        *key_cols,
        "scd_version",
        *attr_cols,
        valid_from.alias("valid_from"),
        valid_to.alias("valid_to"),
        "n_observations",
        F.lead("_from").over(w2).isNull().cast("int").alias("is_current"),
    )
