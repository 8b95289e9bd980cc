"""Weighted A-ES sampling (operators/sampling.py): inclusion-probability
behavior, determinism, and weight monotonicity."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.sampling import (
    aes_log_key,
    stable_uniform,
    weighted_sample_per_group,
)


def test_stable_uniform_range_and_determinism(spark):
    df = spark.range(0, 5000).select(stable_uniform("id").alias("u"))
    row = df.agg(F.min("u"), F.max("u"), F.mean("u")).first()
    assert 0 < row[0] and row[1] <= 1.0
    assert 0.45 < row[2] < 0.55  # uniform mean ≈ 0.5
    again = spark.range(0, 5000).select(stable_uniform("id").alias("u"))
    assert df.exceptAll(again).count() == 0


def test_sample_is_deterministic_under_repartition(spark):
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") % 5 + 1).cast("double").alias("w"),
    )
    s1 = weighted_sample_per_group(
        df.repartition(3), group_col="g", id_col="id", weight_col="w", n=10
    )
    s2 = weighted_sample_per_group(
        df.repartition(17), group_col="g", id_col="id", weight_col="w", n=10
    )
    assert s1.exceptAll(s2).union(s2.exceptAll(s1)).count() == 0
    assert s1.groupBy("g").count().filter("count != 10").count() == 0


def test_higher_weight_rows_sampled_more_often(spark):
    """Rows with weight 10 must appear in the sample far more often than
    weight-1 rows (inclusion probability rises with weight). Statistical
    but deterministic — the md5-derived u's are fixed."""
    # Weight must NOT be derivable from the group key: g = id % 40 and
    # heavy = id % 10 would make 4 groups all-heavy and 36 heavy-free.
    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 40).alias("g"),  # 40 groups × 100 rows
        F.when(F.floor(F.col("id") / 40) % 10 == 0, 10.0)
        .otherwise(1.0)
        .alias("w"),  # 10 heavy rows in EVERY group
    )
    s = weighted_sample_per_group(
        df, group_col="g", id_col="id", weight_col="w", n=20
    )
    picked = s.groupBy((F.col("w") == 10.0).alias("heavy")).count().collect()
    counts = {r["heavy"]: r["count"] for r in picked}
    # Heavy rows: 10% of the population. Under uniform sampling they'd be
    # ~10% of picks (80 of 800); with weight 10 they should be drawn at
    # several times that rate.
    heavy_frac = counts.get(True, 0) / (counts.get(True, 0) + counts.get(False, 0))
    assert heavy_frac > 0.25, counts


def test_inclusion_rate_tracks_aes_theory_for_n1(spark):
    """For n=1 the A-ES inclusion probability of row i is exactly
    w_i / Σw (sequential weighted draw). With many independent groups the
    empirical rate must land near it."""
    # 400 groups, each: one weight-4 row + four weight-1 rows → p(heavy)=0.5
    rows = []
    for g in range(400):
        for j in range(5):
            rid = g * 5 + j
            rows.append((rid, g, 4.0 if j == 0 else 1.0))
    df = spark.createDataFrame(rows, "id long, g long, w double")
    s = weighted_sample_per_group(df, group_col="g", id_col="id", weight_col="w", n=1)
    heavy = s.filter(F.col("w") == 4.0).count()
    rate = heavy / 400
    # Binomial(400, 0.5): 3.5σ ≈ 0.0875.
    assert abs(rate - 0.5) < 0.09, rate


def test_nonpositive_weights_never_beat_positive(spark):
    df = spark.createDataFrame(
        [(1, 0, 0.0), (2, 0, -3.0), (3, 0, 0.001)], "id long, g long, w double"
    )
    s = weighted_sample_per_group(df, group_col="g", id_col="id", weight_col="w", n=1)
    assert [r["id"] for r in s.collect()] == [3]


def test_key_monotone_in_weight_for_same_u(spark):
    """u fixed ⇒ key strictly increases with weight (ln(u)/w → 0)."""
    df = spark.createDataFrame([(7,)], "id long").select(
        aes_log_key(F.col("id"), F.lit(1.0)).alias("k1"),
        aes_log_key(F.col("id"), F.lit(5.0)).alias("k5"),
        aes_log_key(F.col("id"), F.lit(50.0)).alias("k50"),
        aes_log_key(F.col("id"), F.lit(0.0)).alias("k0"),
    )
    r = df.first()
    assert r["k1"] < r["k5"] < r["k50"] < 0
    assert not math.isnan(r["k1"])
    assert r["k0"] == float("-inf")  # non-positive weight: always last


def test_grouped_split_leakage_safe(spark):
    """r12: every row of a group lands in ONE split; proportions track
    the requested fractions; deterministic and salt-independent of the
    other samplers."""
    from youtube_api_data_etl_automation_spark.operators.sampling import (
        grouped_split,
    )

    import pytest

    rows = [(i, f"domain{i % 200}.com") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = grouped_split(df, group_col="domain")
    per_group = out.groupBy("domain").agg(
        F.countDistinct("split").alias("k")).collect()
    assert all(r["k"] == 1 for r in per_group)  # no straddling
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n"))
              .collect()}
    assert counts["train"] / 4000 == pytest.approx(0.9, abs=0.08)
    assert set(counts) <= {"train", "val", "test"}
    # deterministic across invocations
    again = {r["doc_id"]: r["split"]
             for r in grouped_split(df, group_col="domain").collect()}
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again
    # custom fractions + validation
    two = grouped_split(df, group_col="domain",
                        fractions={"a": 0.5, "b": 0.5})
    assert set(r["split"] for r in two.select("split")
               .distinct().collect()) == {"a", "b"}
    with pytest.raises(ValueError, match="sum"):
        grouped_split(df, group_col="domain",
                      fractions={"a": 0.5, "b": 0.2})


def test_grouped_split_null_keys_and_bad_fractions(spark):
    """r12 review fix: NULL group keys fold to one deterministic
    empty-string group (never flooding the last/eval split by
    NULL-comparison fallthrough), and out-of-range fractions refuse."""
    import pytest

    from youtube_api_data_etl_automation_spark.operators.sampling import (
        grouped_split,
    )

    df = spark.createDataFrame(
        [(i, None) for i in range(50)] + [(99, "d.com")],
        "doc_id long, domain string")
    out = grouped_split(df, group_col="domain",
                        fractions={"train": 0.5, "test": 0.5})
    null_splits = {r["split"] for r in out.filter("domain IS NULL")
                   .collect()}
    assert len(null_splits) == 1  # one deterministic assignment
    # and it equals the empty-string group's assignment
    empty = grouped_split(
        spark.createDataFrame([(1, "")], "doc_id long, domain string"),
        group_col="domain", fractions={"train": 0.5, "test": 0.5}
    ).collect()[0]["split"]
    assert null_splits == {empty}
    with pytest.raises(ValueError, match="outside"):
        grouped_split(df, group_col="domain",
                      fractions={"a": 1.5, "b": -0.5})


def test_grouped_split_zero_width_fraction_refuses(spark):
    """r13 ADVICE: a fraction below ~1/512 quantizes to ZERO of the
    256 buckets — {a: 0.999, b: 0.001} would silently assign every
    row to 'a'. The operator must refuse instead of emitting an
    empty split."""
    import pytest

    from youtube_api_data_etl_automation_spark.operators.sampling import (
        grouped_split,
    )

    df = spark.createDataFrame([(1, "d.com")],
                               "doc_id long, domain string")
    with pytest.raises(ValueError, match="zero of the 256"):
        grouped_split(df, group_col="domain",
                      fractions={"a": 0.999, "b": 0.001})
    # order shouldn't matter: the tiny split is caught even first
    with pytest.raises(ValueError, match="zero of the 256"):
        grouped_split(df, group_col="domain",
                      fractions={"b": 0.001, "a": 0.999})
    # smallest representable split still works (1/256 = 0.00390625)
    ok = grouped_split(
        df, group_col="domain",
        fractions={"a": 1.0 - 1 / 128, "b": 1 / 128})
    assert ok.collect()[0]["split"] in ("a", "b")
