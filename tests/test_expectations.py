"""Expectation checks (operators/expectations.py): planted violations per
check kind, the one-agg plan shape, FK broadcast anti-join, NULL policy."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from youtube_api_data_etl_automation_spark.operators.expectations import (
    accepted_values,
    foreign_key,
    in_range,
    matches,
    not_null,
    run_checks,
    unique,
)


def _facts(spark):
    rows = [
        Row(k=1, status="A", amt=10.0, ref=100),
        Row(k=2, status="B", amt=-5.0, ref=200),   # amt below range
        Row(k=2, status="C", amt=20.0, ref=999),   # dup key, bad status+ref
        Row(k=None, status="A", amt=None, ref=None),  # nulls
    ]
    return spark.createDataFrame(rows, "k long, status string, amt double, ref long")


def _dim(spark):
    return spark.createDataFrame([Row(d=100), Row(d=200), Row(d=200)])


def test_run_checks_counts_each_kind(spark):
    out = {r["check"]: r for r in run_checks(
        _facts(spark),
        [
            not_null("k"),
            unique("k"),
            in_range("amt", 0, 100),
            accepted_values("status", ["A", "B"]),
            matches("status", "^[A-B]$"),
            foreign_key("ref", _dim(spark), "d"),
        ],
    ).collect()}
    assert all(r["n_rows"] == 4 for r in out.values())
    assert out["not_null(k)"]["n_violations"] == 1
    assert out["unique(k)"]["n_violations"] == 1  # one extra row for k=2
    assert out["in_range[0,100](amt)"]["n_violations"] == 1  # -5.0; NULL skipped
    assert out["accepted_values[A,B](status)"]["n_violations"] == 1  # 'C'
    assert out["matches[^[A-B]$](status)"]["n_violations"] == 1
    assert out["foreign_key(ref)"]["n_violations"] == 1  # 999; NULL skipped
    assert out["foreign_key(ref)"]["passed"] is False
    clean = run_checks(_dim(spark).select("d"), [not_null("d")]).collect()[0]
    assert clean["passed"] is True and clean["n_violations"] == 0


def test_null_violates_only_not_null(spark):
    df = spark.createDataFrame([Row(v=None)], "v string")
    out = {r["check"]: r["n_violations"] for r in run_checks(
        df, [not_null("v"), matches("v", "x"), accepted_values("v", ["x"])]
    ).collect()}
    assert out == {"not_null(v)": 1, "matches[x](v)": 0,
                   "accepted_values[x](v)": 0}


def test_non_fk_checks_are_one_scan(spark):
    """Every row-level + unique check folds into one aggregate pipeline
    over one scan (the count_distinct adds the Expand/second exchange,
    same as the profiler's exact mode)."""
    plan = run_checks(
        _facts(spark),
        [not_null("k"), unique("k"), in_range("amt", 0, 100)],
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1


def test_fk_check_broadcasts_the_dim_one_pass(spark):
    plan = run_checks(
        _facts(spark), [foreign_key("ref", _dim(spark), "d")]
    )._jdf.queryExecution().executedPlan().toString()
    # one broadcast outer join, one scan of the fact, no scalar cross join
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert plan.count("Scan ExistingRDD") == 2  # fact + dim, once each


def test_run_checks_on_empty_relation_passes_with_zero_counts(spark):
    """SUM over zero rows is NULL — every check (agg and FK alike) must
    still report (0 rows, 0 violations, passed) on an empty batch, not
    NULL/NULL/NULL (a gate that returns NULL `passed` neither ships nor
    quarantines)."""
    empty = _facts(spark).limit(0)
    out = run_checks(
        empty,
        [not_null("k"), unique("k"), in_range("amt", 0, 100),
         foreign_key("ref", _dim(spark), "d")],
    ).collect()
    assert len(out) == 4
    for r in out:
        assert (r["n_rows"], r["n_violations"], r["passed"]) == (0, 0, True)


def test_satisfies_cross_column_null_skip_and_one_scan(spark):
    """satisfies(expr) counts rows where the boolean expr is FALSE;
    a NULL result (three-valued logic) is skipped, not violated — and
    the check rides the same one-scan aggregate as every row-level
    check."""
    from youtube_api_data_etl_automation_spark.operators.expectations import (
        satisfies,
    )

    df = spark.createDataFrame(
        [Row(lo=1, hi=2), Row(lo=5, hi=3), Row(lo=None, hi=7), Row(lo=4, hi=4)],
        "lo long, hi long",
    )
    chk = satisfies("hi >= lo", column="hi")
    out = run_checks(df, [chk]).collect()[0]
    assert out["check"] == "satisfies[hi >= lo](hi)"
    assert out["column"] == "hi"
    assert (out["n_rows"], out["n_violations"], out["passed"]) == (4, 1, False)
    plan = run_checks(df, [chk, not_null("lo")])._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1


def test_satisfies_enforce_quarantines_only_false_rows(spark):
    """satisfies is row-level: its violation predicate flags exactly the
    false rows — the COALESCE makes NULL evaluations KEEP (pass) — and
    matches the audit count exactly."""
    from youtube_api_data_etl_automation_spark.operators.expectations import (
        satisfies,
    )

    df = spark.createDataFrame(
        [Row(lo=1, hi=2), Row(lo=5, hi=3), Row(lo=None, hi=7)],
        "lo long, hi long",
    )
    check = satisfies("hi >= lo")
    bad = df.filter(check.violation).collect()
    assert [(r["lo"], r["hi"]) for r in bad] == [(5, 3)]
    audit = run_checks(df, [check]).collect()[0]
    assert audit["n_violations"] == 1 and audit["n_rows"] == 3


def test_satisfies_rides_fused_profile(spark):
    """The cross-column check folds into fused_profile's single wide
    aggregate alongside the stats (one scan total)."""
    from youtube_api_data_etl_automation_spark.operators.expectations import (
        satisfies,
    )
    from youtube_api_data_etl_automation_spark.operators.profile import (
        fused_profile,
    )

    df = spark.createDataFrame(
        [Row(lo=1, hi=2), Row(lo=5, hi=3)], "lo long, hi long"
    )
    out = fused_profile(df, ["lo"], checks=[satisfies("hi >= lo")])
    # plan BEFORE executing: post-collect AQE toString repeats the plan
    # (initial + final sections), double-counting scans
    plan = out._jdf.queryExecution().executedPlan().toString()
    base = fused_profile(df, ["lo"])._jdf.queryExecution().executedPlan()
    # the check adds NO scan: it rides the stats' plain fold (exact mode
    # is 2 scans either way — the split distinct agg, see _merge_nd)
    assert plan.count("Scan ExistingRDD") == 2
    assert plan.count("Scan ExistingRDD") == base.toString().count(
        "Scan ExistingRDD"
    )
    rows = {(r["section"], r["check"]): r for r in out.collect()}
    chk = rows[("checks", "satisfies[hi >= lo](*)")]
    assert (chk["n_violations"], chk["passed"]) == (1, False)


def test_empty_checks_raise(spark):
    with pytest.raises(ValueError, match="no checks"):
        run_checks(_facts(spark), [])
