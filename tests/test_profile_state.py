"""Mergeable profile state (operators/profile.py::profile_state /
merge_profile_states / stats_from_state, operators/versioned.py::
incremental_profile_versioned): profile each batch once, fold states
algebraically, never rescan.

The contract under test: stats_from_state(merge(per-batch states)) is
bit-identical to a full-table column_stats on every algebraic field
(counts, min/max renderings, decimal-exact means), with n_distinct an
HLL estimate that is merge-order invariant and within the sketch's
error band of exact.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from youtube_api_data_etl_automation_spark.operators.profile import (
    column_stats,
    merge_profile_states,
    profile_state,
    stats_from_state,
)

_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("d", T.DateType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
    ]
)

_ALGEBRAIC = (
    "dtype",
    "n_rows",
    "n_nulls",
    "min_value",
    "max_value",
    "avg_value",
    "avg_len",
)


def _rows(n0: int, n1: int):
    out = []
    for i in range(n0, n1):
        out.append(
            (
                i,
                None if i % 7 == 3 else f"s{i % 13:03d}" * (1 + i % 3),
                None if i % 11 == 5 else (i * 17 % 101) / 4.0 - 5.0,
                datetime.datetime(2024, 1 + i % 12, 1 + i % 28, i % 24, 0, 0),
                i % 3 == 0,
                datetime.date(2023, 1 + i % 12, 1 + i % 28),
                [i, i + 1] if i % 2 == 0 else None,
            )
        )
    return out


def _df(spark, n0=0, n1=120):
    return spark.createDataFrame(_rows(n0, n1), _SCHEMA)


def _stats_map(df):
    return {r["column_name"]: r.asDict() for r in df.collect()}


def test_merged_state_matches_full_column_stats(spark):
    full = _df(spark)
    batches = [_df(spark, 0, 40), _df(spark, 40, 90), _df(spark, 90, 120)]
    merged = merge_profile_states(*[profile_state(b) for b in batches])
    got = _stats_map(stats_from_state(merged))
    want = _stats_map(column_stats(full))
    assert set(got) == set(want)
    for c, w in want.items():
        for k in _ALGEBRAIC:
            assert got[c][k] == w[k], (c, k, got[c][k], w[k])
        # HLL estimate within the lgk=12 error band of exact
        if w["n_distinct"] > 0:
            assert got[c]["n_distinct"] == pytest.approx(
                w["n_distinct"], rel=0.05
            )
        else:
            assert got[c]["n_distinct"] == 0


def test_batch_expr_grouped_scan_equals_per_batch_states(spark):
    """One grouped scan over the whole table == separate per-slice scans."""
    full = _df(spark)
    grouped = profile_state(full, batch_expr=F.col("k") % 3)
    assert sorted(
        (r["batch_id"], r["column_name"]) for r in grouped.collect()
    ) == sorted(
        (str(i), f.name) for i in range(3) for f in _SCHEMA.fields
    )
    separate = [
        profile_state(full.filter(F.col("k") % 3 == i)) for i in range(3)
    ]
    a = _stats_map(stats_from_state(merge_profile_states(grouped)))
    b = _stats_map(stats_from_state(merge_profile_states(*separate)))
    assert a == b


def test_merge_is_order_and_grouping_invariant(spark):
    parts = [profile_state(_df(spark, a, b)) for a, b in ((0, 30), (30, 50), (50, 120))]
    flat = _stats_map(stats_from_state(merge_profile_states(*parts)))
    nested = _stats_map(
        stats_from_state(
            merge_profile_states(
                merge_profile_states(parts[2], parts[0]), parts[1]
            )
        )
    )
    assert flat == nested


def test_repartition_stable(spark):
    a = _stats_map(
        stats_from_state(merge_profile_states(profile_state(_df(spark))))
    )
    b = _stats_map(
        stats_from_state(
            merge_profile_states(profile_state(_df(spark).repartition(7)))
        )
    )
    assert a == b


def test_empty_batch_is_identity(spark):
    data = profile_state(_df(spark))
    empty = profile_state(_df(spark).limit(0))
    with_empty = _stats_map(
        stats_from_state(merge_profile_states(data, empty))
    )
    alone = _stats_map(stats_from_state(merge_profile_states(data)))
    assert with_empty == alone


def test_all_null_column_and_empty_state(spark):
    df = _df(spark).select(
        "k", F.lit(None).cast("double").alias("x"), "s"
    )
    got = _stats_map(stats_from_state(merge_profile_states(profile_state(df))))
    x = got["x"]
    assert (x["n_nulls"], x["n_distinct"]) == (x["n_rows"], 0)
    assert x["min_value"] is None and x["avg_value"] is None
    empty = _stats_map(
        stats_from_state(
            merge_profile_states(profile_state(_df(spark).limit(0)))
        )
    )
    assert empty["k"]["n_rows"] == 0
    assert empty["k"]["n_distinct"] == 0


def test_track_distinct_off_yields_null_estimate(spark):
    st = profile_state(_df(spark), ["k", "s"], track_distinct=False)
    got = _stats_map(stats_from_state(merge_profile_states(st)))
    assert got["k"]["n_distinct"] is None
    # everything else still derives
    assert got["k"]["min_value"] == "0"


def test_unsupported_types_get_null_minmax(spark):
    got = _stats_map(
        stats_from_state(merge_profile_states(profile_state(_df(spark))))
    )
    arr = got["arr"]
    assert arr["min_value"] is None and arr["max_value"] is None
    assert arr["n_nulls"] == sum(1 for i in range(120) if i % 2 == 1)
    # boolean/date/timestamp renderings match column_stats exactly
    want = _stats_map(column_stats(_df(spark)))
    for c in ("b", "d", "ts"):
        assert (got[c]["min_value"], got[c]["max_value"]) == (
            want[c]["min_value"],
            want[c]["max_value"],
        )


def test_profile_state_is_one_aggregate_scan(spark):
    """Plan shape: the grouped-scan form is a single aggregate job — no
    join, no nested loop; the merge input is state rows, never data."""
    plan = profile_state(
        _df(spark), ["k", "s", "x"], batch_expr=F.col("k") % 3
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
    merged_plan = (
        merge_profile_states(profile_state(_df(spark), ["k"]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in merged_plan


def test_incremental_profile_versioned_exactly_once(spark, tmp_path):
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        incremental_profile_versioned,
        read_agg_state,
    )

    base = str(tmp_path / "prof_state")
    cols = ["k", "s", "x"]
    incremental_profile_versioned(
        _df(spark, 0, 50), base, cols, batch_id="b1"
    )
    incremental_profile_versioned(
        _df(spark, 50, 120), base, cols, batch_id="b2"
    )
    # replaying an applied batch folds nothing
    incremental_profile_versioned(
        _df(spark, 50, 120), base, cols, batch_id="b2"
    )
    got = _stats_map(
        stats_from_state(read_agg_state(spark, base))
    )
    want = _stats_map(column_stats(_df(spark), cols))
    for c, w in want.items():
        for k in _ALGEBRAIC:
            assert got[c][k] == w[k], (c, k)
        assert got[c]["n_distinct"] == pytest.approx(
            max(w["n_distinct"], 1), rel=0.05
        ) or (w["n_distinct"] == 0 and got[c]["n_distinct"] == 0)


def test_drift_vs_profile_state_flags_planted_shift(spark, tmp_path):
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        drift_vs_profile_state,
        incremental_profile_versioned,
    )

    # STATIONARY columns (cyclic with periods dividing every batch size):
    # delta-vs-cumulative comparison is only meaningful for size-invariant
    # metrics over stationary distributions — the operator docstring's
    # whole point. Monotone ids would shift their mean by construction.
    def batch(spark, n0, n1):
        return spark.createDataFrame(
            [
                (
                    i,
                    f"cat{i % 5}",
                    None if i % 10 == 7 else float(i % 4),
                )
                for i in range(n0, n1)
            ],
            "k long, s string, x double",
        )

    base = str(tmp_path / "gate_state")
    cols = ["s", "x"]
    incremental_profile_versioned(
        batch(spark, 0, 100), base, ["k", "s", "x"], batch_id="b1"
    )
    # a same-shaped batch stays quiet (identical rates and means)
    quiet = drift_vs_profile_state(batch(spark, 100, 120), base, cols)
    assert quiet.filter(F.col("flagged")).count() == 0
    # plant a null spike in x: every value null
    bad = batch(spark, 100, 120).withColumn(
        "x", F.lit(None).cast("double")
    )
    flagged = {
        (r["column_name"], r["metric"])
        for r in drift_vs_profile_state(bad, base, cols)
        .filter(F.col("flagged"))
        .collect()
    }
    assert ("x", "null_rate") in flagged
    # the cardinality metric is opt-in here: a 20-row delta vs a 100-row
    # history "collapses" by size alone, which is exactly why it's off
    k_drift = drift_vs_profile_state(
        batch(spark, 100, 120), base, ["k"], distinct_drop=0.5
    )
    assert (
        k_drift.filter(
            (F.col("metric") == "n_distinct") & F.col("flagged")
        ).count()
        == 1
    )
    # no committed state -> explicit error, not a silent empty verdict
    with pytest.raises(Exception):
        drift_vs_profile_state(
            batch(spark, 0, 10), str(tmp_path / "nowhere"), cols
        ).count()


# ---------------------------------------------------------------------------
# Histogram state (profile.histogram_state / merge_histogram_states /
# hist_from_state + versioned hist_specs / psi_vs_hist_state)
# ---------------------------------------------------------------------------


def _hdf(spark, n0, n1):
    return spark.createDataFrame(
        [
            (
                i,
                None if i % 10 == 3 else float(i % 50),
                float("nan") if i % 17 == 4 else float(i % 9) - 2.0,
            )
            for i in range(n0, n1)
        ],
        "k long, u double, w double",
    )


def test_merged_hist_state_matches_full_histogram(spark):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        hist_from_state,
        histogram_state,
        merge_histogram_states,
        numeric_histogram,
    )

    specs = [("u", 0.0, 50.0, 10), ("w", -5.0, 10.0, 6)]
    parts = [
        histogram_state(_hdf(spark, a, b), specs)
        for a, b in ((0, 70), (70, 150), (150, 200))
    ]
    merged = merge_histogram_states(*parts)
    full = _hdf(spark, 0, 200)
    for col, lo, hi, bins in specs:
        got = sorted(
            tuple(r) for r in hist_from_state(merged, col).collect()
        )
        want = sorted(
            tuple(r) for r in numeric_histogram(full, col, lo, hi, bins).collect()
        )
        assert got == want, col  # bit-identical: integer counts, same edges


def test_histogram_state_grouped_scan_and_grid_isolation(spark):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        hist_from_state,
        histogram_state,
        merge_histogram_states,
    )

    # one grouped scan == per-slice scans
    specs = [("u", 0.0, 50.0, 10)]
    grouped = histogram_state(
        _hdf(spark, 0, 200), specs, batch_expr=F.col("k") % 2
    )
    assert {r["batch_id"] for r in grouped.collect()} == {"0", "1"}
    sep = [
        histogram_state(_hdf(spark, 0, 200).filter(F.col("k") % 2 == i), specs)
        for i in range(2)
    ]
    a = sorted(tuple(r) for r in hist_from_state(
        merge_histogram_states(grouped), "u").collect())
    b = sorted(tuple(r) for r in hist_from_state(
        merge_histogram_states(*sep), "u").collect())
    assert a == b
    # different grids never mix: same column, two grids -> separate rows
    g1 = histogram_state(_hdf(spark, 0, 100), [("u", 0.0, 50.0, 10)])
    g2 = histogram_state(_hdf(spark, 100, 200), [("u", 0.0, 100.0, 10)])
    merged = merge_histogram_states(g1, g2)
    grids = (
        merged.select("grid_lo", "grid_hi", "grid_bins").distinct().count()
    )
    assert grids == 2
    # ...and reading a column whose state holds two grids is an explicit
    # refusal, not a silent interleave of colliding bucket ids
    with pytest.raises(ValueError, match="grid"):
        hist_from_state(merged, "u")
    # a column with ONE grid in the same state still reads fine after a
    # single-grid slice
    one = merged.filter(F.col("grid_hi") == 50.0)
    assert hist_from_state(one, "u").count() > 0


def test_versioned_hist_state_and_psi_gate(spark, tmp_path):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        hist_from_state,
        histogram_state,
        numeric_histogram,
    )
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        incremental_profile_versioned,
        psi_vs_hist_state,
        read_state_part,
    )

    base = str(tmp_path / "hist_state")
    specs = [("u", 0.0, 50.0, 10)]
    incremental_profile_versioned(
        _hdf(spark, 0, 100), base, ["u"], batch_id="b1", hist_specs=specs
    )
    incremental_profile_versioned(
        _hdf(spark, 100, 200), base, ["u"], batch_id="b2", hist_specs=specs
    )
    got = sorted(
        tuple(r)
        for r in hist_from_state(read_state_part(spark, base, "hist"), "u").collect()
    )
    want = sorted(
        tuple(r)
        for r in numeric_histogram(_hdf(spark, 0, 200), "u", 0.0, 50.0, 10).collect()
    )
    assert got == want
    # same-shaped batch: tiny PSI; shape-shifted batch (all mass in one
    # bucket) flags
    quiet = psi_vs_hist_state(_hdf(spark, 200, 300), base, "u").collect()[0]
    assert not quiet["flagged"]
    shifted_df = _hdf(spark, 200, 300).withColumn("u", F.lit(1.0))
    loud = psi_vs_hist_state(shifted_df, base, "u").collect()[0]
    assert loud["flagged"] and loud["psi"] > 0.2
    # untracked column is an explicit KeyError
    with pytest.raises(KeyError):
        psi_vs_hist_state(_hdf(spark, 0, 10), base, "w").collect()
    # folding WITHOUT hist_specs on a shape-tracking sink raises instead
    # of silently dropping the committed shapes
    with pytest.raises(ValueError):
        incremental_profile_versioned(
            _hdf(spark, 200, 210), base, ["u"], batch_id="b3"
        )


def test_quantiles_from_state_interpolation_and_bounds(spark):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        histogram_state,
        merge_histogram_states,
        quantiles_from_state,
    )

    # uniform 0..99: p50 ~ 50, p90 ~ 90, within one bucket width (10)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, u double"
    )
    st = merge_histogram_states(
        histogram_state(df, [("u", 0.0, 100.0, 10)])
    )
    got = {
        r["q"]: r["value"]
        for r in quantiles_from_state(st, "u", [0.5, 0.9, 1.0]).collect()
    }
    assert got[0.5] == pytest.approx(50.0, abs=10.0)
    assert got[0.9] == pytest.approx(90.0, abs=10.0)
    assert got[1.0] == 100.0  # the full mass ends at the grid top
    # quantiles derived from MERGED per-batch states == from one state
    parts = [
        histogram_state(
            df.filter(F.col("k") % 2 == i), [("u", 0.0, 100.0, 10)]
        )
        for i in range(2)
    ]
    merged = merge_histogram_states(*parts)
    got2 = {
        r["q"]: r["value"]
        for r in quantiles_from_state(merged, "u", [0.5, 0.9, 1.0]).collect()
    }
    assert got2 == got
    # validation
    with pytest.raises(ValueError):
        quantiles_from_state(st, "u", [])
    with pytest.raises(ValueError):
        quantiles_from_state(st, "u", [0.0])
    with pytest.raises(KeyError):
        quantiles_from_state(st, "nope", [0.5])


# ---------------------------------------------------------------------------
# Heavy-hitters state (topk_state / merge_topk_states / topk_from_state)
# ---------------------------------------------------------------------------


def _zipf_df(spark, n0, n1):
    # value v_j appears ~ proportionally more for small j
    rows = []
    for i in range(n0, n1):
        j = i % 16
        v = f"v{j // 4}" if j < 12 else f"rare{i % 37}"
        rows.append((i, v))
    return spark.createDataFrame(rows, "k long, s string")


def test_topk_state_bounds_contain_exact_counts(spark):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        merge_topk_states,
        topk_state,
    )

    full = _zipf_df(spark, 0, 400)
    exact = {
        r["s"]: r["n"]
        for r in full.groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    parts = [
        topk_state(_zipf_df(spark, a, b), "s", k_track=5)
        for a, b in ((0, 150), (150, 300), (300, 400))
    ]
    merged = merge_topk_states(*parts).collect()
    assert merged  # heavy hitters survive
    for r in merged:
        assert r["n_min"] <= exact[r["value"]] <= r["n_max"], r
    # the dominant values were kept by EVERY batch -> exact bounds
    by_val = {r["value"]: r for r in merged}
    for v in ("v0", "v1", "v2"):
        assert by_val[v]["n_min"] == by_val[v]["n_max"] == exact[v]


def test_topk_from_state_matches_exact_top_values(spark):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        merge_topk_states,
        top_values,
        topk_from_state,
        topk_state,
    )

    full = _zipf_df(spark, 0, 400)
    parts = [
        topk_state(_zipf_df(spark, a, b), "s", k_track=8)
        for a, b in ((0, 150), (150, 300), (300, 400))
    ]
    got = topk_from_state(merge_topk_states(*parts), "s", k=3).collect()
    want = top_values(full, "s", k=3).collect()
    assert [(r["value"], r["value_n"], r["rank"]) for r in got] == [
        (r["value"], r["value_n"], r["rank"]) for r in want
    ]
    assert all(r["exact"] for r in got)


def test_topk_state_no_truncation_threshold_zero_and_single_batch(spark):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        merge_topk_states,
        topk_state,
    )

    df = spark.createDataFrame(
        [(i, f"v{i % 3}") for i in range(30)], "k long, s string"
    )
    st = topk_state(df, "s", k_track=10)  # 3 distinct < k_track
    assert {r["batch_min_kept"] for r in st.collect()} == {0}
    merged = merge_topk_states(st).collect()
    # no truncation anywhere -> every bound exact
    assert all(r["n_min"] == r["n_max"] == 10 for r in merged)


def test_topk_state_batch_expr_grouped_scan(spark):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        merge_topk_states,
        topk_state,
    )

    full = _zipf_df(spark, 0, 300)
    grouped = topk_state(full, "s", k_track=5, batch_expr=F.col("k") % 3)
    separate = [
        topk_state(full.filter(F.col("k") % 3 == i), "s", k_track=5)
        for i in range(3)
    ]
    a = sorted(
        tuple(r)
        for r in merge_topk_states(grouped).collect()
    )
    b = sorted(
        tuple(r)
        for r in merge_topk_states(*separate).collect()
    )
    assert a == b


def test_versioned_topk_state_accumulates_per_batch(spark, tmp_path):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        merge_topk_states,
        top_values,
        topk_from_state,
    )
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        incremental_profile_versioned,
        read_state_part,
    )

    base = str(tmp_path / "topk_state")
    specs = [("s", 8)]
    incremental_profile_versioned(
        _zipf_df(spark, 0, 200), base, ["s"], batch_id="b1",
        topk_specs=specs,
    )
    incremental_profile_versioned(
        _zipf_df(spark, 200, 400), base, ["s"], batch_id="b2",
        topk_specs=specs,
    )
    state = read_state_part(spark, base, "topk")
    assert {r["batch_id"] for r in state.select("batch_id").distinct().collect()} \
        == {"b1", "b2"}
    got = topk_from_state(merge_topk_states(state), "s", k=3).collect()
    want = top_values(_zipf_df(spark, 0, 400), "s", k=3).collect()
    assert [(r["value"], r["value_n"], r["rank"]) for r in got] == [
        (r["value"], r["value_n"], r["rank"]) for r in want
    ]
    # fold without topk_specs on a skew-tracking sink raises
    with pytest.raises(ValueError):
        incremental_profile_versioned(
            _zipf_df(spark, 400, 410), base, ["s"], batch_id="b3"
        )


def test_merge_random_partitions_differential(spark):
    """Seeded randomized differential: ANY partition of the table into
    batches, merged, must reproduce the full-table profile on every
    algebraic field (the associativity claim under arbitrary splits,
    not just the hand-picked ones above)."""
    import random

    rng = random.Random(20260815)
    full = _df(spark, 0, 150)
    want = _stats_map(column_stats(full))
    for _ in range(3):
        # random cut points -> 2-5 contiguous batches
        cuts = sorted(rng.sample(range(1, 150), rng.randint(1, 4)))
        bounds = list(zip([0] + cuts, cuts + [150]))
        parts = [profile_state(_df(spark, a, b)) for a, b in bounds]
        rng.shuffle(parts)
        got = _stats_map(stats_from_state(merge_profile_states(*parts)))
        for c, w in want.items():
            for k in _ALGEBRAIC:
                assert got[c][k] == w[k], (bounds, c, k)
