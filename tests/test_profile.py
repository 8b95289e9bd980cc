"""Table-profiling operators (operators/profile.py): single-pass column
stats, fixed-grid histograms, top-k values.

Checks the documented NULL/empty/edge policies directly (the driver row
`table_profile_orders` covers the cross-engine arithmetic), plus the plan
shapes the scale notes promise: one aggregate job for the whole stats block,
TakeOrdered (not a global sort) for top-k.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from youtube_api_data_etl_automation_spark.operators.profile import (
    column_stats,
    numeric_histogram,
    top_values,
)

_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
    ]
)


def _df(spark):
    rows = [
        (1, "aa", 1.5, datetime.datetime(2024, 1, 2, 3, 4, 5), [1, 2]),
        (2, "bbbb", 2.5, datetime.datetime(2024, 6, 7, 8, 9, 10), [3]),
        (3, None, None, None, None),
        (4, "aa", -1.0, datetime.datetime(2023, 12, 31, 23, 59, 59), []),
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def test_column_stats_values(spark):
    out = {r["column_name"]: r for r in column_stats(_df(spark)).collect()}
    assert set(out) == {"k", "s", "x", "ts", "arr"}
    k = out["k"]
    assert (k["dtype"], k["n_rows"], k["n_nulls"], k["n_distinct"]) == (
        "bigint", 4, 0, 4,
    )
    assert (k["min_value"], k["max_value"], k["avg_value"]) == ("1", "4", 2.5)
    assert k["avg_len"] is None
    s = out["s"]
    assert (s["n_nulls"], s["n_distinct"]) == (1, 2)
    assert (s["min_value"], s["max_value"]) == ("aa", "bbbb")
    # mean length over the 3 non-null strings: (2 + 4 + 2) / 3
    assert s["avg_len"] == pytest.approx(8 / 3, abs=1e-6)
    assert s["avg_value"] is None
    x = out["x"]
    # fractional min/max render via decimal(24,6) — fixed scale, no
    # engine-specific float formatting
    assert (x["min_value"], x["max_value"]) == ("-1.000000", "2.500000")
    assert x["avg_value"] == pytest.approx(1.0, abs=1e-9)
    ts = out["ts"]
    assert ts["min_value"] == "2023-12-31 23:59:59"
    assert ts["max_value"] == "2024-06-07 08:09:10"
    # no portable rendering for arrays: NULL min/max, but null/distinct
    # counts still real
    arr = out["arr"]
    assert (arr["min_value"], arr["max_value"]) == (None, None)
    assert (arr["n_nulls"], arr["n_distinct"]) == (1, 3)


def test_column_stats_empty_and_all_null(spark):
    empty = spark.createDataFrame([], _SCHEMA)
    for r in column_stats(empty, ["k", "s"]).collect():
        assert r["n_rows"] == 0 and r["n_nulls"] == 0 and r["n_distinct"] == 0
        assert r["min_value"] is None and r["avg_value"] is None
    rows = [(None, None, None, None, None)]
    out = {r["column_name"]: r for r in
           column_stats(spark.createDataFrame(rows, _SCHEMA)).collect()}
    assert out["k"]["n_nulls"] == 1 and out["k"]["n_distinct"] == 0
    assert out["k"]["avg_value"] is None and out["s"]["avg_len"] is None


def test_column_stats_unknown_column(spark):
    with pytest.raises(KeyError, match="nope"):
        column_stats(_df(spark), ["k", "nope"])


def test_profile_ops_accept_dotted_column_names(spark):
    """Flattened-JSON ingests carry literal dots in column names; the
    profiler must treat them as plain names, not struct-field paths."""
    df = spark.range(0, 10).select(
        (F.col("id") % 3).alias("payload.id"),
        (F.col("id") * 1.0).alias("m.x"),
    )
    stats = {r["column_name"]: r for r in column_stats(df).collect()}
    assert stats["payload.id"]["n_distinct"] == 3
    assert stats["m.x"]["avg_value"] == pytest.approx(4.5, abs=1e-9)
    hist = numeric_histogram(df, "m.x", 0.0, 10.0, 2).collect()
    assert sum(r["bucket_n"] for r in hist) == 10
    top = top_values(df, "payload.id", k=2).collect()
    assert [r["value"] for r in top] == ["0", "1"]


def test_column_stats_one_agg_job(spark):
    """Exact mode is exactly TWO aggregate pipelines (plain stats fold +
    the split distinct-only HashAggregate, union-folded — see
    profile._merge_nd for why one fused aggregate would sort the
    (n_cols+1)×N Expand stream) over two scans and three exchanges; approx
    mode fuses back to ONE scan and ONE exchange. Never one scan/job per
    column, and never a Sort operator anywhere."""
    exact = column_stats(_df(spark))._jdf.queryExecution().executedPlan().toString()
    assert exact.count("Scan ExistingRDD") == 2
    assert exact.count("Exchange") == 3
    assert "Sort " not in exact and "BroadcastNestedLoopJoin" not in exact
    approx = (
        column_stats(_df(spark), exact_distinct=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert approx.count("Scan ExistingRDD") == 1
    assert approx.count("Exchange") == 1


def test_column_stats_approx_mode_drops_expand(spark):
    exact = column_stats(_df(spark))._jdf.queryExecution().executedPlan().toString()
    approx = (
        column_stats(_df(spark), exact_distinct=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact  # multi-distinct fixture mode
    assert "Expand" not in approx  # HLL partials: the 100 TB mode
    # approx cardinalities still sane on a tiny relation
    out = {r["column_name"]: r for r in
           column_stats(_df(spark), exact_distinct=False).collect()}
    assert out["k"]["n_distinct"] == 4


def test_numeric_histogram_clamps_and_totals(spark):
    df = spark.range(0, 100).select((F.col("id") * 1.0).alias("v"))
    # grid [10, 90) x 8 bins; values <10 and >=90 clamp into edge buckets
    hist = numeric_histogram(df, "v", 10.0, 90.0, 8).collect()
    by_bucket = {r["bucket"]: r for r in hist}
    assert sum(r["bucket_n"] for r in hist) == 100  # no rows lost
    assert by_bucket[0]["bucket_n"] == 20  # 0..19 (10 clamped + 10 in-range)
    assert by_bucket[7]["bucket_n"] == 20  # 80..99
    assert all(by_bucket[b]["bucket_n"] == 10 for b in range(1, 7))
    assert by_bucket[3]["bucket_lo"] == 40.0 and by_bucket[3]["bucket_hi"] == 50.0


def test_numeric_histogram_drops_nulls_and_nans_and_validates(spark):
    df = spark.createDataFrame(
        [Row(v=1.0), Row(v=None), Row(v=2.0), Row(v=float("nan"))]
    )
    # NaN must NOT be counted (floor(NaN)->0 would silently bin it as a
    # small value); only the two finite rows land
    hist = numeric_histogram(df, "v", 0.0, 4.0, 4).collect()
    assert sum(r["bucket_n"] for r in hist) == 2
    with pytest.raises(ValueError, match="bins"):
        numeric_histogram(df, "v", 0.0, 4.0, 0)
    with pytest.raises(ValueError, match="hi > lo"):
        numeric_histogram(df, "v", 4.0, 4.0, 2)


def test_top_values_rank_and_ties(spark):
    rows = [Row(c=v) for v in
            ["b"] * 3 + ["a"] * 3 + ["c"] * 2 + ["d"] * 1 + [None] * 5]
    df = spark.createDataFrame(rows)
    got = [(r["value"], r["value_n"], r["rank"])
           for r in top_values(df, "c", k=3).collect()]
    # tie between a and b broken by value ascending; NULLs never counted
    assert sorted(got, key=lambda t: t[2]) == [
        ("a", 3, 1), ("b", 3, 2), ("c", 2, 3),
    ]
    with pytest.raises(ValueError, match="k must be"):
        top_values(df, "c", k=0)


def test_top_values_take_ordered_not_global_sort(spark):
    df = spark.range(0, 1000).select((F.col("id") % 7).cast("string").alias("c"))
    plan = top_values(df, "c", k=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# fused_profile: stats + checks + histogram in ONE aggregate over ONE scan
# ---------------------------------------------------------------------------


def _fused_inputs():
    from youtube_api_data_etl_automation_spark.operators.expectations import (
        in_range,
        not_null,
        unique,
    )

    return (
        ["k", "s", "x", "ts", "arr"],
        [not_null("s"), unique("k"), in_range("x", 0.0, 2.0)],
        [("x", 0.0, 4.0, 4)],
    )


def test_fused_profile_matches_components(spark):
    """Section-by-section differential: the fused relation must equal the
    component operators' outputs exactly (same arithmetic, same NULL/NaN
    policy, same absent-empty-bucket shape)."""
    from youtube_api_data_etl_automation_spark.operators.expectations import (
        run_checks,
    )
    from youtube_api_data_etl_automation_spark.operators.profile import (
        fused_profile,
    )

    df = _df(spark)
    cols, checks, hists = _fused_inputs()
    out = fused_profile(df, cols, checks=checks, hists=hists).collect()
    by_section = {}
    for r in out:
        by_section.setdefault(r["section"], []).append(r)

    want_stats = {tuple(r) for r in column_stats(df, cols).collect()}
    got_stats = {
        (r["column_name"], r["dtype"], r["n_rows"], r["n_nulls"],
         r["n_distinct"], r["min_value"], r["max_value"], r["avg_value"],
         r["avg_len"])
        for r in by_section["stats"]
    }
    assert got_stats == want_stats

    want_checks = {tuple(r) for r in run_checks(df, checks).collect()}
    got_checks = {
        (r["check"], r["column_name"], r["n_rows"], r["n_violations"],
         r["passed"])
        for r in by_section["checks"]
    }
    assert got_checks == want_checks

    want_hist = {tuple(r) for r in
                 numeric_histogram(df, "x", 0.0, 4.0, 4).collect()}
    got_hist = {
        (r["bucket"], r["bucket_lo"], r["bucket_hi"], r["bucket_n"])
        for r in by_section["hist"]
    }
    assert got_hist == want_hist  # x = 1.5, 2.5 land; NULL dropped; b3 absent


def test_fused_profile_is_two_aggs_no_sort(spark):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        fused_profile,
    )

    df = _df(spark)
    cols, checks, hists = _fused_inputs()
    plan = (
        fused_profile(df, cols, checks=checks, hists=hists)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exact mode: plain fold + split distinct-only HashAggregate
    # (profile._merge_nd) — two scans, three exchanges, and crucially no
    # Sort (the fused single-agg alternative sorts the whole Expand
    # stream) and no nested-loop join from the 1-row merge
    assert plan.count("Scan ExistingRDD") == 2
    assert plan.count("Exchange") == 3
    assert "Sort " not in plan and "BroadcastNestedLoopJoin" not in plan
    approx = (
        fused_profile(
            df, cols, checks=checks, hists=hists, exact_distinct=False
        )._jdf.queryExecution().executedPlan().toString()
    )
    # `unique` still needs one exact distinct, split to the side agg for
    # the same no-sort reason; stats cardinalities go HLL in the fold
    assert approx.count("Scan ExistingRDD") == 2
    assert "Sort " not in approx


def test_fused_profile_seeded_random_differential(spark):
    """300 seeded random rows with the adversarial cases (NULL keys, dup
    groups, NaN doubles, empty strings): fused output must equal the
    component operators' row sets exactly, section by section — one
    generation, three comparisons, so the whole sweep is a handful of
    Spark jobs."""
    import random

    from youtube_api_data_etl_automation_spark.operators.expectations import (
        run_checks,
    )
    from youtube_api_data_etl_automation_spark.operators.profile import (
        fused_profile,
    )

    rnd = random.Random(20260814)
    rows = []
    for _ in range(300):
        k = rnd.choice([None] + list(range(40)))
        s = rnd.choice([None, "", "a", "bb", "ccc", "dddd"])
        x = rnd.choice([None, float("nan")] + [round(rnd.uniform(-5, 10), 3)])
        rows.append((k, s, x, None, None))
    df = spark.createDataFrame(rows, _SCHEMA)
    cols, checks, hists = _fused_inputs()
    out = fused_profile(df, cols, checks=checks, hists=hists).collect()
    by_section = {}
    for r in out:
        by_section.setdefault(r["section"], []).append(r)
    want_stats = {tuple(r) for r in column_stats(df, cols).collect()}
    got_stats = {
        (r["column_name"], r["dtype"], r["n_rows"], r["n_nulls"],
         r["n_distinct"], r["min_value"], r["max_value"], r["avg_value"],
         r["avg_len"])
        for r in by_section["stats"]
    }
    assert got_stats == want_stats
    want_checks = {tuple(r) for r in run_checks(df, checks).collect()}
    got_checks = {
        (r["check"], r["column_name"], r["n_rows"], r["n_violations"],
         r["passed"])
        for r in by_section["checks"]
    }
    assert got_checks == want_checks
    want_hist = {tuple(r) for r in
                 numeric_histogram(df, "x", 0.0, 4.0, 4).collect()}
    got_hist = {
        (r["bucket"], r["bucket_lo"], r["bucket_hi"], r["bucket_n"])
        for r in by_section["hist"]
    }
    assert got_hist == want_hist


def test_fused_profile_rejects_fk_checks(spark):
    from youtube_api_data_etl_automation_spark.operators.expectations import (
        foreign_key,
    )
    from youtube_api_data_etl_automation_spark.operators.profile import (
        fused_profile,
    )

    dim = spark.createDataFrame([Row(d=1)])
    with pytest.raises(ValueError, match="join-based"):
        fused_profile(_df(spark), ["k"], checks=[foreign_key("k", dim, "d")])


# ---------------------------------------------------------------------------
# profile_drift: batch-over-batch monitoring between two stats relations
# ---------------------------------------------------------------------------


def _drift(spark, prev_rows, cur_rows):
    from youtube_api_data_etl_automation_spark.operators.profile import (
        profile_drift,
    )

    prev = column_stats(spark.createDataFrame(prev_rows, _SCHEMA), ["k", "s", "x"])
    cur = column_stats(spark.createDataFrame(cur_rows, _SCHEMA), ["k", "s", "x"])
    return {
        (r["column_name"], r["metric"]): r
        for r in profile_drift(cur, prev).collect()
    }


def test_profile_drift_flags_null_spike_and_distinct_collapse(spark):
    prev = [(i, f"s{i}", float(i), None, None) for i in range(20)]
    # current batch: half the s values went NULL; k collapsed to one value
    cur = [(1, f"s{i}" if i % 2 else None, float(i), None, None)
           for i in range(20)]
    out = _drift(spark, prev, cur)
    assert len(out) == 9  # 3 columns x 3 metrics
    s_null = out[("s", "null_rate")]
    assert s_null["prev_value"] == 0.0 and s_null["cur_value"] == 0.5
    assert s_null["flagged"] is True
    k_nd = out[("k", "n_distinct")]
    assert (k_nd["prev_value"], k_nd["cur_value"]) == (20.0, 1.0)
    assert k_nd["flagged"] is True  # 0.05 ratio < 0.5 drop threshold
    # x unchanged: nothing flags on it
    assert not any(out[("x", m)]["flagged"]
                   for m in ("null_rate", "n_distinct", "avg_value"))
    # string column has NULL means: avg_value never flags
    assert out[("s", "avg_value")]["flagged"] is False
    assert out[("s", "avg_value")]["delta"] is None


def test_profile_drift_mean_shift_and_growth_tolerance(spark):
    prev = [(i, "a", 10.0, None, None) for i in range(10)]
    # mean doubled (rel shift 1.0 > 0.25); distinct GREW (never flags)
    cur = [(i + 100, "a", 20.0, None, None) for i in range(30)]
    out = _drift(spark, prev, cur)
    x_avg = out[("x", "avg_value")]
    assert x_avg["flagged"] is True and x_avg["delta"] == pytest.approx(1.0)
    assert out[("k", "n_distinct")]["flagged"] is False  # growth is normal
    # prev empty-side guards: empty prev relation -> rate 0, no crash
    from youtube_api_data_etl_automation_spark.operators.profile import (
        profile_drift,
    )

    empty_stats = column_stats(
        spark.createDataFrame([], _SCHEMA), ["k", "s", "x"]
    )
    cur_stats = column_stats(spark.createDataFrame(cur, _SCHEMA), ["k", "s", "x"])
    rows = {
        (r["column_name"], r["metric"]): r
        for r in profile_drift(cur_stats, empty_stats).collect()
    }
    assert rows[("x", "null_rate")]["prev_value"] == 0.0
    assert rows[("x", "n_distinct")]["flagged"] is False  # prev had none
    assert rows[("x", "avg_value")]["flagged"] is False  # NULL prev mean


def test_histogram_drift_psi(spark):
    """PSI over two same-grid histograms: identical distributions score
    ~0; a symmetric variance blow-up (mean UNCHANGED — invisible to
    profile_drift's moment checks) flags; a bucket emptying on one side
    takes the epsilon path and stays finite."""
    from youtube_api_data_etl_automation_spark.operators.profile import (
        histogram_drift,
        profile_drift,
    )

    def h(vals):
        df = spark.createDataFrame([(float(v),) for v in vals], "x double")
        return numeric_histogram(df, "x", 0.0, 10.0, 10)

    base = [5.0] * 40 + [4.0] * 30 + [6.0] * 30
    same = histogram_drift(h(base), h(base)).collect()[0]
    assert same["psi"] == pytest.approx(0.0, abs=1e-9)
    assert same["flagged"] is False
    assert (same["prev_total"], same["cur_total"]) == (100, 100)

    # same mean (5.0), exploded spread: moments quiet, PSI loud
    wide = [5.0] * 20 + [1.0] * 40 + [9.0] * 40
    psi_row = histogram_drift(h(wide), h(base)).collect()[0]
    assert psi_row["flagged"] is True and psi_row["psi"] > 0.25
    stats_prev = column_stats(
        spark.createDataFrame([(float(v),) for v in base], "x double")
    )
    stats_cur = column_stats(
        spark.createDataFrame([(float(v),) for v in wide], "x double")
    )
    moment = {r["metric"]: r for r in
              profile_drift(stats_cur, stats_prev).collect()}
    assert moment["avg_value"]["flagged"] is False  # mean moved 0%

    # one-sided bucket: epsilon smoothing keeps the term finite
    import math

    one_sided = histogram_drift(h([1.0] * 100), h([9.0] * 100)).collect()[0]
    assert math.isfinite(one_sided["psi"]) and one_sided["flagged"] is True


def test_histogram_drift_rejects_mismatched_grids(spark):
    """The grid guard is lazy (an eager check would re-materialize both
    histogram lineages — two extra table scans): the raise_error branch
    fires at execution, and the plan stays a single pass."""
    from youtube_api_data_etl_automation_spark.operators.profile import (
        histogram_drift,
    )

    df = spark.createDataFrame([(float(v),) for v in range(10)], "x double")
    a = numeric_histogram(df, "x", 0.0, 10.0, 5)
    b = numeric_histogram(df, "x", 0.0, 20.0, 5)
    with pytest.raises(Exception, match="grids disagree"):
        histogram_drift(a, b).collect()
    # one source scan per histogram side, not two (no eager validation)
    plan = (
        histogram_drift(a, numeric_histogram(df, "x", 0.0, 10.0, 5))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan ExistingRDD") == 2


def test_fused_profile_empty_relation(spark):
    """Empty input: stats rows with zero counts, checks rows all passing,
    hist section empty — mirroring each component's empty behavior."""
    from youtube_api_data_etl_automation_spark.operators.profile import (
        fused_profile,
    )

    cols, checks, hists = _fused_inputs()
    out = fused_profile(
        spark.createDataFrame([], _SCHEMA), cols, checks=checks, hists=hists
    ).collect()
    sections = {r["section"] for r in out}
    assert "hist" not in sections
    assert all(r["n_rows"] == 0 for r in out if r["section"] == "stats")
    assert all(
        r["passed"] and r["n_violations"] == 0
        for r in out if r["section"] == "checks"
    )


# ---------------------------------------------------------------------------
# Semantic drift (operators/clustering.py::_occupancy_counts/embedding_drift)
# ---------------------------------------------------------------------------


def _emb_df(spark, n=60, dim=4, negate=False):
    import math

    rows = []
    for i in range(n):
        # SKEWED occupancy: everything hugs axis 0 with small noise on the
        # other axes — negation then scatters assignments across axes
        # 1..3 (cosine to centroid 0 becomes ≈ −1), a real occupancy shift
        v = [1.0] + [0.1 * math.cos(i + j) for j in range(1, dim)]
        if negate:
            v = [-x for x in v]
        rows.append((i, v))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _cent_df(spark, k=4, dim=4):
    rows = [
        (c, [1.0 if j == c else 0.0 for j in range(dim)]) for c in range(k)
    ]
    return spark.createDataFrame(rows, "cluster_id long, cv array<double>")


def _occupancy(corpus, centroids):
    """Occupancy histogram of ``corpus`` over a centroid relation."""
    from youtube_api_data_etl_automation_spark.operators.clustering import (
        _occupancy_counts,
    )
    from youtube_api_data_etl_automation_spark.operators.similarity import (
        _collect_centroids,
    )

    cids, cvs, id_dt = _collect_centroids(centroids, "cluster_id", "cv")
    return _occupancy_counts(corpus, cids, cvs, id_dt, "embedding")


def test_cluster_occupancy_counts_every_vector_once(spark):
    occ = _occupancy(_emb_df(spark), _cent_df(spark)).collect()
    assert sum(r["n"] for r in occ) == 60
    assert all(0 <= r["cluster_id"] <= 3 for r in occ)


def test_embedding_drift_quiet_on_identical_flagged_on_negated(spark):
    from youtube_api_data_etl_automation_spark.operators.clustering import (
        embedding_drift,
    )

    cent = _cent_df(spark)
    same = embedding_drift(
        _emb_df(spark), _emb_df(spark), cent
    ).collect()[0]
    assert same["psi"] == pytest.approx(0.0, abs=1e-9)
    assert not same["flagged"]
    assert same["prev_total"] == same["cur_total"] == 60
    # negation flips every assignment to the most-anti-similar centroid
    shifted = embedding_drift(
        _emb_df(spark, negate=True), _emb_df(spark), cent
    ).collect()[0]
    assert shifted["flagged"] and shifted["psi"] > 0.2


def test_embedding_drift_composition_matches_manual_psi(spark):
    """embedding_drift == histogram_drift over the occupancy relations —
    the composition introduces no arithmetic of its own."""
    from youtube_api_data_etl_automation_spark.operators.clustering import (
        embedding_drift,
    )
    from youtube_api_data_etl_automation_spark.operators.profile import (
        histogram_drift,
    )

    cent = _cent_df(spark)
    cur, prev = _emb_df(spark, negate=True), _emb_df(spark)

    def hist(df):
        return _occupancy(df, cent).select(
            F.col("cluster_id").cast("int").alias("bucket"),
            F.col("cluster_id").cast("double").alias("bucket_lo"),
            (F.col("cluster_id") + 1).cast("double").alias("bucket_hi"),
            F.col("n").alias("bucket_n"),
        )

    a = embedding_drift(cur, prev, cent).collect()[0]
    b = histogram_drift(hist(cur), hist(prev)).collect()[0]
    assert a.asDict() == b.asDict()


def test_embedding_drift_corpus_never_shuffles_vectors(spark):
    """Plan pin on the occupancy side: assignment is a broadcast join
    (sanctioned tiny-side BNLJ, same as clustering/semantic_neardup), no
    sort-merge join, and the max_by carries only the cluster id — the
    embedding column never appears in an exchange. (embedding_drift's
    OWN plan does contain one SortMergeJoin: histogram_drift's ≤k-row
    full-outer bucket join, documented there.)"""
    plan = (
        _occupancy(_emb_df(spark), _cent_df(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    # the embedding column dies map-side: no aggregate buffer or exchange
    # row carries it (max_by output is the bare cluster id)
    import re

    agg_lines = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln or "HashAggregate" in ln
    ]
    assert agg_lines and not any("embedding" in ln for ln in agg_lines)
