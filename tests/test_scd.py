"""SCD2 history assembly (operators/scd.py): version runs, null-safe
change detection, interval chaining, and the as-of lookup."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.scd import (
    scd2_history,
)


def _hist(spark, rows):
    obs = spark.createDataFrame(rows, "k long, attr string, d int, tie int")
    return scd2_history(
        obs, key_cols=["k"], attr_cols=["attr"], order_cols=["d", "tie"]
    )


def test_runs_collapse_and_intervals_chain(spark):
    rows = [
        (1, "A", 1, 0),
        (1, "A", 2, 0),
        (1, "B", 3, 0),
        (1, "B", 4, 0),
        (1, "A", 5, 0),
    ]
    out = _hist(spark, rows).orderBy("scd_version").collect()
    assert [(r["scd_version"], r["attr"], r["valid_from"], r["valid_to"],
             r["n_observations"], r["is_current"]) for r in out] == [
        (1, "A", 1, 3, 2, 0),
        (2, "B", 3, 5, 2, 0),
        (3, "A", 5, None, 1, 1),
    ]


def test_null_transitions_open_versions(spark):
    rows = [(1, None, 1, 0), (1, None, 2, 0), (1, "X", 3, 0), (1, None, 4, 0)]
    out = _hist(spark, rows).orderBy("scd_version").collect()
    assert [(r["scd_version"], r["attr"]) for r in out] == [
        (1, None),
        (2, "X"),
        (3, None),
    ]
    # NULL-run collapses into one version (null-safe equality).
    assert out[0]["n_observations"] == 2


def test_single_observation_is_current_version_one(spark):
    out = _hist(spark, [(7, "Z", 10, 0)]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["scd_version"], r["valid_to"], r["is_current"]) == (1, None, 1)


def test_keys_are_independent(spark):
    rows = [(1, "A", 1, 0), (1, "B", 2, 0), (2, "A", 1, 0), (2, "A", 2, 0)]
    out = _hist(spark, rows)
    assert out.filter(F.col("k") == 1).count() == 2
    assert out.filter(F.col("k") == 2).count() == 1


def test_tie_breaker_makes_same_day_changes_deterministic(spark):
    # Two observations on the same d: the tie column orders them.
    rows = [(1, "A", 1, 1), (1, "B", 1, 2), (1, "B", 2, 1)]
    out = _hist(spark, rows).orderBy("scd_version").collect()
    assert [(r["scd_version"], r["attr"], r["n_observations"]) for r in out] == [
        (1, "A", 1),
        (2, "B", 2),
    ]
    # Version 2 opens on the same d its predecessor opened.
    assert out[1]["valid_from"] == 1


def test_partitioning_invariance(spark):
    rows = [
        (k, attr, d, 0)
        for k in range(1, 30)
        for d, attr in enumerate(["A", "A", "B", "C", "C", "A"][: (k % 6) + 1])
    ]
    obs = spark.createDataFrame(rows, "k long, attr string, d int, tie int")
    a = scd2_history(obs.repartition(1), key_cols=["k"], attr_cols=["attr"],
                     order_cols=["d", "tie"])
    b = scd2_history(obs.repartition(17), key_cols=["k"], attr_cols=["attr"],
                     order_cols=["d", "tie"])
    assert a.exceptAll(b).union(b.exceptAll(a)).count() == 0


# ---- property: SCD2 assembly vs a pure-Python reference -------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_obs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),          # key
        st.sampled_from(["A", "B", "C", None]),         # attr (incl. NULL)
        st.integers(min_value=1, max_value=12),         # d
    ),
    min_size=1,
    max_size=40,
)


def _py_scd2(rows):
    """Reference implementation: per key, order by (d, tie), collapse
    null-safe-equal runs, chain intervals."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for tie, (k, a, d) in enumerate(rows):
        by_key[k].append((d, tie, a))
    out = []
    for k, obs in by_key.items():
        obs.sort(key=lambda x: (x[0], x[1]))
        runs = []  # (attr, valid_from, n)
        for d, _tie, a in obs:
            if runs and runs[-1][0] == a:
                runs[-1][2] += 1
            else:
                runs.append([a, d, 1])
        for i, (a, vf, n) in enumerate(runs):
            vt = runs[i + 1][1] if i + 1 < len(runs) else None
            out.append((k, i + 1, a, vf, vt, n, 1 if vt is None else 0))
    return sorted(out)


@given(_obs_strategy)
@settings(max_examples=10, deadline=None)
def test_scd2_matches_python_reference(spark, rows):
    data = [(k, a, d, tie) for tie, (k, a, d) in enumerate(rows)]
    obs = spark.createDataFrame(data, "k long, attr string, d int, tie int")
    hist = scd2_history(
        obs, key_cols=["k"], attr_cols=["attr"], order_cols=["d", "tie"]
    )
    got = sorted(
        (r["k"], r["scd_version"], r["attr"], r["valid_from"], r["valid_to"],
         r["n_observations"], r["is_current"])
        for r in hist.collect()
    )
    assert got == _py_scd2(rows)
