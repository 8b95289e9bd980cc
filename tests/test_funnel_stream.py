"""Incremental funnel/retention state (operators/funnel.py r9 folds):
folds match the batch operators, and readouts come off the folded state
with zero event rescans."""

from __future__ import annotations

from datetime import datetime

from youtube_api_data_etl_automation_spark.operators.funnel import (
    fold_funnel_state,
    fold_retention_state,
    funnel,
    funnel_from_state,
    funnel_users,
    retention_cohorts,
    retention_from_state,
)

STEPS = ["signup", "click", "purchase"]
SCHEMA = "user_id long, event_type string, ts timestamp"


def _ts(day, hour=0):
    return datetime(2024, 3, day, hour)


# batch 1 / batch 2 honor the fold's cross-batch contract (per-user
# event-time-monotone delivery); within each batch order is scrambled
BATCH1 = [
    (1, "signup", _ts(1)), (1, "click", _ts(2)),
    (2, "click", _ts(1)), (2, "signup", _ts(2)),   # click precedes signup
    (3, "signup", _ts(1)), (3, "click", _ts(1)),   # same-instant: not LATER
    (4, "signup", _ts(2)), (4, "purchase", _ts(3)),  # skips click
    (5, "browse", _ts(1)),                          # non-step noise
]
BATCH2 = [
    (1, "purchase", _ts(5)),                        # completes across batches
    (2, "click", _ts(4)),                           # now qualifies
    (6, "signup", _ts(4)), (6, "click", _ts(5)), (6, "purchase", _ts(5, 1)),
    (4, "click", _ts(6)),                           # late click, no purchase after
]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def test_fold_matches_batch_funnel_across_two_batches(spark):
    s1 = fold_funnel_state(None, _df(spark, BATCH1), STEPS)
    s2 = fold_funnel_state(s1, _df(spark, BATCH2), STEPS)
    want = funnel_users(_df(spark, BATCH1 + BATCH2), STEPS)
    assert _sorted(s2) == _sorted(want)
    # and the rollup off the state equals the batch rollup
    assert _sorted(funnel_from_state(s2, STEPS)) == _sorted(
        funnel(_df(spark, BATCH1 + BATCH2), STEPS)
    )
    # spot-check the semantics the fixture plants: user 2's click at
    # day 1 precedes signup (ineligible), the day-4 click qualifies
    r2 = {r.user_id: r for r in s2.collect()}[2]
    assert r2.t_1 == _ts(2) and r2.t_2 == _ts(4) and r2.t_3 is None
    # user 3: same-instant click is NOT strictly later
    r3 = {r.user_id: r for r in s2.collect()}[3]
    assert r3.t_2 is None


def test_fold_single_batch_equals_funnel_users(spark):
    rows = BATCH1 + [(7, "purchase", _ts(1)), (7, "signup", _ts(2)),
                     (7, "click", _ts(3)), (7, "purchase", _ts(4))]
    got = fold_funnel_state(None, _df(spark, rows), STEPS)
    assert _sorted(got) == _sorted(funnel_users(_df(spark, rows), STEPS))


def test_retention_fold_exact_under_any_order(spark):
    rows = [
        (u, "e", _ts(d, h))
        for u, d, h in [(1, 1, 0), (1, 1, 5), (1, 3, 0), (2, 2, 0),
                        (2, 4, 1), (3, 1, 2), (3, 2, 0), (3, 3, 0)]
    ]
    # adversarial split: batch 2 delivers EARLIER events than batch 1 —
    # min/distinct state is order-free, unlike the funnel fold
    b1, b2 = rows[1::2], rows[0::2]
    s = fold_retention_state(None, _df(spark, b1))
    s = fold_retention_state(s, _df(spark, b2))
    got = _sorted(retention_from_state(s))
    want = _sorted(retention_cohorts(_df(spark, rows)))
    assert got == want and len(got) > 0
