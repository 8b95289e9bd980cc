"""Behavioral funnel analysis over event streams: ordered step
progression per user (signup → click → purchase), the classic product-
analytics query family the reference's pipeline feeds but never answers
(its sink is consumed by exactly this kind of dashboard query; the
reference has no query layer at all — SURVEY.md §2, "none in reference").

Semantics (the standard greedy-earliest funnel): a user completes step k
at the EARLIEST event of the step-k type that is STRICTLY LATER than
their step-(k-1) completion time; step 1 is the user's earliest step-1
event. ``within_sec`` optionally bounds the whole journey: steps ≥ 2
must land within that many seconds of the user's step-1 time (the
windowed funnel every product-analytics engine offers). Greedy-earliest
is not "any subsequence" — it is deterministic, SQL-mirrorable, and the
convention of the funnel implementations users migrate from.

Scale shape
-----------
One column-pruned scan of events, filtered to the step types and keyed
by user. Each step beyond the first is one equi-join of the (shrinking)
per-user completion relation against the step's events plus a per-user
min — every shuffle is on the user key, every aggregate is partial
(map-side min), and the per-step relations carry one row per surviving
user. ``k`` steps ⇒ ``k`` user-keyed aggregates and ``k-1`` joins, each
over at most |users who reached the previous step| rows on one side.
No collect, no window over unbounded partitions, no per-user arrays
(an array-fold funnel caps at collect_list's per-user memory; the join
chain doesn't).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import round6


def funnel_users(
    events: DataFrame,
    steps: Sequence[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_sec: int | None = None,
) -> DataFrame:
    """Per-user funnel completion times: one row per user who completed
    at least step 1, with columns ``t_1 .. t_k`` (``t_j`` NULL once the
    user drops out — a NULL never has later steps non-NULL).

    The per-user detail feeds :func:`funnel` (the step rollup), cohort
    splits (join demographics on ``user_col``), and time-to-convert
    analyses (``t_k - t_1``)."""
    if len(steps) < 1:
        raise ValueError("need at least one funnel step")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")
    ev = events.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__t"),
        F.col(ts_col).alias("__ts"),
    ).filter(F.col("__t").isin(list(steps)))

    cur = (
        ev.filter(F.col("__t") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("t_1"))
    )
    for k, s in enumerate(steps[1:], start=2):
        step_ev = ev.filter(F.col("__t") == s).select("__u", "__ts")
        cond: Column = F.col("__ts") > F.col(f"t_{k - 1}")
        if within_sec is not None:
            cond = cond & (
                F.col("__ts")
                <= F.col("t_1") + F.expr(f"INTERVAL {int(within_sec)} SECOND")
            )
        reached = (
            step_ev.join(cur, "__u")
            .filter(cond)
            .groupBy("__u")
            .agg(
                # earlier completion times are constant per user; min()
                # carries them through without a second join back
                *[F.min(f"t_{j}").alias(f"t_{j}") for j in range(1, k)],
                F.min("__ts").alias(f"t_{k}"),
            )
        )
        # keep dropped-out users (left join back) so the relation stays
        # "everyone who entered", with NULLs from the drop-out step on
        cur = cur.join(
            reached.select("__u", f"t_{k}"), "__u", "left"
        )
    return cur.withColumnRenamed("__u", user_col)


def funnel(
    events: DataFrame,
    steps: Sequence[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_sec: int | None = None,
) -> DataFrame:
    """Step rollup of :func:`funnel_users`: one row per step —
    ``(step, event_type, n_users, conversion)`` with ``conversion`` =
    users at this step / users at step 1 (round6; 1.0 at step 1, NULL if
    nobody entered). ``n_users`` is monotonically non-increasing by
    construction."""
    per_user = funnel_users(
        events,
        steps,
        user_col=user_col,
        type_col=type_col,
        ts_col=ts_col,
        within_sec=within_sec,
    )
    counts = per_user.agg(
        *[
            F.count(F.col(f"t_{k}")).cast("long").alias(f"n_{k}")
            for k in range(1, len(steps) + 1)
        ]
    )
    rows = [
        F.struct(
            F.lit(k).cast("int").alias("step"),
            F.lit(s).alias("event_type"),
            F.col(f"n_{k}").alias("n_users"),
            F.when(
                F.col("n_1") > 0,
                round6(F.col(f"n_{k}").cast("double") / F.col("n_1")),
            ).alias("conversion"),
        )
        for k, s in enumerate(steps, start=1)
    ]
    return counts.select(F.inline(F.array(*rows)))


def retention_cohorts(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset_days: int | None = None,
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by their FIRST active
    day; each cell is how many of them were active again ``offset_days``
    later. ``(cohort_day, offset_days, n_active, cohort_size,
    retention)``, one row per non-empty cell (offset 0 always equals the
    cohort size); ``retention`` = n_active / cohort_size (round6). The
    funnel answers "do users progress?", this answers "do they come
    back?" — together the behavioral pair every event sink feeds.

    Scale shape: one column-pruned scan → per-(user, day) distinct (the
    only user-keyed shuffle; per-day activity collapses map-side), a
    cohort join against the |users|-row first-day relation, then a
    (cohort, offset)-keyed count — every aggregate partial, cell count
    bounded by days², independent of |events|. ``max_offset_days`` caps
    the matrix width (dashboards rarely read past 90)."""
    u, ts = F.col(user_col), F.col(ts_col)
    act = (
        events.select(u.alias("__u"), F.to_date(ts).alias("__day"))
        .distinct()
    )
    first = act.groupBy("__u").agg(F.min("__day").alias("cohort_day"))
    j = act.join(first, "__u").select(
        "__u",
        "cohort_day",
        F.datediff(F.col("__day"), F.col("cohort_day")).alias("offset_days"),
    )
    if max_offset_days is not None:
        j = j.filter(F.col("offset_days") <= int(max_offset_days))
    # act is distinct per (user, day) already, so the cell count needs no
    # second distinct — a plain count is the distinct-user count
    cells = j.groupBy("cohort_day", "offset_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        F.col("offset_days").cast("int").alias("offset_days"),
        "n_active",
        "cohort_size",
        round6(F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


# ---------------------------------------------------------------------------
# Incremental funnel / retention state (r9): the event sinks these
# operators target are STREAMS; recomputing the full funnel over all
# history per micro-batch is O(history) per batch. These folds maintain
# the same outputs at O(delta + |touched users|) per batch, committed
# through the versioned-sink CAS (operators/versioned.py) with
# applied-batch markers — the exactly-once contract of
# incremental_state_versioned, applied to behavioral state.
# ---------------------------------------------------------------------------


def fold_funnel_state(
    old_state: DataFrame | None,
    batch_events: DataFrame,
    steps: Sequence[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Fold one batch of events into the per-user funnel state — the
    same ``(user, t_1..t_k)`` relation :func:`funnel_users` computes,
    maintained incrementally.

    Construction: run the batch through the :func:`funnel_users` join
    chain SEEDED by the committed state — at each step,
    ``new_t_j = least(state_t_j, min(batch step-j events > new_t_{j-1}))``.
    The state's own ``t_j`` never needs re-qualifying: completion times
    are strictly increasing within a row and new times only move EARLIER
    (``new_t_{j-1} <= old_t_{j-1} < old_t_j``), so the committed time
    always remains a valid candidate. Untouched users ride through via
    an anti-join union — no per-batch rewrite of their rows' values.

    Exactness contract (the stateful-streaming trade, stated instead of
    hidden): within a batch, any event order is exact (the join chain
    sees the whole batch). ACROSS batches the fold is exact as long as a
    later batch never delivers a user's step-j event EARLIER than one of
    that user's already-discarded later-step events — the discarded
    event times are gone, exactly like late data beyond a Structured
    Streaming watermark. Event-time-ordered (or per-user monotone)
    delivery satisfies this; with heavily out-of-order history, replay
    the sink through :func:`funnel_users` instead. ``retention`` state
    (:func:`fold_retention_state`) has NO such caveat — min/distinct are
    order-free.

    ``within_sec`` is intentionally absent: a windowed funnel bound
    references t_1, and t_1 moving earlier on a later batch can
    invalidate previously-admitted steps — that variant does not fold
    exactly and would need the silent-wrongness this module refuses."""
    if len(steps) < 1:
        raise ValueError("need at least one funnel step")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")
    tcols = [f"t_{k}" for k in range(1, len(steps) + 1)]
    ev = batch_events.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__t"),
        F.col(ts_col).alias("__ts"),
    ).filter(F.col("__t").isin(list(steps)))

    # prior state restricted to users the batch touches — the fold's
    # per-batch work is O(delta + |touched users|); everyone else rides
    # through the anti-join union below untouched
    if old_state is not None:
        prior = old_state.select(
            F.col(user_col).alias("__u"),
            *[F.col(c).alias(f"__s{k}") for k, c in enumerate(tcols, 1)],
        ).join(ev.select("__u").distinct(), "__u")
    else:
        prior = None

    cur = (
        ev.filter(F.col("__t") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("__b1"))
    )
    if prior is not None:
        cur = cur.join(prior, "__u", "full").select(
            "__u",
            F.least("__s1", "__b1").alias("t_1"),
            *[F.col(f"__s{k}") for k in range(2, len(steps) + 1)],
        )
    else:
        cur = cur.select(
            "__u", F.col("__b1").alias("t_1"),
            *[F.lit(None).cast("timestamp").alias(f"__s{k}")
              for k in range(2, len(steps) + 1)],
        )
    for k, s in enumerate(steps[1:], start=2):
        batch_k = (
            ev.filter(F.col("__t") == s)
            .join(cur.select("__u", f"t_{k - 1}"), "__u")
            .filter(F.col("__ts") > F.col(f"t_{k - 1}"))
            .groupBy("__u")
            .agg(F.min("__ts").alias("__bk"))
        )
        carried = [f"t_{j}" for j in range(1, k)]
        later = [f"__s{j}" for j in range(k + 1, len(steps) + 1)]
        cur = cur.join(batch_k, "__u", "left").select(
            "__u",
            *carried,
            F.least(F.col(f"__s{k}"), F.col("__bk")).alias(f"t_{k}"),
            *later,
        )
    folded = cur.select(F.col("__u").alias(user_col), *tcols)
    if old_state is None:
        return folded
    untouched = old_state.join(
        folded.select(F.col(user_col)), user_col, "left_anti"
    )
    return folded.unionByName(untouched)


def funnel_from_state(state: DataFrame, steps: Sequence[str]) -> DataFrame:
    """:func:`funnel`'s step rollup off a committed funnel state — zero
    event rescans (one aggregate over the |users|-row state)."""
    counts = state.agg(
        *[
            F.count(F.col(f"t_{k}")).cast("long").alias(f"n_{k}")
            for k in range(1, len(steps) + 1)
        ]
    )
    rows = [
        F.struct(
            F.lit(k).cast("int").alias("step"),
            F.lit(s).alias("event_type"),
            F.col(f"n_{k}").alias("n_users"),
            F.when(
                F.col("n_1") > 0,
                round6(F.col(f"n_{k}").cast("double") / F.col("n_1")),
            ).alias("conversion"),
        )
        for k, s in enumerate(steps, start=1)
    ]
    return counts.select(F.inline(F.array(*rows)))


def fold_retention_state(
    old_state: DataFrame | None,
    batch_events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Fold one batch into the retention state: the distinct
    ``(user, day)`` activity relation — exactly the intermediate
    :func:`retention_cohorts` builds, maintained as state. min/distinct
    are order- and replay-free, so unlike the funnel fold this is exact
    under ARBITRARY batch arrival order. State size is |users × active
    days| — the same relation a from-scratch recompute shuffles every
    night, paid once here."""
    act = (
        batch_events.select(
            F.col(user_col).alias("user_id"),
            F.to_date(F.col(ts_col)).alias("day"),
        ).distinct()
    )
    if old_state is None:
        return act
    return old_state.unionByName(act).distinct()


def retention_from_state(
    state: DataFrame, *, max_offset_days: int | None = None
) -> DataFrame:
    """:func:`retention_cohorts`' matrix off a committed activity state
    — zero event rescans; bit-identical to the batch operator over the
    same events (both reduce through the identical distinct
    (user, day) relation)."""
    first = state.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = state.join(first, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff(F.col("day"), F.col("cohort_day")).alias("offset_days"),
    )
    if max_offset_days is not None:
        j = j.filter(F.col("offset_days") <= int(max_offset_days))
    cells = j.groupBy("cohort_day", "offset_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        F.col("offset_days").cast("int").alias("offset_days"),
        "n_active",
        "cohort_size",
        round6(F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )
