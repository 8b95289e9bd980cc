"""Relational operator surface: joins, aggregation, windows, set ops, sorts.

Anchored on the reference's operator inventory (SURVEY.md §2.2-§2.5) and
widened to the standard Spark surface the reference implies but computes
upstream (per-channel aggregates — fetch_youtube_data.py:65-67 fetches them
precomputed; here we actually compute the analogous aggregations).

Scale notes are attached per query: which side broadcasts, where the shuffle
is, and why the plan survives 100 TB (the sf tables stand in for the big
fact tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round6, sql_round6
from ..sources.tables import load_table
from .registry import query


def _dec_sum(col, alias: str, scale: str = "decimal(18,2)"):
    """Order-independent exact sum of a double column, surfaced as double.

    Sum order over a shuffled dataset is nondeterministic; double addition is
    not associative, so raw SUM(double) can differ between engines (and
    between runs). Casting to decimal first makes the sum exact and therefore
    bit-identical on both engines. Mirrors
    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) in the oracle.
    """
    return F.sum(F.col(col).cast(scale)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# J1 — anti-join (the reference pipeline's core op, fetch_youtube_data.py:154-160)
# ---------------------------------------------------------------------------
@query(
    "anti_join_new_keys",
    oracle="""
    SELECT 'delta' AS section, o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
    UNION ALL
    SELECT 'empty_gate', o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders)
    """,
)
def anti_join_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-key detection as LEFT ANTI join (J1) plus the P5 empty-delta
    gate in one driver row (r6 consolidation of `empty_delta_gate` — both
    are the same broadcast anti-join machinery, at opposite overlap
    extremes).

    `delta`: the 'existing sink keys' side is simulated as every third
    orderkey; existing side is key-only + broadcast →
    BroadcastHashJoin(LeftAnti): the 100 TB candidate side never shuffles.
    `empty_gate`: 100% overlap → provably empty delta (the shape
    `pipeline.run_etl`'s empty-delta gate skips on; the section contributes
    zero rows, so the oracle check proves the delta relation is empty)."""
    orders = load_table(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    # No dedup on the keys side: anti-join results are unaffected by
    # build-side duplicates and the dropDuplicates would cost a shuffle.
    delta = orders.join(
        F.broadcast(existing), "o_orderkey", "left_anti"
    ).select(
        F.lit("delta").alias("section"),
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
    )
    gate = orders.join(
        F.broadcast(orders.select("o_orderkey")), "o_orderkey", "left_anti"
    ).select(
        F.lit("empty_gate").alias("section"),
        "o_orderkey",
        F.lit(None).cast("long").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    return delta.unionByName(gate)


@query(
    "active_segment_rollup",
    oracle="""
    SELECT 'semi_having' AS section, c_mktsegment AS group_key,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    HAVING COUNT(*) > 10
    UNION ALL
    SELECT 'range_window', o_orderpriority, CAST(COUNT(*) AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
    GROUP BY o_orderpriority
    """,
)
def active_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two join-feeding-rollup shapes in one driver row (r6 consolidation
    of `active_segment_rollup` + `range_join_ship_window`).

    `semi_having`: LEFT SEMI join (membership without multiplying rows)
    feeding GROUP BY + HAVING — only customers with ≥1 order, rolled up
    per segment, small segments filtered post-aggregate. `range_window`:
    equi+range join — the equi key carries the hash join; the date-range
    predicate is a post-join filter, so there is no nested-loop blowup at
    scale."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    active = customer.join(
        orders.select("o_custkey"), customer.c_custkey == F.col("o_custkey"), "left_semi"
    )
    semi = (
        active.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"), _dec_sum("c_acctbal", "total_bal"))
        .filter(F.col("n_customers") > 10)
        .select(
            F.lit("semi_having").alias("section"),
            F.col("c_mktsegment").alias("group_key"),
            F.col("n_customers").alias("n"),
            F.col("total_bal").alias("total"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 30 DAYS"))
    )
    rng = (
        orders.join(li, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_fast_lines"))
        .select(
            F.lit("range_window").alias("section"),
            F.col("o_orderpriority").alias("group_key"),
            F.col("n_fast_lines").alias("n"),
            F.lit(None).cast("double").alias("total"),
        )
    )
    return semi.unionByName(rng)


# The P5 empty-delta gate is driver-verified as the `empty_gate` section
# of `anti_join_new_keys` (r6 consolidation — same broadcast anti-join
# machinery at the 100%-overlap extreme).


# ---------------------------------------------------------------------------
# A1/A3/A4 — distinct / union-all / except / intersect (SURVEY.md §2.5)
# r4 consolidation: the union-distinct demo (formerly its own registry
# slot, `union_distinct_slices`) is a third tagged section of this query.
# ---------------------------------------------------------------------------
@query(
    "setops_except_intersect",
    oracle="""
    SELECT 'except' AS op, o_orderkey AS key FROM (
      SELECT o_orderkey FROM orders
      EXCEPT
      SELECT l_orderkey AS o_orderkey FROM lineitem
    )
    UNION ALL
    SELECT 'intersect' AS op, o_custkey AS key FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'union_distinct' AS op, o_orderkey AS key FROM (
      SELECT DISTINCT o_orderkey FROM (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
        UNION ALL
        SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
      )
    )
    """,
)
def setops_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3/A4 in one tagged relation: EXCEPT (orders with no lineitems —
    the reference's video_ids − existing_ids), INTERSECT (customers with
    both open and finished orders), and UNION ALL of two deliberately
    OVERLAPPING slices followed by global DISTINCT (the reference's
    per-playlist append loop :81-96 + list(set(ids)) at :103 — unionByName
    is pure partition concatenation; the distinct is a hash-aggregate with
    map-side partial dedup, so only unique keys shuffle; the overlap region
    is what makes the distinct observable). Each section is a
    hash-partitioned set op, union-tagged with the op name."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    exc = (
        orders.select("o_orderkey")
        .exceptAll(li.distinct())
        .distinct()
        .select(F.lit("except").alias("op"), F.col("o_orderkey").alias("key"))
    )
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    its = f.intersect(o).select(F.lit("intersect").alias("op"), F.col("o_custkey").alias("key"))
    hi = orders.filter(F.col("o_totalprice") > 150000).select("o_orderkey")
    mid = orders.filter(F.col("o_totalprice") > 100000).select("o_orderkey")
    uni = (
        hi.unionByName(mid)
        .distinct()
        .select(F.lit("union_distinct").alias("op"), F.col("o_orderkey").alias("key"))
    )
    return exc.unionByName(its).unionByName(uni)


# P4 (IN-list membership predicate, pushed into the scan) is driver-verified
# inside `join_star_revenue` — the nation dim carries the reference's
# channel-membership filter shape (fetch_youtube_data.py:163).


# ---------------------------------------------------------------------------
# Aggregation surface (SURVEY.md §2.5 note — the implied per-channel analytics)
# ---------------------------------------------------------------------------
@query(
    "groupby_agg_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT)                                    AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: partial (map-side) aggregation means
    only |groups|×|partitions| rows shuffle — the canonical scalable agg.
    Decimal-exact sums keep results order-independent (see _dec_sum)."""
    li = load_table(spark, sf_dir, "lineitem")
    dp = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_price"),
            F.sum(dp).cast("double").alias("sum_disc_price"),
            (F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
        )
    )


# ROLLUP / arbitrary GROUPING SETS demos live in tests/test_grouping.py;
# the registered grouping-sets-family query is the full-lattice CUBE with
# grouping_id (`cube_status_priority`) — CUBE subsumes both shapes.


# A2 exact COUNT DISTINCT per group (expand+two-phase agg in Spark) is
# driver-verified inside `date_spine_gapfill` (daily distinct users);
# approx_count_distinct (an HLL sketch) is the 100 TB variant; its answers
# are approximate, so it has no oracle row.


# ---------------------------------------------------------------------------
# Joins (J2 generalization) — star joins with broadcast dims
# ---------------------------------------------------------------------------
@query(
    "join_star_revenue",
    oracle="""
    SELECT r_name, n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE n_name IN ('NATION_1', 'NATION_7', 'NATION_19', 'NATION_24')
    GROUP BY r_name, n_name
    """,
)
def join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dims star join: every dim is broadcast, so the orders fact
    table is joined map-side with zero shuffle; the only exchange is the
    final small aggregation. The nation dim carries a P4 IN-list membership
    predicate (the reference's channel-membership filter,
    fetch_youtube_data.py:163) — pushed into the dim's parquet scan, and the
    inner joins then prune the fact rows map-side."""
    orders = load_table(spark, sf_dir, "orders")
    customer = F.broadcast(load_table(spark, sf_dir, "customer"))
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").filter(
            F.col("n_name").isin("NATION_1", "NATION_7", "NATION_19", "NATION_24")
        )
    )
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), _dec_sum("o_totalprice", "revenue"))
    )


# The equi+range ship-window join is driver-verified as the
# `range_window` section of `active_segment_rollup` (r6 consolidation —
# both are join-feeding-rollup shapes).


# ---------------------------------------------------------------------------
# Ordering / top-k / windows
# (global ORDER BY + LIMIT — TakeOrderedAndProject — is exercised by
#  `sql_q3_shipping_priority` and the similarity top-k queries)
# ---------------------------------------------------------------------------
# r5 consolidation: `window_rank_orders` (per-group top-N via ROW_NUMBER)
# folded into `window_distribution_stats` (plans/advanced.py) — the ranking
# trio now rides the same status-window exchange there, and the per-group
# top-N shape stays driver-verified through `ann_sign_lsh_topk` /
# `ivf_ann_topk` (rank ≤ k per query point). The freed registry slot went
# to `corpus_curation_report`, putting the capstone composition itself
# under the DuckDB oracle.


@query(
    "window_running_lag",
    oracle=f"""
    SELECT event_id, user_id,
           {sql_round6('''SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS running_value,
           {sql_round6('value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)')} AS delta,
           epoch_us((SELECT max(p.ts) FROM events p
             WHERE p.user_id = e.user_id AND p.ts <= e.ts AND p.event_type = 'purchase'))
           AS last_purchase_us
    FROM events e
    """,
)
def window_running_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + LAG delta + AS-OF lookup per user, ONE shuffle: all
    three window functions partition by user_id, so Catalyst plans a single
    Exchange serving every frame — the shape to prefer over separate window
    queries at scale. (r4 consolidation: the as-of join, formerly its own
    registry slot `asof_last_purchase`, is the third column.)

    The as-of (most recent prior 'purchase' per user) is a conditional
    RANGE window — no correlated probe per row; the window max over
    ts<=current matches correlated-subquery semantics including ties.
    Its frame orders by unix_micros, NOT cast('long'): the cast truncates
    to whole seconds, which would let an event see a purchase later in the
    same second. Deterministic accumulation order keeps double results
    engine-identical; rounded as guard."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wasof = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col("value")
    marker = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        round6(F.sum(v).over(wsum)).alias("running_value"),
        round6(v - F.lag(v).over(w)).alias("delta"),
        F.unix_micros(F.max(marker).over(wasof)).alias("last_purchase_us"),
    )


# PIVOT is driver-verified through `olap_status_priority`
# (plans/advanced.py — r6 consolidation with CUBE; the wide pivot result
# is melted back to long form so both executions share one relation).
