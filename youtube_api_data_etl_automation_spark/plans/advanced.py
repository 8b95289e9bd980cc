"""Advanced surface: sessionization, multi-dim aggregation, exact
percentiles, IVF ANN, skew-salted joins, sliding-window streaming, regex
tokenization, rolling-hash fingerprints.

These go beyond the reference's operator inventory (SURVEY.md §2 notes its
aggregations are only distinct/count) to prove the engine's standard +
training-data-pipeline surface. Every oracle reproduces the engine's exact
arithmetic in DuckDB SQL.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round6, sql_round6
from ..operators.sessionize import session_stats
from ..sources.tables import load_table
from .registry import query

# ---------------------------------------------------------------------------
# Sessionization (events)
# ---------------------------------------------------------------------------


# Shared by the batch window-function form and the stateful streaming form —
# both must produce the identical per-session rollup.
_SESSION_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 30*60*1000000
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, event_id, value, ts_us,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                         ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts_us) AS session_start_us,
           (MAX(ts_us) - MIN(ts_us)) / 1000000.0 AS duration_sec,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, session_idx
"""


_SESSION_METHODS_ORACLE = f"""
    WITH base AS ({_SESSION_ORACLE})
    SELECT 'window' AS method, * FROM base
    UNION ALL
    SELECT 'stateful' AS method, * FROM base
    UNION ALL
    SELECT 'session_window' AS method, * FROM base
"""


@query("sessionize_methods", oracle=_SESSION_METHODS_ORACLE)
def sessionize_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sessionization implementations under one driver row (r6
    consolidation of `sessionize_events` + `stateful_session_stats` —
    identical output schema, identical oracle, so a tag-union verifies
    them side by side and proves they agree).

    `window`: gap-based batch sessionization (30-min inactivity) + rollup;
    one shuffle on user_id serves the lag, the running sum, AND the final
    group-by — Catalyst reuses the partitioning across all three.
    `stateful`: the custom stateful streaming operator
    (applyInPandasWithState) with explicit per-user state, drained
    availableNow; one batch ⇒ emissions equal the batch rollup, so the
    same oracle text checks it — a fully value-verified stateful op.
    `session_window`: the JVM-native merging-session aggregate
    (F.session_window), also drained availableNow — the 100 TB scale path
    the r7 decade audit promoted after finding the Python stateful op's
    cost at 100× is per-key framework overhead (SCALE.md); session_idx is
    re-derived by numbering each user's sessions by start time (sessions
    ≪ events, so that window is a rounding error)."""
    import tempfile

    from ..streaming.stateful import (
        run_session_window_sessions,
        run_stateful_sessions,
    )

    events = load_table(spark, sf_dir, "events")
    batch = session_stats(events, gap_minutes=30).select(
        F.lit("window").alias("method"), "*"
    )
    tag = uuid.uuid4().hex[:8]
    name = f"stateful_sessions_{tag}"
    sw_name = f"sw_sessions_{tag}"
    # OVERLAPPED drains (r15, guide §2.6): the two availableNow queries
    # are independent, so their fixed stream-init/state-store-commit
    # costs overlap instead of paying serially. An r6-era A/B found
    # overlap ~25% slower — but that predates the r14 scale-adaptive
    # state partitioning: with state partitions sized to the input
    # (~4 at sf0.1, not 32) the drains no longer saturate the box, and
    # the r15 same-session A/B reads sequential 3.2-4.5 s vs overlapped
    # 1.9-2.4 s at sf0.1 (min 3.19 vs 1.94, -39%). The adaptive
    # partition count is set ONCE before both queries plan (both drains
    # read the same input, so they share the value) and restored after
    # — a per-drain set/restore would race under overlap.
    from ..streaming.stateful import _drain_partitions

    _conf_key = "spark.sql.shuffle.partitions"
    _prev = spark.conf.get(_conf_key)
    spark.conf.set(_conf_key, str(_drain_partitions(spark, sf_dir)))
    try:
        q1 = run_stateful_sessions(
            spark, sf_dir, tempfile.mkdtemp(prefix="ckpt_"), name)
        q2 = run_session_window_sessions(
            spark, sf_dir, tempfile.mkdtemp(prefix="ckpt_"), sw_name)
        q1.awaitTermination()
        q2.awaitTermination()
    finally:
        spark.conf.set(_conf_key, _prev)
    stateful = spark.table(name).select(F.lit("stateful").alias("method"), "*")
    idx_w = Window.partitionBy("user_id").orderBy("session_start_us")
    native = (
        spark.table(sw_name)
        .withColumn("session_idx", F.row_number().over(idx_w).cast("int"))
        .select(
            F.lit("session_window").alias("method"),
            "user_id", "session_idx", "n_events", "session_start_us",
            "duration_sec", "sum_value",
        )
    )
    return batch.unionByName(stateful).unionByName(native)


# ---------------------------------------------------------------------------
# Multi-dimensional aggregation (orders)
# ---------------------------------------------------------------------------


@query(
    "olap_status_priority",
    oracle="""
    WITH cube_rows AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ),
    statuses AS (SELECT unnest(['F', 'O', 'P']) AS o_orderstatus),
    counts AS (
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    pivot_rows AS (
      SELECT s.o_orderstatus, p.o_orderpriority,
             CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders
      FROM (SELECT DISTINCT o_orderpriority FROM orders) p
      CROSS JOIN statuses s
      LEFT JOIN counts c USING (o_orderstatus, o_orderpriority)
    ),
    batch_rows AS (
      SELECT o_orderpriority,
             string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS id_batch,
             CAST(COUNT(*) AS BIGINT) AS n_ids
      FROM orders
      WHERE o_orderkey % 1000 = 0
      GROUP BY o_orderpriority
    )
    SELECT 'cube' AS section, *, CAST(NULL AS VARCHAR) AS id_batch FROM cube_rows
    UNION ALL
    SELECT 'pivot', o_orderstatus, o_orderpriority,
           CAST(NULL AS BIGINT), n_orders, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
    FROM pivot_rows
    UNION ALL
    SELECT 'id_batches', CAST(NULL AS VARCHAR), o_orderpriority,
           CAST(NULL AS BIGINT), n_ids, CAST(NULL AS DOUBLE), id_batch
    FROM batch_rows
    """,
)
def olap_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE + PIVOT + deterministic string-agg batching over orders in one
    driver row (r6 consolidation of `cube_status_priority` +
    `pivot_status_by_priority`; later in r6 the T11 `concat_id_batches` row
    joined as the `id_batches` section — all three are one-shuffle
    aggregation shapes over the same table, so one relation verifies them
    side by side; the pivot's wide result is melted back to long form so
    the executions share a schema — the melt is lossless, so the pivot
    cells are still verified one-for-one).

    `cube`: the full grouping-sets lattice in one pass (Spark expands the
    sets map-side: still a single shuffle) with grouping_id()
    disambiguating real NULL groups from subtotal rows (Spark's
    bit-per-column id matches DuckDB's GROUPING() exactly); ROLLUP and
    arbitrary groupingSets are the same machinery, value-checked in
    tests/test_grouping.py. `pivot`: PIVOT with an explicit value list
    (one pass, no extra distinct-values job at scale), melted via
    unpivot/stack. `id_batches` (T11 as a data-plane op): the reference
    joins 50-id batches for API calls (fetch_youtube_data.py:55,:117);
    collect_list is shuffle-order-dependent, so array_sort pins the order
    before concat_ws."""
    orders = load_table(spark, sf_dir, "orders")
    cube = orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    ).select(
        F.lit("cube").alias("section"), "*",
        F.lit(None).cast("string").alias("id_batch"),
    )

    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    melted = piv.unpivot(
        ["o_orderpriority"], ["F", "O", "P"], "o_orderstatus", "n_raw"
    ).select(
        F.lit("pivot").alias("section"),
        "o_orderstatus",
        "o_orderpriority",
        F.lit(None).cast("long").alias("gid"),
        F.coalesce(F.col("n_raw"), F.lit(0)).cast("long").alias("n_orders"),
        F.lit(None).cast("double").alias("total_price"),
        F.lit(None).cast("string").alias("id_batch"),
    )

    batches = (
        orders.filter(F.col("o_orderkey") % 1000 == 0)
        .groupBy("o_orderpriority")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
            ).alias("id_batch"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.lit("id_batches").alias("section"),
            F.lit(None).cast("string").alias("o_orderstatus"),
            "o_orderpriority",
            F.lit(None).cast("long").alias("gid"),
            "n_orders",
            F.lit(None).cast("double").alias("total_price"),
            "id_batch",
        )
    )
    return cube.unionByName(melted).unionByName(batches)


@query(
    "percentile_prices",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_round6('CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE)')} AS p25,
           {sql_round6('CAST(quantile_cont(o_totalprice, 0.50) AS DOUBLE)')} AS p50,
           {sql_round6('CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE)')} AS p75,
           {sql_round6('CAST(quantile_cont(o_totalprice, 0.99) AS DOUBLE)')} AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark `percentile`
    == DuckDB `quantile_cont`). Exact percentiles need the full value list
    per group; at 100 TB swap in approx_percentile (t-digest, mergeable
    partial aggs) — same query shape, bounded state."""
    orders = load_table(spark, sf_dir, "orders")
    pct = F.percentile(F.col("o_totalprice"), F.lit([0.25, 0.50, 0.75, 0.99]))
    return (
        orders.groupBy("o_orderpriority")
        .agg(pct.alias("p"))
        .select(
            "o_orderpriority",
            round6(F.col("p")[0]).alias("p25"),
            round6(F.col("p")[1]).alias("p50"),
            round6(F.col("p")[2]).alias("p75"),
            round6(F.col("p")[3]).alias("p99"),
        )
    )


@query(
    "window_distribution_stats",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           {sql_round6('percent_rank() OVER w')} AS pct_rank,
           {sql_round6('cume_dist() OVER w')} AS cdist,
           first_value(o_orderkey) OVER w AS cheapest_key,
           last_value(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key,
           CAST(ROW_NUMBER() OVER w AS INT) AS rn,
           CAST(RANK() OVER wb AS INT) AS rnk_bucket,
           CAST(DENSE_RANK() OVER wb AS INT) AS drnk_bucket
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
           wb AS (PARTITION BY o_orderstatus ORDER BY floor(o_totalprice / 1000.0))
    """,
)
def window_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution + ranking window functions (ntile / percent_rank /
    cume_dist / first_value / last_value-with-full-frame / row_number /
    rank / dense_rank) — ONE exchange on the partition key serves all
    eight (r5: the former `window_rank_orders` ranking trio folded in;
    the second sort order reuses the same hash partitioning). The unique
    (price, key) ordering makes the positional functions deterministic;
    rank/dense_rank run over a TIE-PRONE bucketed ordering — their values
    depend only on the order key, so they stay deterministic while
    actually demonstrating gap vs no-gap ranking."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wb = Window.partitionBy("o_orderstatus").orderBy(
        F.floor(F.col("o_totalprice") / F.lit(1000.0))
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        round6(F.percent_rank().over(w)).alias("pct_rank"),
        round6(F.cume_dist().over(w)).alias("cdist"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(w_full).alias("priciest_key"),
        F.row_number().over(w).cast("int").alias("rn"),
        F.rank().over(wb).cast("int").alias("rnk_bucket"),
        F.dense_rank().over(wb).cast("int").alias("drnk_bucket"),
    )


# ---------------------------------------------------------------------------
# Skew-salted join (lineitem ⋈ orders)
# ---------------------------------------------------------------------------


@query(
    "salted_join_revenue",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted skew salting — the production form: only DETECTED hot keys
    (here a deterministic 2% stand-in for a skew-stats probe) get salted
    8 ways, with the dimension rows for those keys exploded 8×; the cold
    99.98% of the fact joins plain. One hot key's rows spread over 8
    reducers instead of stalling one; total dim inflation is 8 × hot-count,
    not 8 × |dim|. Results are identical to the plain join (the oracle IS
    the plain join). AQE's skew split does this adaptively; the explicit
    form is deterministic and works where AQE can't see the skew."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    n_salt = 8
    hot = F.col("o_orderkey") % 50 == 0  # stand-in for a skew-detection probe
    dim = orders.select("o_orderkey", "o_orderpriority")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")

    fact_hot = li.filter(F.col("l_orderkey") % 50 == 0).withColumn(
        "salt", (F.col("l_linenumber") % n_salt).cast("int")
    )
    dim_hot = dim.filter(hot).withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    hot_joined = fact_hot.join(
        dim_hot,
        (F.col("l_orderkey") == F.col("o_orderkey")) & (fact_hot.salt == dim_hot.salt),
    ).select("o_orderpriority", rev.alias("r"))

    cold_joined = (
        li.filter(F.col("l_orderkey") % 50 != 0)
        .join(dim.filter(~hot), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderpriority", rev.alias("r"))
    )

    return (
        hot_joined.unionByName(cold_joined)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("r").cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# IVF ANN (embeddings)
# ---------------------------------------------------------------------------

_IVF_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / nullif(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))), 0.0)"
)


_RECALL_NPROBES = (1, 2, 4, 8)


def _ivf_combined_oracle(nprobes: tuple[int, ...] = _RECALL_NPROBES,
                         top_k: int = 3) -> str:
    """Three-section IVF oracle (r13: the standalone ivf_recall_curve row
    folded in here as the 'recall' section — VERDICT r12 item 6 freed its
    registry slot for url_compliance_docs): 'topk' = probe-one-cell ANN
    results, 'cells' = per-cell size/skew report, 'recall' = recall@k vs
    exact truth for nprobe in {1,2,4,8}. The cent/assignment CTEs are
    shared by all three sections exactly as the Spark side shares the
    assignment relation."""
    cos_assign = sql_round6(_IVF_COS.format(a='e.embedding', b='c.cv'))
    cos_probe = sql_round6(_IVF_COS.format(a='a.embedding', b='q.qv'))
    cos_cell = sql_round6(_IVF_COS.format(a='q.qv', b='c.cv'))
    cos_exact = sql_round6(_IVF_COS.format(a='e.embedding', b='q.qv'))
    head = f"""
    WITH cent AS (
      SELECT vec_id AS cluster_id, embedding AS cv FROM embeddings
      WHERE vec_id BETWEEN 10 AND 17
    ),
    scored_assign AS (
      SELECT e.vec_id, e.embedding, c.cluster_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {cos_assign} DESC,
                        c.cluster_id
             ) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, embedding, cluster_id FROM scored_assign WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, cluster_id
      FROM assigned WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             {cos_probe} AS cosine
      FROM assigned a JOIN q ON a.cluster_id = q.cluster_id AND a.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
             cosine
      FROM scored
    ),
    cellcounts AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM assigned GROUP BY 1
    ),
    celltarget AS (
      SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS t FROM cellcounts
    ),
    qcells AS (
      SELECT q.query_id, q.qv, c.cluster_id,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {cos_cell} DESC, c.cluster_id) AS cell_rank
      FROM q CROSS JOIN cent c
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos_exact} DESC, e.vec_id) AS rank
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
      ) WHERE rank <= {top_k}
    )"""
    branches = []
    for np_ in nprobes:
        branches.append(f""",
    got{np_} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                                  ORDER BY {sql_round6(_IVF_COS.format(a='a.embedding', b='p.qv'))} DESC,
                                           a.vec_id) AS rank
        FROM (SELECT query_id, qv, cluster_id FROM qcells WHERE cell_rank <= {np_}) p
        JOIN assigned a ON a.cluster_id = p.cluster_id AND a.vec_id <> p.query_id
      ) WHERE rank <= {top_k}
    ),
    hit{np_} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM got{np_} g JOIN truth t USING (query_id, neighbor_id)
    )""")
    recall_selects = "\n    UNION ALL\n".join(
        f"""    SELECT 'recall' AS section, CAST({np_} AS BIGINT) AS query_id,
           (SELECT n FROM hit{np_}) AS neighbor_id,
           CAST((SELECT COUNT(*) FROM truth) AS INT) AS rank,
           floor((CAST((SELECT n FROM hit{np_}) AS DOUBLE)
                  / (SELECT COUNT(*) FROM truth)) * 1000000.0 + 0.5) / 1000000.0
             AS cosine"""
        for np_ in nprobes
    )
    return head + "".join(branches) + f"""
    SELECT 'topk' AS section, query_id, neighbor_id, rank, cosine
    FROM ranked WHERE rank <= {top_k}
    UNION ALL
    SELECT 'cells', cluster_id, n,
           CASE WHEN n < 0.5 * t OR n > 2.0 * t THEN 1 ELSE 0 END,
           {sql_round6('CAST(n AS DOUBLE) / t')}
    FROM cellcounts, celltarget
    UNION ALL
""" + recall_selects


@query("ivf_ann_topk", oracle=_ivf_combined_oracle())
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic 'trained' centroids (vectors 10–17 stand in
    for k-means output so the oracle can reproduce the index): map-side
    cluster assignment (centroids broadcast), then probe only the query's
    cell — candidate count ~N/8 per query instead of N.

    `cells` section (r9, operators/similarity.py::cell_report_from_counts
    — the band/flag core of the IVF maintenance loop's ivf_cell_report):
    per-cell vector counts off the SAME assignment, with observed-mean
    target, round6 size ratio, and the (0.5, 2.0) band flag (1/0 in the
    rank slot) — the skew verdict that triggers rebalance_ivf_index. The
    at-rest half (partition-metadata-only scan, versioned rewrite, probe
    identity) is pinned in tests/test_ivf_maintenance.py."""
    from ..operators.similarity import (
        _rank_topk,
        assign_clusters,
        cell_report_from_counts,
        ivf_scored_candidates,
    )

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    centroids = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") <= 17))
    queries = emb.filter(F.col("vec_id") < 5)
    # ONE assignment relation for all three sections (r14): the map-side
    # literal argmax collects the centroids once. r15: it PERSISTS — the
    # cell counts and the shared scored relation both consume it, and
    # persist (vs the former eager localCheckpoint inside the recall
    # report) runs the corpus pass inside the first consuming action
    # instead of as a build-time job.
    assigned = assign_clusters(
        emb.select("vec_id", "embedding"), centroids).persist()
    # ONE scored candidate relation for the topk section AND the whole
    # recall ladder (r15): nprobe=1's candidates are exactly the
    # cell_rank<=1 slice of the widest probe list (cell sets nest in
    # rank), so the topk section is a filter + rank over the same
    # persisted scores the recall arms use — the corpus-side score join
    # runs once per action instead of 1 + len(nprobes) times.
    scored = ivf_scored_candidates(
        assigned, queries, centroids, nprobe=max(_RECALL_NPROBES),
    ).persist()
    topk = _rank_topk(
        scored.filter(F.col("cell_rank") <= 1)
        .select("query_id", "neighbor_id", "cosine"),
        3,
    ).select(
        F.lit("topk").alias("section"), "query_id", "neighbor_id",
        "rank", "cosine",
    )
    counts = (
        assigned
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    cells = cell_report_from_counts(counts).select(
        F.lit("cells").alias("section"),
        F.col("cluster_id").cast("long").alias("query_id"),
        F.col("n_vecs").alias("neighbor_id"),
        F.when(F.col("flagged"), 1).otherwise(0).cast("int").alias("rank"),
        F.col("ratio").alias("cosine"),
    )
    # recall section (r13: the former ivf_recall_curve row, folded in to
    # free its registry slot): recall@k vs exact truth per nprobe — the
    # tuning artifact that picks the smallest nprobe clearing the
    # application's recall bar. Exact per-setting values also pinned in
    # tests/test_ivf_nprobe.py.
    from ..operators.similarity import ivf_recall_report

    recall = ivf_recall_report(
        emb, queries, centroids, top_k=3, nprobes=_RECALL_NPROBES,
        assigned=assigned, scored=scored,
    ).select(
        F.lit("recall").alias("section"),
        F.col("nprobe").cast("long").alias("query_id"),
        F.col("n_hits").cast("long").alias("neighbor_id"),
        F.col("n_truth").cast("int").alias("rank"),
        F.col("recall_at_k").alias("cosine"),
    )
    return topk.unionByName(cells).unionByName(recall)


# Regex/"BPE-ish" token counting lives in text_stats_docs (plans/
# text_queries.py) — same documents pass, two extra codegen'd regexp_counts.


# The rolling-hash document fingerprint (Karp–Rabin) moved into
# functions/text.py::rolling_hash_t and is driver-verified inside
# text_stats_docs (same documents pass — r4 registry consolidation).


# ---------------------------------------------------------------------------
# k-means (embeddings) — iterative algorithm. The iteration count is FIXED
# (3), every step is deterministic (round6 cosine assignment with id
# tie-break; decimal-exact component sums; one double division), so the
# oracle UNROLLS the three Lloyd rounds as chained CTEs — upgrading what
# was a rows-only check in r1 to a full value check.
# ---------------------------------------------------------------------------

_KM_DIM = 64  # embeddings table dimension (TESTDATA.md)


def _kmeans_oracle(n_iter: int = 3) -> str:
    cos = (
        "list_dot_product({a}, {b})"
        " / nullif(sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b})), 0.0)"
    )

    def assign(src_cent: str, name: str) -> str:
        c = sql_round6(cos.format(a="e.v", b="c.cv"))
        return f"""{name} AS (
      SELECT vec_id, v, cluster_id FROM (
        SELECT e.vec_id, e.v, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {c} DESC, c.cluster_id) AS rn
        FROM e CROSS JOIN {src_cent} c
      ) WHERE rn = 1
    )"""

    def recompute(src_assign: str, src_cent: str, name: str) -> str:
        # COALESCE via the previous centroid set: a cluster that wins zero
        # vectors KEEPS its centroid, mirroring kmeans_lloyd's r6
        # empty-cluster retention (without this the oracle would drop the
        # cluster while the engine keeps it — latent divergence flagged by
        # the r6 review; the fixture never produces an empty cluster, but
        # the mirror must match the semantics, not the data).
        return f"""{name} AS (
      SELECT p.cluster_id, COALESCE(m.cv, p.cv) AS cv
      FROM {src_cent} p LEFT JOIN (
        SELECT cluster_id, list(m ORDER BY pos) AS cv FROM (
          SELECT cluster_id, pos,
                 CAST(SUM(CAST(v[pos] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
          FROM {src_assign}, range(1, {_KM_DIM + 1}) r(pos)
          GROUP BY cluster_id, pos
        ) GROUP BY cluster_id
      ) m ON p.cluster_id = m.cluster_id
    )"""

    ctes = [
        """e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )""",
        """c0 AS (
      SELECT CAST(vec_id - 10 AS INT) AS cluster_id,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id BETWEEN 10 AND 17
    )""",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(assign(f"c{i - 1}", f"a{i}"))
        ctes.append(recompute(f"a{i}", f"c{i - 1}", f"c{i}"))
    ctes.append(assign(f"c{n_iter}", "af"))
    final_c = sql_round6(cos.format(a="a.v", b="c.cv"))
    avg = sql_round6("CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {avg} AS avg_cos_to_centroid
    FROM (SELECT a.cluster_id, {final_c} AS c
          FROM af a JOIN c{n_iter} c USING (cluster_id))
    GROUP BY cluster_id
    """
    )


@query("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration Lloyd's k-means (k=8, cosine assignment, decimal-exact
    centroid updates), seeded deterministically from vectors 10-17 — the
    IVF-index-training op. Every step is deterministic, so the DuckDB
    oracle replays the three rounds as unrolled CTEs and the driver
    value-checks the final per-cluster rollup (r1 had this rows-only)."""
    from ..operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    init = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") <= 17)).select(
        (F.col("vec_id") - 10).cast("int").alias("cluster_id"),
        F.col("embedding").alias("cv"),
    )
    return kmeans_lloyd(spark, emb, init, n_iter=3)


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (documents) — dataset-assembly op
# ---------------------------------------------------------------------------


# The train/val/test split is driver-verified through `sampling_audits`
# (plans/curation.py — r6 consolidation with the stratified-sampling
# audit; both read the same content-stable unsalted md5 bucket).


# ---------------------------------------------------------------------------
# Trailing physical-time window aggregates (events)
# ---------------------------------------------------------------------------

_TRAIL_DAYS = 2
_TRAIL_US = _TRAIL_DAYS * 86_400 * 1_000_000


@query(
    "events_time_aggregates",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS t_us,
             CAST(value AS DECIMAL(18,6)) AS v, ts
      FROM events
    ),
    trail AS (
      SELECT event_id, user_id, t_us,
             CAST(SUM(v) OVER w AS DOUBLE) AS sum_w,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
             floor((CAST(SUM(v) OVER w AS DOUBLE)
                    / (COUNT(*) OVER w)) * 1000000.0 + 0.5) / 1000000.0 AS avg6
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us
                   RANGE BETWEEN {_TRAIL_US} PRECEDING AND CURRENT ROW)
    ),
    bounds AS (
      SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL '1 day')) AS DATE) AS day
      FROM bounds
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
      FROM events GROUP BY 1
    ),
    f1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    f2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN f1 ON e.user_id = f1.user_id
                          AND epoch_us(e.ts) > f1.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    f3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN f2 ON e.user_id = f2.user_id
                          AND epoch_us(e.ts) > f2.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    fc AS (
      SELECT (SELECT COUNT(*) FROM f1) AS c1,
             (SELECT COUNT(*) FROM f2) AS c2,
             (SELECT COUNT(*) FROM f3) AS c3
    ),
    ract AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    rfirst AS (
      SELECT user_id, MIN(day) AS cohort_day FROM ract GROUP BY user_id
    ),
    rcells AS (
      SELECT cohort_day, date_diff('day', cohort_day, day) AS offset_days,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM ract JOIN rfirst USING (user_id) GROUP BY 1, 2
    ),
    rsizes AS (
      SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM rfirst GROUP BY 1
    )
    SELECT 'trailing' AS section, t_us, event_id, user_id,
           n_w AS n1, CAST(NULL AS BIGINT) AS n2, sum_w AS v1, avg6 AS v2
    FROM trail
    UNION ALL
    SELECT 'daily', epoch_us(CAST(spine.day AS TIMESTAMP)),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(COALESCE(daily.n, 0) AS BIGINT),
           CAST(COALESCE(daily.nu, 0) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM spine LEFT JOIN daily USING (day)
    UNION ALL
    SELECT 'funnel', CAST(NULL AS BIGINT), CAST(step AS BIGINT),
           CAST(NULL AS BIGINT), n, CAST(NULL AS BIGINT),
           CASE WHEN c1 > 0
                THEN {sql_round6('CAST(n AS DOUBLE) / c1')}
                END,
           CAST(NULL AS DOUBLE)
    FROM (
      SELECT 1 AS step, CAST(c1 AS BIGINT) AS n, c1 FROM fc
      UNION ALL SELECT 2, CAST(c2 AS BIGINT), c1 FROM fc
      UNION ALL SELECT 3, CAST(c3 AS BIGINT), c1 FROM fc
    )
    UNION ALL
    SELECT 'retention', epoch_us(CAST(cohort_day AS TIMESTAMP)),
           CAST(offset_days AS BIGINT), CAST(NULL AS BIGINT),
           n_active, cohort_size,
           {sql_round6('CAST(n_active AS DOUBLE) / cohort_size')},
           CAST(NULL AS DOUBLE)
    FROM rcells JOIN rsizes USING (cohort_day)
    UNION ALL
    -- funnel_state: the r9 incremental fold (two time-split batches
    -- folded through fold_funnel_state) must equal the batch funnel —
    -- the oracle is literally the batch funnel rollup, re-tagged
    SELECT 'funnel_state', CAST(NULL AS BIGINT), CAST(step AS BIGINT),
           CAST(NULL AS BIGINT), n, CAST(NULL AS BIGINT),
           CASE WHEN c1 > 0
                THEN {sql_round6('CAST(n AS DOUBLE) / c1')}
                END,
           CAST(NULL AS DOUBLE)
    FROM (
      SELECT 1 AS step, CAST(c1 AS BIGINT) AS n, c1 FROM fc
      UNION ALL SELECT 2, CAST(c2 AS BIGINT), c1 FROM fc
      UNION ALL SELECT 3, CAST(c3 AS BIGINT), c1 FROM fc
    )
    """,
)
def events_time_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two time-series aggregate shapes over events in one driver row (r6
    consolidation of `trailing_time_window` + `date_spine_gapfill`).

    `trailing`: per-event {d}-day trailing sum/count/mean per user
    (operators/timeseries.py::trailing_window) via RANGE frames over
    microsecond ordering — the physical-time window ROWS frames can't
    express on irregular spacing; decimal-exact frames, mean derived at
    the query edge from the exact sum/count pair. `daily`: gap-filled
    daily event/user counts — a generated date spine (sequence + explode,
    no driver loop) left-joined to the per-day aggregate, zeros where no
    events; the aggregate side broadcasts, so the only fact shuffle is
    its own group-by; per-day exact COUNT DISTINCT rides the same
    aggregate (at 100 TB swap in approx_count_distinct's HLL sketch).
    `funnel` (late r8,
    operators/funnel.py): the greedy-earliest behavioral funnel
    signup → click → purchase — per-user step-completion chain built
    from user-keyed joins + mins (no arrays, no collect), rolled up to
    (step, n_users, conversion); the oracle replays the chain as
    per-step min-after-previous CTEs in microsecond space. `retention`
    (late r8, operators/funnel.py::retention_cohorts): the cohort
    retention matrix — users cohorted by first active day, one cell per
    (cohort_day, offset_days) with distinct-active counts and rates;
    the per-(user, day) distinct is the only user-keyed shuffle.
    `funnel_state` (r9, operators/funnel.py::fold_funnel_state): the
    incremental funnel fold over a midpoint time-split of the same
    events, rolled up via funnel_from_state — the oracle is the batch
    funnel re-tagged, so the fold's exactness (not just plausibility)
    is value-hashed every round; the streaming drain over the same fold
    is pinned in tests/test_funnel_stream.py."""
    from ..operators.funnel import funnel, retention_cohorts
    from ..operators.timeseries import trailing_window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = trailing_window(
        ev,
        partition_col="user_id",
        ts_col="ts",
        value_col="value",
        trailing_days=_TRAIL_DAYS,
        aggs=("sum", "count"),
    )
    sc, nc = f"sum_{_TRAIL_DAYS}d", f"n_{_TRAIL_DAYS}d"
    trail = out.select(
        F.lit("trailing").alias("section"),
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        "user_id",
        F.col(nc).alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.col(sc).alias("v1"),
        round6(F.col(sc) / F.col(nc)).alias("v2"),
    )

    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("user_id")).alias("nu"),
    )
    gap = (
        spine.join(F.broadcast(daily), "day", "left")
        .select(
            F.lit("daily").alias("section"),
            F.unix_micros(F.col("day").cast("timestamp")).alias("t_us"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("long").alias("user_id"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n1"),
            F.coalesce("nu", F.lit(0)).cast("long").alias("n2"),
            F.lit(None).cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        )
    )
    fun = funnel(events, ["signup", "click", "purchase"]).select(
        F.lit("funnel").alias("section"),
        F.lit(None).cast("long").alias("t_us"),
        F.col("step").cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("n_users").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.col("conversion").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    ret = retention_cohorts(events).select(
        F.lit("retention").alias("section"),
        F.unix_micros(F.col("cohort_day").cast("timestamp")).alias("t_us"),
        F.col("offset_days").cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("n_active").alias("n1"),
        F.col("cohort_size").alias("n2"),
        F.col("retention").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    # funnel_state (r9): the incremental fold over a TIME-SPLIT of the
    # same events (batch 1 = everything up to the midpoint instant,
    # batch 2 = the rest — a global time split satisfies the fold's
    # per-user-monotone delivery contract by construction) must equal
    # the batch funnel; the midpoint is a 1-row bounded collect
    # (control plane), the fold is fold_funnel_state's join chain twice.
    from ..operators.funnel import fold_funnel_state, funnel_from_state

    steps = ["signup", "click", "purchase"]
    b = events.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("long").alias("mid")
    ).collect()[0]
    mid = int(b["mid"])
    state = fold_funnel_state(
        None, events.filter(F.unix_micros("ts") <= mid), steps
    )
    state = fold_funnel_state(
        state, events.filter(F.unix_micros("ts") > mid), steps
    )
    fun_state = funnel_from_state(state, steps).select(
        F.lit("funnel_state").alias("section"),
        F.lit(None).cast("long").alias("t_us"),
        F.col("step").cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("n_users").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.col("conversion").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    return (
        trail.unionByName(gap).unionByName(fun).unionByName(ret)
        .unionByName(fun_state)
    )


events_time_aggregates.__doc__ = events_time_aggregates.__doc__.format(
    d=_TRAIL_DAYS
)



# ---------------------------------------------------------------------------
# TF-IDF top terms (documents)
# ---------------------------------------------------------------------------


@query(
    "term_stats_tfidf_pmi",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
      FROM documents WHERE doc_id % 3 = 0
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(norm, ' ')) AS term
      FROM n WHERE norm <> ''
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM n),
    scored AS (
      SELECT tf.doc_id, tf.term,
             {sql_round6('tf.tf * ln((1.0 + nd.n_docs) / (1.0 + df.df))')} AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ),
    pmi_n AS (
      SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
      FROM documents WHERE doc_id % 11 = 0
    ),
    pmi_t AS (
      SELECT doc_id,
             CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split(norm, ' ') END AS ts
      FROM pmi_n
    ),
    pmi_uni AS (
      SELECT a, CAST(COUNT(*) AS BIGINT) AS c_a FROM (
        SELECT unnest(ts) AS a FROM pmi_t
      ) GROUP BY a
    ),
    pmi_bi AS (
      SELECT ts[i] AS a, ts[i+1] AS b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM pmi_t, UNNEST(range(1, greatest(len(ts), 1))) AS u(i)
      WHERE i < len(ts)
      GROUP BY 1, 2
    ),
    pmi_total AS (SELECT CAST(SUM(c_a) AS DOUBLE) AS nt FROM pmi_uni),
    pmi_scored AS (
      SELECT bi.a, bi.b, bi.c_ab,
             {sql_round6('ln(CAST(bi.c_ab AS DOUBLE) * t.nt / (CAST(ua.c_a AS DOUBLE) * CAST(ub.c_a AS DOUBLE)))')} AS pmi
      FROM pmi_bi bi
      JOIN pmi_uni ua ON bi.a = ua.a
      JOIN pmi_uni ub ON bi.b = ub.a
      CROSS JOIN pmi_total t
      WHERE bi.c_ab >= 3
    ),
    pmi_top AS (
      SELECT a, b, c_ab, pmi FROM pmi_scored
      ORDER BY pmi DESC, a, b LIMIT 20
    ),
    term_tot AS (
      SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY term
    ),
    vr AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank
      FROM term_tot
    ),
    vtot AS (SELECT CAST(SUM(c) AS DOUBLE) AS tt FROM term_tot),
    vcov AS (
      SELECT v.vocab_size, CAST(SUM(vr.c) AS BIGINT) AS covered
      FROM (VALUES (16), (64), (256), (1024)) AS v(vocab_size)
      JOIN vr ON vr.rank <= v.vocab_size
      GROUP BY v.vocab_size
    )
    SELECT 'tfidf' AS section, doc_id, term AS term_a,
           CAST(NULL AS VARCHAR) AS term_b, CAST(NULL AS BIGINT) AS n,
           tfidf AS score
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT 'pmi', CAST(NULL AS BIGINT), a, b, c_ab, pmi FROM pmi_top
    UNION ALL
    SELECT 'vocab', CAST(vocab_size AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), covered,
           {sql_round6('covered / tt')}
    FROM vcov CROSS JOIN vtot
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term statistics in two tagged sections.

    `tfidf`: TF-IDF with the classic smoothed idf ln((1+N)/(1+df)):
    per-doc term frequencies (one shuffle on (doc, term)), document
    frequencies reduced from the TF relation (no second pass over raw
    text), N as a broadcast scalar, top term per doc. The (doc,term)
    relation — not raw text — is what shuffles, which is what makes this
    shape work at 100 TB. `pmi` (r6): PMI collocation detection
    (operators/lm.py::pmi_collocations) — top-20 adjacent word pairs by
    pointwise mutual information, reusing the bigram LM's count relations
    (no extra corpus pass); 'frequently together relative to chance', the
    classic collocation signal, now value-verified against the SQL
    retraining of the identical counts. `vocab` (r8,
    operators/vocab.py): the tokenizer-budget coverage curve —
    covered occurrences + coverage at four candidate vocab sizes —
    computed from the SAME persisted tf relation (type-table work only;
    the corpus is never re-scanned)."""
    from ..functions.text import tokens
    from ..operators.lm import pmi_collocations, train_bigram_lm

    docs = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.col("doc_id") % 3 == 0
    )
    toks = docs.select(
        "doc_id", F.explode_outer(tokens("text")).alias("term")
    ).filter(F.col("term").isNotNull())
    # Persist: tf feeds BOTH the df reduction and the scoring join — without
    # it the tokenize+aggregate pipeline runs twice.
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # driver scalar: broadcast into the expression
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        round6(
            F.col("tf") * F.log((1.0 + n_docs) / (1.0 + F.col("df")))
        ).alias("tfidf"),
    )
    # Top term per doc as a min_by aggregate (ordering struct (-tfidf, term)
    # == tfidf DESC, term ASC), not a row_number window: a doc's terms are
    # scattered across term-partitions after the df join, and partial
    # aggregation collapses them map-side — no per-doc sort, and the
    # exchange carries at most one row per (doc, partition).
    best = scored.groupBy("doc_id").agg(
        F.min_by(
            F.struct("term", "tfidf"),
            F.struct((-F.col("tfidf")).alias("_nt"), F.col("term")),
        ).alias("_b")
    )
    tfidf_rows = best.select(
        F.lit("tfidf").alias("section"),
        "doc_id",
        F.col("_b.term").alias("term_a"),
        F.lit(None).cast("string").alias("term_b"),
        F.lit(None).cast("long").alias("n"),
        F.col("_b.tfidf").alias("score"),
    )

    ref = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.col("doc_id") % 11 == 0
    )
    lm = train_bigram_lm(ref)
    pmi = pmi_collocations(lm, min_count=3, top_k=None).select(
        "a", "b", "c_ab", round6(F.col("pmi")).alias("score")
    )
    pmi_rows = (
        pmi.orderBy(F.desc("score"), F.asc("a"), F.asc("b"))
        .limit(20)
        .select(
            F.lit("pmi").alias("section"),
            F.lit(None).cast("long").alias("doc_id"),
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            F.col("c_ab").cast("long").alias("n"),
            "score",
        )
    )
    from ..operators.vocab import vocab_coverage_from_counts

    # `vocab` (r8): the tokenizer-budget coverage curve rides the SAME
    # persisted tf relation (term totals are one more type-table
    # aggregate — no extra corpus pass).
    term_tot = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    vocab_rows = vocab_coverage_from_counts(
        term_tot, vocab_sizes=(16, 64, 256, 1024)
    ).select(
        F.lit("vocab").alias("section"),
        F.col("vocab_size").cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("term_a"),
        F.lit(None).cast("string").alias("term_b"),
        F.col("covered_tokens").cast("long").alias("n"),
        F.col("coverage").alias("score"),
    )
    return tfidf_rows.unionByName(pmi_rows).unionByName(vocab_rows)


# T11 string-agg batching is driver-verified as the `id_batches` section of
# `olap_status_priority` (r6 consolidation — the freed slot went to
# `table_profile_orders` below).


# ---------------------------------------------------------------------------
# Table profiling (operators/profile.py) — the data-quality triage pass
# ---------------------------------------------------------------------------

# One UNION ALL branch per profiled column; every branch mirrors the exact
# arithmetic of operators/profile.py::column_stats (decimal-exact sums,
# portable round6, pinned timestamp format, decimal(24,6) rendering for
# fractional min/max).
_PROFILE_PAD = """
           CAST(NULL AS INT) AS bucket, CAST(NULL AS DOUBLE) AS bucket_lo,
           CAST(NULL AS DOUBLE) AS bucket_hi, CAST(NULL AS BIGINT) AS bucket_n,
           CAST(NULL AS VARCHAR) AS value, CAST(NULL AS BIGINT) AS value_n,
           CAST(NULL AS INT) AS rank,
           CAST(NULL AS VARCHAR) AS "check", CAST(NULL AS BIGINT) AS n_violations,
           CAST(NULL AS BOOLEAN) AS passed
"""


def _stats_branch(col: str, dtype: str, min_expr: str, max_expr: str,
                  avg_expr: str, len_expr: str,
                  section: str = "stats") -> str:
    # section='state' mirrors the stats arithmetic but NULLs n_distinct:
    # the merged-state cardinality is an HLL estimate (pytest-verified in
    # tests/test_profile_state.py), not oracle-reproducible arithmetic.
    nd = ("CAST(NULL AS BIGINT)" if section == "state"
          else f"CAST(COUNT(DISTINCT {col}) AS BIGINT)")
    return f"""
    SELECT '{section}' AS section, '{col}' AS column_name, '{dtype}' AS dtype,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,
           {nd} AS n_distinct,
           {min_expr} AS min_value, {max_expr} AS max_value,
           {avg_expr} AS avg_value, {len_expr} AS avg_len,
           {_PROFILE_PAD}
    FROM orders
    """


def _avg_sql(col: str) -> str:
    return (
        "CASE WHEN COUNT({c}) > 0 THEN "
        + sql_round6("CAST(SUM(CAST({c} AS DECIMAL(24,6))) AS DOUBLE) / COUNT({c})")
        + " END"
    ).format(c=col)


def _len_sql(col: str) -> str:
    return (
        "CASE WHEN COUNT({c}) > 0 THEN "
        + sql_round6("CAST(SUM(CAST(LENGTH({c}) AS DECIMAL(24,6))) AS DOUBLE) / COUNT({c})")
        + " END"
    ).format(c=col)


_NULL_D = "CAST(NULL AS DOUBLE)"

_PROFILE_ORACLE = (
    _stats_branch(
        "o_orderkey", "bigint",
        "CAST(MIN(o_orderkey) AS VARCHAR)", "CAST(MAX(o_orderkey) AS VARCHAR)",
        _avg_sql("o_orderkey"), _NULL_D,
    )
    + " UNION ALL "
    + _stats_branch(
        "o_orderstatus", "string",
        "MIN(o_orderstatus)", "MAX(o_orderstatus)",
        _NULL_D, _len_sql("o_orderstatus"),
    )
    + " UNION ALL "
    + _stats_branch(
        "o_totalprice", "double",
        "CAST(CAST(MIN(o_totalprice) AS DECIMAL(24,6)) AS VARCHAR)",
        "CAST(CAST(MAX(o_totalprice) AS DECIMAL(24,6)) AS VARCHAR)",
        _avg_sql("o_totalprice"), _NULL_D,
    )
    + " UNION ALL "
    + _stats_branch(
        "o_orderdate", "timestamp_ntz",
        "strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S')",
        "strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')",
        _NULL_D, _NULL_D,
    )
    + " UNION ALL "
    + _stats_branch(
        "o_orderpriority", "string",
        "MIN(o_orderpriority)", "MAX(o_orderpriority)",
        _NULL_D, _len_sql("o_orderpriority"),
    )
    # `state` section: the MERGED 3-batch profile state must reproduce a
    # full-scan profile exactly on every algebraic field — the oracle
    # recomputes them straight off the whole table.
    + "".join(
        " UNION ALL " + _stats_branch(*args, section="state")
        for args in (
            ("o_orderkey", "bigint",
             "CAST(MIN(o_orderkey) AS VARCHAR)",
             "CAST(MAX(o_orderkey) AS VARCHAR)",
             _avg_sql("o_orderkey"), _NULL_D),
            ("o_orderstatus", "string",
             "MIN(o_orderstatus)", "MAX(o_orderstatus)",
             _NULL_D, _len_sql("o_orderstatus")),
            ("o_totalprice", "double",
             "CAST(CAST(MIN(o_totalprice) AS DECIMAL(24,6)) AS VARCHAR)",
             "CAST(CAST(MAX(o_totalprice) AS DECIMAL(24,6)) AS VARCHAR)",
             _avg_sql("o_totalprice"), _NULL_D),
            ("o_orderdate", "timestamp_ntz",
             "strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S')",
             "strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')",
             _NULL_D, _NULL_D),
            ("o_orderpriority", "string",
             "MIN(o_orderpriority)", "MAX(o_orderpriority)",
             _NULL_D, _len_sql("o_orderpriority")),
        )
    )
    + f"""
    UNION ALL
    SELECT 'hist', 'o_totalprice', CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           bucket, 0.0 + CAST(bucket AS DOUBLE) * 25000.0,
           0.0 + CAST(bucket + 1 AS DOUBLE) * 25000.0, bucket_n,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS INT),
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN)
    FROM (
      SELECT CAST(LEAST(GREATEST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - 0.0)
                                            / 25000.0) AS INT), 0), 19) AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS bucket_n
      FROM orders WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
      GROUP BY 1
    )
    UNION ALL
    SELECT 'topk', 'o_orderpriority', CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INT), {_NULL_D}, {_NULL_D}, CAST(NULL AS BIGINT),
           value, value_n, rank,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN)
    FROM (
      SELECT CAST(o_orderpriority AS VARCHAR) AS value,
             CAST(COUNT(*) AS BIGINT) AS value_n,
             CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                                     CAST(o_orderpriority AS VARCHAR)) AS INT) AS rank
      FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY o_orderpriority
    ) WHERE rank <= 3
    UNION ALL
    SELECT 'checks', col, CAST(NULL AS VARCHAR),
           n_rows, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INT), {_NULL_D}, {_NULL_D}, CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS INT),
           chk, nv, nv = 0
    FROM (
      SELECT 'not_null(o_orderkey)' AS chk, 'o_orderkey' AS col,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nv
      FROM orders
      UNION ALL
      SELECT 'unique(o_orderkey)', 'o_orderkey', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'in_range[0,600000](o_totalprice)', 'o_totalprice',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                            AND (o_totalprice < 0 OR o_totalprice > 600000)
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'accepted_values[F,O,P](o_orderstatus)', 'o_orderstatus',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('F', 'O', 'P')
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'matches[^[1-5]-](o_orderpriority)', 'o_orderpriority',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                            AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'foreign_key(o_custkey)', 'o_custkey',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM orders o
              LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
                ON o.o_custkey = c.c_custkey
              WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
      UNION ALL
      SELECT 'satisfies[l_shipdate >= o_orderdate](l_shipdate)', 'l_shipdate',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN NOT COALESCE(l_shipdate >= o_orderdate, TRUE)
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    """
)


@query("table_profile_orders", oracle=_PROFILE_ORACLE)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality triage pass every 100 TB ingest starts with
    (operators/profile.py; the reference has NO quality surface and crashes
    on payload surprises — SURVEY.md §2.6): per-column stats + value-range
    histogram + top-k skew readout over orders, tag-unioned into one
    relation.

    `stats`: null counts, exact cardinalities, portable min/max renderings
    and decimal-exact means for all five orders columns. `hist`: 20 fixed
    buckets over o_totalprice, clamped edges so counts always total the
    non-null rows. `checks` (late r6, operators/expectations.py): the
    declared data contract — not-null + unique keys, value range/domain/
    format, o_custkey referential integrity against customer, and (r7) a
    cross-column `satisfies` contract over the joined fact
    (l_shipdate >= o_orderdate — NULL-skipping three-valued logic).
    `state` (r8, operators/profile.py::profile_state): the incremental-
    profiling path — per-batch mergeable profile states (3 batches from one
    grouped scan here; one per ingest delta in production via
    versioned.incremental_profile_versioned) folded and re-materialized as
    the stats relation, oracle-proved lossless against a full-table
    recompute on every algebraic field.

    Scan discipline (late r6, operators/profile.py::fused_profile): stats
    and the agg-expressible checks are both global aggregates of orders, so
    they run as ONE wide aggregate over ONE scan — measured performance-
    NEUTRAL at sf0.1 (the check sums ride the multi-distinct Expand stream
    the stats already pay for) while eliminating a full 5-column scan of
    the fact, which is the term that dominates at 100 TB. The histogram
    deliberately stays a separate groupBy scan: folding its bucket sums
    into the same agg was measured ~1.5 s SLOWER than its own
    single-column-pruned scan (0.15 s) because the Expand multiplies the
    agg's input 7× (6 distinct columns + the regular group) while the
    dedicated scan reads one column once — see fused_profile's docstring
    for when the `hists` fold does win. Remaining orders scans: hist,
    `topk` (needs a per-value groupBy; TakeOrderedAndProject — per-
    partition top-k, never a full sort), and the FK check (needs the
    dimension: one broadcast left-outer join against the distinct customer
    keys, both counts in one pass)."""
    from ..operators.expectations import (
        accepted_values,
        foreign_key,
        in_range,
        matches,
        not_null,
        run_checks,
        satisfies,
        unique,
    )
    from ..operators.profile import (
        fused_profile,
        merge_profile_states,
        numeric_histogram,
        profile_state,
        stats_from_state,
        top_values,
    )

    orders = load_table(spark, sf_dir, "orders")
    fused = fused_profile(
        orders,
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
         "o_orderpriority"],
        checks=[
            not_null("o_orderkey"),
            unique("o_orderkey"),
            in_range("o_totalprice", 0, 600000),
            accepted_values("o_orderstatus", ["F", "O", "P"]),
            matches("o_orderpriority", "^[1-5]-"),
        ],
    )
    pad_stats = [
        F.lit(None).cast("string").alias("dtype"),
        F.lit(None).cast("long").alias("n_rows"),
        F.lit(None).cast("long").alias("n_nulls"),
        F.lit(None).cast("long").alias("n_distinct"),
        F.lit(None).cast("string").alias("min_value"),
        F.lit(None).cast("string").alias("max_value"),
        F.lit(None).cast("double").alias("avg_value"),
        F.lit(None).cast("double").alias("avg_len"),
    ]
    pad_checks = [
        F.lit(None).cast("string").alias("check"),
        F.lit(None).cast("long").alias("n_violations"),
        F.lit(None).cast("boolean").alias("passed"),
    ]
    hist = numeric_histogram(orders, "o_totalprice", 0.0, 500_000.0, 20).select(
        F.lit("hist").alias("section"),
        F.lit("o_totalprice").alias("column_name"),
        *pad_stats,
        "bucket", "bucket_lo", "bucket_hi", "bucket_n",
        F.lit(None).cast("string").alias("value"),
        F.lit(None).cast("long").alias("value_n"),
        F.lit(None).cast("int").alias("rank"),
        *pad_checks,
    )
    topk = top_values(orders, "o_orderpriority", k=3).select(
        F.lit("topk").alias("section"),
        F.lit("o_orderpriority").alias("column_name"),
        *pad_stats,
        F.lit(None).cast("int").alias("bucket"),
        F.lit(None).cast("double").alias("bucket_lo"),
        F.lit(None).cast("double").alias("bucket_hi"),
        F.lit(None).cast("long").alias("bucket_n"),
        "value", "value_n", "rank",
        *pad_checks,
    )
    def _checks_pad(checked: DataFrame) -> DataFrame:
        return checked.select(
            F.lit("checks").alias("section"),
            F.col("column").alias("column_name"),
            F.lit(None).cast("string").alias("dtype"),
            "n_rows",
            F.lit(None).cast("long").alias("n_nulls"),
            F.lit(None).cast("long").alias("n_distinct"),
            F.lit(None).cast("string").alias("min_value"),
            F.lit(None).cast("string").alias("max_value"),
            F.lit(None).cast("double").alias("avg_value"),
            F.lit(None).cast("double").alias("avg_len"),
            F.lit(None).cast("int").alias("bucket"),
            F.lit(None).cast("double").alias("bucket_lo"),
            F.lit(None).cast("double").alias("bucket_hi"),
            F.lit(None).cast("long").alias("bucket_n"),
            F.lit(None).cast("string").alias("value"),
            F.lit(None).cast("long").alias("value_n"),
            F.lit(None).cast("int").alias("rank"),
            "check", "n_violations", "passed",
        )

    customer = load_table(spark, sf_dir, "customer")
    fk = _checks_pad(
        run_checks(orders, [foreign_key("o_custkey", customer, "c_custkey")])
    )
    # Cross-COLUMN, cross-TABLE contract (r7, expectations.satisfies):
    # "items ship on/after their order date", checked AFTER the FK join —
    # the contract shape single-column checks can't express. One
    # column-pruned scan of each side (2 cols of lineitem, 2 of orders)
    # into the same violation_agg single-scan aggregate; in this synthetic
    # data the contract genuinely fails (dates are independent), so the
    # row also demonstrates a non-zero violation count under the oracle.
    lineitem = load_table(spark, sf_dir, "lineitem")
    shipped = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    xcol = _checks_pad(
        run_checks(
            shipped,
            [satisfies("l_shipdate >= o_orderdate", column="l_shipdate")],
        )
    )
    # `state` section (r8, profile.profile_state): the incremental-profiling
    # path — 3 per-batch states from ONE grouped scan (o_orderkey % 3 plays
    # the ingest-batch id), folded by merge_profile_states, materialized by
    # stats_from_state. The oracle recomputes the stats from the full table,
    # proving the fold is lossless on every algebraic field; n_distinct is
    # NULLed here (the merged HLL estimate is pytest-verified instead —
    # tests/test_profile_state.py).
    st = profile_state(
        orders,
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
         "o_orderpriority"],
        batch_expr=F.col("o_orderkey") % 3,
    )
    state = stats_from_state(merge_profile_states(st)).select(
        F.lit("state").alias("section"),
        "column_name", "dtype", "n_rows", "n_nulls",
        F.lit(None).cast("long").alias("n_distinct"),
        "min_value", "max_value", "avg_value", "avg_len",
        F.lit(None).cast("int").alias("bucket"),
        F.lit(None).cast("double").alias("bucket_lo"),
        F.lit(None).cast("double").alias("bucket_hi"),
        F.lit(None).cast("long").alias("bucket_n"),
        F.lit(None).cast("string").alias("value"),
        F.lit(None).cast("long").alias("value_n"),
        F.lit(None).cast("int").alias("rank"),
        *pad_checks,
    )
    return (
        fused.unionByName(hist).unionByName(topk).unionByName(fk)
        .unionByName(xcol).unionByName(state)
    )


# ---------------------------------------------------------------------------
# Drift monitoring (operators/profile.py::profile_drift / histogram_drift)
# ---------------------------------------------------------------------------

# Two planted slices of orders stand in for "previous batch" vs "current
# batch": the cur slice nulls o_custkey for every 5th order (null-rate jump
# 0 → 0.2), scales o_totalprice ×1.6 (mean shift 0.6 AND a distribution
# shift PSI sees), and collapses o_orderpriority to a constant (cardinality
# ratio 1/5); o_orderdate is untouched (all three metrics must stay quiet).
_DRIFT_PREV_SQL = (
    "SELECT o_custkey, o_totalprice, o_orderpriority, o_orderdate FROM orders"
)
_DRIFT_CUR_SQL = """
SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
       o_totalprice * 1.6 AS o_totalprice,
       '1-URGENT' AS o_orderpriority,
       o_orderdate
FROM orders
"""


def _drift_stats_sql(rel: str) -> str:
    """DuckDB mirror of the column_stats fields profile_drift consumes
    (n_rows / n_nulls / n_distinct / decimal-exact round6 avg) for the
    four profiled columns of one slice."""
    branches = []
    for col, numeric in (
        ("o_custkey", True),
        ("o_totalprice", True),
        ("o_orderpriority", False),
        ("o_orderdate", False),
    ):
        avg = _avg_sql(col) if numeric else _NULL_D
        branches.append(f"""
        SELECT '{col}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
               {avg} AS avg_value
        FROM {rel}
        """)
    return " UNION ALL ".join(branches)


# round6 cosine, id tie-break — the same assignment convention (and the
# same cross-engine-exact formula) the diversity/IVF oracles use.
_DRIFT_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / nullif(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))), 0.0)"
)

_DRIFT_ORACLE = f"""
WITH prev AS ({_DRIFT_PREV_SQL}),
cur AS ({_DRIFT_CUR_SQL}),
pstats AS ({_drift_stats_sql('prev')}),
cstats AS ({_drift_stats_sql('cur')}),
m AS (
  SELECT c.column_name,
         CASE WHEN p.n_rows > 0
              THEN CAST(p.n_nulls AS DOUBLE) / p.n_rows ELSE 0.0 END AS pr,
         CASE WHEN c.n_rows > 0
              THEN CAST(c.n_nulls AS DOUBLE) / c.n_rows ELSE 0.0 END AS cr,
         p.n_distinct AS pnd, c.n_distinct AS cnd,
         p.avg_value AS pavg, c.avg_value AS cavg
  FROM cstats c JOIN pstats p USING (column_name)
),
metrics AS (
  SELECT column_name, 'null_rate' AS metric, pr AS prev_value,
         cr AS cur_value, cr - pr AS delta, (cr - pr) > 0.05 AS flagged
  FROM m
  UNION ALL
  SELECT column_name, 'n_distinct', CAST(pnd AS DOUBLE), CAST(cnd AS DOUBLE),
         CASE WHEN pnd > 0 THEN CAST(cnd AS DOUBLE) / pnd END,
         COALESCE(CASE WHEN pnd > 0 THEN CAST(cnd AS DOUBLE) / pnd END < 0.5,
                  FALSE)
  FROM m
  UNION ALL
  SELECT column_name, 'avg_value', pavg, cavg,
         CASE WHEN pavg IS NOT NULL AND cavg IS NOT NULL THEN
           CASE WHEN pavg <> 0.0 THEN abs(cavg - pavg) / abs(pavg)
                ELSE abs(cavg - pavg) END END,
         COALESCE(CASE WHEN pavg IS NOT NULL AND cavg IS NOT NULL THEN
           CASE WHEN pavg <> 0.0 THEN abs(cavg - pavg) / abs(pavg)
                ELSE abs(cavg - pavg) END END > 0.25, FALSE)
  FROM m
),
phist AS (
  SELECT CAST(LEAST(GREATEST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - 0.0)
                                        / 30000.0) AS INT), 0), 19) AS INT)
           AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM prev WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
  GROUP BY 1
),
chist AS (
  SELECT CAST(LEAST(GREATEST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - 0.0)
                                        / 30000.0) AS INT), 0), 19) AS INT)
           AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM cur WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
  GROUP BY 1
),
hj AS (
  SELECT COALESCE(p.n, 0) AS pn, COALESCE(c.n, 0) AS cn
  FROM phist p FULL OUTER JOIN chist c USING (bucket)
),
tot AS (SELECT SUM(pn) AS tp, SUM(cn) AS tc FROM hj),
psi_terms AS (
  SELECT GREATEST(CASE WHEN tp > 0 THEN CAST(pn AS DOUBLE) / tp
                       ELSE 0.0 END, 0.000001) AS pp,
         GREATEST(CASE WHEN tc > 0 THEN CAST(cn AS DOUBLE) / tc
                       ELSE 0.0 END, 0.000001) AS pc
  FROM hj, tot
),
psi AS (SELECT COALESCE(SUM((pc - pp) * ln(pc / pp)), 0.0) AS psi
        FROM psi_terms),
ecent AS (
  SELECT vec_id AS cluster_id, embedding AS cv FROM embeddings
  WHERE vec_id BETWEEN 10 AND 17
),
ecur AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> -x) AS embedding
  FROM embeddings
),
pocc AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT e.vec_id, c.cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {sql_round6(_DRIFT_COS.format(a='e.embedding', b='c.cv'))} DESC,
                      c.cluster_id
           ) AS rn
    FROM embeddings e CROSS JOIN ecent c
  ) WHERE rn = 1 GROUP BY cluster_id
),
cocc AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT e.vec_id, c.cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {sql_round6(_DRIFT_COS.format(a='e.embedding', b='c.cv'))} DESC,
                      c.cluster_id
           ) AS rn
    FROM ecur e CROSS JOIN ecent c
  ) WHERE rn = 1 GROUP BY cluster_id
),
ej AS (
  SELECT COALESCE(p.n, 0) AS pn, COALESCE(c.n, 0) AS cn
  FROM pocc p FULL OUTER JOIN cocc c USING (cluster_id)
),
etot AS (SELECT SUM(pn) AS tp, SUM(cn) AS tc FROM ej),
epsi_terms AS (
  SELECT GREATEST(CASE WHEN tp > 0 THEN CAST(pn AS DOUBLE) / tp
                       ELSE 0.0 END, 0.000001) AS pp,
         GREATEST(CASE WHEN tc > 0 THEN CAST(cn AS DOUBLE) / tc
                       ELSE 0.0 END, 0.000001) AS pc
  FROM ej, etot
),
epsi AS (SELECT COALESCE(SUM((pc - pp) * ln(pc / pp)), 0.0) AS psi
         FROM epsi_terms)
SELECT 'moments' AS section, column_name, metric,
       {sql_round6('prev_value')} AS prev_value,
       {sql_round6('cur_value')} AS cur_value,
       {sql_round6('delta')} AS delta, flagged
FROM metrics
UNION ALL
SELECT 'psi', 'o_totalprice', 'psi',
       CAST(tp AS DOUBLE), CAST(tc AS DOUBLE),
       {sql_round6('psi')}, psi > 0.2
FROM psi, tot
UNION ALL
SELECT 'semantic', 'embedding', 'psi',
       CAST(tp AS DOUBLE), CAST(tc AS DOUBLE),
       {sql_round6('psi')}, psi > 0.2
FROM epsi, etot
"""


@query("profile_drift_report", oracle=_DRIFT_ORACLE)
def profile_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-over-batch drift monitoring under the driver oracle (r7 —
    previously the only pytest-only family): `moments` is
    operators/profile.py::profile_drift between the column_stats profiles
    of two planted orders slices (null-rate jump / cardinality collapse /
    mean shift, one (column, metric) row each); `psi` is
    histogram_drift's Population Stability Index between same-grid
    o_totalprice histograms of the slices — the distribution-shape drift
    the moment checks can't see.

    The planted cur slice (vs prev = the raw columns) nulls o_custkey for
    every 5th order, scales o_totalprice ×1.6, collapses o_orderpriority
    to one value, and leaves o_orderdate alone — so every metric family
    fires on exactly one planted pathology, the epsilon-smoothed PSI sum
    and the 0/0 and NULL-mean edge cases all execute, and o_orderdate
    proves the quiet path. All drift arithmetic is IEEE double over
    k-row/≤bins-row relations, so DuckDB reproduces it bit-for-bit before
    the round6 edge.

    Scale shape: the drift operators themselves join k-row (k = columns)
    and ≤bins-row relations — free next to the four source scans that
    build the profiles (2 × column_stats, 2 × single-column pruned
    histogram; in production the prev side comes from an already-committed
    profile, halving that). The one unpartitioned window inside
    histogram_drift runs over ≤20 joined bucket rows (documented there —
    it is what keeps each histogram lineage at ONE scan)."""
    from ..operators.clustering import embedding_drift
    from ..operators.profile import (
        column_stats,
        histogram_drift,
        numeric_histogram,
        profile_drift,
    )

    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_totalprice", "o_orderpriority", "o_orderdate"]
    prev = orders.select(*cols)
    cur = orders.select(
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        (F.col("o_totalprice") * F.lit(1.6)).alias("o_totalprice"),
        F.lit("1-URGENT").alias("o_orderpriority"),
        "o_orderdate",
    )
    # BOTH slices' stats from ONE column_stats pass: the cur slice is a
    # row-level rewrite of the prev columns, so an 8-column projection
    # (prev__*/cur__*) profiles both in the same aggregates instead of
    # two separate profile jobs over the same fact — the "profile many
    # slices in one pass" shape that matters when prev isn't a committed
    # profile but live data. r15: the 8-row result PERSISTS and the two
    # slices derive LAZILY (prefix filter + strip) instead of an eager
    # collect + createDataFrame: the construct no longer runs the
    # profile job at build time (it ran per construct — ~1.4 s at
    # sf0.1, dominated by AQE stage turnaround, not data), and both
    # drift sides read the one in-memory materialization — the same
    # persisted-shared-projection shape as the dedup index and the
    # lang_quality scored relation. Referencing the stats DataFrame
    # from both sides UNPERSISTED would re-execute the whole profile
    # job per side (the prefix filters specialize each branch, so
    # ReuseExchange never matches the subtrees) — the persist is what
    # makes the lazy form sound.
    both = orders.select(
        *[F.col(c).alias(f"prev__{c}") for c in cols],
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("cur__o_custkey"),
        (F.col("o_totalprice") * F.lit(1.6)).alias("cur__o_totalprice"),
        F.lit("1-URGENT").alias("cur__o_orderpriority"),
        F.col("o_orderdate").alias("cur__o_orderdate"),
    )
    stats = column_stats(both).persist()
    rest = [f for f in stats.schema.fieldNames() if f != "column_name"]

    def _slice(tag: str) -> DataFrame:
        pref = f"{tag}__"
        return stats.filter(
            F.col("column_name").startswith(pref)
        ).select(
            F.expr(f"substring(column_name, {len(pref) + 1})")
            .alias("column_name"),
            *rest,
        )

    moments = profile_drift(_slice("cur"), _slice("prev"))
    moment_rows = moments.select(
        F.lit("moments").alias("section"),
        "column_name",
        "metric",
        round6(F.col("prev_value")).alias("prev_value"),
        round6(F.col("cur_value")).alias("cur_value"),
        round6(F.col("delta")).alias("delta"),
        "flagged",
    )
    psi = histogram_drift(
        numeric_histogram(cur, "o_totalprice", 0.0, 600_000.0, 20),
        numeric_histogram(prev, "o_totalprice", 0.0, 600_000.0, 20),
    )
    psi_rows = psi.select(
        F.lit("psi").alias("section"),
        F.lit("o_totalprice").alias("column_name"),
        F.lit("psi").alias("metric"),
        F.col("prev_total").cast("double").alias("prev_value"),
        F.col("cur_total").cast("double").alias("cur_value"),
        F.col("psi").alias("delta"),
        "flagged",
    )
    # `semantic` (late r8, operators/clustering.py::embedding_drift): PSI
    # over cluster-OCCUPANCY distributions under a shared fixed centroid
    # set (vec_id 10-17, the ivf/diversity fixture convention) — the
    # embedding-space drift a numeric histogram can't see. The planted cur
    # batch NEGATES every vector, flipping each assignment to its most-
    # anti-similar centroid: occupancy reshuffles wholesale, PSI flags,
    # and clusters emptied on one side exercise the epsilon path. The
    # oracle re-derives both assignments (round6 cosine, id tie-break)
    # and the PSI sum.
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id").between(10, 17)).select(
        F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("cv")
    )
    cur_emb = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: -x
        ).alias("embedding"),
    )
    sem = embedding_drift(cur_emb, emb, cent)
    sem_rows = sem.select(
        F.lit("semantic").alias("section"),
        F.lit("embedding").alias("column_name"),
        F.lit("psi").alias("metric"),
        F.col("prev_total").cast("double").alias("prev_value"),
        F.col("cur_total").cast("double").alias("cur_value"),
        F.col("psi").alias("delta"),
        "flagged",
    )
    return moment_rows.unionByName(psi_rows).unionByName(sem_rows)


# The date-spine gap-fill is driver-verified as the `daily` section of
# `events_time_aggregates` (r6 consolidation with the trailing-window
# aggregates; identical spine + broadcast-join plan).


# ---------------------------------------------------------------------------
# SQL entry path (spark.sql over registered views)
# ---------------------------------------------------------------------------

_Q3ISH = """
    SELECT o_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           o_orderpriority
    FROM {customer} c
    JOIN {orders} o ON c.c_custkey = o.o_custkey
    JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
"""


@query(
    "sql_q3_shipping_priority",
    oracle=_Q3ISH.format(customer="customer", orders="orders", lineitem="lineitem"),
)
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry path: tables registered as temp views, the query given
    to ``spark.sql`` verbatim (TPC-H Q3 shape) — same Catalyst plan space
    as the DataFrame API, proving the engine's SQL surface end-to-end. The
    oracle is the identical SQL text on DuckDB."""
    views = {}
    for t in ("customer", "orders", "lineitem"):
        name = f"v_{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        views[t] = name
    return spark.sql(_Q3ISH.format(**views))


# ---------------------------------------------------------------------------
# JSON payload extraction (events.props) — raw-API-capture analog
# ---------------------------------------------------------------------------


@query(
    "json_props_extract",
    oracle="""
    SELECT event_id, event_type,
           CAST(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS BIGINT) AS k_value,
           CAST(COALESCE(CAST(json_extract_string(props, '$.missing') AS BIGINT), 0) AS BIGINT) AS missing_value,
           CAST(year(ts) AS INT)    AS event_year,
           strftime(ts, '%H:%M:%S') AS event_time,
           dayname(ts)              AS event_dayofweek,
           CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 2 = 0
                         THEN CAST(json_extract(props, '$.k') AS BIGINT) END)
                OVER (PARTITION BY event_type) AS BIGINT) AS even_k_total
    FROM events
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload handling (the raw-API JSON capture path,
    SURVEY.md §2.1) + the reference's .get() → fillna → astype chain
    (T1/T2/P2, fetch_youtube_data.py:129-132,:172-174): parse the props
    JSON with an explicit schema via from_json — never schema inference on
    the data path — project present AND absent fields null-tolerantly
    (COALESCE 0 + cast), and aggregate the extracted value per type. At
    100 TB, parse once and project; the JSON never reaches the shuffle."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_id",
        "event_type",
        F.from_json(F.col("props"), "k long, missing long").alias("p"),
        # T5–T8 scalar parts (the reference's publish_year / publish_time /
        # published_dayofweek derivation, fetch_youtube_data.py:176-180) on
        # the event timestamp — pure codegen'd projections, zero extra cost.
        F.year("ts").cast("int").alias("event_year"),
        F.date_format("ts", "HH:mm:ss").alias("event_time"),
        F.date_format("ts", "EEEE").alias("event_dayofweek"),
    ).select(
        "event_id",
        "event_type",
        F.coalesce(F.col("p.k"), F.lit(0)).alias("k_value"),
        F.coalesce(F.col("p.missing"), F.lit(0)).alias("missing_value"),
        "event_year",
        "event_time",
        "event_dayofweek",
        F.col("p.k").alias("k"),
    )
    # Per-type total attached via partial-agg + broadcast join-back, NOT a
    # window over event_type: a window partitioned by a low-cardinality key
    # funnels the whole 100 TB table through a handful of reducers, while
    # the aggregate is map-side-combined and the tiny result broadcasts.
    even_k = F.when(F.col("k") % 2 == 0, F.col("k"))
    # eqNullSafe join-back: groupBy keeps a NULL event_type as its own
    # group (as the oracle's window does), but a plain equi-join would
    # silently drop those rows from the output (r6 review — the same
    # NULL-group hazard capping.py guards).
    totals = parsed.groupBy(
        F.col("event_type").alias("__tot_type")
    ).agg(F.sum(even_k).alias("even_k_total"))
    return parsed.join(
        F.broadcast(totals),
        parsed["event_type"].eqNullSafe(F.col("__tot_type")),
    ).select(
        "event_id",
        "event_type",
        "k_value",
        "missing_value",
        "event_year",
        "event_time",
        "event_dayofweek",
        "even_k_total",
    )


# ---------------------------------------------------------------------------
# Sliding-window streaming (events)
# ---------------------------------------------------------------------------


@query(
    "streaming_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, e.event_id AS error_id, c.user_id
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL '30 minutes'
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click → error within 30 min, per user):
    both sides buffer state; the watermark + the time-range predicate bound
    how long each side's rows are retained — the property that keeps a
    joined pair of 100 TB/day streams in finite state. availableNow drain;
    oracle = the equivalent batch interval join."""
    import tempfile

    from ..streaming.ingest import read_events_stream

    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    errors = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "2 hours")
    )
    joined = clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("c_ts"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("click_id", "error_id", "user_id")

    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# Streaming exact dedup (dropDuplicatesWithinWatermark) is driver-verified
# through `streaming_ingest_modes` (plans/extended.py — r6 consolidation
# with the tumbling-window drain; both availableNow modes in one relation).


# Sliding windows (window="1 hour", slide="30 minutes") run through the
# same tumbling_event_counts machinery; value-checked against the batch
# window expansion in tests/test_watermark_sketches.py.


# The IVF recall curve folded into ivf_ann_topk as its 'recall' section in
# r13 (registry slot freed for url_compliance_docs); the generator lives in
# _ivf_combined_oracle above and operators/similarity.py::ivf_recall_report
# is unchanged.
