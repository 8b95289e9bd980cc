"""Physical-plan assertions for the 100 TB design claims.

These tests pin the *plan shapes* the engine relies on at scale — they fail
if a refactor silently introduces a shuffle, loses a pushdown, or drops a
broadcast, long before a perf regression would be noticed at sf0.1.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.sources.tables import load_table

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_profile_row_scan_budget(spark):
    """table_profile_orders' scan discipline: stats and every
    agg-expressible non-distinct contract check share ONE scan
    (fused_profile), and the distinct counts + unique check share ONE
    more (the r8 split side-aggregate — profile._merge_nd explains why
    fusing them back would sort the Expand stream), leaving exactly six
    orders scans — those two aggregates, the histogram (its own
    single-column-pruned scan, see fused_profile's docstring), top-k,
    the FK probe, (r7) the cross-column satisfies contract's
    2-column side of the joined fact, and (r8) the `state` section's ONE
    grouped scan producing all three per-batch profile states (the
    incremental-profiling demo — N batch states from one pass, merged
    over state rows, never data) — seven orders scans total, plus one
    customer scan and one 2-column lineitem scan. A refactor that splits
    the fused aggregate into per-stat scans (or re-fuses the distinct
    side, or turns the grouped state scan into per-batch scans) fails
    here."""
    import re

    from youtube_api_data_etl_automation_spark.plans import QUERIES

    plan = _plan(QUERIES["table_profile_orders"](spark, SF_DIR))
    assert len(re.findall(r"Scan parquet[^\n]*orders", plan)) == 7
    assert len(re.findall(r"Scan parquet[^\n]*customer", plan)) == 1
    assert len(re.findall(r"Scan parquet[^\n]*lineitem", plan)) == 1
    # the satisfies branch reads ONLY its two columns from each side
    m = re.search(r"Scan parquet[^\n]*lineitem[^\n]*ReadSchema: ([^\n]*)", plan)
    assert m and "l_orderkey" in m.group(1) and "l_shipdate" in m.group(1)
    assert "l_extendedprice" not in m.group(1)


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketing both sides of a recurring join key co-locates the join:
    the plan must contain NO shuffle exchange (at 100 TB this is the
    difference between a network-bound and a local join)."""
    import uuid

    suffix = uuid.uuid4().hex[:8]
    t_orders, t_li = f"b_orders_{suffix}", f"b_lineitem_{suffix}"
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(t_orders)
    )
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(t_li)
    )
    joined = (
        spark.table(t_li)
        .join(spark.table(t_orders),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # AQE off so the static plan is inspectable; broadcast off so the join
    # strategy is the one bucketing matters for at scale (at 100 TB neither
    # side of this join broadcasts).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(joined)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # The join itself must not shuffle either side (bucket co-location);
    # only the final aggregation may exchange.
    join_part = plan.split("HashAggregate")[-1]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert joined.count() > 0
    assert join_part is not None
    spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
    spark.sql(f"DROP TABLE IF EXISTS {t_li}")


def test_partition_pruning(spark):
    """A scan over a date-partitioned table with a partition predicate must
    prune at planning time (PartitionFilters populated, pruned partition
    count visible) — at 100 TB this is what turns a full-table scan into a
    single-day read."""
    out = tempfile.mkdtemp(prefix="part_events_")
    events = load_table(spark, SF_DIR, "events")
    (
        events.withColumn("day", F.to_date("ts"))
        .write.partitionBy("day").mode("overwrite").parquet(out)
    )
    n_days = len([d for d in os.listdir(out) if d.startswith("day=")])
    assert n_days > 3
    read = spark.read.parquet(out).filter(F.col("day") == F.lit("2024-01-02"))
    plan = _plan(read)
    assert "PartitionFilters: [isnotnull(day" in plan
    # Only one partition directory survives pruning.
    files = read.select(F.input_file_name()).distinct().collect()
    assert all("day=2024-01-02" in r[0] for r in files)


def test_filter_and_projection_pushdown(spark):
    """Predicate + column pruning must reach the parquet scan: PushedFilters
    carries the predicate and ReadSchema carries ONLY the projected columns."""
    li = load_table(spark, SF_DIR, "lineitem")
    q = li.filter(F.col("l_shipdate") > F.lit("1995-01-01")).select(
        "l_orderkey", "l_shipdate"
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m and "l_extendedprice" not in m[0] and "l_comment" not in m[0]


def test_small_dim_join_broadcasts(spark):
    """Joining a fact table to a small dimension must plan a broadcast hash
    join (no shuffle of the fact side)."""
    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer")
    j = orders.join(customer, orders.o_custkey == customer.c_custkey)
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(o_custkey" not in plan


def test_neardup_pairs_has_no_nested_loop_join(spark):
    """embedding_neardup_pairs (r1 scale-killer): candidate generation must
    be the sign-bucket EQUI-join — a BroadcastNestedLoopJoin over id_a<id_b
    is quadratic compute regardless of cluster size."""
    from youtube_api_data_etl_automation_spark.operators.similarity import (
        most_similar_pairs,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _plan(most_similar_pairs(emb, top_n=5, sample_mod=10))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # The bucket key carries a hash join (broadcast or shuffled).
    assert "Join" in plan


def test_simhash_pairs_one_band_join_and_no_persist(spark):
    """SimHash candidates come from ONE equi-join on the folded band key
    (never a nested-loop or cartesian join), and forcing the pairs leaves
    nothing in the session's cache manager."""
    from youtube_api_data_etl_automation_spark.operators.simhash import (
        simhash_pairs,
    )

    spark.catalog.clearCache()
    df = simhash_pairs(load_table(spark, SF_DIR, "documents"), max_hamming=4)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    joins = [line for line in plan.splitlines() if "Join" in line]
    assert len(joins) == 1 and "band" in joins[0], plan
    df.write.format("noop").mode("overwrite").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ngram_jaccard_hot_shingles_filtered_by_broadcast_anti_join(spark):
    """The stop-shingle cap must distribute as a broadcast anti-join of the
    (tiny) hot set — not shuffle the full shingle relation a second time."""
    from youtube_api_data_etl_automation_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(ngram_jaccard_pairs(docs, k=3, max_shingle_df=1000))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_anti_join_broadcasts_existing_keys(spark):
    """The incremental core (J1): existing-keys side is broadcast, candidate
    side never shuffles — the property that makes incremental loads O(delta)
    network at 100 TB."""
    from youtube_api_data_etl_automation_spark.operators.incremental import select_new

    orders = load_table(spark, SF_DIR, "orders")
    existing = orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    delta = select_new(orders, existing, "o_orderkey")
    plan = _plan(delta)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_pii_redaction_is_map_only(spark):
    """PII scrub (curation): pure projection — no hash-partitioned exchange
    (at 100 TB it pipelines inside the scan stage; the only allowed
    exchange is the single-row-group rebalance round-robin, which a real
    multi-file 100 TB input wouldn't need)."""
    from youtube_api_data_etl_automation_spark.plans.curation import pii_redact_docs

    plan = _plan(pii_redact_docs(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_decontam_broadcasts_benchmark_grams(spark):
    """Decontamination: the benchmark n-gram set must broadcast — the
    corpus' exploded n-grams never hash-partition across the network
    (the corpus side is 100 TB; the benchmark is fixed-size)."""
    from youtube_api_data_etl_automation_spark.plans.curation import (
        decontam_ngram_hits,
    )

    plan = _plan(decontam_ngram_hits(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # The only gram-keyed exchange allowed is the benchmark DISTINCT inside
    # the broadcast build subtree (fixed-size side). The corpus (probe)
    # side prints before the build side — it must contain none.
    probe_side = plan.split("BroadcastExchange HashedRelationBroadcastMode(List(input[0, string")[0]
    assert "Exchange hashpartitioning(g" not in probe_side


def test_stratified_sample_single_exchange(spark):
    """Sampling audits (split + grouped + stratified + aes + late-r8
    diversity sections): every keep/assign decision is map-side; the
    exchanges are the two audit aggregates (one per audit section), the
    r13 grouped section's two (its audit aggregate's countDistinct
    runs as the standard two-phase distinct — (stratum, source) then
    stratum), the A-ES draw's per-group (lang, key) window partition,
    and the diversity section's four (its cluster_id preference window,
    the k-row cluster-size aggregate feeding water-filling, and the
    quota join's two sides) — nine total, no shuffle beyond them. The
    grouped_split ASSIGNMENT itself is map-only (the two extra
    exchanges are audit-side, not the operator's). The diversity
    draw-order windows over the ≤n picked rows are the section's
    documented bounded-row SinglePartition ops, not data-plane
    shuffles.

    r14 optimization round: SEVEN, down from nine — assign_clusters'
    cluster assignment became a map-side literal argmax, so the
    diversity section no longer re-shuffles every (vec, cluster) row
    through the former broadcast-join + groupBy(id).max_by pass (two
    exchanges gone: the argmax groupBy and the downstream re-key it
    forced)."""
    from youtube_api_data_etl_automation_spark.plans.curation import (
        sampling_audits,
    )

    plan = _plan(sampling_audits(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 7


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """Selective dim-filtered shuffle join: the optimizer must inject a
    bloom filter (might_contain) built from the dim side into the fact
    side — at 100 TB the fact rows that can't join die at the scan, not
    in the shuffle. Thresholds are lowered to make the sf0.001 inputs
    eligible; the session enables the feature itself (session.py)."""
    orders = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, SF_DIR, "lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )
    try:
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert "might_contain" in _optimized(j)
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        )


def test_cap_under_cap_rows_skip_the_window_sort(spark):
    """Per-group cap (r4): the under-cap path must reach the output through
    a broadcast anti-join with NO Window operator on it — only over-cap
    groups' rows may pay the rank. The pin counts Window operators: exactly
    one, on the hot path."""
    from youtube_api_data_etl_automation_spark.operators.capping import cap_per_group

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(cap_per_group(docs, group_col="lang", id_col="doc_id", cap=10))
    window_ops = [
        line for line in plan.splitlines() if line.lstrip("+-: ").startswith("Window ")
    ]
    assert len(window_ops) == 1, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Bonus shape worth keeping: Spark's rank-limit pushdown inserts a
    # partial WindowGroupLimit BEFORE the exchange, so even the hot path
    # shuffles at most cap rows per group per input partition.
    assert "WindowGroupLimit" in plan


def test_repeated_spans_no_pair_generation_and_no_text_shuffle(spark):
    """Repeated-substring spans (r4): no nested-loop/cartesian anywhere (the
    op flags occurrences, never generates pairs), and no exchange carries
    the raw text column — shuffles move (id, pos, md5 hash) only."""
    from youtube_api_data_etl_automation_spark.operators.substring import (
        duplicated_spans,
    )

    docs = load_table(spark, SF_DIR, "documents")
    df = duplicated_spans(docs, k=8)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # Every hash exchange partitions on the gram hash or the doc key —
    # never on the raw text column.
    exchanges = [line for line in plan.splitlines() if "Exchange hashpartitioning" in line]
    assert exchanges, plan
    for line in exchanges:
        assert "text" not in line, line
    # Release the operator-internal persist so repeated test runs don't
    # accumulate cached occurrence relations.
    spark.catalog.clearCache()


def test_scd2_single_key_shuffle(spark):
    """SCD2 (r4): exactly one hash exchange on the dimension key — the
    change window, run collapse, and interval lead all reuse it."""
    from youtube_api_data_etl_automation_spark.operators.scd import scd2_history

    orders = load_table(spark, SF_DIR, "orders")
    obs = orders.select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    hist = scd2_history(
        obs,
        key_cols=["o_custkey"],
        attr_cols=["o_orderpriority"],
        order_cols=["o_orderdate", "o_orderkey"],
    )
    plan = _plan(hist)
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) == 1, plan
    assert "o_custkey" in exchanges[0]


def test_window_suite_shares_one_exchange(spark):
    """All eight window functions in window_distribution_stats (two sort
    orders, r5: including the folded-in ranking trio) must ride ONE hash
    exchange on the shared partition key — adding a window function must
    never add a shuffle."""
    import re

    from youtube_api_data_etl_automation_spark.plans import QUERIES

    plan = _plan(QUERIES["window_distribution_stats"](spark, SF_DIR))
    # count executable topology only (no cached lineage here, but AQE can
    # print initial plans — strip them the same way tools/plan_report does)
    import importlib.util as _ilu
    import os as _os
    import sys as _sys

    _root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    _spec = _ilu.spec_from_file_location(
        "plan_report", _os.path.join(_root, "tools", "plan_report.py")
    )
    _mod = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_mod)
    deduped = _mod.dedup_plan_text(plan)
    assert len(re.findall(r"Exchange hashpartitioning", deduped)) == 1
    assert len(re.findall(r"Exchange RoundRobinPartitioning", deduped)) == 0


def test_staged_video_ids_plan_is_metadata_only(spark, tmp_path):
    """The staged-delta source plans one partition per (file, row group)
    from parquet FOOTERS — no id may appear in any partition payload or
    option (the structure VERDICT r4 flagged grows with the delta)."""
    from youtube_api_data_etl_automation_spark.sources.youtube_api import (
        YouTubeReader,
    )

    p = str(tmp_path / "ids")
    spark.range(5000).selectExpr("concat('v', id) AS videoId").repartition(
        4
    ).write.parquet(p)
    reader = YouTubeReader({"table": "videos", "video_ids_path": p})
    parts = reader.partitions()
    assert len(parts) == 4
    for part in parts:
        fpath, rg = part.payload
        assert isinstance(fpath, str) and fpath.endswith(".parquet")
        assert isinstance(rg, int)
        assert "v1" not in str(part.payload)  # payload carries no ids


def test_frontier_delay_join_broadcasts(spark):
    """r14: crawl_frontier's crawl_delay_sec join is a BROADCAST hash
    join of the rules-sized delays relation — a refactor that lets it
    fall to a sort-merge join would shuffle the frontier on host."""
    from youtube_api_data_etl_automation_spark.operators.robots import (
        crawl_frontier,
        parse_robots,
    )

    rules = parse_robots(spark.createDataFrame(
        [("a.com", "User-agent: *\nCrawl-delay: 3\n"
          "Sitemap: https://a.com/sm.xml\n")],
        "host string, payload string"))
    fetches = spark.createDataFrame(
        [("https://a.com/sm.xml",
          "<urlset><url><loc>https://a.com/p1</loc></url></urlset>")],
        "url string, payload string")
    plan = _plan(crawl_frontier(rules, fetches))
    # the delays join is the OUTERMOST operator (LeftOuter on host):
    # the first join in the plan string must be the broadcast one.
    # Deeper joins (the REP/sitemap rules-sized equi-joins) may print
    # as SMJ pre-AQE at this fixture size; AQE converts them at
    # runtime and they are not this test's contract.
    first_join = min(i for i in (
        plan.find("BroadcastHashJoin"), plan.find("SortMergeJoin"))
        if i != -1)
    assert plan[first_join:].startswith("BroadcastHashJoin")
    head = plan[first_join:first_join + 120]
    assert "host" in head and "LeftOuter" in head


def test_schedule_fetches_single_host_exchange(spark):
    """r14: schedule_fetches is ONE hash exchange on host (the window)
    plus map-side slot math — no global sort, no extra shuffle."""
    from youtube_api_data_etl_automation_spark.operators.robots import (
        schedule_fetches,
    )

    frontier = spark.createDataFrame(
        [("a.com", "https://a.com/p1", None, 2.0)],
        "host string, url string, lastmod string, "
        "crawl_delay_sec double")
    plan = _plan(schedule_fetches(frontier, 16))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert "Window" in plan


def test_cluster_assignment_is_map_side_literal(spark):
    """r14 optimization round: assign_clusters folds the centroid
    relation into k literal score expressions (O(k) control-plane
    collect), so the assignment plan has NO join and NO exchange of any
    kind — the former broadcast-join + groupBy(id).max_by shape
    re-shuffled every corpus row WITH its vector payload for an
    aggregate that had nothing left to merge. At 100 TB that exchange
    was the operator's entire cost; kmeans_lloyd iterations share the
    same literal-argmax shape (their only remaining exchange is the
    k·dim partial-sum aggregate)."""
    from youtube_api_data_etl_automation_spark.operators.similarity import (
        assign_clusters,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") <= 17))
    plan = _plan(assign_clusters(emb.select("vec_id", "embedding"), cents))
    assert "Join" not in plan
    assert "Exchange" not in plan
