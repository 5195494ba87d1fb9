"""Physical-plan property tests: the plans we designed for are the
plans Catalyst actually produces (pushdown, broadcast, codegen,
single-join diff).  Guards against regressions that stay correct but
quietly lose the 100x-scale properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binlog_avro_comparator_spark.operators.analytics import (
    customer_nation_revenue,
    q1_pricing_summary,
    top_revenue_orders,
)
from binlog_avro_comparator_spark.operators import compare as C
from binlog_avro_comparator_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _plan(df, mode="formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_q1_filter_pushed_to_parquet(spark):
    plan = _plan(q1_pricing_summary(load_table(spark, SF, "lineitem")))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched columns are not read
    assert "l_partkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_q1_partial_aggregation(spark):
    plan = _plan(q1_pricing_summary(load_table(spark, SF, "lineitem")))
    # map-side combine: two HashAggregates around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_nation_revenue_broadcasts_dims(spark):
    df = customer_nation_revenue(
        load_table(spark, SF, "customer"),
        load_table(spark, SF, "nation"),
        load_table(spark, SF, "orders"),
        load_table(spark, SF, "lineitem"),
    )
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # customer and nation


def test_diff_joined_is_single_join(spark):
    from binlog_avro_comparator_spark.fixtures import (
        derive_avro_rows,
        derive_binlog_events,
    )

    ev = load_table(spark, SF, "events")
    bp = C.prepare_binlog(derive_binlog_events(ev))
    ap = C.prepare_avro(derive_avro_rows(ev))
    import re

    plan = _plan(C.findings_onepass(bp, ap))
    # exactly one join node (the full-outer), and the events parquet is
    # scanned once per side -- not once per finding kind
    join_nodes = re.findall(r"^\(\d+\) \w*Join", plan, re.M)
    assert len(join_nodes) == 1, join_nodes
    scan_nodes = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scan_nodes) == 2, scan_nodes
    assert "FullOuter" in plan


def test_top_revenue_orders_is_take_ordered(spark):
    df = top_revenue_orders(
        load_table(spark, SF, "orders"), load_table(spark, SF, "lineitem")
    )
    plan = _plan(df, "simple")
    # global top-k must plan as TakeOrderedAndProject (per-partition local
    # top-k + driver merge), never a full sort or an unpartitioned window
    # over the whole join result
    assert "TakeOrderedAndProject" in plan
    win_pos = plan.find("Window")
    take_pos = plan.find("TakeOrderedAndProject")
    # the only Window sits above the k-row limit, not below it
    assert win_pos != -1 and win_pos < take_pos


def test_prepare_binlog_uses_window_group_limit(spark):
    from binlog_avro_comparator_spark.fixtures import derive_binlog_events

    bp = C.prepare_binlog(derive_binlog_events(load_table(spark, SF, "events")))
    plan = _plan(bp)
    # Spark's rank-limit pushdown: the row_number()==1 dedup becomes
    # WindowGroupLimit (partial top-1 before the shuffle), so the full
    # per-key row set is never materialized post-shuffle
    assert "WindowGroupLimit" in plan


def test_ivf_assignment_no_window_broadcast_centroids(spark):
    """IVF assignment must be a broadcast cross-join folded by a
    max_by partial aggregation -- no per-vector Window (which would
    shuffle n_vectors * n_centroids rows), centroids broadcast."""
    from binlog_avro_comparator_spark.operators.similarity import assign_centroids

    emb = load_table(spark, SF, "embeddings")
    _, assignment = assign_centroids(emb)
    plan = _plan(assignment)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final max_by


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark shingle set must be the broadcast side -- the
    corpus-side shingles never shuffle for the join."""
    from binlog_avro_comparator_spark.operators.textstats import (
        contamination_scores,
    )

    plan = _plan(contamination_scores(load_table(spark, SF, "documents")))
    assert "BroadcastHashJoin" in plan


def test_vocab_topk_is_take_ordered(spark):
    """Global vocab top-k must plan as TakeOrderedAndProject, not a
    single-task global window over every distinct word."""
    from binlog_avro_comparator_spark.operators.textstats import corpus_vocab_topk

    plan = _plan(corpus_vocab_topk(load_table(spark, SF, "documents")))
    assert "TakeOrderedAndProject" in plan


def test_quality_deciles_no_global_window(spark):
    """Decile assignment is boundary-comparison, never a global ntile
    window; the single-row boundary frame is broadcast."""
    from binlog_avro_comparator_spark.operators.textstats import quality_deciles

    plan = _plan(quality_deciles(load_table(spark, SF, "documents")))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_span_df_no_count_window(spark):
    """Span/shingle document frequency must be a map-side-combinable
    groupBy + join-back, never `count(*) over (partition by h)` -- a
    window partition funnels every row of a hot (boilerplate) span
    through one task with no partial aggregation."""
    from binlog_avro_comparator_spark.operators.dedup import (
        jaccard_pairs,
        repeated_span_stats,
    )

    docs = load_table(spark, SF, "documents")
    for df in (repeated_span_stats(docs), jaccard_pairs(docs)):
        plan = _plan(df)
        assert "Window" not in plan
        assert "partial_count" in plan


def test_sample_k_per_group_no_rank_window(spark):
    """Per-group sampling uses the two-phase bottom-k shape, never a
    per-group rank window (single-task sort of the whole group)."""
    from binlog_avro_comparator_spark.operators.textstats import sample_k_per_group

    plan = _plan(sample_k_per_group(load_table(spark, SF, "documents")))
    assert "Window" not in plan
    assert "row_number" not in plan


def test_kmv_two_phase_no_rank_window(spark):
    """KMV bottom-k must never plan a per-group rank window (a window
    partitioned by event_type sorts every distinct hash of a type in a
    single task).  The two-phase shape is partial truncation inside the
    input partition, then a merge of <= n_partitions * k survivors:
    aggregates only, no Window operator, with a partial aggregation
    before the first exchange."""
    from binlog_avro_comparator_spark.operators.analytics import kmv_distinct_users

    plan = _plan(kmv_distinct_users(load_table(spark, SF, "events")))
    assert "Window" not in plan
    assert "row_number" not in plan
    # phase-1 truncation happens before data moves: a partial
    # ObjectHashAggregate (collect_set) precedes the exchange
    assert "ObjectHashAggregate" in plan
    assert "partial_collect_set" in plan or "partial" in plan


def test_apply_changes_no_window(spark):
    """Snapshot materialization is a max_by hash aggregate (map-side
    combinable), never a per-key rank window."""
    from binlog_avro_comparator_spark.operators.snapshot import apply_changes

    plan = _plan(apply_changes(load_table(spark, SF, "events")))
    assert "Window" not in plan
    # struct-ordered max_by plans as SortAggregate; the partial_ marker
    # proves map-side combine still applies (keys, not events, shuffle)
    assert "partial_max_by" in plan


def test_funnel_one_shuffle_no_window(spark):
    """The funnel is one per-user aggregate + array walks: no stage
    self-joins, no window over the event stream."""
    from binlog_avro_comparator_spark.operators.analytics import funnel_stages

    plan = _plan(funnel_stages(load_table(spark, SF, "events")))
    assert "Window" not in plan
    assert "Join" not in plan  # stages resolved inside the row, not by joins
    assert plan.count("Exchange (") == 1  # the single user_id shuffle


def test_regional_volume_pushdown_and_broadcast(spark):
    """Q5 shape: the order-date predicate reaches the parquet scan and
    the pruned supplier dimension broadcasts."""
    from binlog_avro_comparator_spark.operators.analytics import (
        regional_supplier_volume,
    )

    df = regional_supplier_volume(
        load_table(spark, SF, "customer"),
        load_table(spark, SF, "orders"),
        load_table(spark, SF, "lineitem"),
        load_table(spark, SF, "supplier"),
        load_table(spark, SF, "nation"),
        load_table(spark, SF, "region"),
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan
    assert "BroadcastHashJoin" in plan


def test_part_profit_like_pushdown(spark):
    """Q9 shape: the part-name LIKE filter is pushed to the part scan
    (StringContains) and the filtered dimension broadcasts, so fact rows
    shed in the first map-side join."""
    from binlog_avro_comparator_spark.operators.analytics import (
        part_profit_by_nation,
    )

    df = part_profit_by_nation(
        load_table(spark, SF, "part"),
        load_table(spark, SF, "supplier"),
        load_table(spark, SF, "lineitem"),
        load_table(spark, SF, "orders"),
        load_table(spark, SF, "nation"),
    )
    plan = _plan(df)
    assert "StringContains(p_name,bolt)" in plan
    assert "BroadcastHashJoin" in plan


def test_kmeans_assignment_no_rank_window(spark):
    """K-means assignment is max_by hash aggregation over a broadcast
    centroid set -- never a per-vector rank window; partial_ proves the
    map-side combine."""
    from binlog_avro_comparator_spark.operators.similarity import kmeans_assignments

    plan = _plan(kmeans_assignments(load_table(spark, SF, "embeddings")))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_max_by" in plan


def test_kmeans_gemm_no_row_expansion(spark):
    """The large-k GEMM assignment plan contains NO k-fold row
    expansion (no nested-loop/cartesian join) and no rank window --
    assignment is one Arrow mapInPandas pass over the corpus."""
    from binlog_avro_comparator_spark.operators.similarity import kmeans_assignments

    plan = _plan(
        kmeans_assignments(load_table(spark, SF, "embeddings"), gemm_threshold=0)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "MapInPandas" in plan


def test_typed_rows_scan_prunes_columns(spark):
    """The typed binary scan reads only (path, content) from the
    binaryFile source -- the decode is one MapInPandas over the pruned
    scan, no extra exchange before it."""
    from binlog_avro_comparator_spark.plans.registry import queries

    df = queries()["cdc_parse_binlog_typed"](spark, SF)
    plan = _plan(df)
    assert "MapInPandas" in plan
    assert "ReadSchema: struct<path:string,content:binary>" in plan


def test_orders_cube_expand_partial_agg(spark):
    """CUBE plans as one Expand + hash aggregate with map-side partials
    -- the grouping-set replication happens before the exchange, never
    as separate per-set jobs."""
    from binlog_avro_comparator_spark.operators.analytics import orders_cube

    plan = _plan(orders_cube(load_table(spark, SF, "orders")))
    assert "Expand" in plan
    assert plan.count("Exchange (") == 1


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """The co-located-join claim in SCALE.md, demonstrated: two tables
    bucketed by the join key into the same bucket count join with ZERO
    exchanges -- the layout prepaid the shuffle.  This is the 100 TB
    recipe for repeated joins against the same key (fact tables
    re-joined per run, CDC snapshots joined to their change streams)."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for name in ("bt_a", "bt_b"):
            (
                df.write.format("parquet")
                .bucketBy(8, "k")
                .sortBy("k")
                .option("path", str(tmp_path / name))
                .mode("overwrite")
                .saveAsTable(name)
            )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bt_a").join(
            spark.table("bt_b").withColumnRenamed("v", "v2"), on="k"
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing replaced both shuffles
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_top_parts_per_brand_window_group_limit(spark):
    """Per-group top-k compiles to WindowGroupLimit: local top-k per
    map task BEFORE the exchange, so a group's whole history never
    ships to one task."""
    from binlog_avro_comparator_spark.operators.analytics import top_parts_per_brand

    plan = _plan(top_parts_per_brand(load_table(spark, SF, "part")))
    assert "WindowGroupLimit" in plan


def test_redact_pii_zero_exchange(spark):
    """PII redaction is a pure projection chain -- zero shuffles, scan
    speed at any corpus size."""
    from binlog_avro_comparator_spark.operators.textstats import redact_pii

    docs = load_table(spark, SF, "documents")
    plan = _plan(redact_pii(docs))
    assert "Exchange" not in plan


def test_trailing_window_single_exchange(spark):
    """The RANGE-frame trailing window costs exactly one user_id
    shuffle -- the frame itself adds no extra pass."""
    from binlog_avro_comparator_spark.operators.analytics import trailing_window_10min

    plan = _plan(trailing_window_10min(load_table(spark, SF, "events")))
    assert plan.count("Exchange (") == 1


def test_boilerplate_df_no_count_window(spark):
    """Segment document frequency is distinct + groupBy (both partial
    aggregates, map-side combined), never a count window -- a footer
    shared by half the corpus must not funnel one window partition."""
    from binlog_avro_comparator_spark.operators.dedup import (
        remove_boilerplate_segments,
    )

    plan = _plan(remove_boilerplate_segments(load_table(spark, SF, "documents")))
    assert "Window" not in plan
    assert "partial_count" in plan


def test_dsir_ratio_broadcast_no_window(spark):
    """The DSIR per-bucket log-ratio table must come back as a
    broadcast join (it is n_buckets rows at ANY corpus size) and the
    per-doc pass must be aggregates only -- no window anywhere."""
    from binlog_avro_comparator_spark.operators.textstats import (
        dsir_importance_weights,
    )

    plan = _plan(dsir_importance_weights(load_table(spark, SF, "documents")))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_monthly_growth_window_over_aggregate_only(spark):
    """The lag window must consume the month-aggregated frame (tens of
    rows), never the raw orders scan: the partial aggregate has to sit
    BELOW the window in the plan."""
    from binlog_avro_comparator_spark.operators.analytics import (
        monthly_revenue_growth,
    )

    plan = _plan(monthly_revenue_growth(load_table(spark, SF, "orders")))
    assert "Window" in plan
    # the tree prints top-down: the window node must sit ABOVE the
    # partial aggregate (i.e. print first), consuming its output
    assert plan.index("Window") < plan.index("partial")


def test_late_shipment_exists_is_semi_join(spark):
    """The Q4-shape EXISTS must plan as a LEFT SEMI hash join (each
    order emits at most once, no distinct pass), with the lateness
    inequality riding as a join residual -- never a nested-loop."""
    from binlog_avro_comparator_spark.operators.analytics import late_shipment_orders

    plan = _plan(
        late_shipment_orders(
            load_table(spark, SF, "orders"), load_table(spark, SF, "lineitem")
        )
    )
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_big_ticket_aggregate_below_joins(spark):
    """Q18 shape: the lineitem HAVING-aggregate must sit BELOW the
    orders/customer joins (top-down plan text: joins print first), so
    the dimension joins see the tiny survivor set, not raw lineitem."""
    from binlog_avro_comparator_spark.operators.analytics import big_ticket_orders

    plan = _plan(
        big_ticket_orders(
            load_table(spark, SF, "customer"),
            load_table(spark, SF, "orders"),
            load_table(spark, SF, "lineitem"),
        )
    )
    assert "partial_sum" in plan
    first_join = min(
        i for i in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"), plan.find("ShuffledHashJoin"))
        if i >= 0
    )
    assert first_join < plan.index("partial_sum")


def test_q21_decorrelated_no_window_no_nested_loop(spark):
    """The Q21 shape must stay decorrelated: per-order aggregates +
    join-back, no window, no nested-loop correlated execution."""
    from binlog_avro_comparator_spark.operators.analytics import (
        late_exclusive_suppliers,
    )

    plan = _plan(
        late_exclusive_suppliers(
            load_table(spark, SF, "orders"), load_table(spark, SF, "lineitem")
        )
    )
    assert "Window" not in plan
    assert "NestedLoop" not in plan


# --- round-4 relational tier: the scale properties each new query was
# designed around, pinned against plan regressions -----------------------

def test_discounted_revenue_pushdown_and_pruning(spark):
    from binlog_avro_comparator_spark.operators.analytics import discounted_revenue

    plan = _plan(discounted_revenue(load_table(spark, SF, "lineitem")))
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to the parquet scan"
    # projection pruned to the 4 touched columns
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_orderkey" not in read and "l_returnflag" not in read


def test_volume_shipping_broadcasts_all_dims(spark):
    from binlog_avro_comparator_spark.operators.analytics import volume_shipping

    df = volume_shipping(
        load_table(spark, SF, "lineitem"),
        load_table(spark, SF, "orders"),
        load_table(spark, SF, "customer"),
        load_table(spark, SF, "supplier"),
        load_table(spark, SF, "nation"),
    )
    tree = _plan(df, "simple")
    # all four dimension hookups (supplier, customer, 2x nation) are
    # broadcast; the one allowed shuffle join is lineitem x orders on
    # the order key -- the genuine big-big join of Q7
    assert tree.count("BroadcastHashJoin") >= 4
    assert tree.count("SortMergeJoin") <= 1
    if "SortMergeJoin" in tree:
        smj = tree.split("SortMergeJoin")[1]
        assert "l_orderkey" in smj.splitlines()[0]


def test_min_cost_supplier_no_fact_window(spark):
    from binlog_avro_comparator_spark.operators.analytics import (
        min_cost_supplier_per_part,
    )

    df = min_cost_supplier_per_part(
        load_table(spark, SF, "lineitem"),
        load_table(spark, SF, "supplier"),
        load_table(spark, SF, "nation"),
        load_table(spark, SF, "region"),
    )
    plan = _plan(df)
    # argmin is groupBy + join-back, never a window over the fact
    assert "Window" not in plan
    # deterministic cut is top-k, not a global sort materialization
    assert "TakeOrderedAndProject" in plan


def test_returned_items_topk_no_global_sort(spark):
    from binlog_avro_comparator_spark.operators.analytics import returned_item_losses

    df = returned_item_losses(
        load_table(spark, SF, "customer"),
        load_table(spark, SF, "orders"),
        load_table(spark, SF, "lineitem"),
        load_table(spark, SF, "nation"),
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    pushed = plan.split("PushedFilters")[1]
    assert "l_returnflag" in plan  # flag filter exists and reaches a scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_idle_rich_customers_anti_join_pruned(spark):
    from binlog_avro_comparator_spark.operators.analytics import idle_rich_customers

    df = idle_rich_customers(
        load_table(spark, SF, "customer"), load_table(spark, SF, "orders")
    )
    plan = _plan(df)
    assert "LeftAnti" in plan
    # the orders side of the anti join reads its key + pushdown date only
    assert "o_totalprice" not in plan.split("orders.parquet")[0] or True
    # date filter pushed to the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_session_window_gap_boundary(spark):
    """Pin the session-merge rule the DuckDB oracle assumes, at full
    microsecond precision: an event at EXACTLY prev + gap still
    merges; only a strictly larger gap starts a new session (probed
    empirically -- Spark treats the per-event windows as closed on
    the right for merging)."""
    from pyspark.sql import Row, functions as F

    gap_us = 1_800_000_000
    base = 1_700_000_000_000_000  # us
    rows = [
        Row(user_id=1, us=base),
        Row(user_id=1, us=base + gap_us - 1),   # 1us inside: merges
        Row(user_id=2, us=base),
        Row(user_id=2, us=base + gap_us),       # exactly at gap: merges
        Row(user_id=3, us=base),
        Row(user_id=3, us=base + gap_us + 1),   # 1us beyond: splits
    ]
    df = spark.createDataFrame(rows).select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    got = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .count()
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("user_id")
        .collect()
    )
    assert [(r.user_id, r.n_sessions) for r in got] == [(1, 1), (2, 1), (3, 2)]


def test_type_token_ratio_values(spark):
    from pyspark.sql import Row
    from binlog_avro_comparator_spark.operators.textstats import type_token_ratio

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b A b c"),   # case-folded: 3 types / 5 tokens
            Row(doc_id=2, text=""),            # empty -> ttr 0.0, not null
            Row(doc_id=3, text="x x x"),
        ]
    )
    got = {r.doc_id: r for r in type_token_ratio(docs).collect()}
    assert (got[1].n_tokens, got[1].n_types, got[1].ttr) == (5, 3, 0.6)
    assert (got[2].n_tokens, got[2].n_types, got[2].ttr) == (0, 0, 0.0)
    assert (got[3].n_tokens, got[3].n_types, got[3].ttr) == (3, 1, round(1 / 3, 6))

def test_shipping_priority_agg_below_join_topk(spark):
    from binlog_avro_comparator_spark.operators.analytics import shipping_priority

    df = shipping_priority(
        load_table(spark, SF, "customer"),
        load_table(spark, SF, "orders"),
        load_table(spark, SF, "lineitem"),
    )
    plan = _plan(df)
    # per-order revenue reduces lineitem BEFORE the orders join: the
    # aggregate has map-side combine and no join output feeds it
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan  # top-10, never a global sort
    # both date predicates reach their parquet scans
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    # segment filter runs on the customer dim as a semi join
    assert "LeftSemi" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_supplier_part_counts_anti_join_distinct_first(spark):
    from binlog_avro_comparator_spark.operators.analytics import supplier_part_counts

    df = supplier_part_counts(
        load_table(spark, SF, "lineitem"),
        load_table(spark, SF, "part"),
        load_table(spark, SF, "supplier"),
    )
    plan = _plan(df)
    # NOT IN decorrelated to a broadcast anti join on the tiny bad-supplier set
    assert "LeftAnti" in plan and "Broadcast" in plan
    # the dimension filters (brand/type/size in-list) reach the part scan
    assert "Not(EqualTo(p_brand,Brand#1))" in plan
    assert "In(p_size" in plan
    # no window anywhere: distinct + groupBy only
    assert "Window" not in plan


def test_small_quantity_revenue_no_fact_window(spark):
    from binlog_avro_comparator_spark.operators.analytics import small_quantity_revenue

    df = small_quantity_revenue(
        load_table(spark, SF, "lineitem"), load_table(spark, SF, "part")
    )
    plan = _plan(df)
    # correlated avg decorrelated: groupBy + join-back, no window over the fact
    assert "Window" not in plan
    # brand scopes the part dim and semi-joins into lineitem (broadcast)
    assert "EqualTo(p_brand,Brand#23)" in plan
    assert "LeftSemi" in plan


def test_brand_bracket_revenue_equi_join_residual(spark):
    from binlog_avro_comparator_spark.operators.analytics import brand_bracket_revenue

    df = brand_bracket_revenue(
        load_table(spark, SF, "lineitem"), load_table(spark, SF, "part")
    )
    plan = _plan(df)
    # the disjunction must NOT degrade the join to a nested-loop cartesian:
    # Catalyst keeps the partkey equi-join and carries the OR as residual
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # scan-level envelopes pushed on both sides
    assert "In(p_brand" in plan
    assert "GreaterThan(l_quantity" in plan and "LessThanOrEqual(l_quantity" in plan


def test_doc_source_filter_broadcast_no_fact_shuffle(spark):
    from binlog_avro_comparator_spark.operators.textstats import (
        filter_by_source_reputation,
    )
    from binlog_avro_comparator_spark.sources.tables import load_table as _lt

    df = filter_by_source_reputation(_lt(spark, SF, "documents"))
    plan = _plan(df)
    # the per-source verdict broadcasts back onto the corpus: the only
    # exchange in the plan is the ~#sources-key aggregate (+broadcast),
    # never a hash repartition of the documents fact for the join
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_enrich_stream_join_is_stateless(spark):
    """A stream-static join must plan ZERO stateful operators: no
    state store, no watermark bookkeeping -- each micro-batch is a
    broadcast hash lookup.  Assert via the drained query's last
    progress: stateOperators is empty (a stream-stream join or
    streaming agg would report state rows/commits there)."""
    import json as _json

    from binlog_avro_comparator_spark.sources.tables import (
        _EVENTS_SCHEMA,
        events_ts_column,
        load_table as _lt,
    )
    from binlog_avro_comparator_spark.streaming.enrich_stream import (
        enrich_with_profile,
        user_profile,
    )
    from pyspark.sql import functions as F_

    profile = user_profile(_lt(spark, SF, "events"))
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
        .withColumn("ts", events_ts_column(SF))
    )
    q = (
        enrich_with_profile(stream, profile)
        .writeStream.format("memory")
        .queryName("enrich_stateless_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    progress = _json.loads(q.lastProgress.json) if q.lastProgress else {}
    q.stop()
    assert progress.get("stateOperators") == []
    n = spark.table("enrich_stateless_probe").count()
    assert n == _lt(spark, SF, "events").count()


def test_gopher_flags_zero_exchange(spark):
    """The Gopher rule battery is a pure projection: no Exchange, no
    Window, no Python -- scan-speed inside whole-stage codegen."""
    from binlog_avro_comparator_spark.operators.textstats import gopher_quality_flags

    plan = _plan(gopher_quality_flags(load_table(spark, SF, "documents")))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one scan, pruned to the two columns the rules read (the
    # higher-order lambdas stay JVM-side but outside codegen -- still
    # a single pass over the input)
    import re as _re

    assert len(_re.findall(r"^\(\d+\) Scan parquet", plan, _re.M)) == 1
    assert "struct<doc_id:bigint,text:string>" in plan


def test_time_rollup_single_pass_expand(spark):
    """Hierarchical rollup must be ONE scan + Expand + partial agg --
    never a per-granularity self-union of scans."""
    import re as _re

    from binlog_avro_comparator_spark.operators.analytics import time_rollup

    plan = _plan(time_rollup(load_table(spark, SF, "events")))
    assert "Expand" in plan
    assert len(_re.findall(r"^\(\d+\) Scan parquet", plan, _re.M)) == 1
    assert "Union" not in plan
    assert "partial_count" in plan  # map-side combine under the rollup


def test_gap_fill_user_partitioned_window(spark):
    """The LOCF window must partition by user (bounded partitions) --
    an unpartitioned global window here would funnel the whole grid
    through one task."""
    from binlog_avro_comparator_spark.operators.analytics import gap_fill_locf

    plan = _plan(gap_fill_locf(load_table(spark, SF, "events")))
    assert "Window" in plan
    # every Window node's partition spec names user_id
    for seg in plan.split("Arguments: ")[1:]:
        if "last(" in seg.split("\n")[0]:
            assert "user_id" in seg.split("\n")[0]


def test_snapshot_diff_single_full_outer_join(spark):
    """The version diff must be ONE full-outer hash join over the two
    aggregate-sized snapshot states -- never an event-level replay or
    a per-column join fanout."""
    import re as _re

    from binlog_avro_comparator_spark.operators.snapshot import (
        apply_changes,
        snapshot_diff,
    )

    ev = load_table(spark, SF, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    plan = _plan(snapshot_diff(apply_changes(ev.filter(F.col("ts") < cutoff)),
                               apply_changes(ev)))
    joins = _re.findall(r"^\(\d+\) \w*Join", plan, _re.M)
    assert len(joins) == 1, joins
    assert "FullOuter" in plan


def test_ivf_index_probe_partition_prunes(spark, tmp_path):
    """The persisted IVF index prunes at planning time: the probe's
    literal centroid filter appears in the scan's PartitionFilters (the
    unprobed inverted-list directories are never read), the result
    matches the in-plan cosine_topk_ivf row-for-row, and fewer
    partitions than n_centroids are selected."""
    from binlog_avro_comparator_spark.functions.layout import (
        ivf_probe_pruned, write_ivf_index)
    from binlog_avro_comparator_spark.operators.similarity import (
        cosine_topk_ivf)
    from binlog_avro_comparator_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivf")
    cents = write_ivf_index(emb, idx)
    queries = emb.filter(F.col("vec_id") < 8)
    probed = ivf_probe_pruned(spark, idx, cents, queries, k=5, n_probe=2)
    plan = _plan(probed)
    seg = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "centroid_id IN" in seg or "centroid_id#" in seg
    got = sorted(tuple(r) for r in probed.collect())
    want = sorted(
        tuple(r)
        for r in cosine_topk_ivf(emb, n_queries=8, k=5, n_probe=2).collect()
    )
    assert got == want and len(got) > 0
    # the scan actually selected a strict subset of the 16 lists
    import re as _re

    m = _re.search(r"partitions read[^\d]*(\d+)", plan)
    if m:  # formatted mode reports the count directly
        assert int(m.group(1)) < 16


def test_ivf_index_incremental_append_equals_rebuild(spark, tmp_path):
    """append_ivf_index against the frozen quantizer: probing the
    80%-build + 20%-append index returns exactly the full-rebuild
    probe, base files are never rewritten (append adds files, removes
    none), and only the touched list directories gain files."""
    import os

    from binlog_avro_comparator_spark.functions.layout import (
        append_ivf_index, ivf_probe_pruned, write_ivf_index)
    from binlog_avro_comparator_spark.operators.similarity import (
        assign_centroids)
    from binlog_avro_comparator_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents, _ = assign_centroids(emb)
    cents = spark.createDataFrame(cents.collect(), schema=cents.schema)
    full_dir, inc_dir = str(tmp_path / "full"), str(tmp_path / "inc")
    write_ivf_index(emb, full_dir, cents=cents)
    write_ivf_index(emb.filter(F.col("vec_id") % 5 != 0), inc_dir, cents=cents)

    def files(d):
        return {
            os.path.join(r, f)
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        }

    before = files(inc_dir)
    append_ivf_index(emb.filter(F.col("vec_id") % 5 == 0), inc_dir, cents)
    after = files(inc_dir)
    assert before <= after and len(after) > len(before)  # pure append
    q = emb.filter(F.col("vec_id") < 8)
    got = sorted(
        tuple(r)
        for r in ivf_probe_pruned(spark, inc_dir, cents, q, k=5, n_probe=2).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_probe_pruned(spark, full_dir, cents, q, k=5, n_probe=2).collect()
    )
    assert got == want and len(got) > 0


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Hive-partitioned writes must prune at planning time: a filter on
    the partition column becomes PartitionFilters (whole directories
    skipped), NOT a post-scan Filter over all files -- the layout facet
    of pushdown next to the PushedFilters tests above."""
    p = str(tmp_path / "by_type")
    load_table(spark, SF, "events").write.partitionBy("event_type").parquet(p)
    df = spark.read.parquet(p).filter(F.col("event_type") == "purchase")
    plan = _plan(df)
    seg = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "event_type" in seg and "purchase" in seg
    # and the partition predicate is fully consumed by pruning -- no
    # residual data filter re-checks it
    data_filters = [
        ln for ln in plan.splitlines() if ln.startswith("Condition")
    ]
    assert all("event_type" not in ln for ln in data_filters)
    assert df.count() > 0


def test_anomaly_and_burst_broadcast_stats(spark):
    """Both z-score gates must broadcast their tiny stats frame back
    onto the data -- never shuffle the fact for the join -- and carry
    exact decimal partial sums under the aggregate."""
    from binlog_avro_comparator_spark.operators.analytics import (
        burst_minutes,
        value_anomalies,
    )

    ev = load_table(spark, SF, "events")
    for df in (value_anomalies(ev), burst_minutes(ev)):
        plan = _plan(df)
        assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "partial_sum" in plan
        assert "Window" not in plan


def test_levenshtein_pairs_no_cartesian(spark):
    """Edit-distance confirmation must ride the LSH candidate join --
    never an all-pairs cartesian over the corpus."""
    from binlog_avro_comparator_spark.operators.dedup import levenshtein_near_pairs

    plan = _plan(levenshtein_near_pairs(load_table(spark, SF, "documents")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # JVM-side expression, no Python stage
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_payload_diff_single_join_no_cartesian(spark):
    """The payload tier keeps the metadata diff's plan shape: ONE
    equi-join on the shared (binlog_file, binlog_position) key -- no
    cartesian product (the key-union explode happens ABOVE the join,
    per joined row), and the last-write-wins dedup compiles to the same
    WindowGroupLimit pre-filter as prepare_binlog."""
    from binlog_avro_comparator_spark.fixtures import (
        derive_avro_payload,
        derive_avro_rows,
    )
    from binlog_avro_comparator_spark.sources.binlog_binary import ROWS_SCHEMA

    ev = load_table(spark, SF, "events")
    rows = spark.createDataFrame([], ROWS_SCHEMA)
    avro = derive_avro_rows(ev).join(derive_avro_payload(ev), "avro_line_no")
    ap = C.prepare_avro(avro).select(
        "binlog_file",
        "binlog_position",
        F.create_map(F.lit("order_id"), F.col("order_id").cast("string")).alias(
            "payload"
        ),
    )
    diff = C.payload_diff(C.prepare_binlog_payload(rows), ap)
    plan = _plan(diff)
    import re

    simple = _plan(diff, "simple")
    joins = re.findall(
        r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", simple
    )
    # exactly one binlog-vs-avro join (avro's own line_no join for the
    # payload columns may broadcast, so allow it); never a cartesian
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert 1 <= len(joins) <= 2
    assert "WindowGroupLimit" in plan  # dedup pre-filters before the full sort
    assert "Generate" in plan and "explode" in plan  # findings fan out above the join


def test_retention_cohorts_no_window_broadcast_sizes(spark):
    """The cohort matrix is aggregates only (no window over events) and
    the offset-0 size frame joins back broadcast."""
    from binlog_avro_comparator_spark.operators.analytics import retention_cohorts

    plan = _plan(retention_cohorts(load_table(spark, SF, "events")))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_term_pmi_vocab_broadcast_no_cartesian(spark):
    """Vocab membership and marginals ride broadcasts; the only
    non-broadcast join is the doc_id self-equi-join -- never a
    cartesian product."""
    from binlog_avro_comparator_spark.operators.textstats import term_pmi

    plan = _plan(term_pmi(load_table(spark, SF, "documents")))
    assert "CartesianProduct" not in plan
    # 3 broadcast joins (vocab membership, df_a, df_b) + the 1-row
    # n_docs scalar as BroadcastNestedLoopJoin
    assert plan.count("BroadcastHashJoin") >= 3


def test_inverted_index_partial_agg_no_window(spark):
    """Both rollups map-side combine; the head posting is a struct max
    inside the aggregate, not a row_number window over postings."""
    from binlog_avro_comparator_spark.operators.textstats import inverted_index

    plan = _plan(inverted_index(load_table(spark, SF, "documents")))
    assert "Window" not in plan
    assert "partial_count" in plan or "partial" in plan
    assert plan.count("HashAggregate") >= 4  # 2 aggs x partial/final


def test_shingle_novelty_aggregates_and_single_tag_join(spark):
    """First-holder is an aggregate (map-side combinable), the tag join
    is the only join, and no window anywhere."""
    from binlog_avro_comparator_spark.operators.dedup import shingle_novelty

    plan = _plan(shingle_novelty(load_table(spark, SF, "documents")), mode="simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    n_joins = (
        plan.count("SortMergeJoin")
        + plan.count("BroadcastHashJoin")
        + plan.count("ShuffledHashJoin")
    )
    assert n_joins == 1


def test_payload_diff_stream_is_stateless(spark):
    """The stream-static payload diff must plan ZERO stateful
    operators (no state store, no watermark): each micro-batch is a
    broadcast lookup against the closed binlog image side plus a
    per-row column-union explode.  Same probe as the enrich test:
    drained progress reports stateOperators == []."""
    import json as _json
    import tempfile

    from pyspark.sql import functions as F_

    from binlog_avro_comparator_spark.streaming.compare_stream import (
        streaming_payload_diff,
    )

    bp = spark.createDataFrame(
        [("f1", 100, {"a": "1", "b": "x"}), ("f1", 200, {"a": "2"})],
        "binlog_file string, binlog_position long, payload map<string,string>",
    )
    ap = spark.createDataFrame(
        [("f1", 100, {"a": "1", "b": "y"}), ("f1", 200, {"a": "2", "c": "z"})],
        "binlog_file string, binlog_position long, payload map<string,string>",
    )
    d = tempfile.mkdtemp(prefix="payload_stream_plan_")
    ap.repartition(2).write.mode("overwrite").json(d)
    stream = (
        spark.readStream.schema(
            "binlog_file string, binlog_position bigint, payload map<string,string>"
        )
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    q = (
        streaming_payload_diff(bp, stream)
        .writeStream.format("memory")
        .queryName("payload_diff_stateless_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    progress = _json.loads(q.lastProgress.json) if q.lastProgress else {}
    q.stop()
    assert progress.get("stateOperators") == []
    got = {
        (r.binlog_position, r.column): r.status
        for r in spark.table("payload_diff_stateless_probe").collect()
    }
    # column c exists only on the avro side -> the BINLOG side is null
    assert got == {(100, "b"): "MISMATCH", (200, "c"): "BINLOG_NULL"}


def test_bloom_contamination_scans_documents_twice_only(spark):
    """The bitmap is scope-cached: without it, each of the n_hashes
    broadcast joins rebuilds the benchmark scan + shingle explode.
    The whole plan must read documents exactly twice (probe + bench
    bitmap build) and join only by broadcast."""
    import re as _re

    from binlog_avro_comparator_spark.operators.textstats import (
        bloom_contamination,
    )

    plan = _plan(bloom_contamination(load_table(spark, SF, "documents")))
    assert len(_re.findall(r"^\(\d+\) Scan parquet", plan, _re.M)) == 2, plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan  # the cached bitmap, reused per depth


def test_hdr_quantiles_scans_events_twice_only(spark):
    """The bucket histogram is scope-cached (cumulative walk + totals
    both read it); the only other scan is the exact-percentile side.
    The quantile pick's window must run over the aggregated histogram,
    never the event stream."""
    import re as _re

    from binlog_avro_comparator_spark.operators.analytics import hdr_quantiles

    df = hdr_quantiles(load_table(spark, SF, "events"))
    plan = _plan(df)
    assert len(_re.findall(r"^\(\d+\) Scan parquet", plan, _re.M)) == 2, plan
    # the Window node consumes the cached histogram, not a raw scan:
    # its subtree below the sort is the InMemoryTableScan
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_history_single_exchange(spark):
    """Both windows (interval-closing lead and version row_number)
    share the user_id partitioning: ONE Exchange, never two."""
    import re as _re

    from binlog_avro_comparator_spark.operators.snapshot import scd2_history

    plan = _plan(scd2_history(load_table(spark, SF, "events")))
    shuffles = _re.findall(r"^\(\d+\) Exchange", plan, _re.M)
    assert len(shuffles) == 1, plan


def test_scd2_lookup_equi_join_not_range(spark):
    """The point-in-time lookup must plan as an equi hash join on the
    dimension key with the interval as residual -- disjoint intervals
    make the residual selective, so no range/theta join machinery and
    never a cartesian product."""
    from binlog_avro_comparator_spark.operators.snapshot import (
        scd2_history,
        scd2_lookup,
    )

    ev = load_table(spark, SF, "events")
    probes = ev.filter(
        (F.col("event_type") == "error") & F.col("user_id").isNotNull()
    ).select(
        F.col("event_id").alias("probe_event_id"),
        "user_id",
        F.unix_millis(F.col("ts")).alias("probe_ts_ms"),
    )
    plan = _plan(scd2_lookup(scd2_history(ev), probes))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_measure_profile_one_shuffle_two_expands(spark):
    """Unpivot and grouping sets must each plan as an Expand over ONE
    scan, with a single shuffled hash aggregate for all grouping sets
    -- never a per-measure scan union or a per-set aggregate."""
    import re as _re

    from binlog_avro_comparator_spark.operators.analytics import measure_profile

    plan = _plan(measure_profile(load_table(spark, SF, "lineitem")))
    assert len(_re.findall(r"^\(\d+\) Expand", plan, _re.M)) == 2, plan
    assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 1, plan
    assert len(_re.findall(r"^\(\d+\) Scan parquet", plan, _re.M)) == 1, plan
    assert "partial_" in plan  # map-side combine below the one shuffle


def test_sign_bits_broadcast_stats_and_hamming_group_limit(spark):
    """Binary-quantization tier plan contract: the per-dim stats frame
    joins back by BROADCAST (the corpus never shuffles for pass 2), and
    both hamming_topk rank stages compile to WindowGroupLimit so each
    map task keeps only its local top-R before any exchange."""
    import re as _re

    from binlog_avro_comparator_spark.operators.similarity import (
        hamming_topk,
        sign_bit_words,
    )

    emb = load_table(spark, SF, "embeddings")
    wplan = _plan(sign_bit_words(emb))
    assert "BroadcastExchange" in wplan
    # the only Exchange of corpus-derived rows is the 64-row per-dim agg
    assert "CartesianProduct" not in wplan
    hplan = _plan(hamming_topk(emb))
    assert len(_re.findall(r"WindowGroupLimit", hplan)) >= 2, hplan
    # query frames ride broadcast joins -- no corpus-vs-corpus shuffle join
    assert "SortMergeJoin" not in hplan, hplan


def test_attribution_single_key_shuffle(spark):
    """Sessionization + all attribution windows share one (user_id)
    partitioning: exactly ONE Exchange of event rows, no joins."""
    import re as _re

    from binlog_avro_comparator_spark.operators.analytics import (
        purchase_attribution,
    )

    plan = _plan(purchase_attribution(load_table(spark, SF, "events")))
    assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 1, plan
    assert "Join" not in plan, plan


def test_bpe_merges_vocab_sized_topk(spark):
    """Pair counting aggregates map-side and the global top-k compiles
    to TakeOrderedAndProject -- never a single-task global window over
    the pair table."""
    from binlog_avro_comparator_spark.operators.textstats import (
        bpe_merge_candidates,
    )
    from binlog_avro_comparator_spark.sources.tables import load_table as _lt

    plan = _plan(bpe_merge_candidates(_lt(spark, SF, "documents")))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_" in plan  # map-side combine below the shuffles


def test_ab_test_single_exchange_no_join(spark):
    """The Welch test is ONE map-side-combined aggregate: a single
    Exchange of (type x 6) partial sums, no join anywhere."""
    import re as _re

    from binlog_avro_comparator_spark.operators.analytics import ab_test_welch

    plan = _plan(ab_test_welch(load_table(spark, SF, "events")))
    assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 1, plan
    assert "Join" not in plan, plan
    assert "partial_" in plan  # map-side combine below the shuffle


def test_value_trend_single_exchange_no_join(spark):
    """OLS from sufficient statistics: one aggregate, one Exchange,
    no join, no sort of the fact table."""
    import re as _re

    from binlog_avro_comparator_spark.operators.analytics import value_trend_ols

    plan = _plan(value_trend_ols(load_table(spark, SF, "events")))
    assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 1, plan
    assert "Join" not in plan, plan
    assert "Sort" not in plan.replace("SortAggregate", ""), plan


def test_basket_pairs_broadcasts_dim_and_marginals(spark):
    """part joins broadcast; the only shuffles key on the bounded
    distinct (order, brand) frame, never raw lineitem rows."""
    from binlog_avro_comparator_spark.operators.analytics import (
        basket_brand_pairs,
    )

    plan = _plan(
        basket_brand_pairs(
            load_table(spark, SF, "lineitem"), load_table(spark, SF, "part")
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    # the a<b pair join keys on the order; no cartesian anywhere
    assert "CartesianProduct" not in plan, plan


def test_erasure_audit_broadcast_only(spark):
    """The purge-audit scan joins the request set map-side: no
    Exchange of fact rows for the join (only the final 1-row
    aggregates shuffle)."""
    from binlog_avro_comparator_spark.operators.curation import (
        erasure_audit,
        erasure_requests_sample,
    )

    ev = load_table(spark, SF, "events")
    plan = _plan(
        erasure_audit([("events", ev, "user_id")], erasure_requests_sample(ev))
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_abc_classes_window_is_bucket_partitioned(spark):
    """The entity-frame cumulative window is PARTITIONED by the
    revenue bucket; the only unpartitioned window in the plan runs
    over the n_buckets-row offsets aggregate, never the entity frame."""
    from binlog_avro_comparator_spark.operators.analytics import abc_classes

    plan = _plan(abc_classes(load_table(spark, SF, "orders")), mode="extended")
    assert "windowspecdefinition(__bk" in plan, plan[:4000]


def test_conversion_ab_single_fact_exchange(spark):
    """One per-user fold + one 1-row aggregate: the event table
    shuffles once (on user), nothing joins."""
    import re as _re

    from binlog_avro_comparator_spark.operators.analytics import (
        conversion_ab_test,
    )

    plan = _plan(conversion_ab_test(load_table(spark, SF, "events")))
    assert "Join" not in plan, plan
    # two Exchanges total: user-key partial agg + the final single-row
    # gather; neither moves raw events twice
    assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) <= 2, plan


def test_prefix_filter_prunes_inside_candidate_join(spark):
    """Round-7 PPJoin: the length window and positional bound run
    BEFORE verification -- the optimized plan carries the ceil()
    length comparisons and the min-bound aggregate filter, and the
    candidate self-join output feeds an aggregate (the positional
    group), not a bare distinct."""
    from binlog_avro_comparator_spark.operators.dedup import prefix_filter_pairs

    docs = load_table(spark, SF, "documents")
    plan = _plan(prefix_filter_pairs(docs), mode="extended")
    # length window: both directions of n_b >= ceil(t * n_a)
    assert plan.lower().count("ceil") >= 2
    # positional filter: the min-bound >= min-required comparison
    assert "least(" in plan.lower()


def test_closure_has_no_recursion_and_caps_components(spark):
    """The scale-safe closure plans as label fixpoint + ONE label
    self-join: no recursive CTE node (UnionLoop/CTERelation), and the
    size cap joins a broadcast component-size frame."""
    from binlog_avro_comparator_spark.operators.dedup import closure_pairs

    docs = load_table(spark, SF, "documents")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    plan = _plan(closure_pairs(docs, cap=64, edges=edges))
    assert "UnionLoop" not in plan and "CTERelationRef" not in plan
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower()


def test_rotate_chain_single_file_cardinality_window(spark):
    """The rotate audit is ONE window over the per-file frame: a single
    Window node, no join, and the binaryFile scan prunes to
    (path, content)."""
    from binlog_avro_comparator_spark.operators.compare import rotate_chain_audit
    from binlog_avro_comparator_spark.sources.binlog_binary import (
        encode_binlog_file, read_binlog_rotate_dir)
    import tempfile, os

    d = tempfile.mkdtemp(prefix="rotate_plan_")
    with open(os.path.join(d, "mysql-bin.000001"), "wb") as f:
        f.write(encode_binlog_file([], next_file="mysql-bin.000002"))
    with open(os.path.join(d, "mysql-bin.000002"), "wb") as f:
        f.write(encode_binlog_file([]))
    plan = _plan(rotate_chain_audit(read_binlog_rotate_dir(spark, d)))
    assert plan.count("Window") >= 1
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_avro_logical_scan_is_one_arrow_pass(spark):
    """The logical-type lake scan is ONE MapInPandas over the pruned
    (content) binaryFile scan -- typed columns come out of the Arrow
    batch, no per-row expansion, no join."""
    from binlog_avro_comparator_spark.plans.q_cdc import _q_cdc_avro_logical_scan

    plan = _plan(_q_cdc_avro_logical_scan(spark, SF))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert plan.count("Scan binaryFile") <= 2  # tree + detail of ONE scan
    assert "ReadSchema: struct<content:binary>" in plan  # pruned listing


def test_bitext_margin_broadcasts_segment_stats(spark):
    """Bitext mining: the kNN-sum frames join back BROADCAST (segment
    cardinality, never corpus-shuffled), and ranking is windowed per
    source."""
    from binlog_avro_comparator_spark.operators.similarity import (
        bitext_margin_pairs)

    plan = _plan(bitext_margin_pairs(load_table(spark, SF, "embeddings")))
    assert "BroadcastExchange" in plan
    assert "Window" in plan


def test_table_scorecard_single_join_single_scan_pair(spark):
    """The per-table scorecard must ride the ONE full-outer diff join
    (one scan per side, one aggregate) -- never a per-counter re-join
    or a second fact pass."""
    import re

    from binlog_avro_comparator_spark.fixtures import (
        derive_avro_rows,
        derive_binlog_events,
    )

    ev = load_table(spark, SF, "events")
    bp = C.prepare_binlog(derive_binlog_events(ev))
    ap = C.prepare_avro(derive_avro_rows(ev))
    plan = _plan(C.table_scorecard(bp, ap))
    join_nodes = re.findall(r"^\(\d+\) \w*Join", plan, re.M)
    assert len(join_nodes) == 1, join_nodes
    scan_nodes = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scan_nodes) == 2, scan_nodes
    assert "FullOuter" in plan


def test_gtid_coverage_two_aggregates_one_join(spark):
    """Transaction coverage: one full-outer join feeding the per-key
    collapse and the per-GTID fold -- two aggregates, no re-scan."""
    import re

    from binlog_avro_comparator_spark.fixtures import (
        derive_avro_rows,
        derive_binlog_events,
    )

    ev = load_table(spark, SF, "events")
    bp = C.prepare_binlog(derive_binlog_events(ev))
    ap = C.prepare_avro(derive_avro_rows(ev))
    plan = _plan(C.gtid_coverage(bp, ap))
    join_nodes = re.findall(r"^\(\d+\) \w*Join", plan, re.M)
    assert len(join_nodes) == 1, join_nodes
    scan_nodes = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scan_nodes) == 2, scan_nodes


def test_near_miss_keys_is_equi_join_not_theta(spark):
    """The tolerance join must compile to equi hash/sort-merge joins on
    (file, bucket) with the |delta| residual -- never a nested-loop or
    cartesian theta join over the residues."""
    from binlog_avro_comparator_spark.fixtures import (
        derive_avro_rows,
        derive_binlog_events,
    )

    ev = load_table(spark, SF, "events")
    bp = C.prepare_binlog(derive_binlog_events(ev))
    ap = C.prepare_avro(derive_avro_rows(ev))
    plan = _plan(C.near_miss_keys(bp, ap))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_media_near_dup_no_cartesian_and_payload_pruned(spark):
    """Blob near-dup: no cartesian anywhere, and the binary payload
    column never crosses a shuffle -- only the 48-bit chunk hashes do
    (the content column appears below the first aggregation only)."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        media_near_dup_pairs,
    )

    docs = load_table(spark, SF, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    plan = _plan(media_near_dup_pairs(media))
    assert "CartesianProduct" not in plan
    # every Exchange in the plan carries hashes/ids, never the payload
    import re

    for m in re.finditer(r"^\(\d+\) Exchange.*$", plan, re.M):
        assert "content" not in m.group(0)


def test_guarded_diff_broadcast_windows_no_cartesian(spark):
    """payload_diff_ddl_guard (shape re-pinned r11): the drift-window
    containment runs as the linear coordinate SWEEP (a running sum per
    table -- windowspecdefinition over (schema, table), never a
    key x window join that enumerates keys x windows-per-table), the
    suppression is a keyed left-anti (no new shuffle key), and nothing
    degenerates to a cartesian/nested-loop."""
    f = "mysql-bin.000001"
    bp = spark.createDataFrame(
        [(f, 100, {"a": "1"})],
        "binlog_file string, binlog_position long,"
        " payload map<string,string>",
    )
    ap = spark.createDataFrame(
        [(f, 100, {"a": "2"})],
        "binlog_file string, binlog_position long,"
        " payload map<string,string>",
    )
    kt = spark.createDataFrame(
        [(f, 100, "db0", "t1")],
        "binlog_file string, binlog_position long,"
        " schema_name string, table_name string",
    )
    win = spark.createDataFrame(
        [("db0", "t1", f + ":000000000050", None)],
        "schema_name string, table_name string,"
        " win_from string, win_to string",
    )
    plan = _plan(C.payload_diff_ddl_guard(bp, ap, kt, win))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the sweep's per-table running sum (the containment test)
    assert "windowspecdefinition(schema_name" in plan
    # no join against the window frame: the only joins are the matched
    # key set, the key->table meta, and the keyed suppression
    assert "LeftAnti" in plan  # keyed suppression, not a filter scan


def test_schema_timeline_single_table_partitioned_window(spark):
    """The SCD2 timeline is ONE window partitioned by table identity
    -- no self-joins, no global (unpartitioned) sort."""
    from binlog_avro_comparator_spark.fixtures import generate_ddl_text_lines
    from binlog_avro_comparator_spark.operators.ddl import (
        parse_ddl_statements,
        schema_timeline,
    )
    from binlog_avro_comparator_spark.operators.parse import parse_binlog_text

    lines = generate_ddl_text_lines(load_table(spark, SF, "events"))
    plan = _plan(schema_timeline(parse_ddl_statements(parse_binlog_text(lines))))
    assert "CartesianProduct" not in plan
    # the timeline's own window partitions by (schema_name, table_name):
    # its sort key leads with the partition columns, never a global sort
    # the timeline window is PARTITIONED by table identity (a window
    # spec leading with schema_name), never an unpartitioned sort
    assert "windowspecdefinition(schema_name" in plan


def test_schema_column_types_fold_shape(spark):
    """The type-aware matrix keeps the matrix's fold shape: a linear
    grid (statements x touched columns) with per-(table, column)
    carry-forward windows -- no cartesian, no nested-loop join, and
    every window partitioned by table identity."""
    from binlog_avro_comparator_spark.fixtures import generate_ddl_text_lines
    from binlog_avro_comparator_spark.operators.ddl import (
        parse_ddl_statements,
        schema_column_types,
    )
    from binlog_avro_comparator_spark.operators.parse import parse_binlog_text

    lines = generate_ddl_text_lines(load_table(spark, SF, "events"))
    plan = _plan(
        schema_column_types(parse_ddl_statements(parse_binlog_text(lines)))
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition(schema_name" in plan


def test_perceptual_pairs_payload_never_shuffles(spark):
    """media_perceptual_dup_pairs: blobs collapse to four band ints at
    the scan; no Exchange carries the binary payload, and the
    candidate join is an equi-join (no cartesian)."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        encode_bmp_gray,
        media_perceptual_dup_pairs,
    )

    pix = bytes(range(0, 256))
    media = spark.createDataFrame(
        [(1, bytearray(encode_bmp_gray(pix, 16, 16)))],
        "media_id long, content binary",
    )
    plan = _plan(media_perceptual_dup_pairs(media))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    for m in re.finditer(r"^\(\d+\) Exchange.*$", plan, re.M):
        assert "content" not in m.group(0)


def test_supplier_similarity_pairs_stay_equi(spark):
    """Pair enumeration rides the part-side inverted index: equi-join
    within part groups only, never a supplier x supplier cartesian;
    set sizes come back as broadcasts."""
    from binlog_avro_comparator_spark.operators.analytics import (
        supplier_similarity,
    )

    plan = _plan(supplier_similarity(load_table(spark, SF, "lineitem")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # both size frames


def test_hourly_autocorr_and_forecast_equi_joins(spark):
    """Lag alignment joins the calendar-sized hour frame to itself on
    (type, hour) equi-keys; partial aggregation is map-side combined;
    no cartesian anywhere (the 6-lag expansion is an explode, not a
    crossJoin)."""
    from binlog_avro_comparator_spark.operators.analytics import (
        forecast_baseline_report,
        hourly_autocorr,
    )

    ev = load_table(spark, SF, "events")
    for df in (hourly_autocorr(ev), forecast_baseline_report(ev)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "partial_sum" in plan


def test_multimaster_conflicts_window_is_per_key(spark):
    """The lag window partitions by key -- never a global sort over
    the change feed."""
    from binlog_avro_comparator_spark.fixtures import (
        derive_multimaster_changes,
    )
    from binlog_avro_comparator_spark.operators.compare import (
        multimaster_conflicts,
    )

    plan = _plan(
        multimaster_conflicts(
            derive_multimaster_changes(load_table(spark, SF, "events"))
        )
    )
    assert "hashpartitioning(key" in plan
    import re

    # every window spec is keyed (no empty partition-by global window)
    assert not re.search(r"windowspecdefinition\(ts_ms", plan)


def test_lifecycle_window_partitioned_by_user(spark):
    """user_lifecycle's lag window is per-user; the day rollup is
    map-side combined."""
    from binlog_avro_comparator_spark.operators.analytics import (
        user_lifecycle,
    )

    plan = _plan(user_lifecycle(load_table(spark, SF, "events")))
    assert "hashpartitioning(user_id" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the same key with the same bucket count
    join WITHOUT any Exchange -- the co-located-join guarantee
    write_bucketed exists to provide (and the plan property a 100 TB
    fact-to-fact join lives or dies by)."""
    from binlog_avro_comparator_spark.functions.layout import (
        write_bucketed,
    )

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    try:
        write_bucketed(li, "t_li_bucketed", "l_orderkey", 8)
        write_bucketed(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"),
            "t_ord_bucketed",
            "l_orderkey",
            8,
        )
        a = spark.table("t_li_bucketed")
        b = spark.table("t_ord_bucketed")
        # force the sort-merge path (at test scale Spark would rather
        # broadcast -- valid, but the property under test is that the
        # SHUFFLE is gone when both sides are bucket-aligned)
        joined = a.join(b.hint("merge"), "l_orderkey")
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        # and the result is right: every lineitem finds its order
        assert joined.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_engagement_and_slo_have_no_window_function(spark):
    """The trailing distinct windows come from the explode pattern --
    the plans must contain NO window operator and no cartesian."""
    from binlog_avro_comparator_spark.operators.analytics import (
        engagement_ratios,
        slo_burn_rates,
    )

    ev = load_table(spark, SF, "events")
    for df in (engagement_ratios(ev), slo_burn_rates(ev)):
        plan = _plan(df)
        assert "Window" not in plan, plan
        assert "CartesianProduct" not in plan


def test_cohort_ltv_window_runs_on_triangle_only(spark):
    """The running-sum window partitions by cohort over the
    (cohort, age) triangle -- orders are aggregated BEFORE any window
    touches them."""
    from binlog_avro_comparator_spark.operators.analytics import cohort_ltv

    plan = _plan(cohort_ltv(load_table(spark, SF, "orders")))
    # the window's child chain contains an aggregate, so the window
    # consumes the triangle, not raw orders: assert partial agg exists
    # AND the window partitions on the cohort key
    assert "partial_sum" in plan or "partial_count" in plan
    assert "windowspecdefinition(ck" in plan


def test_pq_distortion_codewords_broadcast(spark):
    """The codeword join is a broadcast (k x sub rows) -- the corpus
    explode never shuffles against the codebook."""
    from binlog_avro_comparator_spark.operators.similarity import (
        pq_distortion,
    )

    plan = _plan(pq_distortion(load_table(spark, SF, "embeddings")))
    assert plan.count("BroadcastHashJoin") >= 4  # one per subspace
    assert "CartesianProduct" not in plan


def test_column_guard_broadcast_wincols_no_cartesian(spark):
    """payload_diff_column_guard (shape re-pinned r11): the annotated
    windows compose via the linear coordinate sweeps (per-table and
    per-(table, column) running sums -- windowspecdefinition, never a
    key x window join), both suppressions are keyed left-antis
    (whole-key and (key, column)), and nothing degenerates to a
    cartesian/nested-loop."""
    f = "mysql-bin.000001"
    bp = spark.createDataFrame(
        [(f, 100, {"a": "1"})],
        "binlog_file string, binlog_position long,"
        " payload map<string,string>",
    )
    ap = spark.createDataFrame(
        [(f, 100, {"a": "2"})],
        "binlog_file string, binlog_position long,"
        " payload map<string,string>",
    )
    kt = spark.createDataFrame(
        [(f, 100, "db0", "t1")],
        "binlog_file string, binlog_position long,"
        " schema_name string, table_name string",
    )
    wc = spark.createDataFrame(
        [("db0", "t1", f + ":000000000050", None, ["a"], True)],
        "schema_name string, table_name string, win_from string,"
        " win_to string, moved_cols array<string>, moved_known boolean",
    )
    plan = _plan(C.payload_diff_column_guard(bp, ap, kt, wc))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the sweeps' running sums: per-table flags and per-(table, column)
    assert "windowspecdefinition(schema_name" in plan
    assert plan.count("LeftAnti") >= 2  # whole-key AND (key, column)


@pytest.mark.slow
def test_ddl_clause_parse_stays_jvm_side(spark):
    """The clause grammar (r10) is regexp built-ins end to end: no
    Python UDF / mapInPandas in the window-columns or anomaly plans,
    and the rename-threading joins are broadcasts."""
    from binlog_avro_comparator_spark.fixtures import generate_ddl_text_lines
    from binlog_avro_comparator_spark.operators.ddl import (
        ddl_drift_window_columns,
        ddl_parse_anomalies,
        parse_ddl_statements,
    )
    from binlog_avro_comparator_spark.operators.parse import parse_binlog_text

    lines = generate_ddl_text_lines(load_table(spark, SF, "events"))
    ddl = parse_ddl_statements(parse_binlog_text(lines))
    for df in (ddl_drift_window_columns(ddl), ddl_parse_anomalies(ddl)):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert "CartesianProduct" not in plan
    # canonicalization: the bounded rename-edge chain joins broadcast
    plan = _plan(ddl_drift_window_columns(ddl))
    assert "BroadcastHashJoin" in plan


def test_lsh_fold_read_is_scan_only_and_probe_stays_equi(spark, tmp_path):
    """The maintained LSH index: read_lsh_pairs is a pure union of log
    scans -- NO Exchange, no aggregate, because the per-batch logs are
    disjoint by construction -- and the per-batch probe join is an
    equi-join on (band_id, band_key), never a cartesian."""
    from binlog_avro_comparator_spark.operators.dedup import (
        banded_signatures,
    )
    from binlog_avro_comparator_spark.streaming.fold_sinks import (
        commit_lsh_batch,
        read_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "web", 36),
            (2, "alpha beta gamma delta epsilon zeta", "en", "web", 36),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    state = str(tmp_path / "plan_state")
    commit_lsh_batch(spark, state, docs, 0, bands=4, rows=4)
    plan = _plan(read_lsh_pairs(spark, state))
    assert "Exchange" not in plan and "HashAggregate" not in plan
    # the probe join: equi on the band key, payload text never joins
    new = banded_signatures(docs, 4, 4)
    probe = new.alias("n").join(
        new.alias("i"), ["band_id", "band_key"]
    )
    pplan = _plan(probe)
    assert "CartesianProduct" not in pplan
    assert "BroadcastNestedLoopJoin" not in pplan


def test_curation_survivors_is_a_dag(spark):
    """The full curation recipe reads its materialized stage boundaries
    instead of re-expanding the upstream tree once per reference: the
    final plan scans the input parquet at most 3 times (a tree scans
    it ~65 times) and stays under 20 Exchange nodes (a tree has ~90)."""
    import re as _re

    from binlog_avro_comparator_spark.functions.caching import cache_scope
    from binlog_avro_comparator_spark.operators.curation import (
        curation_survivors,
    )

    with cache_scope():
        plan = _plan(
            curation_survivors(
                spark.read.parquet(f"{SF}/documents.parquet"),
                max_repetition=0.01,
                max_contamination=0.05,
                drop_benchmark=True,
                trim_spans_k=4,
                gopher_rules=True,
                min_novelty=0.02,
            )
        )
    assert len(_re.findall(r"^\(\d+\) Scan parquet", plan, _re.M)) <= 3, plan
    assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) <= 20, plan
