"""Plan-quality guardrails: pin the physical-plan properties the 100 TB
design depends on.  A refactor that silently loses pushdown, pruning, a
broadcast, or codegen fails here — before it costs a cluster-day.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_lab_three_spark.plans import (
    broadcast_join_count,
    codegen_stage_count,
    final_plan,
    pushed_filters,
    scan_columns,
    shuffle_count,
)
from big_data_lab_three_spark.queries import load_all
from big_data_lab_three_spark.sources import table

REG = load_all()


def test_scan_project_prunes_to_selected_columns(spark, sf_dir):
    df = REG["scan_project"].spark(spark, sf_dir)
    scans = scan_columns(df, "lineitem")
    assert scans, "no lineitem scan found in plan"
    for cols in scans:
        assert len(cols) <= 4, f"scan reads {cols}, pruning failed"


def test_filter_predicate_reaches_parquet(spark, sf_dir):
    df = REG["filter_predicate"].spark(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed or "l_extendedprice" in pushed, (
        f"no pushed filter on scan: {pushed!r}"
    )


def test_topk_join_broadcasts_small_side(spark, sf_dir):
    df = REG["topk_sort"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1, (
        "customer⋈orders top-k should broadcast the dimension side"
    )


def test_pricing_summary_is_one_shuffle(spark, sf_dir):
    # scan → partial agg → exchange → final agg (+AQE-planned sort
    # exchange for the orderBy at most)
    df = REG["pricing_summary"].spark(spark, sf_dir)
    n = shuffle_count(df)
    assert 1 <= n <= 2, f"pricing_summary should shuffle once (+sort), saw {n}"


def test_relational_core_stays_in_codegen(spark, sf_dir):
    for name in ("pricing_summary", "value_counts", "binarize_label"):
        df = REG[name].spark(spark, sf_dir)
        assert codegen_stage_count(df) >= 1, (
            f"{name}: no whole-stage codegen span in plan"
        )


def test_exact_dedup_shuffles_digests_not_text(spark, sf_dir):
    """The exact-dedup groupBy must key on the md5 digest, never carry
    the document text through the exchange."""
    from big_data_lab_three_spark.operators.dedup import exact_dedup

    df = exact_dedup(table(spark, sf_dir, "documents").select("doc_id", "text"))
    plan_sections = scan_columns(df, "documents")
    assert plan_sections  # documents scanned
    # text is needed to compute the digest pre-shuffle, but the shuffle
    # itself must partition on the digest: assert the exchange key.  The
    # gated spread() round-robin redistribution of the narrow scan is
    # exempt — it exists only in the single-row-group local case and
    # carries the raw column by design.
    from big_data_lab_three_spark.plans.inspect import (
        exchange_args,
        exchange_inputs,
    )

    carried = [
        cols
        for args, cols in zip(exchange_args(df), exchange_inputs(df))
        if "RoundRobinPartitioning" not in args
    ]
    assert carried, "no hash shuffle in exact_dedup plan"
    assert all("text" not in cols for cols in carried), (
        f"dedup shuffle carries raw text: {carried}"
    )


def test_broadcast_hint_survives_in_similarity(spark, sf_dir):
    from big_data_lab_three_spark.operators.similarity import brute_force_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    df = brute_force_topk(q, e, k=3)
    assert broadcast_join_count(df) >= 1


def test_ivfpq_candidate_shuffle_is_bounded_and_rescore_broadcasts(
    spark, sf_dir
):
    """IVF-PQ's scale contract: the corpus crosses the Python worker
    ONCE (one mapInPandas scan that assigns + encodes + ADC-scores),
    the candidate exchanges carry only (query_id, neighbor_id[,
    approx_d]) — never an embedding array — and the rescore joins the
    tiny candidate set back to vectors with the query side broadcast.
    No CartesianProduct anywhere."""
    from big_data_lab_three_spark.operators.similarity import ivfpq_topk
    from big_data_lab_three_spark.plans.inspect import (
        exchange_inputs,
        explain_str,
    )

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    df = ivfpq_topk(q, e, nlist=16, nprobe=4, m=8, ksub=64, k=5,
                    candidates=256)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert plan.count("ArrowEvalPython") <= 0  # no row-at-a-time UDFs
    assert broadcast_join_count(df) >= 1, "query rescore side not broadcast"
    cand_exchanges = [
        cols
        for cols in exchange_inputs(df)
        if any("approx_d" in c for c in cols)
    ]
    assert cand_exchanges, "ADC candidate shuffle missing from plan"
    for cols in cand_exchanges:
        joined = " ".join(cols)
        assert "qvec" not in joined and "cvec" not in joined, (
            f"raw vectors in the ADC candidate shuffle: {cols}"
        )


def test_filtered_ann_pushes_label_predicate(spark, sf_dir):
    """Pre-filter vector search must push the label predicate into the
    parquet scan (at 100 TB with a label-partitioned corpus this is
    partition pruning — the scan never reads ineligible row groups)."""
    df = REG["filtered_ann_topk"].spark(spark, sf_dir)
    assert any("label" in f for f in pushed_filters(df)), (
        "label filter not pushed to the embeddings scan"
    )
    assert broadcast_join_count(df) >= 1  # query side still broadcast


def test_hybrid_rrf_legs_stay_bounded(spark, sf_dir):
    """RRF fusion joins two ≤50-row leg frames; raw text may only ride
    the scan-side round-robin spread — every HASH shuffle (the BM25
    rollups and the fusion join itself) must carry keys and ranks
    only."""
    from big_data_lab_three_spark.plans.inspect import (
        exchange_args,
        exchange_inputs,
    )

    df = REG["hybrid_rrf_rank"].spark(spark, sf_dir)
    hashed = [
        cols
        for args, cols in zip(exchange_args(df), exchange_inputs(df))
        if "RoundRobinPartitioning" not in args
    ]
    assert hashed, "no hash shuffle in the hybrid plan"
    for cols in hashed:
        joined = " ".join(cols)
        assert "text" not in joined, f"raw text in fusion exchange: {cols}"


def test_partitioned_roundtrip_prunes_at_planning_time(spark, sf_dir):
    """The year predicate on the hive-partitioned read-back must appear
    as a PartitionFilter (directory prune at planning time), not a
    row-level data filter over all partitions."""
    from big_data_lab_three_spark.plans.inspect import explain_str

    df = REG["partitioned_prune_roundtrip"].spark(spark, sf_dir)
    plan = explain_str(df)
    part = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert part and any("o_year" in ln for ln in part), (
        f"year predicate not in PartitionFilters: {part}"
    )


def test_semi_join_is_semi_and_keys_only(spark, sf_dir):
    """EXISTS must plan as a LeftSemi join, and the lineitem side of the
    shuffle must carry only join/filter keys — never payload columns."""
    from big_data_lab_three_spark.plans.inspect import exchange_inputs, explain_str

    df = REG["semi_join_exists"].spark(spark, sf_dir)
    assert "LeftSemi" in explain_str(df), "EXISTS did not plan as semi join"
    scans = scan_columns(df, "lineitem")
    assert scans and all(len(cols) <= 2 for cols in scans), (
        f"semi-join lineitem scan reads payload columns: {scans}"
    )


def test_anti_join_pushes_date_filter(spark, sf_dir):
    df = REG["anti_join_idle"].spark(spark, sf_dir)
    from big_data_lab_three_spark.plans.inspect import explain_str

    plan = explain_str(df)
    assert "LeftAnti" in plan, "NOT EXISTS did not plan as anti join"
    assert "o_orderdate" in " ".join(pushed_filters(df)), (
        "recent-order date filter not pushed to the orders scan"
    )


def test_promo_revenue_broadcasts_part(spark, sf_dir):
    df = REG["promo_revenue"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1, "part dim should broadcast"
    scans = scan_columns(df, "part")
    assert scans and all(len(cols) <= 2 for cols in scans), (
        f"part scan should prune to (p_partkey, p_type): {scans}"
    )


def test_range_join_avoids_nested_loop(spark, sf_dir):
    """The binned range join exists to avoid BroadcastNestedLoopJoin —
    the O(n*m) plan a naive inequality join produces."""
    from big_data_lab_three_spark.plans.inspect import explain_str

    df = REG["range_join_events"].spark(spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan, (
        "range join degenerated to a nested-loop join"
    )


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """Union + window as-of: one exchange on user_id, nothing else."""
    df = REG["asof_join_events"].spark(spark, sf_dir)
    n = shuffle_count(df)
    assert n == 1, f"as-of join should shuffle exactly once, saw {n}"


def test_window_running_shares_one_sort(spark, sf_dir):
    """running sum + lag use the same (partition, order) spec: the plan
    must contain one window exec over one exchange, not two."""
    df = REG["window_running"].spark(spark, sf_dir)
    n = shuffle_count(df)
    assert n == 1, f"shared window spec should shuffle once, saw {n}"


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Bucketing both join sides by the key at write time removes the
    exchange entirely — the pay-the-shuffle-once-at-ingest pattern the
    100 TB design leans on for repeated fact joins."""
    from big_data_lab_three_spark.sources.sinks import write_bucketed_table

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    write_bucketed_table(o, "orders_b", "o_custkey", 4, str(tmp_path / "o"))
    write_bucketed_table(c, "customer_b", "c_custkey", 4, str(tmp_path / "c"))
    try:
        ob = spark.table("orders_b")
        cb = spark.table("customer_b")
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey).groupBy().agg(
            F.sum("o_totalprice").alias("rev")
        )
        # The only exchange left is the global-agg SinglePartition gather;
        # no hashpartitioning exchange on the join keys may remain.
        from big_data_lab_three_spark.plans.inspect import exchange_args

        args = exchange_args(joined)
        assert not any("custkey" in a for a in args), (
            f"bucketed join still shuffles on the key: {args}"
        )
        # and it computes the same answer as the plain join
        plain = o.join(c, o.o_custkey == c.c_custkey).groupBy().agg(
            F.sum("o_totalprice").alias("rev")
        )
        assert abs(joined.first().rev - plain.first().rev) < 1e-6
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on a partition column must prune at file-listing level
    (PartitionFilters), not per-row — the one-day-of-100TB guarantee."""
    from big_data_lab_three_spark.plans.inspect import explain_str
    from big_data_lab_three_spark.sources.sinks import write_partitioned

    ev = table(spark, sf_dir, "events").withColumn(
        "day", F.expr("ts div 86400000000000")
    )
    out = str(tmp_path / "events_by_day")
    write_partitioned(ev, out, ["day"])
    back = spark.read.parquet(out).where(F.col("day") == 19723)
    plan = explain_str(back)
    assert "PartitionFilters" in plan and "day" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], f"no partition filter in scan: {plan[:800]}"


def test_sketch_aggregates_track_exact(spark, sf_dir):
    """The 100TB profile path swaps exact countDistinct/percentile for
    mergeable sketches (SCALE.md §4) — pin their error here."""
    li = table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_d"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("exact_p"),
        F.expr("percentile_approx(l_extendedprice, 0.9, 1000)").alias("approx_p"),
    ).first()
    assert abs(row.approx_d - row.exact_d) / row.exact_d < 0.05
    assert abs(row.approx_p - row.exact_p) / row.exact_p < 0.02


def test_forecast_revenue_pushes_all_three_predicates(spark, sf_dir):
    """Q6 shape: date range, discount band, and quantity cap must all
    reach the parquet scan — the 100 TB plan is row-group skipping plus
    a one-value reduce."""
    df = REG["forecast_revenue"].spark(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    for colname in ("l_shipdate", "l_discount", "l_quantity"):
        assert colname in pushed, f"{colname} not pushed: {pushed!r}"


def test_disjunctive_residuals_push_to_both_scans(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs straddles the join, but Catalyst must
    derive the single-side residuals — the quantity disjunction on the
    lineitem scan and the brand/size disjunction on the part scan — and
    the part side must broadcast."""
    df = REG["disjunctive_pushdown"].spark(spark, sf_dir)
    from big_data_lab_three_spark.plans import explain_str

    plan = explain_str(df)
    assert broadcast_join_count(df) >= 1, "part should broadcast"
    li_scans = scan_columns(df, "lineitem")
    assert li_scans and all(len(c) <= 4 for c in li_scans), (
        f"lineitem scan not pruned: {li_scans}"
    )
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed, f"lineitem residual not pushed: {pushed!r}"
    assert "p_brand" in pushed or "p_size" in pushed, (
        f"part residual not pushed: {pushed!r}"
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_idle_big_spenders_is_anti_join_with_pushed_date(spark, sf_dir):
    """Q22 shape: NOT EXISTS must plan as a LeftAnti hash join (never a
    nested loop), and the 2001 date filter must reach the orders scan so
    the anti join builds from the filtered keys only."""
    df = REG["idle_big_spenders"].spark(spark, sf_dir)
    from big_data_lab_three_spark.plans import explain_str

    plan = explain_str(df)
    assert "LeftAnti" in plan, "NOT EXISTS should plan as LeftAnti"
    assert "BroadcastNestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin BuildRight, Cross", ""
    ) or "LeftAnti" in plan
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed, f"orders date filter not pushed: {pushed!r}"
    o_scans = scan_columns(df, "orders")
    assert o_scans and all(len(c) <= 2 for c in o_scans), (
        f"orders scan should carry keys only: {o_scans}"
    )


def test_summary_stats_is_single_pruned_scan(spark, sf_dir):
    """describe() parity must stay ONE fused agg pass: a single lineitem
    scan reading exactly the three profiled columns (the pandas
    reference does one pass per column)."""
    df = REG["summary_stats"].spark(spark, sf_dir)
    scans = scan_columns(df, "lineitem")
    assert len(scans) == 1, f"expected one lineitem scan, saw {len(scans)}"
    assert len(scans[0]) <= 3, f"scan not pruned to 3 cols: {scans[0]}"


def test_market_share_single_fact_shuffle(spark, sf_dir):
    """Q8 shape: five dimensions must broadcast (part, supplier,
    customer, nation x2, region) so the only exchanges are the
    lineitem⋈orders shuffle and the final aggregation."""
    df = REG["market_share"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 5, "expected 5+ broadcast dims"
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed, f"orders date not pushed: {pushed!r}"
    assert "p_type" in pushed, f"part type not pushed: {pushed!r}"


def test_small_quantity_revenue_broadcasts_threshold(spark, sf_dir):
    """Q17 shape: the per-part average table and the brand part list are
    both tiny and must broadcast — the decorrelated plan may not shuffle
    lineitem by partkey."""
    df = REG["small_quantity_revenue"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 2, (
        "brand parts and per-part averages should both broadcast"
    )
    pushed = " ".join(pushed_filters(df))
    assert "p_brand" in pushed, f"brand filter not pushed: {pushed!r}"


def test_order_count_histogram_outer_join_kept(spark, sf_dir):
    """Q13 shape: the LEFT join must survive planning (order-less
    customers are the point) and the orders scan must carry only the
    two join/count columns."""
    from big_data_lab_three_spark.plans import explain_str

    df = REG["order_count_histogram"].spark(spark, sf_dir)
    plan = explain_str(df)
    assert "LeftOuter" in plan, "left-outer join lost in planning"
    o_scans = scan_columns(df, "orders")
    assert o_scans and all(len(c) <= 2 for c in o_scans), (
        f"orders scan should read 2 cols: {o_scans}"
    )


def test_cheapest_supplier_filters_before_price_agg(spark, sf_dir):
    """Q2 shape: the part filter must push to the part scan and the
    filtered part list must broadcast into the lineitem join BEFORE the
    price aggregation — the window min may not trigger a second
    lineitem scan."""
    df = REG["cheapest_supplier"].spark(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "p_type" in pushed and "p_size" in pushed, (
        f"part filters not pushed: {pushed!r}"
    )
    assert broadcast_join_count(df) >= 3, (
        "part, supplier, and nation should all broadcast"
    )
    li_scans = scan_columns(df, "lineitem")
    assert li_scans and all(len(c) <= 4 for c in li_scans), (
        f"lineitem scan should read 4 cols: {li_scans}"
    )


def test_nation_profit_single_fact_shuffle(spark, sf_dir):
    """Q9 shape: part (LIKE-filtered), supplier, and nation broadcast;
    only lineitem⋈orders and the final aggregate exchange."""
    df = REG["nation_profit"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 3, "expected 3+ broadcast dims"
    li_scans = scan_columns(df, "lineitem")
    assert li_scans and all(len(c) <= 5 for c in li_scans), (
        f"lineitem scan should read 5 cols: {li_scans}"
    )


def test_important_parts_scans_fact_once(spark, sf_dir):
    """Q11 shape: the SQL text reads lineitem twice (value + grand
    total) but the persisted intermediate must keep the physical plan
    to a single lineitem scan, with the one-row threshold broadcast."""
    from big_data_lab_three_spark.plans import explain_str

    df = REG["important_parts"].spark(spark, sf_dir)
    plan = explain_str(df)
    assert plan.count("InMemoryTableScan") >= 2 or "lineitem" not in plan, (
        "per-part value table should be reused from cache on both sides"
    )


def test_priority_shipping_ships_minimal_payload(spark, sf_dir):
    """Q12 shape: both fact scans pre-projected — lineitem to 2
    post-filter columns, orders to key + priority — and the returnflag
    + shipdate filters pushed."""
    df = REG["priority_shipping"].spark(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_returnflag" in pushed and "l_shipdate" in pushed, (
        f"lineitem filters not pushed: {pushed!r}"
    )
    o_scans = scan_columns(df, "orders")
    assert o_scans and all(len(c) <= 2 for c in o_scans), (
        f"orders scan should read 2 cols: {o_scans}"
    )


def test_supplier_part_census_anti_join_broadcasts(spark, sf_dir):
    """Q16 shape: the NOT-IN supplier blacklist and the size-pruned
    part dim must both broadcast; lineitem contributes only its two
    key columns."""
    from big_data_lab_three_spark.plans import explain_str

    df = REG["supplier_part_census"].spark(spark, sf_dir)
    assert "LeftAnti" in explain_str(df), "NOT IN should plan as anti join"
    assert broadcast_join_count(df) >= 2
    li_scans = scan_columns(df, "lineitem")
    assert li_scans and all(len(c) <= 2 for c in li_scans), (
        f"lineitem scan should read 2 cols: {li_scans}"
    )


def test_excess_suppliers_semi_join_and_pushdown(spark, sf_dir):
    """Q20 shape: the qualifying-key set reaches supplier as a
    left-semi join, and the shipdate window pushes to the lineitem
    scan."""
    from big_data_lab_three_spark.plans import explain_str

    df = REG["excess_suppliers"].spark(spark, sf_dir)
    assert "LeftSemi" in explain_str(df), "IN should plan as semi join"
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate not pushed: {pushed!r}"


def test_sole_blame_one_lineitem_scan(spark, sf_dir):
    """Q21 shape: the double-EXISTS decorrelation must keep the plan to
    ONE lineitem scan (the classic plan needs three) reading only the
    three columns the window pass needs."""
    df = REG["sole_blame_suppliers"].spark(spark, sf_dir)
    li_scans = scan_columns(df, "lineitem")
    assert len(li_scans) == 1, (
        f"expected exactly one lineitem scan, saw {len(li_scans)}"
    )
    assert all(len(c) <= 3 for c in li_scans), (
        f"lineitem scan should read 3 cols: {li_scans}"
    )


def test_set_intersect_plans_as_semi_join_on_keys(spark, sf_dir):
    """INTERSECT must become distinct + left-semi with both scans pruned
    to the single key column and status filters pushed."""
    from big_data_lab_three_spark.plans import explain_str

    df = REG["set_intersect"].spark(spark, sf_dir)
    assert "LeftSemi" in explain_str(df), "INTERSECT should plan as semi join"
    o_scans = scan_columns(df, "orders")
    assert o_scans and all(len(c) <= 2 for c in o_scans), (
        f"orders scans should read key+filter cols only: {o_scans}"
    )


def test_set_except_plans_as_anti_join_with_pushed_dates(spark, sf_dir):
    """EXCEPT must become distinct + left-anti; both date windows push
    to the parquet scans."""
    from big_data_lab_three_spark.plans import explain_str

    df = REG["set_except"].spark(spark, sf_dir)
    assert "LeftAnti" in explain_str(df), "EXCEPT should plan as anti join"
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed, f"date filters not pushed: {pushed!r}"


def test_cube_is_one_expand_one_agg(spark, sf_dir):
    """CUBE must emit its four grouping sets from ONE Expand + hash
    aggregate over a single orders scan — not four scans unioned."""
    from big_data_lab_three_spark.plans import explain_str

    df = REG["cube_revenue"].spark(spark, sf_dir)
    plan = explain_str(df)
    assert plan.count("Expand") >= 1, "no Expand node for grouping sets"
    o_scans = scan_columns(df, "orders")
    assert len(o_scans) == 1, f"CUBE should scan orders once: {len(o_scans)}"


def test_unpivot_adds_no_shuffle(spark, sf_dir):
    """The melt itself is projection-only: the plan's exchanges must be
    the upstream aggregate's (and the final sort's) — an Expand after
    the agg, nothing more."""
    df = REG["unpivot_metrics"].spark(spark, sf_dir)
    n = shuffle_count(df)
    assert n <= 3, f"unpivot should add no exchange beyond agg+sort: {n}"


def test_doc_chunks_is_shuffle_free(spark, sf_dir):
    """Chunking is a generated-column explode — a pure projection.  The
    only exchanges allowed are the gated spread() round-robin (local
    single-row-group artifact, no-op at scale) and the output orderBy's
    sort."""
    df = REG["doc_chunks"].spark(spark, sf_dir)
    n = shuffle_count(df)
    assert n <= 2, f"chunking must not shuffle (spread+sort only), saw {n}"


def test_training_shards_single_agg_shuffle(spark, sf_dir):
    """Shard census: md5 + conv + pmod are all codegen projections; one
    hash-agg exchange (plus sort) is the whole plan."""
    df = REG["training_shards"].spark(spark, sf_dir)
    n = shuffle_count(df)
    # +1 for the gated spread() round-robin on the local one-row-group file
    assert 1 <= n <= 3, f"expected spread+agg(+sort) exchanges only, saw {n}"
    assert codegen_stage_count(df) >= 1


def test_tfidf_broadcasts_corpus_size_not_collects(spark, sf_dir):
    """The corpus-size N must enter as a broadcast one-row join — the
    plan proves no driver-side collect feeds the idf expression."""
    df = REG["tfidf_topterms"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1, (
        "N should broadcast into idf as a one-row cross join"
    )


def test_embedding_near_dup_lsh_is_bucket_join_no_cartesian(spark, sf_dir):
    """The registered embedding near-dup path must be a bucket-key
    equi-join (never a cartesian/nested-loop product) and must dedup
    candidate pairs BEFORE the Arrow rescore stage so a pair colliding
    in several LSH tables is scored once."""
    df = REG["dedup_embedding"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), f"expected an equi-join on the LSH key, got:\n{plan[:2000]}"
    # Tree prints root-first, so the correct layering appears in string
    # order: rescore MapInPandas → pair-dedup Aggregate(id_a, id_b) →
    # bucket equi-join → hyperplane-keying MapInPandas.  Scoring before
    # dedup would put the aggregate ABOVE (= string-before) the rescore.
    import re

    i_rescore = plan.find("MapInPandas")
    m_agg = re.search(r"(Hash|Sort)Aggregate\(key=\[id_a", plan)
    assert i_rescore != -1 and m_agg is not None
    assert i_rescore < m_agg.start(), (
        "pair dedup must sit below the rescore stage"
    )
    i_join = plan.find("Join", m_agg.start())
    assert i_join != -1, "bucket join must sit below pair dedup"
    assert plan.find("MapInPandas", i_join) != -1, (
        "hyperplane keying must feed the bucket join"
    )


def test_cdc_upsert_compacts_changelog_before_join(spark, sf_dir):
    """The changelog must reduce to ≤1 row per key (window+filter)
    BEFORE joining the base snapshot, and the whole plan stays at two
    exchanges (window shuffle + join/base side) — joining raw events
    would both widen the join input and add exchanges."""
    df = REG["cdc_upsert_apply"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # rn = 1 filter sits below the join in the tree (after it in text):
    import re

    join_at = min(
        [m.start() for m in re.finditer(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)]
        or [-1]
    )
    rn_at = plan.find("row_number")
    assert join_at != -1 and rn_at != -1 and join_at < rn_at, (
        "changelog compaction (row_number) must feed the join, not follow it"
    )
    assert shuffle_count(df) <= 3


def test_sequence_packing_single_window_pass(spark, sf_dir):
    """Packing is one stream-partitioned running-sum window plus a
    map-side explode — more exchanges would mean the fan-out got
    shuffled, which must not happen (it scales with corpus size)."""
    df = REG["sequence_packing"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    # window exchange + spread()/AQE + final presentation sort at most
    assert shuffle_count(df) <= 3


def test_equi_depth_histogram_has_no_global_window(spark, sf_dir):
    """r3 scale fix: the exact equi-depth buckets must come from the
    distributed rank path (range partition + in-partition sort +
    broadcast offsets), never a single-task ``ntile() OVER
    (ORDER BY ...)`` — and the data must shuffle exactly once for the
    rank (no second hashpartitioning-by-_pid exchange)."""
    df = REG["equi_depth_histogram"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan, "global ntile window reintroduced"
    assert "rangepartitioning(o_totalprice" in plan
    assert "monotonically_increasing_id" in plan
    # the only _pid-keyed exchange is the tiny offsets aggregate — the
    # data itself must not be re-sorted/re-windowed after the range
    # partition (row_number over _pid was the old double-shuffle form)
    assert "row_number" not in plan


def test_quantile_profile_has_no_percentile_buffer(spark, sf_dir):
    """r3 scale fix: exact quantiles via distributed ranks — the plan
    must contain neither Spark's exact ``percentile`` (whole-group
    aggregation buffer → OOM at scale) nor a group-partitioned rank
    window (3 returnflag groups → giant window partitions)."""
    df = REG["quantile_profile"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan, "exact percentile buffer is back"
    assert "ObjectHashAggregate" not in plan, (
        "quantile aggregation left codegen HashAggregate"
    )
    assert "rangepartitioning(l_returnflag" in plan
    assert "monotonically_increasing_id" in plan
    assert "row_number" not in plan  # see equi-depth pin


def test_top_supplier_scalar_max_is_broadcast_no_window(spark, sf_dir):
    """r3 scale fix: the max-revenue scalar must be an aggregate
    broadcast back (important_parts pattern) over the persisted
    per-supplier table — no window at all, lineitem aggregated once."""
    df = REG["top_supplier"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan, (
        "un-partitioned max window reintroduced"
    )
    assert broadcast_join_count(df) >= 2  # scalar max + supplier dim
    assert "InMemoryTableScan" in plan  # rev persisted, scanned twice


def test_stratified_sample_is_pure_scan_predicate(spark, sf_dir):
    """r3 scale fix: holdout membership is a content-hash scan
    predicate — no window (the old per-stratum row_number serialized
    on ~5 lang partitions), no extra exchange beyond agg + sort."""
    df = REG["stratified_sample"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan
    assert "md5" in plan  # the hash rule is in the scan stage filter
    assert shuffle_count(df) <= 3  # spread() + agg + presentation sort


def test_simhash_is_bucket_join_no_cartesian(spark, sf_dir):
    """r3: multi-segment pigeonhole bucketing — candidates must come
    from an equi-join on (table, segment-key), never an all-pairs
    nested-loop, and the keying fan-out is a map-side explode."""
    df = REG["dedup_simhash"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan  # per-table segment keying


def test_winsorize_bounds_broadcast_no_percentile_buffer(spark, sf_dir):
    """Robust family: winsorize clip bounds come from the distributed
    rank path and broadcast back — no exact ``percentile`` buffer, no
    group-partitioned rank window, and the fact-side clip join must be
    a broadcast (3-row bounds frame), never a shuffle of lineitem."""
    df = REG["winsorize_stats"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan, "exact percentile buffer is back"
    assert "rangepartitioning(l_returnflag" in plan
    assert "row_number" not in plan
    assert broadcast_join_count(df) >= 1, "bounds frame not broadcast"


def test_anomaly_mad_double_rank_broadcasts(spark, sf_dir):
    """Both quantile passes (median of values, median of |x-med|) must
    broadcast their tiny per-group frames back; no percentile buffer,
    no data-sized window."""
    df = REG["anomaly_mad"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan
    assert broadcast_join_count(df) >= 2, "med/mad frames not broadcast"
    assert "row_number" not in plan


def test_hll_check_is_single_pass_no_expand_explosion(spark, sf_dir):
    """The HLL sketch columns must ride partial aggregation (HLL++
    registers merge map-side, ONE global sketch per column).  r4-late
    revision: the original single-scan fused form was itself the
    pathology — Catalyst's multi-distinct Expand rewrite dragged the
    register buffers through the per-key partial stage (see
    test_hll_check_exchanges_stay_narrow).  The contract now: at most
    two narrow scans (exact side + approx side), approx aggregation
    present, and the approx partial stage keyed by NOTHING (global
    sketch), i.e. no HashAggregate keyed on the distinct columns may
    compute approx_count_distinct."""
    df = REG["hll_distinct_check"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 2, "more than two orders scans"
    assert "approx_count_distinct" in plan
    import re

    for m in re.finditer(r"HashAggregate\(keys=\[([^\]]*)\][^\n]*", plan):
        if "approx_count_distinct" in m.group(0):
            assert "o_custkey" not in m.group(1), (
                "approx sketch computed per distinct key — register "
                "buffers will cross the exchange again"
            )


def test_event_transitions_single_user_shuffle(spark, sf_dir):
    """The lag window partitions on high-cardinality user_id and the
    bigram rollup partial-aggregates: exactly one data shuffle for the
    window, plus the tiny-group agg exchange and presentation sort."""
    df = REG["event_transitions"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(user_id" in plan
    assert shuffle_count(df) <= 3


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """100 TB runtime-filtering guarantee: when a selective filter sits
    on the build side of a shuffle join, Spark injects a bloom filter
    (``might_contain``) onto the probe-side scan, so most fact rows die
    before the exchange instead of shuffling to lose the join.  Pinned
    here with thresholds forced so the toy inputs qualify; at real
    scale the defaults trigger on the same shape."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        ), "runtime bloom filters must stay enabled engine-wide"
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: bloom filters only apply when the join
        # would otherwise move the full probe side
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = (
            table(spark, sf_dir, "orders")
            .where(F.col("o_totalprice") > 450000)
            .select("o_orderkey")
        )
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.sum("l_extendedprice")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, (
            "no bloom filter injected on the probe side"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_line_dedup_shuffles_digests_broadcasts_frequents(spark, sf_dir):
    """C4-style span dedup: span construction is a generated-column
    explode (no shuffle to build spans), the frequency aggregate keys
    on md5 digests (16-byte shuffle payload, never span text), and the
    frequent set broadcasts back for map-side flagging."""
    df = REG["line_dedup"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate posexplode" in plan
    assert "md5" in plan
    assert broadcast_join_count(df) >= 1, "frequent-span set not broadcast"
    assert "CartesianProduct" not in plan


def test_snapshot_diff_aggregates_before_full_outer(spark, sf_dir):
    """Day-over-day diff must shrink each day to its per-type rollup
    BEFORE the full-outer join — the join may only ever see
    aggregate-sized inputs, so a SortMergeJoin/ShuffledHashJoin over
    raw events (fact-sized full outer) must not appear."""
    df = REG["snapshot_diff"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan
    # both join inputs are post-aggregation: the HashAggregates sit
    # BELOW the join in the tree, i.e. the string order shows the join
    # above at least two aggregates
    assert plan.count("HashAggregate") >= 4  # 2 sides × partial+final
    assert "CartesianProduct" not in plan


def test_constraint_audit_is_single_scan(spark, sf_dir):
    """All constraint rules must fuse into conditional sums over ONE
    lineitem scan (the oracle's per-rule scans are SQL clarity only);
    adding a rule may never add a pass."""
    df = REG["constraint_audit"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, "rules split into scans"
    assert "Generate inline" in plan  # wide→tall unpivot, no union


def test_observation_metrics_piggyback_on_one_pass(spark, sf_dir):
    """Operational pattern for 100 TB jobs: data-quality counters ride
    the SAME action as the work (``df.observe``) instead of a second
    scan — the fused constraint_audit idea applied to any query's
    existing pass.  Verify the observed metrics agree with separately
    computed truth."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("quality")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum((F.col("l_discount") > 0.1).cast("long")).alias(
            "discount_violations"
        ),
    )
    # the "real work": an aggregate the pipeline would run anyway
    revenue = observed.agg(F.sum("l_extendedprice")).first()[0]
    assert revenue > 0
    got = obs.get
    truth = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_discount") > 0.1).cast("long")).alias("v"),
    ).first()
    assert got["rows_seen"] == truth.n
    assert got["discount_violations"] == truth.v


def test_triangle_census_degree_join_not_broadcast(spark, sf_dir):
    """r4 scale fix: the degree table is |V|-sized (part-key
    cardinality on a 100 TB co-occurrence graph), so the two
    degree-annotation joins must NOT carry a planner broadcast hint —
    they shuffle on the vertex key, and only AQE may promote them at
    runtime when the realized size is small.  The tiny 1-row aggregate
    crossJoins at the end remain broadcasts by design."""
    df = REG["triangle_census"].spark(spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # optimizedPlan shows hint-driven ResolvedHint/JoinHint markers;
    # with the hints removed, no broadcast hint may survive on the
    # vertex-keyed joins (the scalar crossJoins hint 1-row frames only).
    assert logical.count("broadcast") <= 2, (
        "degree-table broadcast hint reintroduced:\n" + logical
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_bm25_posting_filter_and_broadcasts(spark, sf_dir):
    """r4: BM25 must broadcast the |terms|-row df table and the 1-row
    (N, avgdl) scalar; document length must be a projection carried
    through the explode (no corpus-wide length join), so the plan
    keeps to the posting rollup + tiny-frame shuffles."""
    df = REG["bm25_rank"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert broadcast_join_count(df) >= 2  # dfreq + (N, avgdl) scalar
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    # the posting table feeds both the df aggregate and the score join
    # — must be persisted, not recomputed per branch (extra corpus scan)
    assert "InMemoryTableScan" in plan
    # the term IN (...) posting filter must sit under the explode,
    # before any exchange — grep the filter below the generate
    assert plan.index("Generate explode") > plan.index("Filter")


def test_ngram_census_generated_column_no_self_join(spark, sf_dir):
    """r4: bigrams come from a generated-column explode, never a
    token-table self-join; the rollup partial-aggregates map-side."""
    df = REG["ngram_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") == 1  # one documents scan


def test_token_entropy_two_rollups_no_window(spark, sf_dir):
    df = REG["token_entropy"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan
    n = shuffle_count(df)
    # loader spread() + (doc,term) rollup + doc rollup + sort
    assert n <= 4, f"(doc,term) + doc rollup + sort, saw {n} shuffles"


def test_skyline_local_prune_then_broadcast_rejoin(spark, sf_dir):
    """r4: the SFS shape — Arrow-batched local prune feeding the tiny
    exact sweep, with the skyline pairs BROADCAST back to part (the
    fact side never shuffles for the rejoin)."""
    df = REG["skyline_pareto"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert broadcast_join_count(df) >= 1
    assert "CartesianProduct" not in plan


def test_pagerank_iterations_reuse_persisted_graph(spark, sf_dir):
    """r4: the 3 rank iterations must re-read the PERSISTED edge/degree
    tables (InMemoryTableScan), not re-run the co-occurrence self-join
    per iteration; no |V|-sized broadcast hint (AQE may still promote
    at runtime when realized sizes are small)."""
    df = REG["pagerank_check"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # localCheckpoint truncation: the returned plan must START from the
    # checkpointed iteration-3 RDD — a 3-iteration join chain in the
    # final plan would mean lineage is compounding per iteration.
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert shuffle_count(df) <= 1  # only the presentation sort


def test_time_weighted_avg_user_partitioned_window(spark, sf_dir):
    """r4: the lead() window must partition by high-cardinality
    user_id (never an unpartitioned global sort), and the rollup is a
    partial aggregate into |event_types| groups."""
    df = REG["time_weighted_avg"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(user_id" in plan
    n = shuffle_count(df)
    assert n <= 3, f"window + rollup + sort, saw {n}"


def test_weighted_sample_is_takeordered_no_shuffle(spark, sf_dir):
    """r4-late: Efraimidis-Spirakis top-k must compile to
    TakeOrderedAndProject (per-partition heaps + k-row merge) — never a
    global sort, a window, or any data exchange."""
    from big_data_lab_three_spark.plans.inspect import exchange_args

    df = REG["weighted_sample_topk"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # the gated spread() round-robin of a single-row-group local scan
    # is exempt (same carve-out as the dedup shuffle pin)
    keyed = [a for a in exchange_args(df) if "RoundRobinPartitioning" not in a]
    assert not keyed, f"priority top-k shuffled data: {keyed}"


def test_cms_joins_broadcast_the_sketches(spark, sf_dir):
    """r4-late: both sketch point-query joins must broadcast the
    KB-sized counter tables — a sort-merge join would shuffle the
    (tiny) key frame AND the sketch for nothing."""
    df = REG["cms_heavy_hitters"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert broadcast_join_count(df) >= 2, "sketch joins not broadcast"
    assert "SortMergeJoin" not in plan


def test_cv_fold_assignment_is_scan_stage_projection(spark, sf_dir):
    """r4-late: portable fold assignment must be a pure projection —
    the only exchanges are the 5-group census aggregate and the
    orderBy; no window, no join, no assignment-table materialization."""
    df = REG["cv_fold_balance"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan
    assert shuffle_count(df) <= 2, "fold census should be agg+sort only"


def test_png_stats_blobs_never_shuffle(spark, sf_dir):
    """r4-late: the encode and decode MapInPandas stages must be
    back-to-back with no exchange between them — PNG payloads stay in
    the partition where they were built; only (bucket, partials)
    shuffle."""
    from big_data_lab_three_spark.plans.inspect import exchange_inputs

    df = REG["png_pixel_stats"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2
    for cols in exchange_inputs(df):
        assert not any("payload" in c for c in cols), (
            f"PNG payload crossed an exchange: {cols}"
        )


def test_hll_check_exchanges_stay_narrow(spark, sf_dir):
    """r4-late: fusing the multi-distinct exact side with
    approx_count_distinct made Catalyst's Expand rewrite push the
    ~800-word HLL++ register buffers through the per-key partial stage
    (≈3 GB exchanged at sf0.1 for two scalars; measured 3.8s→0.8s
    split).  Pin the fix: no exchange in the plan may carry the sketch
    register array — every exchange stays a handful of columns."""
    from big_data_lab_three_spark.plans.inspect import exchange_inputs

    df = REG["hll_distinct_check"].spark(spark, sf_dir)
    widths = [len(cols) for cols in exchange_inputs(df)]
    assert widths and max(widths) < 50, (
        f"an exchange carries {max(widths)} columns — HLL registers "
        "are crossing the wire again"
    )


def test_dup_census_shuffles_digests_not_text(spark, sf_dir):
    """r4-late: the cluster-size census's keyed exchanges carry the
    16-byte digest (and counts), never document text."""
    from big_data_lab_three_spark.plans.inspect import (
        exchange_args,
        exchange_inputs,
    )

    df = REG["dup_cluster_census"].spark(spark, sf_dir)
    keyed = [
        cols
        for args, cols in zip(exchange_args(df), exchange_inputs(df))
        if "RoundRobinPartitioning" not in args
    ]
    assert keyed, "census plan lost its digest shuffle"
    assert all(not any(c.startswith("text") for c in cols) for cols in keyed), (
        f"census shuffle carries raw text: {keyed}"
    )


def test_label_centroids_no_explode(spark, sf_dir):
    """r4-late: the centroid aggregate must stay 64 parallel avg
    aggregates in one pass — no Generate (explode) node, no (label,
    dim) shuffle of unrolled elements, at most agg + sort exchanges."""
    df = REG["label_centroids"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "centroid plan explodes the vectors"
    assert shuffle_count(df) <= 2, "centroid plan shuffles unrolled data"


def test_group_weighted_sample_windows_on_strata(spark, sf_dir):
    """r4-late: the per-stratum sample must be ONE row_number window
    partitioned by the strata — no global (unpartitioned) window, no
    extra data exchange beyond the strata key + presentation sort."""
    from big_data_lab_three_spark.plans.inspect import exchange_args

    df = REG["group_weighted_sample"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(lang" in plan
    # spread()'s round-robin on the single-row-group local scan is
    # exempt (same carve-out as the other sampling pins)
    keyed = [a for a in exchange_args(df) if "RoundRobinPartitioning" not in a]
    assert len(keyed) <= 2, f"extra keyed exchanges: {keyed}"


def test_dedup_incremental_no_static_broadcast_of_flagged(spark, sf_dir):
    """r5: the near-gate anti-join's `flagged` side is O(batch)-sized,
    so a static broadcast hint would be wrong for corpus-sized batches.
    Pin: the optimized logical plan carries NO user broadcast hint on
    that join (AQE may still promote it at runtime — that's the point)."""
    df = REG["dedup_incremental"].spark(spark, sf_dir)
    # ResolvedHint prints WITHOUT column names, so a name-based filter
    # would be vacuous.  Pin the exact hint COUNT instead: the query's
    # only user hints are the two 1-row aggregate crossJoin broadcasts
    # (n_after_exact, n_admitted).  Re-adding a static broadcast on the
    # anti-join's `flagged` side would bump this to 3 and fail here.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    n_hints = analyzed.count("ResolvedHint")
    assert n_hints == 2, (
        f"expected exactly the 2 aggregate crossJoin broadcast hints, "
        f"found {n_hints} ResolvedHints"
    )


def test_census_queries_shuffle_keys_not_payloads(spark, sf_dir):
    """r6: the four linear-oracle census queries (the sf1-scale
    witnesses for the simhash / minhash / IVF / embedding-LSH families)
    must shuffle ids + longs only — never document text, never raw
    embedding arrays past the scoring stage."""
    from big_data_lab_three_spark.plans.inspect import (
        exchange_args,
        exchange_inputs,
    )

    for name, banned in [
        ("simhash_band_census", "text"),
        ("minhash_band_census", "text"),
        ("ivf_assign_census", "ev"),
        ("embedding_sign_census", "ev"),
        # r7-late: the top-2 margin census — its collect_list payload
        # is codebook-bounded (cq, seed) structs, never raw vectors
        ("cluster_quality_census", "ev"),
    ]:
        df = REG[name].spark(spark, sf_dir)
        keyed = [
            cols
            for args, cols in zip(exchange_args(df), exchange_inputs(df))
            if "RoundRobinPartitioning" not in args
        ]
        assert keyed, f"{name}: lost its keyed aggregate exchange"
        offenders = [
            cols
            for cols in keyed
            if any(c.startswith(banned) for c in cols)
        ]
        assert not offenders, f"{name}: shuffle carries {banned}: {offenders}"


def test_assignment_census_broadcasts_codebook_and_preaggregates(spark, sf_dir):
    """r6: ivf_assign_census's ×8 expansion must come from a BROADCAST
    of the 8-row codebook (no shuffle of the corpus for the join) and
    collapse via partial aggregation before the per-vector exchange —
    the plan shape of a 100 TB IVF assignment pass."""
    from big_data_lab_three_spark.plans.inspect import shuffle_count

    # allowed exchanges: per-vector agg, census agg(s), presentation
    # sort — only the first is data-sized; embedding_sign_census has one
    # more because it aggregates bucket→size→histogram in two steps
    for name, max_shuffles in [
        ("ivf_assign_census", 3),
        ("embedding_sign_census", 4),
    ]:
        df = REG[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
            f"{name}: codebook join is not a broadcast"
        )
        assert shuffle_count(df) <= max_shuffles, (
            f"{name}: too many exchanges ({shuffle_count(df)})"
        )


def test_jaccard_pair_census_joins_by_id_never_cartesian(spark, sf_dir):
    """r7: the planted-pair rescore must be an id-equi-join of shingle
    SET tables (the MinHash-rescore lookup shape) — no pair explosion,
    and raw document text never crosses an exchange (the set projection
    happens scan-side)."""
    from big_data_lab_three_spark.plans.inspect import (
        exchange_args,
        exchange_inputs,
    )

    df = REG["jaccard_pair_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Join" in plan
    # spread()'s round-robin on the single-row-group local scan is
    # exempt (same carve-out as the sampling pins); every KEYED exchange
    # must carry ids / aggregates — not text, not shingle arrays (which
    # are ~3× the text; Catalyst correctly defers the set projection
    # past any shuffle).
    keyed = [
        cols
        for args, cols in zip(exchange_args(df), exchange_inputs(df))
        if "RoundRobinPartitioning" not in args
    ]
    for cols in keyed:
        offenders = [
            c for c in cols if c.startswith(("text", "vtext", "sh_"))
        ]
        assert not offenders, f"document payload in keyed exchange: {cols}"


def test_cc_censuses_post_iteration_plan_is_label_sized(spark, sf_dir):
    """r7: the planted-shape CC censuses hand the caller a plan that
    scans the CHECKPOINTED label table (the iteration already ran at
    pinned loop width inside the operator) and aggregates it — a
    bounded number of exchanges over (cluster_id, size) longs, with no
    join or window left corpus-side."""
    for name in ("cc_chain_census", "cc_star_census"):
        df = REG[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert shuffle_count(df) <= 4, (
            f"{name}: census tail has {shuffle_count(df)} exchanges"
        )


def test_repeated_span_census_shuffles_digests_not_spans(spark, sf_dir):
    """r7: the repeated-span detection must group on the 16-byte span
    md5 — neither raw text nor the exploded span strings may cross a
    keyed exchange (the 100 TB shuffle-volume contract of hashed-window
    substring dedup)."""
    from big_data_lab_three_spark.plans.inspect import (
        exchange_args,
        exchange_inputs,
    )

    df = REG["repeated_span_census"].spark(spark, sf_dir)
    keyed = [
        cols
        for args, cols in zip(exchange_args(df), exchange_inputs(df))
        if "RoundRobinPartitioning" not in args
    ]
    assert keyed, "lost the span-digest aggregate exchange"
    for cols in keyed:
        offenders = [c for c in cols if c.startswith(("text", "span"))
                     and not c.startswith("span_h")]
        assert not offenders, f"span/text payload in exchange: {cols}"


def test_semantic_prune_census_broadcasts_codebook(spark, sf_dir):
    """r7: the SemDeDup-style prune must reuse the IVF assignment plan
    shape — 8-row codebook broadcast, map-side partial max before the
    per-vector exchange, constant-size census — never a shuffle of the
    corpus for the centroid join."""
    from big_data_lab_three_spark.plans.inspect import shuffle_count

    df = REG["semantic_prune_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert (
        "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    ), "codebook join is not a broadcast"
    assert shuffle_count(df) <= 3, (
        f"too many exchanges ({shuffle_count(df)})"
    )


def test_pq_code_census_broadcasts_codebook_and_preaggregates(spark, sf_dir):
    """r7: the PQ encode census must broadcast the 16-row codebook and
    collapse the ×(8·16) expansion through map-side partial min before
    the per-(vector, subspace) exchange — the plan shape of a 100 TB
    encode-at-ingest pass."""
    from big_data_lab_three_spark.plans.inspect import shuffle_count

    df = REG["pq_code_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert (
        "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    ), "codebook join is not a broadcast"
    assert shuffle_count(df) <= 3, (
        f"too many exchanges ({shuffle_count(df)})"
    )


def _windows_sit_on_aggregates(df) -> bool:
    """True if every Window node consumes a bounded census / offsets
    aggregate, never raw fact rows — a REAL logical-plan tree walk
    (``plans.inspect.window_over_raw_scan``), not a flat string scan,
    so a window over a join of (aggregate, raw scan) cannot
    false-pass."""
    from big_data_lab_three_spark.plans.inspect import window_over_raw_scan

    return not window_over_raw_scan(df)


def test_stat_tests_window_only_over_census(spark, sf_dir):
    """r7: the hypothesis-test family's windows (rank prefix sums, ECDF
    cumulatives, contingency margins) must run over the domain-bounded
    census aggregate, never over raw lineitem/orders rows — the single
    property that keeps the global Window legal at 100 TB."""
    for name in (
        "mann_whitney_u",
        "ks_drift",
        "chi_square_test",
        "cusum_changepoint",
    ):
        df = REG[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert _windows_sit_on_aggregates(df), (
            f"{name}: a Window consumes a raw scan, not the census"
        )
        assert "CartesianProduct" not in plan


def test_benford_constant_table_broadcasts(spark, sf_dir):
    """r7: the 9-row Benford constant table and the 1-row total must
    ride broadcasts onto the digit census."""
    df = REG["benford_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert broadcast_join_count(df) >= 2
    assert "CartesianProduct" not in plan


def test_zorder_layout_ranks_without_global_window(spark, sf_dir):
    """r7: file assignment must come from the distributed exact-ntile
    path (global_ranks + arithmetic) — NO windowspecdefinition anywhere
    (a global ntile window over the fact would be the single-task
    anti-shape), and the bounds/stats frames ride broadcasts."""
    df = REG["zorder_layout"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # global_ranks' internal offsets window (over the per-partition
    # count aggregate) is the ONLY legal window — none over the fact.
    assert _windows_sit_on_aggregates(df), (
        "a Window consumes the raw fact scan"
    )
    assert broadcast_join_count(df) >= 2
    assert "CartesianProduct" not in plan


def test_acf_lag_expansion_broadcasts_day_census(spark, sf_dir):
    """r7: the lag self-join expands the ~2400-row day census ×7 via
    broadcasts — the orders fact itself is touched by exactly one
    rollup exchange."""
    df = REG["acf_lags"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert broadcast_join_count(df) >= 2
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    # one fact rollup + four census-sized exchanges (two scalar aggs,
    # the per-lag groupBy, the 7-row sort) — only the first touches data
    assert shuffle_count(df) <= 6, f"saw {shuffle_count(df)} exchanges"


def test_ndcg_windows_partition_by_term(spark, sf_dir):
    """r7: both retrieval-eval rank windows must PARTITION BY term —
    a global (unpartitioned) window over the posting table would
    single-task the corpus at scale."""
    df = REG["ndcg_eval"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(term" in plan, (
        "rank windows are not partitioned by term"
    )
    assert "CartesianProduct" not in plan


def test_gini_split_windows_partition_by_feature(spark, sf_dir):
    """r7: the hist-mode split finder's prefix/argmin windows must
    partition BY FEATURE over the ~70-row value census — and the census
    must exist (a HashAggregate below every Window)."""
    df = REG["gini_split_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(feature" in plan
    assert _windows_sit_on_aggregates(df)
    assert "CartesianProduct" not in plan


def test_bloom_filter_and_verdicts_broadcast(spark, sf_dir):
    """r7: the bit set (≤4096 rows) and the per-supplier verdicts
    (dim-sized) must ride broadcasts — the lineitem fact is probed
    map-side, exactly how a runtime filter deploys."""
    df = REG["bloom_prune_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert broadcast_join_count(df) >= 3
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_psi_and_ewma_expand_census_via_broadcasts(spark, sf_dir):
    """r7: psi_drift's constant bin grid and ewma_smooth's 10×32 lag
    expansion must ride broadcasts over the day/bin census — one
    fact rollup each, never a shuffle of expanded rows."""
    for name in ("psi_drift", "ewma_smooth"):
        df = REG[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert broadcast_join_count(df) >= 2, f"{name}: missing broadcasts"
        assert "CartesianProduct" not in plan
        assert _windows_sit_on_aggregates(df), f"{name}: raw-scan window"


def test_bucketed_roundtrip_no_key_exchange(spark, sf_dir):
    """r7: the registered bucketed roundtrip must plan its join with NO
    exchange on the customer key — only the rollup/sort exchanges may
    remain (the pay-the-shuffle-once-at-ingest property, now
    driver-visible via the oracle query)."""
    from big_data_lab_three_spark.plans.inspect import exchange_args

    df = REG["bucketed_join_roundtrip"].spark(spark, sf_dir)
    args = exchange_args(df)
    assert not any("custkey" in a for a in args), (
        f"bucketed join still shuffles on the key: {args}"
    )


def test_rfm_ranks_without_global_window(spark, sf_dir):
    """r7: all three RFM quintile assignments must ride the
    distributed exact-ntile path — any window in the plan may only be
    global_ranks' internal offsets window over an aggregate."""
    df = REG["rfm_segments"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _windows_sit_on_aggregates(df), (
        "a Window consumes raw rows, not the offsets census"
    )
    assert "CartesianProduct" not in plan


def test_conformal_ranks_group_by_segment_no_raw_window(spark, sf_dir):
    """r7: the conformal quantile must come from the grouped
    distributed rank pass (windows only over global_ranks' offsets
    aggregate) with the model and q-hat frames broadcast back."""
    df = REG["conformal_interval"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _windows_sit_on_aggregates(df)
    assert broadcast_join_count(df) >= 3
    assert "CartesianProduct" not in plan


def test_window_over_raw_scan_controls(spark, sf_dir):
    """The guard itself, regression-protected: a window directly over
    the raw fact must be CAUGHT, a window over a census aggregate must
    be CLEAN, and — the shape the old string scan false-passed — a
    window over a join of (aggregate, raw scan) must be CAUGHT."""
    from pyspark.sql import Window

    from big_data_lab_three_spark.plans.inspect import window_over_raw_scan

    li = table(spark, sf_dir, "lineitem")
    bad = li.withColumn(
        "r", F.sum("l_quantity").over(Window.orderBy("l_orderkey"))
    )
    assert window_over_raw_scan(bad), "raw-scan window not caught"

    census = li.groupBy("l_returnflag").count()
    good = census.withColumn(
        "r", F.sum("count").over(Window.orderBy("l_returnflag"))
    )
    assert not window_over_raw_scan(good), "census window false-caught"

    mixed = census.join(
        li.select("l_returnflag", "l_quantity"), "l_returnflag"
    ).withColumn(
        "r", F.sum("l_quantity").over(Window.orderBy("l_returnflag"))
    )
    assert window_over_raw_scan(mixed), (
        "window over join(aggregate, raw scan) not caught — the shape "
        "the old flat-string guard false-passed"
    )


def test_streaming_and_lorenz_windows_on_census(spark, sf_dir):
    """r7 close: streaming_cusum's prefix scan runs on the drained
    window census (in-memory sink — not a raw scan), and
    lorenz_gap_census's cumulative-share window runs on the 10-row
    decile census."""
    for name in ("lorenz_gap_census",):
        df = REG[name].spark(spark, sf_dir)
        assert _windows_sit_on_aggregates(df), f"{name}: raw-scan window"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


def test_span_decontaminate_broadcasts_bench_grams(spark, sf_dir):
    """The benchmark 8-gram set must broadcast (map-side semi-join —
    the corpus explode never shuffles); the only exchanges are the
    hits-only window + per-doc aggregate."""
    df = REG["span_decontaminate"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1, (
        "bench gram set should broadcast into the corpus-window semi-join"
    )


def test_quantile_sketch_merge_windows_partition_by_shard(spark, sf_dir):
    """The full-table windows must partition by shard (16-way summary
    pass), never a single-partition global sort of raw rows; the
    single-partition running-sum window sits on the KB-sized summary
    only.  Detect: the plan's window specs over the raw relation carry
    a partition expression."""
    df = REG["quantile_sketch_merge"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # every Window node either partitions by shard or (the merge
    # cumsum) consumes the sample-filtered side — assert the raw-table
    # summary window is shard-partitioned
    wins = [ln for ln in plan.splitlines() if "Window " in ln or ln.strip().startswith("Window")]
    assert any("shard" in w for w in wins), (
        f"no shard-partitioned window in plan:\n{plan[:2000]}"
    )


def test_ivf_cost_census_broadcasts_codebook_and_cells(spark, sf_dir):
    """Cost census moves no vectors: the 8-row codebook and the 8-row
    cell-size table both broadcast; the only wide exchange is the
    per-vector assignment aggregate."""
    df = REG["ivf_cost_census"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 2


def test_seasonal_smooth_census_joins_broadcast(spark, sf_dir):
    """Everything after the daily rollup is census-sized: dow factors,
    max-day, weights, and the lag source must all broadcast."""
    df = REG["seasonal_smooth"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 3


def test_holt_winters_census_joins_broadcast(spark, sf_dir):
    """Everything after the daily rollup is census-sized: dow factors
    (used twice — deseasonalize AND re-seasonalize), max-day, both
    weight kernels, and the lag source must all broadcast."""
    df = REG["holt_winters_forecast"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 4


def test_dsir_scores_via_broadcast_feature_table(spark, sf_dir):
    """DSIR's scale contract: the ≤256-row hashed-bucket log-ratio
    table broadcasts into the token stream (never a corpus-keyed
    shuffle join), and the resample is a top-k
    (TakeOrderedAndProject), never a global sort."""
    df = REG["dsir_importance_resample"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1, (
        "bucket log-ratio table should broadcast into the token scan"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, (
        "resample should be per-partition top-k, not a global sort"
    )


def test_dsir_domain_census_broadcasts_selection(spark, sf_dir):
    """The 200-row selection census and the 1-row leftover both
    broadcast into the per-source readout — the only wide exchanges
    are the scoring chain's."""
    df = REG["dsir_domain_census"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 2


def test_quality_funnel_bounded_shuffles(spark, sf_dir):
    """The funnel is two combiner-friendly keyed aggregations plus a
    language census — never more than four exchanges, no joins."""
    df = REG["quality_filter_funnel"].spark(spark, sf_dir)
    n = shuffle_count(df)
    # source repartition + (doc,tok) agg + doc agg + lang census + sort
    assert 1 <= n <= 5, f"funnel should be 2 keyed aggs + census, saw {n}"


def test_bpe_merge_census_topk_not_global_sort(spark, sf_dir):
    """Top-20 pairs via per-partition heaps (TakeOrderedAndProject),
    never a global sort of the pair domain."""
    df = REG["bpe_merge_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bigram_logprob_stays_in_codegen(spark, sf_dir):
    """Bigram construction is zip_with over the token array (a codegen
    projection) — no UDF, no per-row Python."""
    df = REG["bigram_logprob"].spark(spark, sf_dir)
    assert codegen_stage_count(df) >= 1


def test_boilerplate_prefix_window_partitions_by_source(spark, sf_dir):
    """Per-source top-1 prefix via a source-partitioned window (never a
    global window), prefix built by slice — no explode of the corpus."""
    import re

    df = REG["boilerplate_prefix_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    wins = re.findall(r"Window .*", plan)
    assert wins, "expected a window for the per-source top-1"
    assert all("source" in w for w in wins if "row_number" in w)


def test_split_leakage_gram_join_and_counts_broadcast(spark, sf_dir):
    """The shared-gram set is a keyed equi-join of two DISTINCT gram
    sets; the five census counts broadcast into the 1-row readout."""
    df = REG["split_leakage_census"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_woe_iv_single_rollup_plus_broadcast_totals(spark, sf_dir):
    """One map-side-combining rollup to ten buckets; the totals row
    broadcasts back; no second scan of the fact."""
    df = REG["woe_iv_census"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    n = shuffle_count(df)
    # fact rollup + totals agg over the 10-bucket census + sort
    assert 1 <= n <= 4, f"woe census should be one fact rollup, saw {n}"


def test_runs_test_windows_on_census_only(spark, sf_dir):
    """The median/run windows operate on the day census (documented
    census-window class) — the fact table sees one rollup; the median
    row broadcasts back."""
    df = REG["runs_test"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1


def test_jaccard_sweep_no_corpus_pairs(spark, sf_dir):
    """The sweep reuses the banded LSH pipeline — no CartesianProduct —
    and the three thresholds are ONE conditional aggregation over the
    rescored pairs (a threshold⋈pairs outer join would have to build
    the unbounded pair side), stacked to rows afterwards."""
    df = REG["jaccard_threshold_sweep"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the stack() readout
    # no join may consume the rescored-pair stream after the LSH
    # pipeline's own joins: the readout side of the plan is agg-only
    assert "BroadcastNestedLoopJoin" not in plan


def test_seasonal_strength_single_fact_rollup(spark, sf_dir):
    """One rollup of the fact to the day census; the 7-row factor
    table broadcasts; the readout is one exact-integer aggregate."""
    df = REG["seasonal_strength_census"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 2


def test_gains_table_no_global_window_over_fact(spark, sf_dir):
    """Deciles come from distributed exact ranks; any window in the
    plan operates on the 10-row census (partition-less windows over
    the fact are the banned shape): every Window node's subtree must
    reach an Aggregate BEFORE any parquet scan."""
    import re

    df = REG["gains_table"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 1

    def depth(line):  # tree-drawing prefix length = nesting depth
        m = re.match(r"^[\s:+*()\d-]*", line)
        return len(m.group(0))

    lines = plan.splitlines()
    win_lines = [i for i, l in enumerate(lines) if "Window" in l]
    assert win_lines, "expected census windows in the gains plan"
    for i in win_lines:
        d0 = depth(lines[i])
        agg_seen = False
        for j in range(i + 1, len(lines)):
            if lines[j].strip() and depth(lines[j]) <= d0:
                break
            if "HashAggregate" in lines[j]:
                agg_seen = True
            if "Scan parquet" in lines[j] or "FileScan" in lines[j]:
                assert agg_seen, (
                    "Window consumes a raw scan — global window over "
                    f"the fact:\n{lines[i]}"
                )


def test_novelty_decay_two_gram_aggregates(spark, sf_dir):
    """Novelty is min-shard-per-gram — gram-keyed aggregates only,
    never a shard×shard comparison join."""
    df = REG["ngram_novelty_decay"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 1


def test_ab_power_mde_single_scan(spark, sf_dir):
    """Design census is one codegen scan + 1-row aggregate."""
    df = REG["ab_power_mde"].spark(spark, sf_dir)
    assert codegen_stage_count(df) >= 1
    n = shuffle_count(df)
    assert n <= 2, f"power census should be a single aggregate, saw {n}"


def test_heaps_fit_min_shard_aggregate_not_rescan(spark, sf_dir):
    """Cumulative vocabulary comes from ONE min-shard-per-token
    aggregate fed by the shared token explode.  The token frame is NOT
    checkpointed (corpus-sized — the localCheckpoint convention is for
    KB censuses only), so documents is scanned exactly TWICE upstream
    (token totals + first-shard vocabulary), never once per prefix.
    What the FINAL plan must show is the other half of the convention:
    the 4-row census IS checkpointed, so the fit/readout reruns read
    the materialized 4 rows — zero parquet scans — instead of
    re-deriving the corpus aggregation per consumer."""
    df = REG["heaps_law_fit"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 2
    n_scans = plan.count("Scan parquet")
    assert n_scans == 0, (
        f"final plan should read the checkpointed 4-row census, "
        f"saw {n_scans} parquet scans"
    )


def test_burstiness_two_rollups_only(spark, sf_dir):
    """(type, hour) rollup then type census — combiner-friendly keyed
    aggregations, bounded exchanges."""
    df = REG["burstiness_census"].spark(spark, sf_dir)
    n = shuffle_count(df)
    assert 1 <= n <= 4, f"burstiness should be two rollups (+sort), saw {n}"


def test_epoch_cap_projection_rollup_no_explode(spark, sf_dir):
    """Token counts come from size(split(...)) — a projection, never a
    token explode; everything after is census-sized."""
    df = REG["epoch_cap_allocation"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "token counting must not explode"
    assert broadcast_join_count(df) >= 2


def test_context_window_broadcast_cross(spark, sf_dir):
    """The 3-row window table broadcasts against per-doc counts; one
    grouped aggregate; no explode."""
    df = REG["context_window_histogram"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan
    assert broadcast_join_count(df) >= 1


def test_interevent_latency_windows_partition_by_user(spark, sf_dir):
    """The gap window partitions by user (bounded per-user state) —
    pinned on the pre-checkpoint gap frame (the registered query
    localCheckpoints its census readout, which truncates the lineage
    the pin needs to inspect)."""
    import re

    from pyspark.sql import Window as W

    from big_data_lab_three_spark.sources import table as _table

    e = _table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id", "ts"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        "event_id",
        (F.col("ts") - F.lag("ts").over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    plan = g._jdf.queryExecution().executedPlan().toString()
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert wins, "expected the per-user lag window"
    assert all("user_id" in w_ for w_ in wins), wins


def test_watermark_sweep_census_joins_broadcast(spark, sf_dir):
    """The delay table and the 3-row prefix-max table broadcast against
    the base scan; the triangular join is census×census."""
    df = REG["watermark_delay_sweep"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 2


def test_method_agreement_bucketed_pipelines_no_cartesian(spark, sf_dir):
    """Both detector pipelines stay bucketed (band / pigeonhole keyed
    joins); the set comparison is one pair-keyed full-outer join."""
    df = REG["dedup_method_agreement"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_segment_census_vocab_bounded(spark, sf_dir):
    """The BPE apply census's final plan: before/after aggregates are
    1-row frames joined by a broadcast cross — no CartesianProduct, no
    corpus-sized join; the merge rounds run once, in the training
    stage's one grouped-map task."""
    df = REG["bpe_segment_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 1


def test_semdedup_prune_pairs_only_within_cells(spark, sf_dir):
    """SemDeDup's defining property: the prune is ONE grouped-map pass
    over cell-keyed vectors (a single cell shuffle of (id, vec) rows,
    intra-cell cosine matrix in Arrow/numpy) — NEVER a pair join or an
    unkeyed corpus product; the centroid assignment is the only
    nested-loop and it is broadcast (8-row centroid table)."""
    df = REG["semdedup_prune"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan, "grouped-map prune missing"
    assert "SortMergeJoin" not in plan, "pair join leaked back in"
    # the assignment's broadcast nested-loop is fine; a NON-broadcast
    # nested loop would be the all-pairs catastrophe
    import re

    assert not re.search(r"(?<!Broadcast)NestedLoopJoin", plan.replace(
        "BroadcastNestedLoopJoin", "Broadcast_NLJ"
    )), "non-broadcast nested loop in the pair stage"


def test_semdedup_cell_census_is_linear(spark, sf_dir):
    """The sf1 witness must stay linear: no self-join on vectors at
    all — one collapse groupBy, one broadcast assign, one rollup."""
    df = REG["semdedup_cell_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, "pair-stage join leaked in"


def test_ccnet_buckets_window_is_per_language(spark, sf_dir):
    """The tercile cut must be a per-language partitioned window (a
    range shuffle), never a single global sort of all scores."""
    df = REG["ccnet_perplexity_buckets"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    assert "CartesianProduct" not in plan
    assert re.search(
        r"ntile\(3\) windowspecdefinition\(lang#\d+,", plan
    ), "ntile window is not partitioned by lang"


def test_bpe_fertility_broadcasts_vocab_map(spark, sf_dir):
    """Per-language fertility must join the vocabulary-sized (tok →
    n_symbols) map BROADCAST onto the (lang, tok) rollup — the corpus
    is never shuffled against the segmentation."""
    df = REG["bpe_fertility_by_lang"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 1


def test_dedup_priority_keep_argmax_not_window(spark, sf_dir):
    """The keep rule is a combiner-friendly max(struct(prio, -id))
    groupBy — never a row_number window over the corpus digests."""
    df = REG["dedup_priority_keep"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "argmax fell back to a window sort"


def test_hard_negative_mining_broadcast_probes(spark, sf_dir):
    """The probe table broadcasts against one corpus scan; the window
    partitions by qid (8 partitions), never a global sort."""
    df = REG["hard_negative_mining"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    import re

    assert re.search(r"windowspecdefinition\(qid#\d+", plan)


def test_kcore_rounds_are_semijoin_bounded(spark, sf_dir):
    """Each peel round must filter edges with SEMI joins on the kept
    node set — never rebuild pairs; and the pair generation is
    basket-keyed (no cartesian)."""
    df = REG["kcore_peel_census"].spark(spark, sf_dir)
    # the result is a driver-assembled census; pin the loop's edge
    # pipeline instead by rebuilding its first round here
    from big_data_lab_three_spark.sources import table as _t

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
    )
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert df.count() == 6  # six fixed rounds, data-independent


def test_vocab_coverage_window_is_vocab_bounded(spark, sf_dir):
    """The cumulative window runs over the aggregated vocabulary, so
    the plan aggregates BEFORE the window (no window over raw tokens)."""
    df = REG["vocab_coverage_curve"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # executedPlan prints parents above children: the vocabulary
    # aggregate must appear BELOW the window (i.e., feed it)
    assert "HashAggregate" in plan.split("Window", 1)[1], (
        "window is not running over the aggregated vocabulary"
    )
    assert broadcast_join_count(df) >= 1


def test_source_overlap_join_keyed_on_token(spark, sf_dir):
    """The intersection self-join must be keyed on the token (fan-out
    bounded by sources² per token) — never an unkeyed product — and
    the per-source size tables broadcast."""
    df = REG["source_overlap_matrix"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 2


def test_kmeans_update_is_single_aggregate_no_explode(spark, sf_dir):
    """Each k-means round must keep the label_centroids plan: the
    centroid update is one hash aggregate with 64 per-dimension sums
    (no vector explode), and every assignment joins the k-row centroid
    table broadcast."""
    df = REG["kmeans_lloyd_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 1
    assert "Generate" not in plan, "vector explode leaked into k-means"


def test_kn_trigram_model_joins_are_keyed_and_bounded(spark, sf_dir):
    """KN scoring must stay linear in the test stream: every model
    lookup is a KEYED join against an n-gram-type-bounded table (AQE
    broadcasts them at test tiers), the only nested loop is the
    broadcast of the 1-row totals, and nothing windows or sorts the
    corpus."""
    import re

    df = REG["kn_trigram_perplexity"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "KN ladder fell back to a window"
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    ), "non-broadcast nested loop in the scoring join"
    assert broadcast_join_count(df) >= 3, (
        "model tables should broadcast at test tiers"
    )


def test_line_dedup_crossdoc_is_linear_keyed(spark, sf_dir):
    """Cross-document line dedup must be one frequency rollup + one
    line-keyed join + one per-doc rollup — no pair stage, no window,
    no corpus product; reassembly is a grouped collect_list, never a
    global sort."""
    import re

    df = REG["line_dedup_crossdoc"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "reassembly fell back to a window"
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )


def test_nb_scoring_is_sparse_and_broadcast(spark, sf_dir, monkeypatch):
    """NB scoring must stay sparse: test tokens join the (lang, token)
    parameter table KEYED ON THE TOKEN (zero contributions never
    materialize), the per-class denominator/prior tables broadcast,
    and the argmax is groupBy algebra — no corpus-partitioned window,
    no cartesian, no dense feature grid.  localCheckpoints are no-op'd
    so the WHOLE plan (scoring stage included) is inspected, not just
    the post-checkpoint readout."""
    import re

    # Spark 4: the session returns pyspark.sql.classic DataFrames,
    # whose localCheckpoint overrides the pyspark.sql.DataFrame base —
    # patch the concrete class
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    df = REG["nb_lang_confusion"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "argmax fell back to a window"
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert broadcast_join_count(df) >= 2, (
        "denominator/prior tables should broadcast"
    )


def test_substring_dedup_window_is_per_doc(spark, sf_dir):
    """The extent union must window PER DOCUMENT (partitions bounded
    by doc length), never globally; the repeated-window probe is a
    keyed semi join — no pair stage, no cartesian."""
    import re

    df = REG["substring_dedup_extents"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert re.search(
        r"windowspecdefinition\(id#\d+L?,", plan
    ), "lead window is not partitioned by doc id"


def _python_stages(df) -> int:
    """Grouped-map Python nodes in the plan ``df.collect()`` ran."""
    df.collect()
    return final_plan(df).count("FlatMapGroupsInPandas")


def test_unigram_lm_dp_is_vocab_bounded(spark, sf_dir):
    """The Viterbi DP must run over the VOCABULARY (one corpus token
    scan, then the (tok, cnt) table in one grouped-map stage): no
    corpus window, no cartesian, no non-broadcast nested loop, and
    the training stage runs once."""
    import re

    df = REG["unigram_lm_viterbi_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "DP fell back to a window"
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert _python_stages(df) == 1, "training stage ran more than once"


def test_bpe_corpus_apply_is_keyed_join_no_window(spark, sf_dir):
    """The corpus-level BPE apply must be one corpus token scan joined
    against the vocabulary-bounded piece map (broadcast at test
    tiers) plus two combiner rollups — no corpus window, no pair
    stage, no non-broadcast nested loop."""
    import re

    df = REG["bpe_corpus_apply_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "apply census fell back to a window"
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert broadcast_join_count(df) >= 1, (
        "piece map should broadcast at test tiers"
    )


def test_unigram_convergence_rounds_are_vocab_bounded(spark, sf_dir):
    """Every EM round's readout must stay vocabulary-bounded: no
    corpus window, no cartesian beyond the broadcast of 1-row model
    census tables, no non-broadcast nested loop — the property that
    makes per-round cost independent of corpus size."""
    import re

    df = REG["unigram_lm_convergence"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert _python_stages(df) == 1, "training stage ran more than once"


@pytest.mark.parametrize(
    "name", ["unigram_lm_round2_census", "unigram_lm_em_round"]
)
def test_unigram_readouts_run_the_training_stage_once(spark, sf_dir, name):
    """A readout that needs more than one cut of the training stage —
    the round-2 census reads its word rows and its round-2 history
    row, the EM round its pieces and their total — still runs the
    stage once.  The stage's output is one partition, so an aggregate
    over it adds no exchange two branches could share: each branch
    would run the stage again."""
    df = REG[name].spark(spark, sf_dir)
    assert _python_stages(df) == 1, "training stage ran more than once"


def test_quality_classifier_scoring_is_sparse_and_broadcast(
    spark, sf_dir, monkeypatch
):
    """The quality classifier shares nb_lang_confusion's scale
    contract: token-keyed sparse scoring, broadcast denominator/prior
    tables, groupBy argmax — no corpus window, no dense grid."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    df = REG["quality_classifier_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "argmax fell back to a window"
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert broadcast_join_count(df) >= 2, (
        "denominator/prior tables should broadcast"
    )


def test_unigram_corpus_apply_is_keyed_join_no_window(spark, sf_dir):
    """The unigram apply shares the BPE apply's contract: corpus
    stream joins the vocabulary-bounded piece map; training rounds
    stay vocab-bounded in one grouped-map stage — no corpus window,
    no cartesian, no non-broadcast nested loop."""
    import re

    df = REG["unigram_corpus_apply_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert _python_stages(df) == 1, "training stage ran more than once"


def test_bpe_frozen_oov_apply_is_keyed_join_no_window(
    spark, sf_dir, monkeypatch
):
    """The frozen-vocab OOV apply shares the apply family's contract:
    held-out (lang, tok, cnt) stream joins the frozen segmentation,
    whose OOV tokens the training stage segments as apply-only rows —
    no corpus window, no cartesian, no non-broadcast nested loop
    (localCheckpoints no-op'd so the whole plan is inspected)."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    df = REG["bpe_frozen_oov_apply_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "apply census fell back to a window"
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )


def test_unigram_frozen_oov_apply_is_keyed_join_no_window(
    spark, sf_dir, monkeypatch
):
    """The frozen unigram apply shares the apply family's contract:
    held-out (lang, tok, cnt) stream joins the frozen segmentation,
    whose OOV tokens the training stage segments as apply-only rows —
    no corpus window, no cartesian, no non-broadcast nested loop
    (localCheckpoints no-op'd so the whole plan is inspected)."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    df = REG["unigram_frozen_oov_apply_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert _python_stages(df) == 1, "training stage ran more than once"


def test_curation_funnel_is_one_scan_one_digest_exchange(
    spark, sf_dir, monkeypatch
):
    """The composed curation funnel v3 must stay linear: the PII
    redaction is a codegen projection inside the lineage, scan
    predicates for clean/quality, ONE digest-keyed exchange for the
    dedup window, doc-keyed joins for the two model-stage verdicts
    and the contamination verdict, plus TWO broadcasts (per-language
    LM cutoff + the benchmark gram set's semi-join probe) — no
    cartesian, no non-broadcast nested loop, and the only Window
    partitions by the content digest (bounded groups), never the
    whole corpus (both model stages argmax via groupBy/struct-max,
    not windows; localCheckpoints no-op'd so the whole classifier
    chain is inspected too)."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    df = REG["curation_pipeline_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    m = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert m and all("md5" in g or "_w" in g for g in m), (
        f"window not partitioned by content digest: {m}"
    )
    assert broadcast_join_count(df) >= 2, (
        "per-language LM cutoff AND benchmark gram probe should broadcast"
    )


def test_semantic_decontamination_is_bucket_keyed_no_allpairs(
    spark, sf_dir, monkeypatch
):
    """The semantic decontamination census must reach its cosine
    candidates through the bipartite hyperplane-LSH bucket join (an
    equi-join on the (table, signature) key), never an all-pairs
    train × eval product: no CartesianProduct, no non-broadcast
    nested loop (the only BroadcastNestedLoopJoins allowed are the
    1-row census crossJoins), and no corpus-wide Window.
    localCheckpoint no-op'd so the whole rep pipeline is inspected."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    df = REG["semantic_decontamination_census"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert broadcast_join_count(df) >= 1, (
        "1-row n_train census agg should broadcast"
    )


def test_image_dhash_near_dup_is_band_keyed_no_allpairs(
    spark, sf_dir, monkeypatch
):
    """The perceptual image near-dup must reach its Hamming rescore
    through the banded equi-join (band, bits), never an all-pairs
    image product; blobs feed chained Arrow stages, and the rescore
    is JVM bit_count (no Python in the pair path)."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    df = REG["image_dhash_near_dup"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert "bit_count" in plan, "exact rescore must be JVM bit_count"


def test_image_phash_near_dup_is_band_keyed_no_allpairs(
    spark, sf_dir, monkeypatch
):
    """pHash twin of the dHash pin: banded equi-join only, JVM
    bit_count rescore, no all-pairs image product."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    df = REG["image_phash_near_dup"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert not re.search(
        r"(?<!Broadcast)NestedLoopJoin",
        plan.replace("BroadcastNestedLoopJoin", "Broadcast_NLJ"),
    )
    assert "bit_count" in plan, "exact rescore must be JVM bit_count"
