"""Physical-plan assertions — the scale discipline, checked:
pushdown reaches the scan, scans prune columns, dimension joins
broadcast, single-table analyses stay in whole-stage codegen, and the
share-of-total rewrite avoids single-partition exchanges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamandbatchprocessing_spark.plans import (
    broadcast_hint_subtrees,
    executed_plan,
    has_broadcast_hash_join,
    pushed_filters,
    read_schema,
    whole_stage_codegen_spans,
)
from streamandbatchprocessing_spark.queries import QUERIES
from streamandbatchprocessing_spark.sources.batch import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    pushed = pushed_filters(df)
    assert any("o_orderstatus" in p and "EqualTo" in p for p in pushed), pushed


def test_column_pruning_on_projection(spark, sf_dir):
    df = QUERIES["b01_pricing_summary"](spark, sf_dir)
    schemas = read_schema(df)
    assert schemas, "no file scan found"
    # 7 of 11 lineitem columns referenced; the scan must not read the rest
    assert "l_orderkey" not in schemas[0]
    assert "l_partkey" not in schemas[0]
    assert "l_quantity" in schemas[0]


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    # 4 dimension joins broadcast; the lineitem ⋈ orders fact join is
    # deliberately unhinted (AQE may choose SMJ or, at toy SF, broadcast)
    # so at most that one join may be a SortMergeJoin.
    df = QUERIES["b03_regional_supplier_volume"](spark, sf_dir)
    plan = executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert plan.count("SortMergeJoin") <= 1, plan[:2000]


def test_brand_volume_broadcast(spark, sf_dir):
    assert has_broadcast_hash_join(QUERIES["b04_brand_volume"](spark, sf_dir))


def test_single_table_analysis_in_codegen(spark, sf_dir):
    df = QUERIES["a01_revenue_by_category"](spark, sf_dir)
    assert whole_stage_codegen_spans(df) >= 1


def test_share_rewrite_has_no_single_partition_window(spark, sf_dir):
    # b13 replaces sum().over(Window.partitionBy()) with a broadcast
    # scalar agg: no Window node, no global single-partition exchange
    # feeding one.
    plan = executed_plan(QUERIES["b13_priority_revenue_share"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semi_join_is_semi(spark, sf_dir):
    plan = executed_plan(QUERIES["b05_customers_with_open_orders"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_anti_join_is_anti(spark, sf_dir):
    plan = executed_plan(QUERIES["b06_customers_without_orders"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    # sort+limit must fuse into TakeOrderedAndProject (no global sort).
    plan = executed_plan(QUERIES["b02_top_unshipped_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    ["a01_revenue_by_category", "b01_pricing_summary", "e01_token_stats"],
)
def test_no_python_udf_in_jvm_queries(spark, sf_dir, name):
    # These families must stay JVM-side: no BatchEvalPython / ArrowEval
    # nodes (Python in the row path) anywhere in the plan.
    plan = executed_plan(QUERIES[name](spark, sf_dir))
    assert "EvalPython" not in plan, plan


def test_q17_rewrite_single_shuffle_window(spark, sf_dir):
    # b19 decorrelates via a window over the part-pruned fact: expect the
    # broadcast part join and exactly one shuffle exchange feeding the
    # window (plus the scalar agg's trivial one).
    plan = executed_plan(QUERIES["b19_small_quantity_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q19_residual_predicates_push_to_scan(spark, sf_dir):
    # The OR mixes columns from both join sides; Catalyst must still
    # derive and push the single-side residual ranges to each scan.
    df = QUERIES["b20_disjunctive_revenue"](spark, sf_dir)
    # The filter list is long enough that the plan dump truncates it, so
    # check the scan lines directly rather than via pushed_filters().
    scans = [
        ln for ln in executed_plan(df).splitlines() if "FileScan parquet" in ln
    ]
    assert any("l_quantity" in ln and "DataFilters" in ln for ln in scans), scans
    assert any("p_brand" in ln and "DataFilters" in ln for ln in scans), scans


def test_q22_scalar_subquery_broadcasts(spark, sf_dir):
    # The global-average scalar must arrive via broadcast, and NOT EXISTS
    # must plan as LeftAnti.
    plan = executed_plan(QUERIES["b22_idle_rich_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan


def test_q18_semi_join_before_wide_join(spark, sf_dir):
    plan = executed_plan(QUERIES["b21_large_volume_orders"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q14_single_pass_conditional_agg(spark, sf_dir):
    # Ratio of two conditional sums: one scan of lineitem, date range
    # pushed, part broadcast, no Window/self-join.
    df = QUERIES["b23_promo_revenue_share"](spark, sf_dir)
    plan = executed_plan(df)
    assert plan.count("FileScan parquet") <= 2, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert any("l_shipdate" in p for p in pushed_filters(df))


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    # The reference's core layout trick: tables partitioned by a
    # low-cardinality column downstream filters prune on (event_date /
    # category; README.md:629-636 shows PartitionFilters in its plan).
    # Same discipline here: write orders partitioned by status, read
    # with a status filter, and the scan must list only that partition.
    from streamandbatchprocessing_spark.sources.batch import (
        load_table,
        write_partitioned,
    )

    path = str(tmp_path / "orders_by_status")
    write_partitioned(
        load_table(spark, sf_dir, "orders"), path, partition_by=["o_orderstatus"]
    )
    df = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    plan = executed_plan(df)
    # the filter must appear as a PartitionFilter (directory pruning),
    # not a PushedFilter (row-group skipping within files read anyway)
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2 and "o_orderstatus" in pf[1][:200], plan[:1500]
    assert "PushedFilters: []" in plan, plan[:1500]


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    # The co-located-join lever for repeated fact-fact joins at scale:
    # bucket BOTH tables by the join key at write time, and the join
    # needs no Exchange on either side — the shuffle is paid once at
    # layout time, then amortized over every subsequent join.
    from streamandbatchprocessing_spark.sources.batch import load_table

    for name, key, cols in (
        ("li_b", "l_orderkey", ["l_orderkey", "l_quantity"]),
        ("ord_b", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load_table(spark, sf_dir, "lineitem" if name == "li_b" else "orders")
            .select(*cols)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .saveAsTable(name)
        )
    # Disable broadcast so the tiny test tables don't hide the effect —
    # at real scale neither side of a fact-fact join broadcasts anyway.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("li_b")
            .join(spark.table("ord_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = executed_plan(joined)
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan[:2000]
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:1500]
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("li_b", "ord_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


# ---------------------------------------------------------------------------
# No forced broadcast of fact-sized relations — round-1 verdict item.
# A F.broadcast() hint overrides Spark's size check; on a fact table it
# turns into an executor OOM at production scale, where plain AQE would
# have picked a sort-merge join. Dimensions (region/nation/customer/
# supplier/part) may be hinted; facts (lineitem/orders/events/documents/
# embeddings) must not be, unless the hinted subtree is provably bounded
# (a scalar/grouped reduction or an explicit limit).
# ---------------------------------------------------------------------------
_FACT_MARKERS = {
    "lineitem": "l_linenumber",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Broadcast of a literally-bounded query-vector set (vec_id < K): safe by
# construction, but not detectable from the plan shape alone.
_BOUNDED_BROADCAST_OK = {
    "d01_topk_bruteforce",
    "d02_ivf_bucket_ann",
    "d03_topk_pandas_vectorized",
    "d04_ivf_kmeans_ann",
    "d05_sq8_topk",
    # p06 broadcasts the eval panel's exploded gram set (doc_id < K).
    "p06_contamination_check",
    # d09 broadcasts the literal-bounded query panel (vec_id < 20), the
    # same set d01-d03 broadcast.
    "d09_ann_recall_eval",
    # d11 broadcasts that same vec_id < 20 panel (its cells side is a
    # 16-row Aggregate the generic check already accepts).
    "d11_nprobe_recall_curve",
    # d16 broadcasts the literal-bounded vec_id < 50 query panel.
    "d16_retrieval_margin_profile",
    # c13 broadcasts the Bloom set-bit relation — a Deduplicate node
    # bounded by the filter geometry (<= m = 65536 rows) rather than by
    # data volume (the generic check only recognizes Aggregate/Limit
    # reductions, not Deduplicate).
    "c13_bloom_prefilter",
}


@pytest.mark.parametrize(
    "name", sorted(n for n in QUERIES if not n.startswith("f"))
)
def test_no_forced_broadcast_of_fact_tables(spark, sf_dir, name):
    if name in _BOUNDED_BROADCAST_OK:
        pytest.skip("broadcast side is a literal-bounded query set")
    df = QUERIES[name](spark, sf_dir)
    for subtree in broadcast_hint_subtrees(df):
        if "Aggregate [" in subtree or "GlobalLimit" in subtree:
            continue  # reduction/limit: bounded regardless of source size
        hit = [t for t, col in _FACT_MARKERS.items() if col in subtree]
        assert not hit, (
            f"{name}: forced broadcast of fact table(s) {hit} — drop the "
            f"F.broadcast() hint and let AQE decide:\n{subtree[:1500]}"
        )


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """b30's layout contract: with both facts bucketed (and one file per
    bucket, sorted) on the join key, the merge join needs NO Exchange
    and NO Sort on either side — the write-time shuffle bought a
    shuffle-free join. This is the plan that survives a 100× scale-up;
    losing it (e.g. mismatched bucket counts, multi-file buckets)
    silently reintroduces a per-query exabyte exchange."""
    from streamandbatchprocessing_spark.queries.layout import (
        bucketed_lineitem_orders_join,
    )

    plan = executed_plan(bucketed_lineitem_orders_join(spark, sf_dir))
    assert plan.count("SortMergeJoin") == 1, plan[:2000]
    assert "Exchange" not in plan, plan[:2000]
    assert "Sort (" not in plan, plan[:2000]
    assert plan.count("Bucketed: true") == 2, plan[:2000]


def test_pii_scrub_is_single_scan_projection(spark, sf_dir):
    # e10 is a pure regexp projection: pruned scan (3 of 6 columns), no
    # shuffle other than the presentation sort — the 100-TB scrub pass
    # must never widen beyond a map stage.
    df = QUERIES["e10_pii_scrub"](spark, sf_dir)
    schemas = read_schema(df)
    assert schemas and "props" in schemas[0] and "user_id" not in schemas[0]
    plan = executed_plan(df)
    assert plan.count("Exchange") <= 1, plan[:2000]  # rangepartitioning sort only


def test_train_val_split_single_window_shuffle(spark, sf_dir):
    # p08: one hash exchange for the per-split window + the presentation
    # range sort — nothing else. The split/hash projection must stay in
    # the scan stage (no shuffle before the window's own).
    df = QUERIES["p08_train_val_split"](spark, sf_dir)
    schemas = read_schema(df)
    assert schemas and "text" not in schemas[0]  # only doc_id/source read
    plan = executed_plan(df)
    assert plan.count("Exchange") == 2, plan[:2000]


def test_p06_panel_broadcast_guard(spark, sf_dir):
    """p06's broadcast of the exploded eval-gram panel is guarded: under
    the cap the hint is applied (map-side hash join, train side never
    shuffled); above it the hint is WITHHELD so AQE sizes the join from
    runtime stats instead of forcing an oversized broadcast build."""
    from streamandbatchprocessing_spark.queries.pipeline import (
        _guarded_panel_broadcast,
    )

    panel = spark.range(100).selectExpr(
        "id AS eval_doc", "concat('g', id) AS g"
    )
    hinted = _guarded_panel_broadcast(panel, cap=1_000)
    assert "strategy=broadcast" in (
        hinted._jdf.queryExecution().analyzed().toString()
    )
    unhinted = _guarded_panel_broadcast(panel, cap=99)  # panel has 100 rows
    assert "strategy=broadcast" not in (
        unhinted._jdf.queryExecution().analyzed().toString()
    )
    # And the in-query default cap keeps the fixture panel on the
    # broadcast path: the executed p06 join must be broadcast-built.
    plan = executed_plan(QUERIES["p06_contamination_check"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_e11_dsir_broadcasts_ratio_table(spark, sf_dir):
    # e11: the 128-row log-ratio table joins the exploded token stream
    # via BroadcastHashJoin — the corpus side must never sort-merge.
    plan = executed_plan(QUERIES["e11_dsir_importance"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_g14_funnel_stage_filters_push_to_scan(spark, sf_dir):
    # g14: each stage's event_type filter must reach the parquet scan,
    # so a type-partitioned production table reads only its slice.
    df = QUERIES["g14_conversion_funnel"](spark, sf_dir)
    # pushed_filters splits on commas, so rejoin before matching the
    # two-argument EqualTo form.
    joined = ",".join(pushed_filters(df))
    for stage in ("signup", "click", "purchase"):
        assert f"EqualTo(event_type,{stage})" in joined, (stage, joined)


def test_p09_gate_broadcasts_thresholds(spark, sf_dir):
    # p09: the |sources|-row threshold table is broadcast back onto the
    # scored corpus; the corpus side joins map-side only.
    plan = executed_plan(QUERIES["p09_quality_percentile_gate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter join pruning (InjectRuntimeFilter): with a
    selective filter on the creation side, Catalyst plants a
    bloom_filter_might_contain predicate on the fact side's scan, so
    rows that cannot join are dropped BEFORE the shuffle. At 100 TB the
    default thresholds (creation side ≤ 10 MB, application scan
    ≥ 10 GB) enable this automatically; the fixture is far below both,
    so the test pins the plumbing by lowering them for one plan."""
    from pyspark.sql import functions as F

    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        # broadcast would bypass the shuffle the bloom filter protects
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        plan = executed_plan(li.join(o, li.l_orderkey == o.o_orderkey))
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_g16_range_join_is_hash_equi_join(spark, sf_dir):
    """The 24 h interval predicate must NOT plan as a nested-loop join:
    the bucketed rewrite turns it into a hash-partitionable equi-join
    on (user_id, bucket), with the true range check as a post-join
    filter. A BroadcastNestedLoopJoin here would be the O(n·m)
    per-user cross product the rewrite exists to avoid."""
    plan = executed_plan(QUERIES["g16_range_click_attribution"](spark, sf_dir))
    assert "NestedLoop" not in plan, plan
    assert "Join" in plan  # the equi-join is really there


def test_g17_twap_single_user_shuffle(spark, sf_dir):
    """TWAP's window and its closing groupBy share the user_id key: the
    plan must carry exactly one hash exchange on user_id (plus the
    presentation sort's range exchange) — no second shuffle for the
    aggregate."""
    plan = executed_plan(QUERIES["g17_time_weighted_value"](spark, sf_dir))
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges


def test_g18_windows_share_one_exchange(spark, sf_dir):
    """lag, the session-start flag, and the running session counter all
    use the same (user_id; ts, event_id) frame — Spark must plan ONE
    hash exchange feeding both Window operators and the per-session
    aggregate."""
    plan = executed_plan(QUERIES["g18_session_stats"](spark, sf_dir))
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges
    assert plan.count("Window") >= 2  # both window ops present


def test_p10_sample_never_shuffles_corpus(spark, sf_dir):
    """The PPS sample is scan → broadcast-scalar join → filter: the
    only exchanges allowed are the 1-row scalar aggregate's and the
    presentation sort's — no hash exchange of the documents table."""
    plan = executed_plan(QUERIES["p10_weighted_sample"](spark, sf_dir))
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            raise AssertionError(f"corpus-side hash exchange: {ln}")


def test_partition_pruning_reaches_scan(spark, sf_dir):
    """b32's date filter must resolve against partition DIRECTORIES at
    planning time (PartitionFilters on the scan), with zero data-column
    filters left to evaluate per row."""
    df = QUERIES["b32_partition_pruned_scan"](spark, sf_dir)
    plan = executed_plan(df)
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines, plan
    pruned = [
        l for l in scan_lines
        if "PartitionFilters" in l and "event_date" in l.split(
            "PartitionFilters", 1)[1].split("]", 1)[0]
    ]
    assert pruned, f"no partition filters on scan:\n{plan}"
    # the date predicate must NOT degrade to a per-row data filter
    assert all(
        "event_date" not in l.split("DataFilters", 1)[1].split("]", 1)[0]
        for l in pruned if "DataFilters" in l
    ), plan


def test_dynamic_partition_pruning(spark, sf_dir):
    """b33's fact scan must carry a dynamicpruningexpression in its
    PartitionFilters — the runtime day panel prunes date partitions
    before I/O rather than filtering rows after the join."""
    df = QUERIES["b33_dynamic_partition_prune"](spark, sf_dir)
    plan = executed_plan(df)
    assert "dynamicpruning" in plan.lower(), plan
    scan_lines = [
        l for l in plan.splitlines()
        if "FileScan" in l and "PartitionFilters" in l
    ]
    assert any(
        "dynamicpruning" in l.lower() for l in scan_lines
    ), "\n".join(scan_lines)


def test_b33_panel_take_ordered(spark, sf_dir):
    """b33's day-panel ranking must plan as TakeOrderedAndProject
    (distributed per-partition top-K + driver merge), never an
    unpartitioned ranking Window — the round-5 bench tail's
    'No Partition Defined for Window' warning came from here."""
    df = QUERIES["b33_dynamic_partition_prune"](spark, sf_dir)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_rollup_cube_hierarchical_no_expand(spark, sf_dir):
    """b07/b16 (round-12 rewrite) must plan WITHOUT the Expand node
    Spark's built-in rollup()/cube() uses — Expand replicates every
    scan row once per grouping set BEFORE the partial aggregate; the
    hierarchical re-aggregation instead routes the grouping-set levels
    through the cached finest-level table (InMemoryTableScan), keeping
    the fact scan single-width. (The rewrite also restores ANSI's
    grand-total row on empty input — pinned by
    test_degenerate_inputs.py.)"""
    for name in ("b07_priority_rollup", "b16_returnflag_cube"):
        plan = executed_plan(QUERIES[name](spark, sf_dir))
        assert "Expand" not in plan, f"{name}: Expand reappeared"
        assert "InMemoryTableScan" in plan, (
            f"{name}: finest-level table not cache-routed"
        )


def test_p12_profile_no_expand(spark, sf_dir):
    """p12 (approx profile) must plan WITHOUT the Expand node that p11's
    exact multi-countDistinct requires — the whole point of the swap:
    |columns| fixed-size HLL sketches shuffle instead of |columns| x rows."""
    exact_plan = executed_plan(QUERIES["p11_column_profile"](spark, sf_dir))
    approx_plan = executed_plan(
        QUERIES["p12_column_profile_at_scale"](spark, sf_dir)
    )
    assert "Expand" in exact_plan
    assert "Expand" not in approx_plan, approx_plan


def test_p14_skew_report_take_ordered(spark, sf_dir):
    """p14's top-20 must plan as TakeOrderedAndProject (bounded per-
    partition top-k + driver merge), never a global Sort, and its
    scalar totals must arrive by broadcast."""
    plan = executed_plan(QUERIES["p14_skew_report"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_d10_knn_is_cell_confined_arrow_pass(spark, sf_dir):
    """d10's pairing, top-k, and mutuality all happen INSIDE the
    per-cell Arrow pass: the plan must be one bucket-keyed exchange
    into FlatMapGroupsInPandas — no join of any kind (the r07 shape's
    pair-stream equi-join + window + mutual self-join are gone), and
    certainly no BroadcastNestedLoopJoin (all-pairs)."""
    plan = executed_plan(QUERIES["d10_mutual_knn_graph"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "windowspecdefinition(" not in plan, plan[:2000]


def test_g22_totals_join_broadcasts(spark, sf_dir):
    """g22's per-prev totals join is |event types|-sized and must
    broadcast — the transition matrix never shuffles on prev_type for
    the probability division."""
    plan = executed_plan(QUERIES["g22_event_transitions"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_e16_head_take_ordered(spark, sf_dir):
    """e16's top-50 head must fuse to TakeOrderedAndProject; the
    rank/cumulative windows run after the LIMIT on the 50-row panel,
    never on the full vocabulary."""
    plan = executed_plan(QUERIES["e16_zipf_head_profile"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_d12_filter_is_pairing_key_with_rank_pushdown(spark, sf_dir):
    """d12's metadata filter must BE the equi-join key (label pairing,
    never a BNLJ post-filter), and the per-query top-k must plan with
    WindowGroupLimit so only k rows per query survive each partition
    before the final window."""
    plan = executed_plan(QUERIES["d12_filtered_ann"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_c18_probe_side_fans_out(spark, sf_dir):
    """c18's Levenshtein work rides the probe side of a broadcast join;
    the probe rows must be hash-redistributed (explicit repartition on
    the primary key) so the per-pair work is not confined to the
    fixture file's single scan task. AQE must NOT have coalesced the
    user-pinned exchange back to one partition."""
    plan = executed_plan(QUERIES["c18_blocked_fuzzy_match"](spark, sf_dir))
    assert "Exchange hashpartitioning(p_partkey" in plan, plan
    assert "REPARTITION_BY_NUM" in plan, plan


def test_d15_rerank_joins_are_equi(spark, sf_dir):
    """d15's exact-rerank stage fetches full-precision vectors through
    vec_id equi-joins on the shortlist — a nested-loop join would mean
    the shortlist bound never reached the planner."""
    plan = executed_plan(QUERIES["d15_pq_rerank_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_b34_plan_is_single_linear_aggregate(spark, sf_dir):
    """b34 must plan as scan -> partial agg -> exchange -> final agg —
    no join anywhere: the compaction decision runs on statistics, not
    on file listings or pairwise anything."""
    plan = executed_plan(QUERIES["b34_compaction_plan"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_g27_rank_pushdown_and_take_ordered(spark, sf_dir):
    """g27's rn <= 3 filter must push into the window as a
    WindowGroupLimit (each partition keeps only its top-3 rows BEFORE
    the full window evaluates — the difference between shuffling 3
    rows per user and shuffling every event at 100 TB), and the final
    top-20 must fuse to TakeOrderedAndProject, never a global Sort."""
    plan = executed_plan(QUERIES["g27_top_event_paths"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_g28_fanout_is_equi_only(spark, sf_dir):
    """g28's sliding window must be the constant 7x Generate fan-out of
    the reduced (day,user) pair set joined by equality — never a
    BroadcastNestedLoop/Cartesian range join, and exactly one Generate
    (the explode), so the fan-out factor is the window length."""
    plan = executed_plan(QUERIES["g28_rolling_active_users"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert plan.count("Generate") == 1, plan[:2000]


def test_m11_census_prunes_to_text_at_scan(spark, sf_dir):
    """m11 derives magic/length/digest from the payload column alone —
    the scan must read ONLY text (payload bytes never shuffle; no
    other document column is touched)."""
    schemas = read_schema(QUERIES["m11_magic_byte_census"](spark, sf_dir))
    assert schemas, "no file scan found"
    assert "text" in schemas[0]
    for col in ("doc_id", "source", "lang", "n_chars"):
        assert col not in schemas[0], schemas[0]


def test_p20_schedule_has_no_unbounded_window(spark, sf_dir):
    """p20's lexicographic remainder rank runs on the |sources| panel
    via panel_window — the plan's Window must be partitioned (no
    single-partition global window) and there must be no Expand."""
    plan = executed_plan(QUERIES["p20_epoch_plan"](spark, sf_dir))
    assert "Expand" not in plan, plan[:2000]
    windows = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert windows, plan[:2000]
    for line in windows:
        # panel_window's constant key is projected as _w0 and becomes
        # the windowspecdefinition's first (partition) argument; an
        # unpartitioned spec would lead with the ORDER column instead.
        assert "windowspecdefinition(_w" in line, line


def test_d17_profile_is_one_dim_keyed_aggregate(spark, sf_dir):
    """d17 must stay dimension-parallel: exactly one Generate (the
    posexplode) feeding a hash aggregate keyed on the dimension — no
    window, no join, no Expand, and the scan reads only the vector
    column."""
    plan = executed_plan(QUERIES["d17_dim_variance_profile"](spark, sf_dir))
    assert plan.count("Generate") == 1, plan[:2000]
    assert "Expand" not in plan, plan[:2000]
    assert "windowspecdefinition(" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    schemas = read_schema(QUERIES["d17_dim_variance_profile"](spark, sf_dir))
    assert schemas and "embedding" in schemas[0]
    assert "vec_id" not in schemas[0], schemas[0]
    assert "label" not in schemas[0], schemas[0]


def test_g30_cum_window_is_panel_partitioned(spark, sf_dir):
    """g30's cumulative user base runs on the bounded day panel via
    panel_window (partitioned spec, never a global running sum over
    an unpartitioned window) and the corpus never fans out (no
    Generate, no BNLJ)."""
    plan = executed_plan(QUERIES["g30_new_returning_users"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "Generate" not in plan, plan[:2000]
    windows = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert windows, plan[:2000]
    for line in windows:
        assert "windowspecdefinition(_w" in line, line


def test_p21_manifest_is_single_shuffle_scan(spark, sf_dir):
    """p21 is one linear scan into the shard-keyed aggregate: no join,
    no window, no Expand — the only exchange carries |shards| integer
    cells, and the scan reads only the three needed columns."""
    plan = executed_plan(QUERIES["p21_shard_manifest"](spark, sf_dir))
    assert "Join" not in plan, plan[:2000]
    assert "Expand" not in plan, plan[:2000]
    assert "windowspecdefinition(" not in plan, plan[:2000]
    schemas = read_schema(QUERIES["p21_shard_manifest"](spark, sf_dir))
    assert schemas, "no file scan found"
    assert all(c in schemas[0] for c in ("doc_id", "text", "n_chars"))
    assert "source" not in schemas[0], schemas[0]
    assert "lang" not in schemas[0], schemas[0]


def test_panel_window_null_anchor_stays_one_bucket(spark):
    """A NULL anchor value must not split panel_window's single bucket:
    _const_key coalesces before crc32, so NULL-anchor rows land in the
    same partition as everything else and ranks stay 1..n."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.functions.windows import panel_window

    df = spark.createDataFrame(
        [(None, 1), ("a", 2), (None, 3), ("b", 4)], "anchor string, ord int"
    )
    ranks = sorted(
        r.rk
        for r in df.select(
            F.row_number().over(panel_window("anchor", "ord")).alias("rk")
        ).collect()
    )
    assert ranks == [1, 2, 3, 4], ranks


def test_c20_reads_shared_cache_without_pair_shuffle(spark, sf_dir):
    """c20's pair stream must come from the session-shared candidate
    artifact — since round 12 a localCheckpoint-materialized,
    lineage-free ``Scan ExistingRDD`` leaf (before that, an
    InMemoryTableScan whose full band-join lineage re-entered every
    consumer plan) — and flow through the two token-set joins WITHOUT
    a pair-stream shuffle; at toy SF both joins broadcast the
    metadata-sized toksets projection, and a ShuffleExchange of the
    O(pairs) relation BEFORE the containment filter is the regression
    this pins against. The round-10 emission bound is allowed exactly
    ONE exchange: hashpartitioning(da) of the already-filtered
    QUALIFYING stream feeding the per-doc top-N window, which must
    carry a WindowGroupLimit (rank-limit pushdown, so the sort never
    retains more than N rows per group)."""
    plan = executed_plan(QUERIES["c20_containment_pairs"](spark, sf_dir))
    assert "Scan ExistingRDD" in plan, plan[:2000]
    # toksets stays persist()-cached; everything above its
    # InMemoryRelation is the pair-processing stage.
    pair_stage = plan.split("InMemoryRelation", 1)[0]
    exchanges = [
        line for line in pair_stage.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    # Zero when the session-shared candidate artifact is already
    # partitioned compatibly with the window (the cached plan keeps
    # its partitioning, so the exchange elides); at most one, and
    # only the window's own da-keyed one, otherwise.
    assert len(exchanges) <= 1, exchanges
    assert all("da#" in e for e in exchanges), exchanges
    assert "WindowGroupLimit" in pair_stage, pair_stage[:2000]
    assert pair_stage.count("BroadcastHashJoin") == 2, pair_stage[:2000]


def test_c20_cap_window_reuses_join_exchange(spark, sf_dir):
    """The net-free-cap invariant (round 11, the round-10 verdict's
    #2): in the shuffle-join regime — any corpus whose tokset
    projection exceeds the broadcast threshold, i.e. every real
    deployment — the da-side tokset join runs LAST, so its exchange
    doubles as the emission-cap window's required clustering and the
    window plans as a LOCAL sort + WindowGroupLimit with NO exchange
    of its own. Exactly ONE da-keyed hashpartitioning exchange may
    exist (the join's); two means the window re-shuffled the full
    qualifying pair stream — the +28% regression round 10 shipped and
    round 11 removed."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = executed_plan(QUERIES["c20_containment_pairs"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # The shared artifacts may have been built under either conf,
    # depending on suite order, so pin the invariant STRUCTURALLY
    # instead of counting joins globally:
    # the shuffle-join regime is in effect, exactly one da-keyed
    # exchange exists anywhere (the tokset join's), and nothing
    # between the window's group-limit and the join below it is an
    # exchange — the window rides the join's clustering.
    assert "SortMergeJoin" in plan, plan[:3000]
    da_exchanges = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning(da#" in line
    ]
    assert len(da_exchanges) == 1, da_exchanges
    assert "WindowGroupLimit" in plan, plan[:3000]
    seg = plan[plan.index("WindowGroupLimit"):]
    seg = seg[: seg.index("SortMergeJoin")]
    assert "Exchange" not in seg, seg


def test_c18_cap_window_reuses_probe_exchange(spark, sf_dir):
    """c18's analog of the c20 pin above (round 11, the advisor's
    finding — the elision was claimed in comments but never
    plan-tested): the emission-cap window must ride the explicit
    probe-side repartition by p_partkey (alias-propagated to part_a),
    planning as WindowGroupLimit with no exchange of its own — ONE
    hashpartitioning exchange in the whole plan. An AQE or
    partitioning regression that re-shuffled the O(pairs) matched
    stream for the window would show up as a second one."""
    plan = executed_plan(QUERIES["c18_blocked_fuzzy_match"](spark, sf_dir))
    hash_exchanges = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(hash_exchanges) == 1, hash_exchanges
    assert "p_partkey#" in hash_exchanges[0], hash_exchanges
    assert "WindowGroupLimit" in plan, plan[:3000]


def test_c18_smj_regime_rides_pinned_block_exchange(spark, sf_dir):
    """The shuffle-join-regime invariant (round 11, found by the sf10
    probe): once the build side cannot broadcast, c18's probe must
    repartition by the BLOCK key with a pinned partition count — the
    SMJ then rides that exchange directly. The old unconditional
    primary-key repartition was a DEAD exchange here (immediately
    re-shuffled by blk), after which AQE's byte-based coalescing
    folded the CPU-quadratic join stage to half the cores at sf10.
    The emission cap's window may shuffle only the stream a PARTIAL
    WindowGroupLimit already bounded (two WindowGroupLimits =
    partial + final)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = executed_plan(QUERIES["c18_blocked_fuzzy_match"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan[:3000]
    pinned = [
        line for line in plan.splitlines()
        if "REPARTITION_BY_NUM" in line
    ]
    assert len(pinned) == 1 and "blk#" in pinned[0], pinned
    assert "Exchange hashpartitioning(p_partkey#" not in plan, (
        "dead probe exchange is back"
    )
    assert plan.count("WindowGroupLimit") == 2, plan[:3000]


def test_c18_gate_agrees_with_planner_at_edge(spark, sf_dir):
    """Round-12 (the round-11 advisor's medium finding): the regime
    gate must agree with Catalyst AT the broadcast-threshold boundary,
    where the round-11 hand-rolled size model (rows x 64 B) could pick
    the wrong probe key and silently reintroduce the dead-exchange
    pathology. The gate now reads the planner's own trial plan, so
    agreement is structural — this pins it: with the threshold set to
    the build side's own sizeInBytes estimate (planner broadcasts) and
    one byte below it (planner shuffles), the gate's pick and the
    query's ACTUAL planned join/exchange shape must match."""
    from streamandbatchprocessing_spark.queries.dedup import (
        _c18_blocked,
        _c18_trial,
    )
    from streamandbatchprocessing_spark.queries.registry import (
        planner_broadcasts,
    )

    p = _c18_blocked(load_table(spark, sf_dir, "part"))
    size = int(
        p._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for threshold in (str(size), str(size - 1)):
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", threshold
            )
            broadcasts = planner_broadcasts(
                spark, sf_dir, "c18_probe_regime", _c18_trial
            )
            plan = executed_plan(
                QUERIES["c18_blocked_fuzzy_match"](spark, sf_dir)
            )
            pinned = [
                line for line in plan.splitlines()
                if "REPARTITION_BY_NUM" in line
            ]
            if broadcasts:
                assert "BroadcastHashJoin" in plan, (threshold, plan[:3000])
                assert len(pinned) == 1 and "p_partkey#" in pinned[0], pinned
            else:
                assert "SortMergeJoin" in plan, (threshold, plan[:3000])
                assert len(pinned) == 1 and "blk#" in pinned[0], pinned
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
