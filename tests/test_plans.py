"""Physical-plan assertions: pin the scale-critical plan shapes.

Guards against regressions the row-count oracles cannot see — a plan that
reverts to a single-partition global sort or loses predicate pushdown still
returns correct rows, so only an explain() check catches it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-plans")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fuzzy_topk_is_take_ordered(spark):
    """VERDICT r1 #2: global top-k must plan as TakeOrderedAndProject, never
    a partition-less row_number window over the full scored input."""
    from mmkg_rag_spark.operators.retrieval import fuzzy_topk

    items = spark.range(1000).select(
        F.col("id").alias("pid"),
        F.array(F.concat(F.lit("part "), F.col("id").cast("string"))).alias("fields"),
    )
    out = fuzzy_topk(items, ["part 7"], "fields", ["pid"])
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    # the only window is the rank over the ≤max_num limited rows, which sits
    # ABOVE the TakeOrderedAndProject — no SinglePartition exchange of the
    # full input may appear
    assert "Exchange SinglePartition" not in plan


def test_pricing_summary_pushdown(spark):
    """Filter must reach the parquet scan; scan must be column-pruned."""
    import __spark_entry__ as se

    df = se.queries()["agg_pricing_summary"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "IsNotNull(l_shipdate)" in plan
    # 6 of 11 lineitem columns — the full ReadSchema would include l_orderkey
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_ensure_min_partitions_guard(spark):
    from mmkg_rag_spark.functions.partitioning import ensure_min_partitions

    one = spark.range(100).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    fixed = ensure_min_partitions(one)
    assert fixed.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # healthy inputs pass through untouched (no added shuffle)
    many = spark.range(100).repartition(64)
    assert ensure_min_partitions(many) is many


def test_bucketed_graph_join_has_no_exchange(spark):
    """Co-located bucketed tables: the name=source join plans with zero
    shuffles — the persisted-layout strategy for joins too big to broadcast."""
    from mmkg_rag_spark.sinks import write_bucketed_graph

    nodes = spark.createDataFrame(
        [(f"e{i}", "ORG") for i in range(100)], "name string, label string"
    )
    edges = spark.createDataFrame(
        [(f"e{i % 100}", "rel", f"e{(i + 1) % 100}") for i in range(300)],
        "source string, label string, target string",
    )
    nt, et = write_bucketed_graph(spark, nodes, edges, db="kg_btest", n_buckets=8)
    try:
        n = spark.table(nt)
        e = spark.table(et)
        joined = e.hint("merge").join(n, e.source == n.name)
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides read pre-bucketed
        assert joined.count() == 300
    finally:
        spark.sql("DROP TABLE IF EXISTS kg_btest.edges")
        spark.sql("DROP TABLE IF EXISTS kg_btest.nodes")
        spark.sql("DROP DATABASE IF EXISTS kg_btest")


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must broadcast — the corpus side never
    shuffles for the membership test."""
    import __spark_entry__ as se

    df = se.queries()["decontaminate"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_pack_shards_no_corpus_global_window(spark):
    """The only partition-less window runs over the bucket-offset table
    (|buckets| rows), never the corpus: the corpus-side window is
    partitioned by bucket."""
    from mmkg_rag_spark.operators.curation import assign_shards

    docs = spark.range(5000).selectExpr(
        "id as doc_id", "repeat('w ', 20) as text"
    )
    plan = _plan(assign_shards(docs, shard_tokens=100, bucket_size=100))
    # corpus window partitioned by bucket
    assert "partitionBy=[bucket" in plan.replace(" ", "") or "bucket" in plan
    # offsets join is a broadcast (tiny table)
    assert "BroadcastHashJoin" in plan


def test_kg_degree_reads_bucketed_layout(spark):
    """VERDICT r2 #7: the driver's kg_degree_topk reads the persisted
    bucketed graph — the nodes side of the name join is a bucketed scan
    with NO exchange above it; only the degree aggregate and its join side
    shuffle."""
    import __spark_entry__ as se

    df = se.queries()["kg_degree_topk"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Bucketed: true" in plan
    # exchanges: the degree groupBy + (at most) the deg side of the join —
    # a third would mean the bucketed nodes side started shuffling again
    assert plan.count("Exchange hashpartitioning") <= 2


def test_build_kg_job_count_bounded(spark):
    """VERDICT r2 #1: the KG build's serial small-job floor. The full
    _build_kg (probes + canonicalize + mmodal + 4 checkpoints) must stay
    under 50 driver jobs — the round-2 build ran 52 at this SF; regressing
    above the bound means a new serial probe/checkpoint crept in."""
    import __spark_entry__ as se

    se._KG_CACHE.clear()
    sc = spark.sparkContext
    j0 = sc._jsc.sc().dagScheduler().nextJobId()
    se._build_kg(spark, "/root/testdata/sf0.001")
    jobs = sc._jsc.sc().dagScheduler().nextJobId() - j0
    se._KG_CACHE.clear()
    assert jobs <= 50, f"_build_kg ran {jobs} driver jobs (bound 50)"


def test_minhash_verify_is_count_based(spark):
    """VERDICT r2 #6: the exact-Jaccard verify must come from integer
    intersection/size counts on the flat shingle table — no collect_set
    arrays shipped through the candidate join."""
    from mmkg_rag_spark.operators.textdedup import minhash_near_duplicates

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_near_duplicates(docs))
    assert "collect_set" not in plan


def test_pack_shards_string_ids_no_corpus_global_window(spark):
    """VERDICT r2 #5: string doc ids take the prefix-bucket path and keep
    the same two-phase shape — corpus window partitioned by bucket, offsets
    broadcast, no corpus-scale SinglePartition window."""
    from mmkg_rag_spark.operators.curation import assign_shards

    docs = spark.range(5000).selectExpr(
        "concat('doc-', lpad(cast(id as string), 6, '0')) as doc_id",
        "repeat('w ', 20) as text",
    )
    out = assign_shards(docs, shard_tokens=100, bucket_prefix_len=8)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # the corpus-side window must be keyed by the prefix bucket
    assert "hashpartitioning(bucket" in plan


def test_pagerank_small_mode_broadcasts_ranks(spark):
    """While the rank table is vertex-sized it must broadcast: the adjacency
    side never shuffles, so each iteration's only exchange is the map-side-
    combined groupBy(dst) — no sort-merge join of the edge list."""
    from mmkg_rag_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 50}") for i in range(200)],
        "src string, dst string",
    )
    plan = _plan(pagerank(edges, undirected=True, iterations=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unpivot_is_expand_single_exchange(spark):
    """UNPIVOT/melt must be a zero-shuffle Expand; the only exchange is the
    4-group aggregate (map-side partials)."""
    import __spark_entry__ as se

    df = se.queries()["lineitem_measures_unpivot"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Expand" in plan
    assert plan.count("Exchange") <= 2  # agg hashpartitioning (+AQE read)
    assert "SortMergeJoin" not in plan and "SinglePartition" not in plan


def test_pivot_no_value_discovery_job(spark):
    """PIVOT with an explicit value list compiles to ONE conditional-count
    aggregate — no distinct() value-discovery pass, no second aggregate."""
    import __spark_entry__ as se
    from pyspark.sql import DataFrame

    calls = []
    orig = DataFrame.collect
    DataFrame.collect = lambda self: calls.append(1) or orig(self)
    try:
        df = se.queries()["events_daily_pivot"](spark, "/root/testdata/sf0.001")
    finally:
        DataFrame.collect = orig
    assert not calls, "pivot construction must not trigger a discovery job"
    plan = _plan(df)
    assert "Expand" not in plan  # conditional agg, not grouping-sets expand
    assert plan.count("Exchange") <= 2


def test_range_window_single_user_exchange(spark):
    """The trailing RANGE frame must evaluate in one user-keyed exchange +
    one sort — no self-join, no per-row range join."""
    import __spark_entry__ as se

    df = se.queries()["events_trailing_range_window"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_cube_single_expand_single_exchange(spark):
    """CUBE must compile to ONE Expand (4 grouping-set replicas) feeding a
    map-side-partial aggregate with a single hash exchange — never one
    scan/job per grouping set."""
    import __spark_entry__ as se

    df = se.queries()["orders_cube"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") <= 2  # agg hashpartitioning (+AQE read)
    assert "Join" not in plan


def test_transition_matrix_two_exchanges(spark):
    """Round-4 lead/lag class: ONE user-keyed shuffle carries the window;
    the pair aggregate adds exactly one more exchange — no SinglePartition
    window over the full event stream."""
    import __spark_entry__ as se

    plan = _plan(
        se.queries()["events_transition_matrix"](spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in plan


def test_vocab_coverage_single_scan(spark):
    """Round-4 cumulative-distribution class: the grand total must ride the
    same vocab-sized window pass as the cumsum — ONE corpus scan, no second
    token aggregate branch, no broadcast attach."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["vocab_coverage"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Scan parquet") == 1
    # tok groupBy + the (disclosed, vocab-sized) single-partition window
    assert plan.count("Exchange hashpartitioning") == 1


def test_prefix_jaccard_no_cartesian(spark):
    """Round-4 prefix-filter join: candidates come from an equi-join on the
    prefix shingle — never a nested-loop/cartesian product — and the
    per-doc ordering is an in-row array_sort, not a per-doc window sort."""
    from mmkg_rag_spark.operators.textdedup import prefix_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} common alpha beta gamma w{i + 1}") for i in range(30)],
        "doc_id long, text string",
    )
    plan = _plan(prefix_jaccard_pairs(docs, n=2, threshold=0.5))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan  # ordering happens inside the row


def test_shipping_priority_star_join_shape(spark):
    """TPC-H Q3 shape: both dimension filters reach the scans, the dim side
    joins broadcast (no fact-table shuffle for the joins), and the top-10
    plans as TakeOrderedAndProject — never a global sort of the aggregate."""
    import __spark_entry__ as se

    df = se.queries()["orders_shipping_priority"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "Exchange SinglePartition" not in plan
    # segment + date predicates pushed into the parquet scans
    assert "PushedFilters: [IsNotNull(c_mktsegment)" in plan or (
        "EqualTo(c_mktsegment" in plan
    )
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan


def test_link_prediction_no_cartesian_topk_take_ordered(spark):
    """Session-5 wedge enumeration: candidate pairs come from the per-dst
    equi-self-join (never a src×src product) and the final top-k plans as
    TakeOrderedAndProject — no global sort of the pair table."""
    import __spark_entry__ as se

    df = se.queries()["supplier_link_prediction"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_weighted_sample_window_group_limit(spark):
    """Session-5 sequential Poisson sample: the per-stratum top-k must push
    the limit into the sort (WindowGroupLimit) so no stratum is ever fully
    sorted, and the priority projection stays map-only (the one exchange is
    the stratum hash partitioning for the window)."""
    import __spark_entry__ as se

    df = se.queries()["weighted_sample_topk"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange") <= 2  # partial + final window exchange only


def test_interval_islands_single_user_exchange(spark):
    """Session-5 gaps-and-islands: both windows and both groupBys run on the
    user key — exactly one corpus exchange (plus AQE re-reads), never a
    per-island shuffle or a global sort."""
    import __spark_entry__ as se

    df = se.queries()["events_interval_islands"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan
    # one hashpartitioning exchange on user_id feeds windows + groupBys;
    # the per-island groupBy keys (user_id, _island) are a superset of the
    # window partitioning so Catalyst reuses the layout
    assert plan.count("Exchange hashpartitioning") <= 2


def test_snb_pairing_is_equi_join_no_cartesian(spark):
    """Sorted-neighborhood pairing must plan as an equi-join on rank —
    never a nested-loop/cartesian over the dictionary. (The two
    SinglePartition exchanges inside are the |partitions|-row offset
    window of the two-phase rank — documented, never the data.)"""
    import __spark_entry__ as se

    plan = _plan(se.queries()["snb_candidate_pairs"](
        spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_twap_single_user_exchange(spark):
    """The lead() window and the per-user aggregate must share ONE
    hashpartitioning(user_id) exchange; no SinglePartition anywhere."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["events_time_weighted_avg"](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_large_volume_orders_broadcasts_having_set(spark):
    """The HAVING-filtered heavy-order set must broadcast into orders
    (and the customer join stays broadcast at dimension size): two
    BroadcastHashJoins, one fact-side aggregate exchange, no cartesian."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["large_volume_orders"](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") == 2
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ref_integrity_full_outer_keys_vs_keys(spark):
    """Every relation audits via ONE full-outer join of the two DISTINCT
    key sets; the only SinglePartition exchanges are the 1-row final
    aggregates (one per relation)."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["ref_integrity_audit"](
        spark, "/root/testdata/sf0.001"))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    n_rel = len(se._FK_RELATIONS)
    assert plan.count("Exchange SinglePartition") == n_rel


def test_quantile_sketch_partitioned_windows(spark):
    """All cumulative-register windows partition by event_type — a
    partition-less window (Exchange SinglePartition) would serialize the
    sketch scan; the quantile-spec explode must not plan a join at all."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["events_value_quantile_sketch"](
        spark, "/root/testdata/sf0.001"))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chisq_broadcast_marginals(spark):
    """Row/column marginals attach by broadcast hash join; the single
    1-row N scalar is the only nested-loop (the broadcast-scalar attach
    pattern) and the only SinglePartition exchange (the global count)."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["events_type_dow_chisq"](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert plan.count("Exchange SinglePartition") <= 1
    assert "CartesianProduct" not in plan


def test_rollup_single_expand_broadcast_dims(spark):
    """ROLLUP plans ONE Expand over the pre-joined facts; all three
    dimension joins broadcast; one aggregate exchange total."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["region_nation_rollup"](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("Expand") == 1
    assert plan.count("BroadcastHashJoin") == 3
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_tpch_shapes_broadcast_dims_single_agg_exchange(spark):
    """The Q7/Q9/Q14 star-join classes: dimensions broadcast, ONE
    fact-side aggregate exchange, never a cartesian/nested-loop."""
    import __spark_entry__ as se

    for name, n_bhj in [
        ("nation_volume_shipping", 5),
        ("nation_profit", 3),
        ("promo_revenue_share", 1),
    ]:
        plan = _plan(se.queries()[name](spark, "/root/testdata/sf0.001"))
        assert plan.count("BroadcastHashJoin") == n_bhj, name
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "CartesianProduct" not in plan and \
            "BroadcastNestedLoopJoin" not in plan, name
        assert "Exchange SinglePartition" not in plan, name


def test_session8_tpch_completion_shapes(spark):
    """The six shapes that complete TPC-H 22/22 keep the star-join
    discipline: every dimension broadcasts, the fact shuffles at most
    once (aggregate exchange), no cartesian/nested-loop anywhere, and
    Q6 runs with ZERO joins and zero wide exchanges."""
    import __spark_entry__ as se

    sf = "/root/testdata/sf0.001"
    qs = se.queries()

    # Q6: pure filtered scan + global agg — no join, no hash exchange
    plan = _plan(qs["discount_revenue_delta"](spark, sf))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Exchange SinglePartition") == 1  # 1-row final agg

    # Q4: left-semi on the fact, broadcast not required but the order
    # side is quarter-pruned; rollup is one low-cardinality exchange
    plan = _plan(qs["order_priority_returns"](spark, sf))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # Q2/Q10/Q11/Q20: all dims broadcast; at most 2 hash exchanges
    # (fact aggregate + the small post-agg window/re-agg), no cartesian.
    # Q11's grand-total attach is the 1-row broadcast-scalar pattern,
    # which plans as a BNLJ with a single-row build side — constant
    # cost at any scale, so it is exempt from the BNLJ ban.
    for name in ("min_cost_supplier", "returned_item_customers",
                 "important_parts_value", "promo_part_suppliers",
                 "local_supplier_volume"):
        plan = _plan(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        if name != "important_parts_value":
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert plan.count("Exchange hashpartitioning") <= 2, name


def test_top_supplier_scalar_max_attach(spark):
    """Q15: the scalar max attaches without a nested-loop join (the
    equality filter turns the 1-row cross join into a hash join); the
    only SinglePartition exchange is the global-max 1-row aggregate."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["top_supplier_revenue"](
        spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_disjunctive_or_predicates_stay_below_one_join(spark):
    """Q19: the OR branches must evaluate on the joined rows of ONE
    broadcast join — never expand into per-branch joins or a cartesian."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["disjunctive_filter_revenue"](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") == 1
    assert "CartesianProduct" not in plan


def test_market_share_one_pass_no_second_join(spark):
    """Q8: numerator and denominator come from the SAME joined rows —
    one aggregate exchange on the year, no nested loops."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["nation_market_share"](
        spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_prefix_sum_shape(spark):
    """Sequence packing: the only SinglePartition exchange is the
    |buckets|-row offset window (never the corpus), the span fan-out is
    a Generate (explode), and no join beyond the broadcast offset
    attach."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["pack_training_sequences"](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("Generate") == 1
    assert plan.count("BroadcastHashJoin") == 1
    assert "CartesianProduct" not in plan


def test_pmi_collocations_reuses_corpus_subtrees(spark):
    """Session-9 collocation class: the top-k cut is a TakeOrdered (never a
    global sort), there is no cartesian pair join, and at runtime AQE
    reuses the unigram exchange/broadcast for the rt-side join and the
    corpus-total scalar — the corpus is not re-scanned per consumer."""
    import __spark_entry__ as se

    df = se.queries()["pmi_collocations"](spark, "/root/testdata/sf0.001")
    pre = _plan(df)
    assert "TakeOrderedAndProject" in pre
    assert "CartesianProduct" not in pre
    df.collect()
    final = _plan(df)
    assert final.count("ReusedExchange") >= 2


def test_heavy_hitters_two_exchanges_sketch_broadcast(spark):
    """Session-9 heavy-hitters class: exactly TWO hash exchanges (the MG
    candidate distinct + the confirmed recount) — the full vocabulary is
    never shuffled — with the candidate set and the 1-row total attached
    by broadcast."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["heavy_hitters"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("BroadcastExchange") == 2
    assert "CartesianProduct" not in plan


def test_bench_covers_every_registered_query():
    """Registry invariant: every queries() entry is benched (the md5-mode
    dedup twins are carried by their production xxhash64 bench variants),
    and every benched name resolves — a typo in BENCH_QUERIES fails here,
    not mid-bench."""
    import bench
    import __spark_entry__ as se

    q, b = set(se.queries()), set(bench.BENCH_QUERIES)
    assert b - q == {"minhash_near_dup", "simhash_near_dup"}
    assert q - b == {"minhash_near_dup_md5", "simhash_near_dup_md5"}
    # every registered query has an oracle twin (SQL or pinned golden):
    # a new queries() entry without one fails here, not at the driver.
    assert q - set(se.oracle_sql()) == set()


def test_cms_probe_broadcast_no_cartesian(spark):
    """Session-10 CMS class: the point-estimate probe joins the bounded
    register table by BROADCAST, never a cartesian/shuffle join; four
    hash exchanges total (per-source registers, merge, exact counts,
    estimate min)."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["doc_term_cms"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 4
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_kmv_single_fact_pass(spark):
    """Session-10 KMV class: the lazy signature checkpoint collapses the
    ~8 signature consumers onto ONE materialized fact pass — the final
    plan contains NO parquet scans (all inputs are the checkpointed
    k*n_types-row table) and no sort-merge join."""
    import __spark_entry__ as se

    df = se.queries()["events_audience_overlap"](
        spark, "/root/testdata/sf0.001"
    )
    df.collect()
    final = _plan(df)
    assert final.count("FileScan parquet") == 0
    assert "SortMergeJoin" not in final


def test_url_family_no_python_udf_single_agg_exchange(spark):
    """Session-11 URL classes: canonicalization must be pure native
    expressions fused into the scan (no Arrow/Python eval node anywhere),
    and the canonical-key aggregate is the only wide stage family — no
    join appears at all."""
    import __spark_entry__ as se

    for name in ("url_canonical_dedup", "domain_doc_stats"):
        plan = _plan(se.queries()[name](spark, "/root/testdata/sf0.001"))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "Join" not in plan
        assert "Exchange SinglePartition" not in plan


def test_crawl_frontier_window_is_domain_partitioned(spark):
    """The per-domain fetch queue must be a PARTITIONED window (domain
    keys), never a global-order window."""
    import __spark_entry__ as se

    plan = _plan(
        se.queries()["crawl_frontier_rate"](spark, "/root/testdata/sf0.001")
    )
    assert "row_number" in plan
    assert "Exchange SinglePartition" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bloom_probe_is_broadcast_only(spark):
    """Session-11 Bloom class: the k word-table probes and the exact
    verify must all be BroadcastHashJoin — the corpus side never
    shuffles for membership; the single hash exchange is the final
    per-doc hit count."""
    import __spark_entry__ as se

    plan = _plan(
        se.queries()["decontaminate_bloom"](spark, "/root/testdata/sf0.001")
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # 3 word probes + verify


def test_geo_pairs_no_cartesian_cell_keyed_join(spark):
    """Session-11 spatial class: the radius self-join must be an equi-join
    on the grid-cell key — never a cartesian/broadcast-nested-loop — with
    the exact distance predicate fused above it."""
    import __spark_entry__ as se

    plan = _plan(se.queries()["customer_geo_pairs"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_vocab_growth_has_no_single_partition_exchange(spark):
    """The Heaps-curve cumulative counts must come from checkpoint joins
    over the two-phase parallel ranks — never a corpus-length window or
    a SinglePartition exchange of the fact table (the |partitions|-row
    offset window inside global_row_numbers runs on the tiny table and
    localCheckpoints before this plan, so it cannot appear here)."""
    from mmkg_rag_spark.operators.relevance import vocab_growth

    docs = spark.createDataFrame(
        [(i, "a b c d", f"s{i % 3}") for i in range(40)],
        "doc_id long, text string, source string",
    )
    plan = _plan(vocab_growth(docs))
    assert plan.count("Exchange SinglePartition") == 0


def test_mutual_topk_has_no_cartesian_and_ranks_per_node(spark):
    from mmkg_rag_spark.operators.graph import mutual_topk_edges

    e = spark.createDataFrame(
        [(i, (i * 7) % 40, 1 + i % 5) for i in range(200)],
        "src long, dst long, w long",
    )
    plan = _plan(mutual_topk_edges(e, k=3))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "Exchange SinglePartition" not in plan


def test_cusum_windows_partition_by_key(spark):
    """All three Lindley windows must partition by key — a partition-less
    running window would funnel the daily table through one task."""
    from datetime import date

    from mmkg_rag_spark.operators.temporal import cusum_drift

    daily = spark.createDataFrame(
        [("a", date(2024, 1, 1 + i), i) for i in range(20)],
        "key string, day date, n long",
    )
    plan = _plan(cusum_drift(daily))
    assert "Exchange SinglePartition" not in plan


def test_negative_samples_tail_attach_is_broadcast(spark):
    """|tails| must attach as a 1-row broadcast and the positive filter
    as an equi anti-join — no nested-loop over the candidate set."""
    from mmkg_rag_spark.operators.graph import negative_edge_samples

    e = spark.createDataFrame(
        [(i % 10, 100 + (i * 3) % 30) for i in range(80)],
        "src long, dst long",
    )
    plan = _plan(negative_edge_samples(e, n_neg=2))
    assert "CartesianProduct" not in plan
    # the single BroadcastNestedLoopJoin allowed is the 1-row scalar attach
    assert plan.count("BroadcastNestedLoopJoin") <= 1
