"""Physical-plan guardrails (SURVEY §4): the properties that matter at
100 TB, asserted on the actual Catalyst output so de-optimizations fail
tests rather than production."""

from __future__ import annotations

from parquet_demo_spark.plans import (
    has_pushed_filters,
    physical_plan,
    scan_read_schema,
    uses_broadcast_join,
    uses_take_ordered,
)
from parquet_demo_spark.registry import all_queries

QUERIES = all_queries()


def test_q03_filters_pushed_to_scan(spark, sf_dir):
    # IN / BETWEEN predicates must reach the parquet reader
    df = QUERIES["q03_filter"].spark(spark, sf_dir)
    assert has_pushed_filters(df, "o_orderstatus", "o_totalprice")


def test_q02_column_pruning(spark, sf_dir):
    # 3 of 11 lineitem columns read — not the full row
    df = QUERIES["q02_projection"].spark(spark, sf_dir)
    schema = scan_read_schema(df)
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_extendedprice" not in schema and "l_comment" not in schema


def test_q05_broadcasts_dimension(spark, sf_dir):
    # part is dim-sized: the fact side must not shuffle
    df = QUERIES["q05_join_broadcast"].spark(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_q15_topk_uses_heap_not_global_sort(spark, sf_dir):
    df = QUERIES["q15_topk_global"].spark(spark, sf_dir)
    assert uses_take_ordered(df)


def test_q09_range_join_stays_equi_join(spark, sf_dir):
    # the interval predicate must be a residual filter on an equi-join,
    # never a nested-loop
    df = QUERIES["q09_join_range"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "NestedLoop" not in plan or "BroadcastNestedLoopJoin" not in plan


def test_q10_partial_aggregation(spark, sf_dir):
    # map-side combine: two HashAggregate phases around the exchange
    df = QUERIES["q10_agg_pricing_summary"].spark(spark, sf_dir)
    assert physical_plan(df).count("HashAggregate") >= 2


def test_q13_windowed_topk_prunes_before_shuffle(spark, sf_dir):
    # rn<=3 must plan a WindowGroupLimit: per-partition top-k heaps run
    # BEFORE the window shuffle, so only ~3 rows per group move
    plan = physical_plan(QUERIES["q13_window_topk_per_group"].spark(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_q31_sixway_join_broadcasts_all_dims(spark, sf_dir):
    # region/nation/supplier/customer all broadcast: the only shuffle
    # join allowed is lineitem⋈orders
    plan = physical_plan(QUERIES["q31_local_supplier_volume"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_runtime_bloom_filter_prefilters_selective_join(spark, sf_dir):
    """A selective filter on one join side injects a runtime bloom
    filter on the other side's scan: probe rows that can't match are
    dropped BEFORE the shuffle. At 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~matching slice —
    the engine-provided form of semi-join pushdown (only meaningful for
    shuffle joins; broadcast joins already skip non-matching rows)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from parquet_demo_spark.catalog import load

        li = load(spark, sf_dir, "lineitem")
        hot = load(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(hot, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = physical_plan(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q93_preagg_broadcasts_and_heaps(spark, sf_dir):
    # the HAVING pre-aggregate must broadcast (it's tiny) and the
    # top-20 must be a TakeOrdered heap, not a global sort
    df = QUERIES["q93_large_orders"].spark(spark, sf_dir)
    assert uses_broadcast_join(df)
    assert uses_take_ordered(df)


def test_q98_disjunction_pushes_single_side_filters(spark, sf_dir):
    # OR-of-ANDs: the brand/size envelope must reach the part scan and
    # the quantity envelope the lineitem scan (CNF extraction), with the
    # cross-side disjunction left as a join residual — never a
    # filter-after-cartesian shape.
    df = QUERIES["q98_disjunctive_pred"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert has_pushed_filters(df, "p_brand")
    assert has_pushed_filters(df, "l_quantity")
    assert "CartesianProduct" not in plan


def test_q99_not_in_plans_broadcast_anti_join(spark, sf_dir):
    df = QUERIES["q99_supplier_part_profile"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q96_banding_never_goes_all_pairs(spark, sf_dir):
    # candidate pairs must form via the (band, band_val) equi-join;
    # a nested-loop/cartesian means the banding degenerated
    df = QUERIES["q96_simhash_neardup"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q183_semdedup_pairs_stay_cell_blocked(spark, sf_dir):
    # the SemDeDup pair join must be an equi-join on the learned cell
    # (cid); a cartesian means the blocking degenerated to
    # corpus×corpus. The only nested-loop allowed is the K-row centroid
    # broadcast inside the two Lloyd assignment passes.
    df = QUERIES["q183_semantic_dedup"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_q184_rate_table_broadcasts_corpus_never_shuffles(spark, sf_dir):
    # the per-domain ppm rate table must broadcast back onto the
    # corpus; the acceptance filter is JVM-side — no corpus shuffle on
    # source, no cartesian
    df = QUERIES["q184_temperature_mixture"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert uses_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_q101_frequency_table_broadcasts(spark, sf_dir):
    # the vocabulary-sized surprisal table must broadcast back onto the
    # token stream — the corpus itself never shuffles
    df = QUERIES["q101_unigram_surprisal"].spark(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_q102_grouping_sets_single_expand_pass(spark, sf_dir):
    # both grouping sets come from ONE Expand over one scan — not a
    # union of two aggregations
    df = QUERIES["q102_grouping_sets"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Expand" in plan
    assert "Union" not in plan  # not a union of two aggregations


def test_q96_fingerprint_pipeline_computes_once(spark, sf_dir):
    # the band self-join's two sides canonicalize to the same shuffle;
    # AQE must materialize the fingerprint pipeline ONCE and reuse the
    # exchange for the other side (visible only in the final adaptive
    # plan, so execute first)
    import contextlib
    import io

    df = QUERIES["q96_simhash_neardup"].spark(spark, sf_dir)
    # collect (not a sink write): the finalized adaptive plan is only
    # attached to THIS DataFrame's own execution
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "ReusedExchange" in buf.getvalue()


def test_q115_all_predicates_pushed(spark, sf_dir):
    # Q6 is the scan-efficiency canary: date band, discount band, and
    # quantity cap must ALL reach the parquet reader
    df = QUERIES["q115_forecast_revenue"].spark(spark, sf_dir)
    assert has_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity")


def test_q116_topk_is_heap(spark, sf_dir):
    df = QUERIES["q116_returned_revenue"].spark(spark, sf_dir)
    assert uses_take_ordered(df)
    assert uses_broadcast_join(df)


def test_q117_preagg_computes_once(spark, sf_dir):
    # the per-supplier revenue aggregation feeds both the MAX threshold
    # and the ranking join; the explicit isnotnull(l_suppkey) filter
    # makes the branches canonical so AQE reuses the materialized stage
    import contextlib
    import io

    df = QUERIES["q117_top_supplier"].spark(spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "ReusedExchange" in buf.getvalue()


def test_q121_scoring_table_broadcasts(spark, sf_dir):
    # the distinct-bigram surprisal table must broadcast back onto the
    # bigram stream — the corpus itself never shuffles for the scoring
    df = QUERIES["q121_bigram_surprisal"].spark(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_aqe_skew_join_applied(spark):
    """VERDICT r3 #7: join skew is AQE's job (salting is for agg skew —
    see operators/skew.py). The finalized adaptive plan over a
    90%-one-key join must carry the OptimizeSkewedJoin marker
    SortMergeJoin(skew=true)."""
    import contextlib
    import io

    from parquet_demo_spark.operators.skew import (
        AQE_SKEW_DEMO_CONFS,
        skewed_join_demo,
    )

    old = {k: spark.conf.get(k, None) for k in AQE_SKEW_DEMO_CONFS}
    for k, v in AQE_SKEW_DEMO_CONFS.items():
        spark.conf.set(k, v)
    try:
        agg = skewed_join_demo(spark)
        [row] = agg.collect()
        # the join result itself stays correct under the runtime split
        assert row.n == 450_000 * 200 + 50_000 * 200
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            agg.explain("formatted")
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q124_bucketed_join_no_shuffle(spark, sf_dir):
    """Bucket co-location must remove BOTH join-side exchanges: the SMJ
    reads SelectedBucketsCount scans directly; the only Exchange left in
    the plan is the groupBy's, never a hashpartitioning on a join key."""
    df = QUERIES["q124_bucketed_join"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan


def test_q128_scalar_total_broadcasts(spark, sf_dir):
    # the HAVING-vs-own-total compare must be a broadcast of the 1-row
    # scalar aggregate onto the per-part values — never a shuffle or a
    # driver-side collect of the total
    df = QUERIES["q128_important_supply_value"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q129_blacklist_is_broadcast_anti(spark, sf_dir):
    df = QUERIES["q129_supplier_part_relationship"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q131_single_fact_exchange_and_heap(spark, sf_dir):
    # the EXISTS/NOT-EXISTS collapse must reuse ONE hash(l_orderkey)
    # exchange for both the per-(order, supplier) aggregate and the
    # per-order window, and cap the result with a top-25 heap
    df = QUERIES["q131_waiting_supplier_orders"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert uses_take_ordered(df)
    # formatted mode lists each exchange's partitioning on an Arguments
    # line; exactly one may hash the fact key
    fact_exchanges = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning(l_orderkey" in ln and "Arguments" in ln
    ]
    assert len(fact_exchanges) == 1, fact_exchanges


def test_ranked_retrieval_topk_is_heap_not_global_window(spark, sf_dir):
    """q146/q152: the final ranked cut must be TakeOrderedAndProject
    (per-partition heaps + a k-row driver merge), never an
    unpartitioned Window funneling every scored doc through one task
    (the round-9 `weak` shape)."""
    from parquet_demo_spark.plans import single_task_window_count

    for name in ("q146_ranked_search_tfidf", "q152_ranked_search_bm25"):
        df = QUERIES[name].spark(spark, sf_dir)
        assert uses_take_ordered(df), name
        assert single_task_window_count(df) == 0, name


def test_q104_vocab_cut_is_heap_window_is_bounded(spark, sf_dir):
    """q104: the top-1000 vocabulary cut must be a TakeOrdered heap;
    the only global window left ranks the BOUNDED 1000-row survivor
    set (the documented exception — constant-size input at any
    corpus scale)."""
    from parquet_demo_spark.plans import single_task_window_count

    df = QUERIES["q104_zipf_slope"].spark(spark, sf_dir)
    assert uses_take_ordered(df)
    assert single_task_window_count(df) == 1


def test_prefix_scan_queries_have_no_single_task_window(spark, sf_dir):
    """q90/q91/q173/q175: ntile / running-sum assignment must run as
    the distributed two-pass prefix scan — no data-sized unpartitioned
    Window (and no 4-partition per-group funnel) anywhere in the plan.
    The grouped mixtures allow zero; the ungrouped q90/q91 allow
    exactly one — range_prefix's offsets window, whose input is the
    per-partition totals (bounded by partition count, not data)."""
    from parquet_demo_spark.plans import single_task_window_count

    for name, allowed in (
        ("q90_length_batching", 1),
        # q91's packed branch feeds both the bins aggregate and the
        # join, so the SAME bounded totals window appears twice in the
        # plan tree (deduped at runtime by exchange/stage reuse)
        ("q91_sequence_packing", 2),
        ("q173_corpus_mixture", 0),
        ("q175_epoch_mixture_upsampling", 0),
    ):
        df = QUERIES[name].spark(spark, sf_dir)
        assert single_task_window_count(df) == allowed, name


def test_q178_reservoir_is_window_group_limit(spark, sf_dir):
    """q178: the exact-k per-stratum cut must plan a WindowGroupLimit
    (map-side per-group heaps BEFORE the lang shuffle) and no
    unpartitioned window — the property that keeps an exact-quota
    sample linear when the strata are 5 hot keys over 100 TB."""
    from parquet_demo_spark.plans import single_task_window_count

    df = QUERIES["q178_group_reservoir"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert single_task_window_count(df) == 0


def test_q180_vocab_cut_is_heap_probe_is_broadcast(spark, sf_dir):
    """q180: the top-300 vocabulary cut must be a TakeOrdered heap and
    the membership probe a broadcast join — the holdout token stream
    never shuffles on token."""
    df = QUERIES["q180_oov_rate"].spark(spark, sf_dir)
    assert uses_take_ordered(df)
    assert uses_broadcast_join(df)


def test_q187_weights_broadcast_cut_is_heap(spark, sf_dir):
    """q187: the bucket-weight table must BROADCAST onto the
    (doc, bucket) tallies and the selection cut must be a TakeOrdered
    heap — the corpus never shuffles on bucket and never global-sorts."""
    from parquet_demo_spark.plans import single_task_window_count

    df = QUERIES["q187_importance_selection"].spark(spark, sf_dir)
    assert uses_take_ordered(df)
    assert uses_broadcast_join(df)
    assert single_task_window_count(df) == 0


def test_q188_query_vector_broadcast_cut_is_heap(spark, sf_dir):
    """q188: the query vector and its norm are metadata-sized and must
    BROADCAST; the ranked cut must be a TakeOrdered heap; no
    chunk x chunk join shape (every join in the plan is broadcast)."""
    from parquet_demo_spark.plans import single_task_window_count

    df = QUERIES["q188_hashed_tf_retrieval"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert uses_take_ordered(df)
    assert uses_broadcast_join(df)
    assert single_task_window_count(df) == 0
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q189_percentiles_run_on_histogram_not_rows(spark, sf_dir):
    """q189: the cumulative percentile window must run over the
    (lang, n) HISTOGRAM (partitioned by lang — never a single-task
    window), and the 5-row threshold table must broadcast back onto
    the per-doc clip — the row-level data shuffles only as
    partial-agg'd (lang, n) tallies."""
    from parquet_demo_spark.plans import single_task_window_count

    df = QUERIES["q189_winsorized_stats"].spark(spark, sf_dir)
    assert uses_broadcast_join(df)
    assert single_task_window_count(df) == 0
    # map-side combine on the histogram rollup
    assert physical_plan(df).count("HashAggregate") >= 2


def test_q190_pair_explode_runs_on_vocab_cut_is_heap(spark, sf_dir):
    """q190: the merge-candidate cut must be a TakeOrdered heap, and
    both rollups (corpus->vocab, vocab->pairs) must partial-aggregate
    map-side — the corpus-sized stage is exactly one token rollup."""
    df = QUERIES["q190_bpe_merge_mining"].spark(spark, sf_dir)
    assert uses_take_ordered(df)
    assert physical_plan(df).count("HashAggregate") >= 4


def test_q191_profile_cut_is_group_limit_probe_is_broadcast(spark, sf_dir):
    """q191: the per-language profile cut must plan a WindowGroupLimit
    (map tasks keep <=k trigrams per language before the shuffle), the
    profile must BROADCAST onto the holdout trigram stream, and the
    per-doc argmax window must be doc-partitioned — zero single-task
    windows."""
    from parquet_demo_spark.plans import single_task_window_count

    df = QUERIES["q191_charngram_langid"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert uses_broadcast_join(df)
    assert single_task_window_count(df) == 0


def test_q197_segmentation_is_map_side(spark, sf_dir):
    """q197: the BPE merge-chain segmentation folds INSIDE each
    document's row (transform + aggregate over the token array) — no
    explode, no per-token shuffle; the only Exchange in the plan is
    the final per-language partial agg. At 100 TB the corpus is
    scanned once and never re-shuffled for segmentation."""
    df = QUERIES["q197_apply_tokenizer"].spark(spark, sf_dir)
    plan = physical_plan(df)
    # one hash exchange (the lang agg) + the output sort's range
    # exchange — nothing else moves data
    assert plan.count("hashpartitioning") == 1, plan
    assert plan.count("Exchange (") == 2, plan  # tree nodes, once each
    # map-side combine before that single hash exchange
    assert plan.count("HashAggregate") >= 2


def test_q196_per_step_work_is_vocab_sized(spark, sf_dir):
    """q196's pair count per step runs over the DISTINCT-token
    vocabulary: the corpus-sized token explode partial-aggregates
    before its exchange (map-side combine), and the per-step winner
    is a 1-row limit, not a full sort materialization."""
    from parquet_demo_spark.operators.text import _q196_fold_spark
    from pyspark.sql import functions as F

    # the fold expr itself must be greedy left-to-right: 'aaaa' with
    # merge (a,a) segments as [aa, aa], never [aa, a, a] or cascades
    seg = (
        spark.range(1)
        .select(F.lit("|a|a|a|a").alias("seg"))
        .select(F.expr(_q196_fold_spark("a", "a")).alias("seg"))
        .collect()[0][0]
    )
    assert seg == "|aa|aa", seg
    # and a merged symbol never cascade-merges with the next element
    seg2 = (
        spark.range(1)
        .select(F.lit("|a|b|b").alias("seg"))
        .select(F.expr(_q196_fold_spark("a", "b")).alias("seg"))
        .collect()[0][0]
    )
    assert seg2 == "|ab|b", seg2


def test_q200_apply_leg_is_map_side_and_train_loop_guarded(
    spark, sf_dir
):
    """q200 (round 13): the apply leg under MINED merges keeps q197's
    map-side shape — one hash exchange (the lang agg), segmentation
    folded per row — and the training loop's driver-collect-per-step
    pattern is capped (a 10k-merge call must fail loudly, not
    serialize 10k jobs through the driver)."""
    import pytest

    from parquet_demo_spark.operators.text import (
        _Q196_MAX_STEPS,
        _q196_mine,
        _q200_read,
    )

    df = _q200_read(spark, sf_dir, [("t", "h"), ("th", "e")])
    plan = physical_plan(df)
    assert plan.count("hashpartitioning") == 1, plan
    assert plan.count("Exchange (") == 2, plan
    with pytest.raises(ValueError, match="per merge step"):
        _q196_mine(spark, sf_dir, _Q196_MAX_STEPS + 1)


def test_dv_anti_join_broadcast_is_sized_by_the_session(spark, tmp_path):
    """A deletion-vector (DV) anti-join carries no broadcast hint: a
    small DV plans a broadcast from its listed file size, and under a
    threshold below that size no BroadcastExchange sits over the DV
    scan, with the same rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_demo_spark.sources.merge_store import anti_join_dv

    dv_dir = tmp_path / "dv"
    dv_dir.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 3, 5], pa.int64())}),
        str(dv_dir / "part-0.parquet"),
    )

    def kept():
        df = anti_join_dv(
            spark, spark.range(8).withColumnRenamed("id", "k"), ["k"],
            [str(dv_dir)], "k bigint",
        )
        return physical_plan(df), sorted(r.k for r in df.collect())

    plan, rows = kept()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        low_plan, low_rows = kept()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastExchange" not in low_plan, low_plan
    assert "SortMergeJoin" in low_plan, low_plan
    assert rows == low_rows == [0, 2, 4, 6, 7]
