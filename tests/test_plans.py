"""Physical-plan audits: the 100 TB design assertions.

Correctness tests prove the small-SF answer; these prove the *plan*
is the one that survives a 1000-executor scale-up — broadcast where a
dimension is small, sort-merge where both sides are facts, filters
and projections pushed into the parquet scan, partial (map-side)
aggregation before every shuffle, top-k as TakeOrderedAndProject
(never a global sort), and no cartesian products hiding inside the
LSH/dedup joins.

The reference had exactly one physical strategy (partition files →
pipe exe → per-key append, mj_worker.cpp:287-387); everything here is
what Catalyst buys us on top, pinned down so a regression is loud.
"""

from __future__ import annotations

import re

import pytest

from distributed_system_spark import scratch
from distributed_system_spark.queries import load_all

REGISTRY = load_all()


def plan_of(
    spark, sf_dir: str, name: str, expand_checkpoints: bool = False
) -> str:
    """Final physical plan, post-execution: AQE re-plans at runtime, so
    the plan that matters is the `== Final Plan ==` section after an
    action on this exact DataFrame. Whole-stage codegen spans appear
    as `*(n)` operator prefixes.

    ``expand_checkpoints=True`` no-ops ``DataFrame.localCheckpoint``
    while the query builds, so subtrees a query materializes mid-plan
    (which execute as their own jobs and appear downstream only as
    ``Scan ExistingRDD``) stay VISIBLE to the plan assertions — the
    scale contracts (bucketed windows, equi-joins, no cartesians) are
    properties of those subtrees too, and checkpointing must not be a
    way to hide a regression from this file.  Default off: several
    tests assert the checkpointed execution shape itself (e.g. the
    markov power loop's bounded exchange count relies on the edges
    checkpoint)."""
    # Patch the CONCRETE class: in Spark 4 instances are
    # pyspark.sql.classic.dataframe.DataFrame, whose localCheckpoint
    # OVERRIDES the pyspark.sql.DataFrame base — patching only the
    # base silently leaves checkpoints live (caught in r13: the
    # "expanded" eval_set_builder plan still showed ExistingRDD).
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame

    if expand_checkpoints:
        orig = DataFrame.localCheckpoint
        DataFrame.localCheckpoint = (  # type: ignore[method-assign]
            lambda self, eager=True: self
        )
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
        finally:
            DataFrame.localCheckpoint = orig  # type: ignore[method-assign]
    else:
        df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    if "AdaptiveSparkPlan" in full:  # trivial plans skip AQE entirely
        assert "isFinalPlan=true" in full, full
    return full.split("== Initial Plan ==")[0]


def test_dim_joins_broadcast(spark, sf_dir):
    """join_broadcast: all three dimension joins must be broadcast —
    a 100 TB orders scan must never shuffle for MB-sized dims."""
    plan = plan_of(spark, sf_dir, "join_broadcast")
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_fact_fact_is_sort_merge(spark, sf_dir):
    """join_sortmerge: lineitem ⋈ orders stays SMJ (hinted) even when
    tiny-SF sizes would tempt the planner into a broadcast that
    would OOM at real scale."""
    plan = plan_of(spark, sf_dir, "join_sortmerge")
    assert "SortMergeJoin" in plan, plan


def test_scan_pushdown_and_pruning(spark, sf_dir):
    """proj_filter: the range predicate reaches the parquet reader as
    PushedFilters and the scan schema is pruned to the selected
    columns (a scan reading all 16 lineitem columns for a 4-column
    projection is wrong at any scale)."""
    plan = plan_of(spark, sf_dir, "proj_filter")
    assert "PushedFilters: [" in plan, plan
    scan = plan[plan.index("PushedFilters") :]
    assert "IsNotNull" in scan or "GreaterThan" in scan, scan
    # column pruning: lineitem has 16 columns; the pushed ReadSchema
    # must not contain unprojected ones like l_comment / l_shipmode.
    read = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_comment" not in read and "l_shipmode" not in read, read


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """wordcount + q1_pricing: hash aggregation must run
    partial→shuffle→final (B3's map-side combine, wc_maple.cpp:24-43,
    done by Catalyst automatically). Two HashAggregates with one
    exchange between them."""
    for name in ("wordcount", "q1_pricing"):
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("HashAggregate") >= 2, (name, plan)
        first = plan.index("HashAggregate")
        assert "Exchange" in plan[first:], (name, plan)


def test_topk_is_take_ordered(spark, sf_dir):
    """orderby_limit: ORDER BY + LIMIT must plan as
    TakeOrderedAndProject (per-partition heap + merge), never a
    global sort of the full table."""
    plan = plan_of(spark, sf_dir, "orderby_limit")
    assert "TakeOrderedAndProject" in plan, plan


def test_no_cartesian_in_lsh_dedup(spark, sf_dir):
    """The banded-LSH candidate joins must be equi-joins on
    (band, signature) — an accidental cross join is the all-pairs
    O(n^2) failure mode the LSH design exists to avoid."""
    for name in (
        "dedup_minhash_lsh",
        "dedup_minhash_ctrl",
        "ann_lsh_topk",
        "ann_banded_topk",
        "dedup_ngram_jaccard",
        "embedding_neardup",
        "simhash_neardup",
        "lsh_neardup_prod",
        "lsh_neardup_adaptive",
        "dedup_incremental_capped",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_capped_candidates_hot_buckets_broadcast_anti(spark, sf_dir):
    """dedup_incremental_capped: the hot-bucket removal must be a
    BROADCAST anti-join (the hot list is a partial-aggregated
    groupBy's tiny output), never a shuffled anti-join of the full
    band table against itself."""
    plan = plan_of(spark, sf_dir, "dedup_incremental_capped")
    assert "LeftAnti, BuildRight" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_semi_anti_planned_as_such(spark, sf_dir):
    """Semi/anti joins must stay semi/anti in the physical plan (no
    materialized inner join + distinct)."""
    assert "LeftSemi" in plan_of(spark, sf_dir, "join_semi")
    assert "LeftAnti" in plan_of(spark, sf_dir, "join_anti")


def test_window_partitions_by_group_key(spark, sf_dir):
    """topk_per_group: exactly one window exchange, partitioned by the
    group key — the rank never triggers a single-partition global
    sort (the classic unpartitioned-Window scale bug)."""
    plan = plan_of(spark, sf_dir, "topk_per_group")
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_filter_pushed_through_join(spark, sf_dir):
    """join_sortmerge: the o_orderdate filter must appear as a pushed
    filter on the orders scan, not as a post-join Filter."""
    plan = plan_of(spark, sf_dir, "join_sortmerge")
    idx = plan.index("o_orderdate")
    assert "PushedFilters" in plan, plan
    # the orders-side scan advertises the date predicate
    assert any(
        "o_orderdate" in seg.splitlines()[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ), plan


def test_q6_pure_scan_agg(spark, sf_dir):
    """q6_revenue_forecast: every predicate reaches the parquet scan
    and the only shuffle is the 1-row final aggregate — the shape
    that makes Q6 IO-bound (the correct bound) at 100 TB."""
    plan = plan_of(spark, sf_dir, "q6_revenue_forecast")
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed
    assert plan.count("HashAggregate") >= 2, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q21_correlated_exists_stays_equi(spark, sf_dir):
    """q21_waiting_supplier: the EXISTS / NOT-EXISTS correlations are
    equi on l_orderkey with residual predicates — they must plan as
    hash/sort-merge semi+anti joins, never a nested-loop or cartesian
    (the O(n^2) failure mode of correlated subqueries)."""
    plan = plan_of(spark, sf_dir, "q21_waiting_supplier")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_q2_window_min_partitioned_by_part(spark, sf_dir):
    """q2_min_cost_supplier: the correlated-MIN window partitions by
    p_partkey — an unpartitioned window would serialize the table
    through one task."""
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan.split("TakeOrderedAndProject")[-1]
    assert "TakeOrderedAndProject" in plan, plan


def test_scalar_subquery_broadcast_not_global_window(spark, sf_dir):
    """q11/q15/q22: the scalar threshold must arrive via a broadcast
    join of a 1-row aggregate, never a window over a global (empty)
    partition that would single-partition the fact table."""
    for name in ("q11_important_parts", "q15_top_supplier",
                 "q22_global_sales"):
        plan = plan_of(spark, sf_dir, name)
        assert "Window" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in (
            plan
        ), (name, plan)


def test_fingerprint_is_shuffle_free(spark, sf_dir):
    """text_fingerprint: the per-document fingerprint is pure row-local
    array math — no DATA-DEPENDENT exchange anywhere (the naive
    explode+groupBy formulation shuffles every shingle hash).  The one
    exchange allowed is widen_if_narrow's round-robin layout repair,
    which only exists because the test file is single-row-group (it is
    a no-op on real layouts — pinned by test_widen_if_narrow below)."""
    plan = plan_of(spark, sf_dir, "text_fingerprint")
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan
    # Round-robin layout repair is the ONLY exchange this test admits:
    # without this pin a BroadcastExchange would slip through the three
    # partitioning assertions above.
    assert "BroadcastExchange" not in plan, plan


def test_widen_if_narrow_semantics(spark, sf_dir, monkeypatch):
    """widen_if_narrow fires ONLY when the input is BOTH narrower than
    cores AND worth a slot's floor of bytes: a tiny single-row-group
    scan is returned untouched (exchange would cost more than the map
    stage), forcing the floor to 0 widens it to defaultParallelism,
    and an already-wide frame is returned as the SAME object — the
    no-ops that make it safe to leave in 100 TB plans.  Unknown input
    size widens a narrow frame only.  The byte floor is tested first:
    a frame under it comes back without its RDD ever being planned
    (``DataFrame.rdd`` is a cached_property, so a built RDD would
    show in the instance dict)."""
    from distributed_system_spark.sources import tables

    par = spark.sparkContext.defaultParallelism
    fresh = tables.load_table(spark, sf_dir, "documents")
    # sf0.001 documents is ~KBs: under every floor -> untouched, unplanned
    assert tables.widen_if_narrow(fresh) is fresh
    assert "rdd" not in fresh.__dict__

    narrow = tables.load_table(spark, sf_dir, "documents")
    assert narrow.rdd.getNumPartitions() < par  # single row group
    wide = narrow.repartition(par)
    # (frame, min_slot_bytes) -> widened?  Every cell of narrow/wide x
    # below/above floor, then both layouts at unknown size.
    for df, floor, widens in [
        (narrow, tables.WIDEN_SLOT_BYTES_DEFAULT, False),
        (narrow, 0, True),
        (wide, tables.WIDEN_SLOT_BYTES_DEFAULT, False),
        (wide, 0, False),
    ]:
        out = tables.widen_if_narrow(df, min_slot_bytes=floor)
        if widens:
            assert out.rdd.getNumPartitions() == par
        else:
            assert out is df
    monkeypatch.setattr(tables, "_input_bytes", lambda df: None)
    assert tables.widen_if_narrow(narrow).rdd.getNumPartitions() == par
    assert tables.widen_if_narrow(wide) is wide


def test_sessionize_windows_partition_by_user(spark, sf_dir):
    """sessionize_events: both windows and the final aggregate hash on
    user_id — a single shuffle, never an unpartitioned window."""
    plan = plan_of(spark, sf_dir, "sessionize_events")
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_skew_report_is_topk(spark, sf_dir):
    """skew_report: the heavy-key ranking must be a top-k heap
    (TakeOrderedAndProject) over the grouped counts, not a global
    sort of every distinct key."""
    plan = plan_of(spark, sf_dir, "skew_report")
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize("name", ["wordcount", "join_broadcast", "q1_pricing"])
def test_whole_stage_codegen_active(spark, sf_dir, name):
    """Hot relational paths must run inside whole-stage-codegen spans
    (`*(n)` operator prefixes) — falling out of codegen (e.g. via a
    stray Python UDF) would cost an order of magnitude at 100 TB."""
    plan = plan_of(spark, sf_dir, name)
    assert "*(" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """The session's AQE skew-join insurance must actually fire: a
    join where 99% of rows share one key gets its hot partition split
    at runtime (`SortMergeJoin(skew=true)` + a skewed AQEShuffleRead)
    instead of serializing through one straggler task — the mechanism
    that, with salting (`join_skew_salted`), handles skewed keys at
    100 TB. Thresholds are lowered to make a test-sized shuffle
    trip the same code path."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "10KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        import pyspark.sql.functions as F

        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(500_000).select(
            F.when(F.col("id") % 100 < 99, 7)
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("name")
        )
        j = left.join(right, "k").groupBy("name").agg(
            F.count(F.lit(1)).alias("n")
        )
        rows = j.collect()
        # 99% of rows land on key 7; of the 5000 pass-through ids only
        # those < 1000 (99, 199, ..., 999) match the dimension
        assert rows[0]["n"] == 495_000 + 10
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_merge_upsert_single_shuffle_join(spark, sf_dir):
    """merge_upsert: MERGE-INTO must plan as one equi full-outer join
    on the merge key — no nested-loop, no cartesian, no repeated scan
    of the base table."""
    plan = plan_of(spark, sf_dir, "merge_upsert")
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_point_in_time_join_stays_hash_join(spark, sf_dir):
    """The temporal interval join must equi-join on the entity key
    with the range predicates as join-condition filters — never a
    BroadcastNestedLoopJoin/CartesianProduct over intervals."""
    plan = plan_of(spark, sf_dir, "join_point_in_time")
    assert "HashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DPP: joining a partitioned fact table to a FILTERED dim must
    prune fact partitions at runtime via a dynamic pruning subquery —
    at 100 TB this is the difference between scanning 3 partitions
    and scanning 3,000.  (Static pruning can't help: the partition
    keys come out of the dim filter, known only at run time.)"""
    import pyspark.sql.functions as F

    fact = (
        spark.range(10_000)
        .withColumn("part", (F.col("id") % 20).cast("int"))
        .withColumn("v", F.col("id") * 2)
    )
    fact_path = str(tmp_path / "fact")
    fact.write.partitionBy("part").parquet(fact_path)
    dim = spark.createDataFrame(
        [(p, "keep" if p < 3 else "drop") for p in range(20)],
        "part int, tag string",
    )
    dim_path = str(tmp_path / "dim")
    dim.write.parquet(dim_path)

    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
                   "true")
    f = spark.read.parquet(fact_path)
    d = spark.read.parquet(dim_path).filter(F.col("tag") == "keep")
    joined = f.join(d, "part").groupBy("part").count()
    rows = {r["part"]: r["count"] for r in joined.collect()}
    assert rows == {0: 500, 1: 500, 2: 500}
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_heavy_hitters_semi_join_prunes_before_aggregation(spark, sf_dir):
    """freq_heavy_hitters: the exact-count pass must reach the token
    rows through a broadcast LEFT SEMI join against the sketch
    candidates (pruning before the aggregation shuffle) and never a
    cartesian."""
    plan = plan_of(spark, sf_dir, "freq_heavy_hitters")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_dedup_no_cartesian(spark, sf_dir):
    """dedup_incremental: increment-vs-index candidates stay an
    equi-join on band signatures; the admit step is a left-anti join."""
    plan = plan_of(spark, sf_dir, "dedup_incremental")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan
    # the ctrl twin (the honest scale measurement): same discipline,
    # and the increment filter must land before verification.
    plan = plan_of(spark, sf_dir, "dedup_incremental_ctrl")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_per_row_text_ops_are_shuffle_free(spark, sf_dir):
    """doc_model_score and redact_pii are pure per-row maps: one scan,
    no Exchange anywhere in the plan — at 100 TB these must stream
    through executors without a single shuffle."""
    for name in ("doc_model_score", "redact_pii"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange" not in plan, (name, plan)


def test_boilerplate_keep_drop_join_is_broadcast(spark, sf_dir):
    """text_remove_boilerplate: the chunk→boilerplate membership join
    must broadcast the (tiny, heavy-hitters-only) boilerplate table,
    never shuffle the corpus-sized chunk stream for it; and nothing in
    the pipeline may fall into a cartesian."""
    plan = plan_of(spark, sf_dir, "text_remove_boilerplate")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_topk_take_ordered_and_broadcast_scoring(spark, sf_dir):
    """vocab_oov_rate: the vocab top-K must plan as
    TakeOrderedAndProject (per-partition top-K + K-row merge, never a
    global sort) and the scoring join must broadcast the K-row vocab."""
    plan = plan_of(spark, sf_dir, "vocab_oov_rate")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_semdedup_pair_search_is_cluster_equi_join(spark, sf_dir):
    """semdedup_pairs: the within-cluster pair search must plan as an
    equi-join on the cluster id — never a cartesian / nested-loop over
    the corpus (the entire point of partitioning before comparing).

    Shape: the ASSIGNMENT is one Arrow-batched MapInPandas over the
    corpus (hyperplane weight matrix in the closure — each vector
    crosses the boundary once), the narrow (vec_id, cluster) result
    joins back by key, and the PAIR SEARCH is a FlatMapGroupsInPandas
    grouped by the cluster id — one hash exchange on cluster,
    per-cell numpy gram, never a corpus-vs-corpus product."""
    plan = plan_of(spark, sf_dir, "semdedup_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas assign_batches" in plan, plan
    assert re.search(r"FlatMapGroupsInPandas \[cluster", plan), plan
    assert re.search(r"Exchange hashpartitioning\(cluster", plan), plan


def test_bm25_broadcasts_stats_and_takes_ordered(spark, sf_dir):
    """text_bm25_topk single-pass shape (r13): per-doc (dl, tf_0..4)
    rows come from ONE tokenize + groupBy(doc_id) (map-side partial
    agg — the exchange carries ~n_docs narrow rows, not the token
    stream), the 1-row stats/df aggregate rides a broadcast
    nested-loop cross join (1-row build side — bounded), the top-20
    is TakeOrderedAndProject — never a global sort — and the old
    (doc_id, term) hash joins are gone entirely."""
    plan = plan_of(spark, sf_dir, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert re.search(
        r"BroadcastNestedLoopJoin (Cross BuildRight|BuildRight, Cross)",
        plan,
    ), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_token_ids_vocab_broadcasts(spark, sf_dir):
    """text_token_ids: the frequency-ranked vocab (|V| rows) joins
    broadcast back to the exploded token stream; the only sort-merge
    or shuffled join allowed is none."""
    plan = plan_of(spark, sf_dir, "text_token_ids")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bloom_prune_filters_before_broadcast_join(spark, sf_dir):
    """join_bloom_prune: the Bloom membership UDF must run as a filter
    BEFORE the broadcast semi-join (that ordering is the whole point:
    pruned rows never reach the join), and the exact join must be a
    broadcast, never a shuffle."""
    plan = plan_of(spark, sf_dir, "join_bloom_prune")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # The python-UDF eval (ArrowEvalPython) sits below the join in the
    # plan string (plans print top-down: join appears first).
    assert "ArrowEvalPython" in plan, plan
    assert plan.index("BroadcastHashJoin") < plan.index(
        "ArrowEvalPython"
    ), plan


def test_lm_bigram_counts_broadcast(spark, sf_dir):
    """text_lm_bigram_nll: corpus bigram and head-count tables are
    vocabulary-bounded and must broadcast back onto the per-doc
    stream."""
    plan = plan_of(spark, sf_dir, "text_lm_bigram_nll")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_rfm_thresholds_broadcast_not_windowed(spark, sf_dir):
    """rfm_segments: quintile scoring must come from a broadcast 1-row
    threshold aggregate — never a global ntile/row_number window over
    all customers (Window/Sort over the full customer set would
    single-partition at scale)."""
    plan = plan_of(spark, sf_dir, "rfm_segments")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan, plan


def test_basket_lift_takes_ordered_and_broadcasts_supports(spark, sf_dir):
    """basket_lift_pairs: per-part supports and the order count join
    broadcast; the top-20 is TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "basket_lift_pairs")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_pq_adc_join_is_equi_join_on_codes(spark, sf_dir):
    """ann_pq_topk: the ADC scoring join must be an equi-join of the
    corpus code table against the broadcast distance table on
    (m, cid) — full vectors must never meet candidates at query time
    (that would defeat the 128x index compression).  The only
    nested-loop joins allowed are the broadcast 4-row subspace
    explode and the broadcast codebook."""
    plan = plan_of(spark, sf_dir, "ann_pq_topk")
    assert "CartesianProduct" not in plan, plan


def test_substring_span_join_is_hash_on_md5(spark, sf_dir):
    """dedup_substring_spans: the span join-back must be a shuffle or
    broadcast HASH join on span_md5 — never nested-loop."""
    plan = plan_of(spark, sf_dir, "dedup_substring_spans")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_interval_overlap_is_equi_join_on_user(spark, sf_dir):
    """join_interval_overlap: the overlap predicate must ride a hash
    equi-join on user_id as a residual condition — a standalone
    theta-join (BroadcastNestedLoopJoin/CartesianProduct) is the
    quadratic interval-join trap."""
    plan = plan_of(spark, sf_dir, "join_interval_overlap")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_orc_scan_prunes_partitions(spark, sf_dir):
    """orc_partitioned_scan: the o_orderstatus = 'F' predicate must
    land in the ORC scan's PartitionFilters (directory pruning), not
    as a post-scan row filter over all three status partitions."""
    plan = plan_of(spark, sf_dir, "orc_partitioned_scan")
    assert "orc" in plan.lower(), plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderstatus" in m.group(1), plan


def test_corr_matrix_is_single_scan_aggregate(spark, sf_dir):
    """corr_matrix: all 15 sufficient statistics reduce in ONE
    partial+final aggregate over ONE lineitem scan — a correlation
    matrix that re-scans per pair is wrong at any scale."""
    plan = plan_of(spark, sf_dir, "corr_matrix")
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_" in plan or "partial" in plan.lower(), plan


def test_ri_orphan_audit_broadcasts_dim_keys_one_fact_scan(spark, sf_dir):
    """ri_orphan_audit: the three lineitem FK edges audit in one fact
    scan; part/supplier key columns broadcast (forced), and no edge
    adds a second lineitem scan."""
    plan = plan_of(spark, sf_dir, "ri_orphan_audit")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # lineitem scanned once, orders twice (parent-key side + child
    # side), customer/part/supplier once each: 6 scans total proves
    # no per-edge fact re-scan (3 edges x 1 lineitem scan would
    # push this to 8).
    assert plan.count("Scan parquet") <= 6, plan
    assert "CartesianProduct" not in plan


def test_stratified_split_rank_is_lang_bucket_partitioned(spark, sf_dir):
    """dataset_split_stratified must be SKEW-SAFE: the rank window
    partitions on (lang, md5-prefix bucket) — never on lang alone,
    which would funnel each language through ONE task — and the
    per-bucket offsets come back via a broadcast join of a
    partial-aggregated count table, never a second full-data sort."""
    plan = plan_of(spark, sf_dir, "dataset_split_stratified")
    # the row_number window spec must include the bucket column
    assert re.search(
        r"row_number\(\) windowspecdefinition\(lang#\d+, _bkt#\d+", plan
    ), plan
    # no window partitioned by lang alone over the big table: every
    # lang-only window in the plan is over the tiny offset aggregate
    # (downstream of the groupBy's HashAggregate pair)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial+final counts
    assert "Exchange SinglePartition" not in plan, plan


def test_snapshot_diff_joins_on_user_key(spark, sf_dir):
    """snapshot_state_diff: the two snapshots join on the entity key
    (hash/sort-merge equi-join), never nested-loop; each snapshot's
    time predicate reaches its scan."""
    plan = plan_of(spark, sf_dir, "snapshot_state_diff")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan


def test_drift_psi_single_fact_scan(spark, sf_dir):
    """drift_psi: the documents table is scanned ONCE (both cohorts
    reduce over the same bin spine in one aggregate); the 10-bin
    spine and 1-row totals ride broadcast joins, never a shuffle of
    the fact side beyond the 10-counter aggregate."""
    plan = plan_of(spark, sf_dir, "drift_psi")
    assert plan.count("Scan parquet") == 1, plan
    assert "CartesianProduct" not in plan


def test_mergeable_moments_two_level_agg(spark, sf_dir):
    """stats_mergeable_moments: level-1 shard stats reduce map-side
    (partial agg) and the merge is a second aggregate over tiny
    (lang, shard) rows — one scan, no joins."""
    plan = plan_of(spark, sf_dir, "stats_mergeable_moments")
    assert plan.count("Scan parquet") == 1, plan
    assert "partial" in plan.lower(), plan
    assert "Join" not in plan, plan


def test_cooccurrence_pmi_bounded_pair_join(spark, sf_dir):
    """cooccurrence_pmi: the vocabulary is TakeOrdered top-40 and
    broadcast to the token stream; the pair join is an equi-join on
    doc_id (doc-bounded), never a cartesian pair enumeration."""
    plan = plan_of(spark, sf_dir, "cooccurrence_pmi")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1, plan


def test_ks_drift_single_fact_scan(spark, sf_dir):
    """ks_drift: one documents scan into 2x10 counters; the cumsum
    windows run over the 10-row bin spine only."""
    plan = plan_of(spark, sf_dir, "ks_drift")
    assert plan.count("Scan parquet") == 1, plan
    assert "CartesianProduct" not in plan


def test_minhash_calibration_no_all_pairs(spark, sf_dir):
    """minhash_calibration: candidates come from the (band, sig)
    equi-join; signature/token arrays join candidates one row per
    doc per side — no cartesian pair enumeration anywhere."""
    plan = plan_of(spark, sf_dir, "minhash_calibration")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gaps_islands_one_user_exchange(spark, sf_dir):
    """gaps_islands_streaks: distinct, window, and island group-by
    all partition by user_id — one hash exchange of the compressed
    (user, day) pairs, never a self-join."""
    plan = plan_of(spark, sf_dir, "gaps_islands_streaks")
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_alpha_mix_broadcasts_lang_rates(spark, sf_dir):
    """dataset_alpha_mix: the |langs|-row rate table broadcasts back
    to the corpus scan; acceptance is a pure doc_id hash — no
    fact-side shuffle beyond the lang aggregate."""
    plan = plan_of(spark, sf_dir, "dataset_alpha_mix")
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "CartesianProduct" not in plan


def test_hard_negatives_cell_bounded_join(spark, sf_dir):
    """hard_negative_mining: same cell-bounded shape as
    semdedup_pairs — MapInPandas assignment (vectors cross Arrow
    once), narrow key join-back, FlatMapGroupsInPandas per-cell gram
    grouped on the cluster id; never corpus-cartesian."""
    plan = plan_of(spark, sf_dir, "hard_negative_mining")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas assign_batches" in plan, plan
    assert re.search(r"FlatMapGroupsInPandas \[cluster", plan), plan


def test_embedding_standardize_broadcasts_dim_stats(spark, sf_dir):
    """embedding_standardize: the 64-row per-dim stats table
    broadcasts back to the exploded scan — the standardize pass
    itself is shuffle-free."""
    plan = plan_of(spark, sf_dir, "embedding_standardize")
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "CartesianProduct" not in plan


def test_quantile_normalize_broadcasts_interval_table(spark, sf_dir):
    """quantile_normalize_sources: the value-histogram interval table
    (bounded by value cardinality) is BROADCAST to the range-lookup
    join; corpus-scale work is only the source-keyed rank window."""
    plan = plan_of(spark, sf_dir, "quantile_normalize_sources")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_user_feature_matrix_single_user_key(spark, sf_dir):
    """user_feature_matrix: sessionization window and feature
    aggregate both key on user_id; the horizon max is a broadcast
    1-row scalar — no cartesian anywhere."""
    plan = plan_of(spark, sf_dir, "user_feature_matrix")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") >= 1, plan


def test_cusum_and_acf_aggregate_first(spark, sf_dir):
    """ts_changepoint_cusum / ts_autocorrelation: the fact scan
    reduces to |days| rows in ONE aggregate before any window or
    join runs."""
    for name in ("ts_changepoint_cusum", "ts_autocorrelation"):
        plan = plan_of(spark, sf_dir, name)
        # the |days| aggregate subtree is referenced by bounds/spine
        # and the counts join (ACF: also den/lag sides); the planner
        # may print the scan per reference (ReusedExchange dedupes at
        # runtime) — what matters is no unbounded shape appears.
        assert plan.count("Scan parquet") <= 4, (name, plan)
        assert "CartesianProduct" not in plan, name


def test_k_anonymity_single_scan_two_phase_distinct(spark, sf_dir):
    """k_anonymity_audit: one customer scan; the distinct-aggregate
    expands to the standard two-phase plan, no joins."""
    plan = plan_of(spark, sf_dir, "k_anonymity_audit")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_pr_curve_grid_bounded(spark, sf_dir):
    """score_pr_curve: the corpus is scanned for scores/labels, then
    every threshold reduces over the 17-bucket table — the grid
    join is broadcast, never a corpus x threshold blowup."""
    plan = plan_of(spark, sf_dir, "score_pr_curve")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2, plan


def test_markov_attribution_bounded_iterations(spark, sf_dir):
    """attribution_markov_removal: the 6 power iterations run over
    the |types|-bounded (removed x node) grid; the only fact-scale
    work is the per-user lead window."""
    plan = plan_of(spark, sf_dir, "attribution_markov_removal")
    assert "CartesianProduct" not in plan
    # edges are localCheckpointed (computed once); the surviving
    # user_id exchanges serve the lead window and the start-state
    # aggregate — bounded, and never one per iteration (6 iterations
    # would show 6+ otherwise).
    assert plan.count("Exchange hashpartitioning(user_id") <= 2, plan


def test_cep_pattern_single_user_exchange(spark, sf_dir):
    """cep_view_to_purchase: the type filter reaches the scan, and
    the range-frame window plus per-user rollup share one user_id
    exchange — no self-join per pattern step."""
    plan = plan_of(spark, sf_dir, "cep_view_to_purchase")
    assert "Join" not in plan, plan
    assert "PushedFilters" in plan and "event_type" in plan, plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_bucket_overlap_join_is_equi_on_bucket(spark, sf_dir):
    """join_time_bucket_overlap: the interval join decomposes into an
    EQUI-join on the hour bucket with the overlap predicate as a
    residual — never a nested-loop over span pairs."""
    plan = plan_of(spark, sf_dir, "join_time_bucket_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # any hash-based EQUI join on bkt qualifies (AQE broadcasts the
    # small side at test SF; a cluster run shuffles on bkt)
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_prep_pipeline_plan_shape(spark, sf_dir):
    """The prep flagship must compose as equi-joins only: the gram
    contamination join equi on md5, the pack-stats row reaching the
    report through a broadcast equi-join on the split key — never a
    crossJoin (which would plan as BroadcastNestedLoopJoin) and never
    a CartesianProduct.  Packing windows must partition by the shard
    key, not run globally."""
    plan = plan_of(spark, sf_dir, "prep_pipeline")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_ann_index_upsert_incremental_plan(spark, sf_dir):
    """Index maintenance must read the MERGED postings parquet for its
    stats (not recompute assignment over history): the returned plan
    scans the index files in the scratch root, contains no cartesian,
    and aggregates ~64 cells with a partial (map-side) phase before
    the exchange."""
    plan = plan_of(spark, sf_dir, "ann_index_upsert")
    assert f"{scratch.root()}/annidx-" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_lateral_topk_decorrelates(spark, sf_dir):
    """join_lateral_topk: Catalyst must DECORRELATE the lateral
    subquery into a partitioned window with WindowGroupLimit (the
    per-group top-k pushdown) + equi join — never a nested loop that
    re-executes the subquery per outer row."""
    plan = plan_of(spark, sf_dir, "join_lateral_topk")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sweepline_and_mode_windows_partitioned(spark, sf_dir):
    """interval_max_concurrency's sweep and grouped_mode_stat's rank
    must partition by their group keys — a global (single-partition)
    window would serialize the sweep through one task."""
    for name in ("interval_max_concurrency", "grouped_mode_stat"):
        plan = plan_of(spark, sf_dir, name)
        assert "Window" in plan, (name, plan)
        assert "SinglePartition" not in plan, (name, plan)


def test_hist2d_partial_agg(spark, sf_dir):
    """hist2d_price_qty: one scan into partial+final hash aggregation
    on the integer bin keys."""
    plan = plan_of(spark, sf_dir, "hist2d_price_qty")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan, plan


def test_cms_probe_shape(spark, sf_dir):
    """freq_count_min_estimate: the exact top-20 must be TakeOrdered
    (never a global sort of the vocabulary) and the sketch probe an
    equi join — no cartesian anywhere."""
    plan = plan_of(spark, sf_dir, "freq_count_min_estimate")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_roc_auc_aggregates_before_window(spark, sf_dir):
    """score_roc_auc: the corpus must collapse to distinct-score rows
    (partial+final aggregate) BEFORE the one ordered window runs —
    the window's input is grid-bounded (<= 1e6 rows by construction),
    not corpus-bounded."""
    plan = plan_of(spark, sf_dir, "score_roc_auc")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Window" in plan, plan


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """join_bucketed_colocated: both scans must report Bucketed: true
    and the SMJ must consume the bucket layout directly — no Exchange
    on either join key (the only shuffle allowed is the final
    priority aggregate)."""
    plan = plan_of(spark, sf_dir, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") >= 2, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan


def test_dynamic_gap_session_partitioned(spark, sf_dir):
    """win_session_dynamic_gap: the dynamic-gap session aggregation
    must stay partitioned by user (value-based session merge inside
    partitions), never a global single-partition pass."""
    plan = plan_of(spark, sf_dir, "win_session_dynamic_gap")
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_phash_dedup_shape(spark, sf_dir):
    """mm_image_phash_dedup: decode+hash is a linear mapInPandas pass
    and clustering a partial-aggregated groupBy on the signature —
    no join at all, certainly no cartesian."""
    plan = plan_of(spark, sf_dir, "mm_image_phash_dedup")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_phash_hamming_no_cartesian(spark, sf_dir):
    """dedup_phash_hamming: candidates come from the (band, block)
    equi-join; an accidental cross join is the all-pairs failure mode
    the banding exists to avoid."""
    plan = plan_of(spark, sf_dir, "dedup_phash_hamming")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_matryoshka_windows_partitioned(spark, sf_dir):
    """embedding_matryoshka_truncate: both rankings window-partition
    by the query id (bounded query set beats the corpus side; the
    scoring join is the deliberate brute-force baseline shape), and
    the overlap join is equi."""
    plan = plan_of(spark, sf_dir, "embedding_matryoshka_truncate")
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_image_resize_is_shuffle_free_map(spark, sf_dir):
    """mm_image_resize: encode -> decode -> resample is two fused
    mapInPandas hops over the scan — no exchange of any kind (output
    is a fixed 16 rows per image; nothing to redistribute)."""
    plan = plan_of(spark, sf_dir, "mm_image_resize")
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan


def test_code_detect_is_pure_codegen_projection(spark, sf_dir):
    """text_code_detect: the router must stay a per-row JVM projection
    fused into the scan — no shuffle, no Python worker, whole-stage
    codegen (the translate-delete counter, not a regex or UDF)."""
    plan = plan_of(spark, sf_dir, "text_code_detect")
    assert "*(1)" in plan, plan  # whole-stage codegen span
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert "MapInPandas" not in plan, plan


def test_threshold_sweep_shares_cell_pair_plan(spark, sf_dir):
    """semdedup_threshold_sweep: identical candidate shape to
    semdedup_pairs (signature-cell equi-grouping, per-cell gram —
    never corpus-cartesian) plus one bounded integer aggregate."""
    plan = plan_of(spark, sf_dir, "semdedup_threshold_sweep")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas assign_batches" in plan, plan
    assert re.search(r"FlatMapGroupsInPandas \[cluster", plan), plan


def test_mutual_knn_graph_cell_bounded(spark, sf_dir):
    """ann_mutual_knn_graph: neighborhoods come from the cell-bounded
    pair set (no cartesian anywhere); the mutuality check is an
    equi-join on the (id, id) edge key, and the per-source top-5 is a
    rank window, not a global sort.  The top-5 edge set is
    checkpointed before the mutuality join (r13) — expand it so the
    assertions keep auditing the full pipeline."""
    plan = plan_of(
        spark, sf_dir, "ann_mutual_knn_graph", expand_checkpoints=True
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"FlatMapGroupsInPandas \[cluster", plan), plan
    assert "RunningWindowFunction" in plan or "Window" in plan, plan


def test_outlier_score_is_single_arrow_pass(spark, sf_dir):
    """embedding_outlier_score: after the bounded (d-row) moment
    collect, the returned plan is scan -> one Arrow-batched scoring
    pass — no shuffle, no join (the stats ride the closure, the
    k*d-literal idiom)."""
    plan = plan_of(spark, sf_dir, "embedding_outlier_score")
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_ndcg_rankings_are_takeordered(spark, sf_dir):
    """search_ndcg_eval: both the run and the ideal ranking must cut
    to 20 rows via TakeOrderedAndProject — a global sort of the
    scored corpus is the shape that dies at scale.  The rank windows
    then run on the 20-row frames (their single partition is the
    bounded-output idiom, not a corpus-wide window)."""
    plan = plan_of(spark, sf_dir, "search_ndcg_eval")
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_lttb_windows_partition_by_user(spark, sf_dir):
    """ts_downsample_lttb: every window (lag/lead, count, per-bucket
    argmax) partitions by user_id — no single-partition pass, no
    join at all."""
    plan = plan_of(spark, sf_dir, "ts_downsample_lttb")
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "Join" not in plan, plan


def test_pandas_iter_is_one_arrow_projection(spark, sf_dir):
    """udf_pandas_iter: the SCALAR_ITER pair must fuse into one
    Arrow-batched projection over the scan — no shuffle, no join;
    the iterator form only moves Python-side setup cost, never the
    plan shape."""
    plan = plan_of(spark, sf_dir, "udf_pandas_iter")
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_channel_stats_reduce_inside_decode(spark, sf_dir):
    """mm_image_channel_stats: the per-plane reduction happens INSIDE
    the Arrow decode hop (3 rows out per image) — no pixel-level
    shuffle, no aggregate after the map, no join."""
    plan = plan_of(spark, sf_dir, "mm_image_channel_stats")
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_js_divergence_pairs_from_grid(spark, sf_dir):
    """source_js_divergence: the corpus collapses to the (source x
    bucket) count grid via partial+final aggregation; the pair matrix
    is a broadcast equi-join on bucket over that grid — the corpus
    never enters a join input."""
    plan = plan_of(spark, sf_dir, "source_js_divergence")
    assert plan.count("HashAggregate") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_truncation_report_partial_aggs(spark, sf_dir):
    """truncation_loss_report: the 2-budget explode feeds one
    partial+final aggregate on (source, budget) — token counting is
    map-side, the shuffle carries |sources| x 2 partial rows."""
    plan = plan_of(spark, sf_dir, "truncation_loss_report")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Generate explode" in plan, plan
    assert "Join" not in plan, plan


def test_shard_manifest_is_hash_projection(spark, sf_dir):
    """shard_manifest_balance: shard assignment is a pure per-row md5
    projection into an 8-group partial+final aggregate; the total
    rides a broadcast 1-row join — no sort-merge, no cartesian
    product anywhere."""
    plan = plan_of(spark, sf_dir, "shard_manifest_balance")
    assert plan.count("HashAggregate") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_brier_decomposition_bounded_aggregates(spark, sf_dir):
    """score_brier_decomposition: one scored scan feeds a 1-row total
    and a 10-row bin aggregate (both partial+final); the component
    arithmetic joins broadcast-sized frames only."""
    plan = plan_of(spark, sf_dir, "score_brier_decomposition")
    assert plan.count("HashAggregate") >= 4, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_triangle_count_oriented_equi_joins(spark, sf_dir):
    """graph_triangle_count: wedge and closure hops must be equi-joins
    on node keys (the degree orientation exists to make the wedge
    volume sum(out_deg^2) — an accidental cross join is the hub
    explosion it prevents), and the top-20 is TakeOrdered, never a
    global sort of the node table."""
    plan = plan_of(spark, sf_dir, "graph_triangle_count")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_percentile_audit_sketch_mergeable_no_global_sort(spark, sf_dir):
    """approx_percentile_audit: the sketch side must be a mergeable
    partial+final ObjectHashAggregate (no sort anywhere near the
    corpus scan), and the exact side's cumulative window partitions
    by group over the distinct-value table — never a single
    partition, never a cartesian on data-sized inputs."""
    plan = plan_of(spark, sf_dir, "approx_percentile_audit")
    assert plan.count("ObjectHashAggregate") >= 2, plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_eval_set_builder_plan_shape(spark, sf_dir):
    """The eval-set flagship must compose as equi-joins only (md5
    text hash dedup window, 8-gram contamination equi-join, doc_id
    anti-join, lang windows) — never a CartesianProduct or
    BroadcastNestedLoopJoin, never a global (SinglePartition)
    window: the dedup window partitions by the md5 hash, and the
    split rank AND pack running-sum windows partition by
    (lang, md5-prefix bucket) — skew-safe, never lang alone.

    Captured with checkpoints expanded (r13): the query materializes
    its shared split/gram subtrees mid-plan, so the final executed
    plan alone would show them as ExistingRDD scans and silently
    stop auditing the dedup/split-rank windows."""
    plan = plan_of(spark, sf_dir, "eval_set_builder", expand_checkpoints=True)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "LeftAnti" in plan, plan
    # both big windows (split rank, pack cumsum) are bucketed
    assert re.search(
        r"row_number\(\) windowspecdefinition\(lang#\d+, _bkt#\d+", plan
    ), plan
    assert re.search(
        r"sum\(n_toks#\d+L?\) windowspecdefinition\(lang#\d+, _bkt#\d+",
        plan,
    ), plan


def test_paragraph_dedup_equi_join_on_segment_hash(spark, sf_dir):
    """dedup_paragraph_exact: the segment-frequency join back to the
    per-doc segment stream must be an equi-join on the 16-byte md5
    (hash or sort-merge), with partial aggregation on both the
    frequency and report sides — never a cartesian."""
    plan = plan_of(spark, sf_dir, "dedup_paragraph_exact")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_split_leakage_banded_candidates(spark, sf_dir):
    """split_leakage_simhash: candidates must come from the banded
    (band, bucket) equi-join — the pigeonhole-lossless simhash
    bucketing — and the split labels join in by doc_id equi-joins;
    an accidental cross join is the all-pairs failure the banding
    exists to avoid."""
    plan = plan_of(spark, sf_dir, "split_leakage_simhash")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_token_budget_window_partitions_by_source(spark, sf_dir):
    """dataset_token_budget: ONE window, partitioned by source (the
    quota is per source — a global window would single-partition the
    corpus), then a partial+final aggregate on the same key."""
    plan = plan_of(spark, sf_dir, "dataset_token_budget")
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_filter_attribution_single_scan_no_join(spark, sf_dir):
    """filter_attribution_report: one scan, one explode x3 unpivot,
    one partial+final aggregate — no join anywhere (the flags are
    computed per row; attribution must not re-scan text per rule)."""
    plan = plan_of(spark, sf_dir, "filter_attribution_report")
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_semdedup_keep_best_full_pairs_no_cartesian(spark, sf_dir):
    """semdedup_keep_best: same cell-equi-join discipline as
    semdedup_pairs (the keep decision needs the FULL within-cell
    pair set — the top-k prune must NOT appear), then one
    partial+final aggregate on the loser id."""
    plan = plan_of(spark, sf_dir, "semdedup_keep_best")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_hard_negatives_windowgrouplimit_and_broadcast(spark, sf_dir):
    """retrieval_hard_negatives: the rank<=6 filter over the per-term
    window must plan as WindowGroupLimit (per-partition top-k heaps,
    never a full per-term sort of the posting list), with df/stats
    broadcast like text_bm25_topk."""
    plan = plan_of(spark, sf_dir, "retrieval_hard_negatives")
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_crossmodal_pipeline_banded_both_sides(spark, sf_dir):
    """crossmodal_dedup_pipeline: both modality pair generators stay
    banded equi-joins inside the composed plan, the agreement join is
    equi on the pair key (full outer), and the drop-list reduction is
    partial+final — no cartesian, no nested-loop anywhere."""
    plan = plan_of(spark, sf_dir, "crossmodal_dedup_pipeline")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FullOuter" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_event_sequence_pack_window_per_user(spark, sf_dir):
    """event_sequence_pack: one window partitioned by user (the
    sessionize_events exchange — never a global sequence index), then
    a partial+final aggregate on (user, window)."""
    plan = plan_of(spark, sf_dir, "event_sequence_pack")
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_filtered_ann_prefilter_is_label_equi_join(spark, sf_dir):
    """ann_prefilter_vs_postfilter: the pre-filter side must reach its
    candidates through the label EQUI-join (the postings-prune
    stand-in) — a cartesian there means the filter never pruned; the
    bounded 10-query sides broadcast."""
    plan = plan_of(spark, sf_dir, "ann_prefilter_vs_postfilter")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_epoch_plan_single_scan_broadcast_total(spark, sf_dir):
    """dataset_epoch_plan: one corpus scan into a partial+final
    |sources|-row aggregate; the weight-sum total arrives via a
    broadcast (1-row) join, never a second corpus pass."""
    plan = plan_of(spark, sf_dir, "dataset_epoch_plan")
    assert plan.count("HashAggregate") >= 2, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_domain_quota_both_levels_bucketed(spark, sf_dir):
    """domain_quota_curation: the per-domain running sum partitions on
    (source, md5-bucket) and the GLOBAL running sum on the md5-bucket
    (Catalyst constant-folds the literal key out of the spec) — the
    naive form would be one task per domain plus ONE task for the
    whole corpus.  A SinglePartition exchange appears only over the
    tiny 256-row offset tables, never over document rows: both
    full-data running sums must show the bucketed spec.  The t/dom
    projections are checkpointed (r13) — expand them so both window
    specs stay visible to the assertions."""
    plan = plan_of(
        spark, sf_dir, "domain_quota_curation", expand_checkpoints=True
    )
    assert re.search(
        r"sum\(n_toks#\d+L?\) windowspecdefinition\(source#\d+, _bkt#\d+",
        plan,
    ), plan
    assert re.search(
        r"sum\(n_toks#\d+L?\) windowspecdefinition\(_bkt#\d+, _h#\d+",
        plan,
    ), plan
    assert "CartesianProduct" not in plan, plan


def test_intradoc_dedup_is_pure_map(spark, sf_dir):
    """intradoc_dedup_lines must be a single scan with NO exchange at
    all — per-row array math inside codegen, the cheapest possible
    curation pass."""
    plan = plan_of(spark, sf_dir, "intradoc_dedup_lines")
    assert "Exchange" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_crosslingual_entities_capped_equi_join(spark, sf_dir):
    """dedup_crosslingual_entities: the entity inverted-index join is
    an equi-join on the entity string with hot postings removed via a
    broadcast anti-join — never a cartesian pairing of documents.
    At tiny SF the hot list is EMPTY and AQE's empty-relation
    propagation elides the anti-join from the final plan, so the
    valve is asserted on the pre-adaptive plan."""
    df = REGISTRY["dedup_crosslingual_entities"].fn(spark, sf_dir)
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in full, full
    assert "BroadcastNestedLoopJoin" not in full, full
    initial = df._jdf.queryExecution().sparkPlan().toString()
    assert "LeftAnti" in initial, initial


def test_fourth_decade_ctrl_pair_generators_banded(spark, sf_dir):
    """The fourth-decade ctrl rebuilds must keep every candidate
    generator a banded equi-join: split_leakage_simhash_ctrl joins on
    (band, 32-bit bucket) of the 128-bit fingerprint;
    crossmodal_dedup_ctrl adds the distinct-sig 3x20-bit image join.
    No cartesian pairing of documents anywhere."""
    for name in ("split_leakage_simhash_ctrl", "crossmodal_dedup_ctrl"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_simhash_docs_fingerprint_no_hash_exchange(spark, sf_dir):
    """dedup_simhash (the vectorized mapInPandas fingerprint) must
    reach the output with ZERO hash exchanges: the only allowed
    Exchange is widen_if_narrow's RoundRobin repartition (fires only
    on the single-row-group test file; an exact no-op at scale).  The
    explode form this replaced shuffled twice before banding —
    ~5 B intermediate rows at the 5M-doc decade."""
    plan = plan_of(spark, sf_dir, "dedup_simhash")
    assert "hashpartitioning" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_pii_checksum_mask_shuffle_free(spark, sf_dir):
    """pii_checksum_mask is one scan + codegen expressions: no hash
    exchange anywhere (the only allowed Exchange is widen_if_narrow's
    RoundRobin on the single-row-group test file), and no Python —
    Luhn and mod-97 run as SQL folds/chunked BIGINT mods."""
    plan = plan_of(spark, sf_dir, "pii_checksum_mask")
    assert "hashpartitioning" not in plan, plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan


def test_text_strip_markup_shuffle_free(spark, sf_dir):
    """text_strip_markup is one scan + codegen regex/replace chain:
    no exchange of any kind, no Python."""
    plan = plan_of(spark, sf_dir, "text_strip_markup")
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan


def test_substring_chains_no_pair_join(spark, sf_dir):
    """dedup_substring_chains never emits pairs: no cartesian or
    nested-loop join anywhere — the frequency pass is an equi-join of
    position rows to one count row each, and the span chain is a
    per-doc window."""
    plan = plan_of(spark, sf_dir, "dedup_substring_chains")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_aug_word_dropout_shuffle_free(spark, sf_dir):
    """aug_word_dropout is a pure per-row projection: the dropout
    mask is a higher-order array filter, so the plan has no Exchange
    and no Python — byte-identical regeneration at 100 TB costs one
    scan."""
    plan = plan_of(spark, sf_dir, "aug_word_dropout")
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan


def test_dsir_weight_table_broadcast(spark, sf_dir):
    """dataset_dsir_select: the 256-row bucket-weight table must ride
    a BroadcastExchange back onto the token stream — the per-doc
    weight sum may never shuffle tokens against a vocabulary-sized
    side."""
    plan = plan_of(spark, sf_dir, "dataset_dsir_select")
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the only sort is the final TakeOrdered top-k, never a global Sort
    assert "TakeOrderedAndProject" in plan, plan


def test_blocklist_join_is_broadcast_equi(spark, sf_dir):
    """domain_blocklist_filter: the suffix→rule membership test is a
    broadcast EQUI-join (the shape that survives a 100k-entry
    blocklist), never a nested-loop of ends_with predicates."""
    plan = plan_of(spark, sf_dir, "domain_blocklist_filter")
    assert "BroadcastExchange" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_group_kfold_no_cartesian(spark, sf_dir):
    """dataset_group_kfold: candidates stay banded equi-joins and the
    component loop is join+aggregate — no cartesian or nested-loop
    join anywhere in the composed plan."""
    plan = plan_of(spark, sf_dir, "dataset_group_kfold")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_contamination_fuzzy_no_cartesian(spark, sf_dir):
    """contamination_fuzzy: the cross-split candidate join is banded
    equi (band, sig) — never test x train; no cartesian or
    nested-loop join anywhere."""
    plan = plan_of(spark, sf_dir, "contamination_fuzzy")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_transcript_align_equi_join(spark, sf_dir):
    """mm_transcript_align: the chunk→segment match must be an EQUI
    hash/sort-merge join on doc_id with the time range as residual —
    never a cartesian or nested-loop join."""
    plan = plan_of(spark, sf_dir, "mm_transcript_align")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_curriculum_phases_no_doc_window(spark, sf_dir):
    """dataset_curriculum_phases: the running sum rides the
    value-cardinality-bounded score table — the plan's single-
    partition window is over that tiny aggregate, never the document
    stream (no per-doc global rank)."""
    plan = plan_of(spark, sf_dir, "dataset_curriculum_phases")
    assert "CartesianProduct" not in plan, plan
    import re

    # The Window must ride the score HashAggregate, not the document
    # stream: between the Window node and the first FileScan below it
    # there must be a HashAggregate keyed on score.  A regression to a
    # per-document global window would put the Window directly on the
    # scan/project chain (no aggregate in between) — and would order on
    # doc-level columns.  (r10 ADVICE: the old assertion only checked
    # that SOME Window node existed.)
    m = re.search(r"Window \[", plan)
    assert m, plan
    below = plan[m.start() :]
    agg = below.find("HashAggregate(keys=[score")
    scan = below.find("FileScan")
    assert agg != -1 and scan != -1 and agg < scan, below[:2000]
    # the window spec itself orders on the aggregated score, never on
    # doc-level columns
    spec = below[: below.index("\n")]
    assert "score" in spec and "text" not in spec and "doc_id" not in spec, spec


def test_minhash_bands_no_exchange_before_join(spark, sf_dir):
    """dedup_minhash_lsh round-10: the band-signature build is per-row
    array expressions, so the plan carries NO signature-stage shuffle —
    the old build exchanged 8x|tokens| rows twice, on (id, seed) for
    the minhash min and (id, band) for the band aggregate.  Assert
    those partitionings are gone; the surviving exchanges are the
    candidate join's (band, sig) and downstream pair aggregates."""
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    import re

    assert not re.search(r"hashpartitioning\(id#\d+L?, seed", plan), plan
    assert not re.search(r"hashpartitioning\(id#\d+L?, band", plan), plan
    assert "seed#" not in plan, plan


@pytest.mark.parametrize(
    "name", ["window_ntile_bucketed", "window_ntile_bucketed_orders"]
)
def test_ntile_bucketed_no_corpus_single_partition_window(
    spark, sf_dir, name
):
    """window_ntile_bucketed (+ the orders fact-table form): the
    per-row rank window must be PARTITIONED on the bucket id (hash
    exchange, per-slice sort) and the only SinglePartition exchange in
    the plan must sit above the ~110-row per-bucket-count
    HashAggregate — never the base-table stream.  The offsets join
    back must broadcast."""
    plan = plan_of(spark, sf_dir, name)
    import re

    # row-level window partitioned by the bucket id
    assert re.search(r"windowspecdefinition\(__bucket", plan), plan
    assert re.search(r"Exchange hashpartitioning\(__bucket", plan), plan
    # every SinglePartition exchange feeds off an aggregate, not a scan:
    # below each one, a HashAggregate appears before the next FileScan
    for m in re.finditer(r"Exchange SinglePartition", plan):
        below = plan[m.start() :]
        agg, scan = below.find("HashAggregate"), below.find("FileScan")
        assert agg != -1 and agg < scan, below[:1500]
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_interleaved_pack_shard_partitioned_window(spark, sf_dir):
    """mm_interleaved_pack: the packing running sum must ride a window
    PARTITIONED by the 16-way md5 shard — never a global sort or a
    SinglePartition exchange (the whole point of per-shard packing)."""
    plan = plan_of(spark, sf_dir, "mm_interleaved_pack")
    import re

    assert re.search(r"windowspecdefinition\(shard", plan), plan
    assert re.search(r"Exchange hashpartitioning\(shard", plan), plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mix_temperature_windows_over_aggregate_only(spark, sf_dir):
    """dataset_mix_temperature: both normalizer windows ride the
    |sources|-row aggregate — every SinglePartition exchange must sit
    above a HashAggregate, never the document scan."""
    plan = plan_of(spark, sf_dir, "dataset_mix_temperature")
    import re

    for m in re.finditer(r"Exchange SinglePartition", plan):
        below = plan[m.start() :]
        agg, scan = below.find("HashAggregate"), below.find("FileScan")
        assert agg != -1 and agg < scan, below[:1500]
    assert "CartesianProduct" not in plan, plan


def test_span_corruption_zero_exchanges(spark, sf_dir):
    """aug_span_corruption is a pure per-row projection: ONE scan,
    zero exchanges of any kind (the aug_word_dropout discipline)."""
    plan = plan_of(spark, sf_dir, "aug_span_corruption")
    assert "Exchange" not in plan, plan
    assert plan.count("FileScan") == 1, plan
