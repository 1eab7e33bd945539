"""Edge-input hardening: operators must behave sanely on empty or
degenerate inputs (the 3am-backfill cases)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def d(day: int) -> dt.datetime:
    return dt.datetime(2024, 1, day)


class TestEmptyInputs:
    def test_asof_join_empty_features(self, spark):
        from ml_feature_store_spark.operators.asof import asof_join

        feats = spark.createDataFrame(
            [], "entity_id string, timestamp timestamp, x double, __row_id__ long"
        )
        spine = spark.createDataFrame([("a", d(5))], ["entity_id", "timestamp"])
        for strategy in ("union", "union_bucketed"):
            assert asof_join(spine, feats, strategy=strategy).count() == 0
            left = asof_join(spine, feats, strategy=strategy, how="left").collect()
            assert len(left) == 1 and left[0]["x"] is None

    def test_asof_join_empty_spine(self, spark):
        from ml_feature_store_spark.operators.asof import asof_join

        feats = spark.createDataFrame(
            [("a", d(1), 1.0, 1)], ["entity_id", "timestamp", "x", "__row_id__"]
        )
        spine = spark.createDataFrame([], "entity_id string, timestamp timestamp")
        assert asof_join(spine, feats).count() == 0

    def test_minhash_lsh_empty_corpus(self, spark):
        from ml_feature_store_spark.operators.dedup import dedup_minhash_lsh

        docs = spark.createDataFrame([], "doc_id long, text string")
        assert dedup_minhash_lsh(docs).count() == 0

    def test_connected_components_empty_edges(self, spark):
        from ml_feature_store_spark.operators.dedup import connected_components

        edges = spark.createDataFrame([], "id_a long, id_b long")
        assert connected_components(edges).count() == 0

    def test_pagerank_empty_edges(self, spark):
        from ml_feature_store_spark.operators.graph import pagerank

        edges = spark.createDataFrame([], "src string, dst string")
        assert pagerank(edges, iterations=2).count() == 0

    def test_contamination_empty_benchmark(self, spark):
        from ml_feature_store_spark.operators.dedup import detect_contamination

        corpus = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
        bench = spark.createDataFrame([], "doc_id long, text string")
        assert detect_contamination(corpus, bench).count() == 0

    def test_kmeans_k_larger_than_input(self, spark):
        from ml_feature_store_spark.operators.clustering import kmeans_quantized

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [3.0, 4.0])], ["vec_id", "embedding"]
        )
        assigned, cent = kmeans_quantized(df, k=2, max_iter=1)
        assert assigned.count() == 2 and len(cent) == 2

    def test_sessionize_single_event_per_user(self, spark):
        from ml_feature_store_spark.operators.sessionize import sessionize

        ev = spark.createDataFrame([(1, d(1), 0.5)], ["user_id", "ts", "value"])
        out = sessionize(ev, entity_col="user_id", ts_col="ts").collect()
        assert len(out) == 1


class TestRound3EdgeInputs:
    def test_triangle_count_empty_edges(self, spark):
        from ml_feature_store_spark.operators.graph import triangle_count

        e = spark.createDataFrame([], "src long, dst long")
        (row,) = triangle_count(e).collect()
        assert (row.n_edges, row.n_triangles) == (0, 0)

    def test_target_encode_empty_input(self, spark):
        from ml_feature_store_spark.operators.encoding import target_encode_loo

        df = spark.createDataFrame([], "cat string, y double")
        assert target_encode_loo(df, "cat", "y").collect() == []

    def test_ngram_counts_empty_corpus(self, spark):
        from ml_feature_store_spark.operators.text import ngram_counts

        df = spark.createDataFrame([], "text string")
        assert ngram_counts(df, "text", n=2).collect() == []

    def test_ngram_counts_null_text(self, spark):
        from ml_feature_store_spark.operators.text import ngram_counts

        df = spark.createDataFrame([(None,), ("a b",)], "text string")
        out = {r.gram: r.cnt for r in ngram_counts(df, "text", n=2).collect()}
        assert out == {"a b": 1}  # null doc contributes nothing, no crash

    def test_bpe_train_no_qualifying_pairs(self, spark):
        from ml_feature_store_spark.operators.text import bpe_train_merges

        # every adjacency is an equal pair (x == y excluded) -> no rules
        df = spark.createDataFrame([("a a a",), ("b b",)], ["text"])
        assert bpe_train_merges(df, "text", rounds=3) == []

    def test_feature_hash_empty_cols_rejected_or_zero(self, spark):
        from ml_feature_store_spark.operators.encoding import feature_hash
        import pytest as _pytest

        df = spark.createDataFrame([("x",)], ["a"])
        with _pytest.raises(Exception):
            feature_hash(df, [], n_buckets=4).collect()


class TestWave2EdgeInputs:
    def test_dup_span_profile_empty_corpus(self, spark):
        from ml_feature_store_spark.operators.text import dup_span_profile

        df = spark.createDataFrame([], "doc_id long, text string")
        assert dup_span_profile(df).count() == 0

    def test_importance_score_no_target_rows(self, spark):
        # t_tot = 0: add-1 smoothing keeps every weight finite and defined
        from ml_feature_store_spark.operators.encoding import importance_score

        df = spark.createDataFrame(
            [(0, False, "a b"), (1, False, "b c")], ["doc_id", "is_t", "text"]
        )
        rows = importance_score(df, F.col("is_t")).collect()
        assert len(rows) == 2
        assert all(r.dsir_e6 is not None and r.dsir_e6 >= 0 for r in rows)

    def test_mixture_single_domain_keeps_everything(self, spark):
        from ml_feature_store_spark.operators.sampling import (
            apply_mixture,
            uniform_mixture_rates,
        )

        df = spark.createDataFrame([("en", i) for i in range(9)], ["lang", "doc_id"])
        rates = uniform_mixture_rates(df, "lang")
        assert apply_mixture(df, rates, "lang", "doc_id").count() == 9

    def test_bottomk_k_larger_than_group(self, spark):
        from ml_feature_store_spark.operators.sampling import bottomk_sample

        df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], ["k", "id"])
        out = bottomk_sample(df, "k", "id", k=10, salt_buckets=4)
        assert out.count() == 3  # every row sampled, no duplication

    def test_bpe_encode_empty_rules_is_plain_tokenize(self, spark):
        from ml_feature_store_spark.operators.text import bpe_encode

        df = spark.createDataFrame([(0, "A b  c")], ["doc_id", "text"])
        (row,) = bpe_encode(df, []).collect()
        assert row.tk == ["a", "b", "c"]  # lowercased, empties dropped

    def test_asof_nearest_empty_features(self, spark):
        from ml_feature_store_spark.operators.asof import (
            asof_join_forward,
            asof_join_nearest,
        )

        feats = spark.createDataFrame(
            [], "entity_id string, timestamp timestamp, x double, __row_id__ long"
        )
        spine = spark.createDataFrame([("a", d(5))], ["entity_id", "timestamp"])
        assert asof_join_nearest(spine, feats).count() == 0
        assert asof_join_forward(spine, feats).count() == 0
        left = asof_join_nearest(spine, feats, how="left").collect()
        assert len(left) == 1 and left[0]["x"] is None

    def test_nearest_banded_rejects_missing_tolerance(self, spark):
        from ml_feature_store_spark.operators.asof import asof_join_nearest_banded

        feats = spark.createDataFrame(
            [("a", d(5), 1.0, 0)],
            ["entity_id", "timestamp", "x", "__row_id__"],
        )
        spine = spark.createDataFrame([("a", d(5))], ["entity_id", "timestamp"])
        with pytest.raises(ValueError):
            asof_join_nearest_banded(spine, feats, tolerance_seconds=0)

    def test_containment_no_candidates(self, spark):
        from ml_feature_store_spark.operators.dedup import ngram_containment

        docs = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert ngram_containment(docs, pairs).count() == 0


class TestRound4EdgeInputs:
    def test_temperature_mixture_single_domain(self, spark):
        """One domain: budget num/den=1/2 halves it (no cap rescue)."""
        from ml_feature_store_spark.operators.sampling import (
            temperature_mixture_rates,
        )

        df = spark.createDataFrame([("a", i) for i in range(100)], "dom string, id long")
        rows = temperature_mixture_rates(df, "dom").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_before"] == 100 and r["weight"] == 10
        assert r["target"] == 50 and r["keep_rate_e6"] == 500_000

    def test_temperature_mixture_empty_input(self, spark):
        from ml_feature_store_spark.operators.sampling import (
            temperature_mixture_rates,
        )

        df = spark.createDataFrame([], "dom string, id long")
        assert temperature_mixture_rates(df, "dom").count() == 0

    def test_cooccurrence_empty_and_singleton_baskets(self, spark):
        """Singleton baskets produce no pairs; empty input no rows."""
        from ml_feature_store_spark.operators.graph import cooccurrence_jaccard

        empty = spark.createDataFrame([], "b long, item long")
        assert cooccurrence_jaccard(empty, "b", "item").count() == 0
        singles = spark.createDataFrame([(1, 10), (2, 20)], "b long, item long")
        assert cooccurrence_jaccard(singles, "b", "item", min_common=1).count() == 0

    def test_radius_join_empty_points(self, spark):
        """Centers with an empty point table report 0 via the left join."""
        from ml_feature_store_spark.operators.spatial import radius_count_join

        centers = spark.createDataFrame([(1, 0, 0), (2, 50, 50)], "k long, x long, y long")
        points = spark.createDataFrame([], "p long, x long, y long")
        rows = {r["k"]: r for r in radius_count_join(
            points, centers, radius=10, point_key="p", center_key="k"
        ).collect()}
        assert rows[1]["n_within"] == 0 and rows[2]["sum_point_keys"] == 0

    def test_radius_join_boundary_inclusive(self, spark):
        """A point exactly at distance R is IN (<=, documented)."""
        from ml_feature_store_spark.operators.spatial import radius_count_join

        centers = spark.createDataFrame([(1, 0, 0)], "k long, x long, y long")
        points = spark.createDataFrame(
            [(10, 10, 0), (11, 10, 1)], "p long, x long, y long"
        )
        rows = radius_count_join(
            points, centers, radius=10, point_key="p", center_key="k"
        ).collect()
        assert rows[0]["n_within"] == 1 and rows[0]["sum_point_keys"] == 10

    def test_random_walks_empty_edges(self, spark):
        from ml_feature_store_spark.operators.graph import random_walks

        edges = spark.createDataFrame([], "src string, dst string")
        starts = spark.createDataFrame([("a",)], "node string")
        assert random_walks(edges, starts, steps=2).count() == 0

    def test_bigram_lm_empty_corpus(self, spark):
        from ml_feature_store_spark.operators.text import bigram_lm_doc_score

        df = spark.createDataFrame([], "doc_id long, text string")
        assert bigram_lm_doc_score(df).count() == 0


class TestRound5EdgeInputs:
    def test_token_runs_empty_input(self, spark):
        from ml_feature_store_spark.operators.text import token_runs

        docs = spark.createDataFrame([], "doc_id long, text string")
        assert token_runs(docs).count() == 0

    def test_normalize_nfc_empty_and_empty_string(self, spark):
        from ml_feature_store_spark.operators.text import normalize_nfc

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert normalize_nfc(empty).count() == 0
        rows = normalize_nfc(
            spark.createDataFrame([(1, "")], "doc_id long, text string")
        ).collect()
        assert rows[0]["text_nfc"] == ""

    def test_global_row_number_empty_and_single_row(self, spark):
        from ml_feature_store_spark.operators.util import global_row_number

        empty = spark.createDataFrame([], "k long")
        assert global_row_number(empty, "k").count() == 0
        one = global_row_number(
            spark.createDataFrame([(42,)], "k long"), "k"
        ).collect()
        assert [(r["k"], r["row_no"]) for r in one] == [(42, 1)]

    def test_quantile_binning_constant_column(self, spark):
        """All-equal values: every boundary collapses to the same integer,
        nothing is < anything, all rows land in bin 0 — no crash, no
        empty bins fabricated."""
        from ml_feature_store_spark.operators.encoding import quantile_binning

        df = spark.createDataFrame([(5.0,)] * 10, "x double")
        rows = quantile_binning(df, "x", n_bins=4).collect()
        assert len(rows) == 10 and all(r["bin"] == 0 for r in rows)

    def test_weighted_sample_k_exceeds_population(self, spark):
        from ml_feature_store_spark.operators.sampling import (
            weighted_priority_sample,
        )

        df = spark.createDataFrame([(1, 10), (2, 20)], "id long, w long")
        assert weighted_priority_sample(df, "id", "w", k=100).count() == 2

    def test_impute_median_no_nulls_is_identity(self, spark):
        from ml_feature_store_spark.operators.encoding import impute_median

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0)], "g string, value double"
        )
        rows = impute_median(df, "value", "g").collect()
        assert all(r["cents_imputed"] == r["cents"] for r in rows)

    def test_kcore_until_converged_empty_edges(self, spark):
        from ml_feature_store_spark.operators.graph import kcore

        edges = spark.createDataFrame([], "src long, dst long")
        rows = kcore(edges, k=2, until_converged=True).collect()
        assert rows == []


class TestRound5LateEdgeInputs:
    def test_paragraph_dedup_empty_corpus(self, spark):
        from ml_feature_store_spark.operators.dedup import paragraph_dedup

        docs = spark.createDataFrame([], "doc_id long, text string")
        assert paragraph_dedup(docs).count() == 0

    def test_paragraph_dedup_all_empty_paragraphs(self, spark):
        from ml_feature_store_spark.operators.dedup import paragraph_dedup

        docs = spark.createDataFrame(
            [(1, "|| | ||"), (2, "")], "doc_id long, text string"
        )
        assert paragraph_dedup(docs, delim="|").count() == 0

    def test_cross_doc_spans_empty_and_singleton(self, spark):
        from ml_feature_store_spark.operators.dedup import cross_doc_spans

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert cross_doc_spans(empty).count() == 0
        # one doc alone can never share a gram with another doc
        solo = spark.createDataFrame(
            [(1, "a b c d e f g h i j")], "doc_id long, text string"
        )
        assert cross_doc_spans(solo, k=8).count() == 0

    def test_cross_doc_spans_null_text(self, spark):
        from ml_feature_store_spark.operators.dedup import cross_doc_spans

        docs = spark.createDataFrame(
            [(1, None), (2, None)], "doc_id long, text string"
        )
        assert cross_doc_spans(docs, k=8).count() == 0

    def test_kmv_overlap_single_segment_no_pairs(self, spark):
        from ml_feature_store_spark.operators.agg import kmv_segment_overlap

        df = spark.createDataFrame([("A", 1), ("A", 2)], "seg string, el long")
        assert kmv_segment_overlap(df, "seg", "el", k=16).count() == 0

    def test_kmv_overlap_empty_input(self, spark):
        from ml_feature_store_spark.operators.agg import kmv_segment_overlap

        df = spark.createDataFrame([], "seg string, el long")
        assert kmv_segment_overlap(df, "seg", "el", k=16).count() == 0

    def test_kmv_disjoint_segments_zero_intersection(self, spark):
        from ml_feature_store_spark.operators.agg import kmv_segment_overlap

        rows = [("A", i) for i in range(30)] + [("B", i + 1000) for i in range(30)]
        df = spark.createDataFrame(rows, "seg string, el long")
        r = kmv_segment_overlap(df, "seg", "el", k=256).collect()[0]
        assert r["inter_est"] == 0.0
        assert r["union_est"] == 60.0

    def test_session_gaps_udtf_empty_stream(self, spark):
        from ml_feature_store_spark.operators.sessionize import (
            register_session_gaps_udtf,
        )

        spark.createDataFrame([], "user_id long, us long").createOrReplaceTempView(
            "edge_sg_empty"
        )
        name = register_session_gaps_udtf(spark)
        assert (
            spark.sql(
                f"SELECT * FROM {name}(TABLE(edge_sg_empty) "
                "PARTITION BY user_id ORDER BY us)"
            ).count()
            == 0
        )


class TestRound6EdgeInputs:
    # -- m7: perceptual-hash pipeline pieces ---------------------------------
    def test_phash_empty_and_singleton(self, spark):
        from ml_feature_store_spark.multimodal import (
            attach_binary_payload,
            perceptual_hash_stub,
        )

        empty = attach_binary_payload(
            spark.createDataFrame([], "doc_id long, text string"), "text"
        )
        assert perceptual_hash_stub(empty).count() == 0
        one = attach_binary_payload(
            spark.createDataFrame([(1, "lonely doc")], ["doc_id", "text"]), "text"
        )
        rows = perceptual_hash_stub(one).collect()
        assert len(rows) == 1
        assert all(0 <= rows[0][f"ph_b{b}"] < 2**16 for b in range(4))

    def test_phash_identical_payloads_identical_bands(self, spark):
        from ml_feature_store_spark.multimodal import (
            attach_binary_payload,
            perceptual_hash_stub,
        )

        df = attach_binary_payload(
            spark.createDataFrame(
                [(1, "same"), (2, "same"), (3, "different")], ["doc_id", "text"]
            ),
            "text",
        )
        out = {r["doc_id"]: tuple(r[f"ph_b{b}"] for b in range(4))
               for r in perceptual_hash_stub(df).collect()}
        assert out[1] == out[2]
        assert out[1] != out[3]

    # -- g7: BFS degenerate seed sets ----------------------------------------
    def test_bfs_empty_seeds(self, spark):
        from ml_feature_store_spark.operators.graph import bfs_distances

        edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
        seeds = spark.createDataFrame([], "node string")
        assert bfs_distances(edges, seeds).count() == 0

    def test_bfs_seeds_disjoint_from_graph(self, spark):
        from ml_feature_store_spark.operators.graph import bfs_distances

        edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
        seeds = spark.createDataFrame([("z",)], ["node"])
        rows = bfs_distances(edges, seeds).collect()
        assert [(r["node"], r["dist"]) for r in rows] == [("z", 0)]

    def test_bfs_seeds_cover_graph(self, spark):
        from ml_feature_store_spark.operators.graph import bfs_distances

        edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
        seeds = spark.createDataFrame([("a",), ("b",)], ["node"])
        rows = bfs_distances(edges, seeds, max_hops=3).collect()
        assert sorted((r["node"], r["dist"]) for r in rows) == [("a", 0), ("b", 0)]

    def test_bfs_empty_edges(self, spark):
        from ml_feature_store_spark.operators.graph import bfs_distances

        edges = spark.createDataFrame([], "src string, dst string")
        seeds = spark.createDataFrame([("a",)], ["node"])
        rows = bfs_distances(edges, seeds).collect()
        assert [(r["node"], r["dist"]) for r in rows] == [("a", 0)]

    def test_bfs_no_mixed_type_coercion(self, spark):
        """Integer seed 7 must NOT match string node '07' (mixed-type
        equality would coerce both to double 7.0 — the silent-corruption
        lane the string-cast-on-both-sides fix closes)."""
        from ml_feature_store_spark.operators.graph import bfs_distances

        edges = spark.createDataFrame([("07", "x")], ["src", "dst"])
        seeds = spark.createDataFrame([(7,)], ["node"])
        rows = bfs_distances(edges, seeds).collect()
        assert [(r["node"], r["dist"]) for r in rows] == [("7", 0)]

    # -- io17/io18: hostile-CSV and custom-writer degenerate shapes ----------
    def test_csv_multiline_quote_only_field(self, spark, tmp_path):
        d = str(tmp_path / "csvml")
        df = spark.createDataFrame(
            [(1, '"'), (2, ""), (3, '",\n"')], ["id", "body"]
        )
        (df.repartition(4)  # includes empty partitions
         .write.mode("overwrite").option("header", "true")
         .option("escape", '"').csv(d))
        back = (
            spark.read.option("header", "true").option("multiLine", "true")
            .option("escape", '"').schema("id long, body string").csv(d)
        )
        got = {r["id"]: r["body"] for r in back.collect()}
        # empty string round-trips as NULL under Spark CSV defaults; the
        # quote-bearing fields must come back byte-identical
        assert got[1] == '"' and got[3] == '",\n"'
        assert got[2] in ("", None)

    def test_jsonlines_writer_empty_dataframe(self, spark, tmp_path):
        import json
        import os

        from ml_feature_store_spark.sources.pyds import JsonLinesSinkDataSource

        spark.dataSource.register(JsonLinesSinkDataSource)
        d = str(tmp_path / "empty_sink")
        spark.createDataFrame([], "id long, v long").repartition(2).write.format(
            "jsonlines_sink"
        ).option("path", d).mode("overwrite").save()
        manifest = json.load(open(os.path.join(d, "_SUCCESS")))
        assert manifest["rows"] == 0
        assert not any(f.startswith("_staging") for f in os.listdir(d))

    # -- u3: duplicate-free inputs make ALL == DISTINCT ----------------------
    def test_bag_setops_duplicate_free(self, spark):
        spark.createDataFrame(
            [("A",), ("B",), ("C",)], ["p"]
        ).createOrReplaceTempView("edge_u3_a")
        spark.createDataFrame([("B",), ("C",)], ["p"]).createOrReplaceTempView(
            "edge_u3_b"
        )
        rows = spark.sql(
            """
            SELECT 'i' AS op, p FROM
              (SELECT p FROM edge_u3_a INTERSECT ALL SELECT p FROM edge_u3_b)
            UNION ALL
            SELECT 'e' AS op, p FROM
              (SELECT p FROM edge_u3_a EXCEPT ALL SELECT p FROM edge_u3_b)
            """
        ).collect()
        got = sorted((r["op"], r["p"]) for r in rows)
        assert got == [("e", "A"), ("i", "B"), ("i", "C")]

    # -- dq13: degenerate digit domains --------------------------------------
    def test_benford_single_digit_domain(self, spark):
        """All values share leading digit 5: obs_ppm lands entirely on 5;
        sub-1 values (leading digit 0) are counted in the total but appear
        on no expected-digit row — no crash, no spurious digit row."""
        vals = spark.createDataFrame(
            [(5.1,), (55.0,), (599.9,), (0.4,)], ["amount"]
        )
        digit = F.substring(
            F.floor("amount").cast("long").cast("string"), 1, 1
        ).cast("long")
        obs = vals.select(digit.alias("digit")).groupBy("digit").agg(
            F.count("*").alias("n")
        )
        got = {r["digit"]: r["n"] for r in obs.collect()}
        assert got == {5: 3, 0: 1}

    # -- bt1: Bradley-Terry degenerate matchups ------------------------------
    def test_bradley_terry_single_pair(self, spark):
        """Two items, one smoothed matchup: the stronger item must end
        above the weaker, strengths normalized around the 1e6 mean."""
        from ml_feature_store_spark.operators.preference import bradley_terry

        m = spark.createDataFrame([("a", "b", 12, 10)], ["a", "b", "n", "w"])
        rows = {r["item"]: r for r in bradley_terry(m, iterations=3).collect()}
        assert set(rows) == {"a", "b"}
        assert rows["a"]["strength"] > rows["b"]["strength"]
        assert rows["a"]["wins"] == 10 and rows["a"]["n_matches"] == 12
        # normalization: mean strength == scale (floor-div slack of cnt)
        tot = rows["a"]["strength"] + rows["b"]["strength"]
        assert abs(tot - 2_000_000) <= 2

    def test_bradley_terry_empty(self, spark):
        from ml_feature_store_spark.operators.preference import bradley_terry

        m = spark.createDataFrame([], "a string, b string, n long, w long")
        assert bradley_terry(m, iterations=2).count() == 0

    def test_bradley_terry_dominant_item_bounded(self, spark):
        """An item that wins every smoothed match stays finite and ranked
        first; the all-losing item floors at >= 1 (never zero/negative,
        which would divide-by-zero the next round)."""
        from ml_feature_store_spark.operators.preference import bradley_terry

        m = spark.createDataFrame(
            [("a", "b", 100, 99), ("a", "c", 100, 99), ("b", "c", 100, 50)],
            ["a", "b", "n", "w"],
        )
        rows = {r["item"]: r["strength"] for r in bradley_terry(m, 4).collect()}
        assert rows["a"] > rows["b"] and rows["a"] > rows["c"]
        assert min(rows.values()) >= 1

    def test_bradley_terry_overflow_guard(self, spark):
        from ml_feature_store_spark.operators.preference import bradley_terry

        m = spark.createDataFrame(
            [("a", "b", 2**52, 2**51)], ["a", "b", "n", "w"]
        )
        with pytest.raises(ValueError, match="overflow"):
            bradley_terry(m, iterations=1)

    def test_bradley_terry_item_count_guard(self, spark):
        """The normalizer intermediate s_raw * n_items * scale grows as
        ~n_items^2 * scale^2; past ~759 items at scale=1e6 it could wrap
        int64 where the DuckDB twin would error — the guard must raise
        up front instead (ADVICE r6)."""
        from ml_feature_store_spark.operators.preference import bradley_terry

        m = spark.createDataFrame(
            [(f"a{i}", f"b{i}", 4, 2) for i in range(500)],
            ["a", "b", "n", "w"],
        )  # 1000 distinct items > the ~759-item bound at scale=1e6
        with pytest.raises(ValueError, match="n_items"):
            bradley_terry(m, iterations=1)

    # -- t18 HTML extractor: the cases that break naive strippers ------------
    def test_html_extract_escaped_markup_stays_text(self, spark):
        """&lt;script&gt; in the TEXT is escaped markup, not a block to
        drop: entities unescape AFTER tag stripping, so the extractor
        must emit the literal '<script>alert(1)</script>' string."""
        from ml_feature_store_spark.operators.text import html_main_content

        df = spark.createDataFrame(
            [("<p>safe &lt;script&gt;alert(1)&lt;/script&gt; text</p>",)],
            ["h"],
        )
        got = df.select(html_main_content(F.col("h")).alias("x")).collect()
        assert got[0]["x"] == "safe <script>alert(1)</script> text"

    def test_html_extract_drops_real_script_keeps_inline(self, spark):
        from ml_feature_store_spark.operators.text import html_main_content

        df = spark.createDataFrame(
            [(
                "<body><script>var x=1;</script><p>keep "
                "<b>bold</b>&nbsp;and <i>italic</i></p>"
                "<footer>drop this</footer></body>",
            )],
            ["h"],
        )
        got = df.select(html_main_content(F.col("h")).alias("x")).collect()
        assert got[0]["x"] == "keep bold and italic"

    def test_html_extract_multiline_blocks(self, spark):
        """(?s) dotall: nav/style blocks spanning newlines still drop."""
        from ml_feature_store_spark.operators.text import html_main_content

        df = spark.createDataFrame(
            [("<style>\np { x: 1 }\n</style>\n<p>only\n this</p>",)], ["h"]
        )
        got = df.select(html_main_content(F.col("h")).alias("x")).collect()
        assert got[0]["x"] == "only this"

    def test_html_extract_double_escaped_entity(self, spark):
        """'&amp;lt;' is a double-escaped '&lt;': one unescape pass must
        yield the literal '&lt;' text, NOT '<' — which requires '&amp;'
        to be replaced LAST (the round-8 ADVICE fix; standard HTML
        unescape ordering)."""
        from ml_feature_store_spark.operators.text import html_main_content

        df = spark.createDataFrame(
            [("<p>code: &amp;lt;tag&amp;gt; and plain &amp; amp</p>",)],
            ["h"],
        )
        got = df.select(html_main_content(F.col("h")).alias("x")).collect()
        assert got[0]["x"] == "code: &lt;tag&gt; and plain & amp"

    def test_html_extract_header_element_not_swallowed(self, spark):
        """HTML5 <header> must NOT match the <head...> block-drop regex:
        the tag name is boundary-anchored, so content between a <header>
        tag and a later literal '</head>' survives (round-8 ADVICE
        fix)."""
        from ml_feature_store_spark.operators.text import html_main_content

        df = spark.createDataFrame(
            [(
                "<html><head><title>t</title></head><body>"
                "<header class=x>site banner</header>"
                "<p>body text stays</p></body></html>",
            )],
            ["h"],
        )
        got = df.select(html_main_content(F.col("h")).alias("x")).collect()
        # <header> is inline-stripped (its text kept), not block-dropped
        assert got[0]["x"] == "site banner body text stays"

    # -- t17-class canonicalizer: degenerate query strings --------------------
    def test_url_canonicalize_all_params_tracking(self, spark):
        """Every param filtered out: the canonical form must have NO '?'
        at all (the nullif/coalesce single-evaluation lane), not a
        trailing 'url?'."""
        df = spark.createDataFrame(
            [("https://h.example.org/p?utm_a=1&utm_b=2&fbclid=z",),
             ("HTTPS://H.EXAMPLE.ORG:443/p#frag",)],
            ["url"],
        )
        no_frag = F.split(F.col("url"), "#").getItem(0)
        scheme_host = F.regexp_extract(no_frag, r"^([a-zA-Z]+://[^/?]*)", 1)
        path = F.regexp_extract(no_frag, r"^[a-zA-Z]+://[^/?]*([^?]*)", 1)
        query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
        host_c = F.regexp_replace(F.lower(scheme_host), ":443$", "")
        joined_q = F.concat_ws(
            "&",
            F.array_sort(
                F.filter(
                    F.split(query, "&"),
                    lambda p: ~p.startswith("utm_") & ~p.startswith("fbclid="),
                )
            ),
        )
        canon = F.concat(
            host_c, path,
            F.coalesce(F.concat(F.lit("?"), F.nullif(joined_q, F.lit(""))),
                       F.lit("")),
        )
        got = sorted(r[0] for r in df.select(canon).collect())
        assert got == ["https://h.example.org/p", "https://h.example.org/p"]

    # -- lab1: tie-breaks and singletons --------------------------------------
    def test_majority_vote_exact_tie_lexicographic(self, spark):
        votes = spark.createDataFrame(
            [(1, "view"), (1, "click"), (2, "buy")],
            ["user_id", "event_type"],
        )
        counts = votes.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n")
        )
        w = Window.partitionBy("user_id").orderBy(
            F.col("n").desc(), F.col("event_type").asc()
        )
        got = {
            r["user_id"]: r["event_type"]
            for r in counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        }
        # tie (1 view vs 1 click) -> lexicographically smaller label wins
        assert got == {1: "click", 2: "buy"}

    # -- f30: merge collisions and absent aliases -----------------------------
    def test_merge_into_existing_entity_and_absent_alias(self, spark, tmp_path):
        import datetime as dt

        from ml_feature_store_spark import FeatureStore

        rows = [
            ("a", dt.datetime(2024, 1, 1), 1.0),
            ("a", dt.datetime(2024, 1, 3), 3.0),
            ("b", dt.datetime(2024, 1, 2), 2.0),
        ]
        store = FeatureStore(spark, storage_path=str(tmp_path))
        store.register(
            "f",
            spark.createDataFrame(rows, ["entity_id", "timestamp", "x"]),
        )
        # 'b' merges into existing 'a' (collision: histories interleave);
        # 'ghost' maps to 'a' but has no rows (silent no-op)
        m = spark.createDataFrame(
            [("b", "a"), ("ghost", "a")], ["alias_id", "canonical_id"]
        )
        info = store.merge_entities("f", m)
        assert info.row_count == 3
        # as-of 2024-01-02T12: latest for merged 'a' is b's old row
        got = store.get("f", ["a"], dt.datetime(2024, 1, 2, 12)).collect()
        assert len(got) == 1 and got[0]["x"] == 2.0
