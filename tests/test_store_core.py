"""Port of the reference unit-test suite to the Spark engine.

Mirrors reference tests/test_core.py class-for-class (SURVEY §5):
init, register, PIT lookup (incl. the parametrized truth table and the
no-future-leakage test), training set, versioning, table management.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ml_feature_store_spark import (
    FeatureStore,
    FeatureStoreError,
    FeatureTableNotFoundError,
    FeatureValidationError,
)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


class TestFeatureStoreInit:
    def test_defaults(self, spark):
        fs = FeatureStore(spark)
        assert fs.max_versions == 10
        assert fs.table_names == []

    @pytest.mark.parametrize("bad", [0, -1])
    def test_max_versions_must_be_positive(self, spark, bad):
        with pytest.raises(ValueError):
            FeatureStore(spark, max_versions=bad)


class TestRegisterFeatures:
    def test_register_returns_metadata(self, store, feature_df):
        info = store.register("user_features", feature_df)
        assert info.name == "user_features"
        assert info.version == 1
        assert info.row_count == 5
        assert set(info.columns) == {"feature_a", "feature_b"}

    def test_reregister_bumps_version(self, store, feature_df):
        store.register("t", feature_df)
        info = store.register("t", feature_df)
        assert info.version == 2

    def test_missing_required_columns(self, store, spark):
        df = spark.createDataFrame([(1, 3), (2, 4)], ["x", "y"])
        with pytest.raises(FeatureValidationError, match="required"):
            store.register("bad", df)

    def test_empty_dataframe(self, store, spark):
        df = spark.createDataFrame(
            [], "entity_id string, timestamp timestamp, f double"
        )
        with pytest.raises(FeatureValidationError, match="empty"):
            store.register("bad", df)

    def test_non_dataframe(self, store):
        with pytest.raises(FeatureValidationError, match="DataFrame"):
            store.register("bad", {"entity_id": [1]})


class TestPointInTimeLookup:
    def test_latest_before_cutoff(self, store, feature_df):
        store.register("f", feature_df)
        out = store.get("f", ["user_1"], ts("2024-01-20")).collect()
        assert len(out) == 1
        assert out[0]["feature_a"] == 2.0

    def test_no_future_leakage(self, store, feature_df):
        store.register("f", feature_df)
        out = store.get("f", ["user_1"], ts("2024-01-10")).collect()
        assert out[0]["feature_a"] == 1.0  # not the 01-15 or 02-01 rows

    def test_multi_entity(self, store, feature_df):
        store.register("f", feature_df)
        out = {r["entity_id"]: r for r in store.get(
            "f", ["user_1", "user_2"], ts("2024-01-31")).collect()}
        assert out["user_1"]["feature_a"] == 2.0
        assert out["user_2"]["feature_a"] == 20.0

    def test_missing_entity_empty(self, store, feature_df):
        store.register("f", feature_df)
        assert store.get("f", ["ghost"], ts("2024-01-31")).count() == 0

    def test_missing_table_raises(self, store):
        with pytest.raises(FeatureTableNotFoundError):
            store.get("nope", ["a"], ts("2024-01-01"))

    def test_column_subset(self, store, feature_df):
        store.register("f", feature_df)
        out = store.get("f", ["user_1"], ts("2024-01-31"), columns=["feature_a"])
        assert out.columns == ["entity_id", "timestamp", "feature_a"]

    def test_invalid_column_raises(self, store, feature_df):
        store.register("f", feature_df)
        with pytest.raises(FeatureValidationError, match="Unknown"):
            store.get("f", ["user_1"], ts("2024-01-31"), columns=["nope"])

    @pytest.mark.parametrize(
        "cutoff,expected",
        [
            ("2024-01-01", 1.0),  # exact-match inclusivity
            ("2024-01-15", 2.0),
            ("2024-02-01", 3.0),
            ("2024-12-31", 3.0),
        ],
    )
    def test_pit_truth_table(self, store, feature_df, cutoff, expected):
        store.register("f", feature_df)
        out = store.get("f", ["user_1"], ts(cutoff)).collect()
        assert out[0]["feature_a"] == expected

    def test_tiebreak_first_input_row_wins(self, store, spark):
        """Duplicate (entity, ts): earliest input row wins (SURVEY §2.3#2)."""
        rows = [
            ("u", ts("2024-01-01"), 1.0),
            ("u", ts("2024-01-05"), 7.0),
            ("u", ts("2024-01-05"), 9.0),
        ]
        df = spark.createDataFrame(rows, ["entity_id", "timestamp", "f"]).coalesce(1)
        store.register("tie", df)
        out = store.get("tie", ["u"], ts("2024-02-01")).collect()
        assert out[0]["f"] == 7.0

    def test_string_cutoff_accepted(self, store, feature_df):
        store.register("f", feature_df)
        out = store.get("f", ["user_1"], "2024-01-20").collect()
        assert out[0]["feature_a"] == 2.0

    def test_tz_aware_cutoff_does_not_overprune_date_partitions(
        self, spark, tmp_path
    ):
        """A tz-aware cutoff with a negative UTC offset lands on the NEXT
        UTC date: 2024-01-01 22:00-05:00 == 2024-01-02 03:00 UTC. With
        date_partition=True the partition bound must be taken in the
        session tz (UTC), or the 2024-01-02 partition gets pruned and the
        qualifying 01:00 UTC row silently dropped."""
        fs = FeatureStore(spark, storage_path=str(tmp_path), date_partition=True)
        rows = [
            ("u", ts("2024-01-01 12:00:00"), 1.0),
            ("u", ts("2024-01-02 01:00:00"), 2.0),  # qualifies, next UTC date
            ("u", ts("2024-01-02 04:00:00"), 3.0),  # after cutoff
        ]
        fs.register("tz", spark.createDataFrame(rows, ["entity_id", "timestamp", "f"]))
        cutoff = dt.datetime(
            2024, 1, 1, 22, 0, tzinfo=dt.timezone(dt.timedelta(hours=-5))
        )
        out = fs.get("tz", ["u"], cutoff).collect()
        assert len(out) == 1 and out[0]["f"] == 2.0

    def test_naive_cutoff_still_prunes_and_matches(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path), date_partition=True)
        rows = [
            ("u", ts("2024-01-01 12:00:00"), 1.0),
            ("u", ts("2024-01-03 12:00:00"), 3.0),
        ]
        fs.register("tzn", spark.createDataFrame(rows, ["entity_id", "timestamp", "f"]))
        out = fs.get("tzn", ["u"], ts("2024-01-02 00:00:00")).collect()
        assert len(out) == 1 and out[0]["f"] == 1.0


class TestTrainingSet:
    def test_asof_join_rowcount_and_values(self, store, feature_df, spark):
        store.register("f", feature_df)
        spine = spark.createDataFrame(
            [("user_1", ts("2024-01-20")), ("user_2", ts("2024-01-15"))],
            ["entity_id", "timestamp"],
        )
        out = {r["entity_id"]: r for r in store.get_training_set("f", spine).collect()}
        assert len(out) == 2
        assert out["user_1"]["feature_a"] == 2.0
        # output timestamp = matched FEATURE row's ts, not spine ts
        assert out["user_1"]["timestamp"] == ts("2024-01-15")
        assert out["user_2"]["feature_a"] == 10.0
        assert out["user_2"]["timestamp"] == ts("2024-01-01")

    @pytest.mark.parametrize("strategy", ["union", "union_bucketed"])
    def test_strategies_agree(self, store, feature_df, spark, strategy):
        store.register("f", feature_df)
        spine = spark.createDataFrame(
            [
                ("user_1", ts("2024-01-01")),   # exact match inclusive
                ("user_1", ts("2024-03-01")),
                ("user_2", ts("2023-12-31")),   # before any feature -> dropped
                ("user_1", ts("2024-01-01")),   # duplicate spine row -> dup output
            ],
            ["entity_id", "timestamp"],
        )
        rows = sorted(
            store.get_training_set("f", spine, strategy=strategy).collect(),
            key=lambda r: (r["entity_id"], r["timestamp"], r["feature_a"]),
        )
        assert [r["feature_a"] for r in rows] == [1.0, 1.0, 3.0]

    def test_empty_spine_raises(self, store, feature_df, spark):
        store.register("f", feature_df)
        empty = spark.createDataFrame([], "entity_id string, timestamp timestamp")
        with pytest.raises(FeatureValidationError):
            store.get_training_set("f", empty)

    @pytest.mark.parametrize("strategy", ["jion", "join"])
    def test_unknown_strategy_refused(self, store, feature_df, spark, strategy):
        """A misspelt or retired strategy refuses up front instead of
        silently running the union plan."""
        store.register("f", feature_df)
        spine = spark.createDataFrame(
            [("user_1", ts("2024-01-15"))], ["entity_id", "timestamp"]
        )
        with pytest.raises(FeatureValidationError, match="union_bucketed"):
            store.get_training_set("f", spine, strategy=strategy)
        with pytest.raises(FeatureValidationError, match="union_bucketed"):
            store.get_multi_view_training_set(["f"], spine, strategy=strategy)


class TestVersioning:
    def _one_row(self, spark, val):
        return spark.createDataFrame(
            [("user_1", ts("2024-01-01"), val)], ["entity_id", "timestamp", "val"]
        )

    def test_get_version(self, store, spark):
        store.register("v", self._one_row(spark, 1.0))
        store.register("v", self._one_row(spark, 2.0))
        assert store.get_version("v", 1).collect()[0]["val"] == 1.0
        assert store.get_version("v", 2).collect()[0]["val"] == 2.0

    def test_missing_version_raises(self, store, spark):
        store.register("v", self._one_row(spark, 1.0))
        with pytest.raises(FeatureTableNotFoundError, match="Available versions"):
            store.get_version("v", 99)

    def test_retention_prunes_oldest(self, spark):
        fs = FeatureStore(spark, max_versions=2)
        for i in range(4):
            fs.register("v", self._one_row(spark, float(i)))
        with pytest.raises(FeatureTableNotFoundError):
            fs.get_version("v", 1)
        assert fs.get_version("v", 3).collect()[0]["val"] == 2.0
        assert fs.get_version("v", 4).collect()[0]["val"] == 3.0

    def test_parquet_backend_roundtrip(self, spark, feature_df, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path), max_versions=5)
        fs.register("p", feature_df)
        fs.register("p", feature_df)
        assert fs.get_version("p", 1).count() == 5
        out = fs.get("p", ["user_1"], ts("2024-01-20")).collect()
        assert out[0]["feature_a"] == 2.0
        # fresh store over the same path sees the table (catalog persisted)
        fs2 = FeatureStore(spark, storage_path=str(tmp_path))
        assert fs2.table_names == ["p"]
        assert fs2.get_table_info("p").version == 2


class TestDiffVersions:
    """CDC between versions: added / removed / changed keys only."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, ["entity_id", "timestamp", "val"])

    def test_added_removed_changed(self, store, spark):
        v1 = self._df(
            spark,
            [
                ("a", ts("2024-01-01"), 1.0),
                ("b", ts("2024-01-02"), 2.0),
                ("c", ts("2024-01-03"), 3.0),
            ],
        )
        v2 = self._df(
            spark,
            [
                ("a", ts("2024-01-01"), 1.0),   # unchanged
                ("b", ts("2024-01-02"), 99.0),  # changed
                ("d", ts("2024-01-04"), 4.0),   # added (c removed)
            ],
        )
        store.register("cdc", v1)
        store.register("cdc", v2)
        out = {
            (r.entity_id, r.change_type): (r.old_rows, r.new_rows)
            for r in store.diff_versions("cdc", 1, 2).collect()
        }
        assert out == {
            ("b", "changed"): (1, 1),
            ("c", "removed"): (1, 0),
            ("d", "added"): (0, 1),
        }

    def test_append_diff_is_pure_adds(self, store, spark):
        store.register("cdc2", self._df(spark, [("a", ts("2024-01-01"), 1.0)]))
        store.append("cdc2", self._df(spark, [("a", ts("2024-02-01"), 2.0)]))
        out = store.diff_versions("cdc2", 1, 2).collect()
        assert len(out) == 1 and out[0].change_type == "added"

    def test_separator_collision_detected_as_changed(self, store, spark):
        """Payloads whose concatenation is identical under a separator-based
        encoding — ('a\\x01b','c') vs ('a','b\\x01c') — are genuinely
        different rows and must classify as changed (the row hash is JSON-
        encoded, not separator-joined)."""
        cols = ["entity_id", "timestamp", "p1", "p2"]
        v1 = spark.createDataFrame([("k", ts("2024-01-01"), "a\x01b", "c")], cols)
        v2 = spark.createDataFrame([("k", ts("2024-01-01"), "a", "b\x01c")], cols)
        store.register("cdc4", v1)
        store.register("cdc4", v2)
        out = store.diff_versions("cdc4", 1, 2).collect()
        assert len(out) == 1 and out[0].change_type == "changed"

    def test_memory_store_tiebreak_stable_across_reads(self, store, spark):
        """__row_id__ is frozen at registration (localCheckpoint): repeated
        reads of a version derived from a shuffled plan must keep the same
        tie-break winner for duplicate (entity, ts) keys."""
        rows = [("u", ts("2024-01-05"), float(v)) for v in range(20)]
        df = (
            spark.createDataFrame(rows, ["entity_id", "timestamp", "f"])
            .repartition(8)  # nondeterministic row order upstream
        )
        store.register("frozen", df)
        first = store.get("frozen", ["u"], ts("2024-02-01")).collect()
        for _ in range(3):
            again = store.get("frozen", ["u"], ts("2024-02-01")).collect()
            assert again == first

    def test_duplicate_keys_compared_as_multisets(self, store, spark):
        # two identical copies of a key in v1; one copy's value changes in v2
        v1 = self._df(
            spark,
            [("a", ts("2024-01-01"), 1.0), ("a", ts("2024-01-01"), 1.0)],
        )
        v2 = self._df(
            spark,
            [("a", ts("2024-01-01"), 1.0), ("a", ts("2024-01-01"), 5.0)],
        )
        store.register("cdc3", v1)
        store.register("cdc3", v2)
        out = store.diff_versions("cdc3", 1, 2).collect()
        assert len(out) == 1
        assert out[0].change_type == "changed"
        assert (out[0].old_rows, out[0].new_rows) == (2, 2)


class TestTableManagement:
    def test_list_and_info(self, store, feature_df):
        store.register("a", feature_df)
        store.register("b", feature_df)
        assert store.table_names == ["a", "b"]
        infos = store.list_tables()
        assert {i.name for i in infos} == {"a", "b"}

    def test_delete(self, store, feature_df):
        store.register("a", feature_df)
        assert store.delete("a") is True
        assert store.delete("a") is False
        assert store.table_names == []

    def test_info_missing_raises(self, store):
        with pytest.raises(FeatureTableNotFoundError, match="Available tables"):
            store.get_table_info("nope")


class TestAppend:
    """Incremental registration (append) — versioned micro-batch ingest."""

    def test_append_bumps_version_and_unions(self, spark, store, feature_df):
        store.register("t", feature_df)
        extra = spark.createDataFrame(
            [("user_3", ts("2024-02-10"), 7.0, 700)],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        info = store.append("t", extra)
        assert info.version == 2
        assert info.row_count == 6
        got = store.get("t", ["user_1", "user_2", "user_3"], ts("2024-03-01"))
        assert got.count() == 3

    def test_append_equals_full_reregister(self, spark, store, feature_df):
        extra = spark.createDataFrame(
            [("user_1", ts("2024-02-15"), 9.0, 900)],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        store.register("a", feature_df)
        store.append("a", extra)
        store.register("b", feature_df.unionByName(extra))
        qa = store.get("a", ["user_1", "user_2"], ts("2024-03-01")).orderBy("entity_id")
        qb = store.get("b", ["user_1", "user_2"], ts("2024-03-01")).orderBy("entity_id")
        assert [r.asDict() for r in qa.collect()] == [r.asDict() for r in qb.collect()]

    def test_appended_duplicate_loses_timestamp_tie(self, spark, store, feature_df):
        """Reference tie-break (SURVEY §2.3#2): among equal (entity, ts) the
        FIRST input row wins (pandas idxmax takes the first max). An
        appended duplicate is later input, so the original row must keep
        winning — the row-id offset preserves exactly the order a full
        re-register of the concatenation would have."""
        store.register("t", feature_df)
        dup = spark.createDataFrame(
            [("user_1", ts("2024-02-01"), 99.0, 9900)],  # same ts as v1 max
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        store.append("t", dup)
        got = store.get("t", ["user_1"], ts("2024-03-01")).collect()[0]
        assert got["feature_a"] == 3.0  # original first-input row wins the tie

    def test_append_missing_table_registers(self, spark, store, feature_df):
        info = store.append("fresh", feature_df)
        assert info.version == 1 and info.row_count == 5

    def test_append_schema_mismatch_raises(self, spark, store, feature_df):
        store.register("t", feature_df)
        bad = spark.createDataFrame(
            [("user_1", ts("2024-02-10"), 1.0)],
            ["entity_id", "timestamp", "other_feature"],
        )
        with pytest.raises(FeatureValidationError):
            store.append("t", bad)

    def test_history_preserved(self, spark, store, feature_df):
        store.register("t", feature_df)
        extra = spark.createDataFrame(
            [("user_3", ts("2024-02-10"), 7.0, 700)],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        store.append("t", extra)
        assert store.get_version("t", 1).count() == 5
        assert store.get_version("t", 2).count() == 6


class TestIncrementalRollup:
    """Materialized aggregate views maintained from append deltas only."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, ["entity_id", "timestamp", "grp", "v"])

    def _rows(self, base, n, grp):
        return [
            (f"u{i}", ts("2024-01-01") + dt.timedelta(hours=base + i), grp, base + i)
            for i in range(n)
        ]

    def test_incremental_refresh_equals_full_recompute(self, store, spark):
        store.register("fact", self._df(spark, self._rows(0, 6, "a") + self._rows(10, 3, "b")))
        store.create_rollup("fact", "by_grp", ["grp"], ["v"])
        store.append("fact", self._df(spark, self._rows(100, 4, "a")))
        store.append("fact", self._df(spark, self._rows(200, 2, "c")))
        store.refresh_rollup("by_grp")
        got = {
            r.grp: (r.n_rows, r.sum_v, r.min_v, r.max_v)
            for r in store.get_rollup("by_grp").collect()
        }
        assert got == {
            "a": (10, sum(range(6)) + sum(range(100, 104)), 0, 103),
            "b": (3, sum(range(10, 13)), 10, 12),
            "c": (2, 200 + 201, 200, 201),
        }

    def test_refresh_without_appends_is_stable(self, store, spark):
        store.register("fact2", self._df(spark, self._rows(0, 5, "a")))
        store.create_rollup("fact2", "r2", ["grp"], ["v"])
        before = store.get_rollup("r2").collect()
        store.refresh_rollup("r2")
        assert store.get_rollup("r2").collect() == before

    def test_reregister_invalidates_rollup(self, store, spark):
        store.register("fact3", self._df(spark, self._rows(0, 5, "a")))
        store.create_rollup("fact3", "r3", ["grp"], ["v"])
        store.register("fact3", self._df(spark, self._rows(0, 7, "a")))
        # the rewrite flag fires before row accounting (round-10: a
        # count-preserving re-register evades the base+delta equation)
        with pytest.raises(FeatureStoreError, match="rebuild with create_rollup"):
            store.refresh_rollup("r3")

    def test_unknown_rollup_raises(self, store):
        with pytest.raises(FeatureStoreError, match="Unknown rollup"):
            store.refresh_rollup("nope")


class TestOnlineServing:
    """materialize_online / get_online — the offline/online split."""

    def test_online_matches_pit_get_at_now(self, spark, store, feature_df):
        store.register("t", feature_df)
        n = store.materialize_online("t")
        assert n == 2  # one row per entity
        online = {r["entity_id"]: r["feature_a"] for r in store.get_online("t").collect()}
        offline = {
            r["entity_id"]: r["feature_a"]
            for r in store.get("t", ["user_1", "user_2"], ts("2099-01-01")).collect()
        }
        assert online == offline

    def test_online_entity_filter_and_projection(self, spark, store, feature_df):
        store.register("t", feature_df)
        store.materialize_online("t")
        got = store.get_online("t", entity_ids=["user_2"], columns=["feature_b"]).collect()
        assert len(got) == 1
        assert set(got[0].asDict()) == {"entity_id", "timestamp", "feature_b"}
        assert got[0]["feature_b"] == 2000

    def test_online_requires_materialize(self, spark, store, feature_df):
        store.register("t", feature_df)
        with pytest.raises(FeatureTableNotFoundError):
            store.get_online("t")

    def test_online_max_age_withholds_stale_rows(self, spark, store, feature_df):
        """Serving-freshness SLA (Feast TTL at read time): rows older
        than as_of - max_age are withheld, not served stale. user_1's
        latest is 02-01, user_2's is 01-20 — a 10-day SLA at 02-05
        (bound 01-26) keeps user_1 and drops user_2."""
        store.register("t", feature_df)
        store.materialize_online("t")
        fresh = store.get_online(
            "t",
            max_age_seconds=10 * 24 * 3600,
            as_of=ts("2024-02-05"),
        ).collect()
        assert {r["entity_id"] for r in fresh} == {"user_1"}
        # SLA of 0 with as_of exactly at a feature ts keeps that row
        # (inclusive >= bound)
        exact = store.get_online(
            "t", max_age_seconds=0, as_of=ts("2024-02-01")
        ).collect()
        assert {r["entity_id"] for r in exact} == {"user_1"}
        with pytest.raises(FeatureValidationError, match="max_age_seconds"):
            store.get_online("t", max_age_seconds=-1)

    def test_online_refresh_after_append(self, spark, store, feature_df):
        store.register("t", feature_df)
        store.materialize_online("t")
        extra = spark.createDataFrame(
            [("user_1", ts("2024-03-01"), 42.0, 4200)],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        store.append("t", extra)
        store.materialize_online("t")
        got = {r["entity_id"]: r["feature_a"] for r in store.get_online("t").collect()}
        assert got["user_1"] == 42.0

    def test_online_view_hidden_from_catalog_and_cascade_deleted(
        self, spark, store, feature_df
    ):
        store.register("t", feature_df)
        store.materialize_online("t")
        assert store.table_names == ["t"]
        assert store.delete("t") is True
        assert store.table_names == []

    def test_append_on_parquet_backend(self, spark, feature_df, tmp_path):
        from ml_feature_store_spark import FeatureStore

        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("t", feature_df)
        extra = spark.createDataFrame(
            [("user_3", ts("2024-02-10"), 7.0, 700)],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        info = fs.append("t", extra)
        assert info.version == 2 and info.row_count == 6
        fs.materialize_online("t")
        assert fs.get_online("t").count() == 3


class TestMultiViewTrainingSet:
    def test_matches_per_view_asof_joins(self, store, feature_df, spark):
        """Two views: the stitched result equals independent single-view
        training sets joined on the spine key, with per-view prefixes."""
        store.register("ev", feature_df)
        other = spark.createDataFrame(
            [
                ("user_1", ts("2024-01-10"), 7.0),
                ("user_1", ts("2024-01-28"), 8.0),
                ("user_2", ts("2024-01-05"), 9.0),
            ],
            ["entity_id", "timestamp", "order_total"],
        )
        store.register("ord", other)
        spine = spark.createDataFrame(
            [("user_1", ts("2024-01-20")), ("user_2", ts("2024-01-15"))],
            ["entity_id", "timestamp"],
        )
        out = {
            r["entity_id"]: r
            for r in store.get_multi_view_training_set(["ev", "ord"], spine).collect()
        }
        assert set(out) == {"user_1", "user_2"}
        u1 = out["user_1"]
        # ev view: latest <= 01-20 is (01-15, 2.0); ord view: (01-10, 7.0)
        assert u1["ev__feature_a"] == 2.0
        assert u1["ev__timestamp"] == ts("2024-01-15")
        assert u1["ord__order_total"] == 7.0
        assert u1["ord__timestamp"] == ts("2024-01-10")
        # spine ts surfaces as the stitched `timestamp`
        assert u1["timestamp"] == ts("2024-01-20")
        u2 = out["user_2"]
        assert u2["ev__feature_a"] == 10.0
        assert u2["ord__order_total"] == 9.0

    def test_inner_semantics_drop_unmatched_views(self, store, feature_df, spark):
        store.register("ev", feature_df)
        late = spark.createDataFrame(
            [("user_1", ts("2024-01-10"), 7.0)], ["entity_id", "timestamp", "x"]
        )
        store.register("late", late)
        spine = spark.createDataFrame(
            [("user_1", ts("2024-01-20")), ("user_2", ts("2024-01-15"))],
            ["entity_id", "timestamp"],
        )
        out = store.get_multi_view_training_set(["ev", "late"], spine).collect()
        # user_2 has no 'late' row at all -> dropped by inner stitch
        assert [r["entity_id"] for r in out] == ["user_1"]

    def test_empty_names_raises(self, store, feature_df, spark):
        spine = spark.createDataFrame(
            [("user_1", ts("2024-01-20"))], ["entity_id", "timestamp"]
        )
        with pytest.raises(ValueError):
            store.get_multi_view_training_set([], spine)


class TestUpsert:
    def test_replaces_matching_keys_adds_new(self, store, feature_df, spark):
        store.register("f", feature_df)
        patch = spark.createDataFrame(
            [
                ("user_1", ts("2024-01-15"), 99.0, 999),   # corrects existing
                ("user_3", ts("2024-01-02"), 42.0, 420),   # brand new entity
            ],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        info = store.upsert("f", patch)
        assert info.version == 2
        assert info.row_count == 6  # 5 original - 1 replaced + 2 patch rows... = 6
        got = store.get("f", ["user_1"], ts("2024-01-16")).collect()[0]
        assert got["feature_a"] == 99.0
        # time travel still sees the uncorrected value
        old = store.get_version("f", 1)
        vals = {
            (r["entity_id"], r["timestamp"]): r["feature_a"] for r in old.collect()
        }
        assert vals[("user_1", ts("2024-01-15"))] == 2.0

    def test_duplicate_patch_keys_rejected(self, store, feature_df, spark):
        store.register("f", feature_df)
        bad = spark.createDataFrame(
            [
                ("user_1", ts("2024-01-15"), 1.0, 1),
                ("user_1", ts("2024-01-15"), 2.0, 2),
            ],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        with pytest.raises(FeatureValidationError):
            store.upsert("f", bad)

    def test_upsert_on_missing_table_registers(self, store, feature_df):
        info = store.upsert("fresh", feature_df)
        assert info.version == 1


class TestUpsertProperties:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def test_matches_dict_replay(self, spark, data):
        """Random base table + random patch: upsert must equal the dict
        semantics {base keys} overridden by {patch keys} (multiset for
        untouched duplicate keys in the base)."""
        import collections
        import datetime as dt

        from ml_feature_store_spark import FeatureStore

        st = self.st
        day = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
        base = data.draw(
            st.lists(
                st.tuples(
                    st.sampled_from(["a", "b", "c"]),
                    st.integers(min_value=1, max_value=5),
                    st.integers(min_value=0, max_value=99),
                ),
                min_size=1,
                max_size=12,
            )
        )
        patch_keys = data.draw(
            st.lists(
                st.tuples(
                    st.sampled_from(["a", "b", "c", "d"]),
                    st.integers(min_value=1, max_value=5),
                ),
                min_size=1,
                max_size=6,
                unique=True,
            )
        )
        patch = [(e, d, 1000 + i) for i, (e, d) in enumerate(patch_keys)]

        fs = FeatureStore(spark)
        fs.register(
            "t",
            spark.createDataFrame(
                [(e, day(d), float(v)) for e, d, v in base],
                ["entity_id", "timestamp", "x"],
            ),
        )
        fs.upsert(
            "t",
            spark.createDataFrame(
                [(e, day(d), float(v)) for e, d, v in patch],
                ["entity_id", "timestamp", "x"],
            ),
        )
        got = collections.Counter(
            (r["entity_id"], r["timestamp"], r["x"])
            for r in fs.get_version("t", 2).collect()
        )
        keyset = set(patch_keys)
        want = collections.Counter(
            (e, day(d), float(v)) for e, d, v in base if (e, d) not in keyset
        )
        want.update((e, day(d), float(v)) for e, d, v in patch)
        assert got == want


class TestLeftTrainingSet:
    def test_left_keeps_unmatched_spine(self, store, feature_df, spark):
        store.register("f", feature_df)
        spine = spark.createDataFrame(
            [("user_1", ts("2024-01-20")), ("user_9", ts("2024-01-15"))],
            ["entity_id", "timestamp"],
        )
        out = {
            r["entity_id"]: r["feature_a"]
            for r in store.get_training_set("f", spine, how="left").collect()
        }
        assert out == {"user_1": 2.0, "user_9": None}


class TestExpireFeatures:
    def test_drops_old_rows_keeps_history(self, store, feature_df):
        store.register("f", feature_df)
        info = store.expire_features("f", ts("2024-01-10"))
        assert info.version == 2
        assert info.row_count == 3  # rows on/after 01-10: 01-15, 02-01, 01-20
        # pre-expiry version still time-travelable
        assert store.get_version("f", 1).count() == 5
        # PIT get over the live version no longer sees expired rows
        got = store.get("f", ["user_2"], ts("2024-01-10")).collect()
        assert got == []

    def test_refuses_to_empty_table(self, store, feature_df):
        store.register("f", feature_df)
        with pytest.raises(FeatureValidationError):
            store.expire_features("f", ts("2030-01-01"))

    def test_accepts_iso_string(self, store, feature_df):
        store.register("f", feature_df)
        info = store.expire_features("f", "2024-01-02")
        # both entities' 2024-01-01 rows expire; 01-15, 01-20, 02-01 remain
        assert info.row_count == 3


class TestEraseEntities:
    def test_erases_across_all_versions_and_online(self, spark, tmp_path, feature_df):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("f", feature_df)
        fs.append("f", feature_df.limit(1))  # second version
        fs.materialize_online("f")
        removed = fs.erase_entities("f", ["user_1"])
        # version 1: 3 user_1 rows; version 2: 4 (3 + appended copy);
        # online snapshot: 1 (latest-per-entity)
        assert removed[("f", 1)] == 3
        assert removed[("f", 2)] == 4
        assert removed[("f__online", 1)] == 1
        # erasure is NOT copy-on-write: time travel can no longer see them
        for v in (1, 2):
            assert (
                fs.get_version("f", v).filter(F.col("entity_id") == "user_1").count()
                == 0
            )
        assert fs.get_online("f").filter(F.col("entity_id") == "user_1").count() == 0
        # the other entity's history is intact
        assert fs.get_version("f", 1).count() == 2

    def test_unaffected_versions_not_rewritten(self, spark, tmp_path, feature_df):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("f", feature_df)
        before = fs._backend.meta("f").updated_at
        removed = fs.erase_entities("f", ["ghost_entity"])
        assert removed == {}  # no matching rows anywhere -> zero rewrites
        assert fs._backend.meta("f").updated_at == before
        assert fs.get_version("f", 1).count() == 5

    def test_erase_all_rows_leaves_empty_version(self, store, feature_df):
        store.register("f", feature_df)
        removed = store.erase_entities("f", ["user_1", "user_2"])
        assert removed[("f", 1)] == 5
        assert store.get_version("f", 1).count() == 0

    def test_empty_id_list_rejected(self, store, feature_df):
        store.register("f", feature_df)
        with pytest.raises(FeatureValidationError):
            store.erase_entities("f", [])

    def test_memory_backend_parity(self, store, feature_df):
        store.register("f", feature_df)
        removed = store.erase_entities("f", ["user_2"])
        assert removed[("f", 1)] == 2
        assert store.get("f", ["user_2"], ts("2024-03-01")).collect() == []


class TestCompactVersion:
    def test_compacts_files_preserving_rows_and_pit(self, spark, tmp_path, feature_df):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("f", feature_df.repartition(8))  # small-file ingest shape
        before = fs.get("f", ["user_1", "user_2"], ts("2024-03-01")).collect()
        rep = fs.compact_version("f", target_files=1)
        assert rep["version"] == 1 and rep["rows"] == 5
        assert rep["files_before"] >= 2 and rep["files_after"] == 1
        after = fs.get("f", ["user_1", "user_2"], ts("2024-03-01")).collect()
        assert sorted(before) == sorted(after)

    def test_defaults_to_latest_version(self, spark, tmp_path, feature_df):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("f", feature_df)
        fs.append("f", feature_df.limit(1).repartition(4))
        rep = fs.compact_version("f")
        assert rep["version"] == 2 and rep["rows"] == 6

    def test_missing_version_and_bad_target_rejected(self, spark, tmp_path, feature_df):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("f", feature_df)
        with pytest.raises(FeatureTableNotFoundError):
            fs.compact_version("f", version=99)
        with pytest.raises(FeatureValidationError):
            fs.compact_version("f", target_files=0)

    def test_memory_backend_reports_none_files(self, store, feature_df):
        store.register("f", feature_df)
        rep = store.compact_version("f")
        assert rep["rows"] == 5
        assert rep["files_before"] is None and rep["files_after"] is None


class TestTrainingSetNearest:
    def test_nearest_direction_picks_closest_either_side(self, store, feature_df):
        store.register("f", feature_df)
        # spine at 2024-01-10: user_1 has rows at 01-01 (9d back) and
        # 01-15 (5d forward) -> nearest is the FUTURE row
        spine = feature_df.sparkSession.createDataFrame(
            [("user_1", ts("2024-01-10"))], ["entity_id", "timestamp"]
        )
        (row,) = store.get_training_set("f", spine, direction="nearest").collect()
        assert row.feature_a == 2.0 and row.timestamp == ts("2024-01-15")
        # backward default would have taken the 01-01 row
        (brow,) = store.get_training_set("f", spine).collect()
        assert brow.feature_a == 1.0

    def test_nearest_tolerance_drops_far_rows(self, store, feature_df):
        store.register("f", feature_df)
        spine = feature_df.sparkSession.createDataFrame(
            [("user_1", ts("2024-03-01"))], ["entity_id", "timestamp"]
        )  # nearest row (02-01) is 29 days away
        got = store.get_training_set(
            "f", spine, direction="nearest", tolerance_seconds=86400.0
        ).collect()
        assert got == []

    def test_bad_direction_rejected(self, store, feature_df):
        store.register("f", feature_df)
        spine = feature_df.limit(1).select("entity_id", "timestamp")
        with pytest.raises(FeatureValidationError):
            store.get_training_set("f", spine, direction="forward")


class TestMergeEntities:
    def _map(self, spark, rows):
        return spark.createDataFrame(rows, ["alias_id", "canonical_id"])

    def test_merge_unifies_history_copy_on_write(self, store, feature_df, spark):
        store.register("f", feature_df)
        info = store.merge_entities("f", self._map(spark, [("user_2", "user_1")]))
        assert info.version == 2
        assert info.row_count == 5  # merge never drops rows
        # PIT over the merged entity sees BOTH histories interleaved:
        # latest <= 2024-01-25 is user_2's old 2024-01-20 row
        got = store.get("f", ["user_1"], ts("2024-01-25")).collect()
        assert len(got) == 1 and got[0]["feature_a"] == 20.0
        # ...and latest overall is user_1's own 2024-02-01 row
        got = store.get("f", ["user_1"], ts("2024-02-05")).collect()[0]
        assert got["feature_a"] == 3.0
        # alias id is gone from the current version
        assert store.get("f", ["user_2"], ts("2024-02-05")).count() == 0
        # time travel still sees the pre-merge identities
        v1 = store.get_version("f", 1)
        assert v1.filter(v1.entity_id == "user_2").count() == 2

    def test_unmapped_entities_untouched(self, store, feature_df, spark):
        store.register("f", feature_df)
        store.merge_entities("f", self._map(spark, [("user_9", "user_1")]))
        got = store.get("f", ["user_2"], ts("2024-02-05")).collect()[0]
        assert got["feature_a"] == 20.0

    def test_guardrails(self, store, feature_df, spark):
        store.register("f", feature_df)
        with pytest.raises(FeatureValidationError, match="empty"):
            store.merge_entities(
                "f",
                spark.createDataFrame(
                    [], "alias_id string, canonical_id string"
                ),
            )
        with pytest.raises(FeatureValidationError, match="multiple"):
            store.merge_entities(
                "f", self._map(spark, [("a", "b"), ("a", "c")])
            )
        with pytest.raises(FeatureValidationError, match="chains"):
            store.merge_entities(
                "f", self._map(spark, [("a", "b"), ("b", "c")])
            )
        with pytest.raises(FeatureValidationError, match="alias_id"):
            store.merge_entities("f", feature_df)
        # NULLs would be silently ignored downstream (a NULL alias never
        # joins; a NULL canonical coalesces back) — must raise instead
        null_schema = "alias_id string, canonical_id string"
        with pytest.raises(FeatureValidationError, match="NULL"):
            store.merge_entities(
                "f",
                spark.createDataFrame([(None, "b"), ("c", "d")], null_schema),
            )
        with pytest.raises(FeatureValidationError, match="NULL"):
            store.merge_entities(
                "f", spark.createDataFrame([("a", None)], null_schema)
            )

    def test_tiebreak_preserved_across_merge(self, store, spark):
        """Two merged histories sharing an exact timestamp: the winner is
        the row with the smaller ORIGINAL ingest row id (user_a registered
        first), proving __row_id__ survives the merge."""
        rows = [
            ("user_a", ts("2024-01-10"), 1.0),
            ("user_b", ts("2024-01-10"), 2.0),
        ]
        df = spark.createDataFrame(rows, ["entity_id", "timestamp", "x"])
        store.register("f", df)
        store.merge_entities("f", self._map(spark, [("user_b", "user_a")]))
        got = store.get("f", ["user_a"], ts("2024-01-11")).collect()
        assert len(got) == 1 and got[0]["x"] == 1.0


class TestIngestDataContract:
    """register(checks=...) — the dbt-test/Great-Expectations gate applied
    at ingest, where it can still refuse the write."""

    def test_passing_contract_publishes(self, store, feature_df):
        info = store.register(
            "f",
            feature_df,
            checks={
                "a_positive": "feature_a > 0",
                "b_bounded": "feature_b BETWEEN 0 AND 10000",
            },
        )
        assert info.version == 1 and info.row_count == 5

    def test_violations_counted_and_refused(self, store, feature_df):
        with pytest.raises(FeatureValidationError) as ei:
            store.register(
                "f",
                feature_df,
                checks={
                    "a_big": "feature_a >= 3.0",  # 2 of 5 rows violate
                    "b_bounded": "feature_b < 2000",  # 1 row violates
                },
            )
        msg = str(ei.value)
        assert "'a_big': 2" in msg and "'b_bounded': 1" in msg
        # nothing was published
        assert store.table_names == []

    def test_null_check_result_is_violation(self, store, spark):
        """Three-valued logic must not wave rows through: NULL > 0 is
        NULL, and a check that cannot judge a row has not passed it."""
        df = spark.createDataFrame(
            [("u1", dt.datetime(2024, 1, 1), None), ("u2", dt.datetime(2024, 1, 1), 2.0)],
            "entity_id string, timestamp timestamp, v double",
        )
        with pytest.raises(FeatureValidationError, match="'v_pos': 1"):
            store.register("f", df, checks={"v_pos": "v > 0"})


class TestTimestampTimeTravel:
    def test_asof_resolves_latest_version_at_time(self, store, feature_df, spark):
        import datetime as dt

        store.register("f", feature_df)
        t_mid = dt.datetime.now(dt.timezone.utc)
        store.register("f", feature_df.limit(1))  # v2, after t_mid
        v_at_mid = store.get_version_asof("f", t_mid)
        assert v_at_mid.count() == 5  # v1 content
        v_now = store.get_version_asof("f", dt.datetime.now(dt.timezone.utc))
        assert v_now.count() == 1  # v2 content
        # ISO-string input resolves the same
        assert store.get_version_asof("f", t_mid.isoformat()).count() == 5
        # airtight ordering guarantee behind the wall-clock capture: the
        # version records' created_at stamps are strictly monotonic and
        # straddle t_mid — a pathological clock step between register and
        # capture would surface HERE, not as a silent mis-resolution
        # (round-6 verdict nit on the f31 witness)
        meta = store._backend.meta("f")
        c1 = meta.versions[1].created_at
        c2 = meta.versions[2].created_at
        assert c1 <= t_mid.isoformat() <= c2, (c1, t_mid.isoformat(), c2)

    def test_asof_before_first_version_raises(self, store, feature_df):
        import datetime as dt

        store.register("f", feature_df)
        with pytest.raises(FeatureTableNotFoundError, match="No version"):
            store.get_version_asof("f", dt.datetime(2000, 1, 1))

    def test_asof_naive_datetime_is_utc(self, store, feature_df):
        import datetime as dt

        store.register("f", feature_df)
        # a naive 'now' read as UTC must see v1 (created moments ago)
        got = store.get_version_asof(
            "f", dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        )
        assert got.count() == 5


class TestOnlineOfflineAuditSensitivity:
    def test_stale_online_snapshot_is_detected(self, store, feature_df, spark):
        """The f28-style audit must FLAG divergence, not just report zero
        on agreement: materialize the online view, then register a v2
        that changes an entity's latest row WITHOUT re-materializing —
        the stale snapshot now disagrees with the training lane and the
        null-safe compare counts it."""
        store.register("f", feature_df)
        store.materialize_online("f")
        # v2: user_1 gains a newer row the online snapshot doesn't have
        v2 = feature_df.union(
            spark.createDataFrame(
                [("user_1", ts("2024-03-01"), 99.0, 990)],
                ["entity_id", "timestamp", "feature_a", "feature_b"],
            )
        )
        store.register("f", v2)
        online = store.get_online("f").select(
            "entity_id",
            F.col("timestamp").alias("o_ts"),
            F.col("feature_a").alias("o_a"),
        )
        spine = v2.select("entity_id").distinct().withColumn(
            "timestamp", F.lit("2030-01-01").cast("timestamp")
        )
        offline = store.get_training_set("f", spine).select(
            "entity_id", "timestamp", "feature_a"
        )
        cmp = online.join(offline, "entity_id", "full_outer")
        bad = (
            F.col("o_ts").isNull()
            | F.col("timestamp").isNull()
            | ~F.col("o_ts").eqNullSafe(F.col("timestamp"))
            | ~F.col("o_a").eqNullSafe(F.col("feature_a"))
        )
        n_bad = cmp.agg(F.sum(F.when(bad, 1).otherwise(0)).alias("n")).collect()[0]["n"]
        assert n_bad == 1  # exactly the drifted entity
        # re-materializing clears the skew
        store.materialize_online("f")
        online2 = store.get_online("f").select(
            "entity_id",
            F.col("timestamp").alias("o_ts"),
            F.col("feature_a").alias("o_a"),
        )
        cmp2 = online2.join(offline, "entity_id", "full_outer")
        n_bad2 = cmp2.agg(
            F.sum(F.when(bad, 1).otherwise(0)).alias("n")
        ).collect()[0]["n"]
        assert n_bad2 == 0
