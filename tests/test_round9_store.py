"""Round-9 store hardening: crash-atomic registry/snapshot writes, the
NO_TTL per-call opt-out sentinel, drop_rollup + re-create, and the
one-job register (row count observed on the write action)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import jobs_run_by
from ml_feature_store_spark import (
    NO_TTL,
    FeatureStore,
    FeatureValidationError,
)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


class TestAtomicRegistryWrites:
    """Kill-simulation: a crash mid-save must leave either the OLD
    registry or the NEW one on disk — never a truncated JSON that
    bricks every later FeatureStore open with a parse error."""

    def _store(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("t", self._df(spark), ttl_seconds=3600)
        return fs

    @staticmethod
    def _df(spark):
        rows = [("e1", ts("2024-01-01"), 1.0), ("e2", ts("2024-01-02"), 2.0)]
        return spark.createDataFrame(rows, ["entity_id", "timestamp", "f"])

    def test_crash_during_replace_preserves_old_registry(
        self, spark, tmp_path, monkeypatch
    ):
        fs = self._store(spark, tmp_path)
        reg = tmp_path / "_registry.json"
        before = reg.read_text()
        # simulate the process dying between the temp write and the
        # rename: os.replace never happens
        real_replace = os.replace

        def boom(src, dst):
            if str(dst).endswith("_registry.json"):
                raise OSError("simulated crash before rename")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", boom)
        with pytest.raises(OSError, match="simulated crash"):
            fs.create_derived_view("dv_crash", ["t"], {"g": "t__f * 2"})
        monkeypatch.undo()
        # the target file is byte-identical to the pre-crash state and
        # still parses; no orphan temp files accumulate
        assert reg.read_text() == before
        json.loads(reg.read_text())
        assert not list(tmp_path.glob("_registry.json.*.tmp"))
        # a fresh open sees the old spec state, not an error
        fs2 = FeatureStore(spark, storage_path=str(tmp_path))
        assert fs2.get_view_ttl("t") == 3600.0

    def test_snapshot_save_is_atomic_too(self, spark, tmp_path, monkeypatch):
        fs = self._store(spark, tmp_path)
        fs.snapshot(description="base")
        snaps = tmp_path / "_snapshots.json"
        before = snaps.read_text()
        real_replace = os.replace

        def boom(src, dst):
            if str(dst).endswith("_snapshots.json"):
                raise OSError("simulated crash before rename")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", boom)
        with pytest.raises(OSError, match="simulated crash"):
            fs.snapshot(description="second")
        monkeypatch.undo()
        assert snaps.read_text() == before
        json.loads(snaps.read_text())
        fs2 = FeatureStore(spark, storage_path=str(tmp_path))
        assert [m.description for m in fs2.list_snapshots()] == ["base"]

    def test_registry_file_valid_after_normal_save(self, spark, tmp_path):
        fs = self._store(spark, tmp_path)
        fs.create_derived_view("dv", ["t"], {"g": "t__f * 2"})
        raw = json.loads((tmp_path / "_registry.json").read_text())
        assert "dv" in raw["derived"]
        assert not list(tmp_path.glob("_registry.json.*.tmp"))


class TestNoTtlSentinel:
    @staticmethod
    def _df(spark):
        rows = [
            ("e1", ts("2024-01-01"), 1.0),
            ("e1", ts("2024-06-01"), 2.0),
            ("e2", ts("2024-01-01"), 10.0),
        ]
        return spark.createDataFrame(rows, ["entity_id", "timestamp", "f"])

    def test_get_online_no_ttl_disables_freshness_bound(self, spark, store):
        # 1-hour TTL: at an as_of far past the data, the TTL withholds
        # every row; NO_TTL must serve the snapshot anyway
        store.register("v", self._df(spark), ttl_seconds=3600)
        store.materialize_online("v")
        far = ts("2025-01-01")
        assert store.get_online("v", as_of=far).count() == 0
        got = store.get_online("v", as_of=far, max_age_seconds=NO_TTL)
        assert got.count() == 2  # one latest row per entity
        vals = {r.entity_id: r.f for r in got.collect()}
        assert vals == {"e1": 2.0, "e2": 10.0}

    def test_training_set_no_ttl_unbounds_lookback(self, spark, store):
        store.register("v", self._df(spark), ttl_seconds=3600)
        spine = spark.createDataFrame(
            [("e1", ts("2025-01-01"))], ["entity_id", "timestamp"]
        )
        bounded = store.get_training_set("v", spine)
        assert bounded.filter(F.col("f").isNotNull()).count() == 0
        unbounded = store.get_training_set(
            "v", spine, tolerance_seconds=NO_TTL
        )
        assert [r.f for r in unbounded.collect()] == [2.0]

    def test_register_rejects_non_finite_ttl(self, spark, store):
        with pytest.raises(FeatureValidationError, match="finite"):
            store.register("v", self._df(spark), ttl_seconds=float("inf"))
        with pytest.raises(FeatureValidationError, match="finite"):
            store.register("v", self._df(spark), ttl_seconds=float("nan"))


class TestDropRollup:
    def test_drop_and_recreate_rollup(self, spark, store):
        rows = [("e1", ts("2024-01-01"), "a", 1.0), ("e2", ts("2024-01-02"), "b", 2.0)]
        df = spark.createDataFrame(
            rows, ["entity_id", "timestamp", "grp", "val"]
        )
        store.register("src", df)
        store.create_rollup("src", "r", ["grp"], ["val"])
        rname = "r" + store._ROLLUP_SUFFIX
        # list_tables must tolerate the keyless rollup state table in the
        # catalog (it CRASHED before the round-9 _entity_key_cols guard)
        assert rname in [i.name for i in store.list_tables()]
        assert store.get_table_info(rname).entity_columns == ("entity_id",)
        store.drop_rollup("r")
        assert not store._backend.exists(rname)
        # re-create cleanly: the state table restarts at version 1 and
        # the rollup serves the source's groups
        store.create_rollup("src", "r", ["grp"], ["val"])
        assert store.get_table_info(rname).version == 1
        assert sorted(r.grp for r in store.get_rollup("r").collect()) == [
            "a", "b"
        ]


class TestExportOnline:
    """export_online: the online snapshot through the exactly-once
    two-phase sink (the io18 contract, reused for KV bulk-load
    export)."""

    @staticmethod
    def _df(spark):
        rows = [
            ("e1", ts("2024-01-01"), 1.5),
            ("e1", ts("2024-02-01"), 2.5),
            ("e2", ts("2024-01-10"), 10.0),
        ]
        return spark.createDataFrame(rows, ["entity_id", "timestamp", "f"])

    def test_jsonlines_roundtrip_with_manifest(self, spark, store, tmp_path):
        store.register("v", self._df(spark))
        store.materialize_online("v")
        d = str(tmp_path / "kv")
        n = store.export_online("v", d)
        assert n == 2
        manifest = json.loads((tmp_path / "kv" / "_SUCCESS").read_text())
        assert manifest["rows"] == 2
        back = spark.read.schema("entity_id string, timestamp string, f double").json(
            d + "/part-*.jsonl"
        )
        got = {r.entity_id: (r.timestamp, r.f) for r in back.collect()}
        assert got == {
            "e1": ("2024-02-01T00:00:00.000000", 2.5),
            "e2": ("2024-01-10T00:00:00.000000", 10.0),
        }

    def test_parquet_export_observed_count(self, spark, store, tmp_path):
        store.register("v", self._df(spark))
        store.materialize_online("v")
        d = str(tmp_path / "pq")
        n = store.export_online("v", d, format="parquet")
        assert n == 2
        assert spark.read.parquet(d).count() == 2

    def test_ttl_and_entity_filter_apply(self, spark, store, tmp_path):
        store.register("v", self._df(spark))
        store.materialize_online("v")
        d = str(tmp_path / "kv2")
        n = store.export_online(
            "v", d, entity_ids=["e1"], as_of=ts("2024-02-02"),
            max_age_seconds=7 * 24 * 3600,
        )
        assert n == 1  # e2's latest row is stale under the 7d SLA

    def test_failed_export_promotes_nothing(self, spark, store, tmp_path):
        """Crash contract: a job that dies mid-write leaves stray staged
        files that are NEVER promoted — no part files, no _SUCCESS, so a
        manifest-keyed KV loader cannot load a partial snapshot."""
        import datetime as _dt

        rows = [("e1", ts("2024-01-01"), _dt.date(2024, 1, 1))]
        df = spark.createDataFrame(
            rows, ["entity_id", "timestamp", "d"]
        )
        store.register("v", df)
        store.materialize_online("v")
        d = tmp_path / "kv3"
        # json.dumps cannot serialize a date -> every task attempt fails,
        # the job aborts, and the writer's abort() fires
        with pytest.raises(Exception):
            store.export_online("v", str(d))
        if d.exists():
            assert not list(d.glob("part-*.jsonl"))
            assert not (d / "_SUCCESS").exists()

    def test_unknown_format_refused(self, spark, store, tmp_path):
        store.register("v", self._df(spark))
        store.materialize_online("v")
        with pytest.raises(FeatureValidationError, match="unknown format"):
            store.export_online("v", str(tmp_path / "x"), format="avro")

    def test_requires_materialization(self, spark, store, tmp_path):
        from ml_feature_store_spark import FeatureTableNotFoundError

        store.register("v", self._df(spark))
        with pytest.raises(FeatureTableNotFoundError, match="online"):
            store.export_online("v", str(tmp_path / "x"))


class TestSavedDatasets:
    """Feast SavedDataset parity: materialize a training set by name
    with provenance; retrieval is a plain scan, stable across processes
    and across source mutations."""

    @staticmethod
    def _spine(spark):
        return spark.createDataFrame(
            [("user_1", ts("2024-01-20")), ("user_2", ts("2024-01-25"))],
            ["entity_id", "timestamp"],
        )

    def test_roundtrip_and_provenance(self, spark, store, feature_df):
        store.register("t", feature_df)
        spec = store.create_saved_dataset(
            "train_v1", "t", self._spine(spark), description="jan cut"
        )
        assert spec["views"] == {"t": 1}
        assert spec["row_count"] == 2
        got = {
            r.entity_id: r.feature_a
            for r in store.get_saved_dataset("train_v1").collect()
        }
        assert got == {"user_1": 2.0, "user_2": 20.0}
        info = store.get_saved_dataset_info("train_v1")
        assert info["description"] == "jan cut"
        assert store.list_saved_datasets() == ["train_v1"]

    def test_frozen_against_source_mutation(self, spark, store, feature_df):
        store.register("t", feature_df)
        store.create_saved_dataset("d", "t", self._spine(spark))
        # mutate the source AFTER saving: re-register with shifted values
        store.register(
            "t",
            feature_df.withColumn("feature_a", F.col("feature_a") + 100),
        )
        got = {
            r.entity_id: r.feature_a
            for r in store.get_saved_dataset("d").collect()
        }
        assert got == {"user_1": 2.0, "user_2": 20.0}  # unchanged
        # even deleting the source leaves the materialized artifact intact
        store.delete("t", cascade=True)
        assert store.get_saved_dataset("d").count() == 2

    def test_survives_reopen(self, spark, feature_df, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("t", feature_df)
        fs.create_saved_dataset("d", "t", self._spine(spark))
        fs2 = FeatureStore(spark, storage_path=str(tmp_path))
        assert fs2.list_saved_datasets() == ["d"]
        assert fs2.get_saved_dataset_info("d")["views"] == {"t": 1}
        got = {
            r.entity_id: r.feature_a
            for r in fs2.get_saved_dataset("d").collect()
        }
        assert got == {"user_1": 2.0, "user_2": 20.0}

    def test_multi_view_build(self, spark, store, feature_df):
        store.register("a", feature_df)
        store.register(
            "b", feature_df.withColumn("feature_a", F.col("feature_a") * 10)
        )
        store.create_saved_dataset(
            "mv", ["a", "b"], self._spine(spark), how="inner"
        )
        row = (
            store.get_saved_dataset("mv")
            .filter(F.col("entity_id") == "user_1")
            .collect()[0]
        )
        assert row.a__feature_a == 2.0
        assert row.b__feature_a == 20.0

    def test_name_collision_refused_and_drop(self, spark, store, feature_df):
        store.register("t", feature_df)
        store.create_saved_dataset("d", "t", self._spine(spark))
        with pytest.raises(FeatureValidationError, match="already exists"):
            store.create_saved_dataset("d", "t", self._spine(spark))
        assert store.drop_saved_dataset("d") is True
        assert store.drop_saved_dataset("d") is False
        assert store.list_saved_datasets() == []
        # the materialized table is gone too; recreation starts clean
        store.create_saved_dataset("d", "t", self._spine(spark))
        assert store.get_saved_dataset("d").count() == 2

    def test_hidden_from_catalog(self, spark, store, feature_df):
        store.register("t", feature_df)
        store.create_saved_dataset("d", "t", self._spine(spark))
        assert store.table_names == ["t"]


class TestOneJobRegister:
    def test_register_runs_exactly_one_job(self, spark, feature_df):
        # build the input before the gate so createDataFrame's own work
        # cannot be attributed to register
        feature_df.count()
        fs = FeatureStore(spark)
        jobs = jobs_run_by(spark, lambda: fs.register("one_job", feature_df))
        assert jobs == 1, (
            f"register ran {jobs} jobs; the row count must ride the "
            "write action as an observed metric, not a separate count()"
        )
        info = fs.get_table_info("one_job")
        assert info.row_count == 5

    def test_register_parquet_backend_one_job(self, spark, feature_df, tmp_path):
        feature_df.count()
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        assert jobs_run_by(spark, lambda: fs.register("one_job", feature_df)) == 1
        info = fs.get_table_info("one_job")
        assert info.row_count == 5

    def test_empty_register_rolls_back_unpublished(
        self, spark, store, feature_df
    ):
        df = spark.createDataFrame(
            [], "entity_id string, timestamp timestamp, f double"
        )
        with pytest.raises(FeatureValidationError, match="empty"):
            store.register("ghost", df)
        # the rollback leaves NO trace: no table, no version, and a
        # later register of the name starts at version 1
        assert "ghost" not in store.table_names
        assert not store._backend.exists("ghost")
        assert store.register("ghost", feature_df).version == 1

    def test_empty_reregister_keeps_previous_version(
        self, spark, store, feature_df
    ):
        store.register("t", feature_df)
        empty = spark.createDataFrame(
            [], "entity_id string, timestamp timestamp, "
            "feature_a double, feature_b bigint"
        )
        with pytest.raises(FeatureValidationError, match="empty"):
            store.register("t", empty)
        info = store.get_table_info("t")
        assert info.version == 1
        assert info.row_count == 5
        assert store._current("t").count() == 5

    def test_empty_register_parquet_no_trace(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        df = spark.createDataFrame(
            [], "entity_id string, timestamp timestamp, f double"
        )
        with pytest.raises(FeatureValidationError, match="empty"):
            fs.register("ghost", df)
        assert "ghost" not in fs.table_names
        # and a fresh open agrees (nothing was published to disk meta)
        fs2 = FeatureStore(spark, storage_path=str(tmp_path))
        assert "ghost" not in fs2.table_names

    def test_append_observed_count_is_exact(self, spark, store, feature_df):
        store.register("t", feature_df)
        extra = spark.createDataFrame(
            [("user_3", ts("2024-03-01"), 9.0, 900)],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        info = store.append("t", extra)
        assert info.row_count == 6
        assert store._current("t").count() == 6


class TestMaxRowIdMetadata:
    """The __row_id__ upper bound rides every publish as an observed
    metric; append/materialize/rollup watermarks read it from version
    metadata instead of scanning history. Correctness bar: ids stay
    strictly unique through mutation chains, and a metadata-driven
    append produces the same tie-break order as a scan-driven one."""

    def test_publish_records_max_row_id(self, spark, store, feature_df):
        store.register("t", feature_df)
        st = store._backend.meta("t")
        rec = st.versions[st.version]
        assert rec.max_row_id is not None
        actual = store._current("t").agg(F.max("__row_id__")).collect()[0][0]
        assert rec.max_row_id == actual

    def test_ids_unique_through_mutation_chain(self, spark, store, feature_df):
        store.register("t", feature_df)
        extra = spark.createDataFrame(
            [("user_3", ts("2024-03-01"), 9.0, 900)],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        store.append("t", extra)
        patch = spark.createDataFrame(
            [("user_1", ts("2024-01-15"), 99.0, 99)],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        store.upsert("t", patch)  # regenerates ids
        store.append("t", extra.withColumn("feature_a", F.lit(7.0)))
        cur = store._current("t")
        n = cur.count()
        assert cur.select("__row_id__").distinct().count() == n

    def test_legacy_version_without_bound_falls_back_to_scan(
        self, spark, store, feature_df
    ):
        store.register("t", feature_df)
        st = store._backend.meta("t")
        st.versions[st.version].max_row_id = None  # simulate legacy meta
        extra = spark.createDataFrame(
            [("user_9", ts("2024-03-01"), 1.0, 1)],
            ["entity_id", "timestamp", "feature_a", "feature_b"],
        )
        info = store.append("t", extra)
        assert info.row_count == 6
        cur = store._current("t")
        assert cur.select("__row_id__").distinct().count() == 6

    def test_expire_empty_refusal_rolls_back(self, spark, store, feature_df):
        store.register("t", feature_df)
        with pytest.raises(FeatureValidationError, match="drop every"):
            store.expire_features("t", ts("2030-01-01"))
        info = store.get_table_info("t")
        assert info.version == 1
        assert info.row_count == 5


class TestSchemaWideningAppend:
    """append(allow_new_columns=True) — the feature-view evolution path:
    history null-backfills new columns in the NEW version only; earlier
    versions keep the narrow schema for time travel; widening without
    the flag and shrinking in any form are refused; the incremental-
    online watermark is invalidated (snapshot schema no longer matches
    history)."""

    @staticmethod
    def _frames(spark):
        base = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 1.0), ("u2", ts("2024-01-02"), 2.0)],
            ["entity_id", "timestamp", "a"],
        )
        wide = spark.createDataFrame(
            [("u1", ts("2024-02-01"), 3.0, 30), ("u3", ts("2024-02-02"), 4.0, 40)],
            ["entity_id", "timestamp", "a", "b"],
        )
        return base, wide

    def test_widening_backfills_nulls_and_time_travels(self, spark, store):
        base, wide = self._frames(spark)
        store.register("t", base)
        info = store.append("t", wide, allow_new_columns=True)
        assert info.version == 2 and info.row_count == 4
        v2 = {r.entity_id: r for r in store.get_version("t", 2).collect()}
        assert v2["u2"].b is None  # history null-backfilled
        assert v2["u3"].b == 40
        v1 = store.get_version("t", 1)
        assert "b" not in v1.columns  # narrow schema preserved
        assert v1.count() == 2

    def test_unflagged_widening_refused_with_hint(self, spark, store):
        from ml_feature_store_spark import FeatureValidationError

        base, wide = self._frames(spark)
        store.register("t", base)
        with pytest.raises(FeatureValidationError, match="allow_new_columns"):
            store.append("t", wide)

    def test_shrinking_always_refused(self, spark, store):
        from ml_feature_store_spark import FeatureValidationError

        base, wide = self._frames(spark)
        store.register("t", wide)
        with pytest.raises(FeatureValidationError, match="Re-register"):
            store.append("t", base, allow_new_columns=True)

    def test_pit_get_and_training_set_see_new_column(self, spark, store):
        base, wide = self._frames(spark)
        store.register("t", base)
        store.append("t", wide, allow_new_columns=True)
        got = {
            r.entity_id: r
            for r in store.get("t", ["u1", "u2"], ts("2024-03-01")).collect()
        }
        assert got["u1"].b == 30 and got["u2"].b is None

    def test_widening_invalidates_incremental_online(self, spark, store):
        base, wide = self._frames(spark)
        store.register("t", base)
        store.materialize_online("t")
        store.append("t", wide, allow_new_columns=True)
        # incremental fold must NOT try to union mismatched schemas — it
        # falls back to a full rebuild and serves the widened column
        n = store.materialize_online("t", incremental=True)
        assert n >= 3
        got = {r.entity_id: r for r in store.get_online("t", ["u1", "u3"]).collect()}
        assert got["u1"].b == 30

    def test_plain_append_still_exact(self, spark, store):
        base, wide = self._frames(spark)
        store.register("t", wide)
        more = spark.createDataFrame(
            [("u9", ts("2024-03-01"), 9.0, 90)],
            ["entity_id", "timestamp", "a", "b"],
        )
        info = store.append("t", more, allow_new_columns=True)  # no-op flag
        assert info.version == 2 and info.row_count == 3


class TestWindowViews:
    """f42: windowed-aggregate feature views (Tecton aggregations=)."""

    @staticmethod
    def _feats(spark):
        return spark.createDataFrame(
            [
                ("u1", ts("2024-01-01"), 10),
                ("u1", ts("2024-01-05"), 20),
                ("u1", ts("2024-01-20"), 40),
                ("u2", ts("2024-01-04"), 7),
            ],
            ["entity_id", "timestamp", "cents"],
        )

    def _store(self, spark, tmp_path=None):
        fs = (
            FeatureStore(spark, storage_path=str(tmp_path / "s"))
            if tmp_path is not None
            else FeatureStore(spark)
        )
        fs.register("ev", self._feats(spark))
        fs.create_window_view(
            "act",
            "ev",
            [
                {"column": "cents", "function": "sum",
                 "window_seconds": 7 * 86400, "alias": "sum_7d"},
                {"column": "cents", "function": "count",
                 "window_seconds": 7 * 86400, "alias": "n_7d"},
            ],
        )
        return fs

    def _spine(self, spark):
        return spark.createDataFrame(
            [("u1", ts("2024-01-06")), ("u1", ts("2024-01-21")),
             ("u2", ts("2024-01-02"))],
            ["entity_id", "timestamp"],
        )

    def test_trailing_window_values(self, spark):
        fs = self._store(spark)
        out = {
            (r.entity_id, r.timestamp): (r.sum_7d, r.n_7d)
            for r in fs.get_window_training_set(
                "act", self._spine(spark)
            ).collect()
        }
        # u1 @ 01-06: rows 01-01 and 01-05 in [12-30, 01-06]
        assert out[("u1", ts("2024-01-06"))] == (30, 2)
        # u1 @ 01-21: only 01-20 within 7d
        assert out[("u1", ts("2024-01-21"))] == (40, 1)
        # u2 @ 01-02: no rows yet -> count 0, sum NULL
        assert out[("u2", ts("2024-01-02"))] == (None, 0)

    def test_inclusive_cutoff_and_window_edge(self, spark):
        fs = self._store(spark)
        spine = spark.createDataFrame(
            # exactly AT a feature ts (inclusive) and exactly 7d AFTER
            # one (still inclusive at the trailing edge)
            [("u1", ts("2024-01-05")), ("u1", ts("2024-01-08"))],
            ["entity_id", "timestamp"],
        )
        out = {
            r.timestamp: (r.sum_7d, r.n_7d)
            for r in fs.get_window_training_set("act", spine).collect()
        }
        assert out[ts("2024-01-05")] == (30, 2)  # 01-01 and 01-05 both in
        assert out[ts("2024-01-08")] == (30, 2)  # 01-01 at exact -7d edge

    def test_extra_spine_columns_pass_through(self, spark):
        fs = self._store(spark)
        spine = self._spine(spark).withColumn("label", F.lit(1))
        out = fs.get_window_training_set("act", spine)
        assert "label" in out.columns
        assert out.count() == 3

    def test_eager_validation(self, spark):
        fs = FeatureStore(spark)
        fs.register("ev", self._feats(spark))
        with pytest.raises(FeatureValidationError, match="unsupported"):
            fs.create_window_view(
                "bad", "ev",
                [{"column": "cents", "function": "median",
                  "window_seconds": 60}],
            )
        with pytest.raises(FeatureValidationError, match="window_seconds"):
            fs.create_window_view(
                "bad", "ev",
                [{"column": "cents", "function": "sum",
                  "window_seconds": 0}],
            )
        with pytest.raises(FeatureValidationError, match="Unknown feature"):
            fs.create_window_view(
                "bad", "ev",
                [{"column": "nope", "function": "sum",
                  "window_seconds": 60}],
            )
        # alias colliding with an aggregation source column (round-9
        # ADVICE: would yield ambiguous output at retrieval time)
        with pytest.raises(FeatureValidationError, match="reserved"):
            fs.create_window_view(
                "bad", "ev",
                [{"column": "cents", "function": "sum",
                  "window_seconds": 60, "alias": "cents"}],
            )

    def test_spine_extra_colliding_with_alias_refuses(self, spark):
        fs = self._store(spark)
        spine = self._spine(spark).withColumn("sum_7d", F.lit(1))
        with pytest.raises(FeatureValidationError, match="collide"):
            fs.get_window_training_set("act", spine)

    def test_spec_persists_and_delete_refuses(self, spark, tmp_path):
        fs = self._store(spark, tmp_path)
        reopened = FeatureStore(spark, storage_path=str(tmp_path / "s"))
        assert reopened.list_window_views() == ["act"]
        out = reopened.get_window_training_set("act", self._spine(spark))
        assert out.count() == 3
        # the view references 'ev': delete must refuse, cascade must drop
        with pytest.raises(FeatureValidationError, match="window view"):
            reopened.delete("ev")
        reopened.delete("ev", cascade=True)
        assert reopened.list_window_views() == []


class TestProfileVersions:
    """dq14: version-over-version column profiling (data-diff gate)."""

    def _store(self, spark):
        fs = FeatureStore(spark)
        v1 = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 10), ("u2", ts("2024-01-02"), 20)],
            ["entity_id", "timestamp", "cents"],
        )
        fs.register("pv", v1)
        v2 = spark.createDataFrame(
            [("u3", ts("2024-01-03"), None, 1.5)],
            "entity_id string, timestamp timestamp, cents long, score double",
        )
        fs.append("pv", v2, allow_new_columns=True)
        return fs

    def test_profiles_both_versions(self, spark):
        fs = self._store(spark)
        rows = {
            (r.version, r.column): r
            for r in fs.profile_versions("pv", ["cents", "score"]).collect()
        }
        assert rows[(1, "cents")].n_rows == 2
        assert rows[(1, "cents")].n_nulls == 0
        # score predates v1 -> 100% null there
        assert rows[(1, "score")].n_nulls == 2
        assert rows[(1, "score")].null_ppm == 1_000_000
        # v2: 3 rows, one null cents (the appended row)
        assert rows[(2, "cents")].n_rows == 3
        assert rows[(2, "cents")].n_nulls == 1
        assert rows[(2, "cents")].null_ppm == 333_333
        assert rows[(2, "score")].n_nulls == 2  # backfilled history

    def test_unknown_column_refused(self, spark):
        fs = self._store(spark)
        with pytest.raises(FeatureValidationError, match="exist in no"):
            fs.profile_versions("pv", ["nope"])

    def test_version_subset(self, spark):
        fs = self._store(spark)
        out = fs.profile_versions("pv", ["cents"], versions=[2]).collect()
        assert len(out) == 1 and out[0].version == 2


class TestWindowViewSpineClash:
    def test_spine_column_colliding_with_agg_source_refused(self, spark):
        import datetime as dt

        fs = FeatureStore(spark)
        fs.register(
            "evc",
            spark.createDataFrame(
                [("u1", ts("2024-01-01"), 10)],
                ["entity_id", "timestamp", "cents"],
            ),
        )
        fs.create_window_view(
            "wv", "evc",
            [{"column": "cents", "function": "sum", "window_seconds": 60}],
        )
        spine = spark.createDataFrame(
            [("u1", ts("2024-01-02"), 5)],
            ["entity_id", "timestamp", "cents"],
        )
        with pytest.raises(FeatureValidationError, match="collide"):
            fs.get_window_training_set("wv", spine)


class TestJoinKeyMap:
    """f45: retrieval-time entity-key aliasing."""

    def _store(self, spark):
        fs = FeatureStore(spark)
        fs.register(
            "jk",
            spark.createDataFrame(
                [("u1", ts("2024-01-01"), 10), ("u2", ts("2024-01-02"), 20)],
                ["entity_id", "timestamp", "cents"],
            ),
        )
        return fs

    def test_spine_keeps_its_vocabulary(self, spark):
        fs = self._store(spark)
        spine = spark.createDataFrame(
            [("u1", ts("2024-01-05"))], ["driver", "timestamp"]
        )
        out = fs.get_training_set(
            "jk", spine, join_key_map={"driver": "entity_id"}
        )
        assert "driver" in out.columns and "entity_id" not in out.columns
        assert out.collect()[0].cents == 10

    def test_refusals(self, spark):
        fs = self._store(spark)
        spine = spark.createDataFrame(
            [("u1", ts("2024-01-05"))], ["driver", "timestamp"]
        )
        with pytest.raises(FeatureValidationError, match="source"):
            fs.get_training_set(
                "jk", spine, join_key_map={"nope": "entity_id"}
            )
        with pytest.raises(FeatureValidationError, match="not key columns"):
            fs.get_training_set(
                "jk", spine, join_key_map={"driver": "cents"}
            )
        clashing = spine.withColumn("entity_id", F.lit("x"))
        with pytest.raises(FeatureValidationError, match="collides"):
            fs.get_training_set(
                "jk", clashing, join_key_map={"driver": "entity_id"}
            )

    def test_composite_key_mapping(self, spark):
        fs = FeatureStore(spark)
        fs.register(
            "jk2",
            spark.createDataFrame(
                [("u1", "m1", ts("2024-01-01"), 5)],
                ["user_id", "merchant_id", "timestamp", "cents"],
            ),
            entity_cols=["user_id", "merchant_id"],
        )
        spine = spark.createDataFrame(
            [("u1", "m1", ts("2024-01-05"))],
            ["buyer", "merchant_id", "timestamp"],
        )
        out = fs.get_training_set(
            "jk2", spine, join_key_map={"buyer": "user_id"}
        )
        assert "buyer" in out.columns and "user_id" not in out.columns
        assert out.collect()[0].cents == 5


class TestReferentialContract:
    """dq15: register(references=) — the dbt relationships gate."""

    def _dim(self, spark):
        fs = FeatureStore(spark)
        fs.register(
            "dim",
            spark.createDataFrame(
                [("u1", ts("2024-01-01")), ("u2", ts("2024-01-01"))],
                ["entity_id", "timestamp"],
            ),
        )
        return fs

    def test_orphans_refused_with_counts(self, spark):
        fs = self._dim(spark)
        bad = spark.createDataFrame(
            [("u1", ts("2024-01-02"), "u9"), ("u2", ts("2024-01-02"), "u8")],
            ["entity_id", "timestamp", "ref"],
        )
        with pytest.raises(FeatureValidationError, match="orphan"):
            fs.register("fact", bad, references={"ref": ("dim", "entity_id")})
        assert "fact" not in fs.list_tables()

    def test_nulls_pass_fk(self, spark):
        fs = self._dim(spark)
        ok = spark.createDataFrame(
            [("u1", ts("2024-01-02"), "u2"), ("u2", ts("2024-01-02"), None)],
            ["entity_id", "timestamp", "ref"],
        )
        info = fs.register(
            "fact", ok, references={"ref": ("dim", "entity_id")}
        )
        assert info.row_count == 2

    def test_unknown_fk_column_or_table_refused(self, spark):
        fs = self._dim(spark)
        df = spark.createDataFrame(
            [("u1", ts("2024-01-02"), "u2")],
            ["entity_id", "timestamp", "ref"],
        )
        with pytest.raises(FeatureValidationError, match="not an incoming"):
            fs.register("f2", df, references={"nope": ("dim", "entity_id")})
        with pytest.raises(Exception, match="dim2|not found|Unknown"):
            fs.register("f3", df, references={"ref": ("dim2", "entity_id")})


class TestUniqueContract:
    """dq16: register(unique=) — the primary-key gate at publish."""

    def test_duplicates_refused_with_count(self, spark):
        fs = FeatureStore(spark)
        df = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 1), ("u1", ts("2024-01-01"), 1),
             ("u2", ts("2024-01-01"), 2)],
            ["entity_id", "timestamp", "cents"],
        )
        with pytest.raises(FeatureValidationError, match="1 duplicate"):
            fs.register("t", df, unique=["entity_id", "timestamp"])
        assert "t" not in fs.list_tables()

    def test_unique_passes_and_wider_key_disambiguates(self, spark):
        fs = FeatureStore(spark)
        df = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 1), ("u1", ts("2024-01-01"), 2)],
            ["entity_id", "timestamp", "cents"],
        )
        # (entity, ts) duplicates, but (entity, ts, cents) is unique
        fs.register("t", df, unique=["entity_id", "timestamp", "cents"])
        assert fs.get_table_info("t").row_count == 2

    def test_unknown_key_column_refused(self, spark):
        fs = FeatureStore(spark)
        df = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 1)],
            ["entity_id", "timestamp", "cents"],
        )
        with pytest.raises(FeatureValidationError, match="not incoming"):
            fs.register("t", df, unique=["nope"])


class TestRollupDistinctSketches:
    """h5: mergeable HLL distinct state in incremental rollups."""

    @staticmethod
    def _feed(spark, lo, hi):
        return spark.createDataFrame(
            [
                (f"u{i % 7}", ts("2024-01-01") + dt.timedelta(hours=i), i)
                for i in range(lo, hi)
            ],
            ["entity_id", "timestamp", "cents"],
        )

    def test_chained_refreshes_equal_single_pass(self, spark):
        from pyspark.sql import functions as F2

        fs = FeatureStore(spark)
        fs.register("rd", self._feed(spark, 0, 30))
        fs.create_rollup("rd", "r", ["entity_id"], ["cents"], ["cents"])
        fs.append("rd", self._feed(spark, 30, 50))
        fs.refresh_rollup("r")
        fs.append("rd", self._feed(spark, 50, 80))
        fs.refresh_rollup("r")
        got = {
            r.entity_id: r.est
            for r in fs.get_rollup("r")
            .select(
                "entity_id",
                F2.hll_sketch_estimate("hll_cents").alias("est"),
            )
            .collect()
        }
        want = {
            r.entity_id: r.est
            for r in self._feed(spark, 0, 80)
            .groupBy("entity_id")
            .agg(
                F2.hll_sketch_estimate(
                    F2.hll_sketch_agg("cents")
                ).alias("est")
            )
            .collect()
        }
        assert got == want  # union-merge associativity: EXACT equality

    def test_distinct_cols_persist_in_registry(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path / "s"))
        fs.register("rd", self._feed(spark, 0, 20))
        fs.create_rollup("rd", "r", ["entity_id"], [], ["cents"])
        reopened = FeatureStore(spark, storage_path=str(tmp_path / "s"))
        reopened.append("rd", self._feed(spark, 20, 40))
        reopened.refresh_rollup("r")  # would fail without the sketch spec
        assert "hll_cents" in reopened.get_rollup("r").columns


class TestBitemporal:
    """f47: get_training_set(knowledge_time=) — what the pipeline KNEW."""

    def _store(self, spark):
        fs = FeatureStore(spark)
        # event at 01-05 INGESTED late (01-12); event at 01-03 ingested
        # same-day
        df = spark.createDataFrame(
            [
                ("u1", ts("2024-01-03"), ts("2024-01-03"), 10),
                ("u1", ts("2024-01-05"), ts("2024-01-12"), 20),
            ],
            ["entity_id", "timestamp", "ingest_ts", "cents"],
        )
        fs.register("bt", df)
        return fs

    def _spine(self, spark):
        return spark.createDataFrame(
            [("u1", ts("2024-01-08"))], ["entity_id", "timestamp"]
        )

    def test_late_row_excluded_until_known(self, spark):
        fs = self._store(spark)
        early = fs.get_training_set(
            "bt", self._spine(spark), knowledge_time=ts("2024-01-08")
        )
        # as of knowledge 01-08 the 01-05 event had NOT been ingested:
        # the build must see the 01-03 row even though 01-05 <= spine ts
        assert early.collect()[0].cents == 10
        late = fs.get_training_set(
            "bt", self._spine(spark), knowledge_time=ts("2024-01-13")
        )
        assert late.collect()[0].cents == 20
        # no knowledge_time -> event-time semantics only (all rows known)
        now = fs.get_training_set("bt", self._spine(spark))
        assert now.collect()[0].cents == 20

    def test_missing_ingest_column_refused(self, spark):
        fs = FeatureStore(spark)
        fs.register(
            "nb",
            spark.createDataFrame(
                [("u1", ts("2024-01-03"), 10)],
                ["entity_id", "timestamp", "cents"],
            ),
        )
        with pytest.raises(FeatureValidationError, match="ingest"):
            fs.get_training_set(
                "nb", self._spine(spark), knowledge_time=ts("2024-01-08")
            )


class TestEdgeGuards:
    """Defensive refusals added by self-review: spec/schema drift and
    degenerate inputs surface as clear errors, never KeyError/IndexError."""

    def test_window_view_survives_source_reregister_with_clear_error(
        self, spark
    ):
        fs = FeatureStore(spark)
        fs.register(
            "eg",
            spark.createDataFrame(
                [("u1", ts("2024-01-01"), 1)],
                ["entity_id", "timestamp", "cents"],
            ),
        )
        fs.create_window_view(
            "wv", "eg",
            [{"column": "cents", "function": "sum", "window_seconds": 60}],
        )
        # re-register WITHOUT the aggregation source column
        fs.register(
            "eg",
            spark.createDataFrame(
                [("u1", ts("2024-01-02"), "x")],
                ["entity_id", "timestamp", "other"],
            ),
        )
        spine = spark.createDataFrame(
            [("u1", ts("2024-01-05"))], ["entity_id", "timestamp"]
        )
        with pytest.raises(FeatureValidationError, match="no longer exist"):
            fs.get_window_training_set("wv", spine)

    def test_profile_versions_empty_list_refused(self, spark):
        fs = FeatureStore(spark)
        fs.register(
            "eg2",
            spark.createDataFrame(
                [("u1", ts("2024-01-01"), 1)],
                ["entity_id", "timestamp", "cents"],
            ),
        )
        with pytest.raises(FeatureValidationError, match="at least one"):
            fs.profile_versions("eg2", ["cents"], versions=[])

    def test_compare_services_no_shared_columns_refused(self, spark):
        fs = FeatureStore(spark)
        df = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 1)],
            ["entity_id", "timestamp", "cents"],
        )
        fs.register("ega", df)
        fs.register("egb", df)
        fs.materialize_online("ega")
        fs.materialize_online("egb")
        fs.create_feature_service("sa", {"ega": ["cents"]})
        fs.create_feature_service("sb", {"egb": ["cents"]})
        # prefixed names differ (ega__cents vs egb__cents): no shared axis
        with pytest.raises(FeatureValidationError, match="share no"):
            fs.compare_services("sa", "sb")

    def test_walk_forward_empty_cuts_refused(self, spark):
        from ml_feature_store_spark.operators.sampling import (
            walk_forward_folds,
        )

        df = spark.createDataFrame([(1, ts("2024-01-01"))], ["id", "ts"])
        with pytest.raises(ValueError, match="cuts"):
            walk_forward_folds(df, "ts", [], 60.0, 60.0)
