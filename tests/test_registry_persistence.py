"""Spec-registry persistence — round-8 verdict item 1.

Derived-view, feature-service and rollup specs (plus view-level TTLs)
must survive the process: they persist to ``_registry.json`` beside the
Parquet version store (the ``_snapshots.json`` pattern), so "the 3 a.m.
training run references one stable name" holds when that run is a NEW
process. Reference contract: Feast registry persistence (SURVEY §2.4
FSVC1/ODFV1 rows).

Also pins the registry-hygiene half: ``delete()`` REFUSES to drop a
table that a registered spec still reads (or cascades with
``cascade=True``), so the eagerly-validated contracts can't silently
dangle until build time.
"""
from __future__ import annotations

import datetime as dt

import pytest

from ml_feature_store_spark import (
    FeatureStore,
    FeatureStoreError,
    FeatureTableNotFoundError,
    FeatureValidationError,
)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _seed(spark, path) -> FeatureStore:
    fs = FeatureStore(spark, storage_path=str(path))
    spend = spark.createDataFrame(
        [
            ("u1", ts("2024-01-02"), 100),
            ("u1", ts("2024-01-05"), 250),
            ("u2", ts("2024-01-03"), 300),
        ],
        ["entity_id", "timestamp", "cents"],
    )
    clicks = spark.createDataFrame(
        [
            ("u1", ts("2024-01-01"), 4),
            ("u2", ts("2024-01-04"), 9),
        ],
        ["entity_id", "timestamp", "n_clicks"],
    )
    fs.register("spend", spend)
    fs.register("clicks", clicks)
    return fs


@pytest.fixture
def spine(spark):
    return spark.createDataFrame(
        [("u1", ts("2024-01-06")), ("u2", ts("2024-01-06"))],
        ["entity_id", "timestamp"],
    )


class TestRegistryPersistence:
    def test_service_survives_reopen(self, spark, tmp_path, spine):
        """A service registered in store A resolves IDENTICALLY in a
        fresh store B over the same storage_path (the
        test_key_survives_store_reload shape for specs)."""
        a = _seed(spark, tmp_path)
        a.create_feature_service(
            "model_v1", {"spend": ["cents"], "clicks": None}
        )
        expected = sorted(
            map(tuple, a.get_service_training_set("model_v1", spine).collect())
        )

        b = FeatureStore(spark, storage_path=str(tmp_path))
        assert b.list_feature_services() == ["model_v1"]
        got = sorted(
            map(tuple, b.get_service_training_set("model_v1", spine).collect())
        )
        assert got == expected

    def test_derived_view_survives_reopen(self, spark, tmp_path, spine):
        a = _seed(spark, tmp_path)
        a.create_derived_view(
            "per_click",
            sources=["spend", "clicks"],
            exprs={"cents_per_click": "spend__cents DIV clicks__n_clicks"},
        )
        expected = sorted(
            map(tuple, a.get_derived_training_set("per_click", spine).collect())
        )
        b = FeatureStore(spark, storage_path=str(tmp_path))
        assert b.list_derived_views() == ["per_click"]
        got = sorted(
            map(tuple, b.get_derived_training_set("per_click", spine).collect())
        )
        assert got == expected

    def test_rollup_survives_reopen_and_refreshes(self, spark, tmp_path):
        """Rollup spec (incl. the delta watermark) survives: a fresh
        store can refresh_rollup after an append without rebuilding."""
        a = _seed(spark, tmp_path)
        a.create_rollup("spend", "spend_rollup", ["entity_id"], ["cents"])
        b = FeatureStore(spark, storage_path=str(tmp_path))
        assert b.list_rollups() == ["spend_rollup"]
        b.append(
            "spend",
            spark.createDataFrame(
                [("u2", ts("2024-01-07"), 50)],
                ["entity_id", "timestamp", "cents"],
            ),
        )
        b.refresh_rollup("spend_rollup")
        rows = {
            r["entity_id"]: (r["n_rows"], r["sum_cents"])
            for r in b.get_rollup("spend_rollup").collect()
        }
        assert rows == {"u1": (2, 350), "u2": (2, 350)}

    def test_ttl_survives_reopen(self, spark, tmp_path):
        a = _seed(spark, tmp_path)
        a.register(
            "ttl_view",
            spark.createDataFrame(
                [("u1", ts("2024-01-01"), 1.0)],
                ["entity_id", "timestamp", "x"],
            ),
            ttl_seconds=3600.0,
        )
        b = FeatureStore(spark, storage_path=str(tmp_path))
        assert b.get_view_ttl("ttl_view") == 3600.0
        assert b.get_view_ttl("spend") is None

    def test_drop_service_persists(self, spark, tmp_path):
        a = _seed(spark, tmp_path)
        a.create_feature_service("svc", {"spend": None})
        assert a.drop_feature_service("svc") is True
        b = FeatureStore(spark, storage_path=str(tmp_path))
        assert b.list_feature_services() == []

    def test_memory_backend_stays_in_process(self, spark):
        """No storage_path -> registry is process state (like snapshots);
        nothing is written anywhere."""
        fs = FeatureStore(spark)
        fs.register(
            "t",
            spark.createDataFrame(
                [("u1", ts("2024-01-01"), 1)], ["entity_id", "timestamp", "x"]
            ),
        )
        fs.create_feature_service("svc", {"t": None})
        assert fs._registry_path() is None
        fresh = FeatureStore(spark)
        assert fresh.list_feature_services() == []


class TestDeleteReferenceGuard:
    def test_delete_refuses_referenced_table(self, spark, tmp_path):
        fs = _seed(spark, tmp_path)
        fs.create_feature_service("svc", {"spend": None})
        fs.create_derived_view(
            "dv", sources=["spend"], exprs={"y": "spend__cents * 2"}
        )
        with pytest.raises(FeatureValidationError, match="referenced by"):
            fs.delete("spend")
        # message names every referencing spec
        try:
            fs.delete("spend")
        except FeatureValidationError as e:
            assert "svc" in str(e) and "dv" in str(e)

    def test_delete_cascade_drops_specs(self, spark, tmp_path):
        fs = _seed(spark, tmp_path)
        fs.create_feature_service("svc", {"spend": None})
        fs.create_rollup("spend", "ru", ["entity_id"], ["cents"])
        assert fs.delete("spend", cascade=True) is True
        assert fs.list_feature_services() == []
        assert fs.list_rollups() == []
        # cascaded drops persist
        b = FeatureStore(spark, storage_path=str(tmp_path))
        assert b.list_feature_services() == []
        assert b.list_rollups() == []

    def test_delete_unreferenced_is_unchanged(self, spark, tmp_path):
        fs = _seed(spark, tmp_path)
        assert fs.delete("clicks") is True
        assert fs.delete("clicks") is False  # never raises when absent

    def test_drop_rollup_releases_state(self, spark, tmp_path):
        fs = _seed(spark, tmp_path)
        fs.create_rollup("spend", "ru", ["entity_id"], ["cents"])
        assert fs.drop_rollup("ru") is True
        assert fs.drop_rollup("ru") is False
        with pytest.raises(FeatureStoreError, match="Unknown rollup"):
            fs.get_rollup("ru")
        # spec release unblocks delete
        assert fs.delete("spend") is True

    def test_dangling_spec_surfaces_lazily_with_clear_error(
        self, spark, tmp_path, spine
    ):
        """A spec whose table vanished out-of-band (simulated by editing
        past the guard) fails at use with the data path's own clear
        error, not a KeyError."""
        fs = _seed(spark, tmp_path)
        fs.create_feature_service("svc", {"spend": None})
        fs._services["svc"]["selections"]["ghost"] = None  # simulate drift
        with pytest.raises(FeatureTableNotFoundError, match="ghost"):
            fs.get_service_training_set("svc", spine).collect()


class TestViewTTL:
    def test_ttl_defaults_training_tolerance(self, spark, tmp_path, spine):
        """A view registered with ttl_seconds bounds the as-of lookback
        with NO per-call tolerance: features older than the TTL at the
        spine timestamp drop out (inner) — Feast FeatureView.ttl."""
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        df = spark.createDataFrame(
            [
                ("u1", ts("2024-01-05"), 250),  # 1 day before spine: fresh
                ("u2", ts("2024-01-01"), 300),  # 5 days before: expired
            ],
            ["entity_id", "timestamp", "cents"],
        )
        fs.register("sp", df, ttl_seconds=2 * 24 * 3600)
        out = fs.get_training_set("sp", spine)
        assert [r["entity_id"] for r in out.collect()] == ["u1"]
        # explicit tolerance overrides the view TTL
        wide = fs.get_training_set(
            "sp", spine, tolerance_seconds=30 * 24 * 3600
        )
        assert sorted(r["entity_id"] for r in wide.collect()) == ["u1", "u2"]

    def test_ttl_defaults_online_max_age(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        df = spark.createDataFrame(
            [
                ("u1", ts("2024-01-05"), 250),
                ("u2", ts("2024-01-01"), 300),
            ],
            ["entity_id", "timestamp", "cents"],
        )
        fs.register("sp", df, ttl_seconds=2 * 24 * 3600)
        fs.materialize_online("sp")
        out = fs.get_online("sp", as_of=ts("2024-01-06"))
        assert [r["entity_id"] for r in out.collect()] == ["u1"]
        # explicit max_age overrides
        wide = fs.get_online(
            "sp", max_age_seconds=30 * 24 * 3600, as_of=ts("2024-01-06")
        )
        assert sorted(r["entity_id"] for r in wide.collect()) == ["u1", "u2"]

    def test_ttl_applies_per_view_in_multi_view(self, spark, spine):
        """Each view's as-of join carries its OWN TTL: a ttl'd view drops
        its stale match while an un-ttl'd sibling keeps its row
        (how='left' keeps the spine row, null-padding the expired
        view)."""
        fs = FeatureStore(spark)
        stale = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 1)], ["entity_id", "timestamp", "a"]
        )
        fresh = spark.createDataFrame(
            [("u1", ts("2024-01-05"), 2)], ["entity_id", "timestamp", "b"]
        )
        fs.register("stale_v", stale, ttl_seconds=2 * 24 * 3600)
        fs.register("fresh_v", fresh)
        out = fs.get_multi_view_training_set(
            ["stale_v", "fresh_v"], spine, how="left"
        ).collect()
        row = [r for r in out if r["entity_id"] == "u1"][0]
        assert row["stale_v__a"] is None
        assert row["fresh_v__b"] == 2

    def test_ttl_kept_across_reregister_and_validated(self, spark):
        fs = FeatureStore(spark)
        df = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 1)], ["entity_id", "timestamp", "x"]
        )
        fs.register("t", df, ttl_seconds=60)
        fs.register("t", df)  # no ttl arg: view property persists
        assert fs.get_view_ttl("t") == 60
        with pytest.raises(FeatureValidationError, match="ttl_seconds"):
            fs.register("t", df, ttl_seconds=0)
        fs.delete("t")
        df2 = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 1)], ["entity_id", "timestamp", "x"]
        )
        fs.register("t", df2)
        assert fs.get_view_ttl("t") is None  # delete released the TTL


class TestAdviceGuards:
    def test_checks_reference_natural_key_columns(self, spark):
        """register(checks=) runs on the PRE-compose frame: a composite
        key contract can reference the natural key columns (round-8
        ADVICE fix — previously an unresolved-column AnalysisException)."""
        fs = FeatureStore(spark)
        df = spark.createDataFrame(
            [
                ("u1", "m1", ts("2024-01-01"), 5),
                (None, "m2", ts("2024-01-02"), 7),
            ],
            ["user_id", "merchant_id", "timestamp", "x"],
        )
        with pytest.raises(FeatureValidationError, match="user_id_set"):
            fs.register(
                "t",
                df,
                entity_cols=["user_id", "merchant_id"],
                checks={"user_id_set": "user_id IS NOT NULL"},
            )
        ok = df.filter("user_id IS NOT NULL")
        info = fs.register(
            "t",
            ok,
            entity_cols=["user_id", "merchant_id"],
            checks={"user_id_set": "user_id IS NOT NULL"},
        )
        assert info.row_count == 1

    def test_check_on_unknown_column_is_validation_error(self, spark):
        fs = FeatureStore(spark)
        df = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 5)], ["entity_id", "timestamp", "x"]
        )
        with pytest.raises(FeatureValidationError, match="could not be"):
            fs.register("t", df, checks={"bad": "no_such_col > 0"})

    def test_merge_entities_rejects_misordered_struct(self, spark):
        """A mapping struct with the key fields in the WRONG ORDER must be
        rejected, not positionally rebound (round-8 ADVICE fix)."""
        from pyspark.sql import functions as F

        fs = FeatureStore(spark)
        df = spark.createDataFrame(
            [("u1", "m1", ts("2024-01-01"), 5)],
            ["user_id", "merchant_id", "timestamp", "x"],
        )
        fs.register("t", df, entity_cols=["user_id", "merchant_id"])
        bad = spark.createDataFrame(
            [("m1", "u1", "m9", "u9")], ["m_a", "u_a", "m_c", "u_c"]
        ).select(
            F.struct(
                F.col("m_a").alias("merchant_id"), F.col("u_a").alias("user_id")
            ).alias("alias_id"),
            F.struct(
                F.col("m_c").alias("merchant_id"), F.col("u_c").alias("user_id")
            ).alias("canonical_id"),
        )
        with pytest.raises(FeatureValidationError, match="in order"):
            fs.merge_entities("t", bad)

    def test_get_table_info_reads_no_version(self, spark):
        """The struct-key sniff reads the schema the version metadata
        records, never the backend's data (round-8 ADVICE fix)."""
        fs = FeatureStore(spark)
        df = spark.createDataFrame(
            [("u1", "m1", ts("2024-01-01"), 5)],
            ["user_id", "merchant_id", "timestamp", "x"],
        )
        fs.register("t", df, entity_cols=["user_id", "merchant_id"])
        calls = {"n": 0}
        orig = fs._backend.read_version

        def counting(name, version):
            calls["n"] += 1
            return orig(name, version)

        fs._backend.read_version = counting
        info = fs.get_table_info("t")
        assert info.entity_columns == ("user_id", "merchant_id")
        fs._validate_columns("t", ["x"])
        assert calls["n"] == 0  # recorded schema — no backend read
        fs._backend.read_version = orig


class TestIncrementalMaterialize:
    def _store(self, spark, path=None):
        fs = FeatureStore(spark, storage_path=path)
        df = spark.createDataFrame(
            [
                ("u1", ts("2024-01-01"), 1),
                ("u1", ts("2024-01-03"), 3),
                ("u2", ts("2024-01-02"), 2),
            ],
            ["entity_id", "timestamp", "x"],
        )
        fs.register("t", df)
        return fs

    def test_incremental_equals_full(self, spark):
        fs = self._store(spark)
        fs.materialize_online("t")
        fs.append(
            "t",
            spark.createDataFrame(
                [
                    ("u1", ts("2024-01-05"), 5),   # newer: replaces u1
                    ("u2", ts("2024-01-01"), 0),   # older: u2 unchanged
                    ("u3", ts("2024-01-04"), 4),   # new entity
                ],
                ["entity_id", "timestamp", "x"],
            ),
        )
        fs.materialize_online("t", incremental=True)
        inc = {r["entity_id"]: r["x"] for r in fs.get_online("t").collect()}
        fs.materialize_online("t")  # full rebuild
        full = {r["entity_id"]: r["x"] for r in fs.get_online("t").collect()}
        assert inc == full == {"u1": 5, "u2": 2, "u3": 4}

    def test_incremental_tie_break_parity(self, spark):
        """An appended row that TIES the snapshot row's timestamp must
        lose (first input row wins — appended ids are higher)."""
        fs = self._store(spark)
        fs.materialize_online("t")
        fs.append(
            "t",
            spark.createDataFrame(
                [("u1", ts("2024-01-03"), 99)],  # ties u1's latest ts
                ["entity_id", "timestamp", "x"],
            ),
        )
        fs.materialize_online("t", incremental=True)
        inc = {r["entity_id"]: r["x"] for r in fs.get_online("t").collect()}
        assert inc["u1"] == 3  # the original row keeps winning

    def test_incremental_after_rewrite_rebuilds_fully(self, spark):
        """History rewrites INVALIDATE the incremental meta at rewrite
        time, so the next incremental call transparently runs a full
        rebuild — correct, never stale (round-8 review fix: row
        accounting alone cannot see count-preserving rewrites)."""
        fs = self._store(spark)
        fs.materialize_online("t")
        # re-register rewrites history with fresh row ids
        fs.register(
            "t",
            spark.createDataFrame(
                [("u9", ts("2024-01-09"), 9)],
                ["entity_id", "timestamp", "x"],
            ),
        )
        fs.materialize_online("t", incremental=True)  # full rebuild
        assert [r["entity_id"] for r in fs.get_online("t").collect()] == ["u9"]

    def test_incremental_after_count_preserving_merge_not_stale(self, spark):
        """merge_entities preserves row count AND row ids — the rewrite
        row accounting cannot detect. The invalidation hook must force
        the next incremental materialize to rebuild, so the snapshot
        never serves pre-merge identities."""
        fs = self._store(spark)
        fs.materialize_online("t")
        mapping = spark.createDataFrame(
            [("u1", "u2")], ["alias_id", "canonical_id"]
        )
        fs.merge_entities("t", mapping)
        fs.materialize_online("t", incremental=True)
        got = sorted(r["entity_id"] for r in fs.get_online("t").collect())
        assert got == ["u2"]  # u1 merged away; a stale fold would keep it

    def test_incremental_out_of_band_drift_raises(self, spark):
        fs = self._store(spark)
        fs.materialize_online("t")
        fs._online_meta["t"]["src_rows"] += 1  # simulate external drift
        with pytest.raises(FeatureStoreError, match="drifted"):
            fs.materialize_online("t", incremental=True)

    def test_incremental_without_prior_snapshot_is_full(self, spark):
        fs = self._store(spark)
        n = fs.materialize_online("t", incremental=True)
        assert n == 2

    def test_watermark_survives_reopen(self, spark, tmp_path):
        fs = self._store(spark, str(tmp_path))
        fs.materialize_online("t")
        b = FeatureStore(spark, storage_path=str(tmp_path))
        b.append(
            "t",
            spark.createDataFrame(
                [("u3", ts("2024-01-04"), 4)],
                ["entity_id", "timestamp", "x"],
            ),
        )
        b.materialize_online("t", incremental=True)
        got = {r["entity_id"]: r["x"] for r in b.get_online("t").collect()}
        assert got == {"u1": 3, "u2": 2, "u3": 4}


class TestPushSource:
    def test_push_keeps_both_stores_consistent(self, spark):
        fs = FeatureStore(spark)
        base = spark.createDataFrame(
            [("u1", ts("2024-01-01"), 1), ("u2", ts("2024-01-02"), 2)],
            ["entity_id", "timestamp", "x"],
        )
        fs.register("t", base)
        fs.materialize_online("t")
        fs.push(
            "t",
            spark.createDataFrame(
                [("u1", ts("2024-01-05"), 5), ("u3", ts("2024-01-04"), 4)],
                ["entity_id", "timestamp", "x"],
            ),
        )
        online = {r["entity_id"]: r["x"] for r in fs.get_online("t").collect()}
        assert online == {"u1": 5, "u2": 2, "u3": 4}
        # offline history kept every row (training still PIT-correct)
        assert fs.get_table_info("t").row_count == 4
        early = fs.get("t", ["u1"], ts("2024-01-02"))
        assert early.collect()[0]["x"] == 1

    def test_push_offline_only(self, spark):
        fs = FeatureStore(spark)
        fs.register(
            "t",
            spark.createDataFrame(
                [("u1", ts("2024-01-01"), 1)], ["entity_id", "timestamp", "x"]
            ),
        )
        fs.push(
            "t",
            spark.createDataFrame(
                [("u1", ts("2024-01-02"), 2)], ["entity_id", "timestamp", "x"]
            ),
            to=("offline",),
        )
        assert fs.get_table_info("t").row_count == 2

    def test_push_online_only_rejected(self, spark):
        """No independent online write path: the snapshot is derived
        state — online-only push is always refused, even for a table
        that does not exist yet (it would have to write offline
        anyway)."""
        fs = FeatureStore(spark)
        batch = spark.createDataFrame(
            [("u1", ts("2024-01-02"), 2)], ["entity_id", "timestamp", "x"]
        )
        with pytest.raises(FeatureValidationError, match="diverge"):
            fs.push("nope_yet", batch, to=("online",))
        fs.register(
            "t",
            spark.createDataFrame(
                [("u1", ts("2024-01-01"), 1)], ["entity_id", "timestamp", "x"]
            ),
        )
        with pytest.raises(FeatureValidationError, match="diverge"):
            fs.push("t", batch, to=("online",))
        with pytest.raises(FeatureValidationError, match="unknown targets"):
            fs.push("t", None, to=("nearline",))
        with pytest.raises(FeatureValidationError, match="online-only|include"):
            fs.push("t", batch, to=())

    def test_push_creates_table_and_snapshot(self, spark):
        """Push to a table that does not exist yet: append registers v1,
        online target builds the first snapshot."""
        fs = FeatureStore(spark)
        fs.push(
            "fresh",
            spark.createDataFrame(
                [("u1", ts("2024-01-01"), 1)], ["entity_id", "timestamp", "x"]
            ),
        )
        assert [r["x"] for r in fs.get_online("fresh").collect()] == [1]


class TestIncrementalMaterializeProperty:
    """Hypothesis: for ANY base + sequence of appended batches (small
    domains force entity/timestamp collisions, i.e. tie-breaks), the
    chain of incremental folds equals one full rebuild."""

    def test_incremental_chain_equals_full(self, spark):
        import datetime as dtm

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        BASE = dtm.datetime(2024, 1, 1)
        entities = st.sampled_from(["a", "b", "c"])
        days = st.integers(min_value=0, max_value=4)
        vals = st.integers(min_value=0, max_value=9)
        rows = st.lists(
            st.tuples(entities, days, vals), min_size=1, max_size=8
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        )
        @given(base=rows, batches=st.lists(rows, min_size=1, max_size=3))
        def check(base, batches):
            from ml_feature_store_spark import FeatureStore

            def df_of(rs):
                return spark.createDataFrame(
                    [
                        (e, BASE + dtm.timedelta(days=d), v)
                        for e, d, v in rs
                    ],
                    ["entity_id", "timestamp", "x"],
                )

            fs = FeatureStore(spark)
            fs.register("p", df_of(base))
            fs.materialize_online("p")
            for b in batches:
                fs.push("p", df_of(b))  # append + incremental fold
            inc = sorted(map(tuple, fs.get_online("p").collect()))
            fs.materialize_online("p")  # full rebuild over the history
            full = sorted(map(tuple, fs.get_online("p").collect()))
            assert inc == full
            fs.delete("p")

        check()


class TestRollupPublishThenPrune:
    """Round-11: rollup state shares the vector indexes' publish-then-
    prune contract — a refused registry publish must never leave a
    folded delta the on-disk watermark doesn't cover (sums are NOT
    idempotent under a re-fold, unlike the online argmax)."""

    @staticmethod
    def _advance_generation(path):
        import json

        reg = path / "s" / "_registry.json"
        raw = json.loads(reg.read_text())
        raw["generation"] = int(raw.get("generation", 0)) + 1
        reg.write_text(json.dumps(raw))

    def test_refresh_refuses_before_folding(self, spark, tmp_path):
        fs = _seed(spark, tmp_path / "s")
        fs.create_rollup("spend", "ru", ["entity_id"], ["cents"])
        fs.append(
            "spend",
            spark.createDataFrame(
                [("u1", ts("2024-01-07"), 50)],
                ["entity_id", "timestamp", "cents"],
            ),
        )
        self._advance_generation(tmp_path)
        with pytest.raises(FeatureStoreError, match="another writer"):
            fs.refresh_rollup("ru")

    def test_refused_publish_never_double_counts(self, spark, tmp_path):
        """Force the refusal into the residual window (state folded,
        publish refused): the spec still pins the OLD state version, so
        the reopened store's refresh folds the delta exactly ONCE."""
        fs = _seed(spark, tmp_path / "s")
        fs.create_rollup("spend", "ru", ["entity_id"], ["cents"])
        fs.append(
            "spend",
            spark.createDataFrame(
                [("u1", ts("2024-01-07"), 50)],
                ["entity_id", "timestamp", "cents"],
            ),
        )
        fs._assert_registry_current = lambda ctx: None  # slip the probe
        self._advance_generation(tmp_path)
        with pytest.raises(FeatureStoreError, match="another writer"):
            fs.refresh_rollup("ru")
        reopened = FeatureStore(spark, storage_path=str(tmp_path / "s"))
        reopened.refresh_rollup("ru")
        got = {
            r["entity_id"]: r["sum_cents"]
            for r in reopened.get_rollup("ru").collect()
        }
        # u1 = 100 + 250 + 50 — the 50 folded ONCE despite the earlier
        # orphaned merge version
        assert got == {"u1": 400, "u2": 300}

    def test_create_refusal_keeps_old_rollup_serving(self, spark, tmp_path):
        fs = _seed(spark, tmp_path / "s")
        fs.create_rollup("spend", "ru", ["entity_id"], ["cents"])
        want = {
            r["entity_id"]: r["sum_cents"]
            for r in fs.get_rollup("ru").collect()
        }
        fs._assert_registry_current = lambda ctx: None
        self._advance_generation(tmp_path)
        with pytest.raises(FeatureStoreError, match="another writer"):
            fs.create_rollup("clicks", "ru2", ["entity_id"], ["n_clicks"])
        reopened = FeatureStore(spark, storage_path=str(tmp_path / "s"))
        assert reopened.list_rollups() == ["ru"]
        got = {
            r["entity_id"]: r["sum_cents"]
            for r in reopened.get_rollup("ru").collect()
        }
        assert got == want
