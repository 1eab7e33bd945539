"""Concurrent-writer safety for the spec registry (round-10; round-9
verdict item 3): two writer instances over one storage path must never
silently clobber each other's specs. The guard is a generation counter
CAS under flock in ``_save_registry`` — the loser gets a clean refusal
naming both generations, and the winner's specs survive."""

from __future__ import annotations

import json
import multiprocessing as mp

import pytest
from pyspark.sql import functions as F

from ml_feature_store_spark.errors import FeatureStoreError
from ml_feature_store_spark.store import FeatureStore

SF = "/root/testdata/sf0.001"


def _feats(spark):
    from ml_feature_store_spark.suite import table

    ev = table(spark, SF, "events").limit(200)
    return ev.select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "value",
    )


def _wv(fs, name):
    fs.create_window_view(
        name, "ev",
        [{"column": "value", "function": "sum", "window_seconds": 3600,
          "alias": f"{name}_sum"}],
    )


class TestTwoWriterInstances:
    def test_stale_writer_refuses_and_winner_survives(self, spark, tmp_path):
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("ev", _feats(spark))
        # two writers load the same generation...
        a = FeatureStore(spark, storage_path=root)
        b = FeatureStore(spark, storage_path=root)
        _wv(a, "wv_a")  # a publishes generation+1
        # ...so b's in-memory view (without wv_a) is now stale: its
        # publish would erase wv_a — it must refuse, not clobber
        with pytest.raises(FeatureStoreError, match="generation"):
            _wv(b, "wv_b")
        reopened = FeatureStore(spark, storage_path=root)
        assert reopened.list_window_views() == ["wv_a"]
        # the refused writer retries after a reopen and succeeds
        b2 = FeatureStore(spark, storage_path=root)
        _wv(b2, "wv_b")
        assert FeatureStore(spark, storage_path=root).list_window_views() == [
            "wv_a", "wv_b",
        ]

    def test_single_writer_many_saves_unaffected(self, spark, tmp_path):
        root = str(tmp_path / "s")
        fs = FeatureStore(spark, storage_path=root)
        fs.register("ev", _feats(spark))
        for i in range(3):
            _wv(fs, f"wv_{i}")
        gen = json.loads((tmp_path / "s" / "_registry.json").read_text())[
            "generation"
        ]
        assert gen >= 3
        assert len(fs.list_window_views()) == 3

    def test_legacy_registry_without_generation_loads(self, spark, tmp_path):
        root = tmp_path / "s"
        fs = FeatureStore(spark, storage_path=str(root))
        fs.register("ev", _feats(spark))
        _wv(fs, "wv_a")
        # strip the counter to simulate a pre-round-10 registry file
        reg = json.loads((root / "_registry.json").read_text())
        reg.pop("generation")
        (root / "_registry.json").write_text(json.dumps(reg))
        legacy = FeatureStore(spark, storage_path=str(root))
        assert legacy.list_window_views() == ["wv_a"]
        _wv(legacy, "wv_b")  # legacy gen 0 == file gen 0 -> publishes
        assert FeatureStore(spark, storage_path=str(root)).list_window_views() == [
            "wv_a", "wv_b",
        ]


class TestRefusedPublishRollsBack:
    """A refused publish restores the instance's specs: a stale instance
    keeps serving what it last published or loaded, never a spec the
    file refused."""

    def test_stale_mutators_keep_the_published_specs(self, spark, tmp_path):
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("ev", _feats(spark))
        _wv(setup, "wa")
        a = FeatureStore(spark, storage_path=root)
        b = FeatureStore(spark, storage_path=root)
        a.register("ev2", _feats(spark), ttl_seconds=60)  # a publishes

        def fresh():
            return FeatureStore(spark, storage_path=root)

        with pytest.raises(FeatureStoreError, match="generation"):
            _wv(b, "wb")
        assert b.list_window_views() == fresh().list_window_views() == ["wa"]
        with pytest.raises(FeatureStoreError, match="generation"):
            b.register("ev3", _feats(spark), ttl_seconds=5)
        assert b.get_view_ttl("ev3") is None
        with pytest.raises(FeatureStoreError, match="generation"):
            b.delete("ev", cascade=True)
        # refused before any drop: the table and its window view survive
        assert b.list_window_views() == fresh().list_window_views() == ["wa"]
        assert "ev" in {t.name for t in fresh().list_tables()}

    def test_stale_saved_dataset_writes_keep_the_published_data(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("ev", _feats(spark))
        spine = _feats(spark).select("entity_id", "timestamp").limit(50)
        a = FeatureStore(spark, storage_path=root)
        b = FeatureStore(spark, storage_path=root)
        a.create_saved_dataset("ds", "ev", spine)
        want = a.get_saved_dataset("ds").count()
        # b does not know a's "ds": its create is refused before it
        # writes over a's table
        with pytest.raises(FeatureStoreError, match="generation"):
            b.create_saved_dataset("ds", "ev", spine.limit(5))
        assert FeatureStore(spark, storage_path=root).get_saved_dataset(
            "ds"
        ).count() == want
        c = FeatureStore(spark, storage_path=root)
        _wv(a, "wa")  # a publishes again: c is stale
        with pytest.raises(FeatureStoreError, match="generation"):
            c.drop_saved_dataset("ds")
        # the refused drop leaves both the spec and its table
        assert c.list_saved_datasets() == ["ds"]
        assert FeatureStore(spark, storage_path=root).get_saved_dataset(
            "ds"
        ).count() == want


def _child_drop_window_view(root: str, name: str, q) -> None:
    """Runs in a SEPARATE PROCESS. Registry mutations are pure Python
    (json + flock) — no SparkSession needed for this path, so the child
    exercises the real cross-process lock/CAS cheaply."""
    try:
        fs = FeatureStore(None, storage_path=root)
        ok = fs.drop_window_view(name)
        q.put(("ok", ok))
    except Exception as e:  # noqa: BLE001
        q.put(("err", repr(e)))


class TestTwoProcesses:
    def test_cross_process_publish_then_stale_refusal(self, spark, tmp_path):
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("ev", _feats(spark))
        _wv(setup, "wv_a")
        _wv(setup, "wv_b")
        # a second writer loads the current generation BEFORE the other
        # process publishes
        stale = FeatureStore(spark, storage_path=root)
        ctx = mp.get_context("spawn")
        q = ctx.Queue()
        p = ctx.Process(target=_child_drop_window_view, args=(root, "wv_b", q))
        p.start()
        kind, payload = q.get(timeout=60)
        p.join(timeout=60)
        assert (kind, payload) == ("ok", True)
        # the child's publish advanced the generation on disk: the stale
        # in-process writer must refuse rather than resurrect wv_b
        with pytest.raises(FeatureStoreError, match="generation"):
            _wv(stale, "wv_c")
        final = FeatureStore(spark, storage_path=root)
        assert final.list_window_views() == ["wv_a"]


class TestIncrementalStateUnderConcurrency:
    """Round-11: the publish-then-prune surfaces (vector indexes,
    rollups) under two writer instances — a stale writer's build/refresh
    must refuse at the PRE-MUTATION probe, before any state fold is
    written."""

    def _emb(self, spark):
        from ml_feature_store_spark.suite import table

        emb = table(spark, SF, "embeddings")
        return emb.select(
            F.col("vec_id").alias("entity_id"),
            F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )

    def test_stale_writer_index_refresh_refuses_pre_mutation(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        feats = self._emb(spark)
        setup.register("vecs", feats.filter("entity_id % 2 = 0"))
        setup.create_vector_index("ann", "vecs", method="ivf")
        a = FeatureStore(spark, storage_path=root)
        b = FeatureStore(spark, storage_path=root)
        a.append("vecs", feats.filter("entity_id % 2 = 1"))
        a.refresh_vector_index("ann")  # a publishes
        # b is stale; its refresh must refuse BEFORE writing any state
        versions_before = b._backend.versions("ann__vindex")
        with pytest.raises(FeatureStoreError, match="refused"):
            b.refresh_vector_index("ann")
        assert b._backend.versions("ann__vindex") == versions_before
        with pytest.raises(FeatureStoreError, match="refused"):
            b.create_vector_index("ann2", "vecs", method="lsh")
        # a's refresh survives; b retries after reopen and serves
        b2 = FeatureStore(spark, storage_path=root)
        qvec = [
            float(x)
            for x in feats.filter("entity_id = 100")
            .collect()[0]["embedding"]
        ]
        assert b2.knn("ann", qvec, k=3).count() == 3

    def test_stale_writer_push_writes_nothing(self, spark, tmp_path):
        """The online fold's CAS probe runs before the offline append:
        a refused push leaves the history as it was, so a retry after a
        reopen ingests the batch once."""
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("t", _feats(spark))
        setup.materialize_online("t")
        a = FeatureStore(spark, storage_path=root)
        b = FeatureStore(spark, storage_path=root)
        b.materialize_online("t")  # b publishes
        batch = _feats(spark).limit(5)
        with pytest.raises(FeatureStoreError, match="refused"):
            a.push("t", batch)
        assert a._backend.versions("t") == [1]
        a2 = FeatureStore(spark, storage_path=root)
        rows = a2.get_table_info("t").row_count
        a2.push("t", batch)
        assert a2._backend.versions("t") == [1, 2]
        assert a2.get_table_info("t").row_count == rows + 5

    def test_stale_writer_rollup_refresh_refuses_pre_mutation(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("ev", _feats(spark))
        setup.create_rollup("ev", "ru", ["entity_id"], ["value"])
        a = FeatureStore(spark, storage_path=root)
        b = FeatureStore(spark, storage_path=root)
        a.append("ev", _feats(spark).limit(5))
        a.refresh_rollup("ru")
        versions_before = b._backend.versions("ru__rollup")
        with pytest.raises(FeatureStoreError, match="refused"):
            b.refresh_rollup("ru")
        assert b._backend.versions("ru__rollup") == versions_before
        # a's fold is the surviving truth after reopen
        final = FeatureStore(spark, storage_path=root)
        n = final.get_rollup("ru").count()
        assert n > 0
