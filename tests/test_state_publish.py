"""One CAS publish for the store's JSON state files.

``_registry.json`` and ``_snapshots.json`` are both rewritten whole
through one compare-and-swap publish (a generation counter checked
under ``flock``), so a writer holding a stale view refuses instead of
erasing what another instance published. Specs are stored as they are
held in memory (plain JSON values), so every kind survives a reopen
unchanged. Retention reads snapshot pins from the file at prune time.
"""
from __future__ import annotations

import copy
import datetime as dt
import json

import pytest

from ml_feature_store_spark import FeatureStore, FeatureStoreError


def _feats(spark, shift: int = 0):
    rows = [
        (f"u{i % 8}", dt.datetime(2024, 1, 1 + i % 20), float(i % 5 + shift),
         i % 20, f"doc {i % 4} about item {i % 7} and more words")
        for i in range(80)
    ]
    return spark.createDataFrame(
        rows, ["entity_id", "timestamp", "feature_a", "feature_b", "text"]
    )


def _vecs(spark):
    rows = [
        (i, dt.datetime(2024, 1, 1), [float(i % 3), float(i % 5), 1.0, float(i % 2)])
        for i in range(40)
    ]
    return spark.createDataFrame(rows, ["entity_id", "timestamp", "embedding"])


def _spine(spark):
    return spark.createDataFrame(
        [("u1", dt.datetime(2024, 1, 25)), ("u2", dt.datetime(2024, 1, 25))],
        ["entity_id", "timestamp"],
    )


def _specs(fs: FeatureStore) -> dict:
    return {
        kind: getattr(fs, attr)
        for kind, attr in FeatureStore._REGISTRY_KINDS.items()
    }


@pytest.fixture
def every_kind(spark, tmp_path):
    """A store holding one spec of every registry kind."""
    root = str(tmp_path / "s")
    fs = FeatureStore(spark, storage_path=root)
    fs.register("t", _feats(spark), ttl_seconds=30 * 86400)
    fs.register("vecs", _vecs(spark))
    fs.create_derived_view("dv", ["t"], {"g": "t__feature_a * 2"})
    fs.create_feature_service(
        "svc", {"t": ["feature_a"], "dv": None},
        output_mapping={"t__feature_a": "a"},
    )
    fs.create_rollup("t", "ru", ["entity_id"], ["feature_a"], ["feature_b"])
    fs.materialize_online("t")
    fs.create_saved_dataset("ds", "t", _spine(spark), description="d")
    fs.create_window_view(
        "wv", "t",
        [{"column": "feature_b", "function": "sum", "window_seconds": 86400}],
    )
    fs.create_vector_index(
        "vx", "vecs", method="ivf", params={"n_cells": 2, "iterations": 1}
    )
    fs.create_dedup_index("dd", "t", content_col="text")
    fs.create_probe(
        "p", "t", {"x0": "1", "x1": "feature_b - 10"},
        "CASE WHEN feature_a >= 2.5 THEN 1 ELSE 0 END",
    )
    return root, fs


def test_every_spec_kind_round_trips(spark, every_kind):
    root, fs = every_kind
    before = copy.deepcopy(_specs(fs))
    assert all(before.values()), [k for k, v in before.items() if not v]
    # the file IS the in-memory state: nothing to encode or decode
    raw = json.loads((fs._registry_path()).read_text())
    assert {k: v for k, v in raw.items() if k != "generation"} == before
    assert _specs(FeatureStore(spark, storage_path=root)) == before


def test_legacy_registry_without_optional_fields_serves(spark, every_kind):
    """A registry written before the optional fields existed (and before
    the generation counter) loads and serves: each read site supplies
    the legacy default."""
    root, fs = every_kind
    q = [1.0, 2.0, 1.0, 0.0]
    want_knn = sorted(r["vec_id"] for r in fs.knn("vx", q, k=3).collect())
    want_rollup = sorted(map(tuple, fs.get_rollup("ru").drop(
        "hll_feature_b").collect()))
    want_sigs = fs.get_dedup_signatures("dd").count()
    reg = fs._registry_path()
    raw = json.loads(reg.read_text())
    raw.pop("generation")
    raw["services"]["svc"].pop("output_mapping")
    for f in ("distinct_cols", "state_version", "rewritten"):
        raw["rollups"]["ru"].pop(f, None)
    raw["datasets"]["ds"].pop("description")
    for f in ("key_cols", "model_version", "data_version", "data_versions",
              "rewritten", "occupancy"):
        raw["vector_indexes"]["vx"].pop(f, None)
    for f in ("method", "data_version", "data_versions", "rewritten"):
        raw["dedup_indexes"]["dd"].pop(f, None)
    reg.write_text(json.dumps(raw))

    legacy = FeatureStore(spark, storage_path=root)
    got = legacy.get_service_training_set("svc", _spine(spark))
    assert "t__feature_a" in got.columns and got.count() == 2
    assert sorted(map(tuple, legacy.get_rollup("ru").drop(
        "hll_feature_b").collect())) == want_rollup
    assert legacy.get_saved_dataset_info("ds")["description"] == ""
    assert sorted(
        r["vec_id"] for r in legacy.knn("vx", q, k=3).collect()
    ) == want_knn
    with pytest.raises(FeatureStoreError, match="rebuild"):
        legacy.vector_index_drift("vx")
    assert legacy.get_dedup_signatures("dd").count() == want_sigs
    assert not legacy.dedup_index_stale("dd")
    # a legacy file (generation 0) takes the next publish
    legacy.drop_window_view("wv")
    assert json.loads(reg.read_text())["generation"] == 1


def test_stale_snapshot_writer_refuses(spark, tmp_path):
    root = str(tmp_path / "s")
    FeatureStore(spark, storage_path=root).register("t", _feats(spark))
    a = FeatureStore(spark, storage_path=root)
    b = FeatureStore(spark, storage_path=root)
    assert a.snapshot(description="a").snapshot_id == "snap-1"
    # b loaded the file before a's publish: its rewrite would erase
    # snap-1 (and the retention pins it holds)
    with pytest.raises(FeatureStoreError, match="generation"):
        b.snapshot(description="b")
    with pytest.raises(FeatureStoreError, match="generation"):
        b.drop_snapshot("snap-1")
    reopened = FeatureStore(spark, storage_path=root)
    assert [(m.snapshot_id, m.description)
            for m in reopened.list_snapshots()] == [("snap-1", "a")]
    b = FeatureStore(spark, storage_path=root)
    assert b.snapshot(description="b").snapshot_id == "snap-2"
    assert [m.snapshot_id for m in FeatureStore(
        spark, storage_path=root).list_snapshots()] == ["snap-1", "snap-2"]


def test_legacy_snapshot_files_take_a_publish(spark, tmp_path):
    """Flat-map files (pre-counter) and files without a generation load,
    and the next publish lands on them."""
    root = tmp_path / "s"
    fs = FeatureStore(spark, storage_path=str(root))
    fs.register("t", _feats(spark))
    m = fs.snapshot(description="old")
    path = root / "_snapshots.json"
    path.write_text(json.dumps({m.snapshot_id: m.as_dict()}))
    legacy = FeatureStore(spark, storage_path=str(root))
    assert legacy.get_snapshot("snap-1").tables == m.tables
    assert legacy.snapshot().snapshot_id == "snap-2"
    raw = json.loads(path.read_text())
    assert raw["generation"] == 1 and raw["next_id"] == 3
    assert legacy.drop_snapshot("snap-2")
    assert FeatureStore(spark, storage_path=str(root)).snapshot(
    ).snapshot_id == "snap-3"


def test_retention_reads_live_pins(spark, tmp_path):
    """An instance opened before another one's snapshot must still keep
    the version that manifest pins."""
    root = str(tmp_path / "s")
    setup = FeatureStore(spark, storage_path=root, max_versions=1)
    setup.register("t", _feats(spark))
    setup.register("t", _feats(spark, shift=1))  # v2
    c = FeatureStore(spark, storage_path=root, max_versions=1)
    d = FeatureStore(spark, storage_path=root, max_versions=1)
    snap = d.snapshot(description="pins v2")
    assert snap.version_of("t") == 2
    c.register("t", _feats(spark, shift=2))  # v3
    c.register("t", _feats(spark, shift=3))  # v4
    fresh = FeatureStore(spark, storage_path=root, max_versions=1)
    assert fresh._backend.versions("t") == [2, 4]
    assert sorted(r["feature_a"] for r in fresh.get_version("t", 2).collect()) \
        == sorted(float(i % 5 + 1) for i in range(80))
    got = fresh.get_training_set("t", _spine(spark), manifest=snap.snapshot_id)
    assert got.count() == 2
