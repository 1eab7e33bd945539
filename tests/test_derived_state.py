"""The derived-state lifecycle shared by the online view, rollups,
vector indexes and dedup indexes: every build pins its source snapshot,
so an append that lands mid-build is folded by the next refresh instead
of being lost, and a fold reads only the source fragments above its
watermark. Plus a guard on where the public API lives: perfbench spans the public
methods found in ``vars(FeatureStore)`` / ``vars(ParquetVersionStore)``,
so a method inherited from a mixin or base class would silently lose
its span."""

from __future__ import annotations

import datetime as dt
import inspect
import json

import pytest
from pyspark.sql import functions as F

from ml_feature_store_spark.sources.registry import ParquetVersionStore
from ml_feature_store_spark.store import FeatureStore


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(f"e{i % 3}", dt.datetime(2024, 1, 1), f"g{i % 2}", float(i))
         for i in range(lo, hi)],
        ["entity_id", "timestamp", "grp", "val"],
    )


def test_append_during_create_rollup_is_folded_by_refresh(spark):
    fs = FeatureStore(spark)
    fs.register("src", _rows(spark, 0, 10))
    real_write = fs._backend.write_version
    landed = []

    def write_then_append(name, *args, **kwargs):
        real_write(name, *args, **kwargs)
        if name == "r" + FeatureStore._ROLLUP_SUFFIX and not landed:
            landed.append(name)
            fs.append("src", _rows(spark, 10, 15))

    fs._backend.write_version = write_then_append
    fs.create_rollup("src", "r", ["grp"], ["val"])
    assert landed, "the append never ran inside create_rollup"
    fs.refresh_rollup("r")
    got = fs.get_rollup("r").agg(
        F.sum("n_rows").alias("n"), F.sum("sum_val").alias("s")
    ).collect()[0]
    assert fs.get_table_info("src").row_count == 15
    assert got["n"] == 15
    assert got["s"] == float(sum(range(15)))


def _events(spark, lo, hi):
    """Rows lo..hi-1 over 3 entities, each later than the one before."""
    return spark.createDataFrame(
        [(f"e{i % 3}", dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
          float(i)) for i in range(lo, hi)],
        ["entity_id", "timestamp", "val"],
    )


def _online(fs, name="t"):
    return {r["entity_id"]: r["val"] for r in fs.get_online(name).collect()}


def test_append_during_materialize_online_is_folded_by_push(spark):
    fs = FeatureStore(spark)
    fs.register("t", _events(spark, 0, 6))
    real_read = fs._backend.read_version
    landed = []

    def append_then_read(name, version):
        if name == "t" and not landed:
            landed.append(version)
            fs.append("t", _events(spark, 6, 9))
        return real_read(name, version)

    fs._backend.read_version = append_then_read
    fs.materialize_online("t")
    fs._backend.read_version = real_read
    assert landed == [1], "the append never ran inside materialize_online"
    fs.push("t", _events(spark, 9, 10))
    assert fs.get_table_info("t").row_count == 10
    assert _online(fs) == {"e0": 9.0, "e1": 7.0, "e2": 8.0}


def test_legacy_online_entry_folds_incrementally(spark, tmp_path):
    """A registry whose online entry holds only watermark and src_rows
    opens, reads as the table's own view, and folds only the delta."""
    fs = FeatureStore(spark, storage_path=str(tmp_path))
    fs.register("t", _events(spark, 0, 6))
    fs.materialize_online("t")
    path = tmp_path / "_registry.json"
    reg = json.loads(path.read_text())
    spec = reg["online"]["t"]
    reg["online"]["t"] = {k: spec[k] for k in ("watermark", "src_rows")}
    path.write_text(json.dumps(reg))
    b = FeatureStore(spark, storage_path=str(tmp_path))
    b.append("t", _events(spark, 6, 8))
    real_read = b._backend.read_version
    reads = []

    def logged(name, version):
        reads.append(name)
        return real_read(name, version)

    b._backend.read_version = logged
    assert b.materialize_online("t", incremental=True) == 3
    b._backend.read_version = real_read
    assert "t" not in reads  # only the fragment above the watermark
    assert _online(b) == {"e0": 6.0, "e1": 7.0, "e2": 5.0}
    spec = b._online_meta["t"]
    assert (spec["src"], spec["src_version"], spec["src_rows"]) == ("t", 2, 8)
    assert spec["data_version"] == 2 and not spec.get("rewritten")


def test_refresh_rollup_without_appends_writes_nothing(spark):
    fs = FeatureStore(spark)
    fs.register("src", _rows(spark, 0, 10))
    n = fs.create_rollup("src", "r", ["grp"], ["val"])
    rname = "r" + FeatureStore._ROLLUP_SUFFIX
    before = fs._backend.versions(rname)
    assert fs.refresh_rollup("r") == n == 2
    assert fs._backend.versions(rname) == before


@pytest.mark.parametrize("cls", [FeatureStore, ParquetVersionStore])
def test_public_api_is_defined_on_the_class_itself(cls):
    public = {
        n for n, v in inspect.getmembers(cls)
        if not n.startswith("_") and callable(v)
    }
    assert public, cls
    inherited = sorted(n for n in public if n not in vars(cls))
    assert not inherited, (
        f"{cls.__name__} inherits public methods {inherited}; define "
        f"them on the class so perfbench's vars()-based spans see them"
    )
