"""The derived-state lifecycle shared by rollups, vector indexes and
dedup indexes: every build pins its source snapshot, so an append that
lands mid-build is folded by the next refresh instead of being lost.
Plus a guard on where the public API lives: perfbench spans the public
methods found in ``vars(FeatureStore)`` / ``vars(ParquetVersionStore)``,
so a method inherited from a mixin or base class would silently lose
its span."""

from __future__ import annotations

import datetime as dt
import inspect

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
