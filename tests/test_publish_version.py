"""One publish path for table history.

``register``, ``append``, ``upsert``, ``expire_features`` and
``merge_entities`` publish through ``FeatureStore._publish_version``: the
write observes its row count, and an empty result is refused from that
count (the version is written, then unpublished) instead of from a
separate emptiness pass over the input. Pinned here:

* an empty ``append`` or ``push`` refuses with "empty" and leaves the
  versions, the current row count, the online view and, on Parquet, the
  fragment directories as they were — on the memory and the Parquet
  backend, plain and date-partitioned, on the batch-only and on the
  type-changing union path;
* the pre-write checks of ``upsert`` (empty, duplicate keys) and of
  ``merge_entities`` (empty, NULL, duplicate alias) are one aggregate;
* every history writer goes through the one publish.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from conftest import jobs_run_by
from ml_feature_store_spark import FeatureStore, FeatureValidationError


@pytest.fixture(params=["memory", "parquet"])
def backend(request):
    return request.param


@pytest.fixture(params=[False, True], ids=["plain", "date_partition"])
def layout(request):
    return request.param


def _batch(spark, lo, hi, day=1):
    rows = [(f"u{i % 4}", dt.datetime(2024, 1, day, 0, i), float(i))
            for i in range(lo, hi)]
    return spark.createDataFrame(
        rows, "entity_id string, timestamp timestamp, x double"
    )


def _store(spark, tmp_path, backend, layout):
    root = str(tmp_path) if backend == "parquet" else None
    return FeatureStore(spark, storage_path=root, date_partition=layout)


def _state(fs, name="t"):
    """What a refused write must leave as it was."""
    b = fs._backend
    dirs = (
        sorted(p.name for p in (b.root / name).iterdir() if p.is_dir())
        if hasattr(b, "root") else None
    )
    return b.versions(name), fs.get_table_info(name).row_count, dirs


@pytest.mark.parametrize("path", ["batch", "union"])
def test_empty_append_refuses_and_leaves_no_trace(spark, tmp_path, backend,
                                                  layout, path):
    fs = _store(spark, tmp_path, backend, layout)
    fs.register("t", _batch(spark, 0, 6))
    fs.append("t", _batch(spark, 6, 8, day=2))
    empty = _batch(spark, 0, 0)
    if path == "union":  # a string batch widens the double column's type
        empty = empty.withColumn("x", F.col("x").cast("string"))
    before = _state(fs)
    with pytest.raises(FeatureValidationError, match="empty"):
        fs.append("t", empty)
    assert _state(fs) == before
    assert fs._current("t").count() == 8
    # the next append takes the version the refused one did not keep
    assert fs.append("t", _batch(spark, 8, 9, day=3)).version == 3


def test_empty_push_refuses_and_leaves_no_trace(spark, tmp_path, backend,
                                                layout):
    fs = _store(spark, tmp_path, backend, layout)
    fs.register("t", _batch(spark, 0, 6))
    fs.materialize_online("t")
    before = _state(fs), fs._backend.versions("t__online")
    with pytest.raises(FeatureValidationError, match="empty"):
        fs.push("t", _batch(spark, 0, 0))
    assert (_state(fs), fs._backend.versions("t__online")) == before
    assert fs._current("t").count() == 6
    assert fs.get_online("t").count() == 4
    fs.push("t", _batch(spark, 6, 8, day=2))
    assert fs._current("t").count() == 8


def test_upsert_checks_are_one_aggregate(spark):
    """The duplicate refusal runs 2 jobs: under AQE the aggregate's
    shuffle stage is a job of its own. An empty patch plans to an empty
    relation: 1 job."""
    fs = FeatureStore(spark)
    fs.register("t", _batch(spark, 0, 6))
    dup = _batch(spark, 0, 2).union(_batch(spark, 0, 1))
    empty = _batch(spark, 0, 0)
    for patch, match, jobs in ((dup, "duplicate", 2), (empty, "empty", 1)):
        patch.count()

        def refused(patch=patch, match=match):
            with pytest.raises(FeatureValidationError, match=match):
                fs.upsert("t", patch)

        assert jobs_run_by(spark, refused) == jobs, match
    assert fs._backend.versions("t") == [1]


def test_merge_guards_are_one_aggregate(spark):
    """Each guard refuses from the one aggregate, in the order the
    guards are checked: 2 jobs (1 on an empty mapping)."""
    fs = FeatureStore(spark)
    fs.register("t", _batch(spark, 0, 6))
    schema = "alias_id string, canonical_id string"
    for rows, match, jobs in (
        ([], "empty", 1),
        ([("u1", None)], "NULL", 2),
        ([(None, "u0")], "NULL", 2),
        # NULL is checked before a duplicate alias, in any other group
        ([("u1", "u0"), ("u1", "u2"), ("u3", None)], "NULL", 2),
        ([("u1", "u0"), ("u1", "u2")], "multiple", 2),
    ):
        m = spark.createDataFrame(rows, schema)
        m.count()

        def refused(m=m, match=match):
            with pytest.raises(FeatureValidationError, match=match):
                fs.merge_entities("t", m)

        assert jobs_run_by(spark, refused) == jobs, match
    assert fs._backend.versions("t") == [1]


def test_every_history_writer_publishes_once(spark, monkeypatch):
    fs = FeatureStore(spark)
    calls = []
    real = fs._publish_version

    def spy(name, *args, **kwargs):
        calls.append(name)
        return real(name, *args, **kwargs)

    monkeypatch.setattr(fs, "_publish_version", spy)
    fs.register("t", _batch(spark, 0, 6))
    fs.append("t", _batch(spark, 6, 8, day=2))
    fs.upsert("t", _batch(spark, 0, 2))
    fs.expire_features("t", dt.datetime(2024, 1, 1, 0, 1))
    fs.merge_entities("t", spark.createDataFrame(
        [("u1", "u0")], "alias_id string, canonical_id string"
    ))
    assert calls == ["t"] * 5
    assert fs._backend.versions("t") == [1, 2, 3, 4, 5]
