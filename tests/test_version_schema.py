"""Every published version records its Spark schema, and reads use it.

* fidelity — for every publish path, ``read_version(...).schema`` equals a
  schema-inferring ``spark.read.parquet`` of the version's directory, on a
  plain and a ``date_partition=True`` store, with a composite (struct) key,
  a UDT column and field metadata;
* zero-job planning — ``read_version``, and planning ``get_online``,
  ``get`` and ``get_table_info``, run no Spark job on a Parquet store;
* visibility — a store sees another store's drop and re-register of a
  table under a different key shape at once (nothing per-process caches
  a version's key shape);
* legacy — ``_meta.json`` files written before schemas were recorded still
  answer ``get``, ``get_online`` and ``get_table_info``, and the first
  publish to such a table records every retained version's schema.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.ml.linalg import Vectors
from pyspark.sql import functions as F

from conftest import jobs_run_by
from ml_feature_store_spark import FeatureStore
from ml_feature_store_spark.sources.registry import version_schema


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _features(spark, rows):
    """(entity_id, timestamp, a, b, vec) rows; ``a`` carries field
    metadata and ``vec`` is a VectorUDT column."""
    df = spark.createDataFrame(
        [(e, ts(t), a, b, Vectors.dense([a, float(b)])) for e, t, a, b in rows],
        ["entity_id", "timestamp", "a", "b", "vec"],
    )
    return df.withMetadata("a", {"unit": "usd"})


def _assert_faithful(spark, fs, names=None) -> set[str]:
    """Every retained version of every table (or of ``names``) records a
    schema, and a read of it returns exactly the schema inference would
    give. Returns the names of the tables checked."""
    b = fs._backend
    names = b.table_names() if names is None else names
    for name in names:
        state = b.meta(name)
        for v in state.versions:
            assert version_schema(state, v) is not None, (name, v)
            got = b.read_version(name, v).schema
            want = spark.read.parquet(str(b._version_path(name, v))).schema
            assert got == want, (name, v, got.simpleString(), want.simpleString())
    return set(names)


@pytest.fixture(scope="module", params=[False, True], ids=["plain", "date_partition"])
def published(spark, request, tmp_path_factory):
    """A Parquet store that went through every publish path once."""
    fs = FeatureStore(
        spark,
        storage_path=str(tmp_path_factory.mktemp("vschema")),
        date_partition=request.param,
    )
    fs.register("t", _features(spark, [
        ("u1", "2024-01-01", 1.0, 1), ("u1", "2024-01-05", 2.0, 2),
        ("u2", "2024-01-02", 3.0, 3), ("u3", "2024-01-03", 4.0, 4),
    ]))
    fs.append("t", _features(spark, [("u2", "2024-01-06", 5.0, 5)]))
    fs.materialize_online("t")
    fs.push("t", _features(spark, [("u3", "2024-01-07", 6.0, 6)]))
    fs.upsert("t", _features(spark, [("u1", "2024-01-05", 2.5, 2)]))
    fs.expire_features("t", ts("2024-01-02"))
    fs.append(
        "t",
        _features(spark, [("u4", "2024-01-08", 7.0, 7)]).withColumn(
            "c", F.lit("new")
        ),
        allow_new_columns=True,
    )
    fs.materialize_online("t")
    ck = spark.createDataFrame(
        [("u1", "m1", ts("2024-01-01"), 1.0), ("u1", "m2", ts("2024-01-02"), 2.0)],
        ["user_id", "merchant_id", "timestamp", "spend"],
    )
    fs.register("ck", ck, entity_cols=["user_id", "merchant_id"])
    fs.append("ck", ck.withColumn("timestamp", F.lit(ts("2024-01-03"))))
    src = spark.createDataFrame(
        [(f"e{i}", ts("2024-01-01"), "g" + str(i % 3), float(i),
          [float(i % 5), float(i % 7), float(i % 3)],
          f"doc number {i % 6} with some shared words")
         for i in range(40)],
        ["entity_id", "timestamp", "grp", "val", "embedding", "text"],
    )
    fs.register("src", src)
    fs.create_rollup("src", "r", ["grp"], ["val"])
    fs.create_vector_index("ann", "src", method="ivf", params={"n_cells": 4})
    fs.create_dedup_index("dd", "src", content_col="text")
    spine = spark.createDataFrame(
        [("u1", ts("2024-01-06")), ("u2", ts("2024-01-06"))],
        ["entity_id", "timestamp"],
    )
    fs.create_saved_dataset("sd", "t", spine)
    return fs


class TestSchemaFidelity:
    def test_every_publish_path_reads_its_inferred_schema(
        self, spark, published
    ):
        tables = _assert_faithful(spark, published)
        fs = published
        expected = {
            "t", "t" + fs._ONLINE_SUFFIX, "ck", "src", "sd" + fs._DATASET_SUFFIX,
        }
        for kind, name in (
            ("rollup", "r"), ("vector index", "ann"), ("dedup index", "dd"),
        ):
            expected |= {name + s for s in fs._SOURCED_SPECS[kind][2]}
        assert expected <= tables
        # the widening append kept the older versions' own schemas
        state = fs._backend.meta("t")
        assert "c" in version_schema(state, state.version).fieldNames()
        assert "c" not in version_schema(state, min(state.versions)).fieldNames()
        assert fs.get_table_info("ck").entity_columns == (
            "user_id", "merchant_id",
        )

    def test_erased_version_reads_and_records_schema(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("t", _features(spark, [
            ("u1", "2024-01-01", 1.0, 1), ("u2", "2024-01-02", 2.0, 2),
        ]))
        fs.materialize_online("t")
        removed = fs.erase_entities("t", ["u1"])
        assert removed == {("t", 1): 1, ("t" + fs._ONLINE_SUFFIX, 1): 1}
        _assert_faithful(spark, fs)
        assert [r.entity_id for r in fs._current("t").collect()] == ["u2"]

    def test_meta_stores_one_compact_schema_per_table(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        df = _features(spark, [("u1", "2024-01-01", 1.0, 1)])
        fs.register("t", df)
        fs.append("t", _features(spark, [("u2", "2024-01-02", 2.0, 2)]))
        text = (tmp_path / "t" / "_meta.json").read_text()
        assert "\n" not in text and ": " not in text
        raw = json.loads(text)
        assert raw["schema"]["type"] == "struct"
        # the schema replaces what each record used to repeat: its
        # version number, column names and empty description
        for rec in raw["versions"].values():
            assert not {"schema", "version", "columns", "description"} & set(rec)
        # defaults are stored once, implicitly; non-defaults survive
        assert '"nullable":true' not in text and '"unit":"usd"' in text
        state = fs._backend.meta("t")
        assert state.versions[2].columns == df.columns + ["__row_id__"]
        assert version_schema(state, 2) == fs._current("t").schema


class TestZeroJobReads:
    def test_reads_plan_with_no_job(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("t", _features(spark, [
            ("u1", "2024-01-01", 1.0, 1), ("u2", "2024-01-02", 2.0, 2),
        ]))
        fs.materialize_online("t")
        for group, fn in (
            ("vs_read_version", lambda: fs._backend.read_version("t", 1)),
            ("vs_get_online", lambda: fs.get_online("t", ["u1"])),
            ("vs_get", lambda: fs.get("t", ["u1"], ts("2024-01-03"))),
            ("vs_table_info", lambda: fs.get_table_info("t")),
        ):
            jobs = jobs_run_by(spark, fn)
            assert jobs == 0, f"{group} ran {jobs} Spark jobs while planning"
        assert [r.a for r in fs.get("t", ["u1"], ts("2024-01-03")).collect()] == [1.0]

    def test_reopened_store_sees_drop_and_reregister(self, spark, tmp_path):
        a = FeatureStore(spark, storage_path=str(tmp_path))
        a.register("t", _features(spark, [("u1", "2024-01-01", 1.0, 1)]))
        assert a.get_table_info("t").entity_columns == ("entity_id",)
        b = FeatureStore(spark, storage_path=str(tmp_path))
        b.delete("t")
        b.register(
            "t",
            spark.createDataFrame(
                [("u1", "m1", ts("2024-01-01"), 9.0)],
                ["user_id", "merchant_id", "timestamp", "spend"],
            ),
            entity_cols=["user_id", "merchant_id"],
        )
        info = a.get_table_info("t")
        assert info.version == 1
        assert info.entity_columns == ("user_id", "merchant_id")
        assert info.columns == ("spend",)
        got = a.get("t", [("u1", "m1")], ts("2024-01-02")).collect()
        assert [(r.user_id, r.merchant_id, r.spend) for r in got] == [
            ("u1", "m1", 9.0)
        ]


class TestLegacyMeta:
    @staticmethod
    def _strip_schemas(root):
        """Rewrite every ``_meta.json`` in the legacy layout: indented,
        no schema, each record with its version, columns and
        description."""
        for path in root.glob("*/_meta.json"):
            raw = json.loads(path.read_text())
            table = raw.pop("schema")
            for k, rec in raw["versions"].items():
                fields = (rec.pop("schema", None) or table)["fields"]
                rec.setdefault("columns", [f["name"] for f in fields])
                rec.update(version=int(k), description=rec.get("description", ""))
            path.write_text(json.dumps(raw, indent=2))

    def test_legacy_meta_still_answers_and_upgrades(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("t", _features(spark, [
            ("u1", "2024-01-01", 1.0, 1), ("u2", "2024-01-02", 2.0, 2),
        ]))
        fs.materialize_online("t")
        self._strip_schemas(tmp_path)
        old = FeatureStore(spark, storage_path=str(tmp_path))
        assert version_schema(old._backend.meta("t"), 1) is None
        info = old.get_table_info("t")
        assert info.columns == ("a", "b", "vec") and info.row_count == 2
        assert [r.a for r in old.get("t", ["u2"], ts("2024-01-03")).collect()] == [2.0]
        assert [r.b for r in old.get_online("t", ["u1"]).collect()] == [1]
        # the first publish records the schema of every retained version,
        # including the legacy one, which keeps its own columns
        old.append(
            "t",
            _features(spark, [("u3", "2024-01-03", 3.0, 3)]).withColumn(
                "c", F.lit(1)
            ),
            allow_new_columns=True,
        )
        state = old._backend.meta("t")
        assert "c" not in version_schema(state, 1).fieldNames()
        assert "c" in version_schema(state, 2).fieldNames()
        _assert_faithful(spark, old, ["t"])
