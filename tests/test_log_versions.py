"""Log-structured table versions.

A version record lists the fragment directories it is made of; an append
writes only its batch as a new fragment (or ``tail ∪ batch`` while the
newest fragment is smaller than ``spark.sql.files.openCostInBytes``). The
contract pinned here, on a plain and on a date-partitioned Parquet store:

* time travel to every version reads the same rows and tie-break
  ``__row_id__``s as the full-copy layout (every append rewriting the
  whole table, which a huge ``openCostInBytes`` reproduces);
* a widening append null-fills older fragments;
* retention commits before it deletes, deletes only fragments no
  retained version lists, and keeps a pruned-but-pinned version's;
* a failed push leaves no visible fragment;
* the streaming sink's exactly-once restart still holds;
* legacy ``_meta.json`` without fragments reads and takes an append;
* the chain stays bounded over many small appends;
* planning ``get`` / ``get_online`` runs no Spark job;
* a materialize, a push, an append and a rollup refresh each run a
  fixed number of jobs.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import jobs_run_by
from ml_feature_store_spark import FeatureStore
from ml_feature_store_spark.operators.pit import ROW_ID_COL
from ml_feature_store_spark.sources.testdata import DEFAULT_SF_DIR
from ml_feature_store_spark.streaming import stream_events, streaming_register

OPEN_COST = "spark.sql.files.openCostInBytes"
# the smallest generated scale, beside the configured one
EVENTS = Path(DEFAULT_SF_DIR).parent / "sf0.001" / "events.parquet"


@pytest.fixture
def open_cost(spark):
    """Set the session's openCostInBytes for one test (the tail rule's
    threshold), restoring it after."""
    old = spark.conf.get(OPEN_COST)

    def set_(n: int) -> None:
        spark.conf.set(OPEN_COST, str(n))

    yield set_
    spark.conf.set(OPEN_COST, old)


@pytest.fixture(params=[False, True], ids=["plain", "date_partition"])
def layout(request):
    return request.param


def _batch(spark, lo, hi, day=1, composite=False):
    """Rows lo..hi-1 over 4 entities; every other row repeats its
    predecessor's (entity, timestamp) key, so tie-breaks matter."""
    rows = [
        (f"u{i % 4}", f"m{i % 2}", dt.datetime(2024, 1, day + (i - i % 2) % 5),
         float(i))
        for i in range(lo, hi)
    ]
    df = spark.createDataFrame(rows, ["user_id", "merchant_id", "timestamp", "x"])
    if composite:
        return df
    return df.drop("merchant_id").withColumnRenamed("user_id", "entity_id")


def _store(spark, root, date_partition, **kw):
    return FeatureStore(spark, storage_path=str(root),
                        date_partition=date_partition, **kw)


def _rows(df):
    return sorted(
        tuple(str(v) for v in r.asDict().values())
        for r in df.drop("__dt__").collect()
    )


def _chain(fs, name="t", version=None):
    state = fs._backend.meta(name)
    return state.versions[state.version if version is None else version].fragments


def _on_disk(fs, name="t"):
    return {p.name for p in (fs._backend.root / name).iterdir() if p.is_dir()}


@pytest.mark.parametrize("composite", [False, True], ids=["scalar", "composite"])
def test_time_travel_matches_full_copy_layout(spark, tmp_path, open_cost,
                                              layout, composite):
    key = {"entity_cols": ["user_id", "merchant_id"]} if composite else {}
    stores = {}
    for name, cost in (("log", 1), ("full", 1 << 40)):
        open_cost(cost)
        fs = _store(spark, tmp_path / name, layout)
        fs.register("t", _batch(spark, 0, 8, composite=composite), **key)
        for i in range(1, 4):
            fs.append("t", _batch(spark, 8 * i, 8 * i + 6, day=i, composite=composite))
        stores[name] = fs
    log, full = stores["log"], stores["full"]
    assert _chain(log) == ["v=1", "v=2", "v=3", "v=4"]
    assert _chain(full) == ["v=4"]
    for v in range(1, 5):
        a, b = log._backend.read_version("t", v), full._backend.read_version("t", v)
        assert ROW_ID_COL in a.columns
        assert _rows(a) == _rows(b)
        assert log.get_table_info("t").row_count == full.get_table_info("t").row_count
    ids = [("u1", "m1"), ("u2", "m0")] if composite else ["u1", "u2", "u3"]
    for day in (1, 3, 6):
        cut = dt.datetime(2024, 1, day)
        assert _rows(log.get("t", ids, cut)) == _rows(full.get("t", ids, cut))


def test_widening_append_null_fills_older_fragments(spark, tmp_path, open_cost,
                                                    layout):
    open_cost(1)
    fs = _store(spark, tmp_path, layout)
    fs.register("t", _batch(spark, 0, 6))
    fs.append("t", _batch(spark, 6, 8, day=2).withColumn("c", F.lit("new")),
              allow_new_columns=True)
    assert _chain(fs) == ["v=1", "v=2"]
    cur = {r["x"]: r["c"] for r in fs._current("t").collect()}
    assert cur == {**{float(i): None for i in range(6)}, 6.0: "new", 7.0: "new"}
    assert "c" not in fs.get_version("t", 1).columns
    # a later plain append still reads the older fragment's nulls
    fs.append("t", _batch(spark, 8, 9, day=3).withColumn("c", F.lit("z")))
    assert fs._current("t").filter(F.col("c").isNull()).count() == 6


def test_retention_keeps_shared_and_pinned_fragments(spark, tmp_path, open_cost,
                                                     layout):
    open_cost(1)
    fs = _store(spark, tmp_path, layout, max_versions=2)
    fs.register("t", _batch(spark, 0, 6))
    fs.append("t", _batch(spark, 6, 8, day=2))
    pinned = _rows(fs.get_version("t", 2))
    pin = fs.snapshot(["t"])
    fs.register("t", _batch(spark, 10, 14))  # v3: a full write, [v=3]
    for i in range(4, 6):
        fs.append("t", _batch(spark, 8 * i, 8 * i + 2, day=i))
    state = fs._backend.meta("t")
    # v1 and v3 were pruned; the pinned v2 still lists v=1, v4 lists v=3
    assert sorted(state.versions) == [2, 4, 5]
    assert _chain(fs, version=2) == ["v=1", "v=2"]
    assert _chain(fs) == ["v=3", "v=4", "v=5"]
    assert _on_disk(fs) == set(state.fragments) == {f"v={i}" for i in range(1, 6)}
    assert _rows(fs.get_version("t", 2)) == pinned
    # releasing the pin frees v2's fragments, and only them, at the next prune
    fs.drop_snapshot(pin.snapshot_id)
    fs.append("t", _batch(spark, 60, 61, day=6))
    assert sorted(fs._backend.versions("t")) == [5, 6]
    assert _on_disk(fs) == set(fs._backend.meta("t").fragments) == {
        "v=3", "v=4", "v=5", "v=6"
    }
    assert fs._current("t").count() == 4 + 2 * 2 + 1


def test_retention_commits_before_it_deletes(spark, tmp_path, open_cost,
                                             layout, monkeypatch):
    open_cost(1)
    fs = _store(spark, tmp_path, layout, max_versions=1)
    fs.register("t", _batch(spark, 0, 6))
    fs.append("t", _batch(spark, 6, 8, day=2))  # v1 pruned; v=1 still listed

    def fail(name, keys):
        raise OSError("disk went away mid-delete")

    monkeypatch.setattr(fs._backend, "_delete_fragments", fail)
    with pytest.raises(OSError):
        fs.register("t", _batch(spark, 10, 14))  # prunes v2: v=1, v=2 die
    state = fs._backend.meta("t")
    assert sorted(state.versions) == [3] and _chain(fs) == ["v=3"]
    assert set(state.fragments) == {"v=3"}
    assert fs.get_version("t", 3).count() == state.versions[3].row_count == 4
    # the deletes that failed left unlisted directories behind, never a
    # listed version without its files
    assert _on_disk(fs) == {"v=1", "v=2", "v=3"}


def test_failed_push_leaves_no_visible_fragment(spark, tmp_path, open_cost,
                                                layout, monkeypatch):
    open_cost(1)
    fs = _store(spark, tmp_path, layout)
    fs.register("t", _batch(spark, 0, 6))
    fs.materialize_online("t")
    before = json.loads((tmp_path / "t" / "_meta.json").read_text())
    real = type(fs._backend)._commit

    def crash(self, state):
        raise OSError("crash before the meta commit")

    monkeypatch.setattr(type(fs._backend), "_commit", crash)
    with pytest.raises(OSError):
        fs.push("t", _batch(spark, 6, 8, day=2))
    monkeypatch.setattr(type(fs._backend), "_commit", real)
    assert json.loads((tmp_path / "t" / "_meta.json").read_text()) == before
    assert fs._current("t").count() == 6
    # the retry overwrites the unlisted directory; nothing is doubled
    fs.push("t", _batch(spark, 6, 8, day=2))
    assert _chain(fs) == ["v=1", "v=2"]
    assert fs._current("t").count() == 8
    assert fs.get_online("t").count() == 4


@pytest.mark.parametrize("cost", [1, 1 << 40], ids=["fragment", "fold"])
def test_streaming_restart_is_exactly_once(spark, tmp_path, open_cost, layout,
                                           cost):
    open_cost(cost)
    feed = tmp_path / "feed"
    feed.mkdir()
    shutil.copy(EVENTS, feed)
    fs = _store(spark, tmp_path / "store", layout)
    fs.register("s", spark.read.parquet(str(feed)).limit(50).select(
        F.col("user_id").alias("entity_id"), F.col("ts").alias("timestamp"),
        "event_type", "value",
    ))

    def run() -> None:
        q = streaming_register(
            stream_events(spark, str(feed)), fs, "s",
            tempfile.mkdtemp(dir=tmp_path), mode="append",
        )
        q.awaitTermination(120)
        assert q.exception() is None
        q.stop()

    run()  # the micro-batch is appended in the stream's own session
    info = fs.get_table_info("s")
    assert info.version == 2
    assert len(_chain(fs, "s")) == (2 if cost == 1 else 1)
    n = fs._current("s").count()
    run()  # a fresh checkpoint re-delivers batch 0: already applied
    assert fs.get_table_info("s").version == 2
    assert fs._current("s").count() == n == fs.get_table_info("s").row_count


def test_memory_fold_of_a_fragment_frozen_in_a_stream(spark, tmp_path, open_cost):
    """A memory fragment keeps the session that froze it — a stream's own,
    for a micro-batch. The online fold observes its delta rows on the
    snapshot write, so that write must run in the fragment's session."""
    open_cost(1)
    feed = tmp_path / "feed"
    feed.mkdir()
    shutil.copy(EVENTS, feed)
    fs = FeatureStore(spark)
    feats = spark.read.parquet(str(feed)).select(
        F.col("user_id").alias("entity_id"), F.col("ts").alias("timestamp"),
        "event_type", "value",
    )
    fs.register("s", feats.limit(50))
    fs.materialize_online("s")
    q = streaming_register(
        stream_events(spark, str(feed)), fs, "s", str(tmp_path / "ck"),
        mode="append",
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert len(_chain(fs, "s")) == 2
    n = fs.materialize_online("s", incremental=True)
    folded = _rows(fs.get_online("s"))
    assert fs.materialize_online("s") == n  # the full rebuild agrees
    assert _rows(fs.get_online("s")) == folded


def test_legacy_meta_reads_and_takes_an_append(spark, tmp_path, open_cost,
                                               layout):
    fs = _store(spark, tmp_path, layout)
    fs.register("t", _batch(spark, 0, 6))
    path = tmp_path / "t" / "_meta.json"
    raw = json.loads(path.read_text())
    del raw["fragments"]  # what a store written before fragments holds
    path.write_text(json.dumps(raw))
    old = _store(spark, tmp_path, layout)
    assert _chain(old) == ["v=1"]
    assert old._current("t").count() == 6
    open_cost(1 << 40)  # a legacy fragment's size is unknown: never folded
    old.append("t", _batch(spark, 6, 8, day=2))
    assert _chain(old) == ["v=1", "v=2"]
    assert _rows(old._current("t")) == _rows(
        _store(spark, tmp_path, layout)._current("t")
    )
    assert old._current("t").count() == 8
    assert old.get_version("t", 1).count() == 6


def test_chain_stays_bounded(spark, tmp_path, open_cost, layout):
    fs = _store(spark, tmp_path, layout, max_versions=3)
    fs.register("t", _batch(spark, 0, 4))
    limit = 3 * fs._backend.meta("t").fragments["v=1"].bytes
    open_cost(limit)
    for i in range(1, 51):
        fs.append("t", _batch(spark, 4 * i, 4 * i + 2, day=1 + i % 20))
    state = fs._backend.meta("t")
    chain = _chain(fs)
    sizes = [state.fragments[k].bytes for k in chain]
    # every fragment but the newest is worth opening on its own
    assert all(b >= limit for b in sizes[:-1])
    assert len(chain) <= sum(sizes) // limit + 1 < 51
    assert fs._current("t").count() == 4 + 50 * 2


def test_derived_state_job_counts(spark, tmp_path):
    """Spark jobs per lifecycle call on a 6-row plain table. A fold
    reads only the fragments above its watermark, and the delta's row
    count rides the state write: a rollup refresh runs no separate count
    job. An append is its write alone: the empty refusal reads the
    write's observed row count, so a push is that write plus the fold."""
    fs = _store(spark, tmp_path, False)
    fs.register("t", _batch(spark, 0, 6))
    assert jobs_run_by(spark, lambda: fs.materialize_online("t")) == 2
    assert jobs_run_by(
        spark, lambda: fs.push("t", _batch(spark, 6, 8, day=2))
    ) == 3
    fs.create_rollup("t", "r", ["entity_id"], ["x"])
    assert jobs_run_by(
        spark, lambda: fs.append("t", _batch(spark, 8, 10, day=3))
    ) == 1
    assert jobs_run_by(spark, lambda: fs.refresh_rollup("r")) == 3
    got = {r.entity_id: (r.n_rows, r.sum_x) for r in fs.get_rollup("r").collect()}
    assert got == {"u0": (3, 12.0), "u1": (3, 15.0), "u2": (2, 8.0),
                   "u3": (2, 10.0)}


def test_planning_reads_runs_no_job(spark, tmp_path, open_cost, layout):
    open_cost(1)
    fs = _store(spark, tmp_path, layout)
    fs.register("t", _batch(spark, 0, 6))
    fs.materialize_online("t")
    fs.push("t", _batch(spark, 6, 8, day=2))
    assert len(_chain(fs)) == 2
    for group, fn in (
        ("lv_get", lambda: fs.get("t", ["u1"], dt.datetime(2024, 1, 9))),
        ("lv_get_online", lambda: fs.get_online("t", ["u1"])),
    ):
        assert jobs_run_by(spark, fn) == 0, group
    # the pre-push check reads no fragment once the snapshot is current
    assert fs._backend.read_delta(
        "t", 2, fs._online_meta["t"]["watermark"]
    ) is None
