"""sd15's operator: point-in-time streaming enrichment
(streaming/ingest.py ``stream_pit_enrich``).

Contracts pinned here:
  * stream == batch: the per-micro-batch as-of join unions to exactly
    the one-shot batch ``asof_join`` over the same spine;
  * replay idempotence: re-running the whole feed against the SAME sink
    (fresh checkpoint — the worst-case full replay) overwrites the
    per-batch subdirs instead of appending duplicates;
  * left enrichment: spine rows with no qualifying feature survive
    null-padded when ``how="left"``.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from ml_feature_store_spark.operators.asof import asof_join
from ml_feature_store_spark.streaming.ingest import stream_pit_enrich


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def feature_df(spark):
    rows = [
        (1, _ts("2024-01-01 00:00:00"), 10.0, 1),
        (1, _ts("2024-01-05 00:00:00"), 20.0, 2),
        (2, _ts("2024-01-03 00:00:00"), 30.0, 3),
        (3, _ts("2024-01-20 00:00:00"), 40.0, 4),
    ]
    return spark.createDataFrame(
        rows, "entity_id long, timestamp timestamp, value double, __row_id__ long"
    )


@pytest.fixture()
def spine_feed(spark, tmp_path):
    """Two parquet files -> two micro-batches (maxFilesPerTrigger=1)."""
    d = str(tmp_path / "feed")
    os.makedirs(d)
    b1 = [(1, _ts("2024-01-02 00:00:00")), (2, _ts("2024-01-02 00:00:00"))]
    b2 = [(1, _ts("2024-01-10 00:00:00")), (3, _ts("2024-01-10 00:00:00"))]
    schema = "entity_id long, timestamp timestamp"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(d)
    return d


def _run(spark, feed, feats, sink, ck, how="inner"):
    stream = (
        spark.readStream.schema("entity_id long, timestamp timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = stream_pit_enrich(stream, feats, sink, ck, how=how)
    q.awaitTermination(120)
    q.stop()
    return spark.read.parquet(sink).drop("batch_id")


class TestStreamPitEnrich:
    def test_stream_equals_batch(self, spark, feature_df, spine_feed, tmp_path):
        out = _run(
            spark,
            spine_feed,
            feature_df,
            str(tmp_path / "sink"),
            str(tmp_path / "ck"),
        )
        spine = spark.read.parquet(spine_feed)
        expect = asof_join(spine, feature_df, keep_spine_ts=True)
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, expect.collect())
        )
        # batch-boundary semantics: entity 1's 01-10 spine row must see
        # the 01-05 feature (latest <=), entity 3 has no feature yet
        rows = {
            (r.entity_id, r.as_of_timestamp): r.value for r in out.collect()
        }
        assert rows[(1, _ts("2024-01-10 00:00:00"))] == 20.0
        assert (3, _ts("2024-01-10 00:00:00")) not in rows

    def test_full_replay_is_idempotent(
        self, spark, feature_df, spine_feed, tmp_path
    ):
        sink = str(tmp_path / "sink")
        out1 = _run(
            spark, spine_feed, feature_df, sink, str(tmp_path / "ck1")
        ).collect()
        # fresh checkpoint = every batch replays; same sink must not grow
        out2 = _run(
            spark, spine_feed, feature_df, sink, str(tmp_path / "ck2")
        ).collect()
        assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))

    def test_left_keeps_unmatched_spine_rows(
        self, spark, feature_df, spine_feed, tmp_path
    ):
        out = _run(
            spark,
            spine_feed,
            feature_df,
            str(tmp_path / "sink"),
            str(tmp_path / "ck"),
            how="left",
        )
        r3 = [r for r in out.collect() if r.entity_id == 3]
        assert len(r3) == 1 and r3[0].value is None

    def test_unknown_strategy_refused_before_start(
        self, spark, feature_df, spine_feed, tmp_path
    ):
        stream = spark.readStream.schema(
            "entity_id long, timestamp timestamp"
        ).parquet(spine_feed)
        with pytest.raises(ValueError, match="union_bucketed"):
            stream_pit_enrich(
                stream, feature_df, str(tmp_path / "sink"),
                str(tmp_path / "ck"), strategy="jion",
            )
        assert not os.path.exists(tmp_path / "ck")
