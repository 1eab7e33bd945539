"""Round-12 store surfaces.

1. Snapshot-pin accounting for index builds/refreshes (r11 ADVICE
   medium): append() never bumps the registry generation, so a
   concurrent append landing between the snapshot read and the publish
   used to be silently ABSORBED — the spec recorded post-append
   src_version/src_rows/watermark against pre-append encoded data, knn's
   staleness check passed, and the appended rows were below the
   watermark forever (no later refresh could fold them). The fix
   observes version/rows/watermark BEFORE reading the pinned snapshot
   (store._pin_source): a mid-build append now leaves the spec LAGGING,
   so knn refuses stale and the next refresh folds the missed delta.

2. vector_index_drift / vector_index_drift_stat (r11 verdict next-round
   #2): PSI between the build-time cell-occupancy histogram (persisted
   in the spec) and the occupancy the index would serve now — the
   rebuild-vs-refresh policy signal. An i.i.d. append must NOT trip it;
   a shifted distribution must.

3. The stream_index_enrich(refresh='auto', drift_threshold=...) REFUSAL:
   auto-refresh must not keep folding into a model the data has left
   behind.

4. Composite-key guards (r11 ADVICE low): natural key columns shadowing
   the encoded table's internal columns refuse at build time;
   exclude_self refuses on composite-key indexes (struct vs scalar id
   can never match).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_spark.errors import (
    FeatureStoreError,
    FeatureValidationError,
)
from ml_feature_store_spark.store import FeatureStore

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def feats(spark):
    from ml_feature_store_spark.suite import table

    emb = table(spark, SF, "embeddings")
    return emb.select(
        F.col("vec_id").alias("entity_id"),
        F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    ).cache()


def _shifted(df, offset: float, id_offset: int = 100_000):
    """Same rows, ids displaced (fresh entities) and every component
    shifted by a constant — a distribution the frozen model's cells do
    NOT cover proportionally."""
    return df.select(
        (F.col("entity_id") + F.lit(id_offset)).alias("entity_id"),
        "timestamp",
        F.transform("embedding", lambda x: x + F.lit(offset)).alias(
            "embedding"
        ),
    )


class TestMidBuildAppendPin:
    def test_create_pins_pre_append_accounting(self, spark, feats, tmp_path):
        """An append landing AFTER the build's snapshot read but BEFORE
        the spec publish must leave the spec lagging (knn refuses
        stale; refresh folds the miss) — never absorbed."""
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("vecs", feats.filter("entity_id % 2 = 0"))
        b = FeatureStore(spark, storage_path=root)
        orig = b._backend.write_version
        fired = {"done": False}

        def hooked(name, ver, df, *a, **kw):
            r = orig(name, ver, df, *a, **kw)
            if name == "ann__vindex" and not fired["done"]:
                fired["done"] = True
                # a SECOND instance appends mid-build — append never
                # touches the registry generation, so b's CAS publish
                # below still succeeds (the ADVICE scenario)
                other = FeatureStore(spark, storage_path=root)
                other.append("vecs", feats.filter("entity_id % 2 = 1"))
            return r

        b._backend.write_version = hooked
        b.create_vector_index("ann", "vecs", method="ivf")
        assert fired["done"]
        qvec = [
            float(x)
            for x in feats.filter("entity_id = 100").collect()[0]["embedding"]
        ]
        # the spec must cover ONLY the pinned pre-append snapshot...
        assert b.vector_index_stale("ann")
        with pytest.raises(FeatureStoreError, match="STALE"):
            b.knn("ann", qvec, k=3)
        # ...and the refresh folds the mid-build rows (nothing lost)
        total = b.refresh_vector_index("ann")
        assert total == feats.count()
        assert b._derived_state("vector index", "ann").count() == total
        assert b.knn("ann", qvec, k=3).count() == 3

    def test_refresh_pins_pre_append_accounting(self, spark, feats, tmp_path):
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("vecs", feats.filter("entity_id % 3 = 0"))
        setup.create_vector_index("ann", "vecs", method="ivf")
        b = FeatureStore(spark, storage_path=root)
        b.append("vecs", feats.filter("entity_id % 3 = 1"))
        orig = b._backend.write_version
        fired = {"done": False}

        def hooked(name, ver, df, *a, **kw):
            r = orig(name, ver, df, *a, **kw)
            if name == "ann__vindex" and not fired["done"]:
                fired["done"] = True
                other = FeatureStore(spark, storage_path=root)
                other.append("vecs", feats.filter("entity_id % 3 = 2"))
            return r

        b._backend.write_version = hooked
        b.refresh_vector_index("ann")  # folds the %3=1 delta only
        assert fired["done"]
        assert b.vector_index_stale("ann")  # the mid-refresh %3=2 rows
        total = b.refresh_vector_index("ann")
        assert total == feats.count()
        assert b._derived_state("vector index", "ann").count() == total


class TestVectorIndexDrift:
    @pytest.fixture()
    def built(self, spark, feats):
        fs = FeatureStore(spark)
        fs.register("vecs", feats.filter("entity_id % 2 = 0"))
        fs.create_vector_index("ann", "vecs", method="ivf")
        return fs

    def test_iid_append_does_not_trip(self, built, feats):
        # odd half — same distribution the model trained on
        built.append("vecs", feats.filter("entity_id % 2 = 1"))
        stat = built.vector_index_drift_stat("ann")  # pending included
        assert not stat["recommend_rebuild"]
        assert stat["psi"] < 0.1
        built.refresh_vector_index("ann")
        stat2 = built.vector_index_drift_stat("ann")
        assert not stat2["recommend_rebuild"]

    def test_shifted_append_trips_before_fold(self, built, feats):
        built.append(
            "vecs", _shifted(feats.filter("entity_id % 2 = 1"), 8.0)
        )
        # include_pending=True answers BEFORE the fold: the pending
        # delta is encoded map-only against the frozen model
        stat = built.vector_index_drift_stat("ann")
        assert stat["recommend_rebuild"] and stat["psi"] > 0.25
        # excluding the pending delta, nothing folded yet -> no drift
        calm = built.vector_index_drift_stat("ann", include_pending=False)
        assert not calm["recommend_rebuild"]
        # after the fold the stored state itself is drifted
        built.refresh_vector_index("ann")
        stat2 = built.vector_index_drift_stat(
            "ann", include_pending=False
        )
        assert stat2["recommend_rebuild"]
        # a rebuild re-anchors the histogram -> signal clears
        built.create_vector_index("ann", "vecs", method="ivf")
        assert not built.vector_index_drift_stat("ann")[
            "recommend_rebuild"
        ]

    def test_report_algebra(self, built, feats):
        rep = built.vector_index_drift("ann").collect()
        # freshly built: current == build histogram, every term 0
        assert all(r.build_n == r.cur_n for r in rep)
        assert abs(sum(r.psi_term for r in rep)) < 1e-12
        assert abs(sum(r.ref_frac for r in rep) - 1.0) < 1e-9
        total_even = feats.filter("entity_id % 2 = 0").count()
        assert sum(r.build_n for r in rep) == total_even

    @pytest.mark.parametrize("method", ["pq", "lsh", "sq", "ivfpq"])
    def test_every_method_has_a_key(self, spark, feats, method):
        fs = FeatureStore(spark)
        fs.register("vecs", feats.filter("entity_id % 2 = 0"))
        fs.create_vector_index("ann", "vecs", method=method)
        stat = fs.vector_index_drift_stat("ann")
        assert not stat["recommend_rebuild"]
        fs.append(
            "vecs", _shifted(feats.filter("entity_id % 2 = 1"), 8.0)
        )
        assert fs.vector_index_drift_stat("ann")["psi"] > stat["psi"]

    def test_legacy_spec_without_histogram_refuses(self, built):
        built._vector_indexes["ann"]["occupancy"] = None
        with pytest.raises(FeatureStoreError, match="occupancy"):
            built.vector_index_drift("ann")

    def test_histogram_survives_reopen(self, spark, feats, tmp_path):
        root = str(tmp_path / "s")
        fs = FeatureStore(spark, storage_path=root)
        fs.register("vecs", feats.filter("entity_id % 2 = 0"))
        fs.create_vector_index("ann", "vecs", method="ivf")
        psi = fs.vector_index_drift_stat("ann")["psi"]
        reopened = FeatureStore(spark, storage_path=root)
        assert reopened.vector_index_drift_stat("ann")["psi"] == psi


class TestStreamDriftGate:
    def _queries(self, feats):
        return feats.filter("entity_id IN (4, 42, 200)").select(
            F.col("entity_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
        )

    def _run(self, spark, fs, feed, sink, ck, threshold):
        from ml_feature_store_spark.streaming.ingest import (
            stream_index_enrich,
        )

        stream = (
            spark.readStream.schema("q_id bigint, q_vec array<double>")
            .parquet(feed)
        )
        q = stream_index_enrich(
            stream, fs, "ann", sink, ck, k=4, exclude_self=True,
            refresh="auto", drift_threshold=threshold,
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    def test_drifted_source_refuses_fold(self, spark, feats, tmp_path):
        fs = FeatureStore(spark)
        fs.register("vecs", feats.filter("entity_id % 2 = 0"))
        fs.create_vector_index("ann", "vecs", method="ivf")
        fs.append(
            "vecs", _shifted(feats.filter("entity_id % 2 = 1"), 8.0)
        )
        feed, sink, ck = (str(tmp_path / n) for n in ("f", "s", "c"))
        self._queries(feats).coalesce(1).write.parquet(feed, mode="append")
        with pytest.raises(Exception, match="left behind"):
            self._run(spark, fs, feed, sink, ck, threshold=0.25)
        # the refusal fired BEFORE the fold: the index still covers only
        # the pre-append snapshot
        assert fs.vector_index_stale("ann")

    def test_iid_source_folds_and_serves(self, spark, feats, tmp_path):
        fs = FeatureStore(spark)
        fs.register("vecs", feats.filter("entity_id % 2 = 0"))
        fs.create_vector_index("ann", "vecs", method="ivf")
        fs.append("vecs", feats.filter("entity_id % 2 = 1"))
        feed, sink, ck = (str(tmp_path / n) for n in ("f", "s", "c"))
        queries = self._queries(feats)
        queries.coalesce(1).write.parquet(feed, mode="append")
        self._run(spark, fs, feed, sink, ck, threshold=0.25)
        assert not fs.vector_index_stale("ann")
        got = {
            (r.q_id, r.vec_id): round(float(r.sim), 9)
            for r in spark.read.parquet(sink).collect()
        }
        want = {
            (r.q_id, r.vec_id): round(float(r.sim), 9)
            for r in fs.knn_batch(
                "ann", queries, k=4, exclude_self=True
            ).collect()
        }
        assert got == want and len(got) == 12


class TestSemanticDedupThroughIndex:
    @pytest.fixture()
    def built(self, spark, feats):
        fs = FeatureStore(spark)
        fs.register("vecs", feats.filter("entity_id % 2 = 0"))
        fs.create_vector_index("ann", "vecs", method="ivf")
        return fs

    def _reingest(self, feats, n=10):
        return feats.filter(
            (F.col("entity_id") % 2 == 0) & (F.col("entity_id") < 2 * n)
        ).select(
            (F.col("entity_id") + 100_000).alias("q_id"),
            F.col("embedding").alias("q_vec"),
        )

    def test_reencountered_items_surface_at_sim_one(self, built, feats):
        q = self._reingest(feats)
        out = built.dedup_embedding_batch(
            "ann", q, k=3, threshold=0.999
        ).collect()
        got = {r.q_id: (r.vec_id, round(float(r.sim), 9)) for r in out}
        # every re-ingested vector finds exactly its original
        assert len(out) == len(got) == q.count()
        for qid, (vid, sim) in got.items():
            assert vid == qid - 100_000 and sim == 1.0

    def test_threshold_screens_novel_items(self, built, feats):
        # odd vectors were never indexed: at a strict threshold they
        # come back empty ("genuinely new")
        novel = feats.filter(
            (F.col("entity_id") % 2 == 1) & (F.col("entity_id") < 20)
        ).select(
            F.col("entity_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
        )
        out = built.dedup_embedding_batch(
            "ann", novel, k=3, threshold=0.999
        )
        assert out.count() == 0
        # at threshold 0 the same call returns the full top-k
        assert built.dedup_embedding_batch(
            "ann", novel, k=3, threshold=0.0
        ).count() == novel.count() * 3

    def test_quantized_method_requires_refine(self, spark, feats):
        fs = FeatureStore(spark)
        fs.register("vecs", feats.filter("entity_id % 2 = 0"))
        fs.create_vector_index("ann", "vecs", method="pq")
        q = self._reingest(feats, n=4)
        with pytest.raises(FeatureValidationError, match="refine"):
            fs.dedup_embedding_batch("ann", q, k=3, threshold=0.99)
        # the refine path re-ranks by exact cosine -> thresholdable
        out = fs.dedup_embedding_batch(
            "ann", q, k=3, threshold=0.999, refine=3
        ).collect()
        assert {r.q_id - 100_000 for r in out} >= {
            r.vec_id for r in out
        } and all(round(float(r.sim), 9) >= 0.999 for r in out)


class TestCompositeKeyGuards:
    def _cfeats(self, feats, key_name: str):
        return feats.select(
            (F.col("entity_id") % 16).alias(key_name),
            F.col("entity_id").alias("sub"),
            "timestamp",
            "embedding",
        )

    def test_reserved_key_column_refuses_at_build(self, spark, feats):
        fs = FeatureStore(spark)
        fs.register(
            "cvecs", self._cfeats(feats, "cell"), entity_cols=["cell", "sub"]
        )
        with pytest.raises(FeatureValidationError, match="collide"):
            fs.create_vector_index("ann", "cvecs")

    def test_exclude_self_refuses_on_composite(self, spark, feats):
        fs = FeatureStore(spark)
        fs.register(
            "cvecs", self._cfeats(feats, "grp"), entity_cols=["grp", "sub"]
        )
        fs.create_vector_index("ann", "cvecs", method="ivf")
        queries = feats.filter("entity_id IN (4, 42)").select(
            F.col("entity_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
        )
        with pytest.raises(FeatureValidationError, match="exclude_self"):
            fs.knn_batch("ann", queries, k=3, exclude_self=True)
        # without the flag, composite batch serving works
        out = fs.knn_batch("ann", queries, k=3)
        assert out.count() == 6 and {"grp", "sub"} <= set(out.columns)
