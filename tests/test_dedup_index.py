"""Persisted dedup-signature index (round-12; r11 verdict next-round #1):
create_dedup_index / refresh_dedup_index / dedup_batch / drop_dedup_index.

The contract under test:
  * sign-once-serve-many — dedup_batch resolves a new batch against the
    STORED signatures; the corpus is never re-signed (the x27 docstring's
    production story made executable);
  * O(delta) refresh — incremental folds equal sign-everything
    bit-for-bit (the hash family is frozen by construction);
  * staleness/rewrite refusals — dedup_batch refuses when the source
    changed since the last build/refresh; refresh refuses after any
    history rewrite (the vector-index guard rail, same flag);
  * snapshot-pinned accounting — a mid-build append leaves the spec
    lagging (refusal + next-refresh fold), never silently absorbed;
  * registry persistence, two-instance CAS safety, delete() cascade.
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
def docs(spark):
    from ml_feature_store_spark.suite import table

    return table(spark, SF, "documents").select(
        F.col("doc_id").alias("entity_id"),
        F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
        "text",
    ).cache()


def _sig_rows(fs, index="dd"):
    return {
        (r["doc_id"], r["hh"], tuple(r["minhash"]))
        for r in fs.get_dedup_signatures(index).collect()
    }


class TestBuildAndBatch:
    def test_exact_and_fuzzy_manifest(self, spark, docs):
        fs = FeatureStore(spark)
        fs.register("corpus", docs.filter("entity_id % 4 != 0"))
        n = fs.create_dedup_index("dd", "corpus", content_col="text")
        assert n == docs.filter("entity_id % 4 != 0").count()
        # new batch: half genuinely new docs, half EXACT copies of
        # corpus docs under fresh ids (the ingest-dup scenario)
        fresh = docs.filter("entity_id % 4 = 0").select(
            F.col("entity_id").alias("doc_id"), "text"
        )
        copies = docs.filter("entity_id % 4 = 1").limit(10).select(
            (F.col("entity_id") + 1_000_000).alias("doc_id"), "text"
        )
        out = fs.dedup_batch(
            "dd", fresh.unionByName(copies), id_col="doc_id",
            content_col="text",
        ).collect()
        by_id = {r.doc_id: r for r in out}
        assert len(by_id) == fresh.count() + 10
        # every exact copy is flagged, and its best Jaccard is 1.0
        for r in out:
            if r.doc_id >= 1_000_000:
                assert r.is_exact_dup == 1
                assert r.best_j_e6 == 1_000_000 and r.n_fuzzy >= 1
        # candidates always bound fuzzy matches
        assert all(r.n_fuzzy <= r.n_candidates for r in out)

    def test_batch_never_resigns_corpus(self, spark, docs):
        """dedup_batch must read stored signatures, not recompute them:
        poison the source text AFTER the build — exact/fuzzy arms keyed
        off signatures must still match the build-time content. (The
        verify arm legitimately re-reads candidate old docs' text.)"""
        fs = FeatureStore(spark)
        fs.register("corpus", docs.filter("entity_id % 4 != 0"))
        fs.create_dedup_index("dd", "corpus", content_col="text")
        stored_before = _sig_rows(fs)
        copies = docs.filter("entity_id % 4 = 1").limit(5).select(
            (F.col("entity_id") + 1_000_000).alias("doc_id"), "text"
        )
        out = fs.dedup_batch("dd", copies, id_col="doc_id").collect()
        assert all(r.is_exact_dup == 1 for r in out)
        assert _sig_rows(fs) == stored_before  # nothing rewritten

    def test_bucket_cap_drops_boilerplate_candidates(self, spark, docs):
        """max_bucket_size (the hot-bucket LSH cap): boilerplate docs
        share one mega-bucket — capped serving drops their candidates
        (no quadratic pair arm) while the EXACT arm still flags them;
        normal-bucket candidates are untouched by the cap."""
        boiler = "cookie banner accept all cookies to continue"
        poisoned = docs.select(
            "entity_id", "timestamp",
            F.when(F.col("entity_id") % 7 == 0, F.lit(boiler))
            .otherwise(F.col("text")).alias("text"),
        )
        fs = FeatureStore(spark)
        fs.register("corpus", poisoned.filter("entity_id % 4 != 0"))
        fs.create_dedup_index("dd", "corpus")
        new = poisoned.filter("entity_id % 4 = 0").select(
            F.col("entity_id").alias("doc_id"), "text"
        )
        raw = {r.doc_id: r for r in fs.dedup_batch("dd", new).collect()}
        capped = {
            r.doc_id: r
            for r in fs.dedup_batch("dd", new, max_bucket_size=8).collect()
        }
        boiler_ids = [d for d in raw if d % 7 == 0]
        assert boiler_ids
        n_old_boiler = poisoned.filter(
            "entity_id % 4 != 0 AND entity_id % 7 = 0"
        ).count()
        for d in boiler_ids:
            # uncapped: the mega-bucket yields every old boilerplate doc
            assert raw[d].n_candidates == n_old_boiler
            # capped: candidates gone, exact arm still catches the dup
            assert capped[d].n_candidates == 0 and capped[d].n_fuzzy == 0
            assert capped[d].is_exact_dup == 1
        # normal docs: identical manifest under either setting
        for d in raw:
            if d % 7 != 0:
                assert tuple(raw[d]) == tuple(capped[d])
        with pytest.raises(FeatureValidationError, match="max_bucket_size"):
            fs.dedup_batch("dd", new, max_bucket_size=0)

    def test_matches_agree_with_manifest(self, spark, docs):
        """dedup_matches (pair level) and dedup_batch (per-doc manifest)
        are two views of the SAME verified pair set: per-new-doc pair
        counts equal n_fuzzy, max j_e6 equals best_j_e6, and an exact
        copy surfaces as a pair with is_exact=1 and j_e6=1e6."""
        fs = FeatureStore(spark)
        fs.register("corpus", docs.filter("entity_id % 4 != 0"))
        fs.create_dedup_index("dd", "corpus")
        fresh = docs.filter("entity_id % 4 = 0").select(
            F.col("entity_id").alias("doc_id"), "text"
        )
        copies = docs.filter("entity_id % 4 = 1").limit(5).select(
            (F.col("entity_id") + 1_000_000).alias("doc_id"), "text"
        )
        new = fresh.unionByName(copies)
        pairs = fs.dedup_matches("dd", new, id_col="doc_id").collect()
        manifest = {
            r.doc_id: r for r in fs.dedup_batch("dd", new).collect()
        }
        by_new: dict = {}
        for p in pairs:
            by_new.setdefault(p.doc_id, []).append(p)
        for d, r in manifest.items():
            got = by_new.get(d, [])
            assert len(got) == r.n_fuzzy, d
            if got:
                assert max(p.j_e6 for p in got) == r.best_j_e6
        # every exact copy yields at least one exact pair at j=1.0
        for d in [p.doc_id for p in pairs if p.doc_id >= 1_000_000]:
            assert any(
                p.is_exact == 1 and p.j_e6 == 1_000_000
                for p in by_new[d]
            )
        # old ids really are stored corpus ids (never batch ids)
        assert all(p.old_id % 4 != 0 for p in pairs)

    def test_doc_sides_above_broadcast_threshold_shuffle(self, spark, docs):
        """The verify joins broadcast a doc side only when its size
        estimate is within spark.sql.autoBroadcastJoinThreshold: with the
        threshold lowered below the batch, neither side is broadcast (a
        shuffle join instead) and the verified pairs are unchanged."""
        fs = FeatureStore(spark)
        fs.register("corpus", docs.filter("entity_id % 4 != 0"))
        fs.create_dedup_index("dd", "corpus")
        new = docs.filter("entity_id % 4 = 0").select(
            F.col("entity_id").alias("doc_id"), "text"
        ).unionByName(
            docs.filter("entity_id % 4 = 1").limit(5).select(
                (F.col("entity_id") + 1_000_000).alias("doc_id"), "text"
            )
        )

        def run():
            out = fs.dedup_matches("dd", new, id_col="doc_id")
            rows = sorted(tuple(r) for r in out.collect())
            return rows, out._jdf.queryExecution().executedPlan().toString()

        want, plan = run()
        assert want and "BroadcastExchange" in plan
        key = "spark.sql.autoBroadcastJoinThreshold"
        default = spark.conf.get(key)
        spark.conf.set(key, "1")
        try:
            got, plan = run()
        finally:
            spark.conf.set(key, default)
        assert got == want
        assert "BroadcastExchange" not in plan, plan

    def test_unknown_index_and_param_validation(self, spark, docs):
        fs = FeatureStore(spark)
        fs.register("corpus", docs.limit(50))
        with pytest.raises(FeatureStoreError, match="Unknown dedup"):
            fs.dedup_batch("nope", docs.limit(1))
        with pytest.raises(FeatureStoreError, match="Unknown dedup"):
            fs.get_dedup_signatures("nope")
        with pytest.raises(FeatureValidationError, match="divide"):
            fs.create_dedup_index("dd", "corpus", num_hashes=16, bands=5)


class TestIncrementalRefresh:
    def test_incremental_equals_from_scratch(self, spark, docs):
        inc = FeatureStore(spark)
        inc.register("corpus", docs.filter("entity_id % 2 = 0"))
        inc.create_dedup_index("dd", "corpus")
        inc.append("corpus", docs.filter("entity_id % 2 = 1"))
        total = inc.refresh_dedup_index("dd")
        full = FeatureStore(spark)
        full.register("corpus", docs)
        full.create_dedup_index("dd", "corpus")
        assert _sig_rows(inc) == _sig_rows(full)
        assert total == docs.count()

    def test_noop_refresh_and_idempotent_serving(self, spark, docs):
        fs = FeatureStore(spark)
        fs.register("corpus", docs.filter("entity_id % 2 = 0"))
        n = fs.create_dedup_index("dd", "corpus")
        assert fs.refresh_dedup_index("dd") == n  # no delta
        new = docs.filter("entity_id % 2 = 1").select(
            F.col("entity_id").alias("doc_id"), "text"
        )
        a = {tuple(r) for r in fs.dedup_batch("dd", new).collect()}
        b = {tuple(r) for r in fs.dedup_batch("dd", new).collect()}
        assert a == b

    def test_stale_batch_refuses_until_refresh(self, spark, docs):
        fs = FeatureStore(spark)
        fs.register("corpus", docs.filter("entity_id % 2 = 0"))
        fs.create_dedup_index("dd", "corpus")
        fs.append("corpus", docs.filter("entity_id % 2 = 1"))
        assert fs.dedup_index_stale("dd")
        new = docs.limit(3).select(F.col("entity_id").alias("doc_id"), "text")
        with pytest.raises(FeatureStoreError, match="STALE"):
            fs.dedup_batch("dd", new)
        fs.refresh_dedup_index("dd")
        assert not fs.dedup_index_stale("dd")
        assert fs.dedup_batch("dd", new).count() == 3

    def test_rewrite_refuses_refresh_and_batch(self, spark, docs):
        fs = FeatureStore(spark)
        fs.register("corpus", docs)
        fs.create_dedup_index("dd", "corpus")
        # count-preserving rewrite: re-register the same rows
        fs.register("corpus", docs)
        assert fs.dedup_index_stale("dd")
        with pytest.raises(FeatureStoreError, match="rewritten"):
            fs.refresh_dedup_index("dd")
        with pytest.raises(FeatureStoreError, match="rewritten"):
            fs.dedup_batch(
                "dd", docs.limit(1).select(
                    F.col("entity_id").alias("doc_id"), "text"
                )
            )
        # rebuild clears the flag
        fs.create_dedup_index("dd", "corpus")
        assert not fs.dedup_index_stale("dd")

    def test_mid_build_append_not_absorbed(self, spark, docs, tmp_path):
        """The r11-ADVICE absorption scenario, dedup flavor: an append
        landing between the snapshot pin and the publish leaves the
        spec LAGGING — stale refusal + the next refresh folds it."""
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("corpus", docs.filter("entity_id % 2 = 0"))
        b = FeatureStore(spark, storage_path=root)
        orig = b._backend.write_version
        fired = {"done": False}

        def hooked(name, ver, df, *a, **kw):
            r = orig(name, ver, df, *a, **kw)
            if name == "dd__dedup" and not fired["done"]:
                fired["done"] = True
                other = FeatureStore(spark, storage_path=root)
                other.append("corpus", docs.filter("entity_id % 2 = 1"))
            return r

        b._backend.write_version = hooked
        b.create_dedup_index("dd", "corpus")
        assert fired["done"] and b.dedup_index_stale("dd")
        assert b.refresh_dedup_index("dd") == docs.count()
        assert not b.dedup_index_stale("dd")


class TestSimhashMethod:
    def test_incremental_equals_from_scratch(self, spark, docs):
        inc = FeatureStore(spark)
        inc.register("corpus", docs.filter("entity_id % 2 = 0"))
        inc.create_dedup_index("dd", "corpus", method="simhash")
        inc.append("corpus", docs.filter("entity_id % 2 = 1"))
        inc.refresh_dedup_index("dd")
        full = FeatureStore(spark)
        full.register("corpus", docs)
        full.create_dedup_index("dd", "corpus", method="simhash")

        def rows(fs):
            return {
                (r["doc_id"], r["hh"], r["simhash"])
                for r in fs.get_dedup_signatures("dd").collect()
            }

        assert rows(inc) == rows(full) and len(rows(inc)) == docs.count()

    def test_exact_copies_flagged_and_matched(self, spark, docs):
        fs = FeatureStore(spark)
        fs.register("corpus", docs.filter("entity_id % 4 != 0"))
        fs.create_dedup_index("dd", "corpus", method="simhash")
        copies = docs.filter("entity_id % 4 = 1").limit(8).select(
            (F.col("entity_id") + 1_000_000).alias("doc_id"), "text"
        )
        out = fs.dedup_batch("dd", copies, id_col="doc_id").collect()
        # identical text -> identical simhash -> every band collides ->
        # candidate + exact + fuzzy at j=1.0
        assert all(
            r.is_exact_dup == 1 and r.n_fuzzy >= 1
            and r.best_j_e6 == 1_000_000 for r in out
        )
        pairs = fs.dedup_matches("dd", copies, id_col="doc_id").collect()
        # every copy pairs with its ORIGINAL exactly; near-dup pairs to
        # OTHER verified-similar old docs may legitimately ride along
        exact_to = {
            p.doc_id: p.old_id for p in pairs if p.is_exact == 1
        }
        assert all(
            exact_to.get(d) == d - 1_000_000
            for d in {p.doc_id for p in pairs}
        ) and len(exact_to) == 8

    def test_signature_matches_x9_family(self, spark, docs):
        """The stored simhash IS x9's portable md5_60 signature (same
        SWAR fold, same family) — the index adds lifecycle, not a new
        algorithm."""
        from ml_feature_store_spark.operators.dedup import dedup_simhash

        fs = FeatureStore(spark)
        fs.register("corpus", docs.limit(100))
        fs.create_dedup_index("dd", "corpus", method="simhash")
        stored = {
            r["doc_id"]: r["simhash"]
            for r in fs.get_dedup_signatures("dd").collect()
        }
        want = {
            r["doc_id"]: r["simhash"]
            for r in dedup_simhash(
                docs.limit(100).select(
                    F.col("entity_id").alias("doc_id"), "text"
                ),
                hash_family="md5_60",
            ).collect()
        }
        assert stored == want

    def test_method_validation(self, spark, docs):
        fs = FeatureStore(spark)
        fs.register("corpus", docs.limit(50))
        with pytest.raises(FeatureValidationError, match="unknown method"):
            fs.create_dedup_index("dd", "corpus", method="phash")
        with pytest.raises(FeatureValidationError, match="60-bit"):
            fs.create_dedup_index("dd", "corpus", method="simhash", bands=7)
        fs.create_dedup_index("dd", "corpus", method="simhash", bands=5)
        assert fs.get_dedup_index_info("dd")["params"]["bands"] == 5
        assert fs.get_dedup_index_info("dd")["method"] == "simhash"


class TestStreamDedupEnrich:
    def _setup(self, spark, docs):
        fs = FeatureStore(spark)
        fs.register("corpus", docs.filter("entity_id % 4 != 0"))
        fs.create_dedup_index("dd", "corpus")
        new = docs.filter("entity_id % 4 = 0").select(
            F.col("entity_id").alias("doc_id"), "text"
        )
        return fs, new

    def _run(self, spark, fs, new, tmp_path, **kw):
        from ml_feature_store_spark.streaming.ingest import (
            stream_dedup_enrich,
        )

        feed, sink, ck = (str(tmp_path / n) for n in ("f", "s", "c"))
        new.filter("doc_id < 250").coalesce(1).write.parquet(
            feed, mode="append"
        )
        new.filter("doc_id >= 250").coalesce(1).write.parquet(
            feed, mode="append"
        )
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = stream_dedup_enrich(
            stream, fs, "dd", sink, ck, id_col="doc_id",
            content_col="text", **kw,
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        return spark.read.parquet(sink).drop("batch_id")

    def test_stream_equals_batch_manifest(self, spark, docs, tmp_path):
        fs, new = self._setup(spark, docs)
        got = {tuple(r) for r in self._run(spark, fs, new, tmp_path).collect()}
        want = {tuple(r) for r in fs.dedup_batch("dd", new).collect()}
        assert got == want and len(got) == new.count()

    def test_strict_refuses_mid_growth(self, spark, docs, tmp_path):
        fs, new = self._setup(spark, docs)
        fs.append("corpus", docs.filter("entity_id % 4 = 2").limit(5))
        with pytest.raises(Exception, match="STALE"):
            self._run(spark, fs, new, tmp_path)

    def test_auto_refreshes_then_serves(self, spark, docs, tmp_path):
        fs, new = self._setup(spark, docs)
        extra = docs.filter("entity_id % 4 = 2").limit(5).select(
            (F.col("entity_id") + 500_000).alias("entity_id"),
            "timestamp", "text",
        )
        fs.append("corpus", extra)
        assert fs.dedup_index_stale("dd")
        got = {
            tuple(r)
            for r in self._run(
                spark, fs, new, tmp_path, refresh="auto"
            ).collect()
        }
        assert not fs.dedup_index_stale("dd")
        want = {tuple(r) for r in fs.dedup_batch("dd", new).collect()}
        assert got == want
        from ml_feature_store_spark.streaming.ingest import (
            stream_dedup_enrich,
        )

        with pytest.raises(ValueError, match="strict"):
            stream_dedup_enrich(None, fs, "dd", "x", "y", refresh="bogus")


class TestRegistryAndLifecycle:
    def test_spec_and_state_survive_reopen(self, spark, docs, tmp_path):
        root = str(tmp_path / "s")
        fs = FeatureStore(spark, storage_path=root)
        fs.register("corpus", docs.filter("entity_id % 2 = 0"))
        fs.create_dedup_index(
            "dd", "corpus", num_hashes=16, bands=8, shingle_k=2
        )
        before = _sig_rows(fs)
        reopened = FeatureStore(spark, storage_path=root)
        info = reopened.get_dedup_index_info("dd")
        assert info["params"] == {
            "num_hashes": 16, "bands": 8, "shingle_k": 2,
        }
        assert reopened.list_dedup_indexes() == ["dd"]
        assert _sig_rows(reopened) == before
        # state table is an implementation detail, not a catalog entry
        assert "dd__dedup" not in reopened.table_names

    def test_drop_and_delete_cascade(self, spark, docs, tmp_path):
        root = str(tmp_path / "s")
        fs = FeatureStore(spark, storage_path=root)
        fs.register("corpus", docs.limit(100))
        fs.create_dedup_index("dd", "corpus")
        with pytest.raises(FeatureValidationError, match="dedup index"):
            fs.delete("corpus")
        assert fs.drop_dedup_index("dd") is True
        assert fs.drop_dedup_index("dd") is False
        assert not fs._backend.exists("dd__dedup")
        # cascade drops the spec + state with the table
        fs.create_dedup_index("dd", "corpus")
        assert fs.delete("corpus", cascade=True) is True
        assert fs.list_dedup_indexes() == []
        assert not fs._backend.exists("dd__dedup")

    def test_stale_writer_refuses_pre_mutation(self, spark, docs, tmp_path):
        root = str(tmp_path / "s")
        setup = FeatureStore(spark, storage_path=root)
        setup.register("corpus", docs.filter("entity_id % 2 = 0"))
        setup.create_dedup_index("dd", "corpus")
        a = FeatureStore(spark, storage_path=root)
        b = FeatureStore(spark, storage_path=root)
        a.append("corpus", docs.filter("entity_id % 2 = 1"))
        a.refresh_dedup_index("dd")  # a publishes
        versions_before = b._backend.versions("dd__dedup")
        with pytest.raises(FeatureStoreError, match="refused"):
            b.refresh_dedup_index("dd")
        assert b._backend.versions("dd__dedup") == versions_before
        with pytest.raises(FeatureStoreError, match="refused"):
            b.create_dedup_index("dd2", "corpus")
        # b retries after reopen and serves
        b2 = FeatureStore(spark, storage_path=root)
        new = docs.limit(3).select(F.col("entity_id").alias("doc_id"), "text")
        assert b2.dedup_batch("dd", new).count() == 3


class TestRecallCertification:
    """x40: found pairs are a strict subset of exact ground truth
    (precision 1.0 by construction — the verify IS the truth metric),
    so recall_ppm is a real recall, never >1e6."""

    @pytest.mark.parametrize("method", ["minhash", "simhash"])
    def test_cert_bounds(self, spark, method):
        from ml_feature_store_spark.suite_text import _x40_cert

        row = _x40_cert(spark, SF, method).collect()[0]
        assert row["method"] == method
        assert 0 <= row["n_found"] <= row["n_true"]
        assert 0 <= row["recall_ppm"] <= 1_000_000

    def test_minhash_catches_exact_replicas(self, spark):
        # byte-identical replicas share every band bucket -> always
        # candidates -> always found: recall on a replica-only corpus
        # is exactly 1e6
        from ml_feature_store_spark.suite_text import _x40_cert

        row = _x40_cert(spark, SF, "minhash").collect()[0]
        if row["n_true"]:
            assert row["recall_ppm"] > 0
