"""The integer codebook kernel (operators/clustering.py) and the calls
routed through it.

* every SQL form equals its Python twin on random integer codebooks and
  vectors: nearest code (ties to the lowest code id), the n nearest
  codes (distance, then id), quantize (negative values, exact .5
  boundaries), per-subspace codes, distance tables and the ADC sum;
* ``create_vector_index`` and ``knn_batch(...).collect()`` keep their
  Spark job counts for all five methods;
* ``vector_index_drift`` reads only the rows above the watermark and
  keeps its PSI frame;
* ``append`` / ``upsert`` into a missing table publish in one job.
"""

from __future__ import annotations

import datetime as dt

import pytest
from conftest import jobs_run_by
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ml_feature_store_spark.errors import FeatureValidationError
from ml_feature_store_spark.operators.clustering import (
    _adc_sum,
    _code_exprs,
    _dist_table_exprs,
    _dist_tables,
    _int_dist,
    _nearest_code_expr,
    _nearest_codes,
    _nearest_codes_expr,
    _quantize,
    quantize_vec,
)
from ml_feature_store_spark.store import FeatureStore

SF = "/root/testdata/sf0.001"
KERNEL = settings(max_examples=25, deadline=None)
# small components make equal distances (ties) common
COMP = st.integers(-3, 3)


def _vec(n):
    return st.lists(COMP, min_size=n, max_size=n)


@st.composite
def _book_and_vecs(draw):
    dim = draw(st.integers(1, 4))
    k = draw(st.integers(1, 5))
    book = {c: draw(_vec(dim)) for c in range(k)}
    return book, draw(st.lists(_vec(dim), min_size=1, max_size=6))


@st.composite
def _pq_case(draw):
    m, sub_dim, k = (draw(st.integers(1, 3)) for _ in range(3))
    books = {s: {c: draw(_vec(sub_dim)) for c in range(k)} for s in range(m)}
    rows = draw(st.lists(
        st.tuples(
            _vec(m * sub_dim),
            st.lists(st.integers(0, k - 1), min_size=m, max_size=m),
        ),
        min_size=1, max_size=5,
    ))
    return m, sub_dim, books, rows


@st.composite
def _grid_and_xs(draw):
    grid = draw(st.sampled_from([1, 2, 4, 10, 10**6]))
    # (n + h) / grid with h = +-0.5 lands exactly on a rounding boundary
    # for the power-of-two grids
    boundary = st.builds(
        lambda n, h: (n + h) / grid,
        st.integers(-50, 50), st.sampled_from([-0.5, 0.0, 0.5]),
    )
    xs = draw(st.lists(
        st.one_of(boundary, st.floats(-1e3, 1e3, allow_nan=False)),
        min_size=1, max_size=8,
    ))
    return grid, xs


class TestKernelTwins:
    @KERNEL
    @given(case=_book_and_vecs(), n=st.integers(1, 6))
    def test_nearest_codes(self, spark, case, n):
        book, vecs = case
        df = spark.createDataFrame(
            list(enumerate(vecs)), "i INT, v ARRAY<BIGINT>"
        )
        got = df.select(
            "i",
            F.expr(f"{_nearest_code_expr('v', book)}.cid").alias("c"),
            F.expr(_nearest_codes_expr("v", book, n)).alias("cs"),
        ).orderBy("i").collect()
        for r, v in zip(got, vecs):
            assert r["cs"] == _nearest_codes(book, v, n)
            best = min(_int_dist(v, cv) for cv in book.values())
            assert r["c"] == min(
                c for c, cv in book.items() if _int_dist(v, cv) == best
            )
            # order: distance, then code id
            keys = [(_int_dist(v, book[c]), c) for c in r["cs"]]
            assert keys == sorted(keys)

    @KERNEL
    @given(case=_grid_and_xs())
    def test_quantize(self, spark, case):
        grid, xs = case
        got = spark.createDataFrame([(xs,)], "v ARRAY<DOUBLE>").select(
            quantize_vec("v", grid).alias("q")
        ).collect()[0]["q"]
        assert got == _quantize(xs, grid)

    def test_quantize_rounds_half_up(self):
        assert _quantize([-1.5, -0.5, 0.5, 1.5, -0.25], 1) == [-1, 0, 1, 2, 0]

    @KERNEL
    @given(case=_pq_case())
    def test_codes_tables_and_adc(self, spark, case):
        m, sub_dim, books, rows = case
        df = spark.createDataFrame(
            [(i, q, c) for i, (q, c) in enumerate(rows)],
            "i INT, q ARRAY<BIGINT>, codes ARRAY<INT>",
        )
        tables = [
            F.expr(t).alias(f"__dt{s}__")
            for s, t in enumerate(_dist_table_exprs("q", books, m, sub_dim))
        ]
        enc = F.array(*[F.expr(c) for c in _code_exprs("q", books, m, sub_dim)])
        got = (
            df.select("i", "codes", enc.alias("enc"), *tables)
            .select(
                "i", "enc", *[f"__dt{s}__" for s in range(m)],
                _adc_sum([f"__dt{s}__" for s in range(m)]),
            )
            .orderBy("i")
            .collect()
        )
        for r, (q, codes) in zip(got, rows):
            want = _dist_tables(books, q, m, sub_dim)
            assert [r[f"__dt{s}__"] for s in range(m)] == want
            assert r["adist"] == sum(want[s][codes[s]] for s in range(m))
            assert r["enc"] == [
                _nearest_codes(
                    books[s], q[s * sub_dim : (s + 1) * sub_dim], 1
                )[0]
                for s in range(m)
            ]


@pytest.fixture(scope="module")
def feats(spark):
    from ml_feature_store_spark.suite import table

    emb = table(spark, SF, "embeddings")
    return emb.select(
        F.col("vec_id").alias("entity_id"),
        F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    ).cache()


class TestVectorIndexCalls:
    @pytest.mark.parametrize(
        "method, create_jobs, batch_jobs",
        [("ivf", 8, 4), ("pq", 9, 4), ("lsh", 5, 4), ("ivfpq", 12, 4),
         ("sq", 7, 4)],
    )
    def test_job_counts(self, spark, feats, method, create_jobs, batch_jobs):
        fs = FeatureStore(spark)
        fs.register("vecs", feats)
        assert jobs_run_by(
            spark, lambda: fs.create_vector_index("ann", "vecs", method=method)
        ) == create_jobs
        queries = feats.filter("entity_id in (3, 50, 99)").select(
            F.col("entity_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        assert jobs_run_by(
            spark, lambda: fs.knn_batch("ann", queries, k=5).collect()
        ) == batch_jobs

    def test_drift_reads_pending_fragment(self, spark, feats, tmp_path):
        """The pending arm reads the source fragments above the
        watermark; the PSI frame is the one the whole-history scan
        gave (values recorded before the change)."""
        key = "spark.sql.files.openCostInBytes"
        old = spark.conf.get(key)
        spark.conf.set(key, "1")  # the append stays its own fragment
        try:
            fs = FeatureStore(spark, storage_path=str(tmp_path / "s"))
            fs.register("vecs", feats.filter("entity_id % 4 <> 0"))
            fs.create_vector_index("ann", "vecs", method="ivf")
            fs.append("vecs", feats.filter("entity_id % 4 = 0"))
            st_ = fs._backend.meta("vecs")
            assert st_.versions[st_.version].fragments == ["v=1", "v=2"]
            rows = fs.vector_index_drift("ann").collect()
        finally:
            spark.conf.set(key, old)
        assert sorted((r.cell, r.build_n, r.cur_n) for r in rows) == [
            (0, 23, 28), (1, 28, 35), (2, 26, 36), (3, 17, 22), (4, 25, 34),
            (5, 27, 32), (6, 23, 33), (7, 20, 31), (8, 27, 33), (9, 25, 37),
            (10, 25, 40), (11, 14, 19), (12, 20, 27), (13, 26, 31),
            (14, 27, 33), (15, 22, 29),
        ]
        assert sum(r.psi_term for r in rows) == pytest.approx(
            0.008630424511126765, rel=1e-12
        )


class TestFirstWriteCreatesTable:
    @pytest.fixture()
    def one(self, spark):
        return spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1), 1.0)],
            "entity_id string, timestamp timestamp, v double",
        )

    @pytest.mark.parametrize("op", ["append", "upsert"])
    def test_one_job(self, spark, one, op):
        fs = FeatureStore(spark)
        assert jobs_run_by(spark, lambda: getattr(fs, op)("t", one)) == 1
        assert fs.get_table_info("t").row_count == 1

    @pytest.mark.parametrize("op", ["append", "upsert"])
    def test_messages(self, spark, one, op):
        fs = FeatureStore(spark)
        with pytest.raises(
            FeatureValidationError,
            match=rf"^DataFrame is empty \({op}\('t'\)\)$",
        ):
            getattr(fs, op)("t", one.filter("v < 0"))
        with pytest.raises(
            FeatureValidationError,
            match=rf"missing required columns: \['entity_id'\] \({op}\('t'\)\)",
        ):
            getattr(fs, op)("t", one.drop("entity_id"))
        assert not fs._backend.exists("t")
        fs.register("base", one)
        fs.create_derived_view("dv", ["base"], {"w": "base__v * 2"})
        with pytest.raises(FeatureValidationError, match="shadow derived"):
            getattr(fs, op)("dv", one)
