"""Hot-cell probe for the persisted IVF index: what happens to probe
pruning when the CORPUS is skewed — 90% of vectors in one tight cluster
(the real-world shape: near-duplicate embeddings, one dominant domain).

The failure mode under test: Lloyd centroids follow mass, but with few
cells a single cell can still hold most of the corpus; a query INSIDE
the hot cluster then probes cells covering ~most rows and the "pruned"
knn quietly degrades toward brute force. The measured mitigation is the
standard IVF rule — scale n_cells with the corpus (~sqrt(n)) so the hot
region SPLITS across many cells and the probed fraction falls back to
~nprobe/n_cells-of-mass.

Usage: python tools/vidx_skew_probe.py
Prints markdown rows for SKEW.md: per (corpus, n_cells): max-cell share,
probed-rows share for a hot-cluster query, and the knn wall-clock.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from ml_feature_store_spark.operators.similarity import (  # noqa: E402
    ivf_encode_int,
    ivf_fit_int,
    ivf_probe_cells_int,
    knn_brute_force,
)
from ml_feature_store_spark.session import get_spark  # noqa: E402
from ml_feature_store_spark.suite import table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    spark = get_spark("vidx-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    emb = table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    # skewed corpus: vec_id % 10 == 0 keeps its own vector (the 10%
    # tail); the other 90% collapse onto vec 0 + a deterministic jitter
    # on dim 1 (distinct vectors, one tight cluster)
    hot = F.concat(
        F.array(F.lit(base[0]) + (F.col("vec_id") % 97) / F.lit(9700.0)),
        F.array(*[F.lit(x) for x in base[1:]]),
    )
    skewed = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 10 == 0, F.col("embedding"))
        .otherwise(hot)
        .alias("embedding"),
    ).cache()
    uniform = emb.cache()
    qvec = list(base)
    qvec[0] += 1.0 / 9700.0  # a query inside the hot cluster
    rows = {"uniform": uniform.count(), "skewed-90%-one-cluster": skewed.count()}
    print("| corpus | n_cells | max-cell share | probed share (nprobe=2) | knn s |")
    print("|---|---|---|---|---|")
    for name, df in (("uniform", uniform), ("skewed-90%-one-cluster", skewed)):
        for n_cells in (16, 64):
            cents = ivf_fit_int(df, n_cells=n_cells, iterations=1)
            enc = ivf_encode_int(df, cents).cache()
            total = rows[name]
            top = (
                enc.groupBy("cell").count().orderBy(F.desc("count")).first()
            )["count"]
            probes = ivf_probe_cells_int(cents, qvec, nprobe=2)
            cand = enc.filter(F.col("cell").isin(probes))
            probed = cand.count()
            t_knn = None
            for _ in range(3):
                t0 = time.time()
                knn_brute_force(cand, qvec, k=10).collect()
                el = time.time() - t0
                t_knn = el if t_knn is None else min(t_knn, el)
            print(
                f"| {name} | {n_cells} | {top / total:.2f} "
                f"| {probed / total:.2f} | {t_knn:.2f} |"
            )
            enc.unpersist()
    batch_probe(spark, skewed, uniform, qvec)


def batch_probe(spark, skewed, uniform, qvec) -> None:
    """Round-11 arm: the BATCH join's skew surface. knn_batch equi-joins
    exploded per-query probes against the encoded table on `cell`; when
    every query comes from the hot cluster AND one cell holds ~90% of
    the corpus, the join output concentrates on ONE key — |q| x 0.9n
    pairs through a single hash bucket, the classic skew-join shape.
    AQE's skew-join splitting is ON suite-wide; the measured mitigation
    is the same n_cells rule (split the hot region so no cell dominates
    the join). 100 hot queries, k=5, nprobe=2."""
    from ml_feature_store_spark.store import FeatureStore

    qrows = [(int(i), [float(x) for x in qvec]) for i in range(100)]
    queries = spark.createDataFrame(
        qrows, "q_id BIGINT, q_vec ARRAY<DOUBLE>"
    )
    print()
    print("| corpus | n_cells | knn_batch(100 hot q) s | pairs joined |")
    print("|---|---|---|---|")
    for name, df in (("uniform", uniform), ("skewed-90%-one-cluster", skewed)):
        for n_cells in (16, 64):
            fs = FeatureStore(spark)
            fs.register(
                "vp",
                df.select(
                    F.col("vec_id").alias("entity_id"),
                    F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
                    "embedding",
                ),
            )
            fs.create_vector_index(
                "ann", "vp", method="ivf",
                params={"n_cells": n_cells, "iterations": 1, "nprobe": 2},
            )
            from ml_feature_store_spark.operators.similarity import (
                ivf_probe_cells_int as probe_cells,
            )

            probes = probe_cells(fs._vindex_model("ann"), qvec, 2)
            pairs = (
                fs._derived_state("vector index", "ann")
                .filter(F.col("cell").isin(probes))
                .count()
                * 100
            )
            t = None
            for _ in range(3):
                t0 = time.time()
                fs.knn_batch("ann", queries, k=5).write.format(
                    "noop"
                ).mode("overwrite").save()
                el = time.time() - t0
                t = el if t is None else min(t, el)
            print(f"| {name} | {n_cells} | {t:.2f} | {pairs} |")
            fs.drop_vector_index("ann")
            fs.delete("vp")


if __name__ == "__main__":
    main()
