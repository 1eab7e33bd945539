"""Vector-index scaling probe: grow the CORPUS (the axis scale_smoke.py
cannot — its harness replicates facts and copies `embeddings` 1x) and
measure each persisted-index stage separately: build (fit + encode +
state write), single knn, batch knn, and the O(delta) refresh.

The claims under test (SCALE-100TB.md rows, here MEASURED):
  * build grows ~linearly (fit = a few partial-agg scans, encode is
    map-only);
  * the knn QUERY path grows sub-linearly in corpus (the probe predicate
    prunes to nprobe/n_cells of the data — at fixed cell count a bigger
    corpus means proportionally bigger probed cells, so the honest bound
    is linear-in-probed-rows ~= corpus/8 for nprobe=2 of 16; what must
    NOT appear is full-scan growth at the 0-exchange plan's cost);
  * refresh cost tracks the DELTA, not indexed history;
  * PQ's encoded table is a small fraction of the raw vectors on disk
    (m one-byte codes vs dim doubles — the billion-scale memory story).

Replicas offset vec_id (new identities, same geometry), so cells fill
uniformly and candidate counts grow exactly with the corpus — the
worst-case cost shape, with no recall flattery.

Usage: python tools/vidx_scale_probe.py [scales ...]   (default 1 8 64)
       python tools/vidx_scale_probe.py --cells [n_cells ...]
           (default 16 64 256 1024 — round-11: fixed corpus, growing
           model; measures the fit's per-iteration cost and the model
           size to pin SCALE-100TB.md's n_cells ~ sqrt(n) sizing rule
           and the driver-resident-model ceiling)
Appends nothing; prints markdown rows for SCALE.md.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from ml_feature_store_spark.session import get_spark  # noqa: E402
from ml_feature_store_spark.store import FeatureStore  # noqa: E402
from ml_feature_store_spark.suite import table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
OFFSET = 10_000_000


def du_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


def cells_probe(args: list[str]) -> None:
    """n_cells scaling at fixed corpus (8x, ~160k rows): the fit is one
    partial-agg shuffle per iteration whose driver leg moves
    n_cells x (dim+1) longs, and the assign/encode plan embeds
    n_cells x dim literals — both linear in the MODEL, independent of
    corpus beyond the scan. The rule under test: n_cells ~ sqrt(n) keeps
    knn's probed fraction ~nprobe/sqrt(n) while the model stays KBs-MBs;
    the fit stops being 'free' only when n_cells x dim literals blow up
    the plan (interpreted eval, no codegen recompile — see
    operators/clustering.py), measured here directly."""
    cells = [int(a) for a in args] or [16, 64, 256, 1024]
    spark = get_spark("vidx-cells-probe")
    spark.sparkContext.setLogLevel("ERROR")
    emb = table(spark, SF_DIR, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 100).collect()[0]["embedding"]
    ]
    parts = [
        emb.select(
            (F.col("vec_id") + F.lit(i * OFFSET)).alias("entity_id"),
            F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        for i in range(8)
    ]
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    feed = tempfile.mkdtemp(prefix="vidx_cells_feed_")
    corpus.write.mode("overwrite").parquet(feed)
    corpus = spark.read.parquet(feed)
    rows = corpus.count()
    print("| n_cells | rows | build s | knn s | probed rows (~n*nprobe/"
          "n_cells) | model MB |")
    print("|---|---|---|---|---|---|")
    for k in cells:
        root = tempfile.mkdtemp(prefix="vidx_cells_store_")
        fs = FeatureStore(spark, storage_path=root)
        fs.register("vecs", corpus)
        t0 = time.time()
        fs.create_vector_index(
            "ann", "vecs", method="ivf",
            params={"n_cells": k, "iterations": 1, "nprobe": 2},
        )
        t_build = time.time() - t0
        t_knn = None
        for _ in range(3):
            t0 = time.time()
            fs.knn("ann", qvec, k=10).collect()
            el = time.time() - t0
            t_knn = el if t_knn is None else min(t_knn, el)
        from ml_feature_store_spark.operators.similarity import (
            ivf_probe_cells_int,
        )

        probes = ivf_probe_cells_int(fs._vindex_model("ann"), qvec, 2)
        probed = (
            fs._derived_state("vector index", "ann")
            .filter(F.col("cell").isin(probes))
            .count()
        )
        model = du_mb(Path(root) / "ann__vindex_model")
        print(
            f"| {k} | {rows} | {t_build:.2f} | {t_knn:.2f} | {probed} "
            f"| {model:.2f} |"
        )
        shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(feed, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--cells":
        cells_probe(sys.argv[2:])
        return
    scales = [int(a) for a in sys.argv[1:]] or [1, 8, 64]
    spark = get_spark("vidx-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    emb = table(spark, SF_DIR, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 100).collect()[0]["embedding"]
    ]
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    print("| scale | rows | method | build s | knn s | knn_batch(16q) s "
          "| refresh(delta=1x) s | state MB | raw MB |")
    print("|---|---|---|---|---|---|---|---|---|")
    for n in scales:
        feed = tempfile.mkdtemp(prefix="vidx_probe_feed_")
        parts = []
        for i in range(n):
            parts.append(
                emb.select(
                    (F.col("vec_id") + F.lit(i * OFFSET)).alias("entity_id"),
                    F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
                    F.col("embedding").cast("array<double>").alias("embedding"),
                )
            )
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionByName(p)
        corpus.write.mode("overwrite").parquet(feed)
        corpus = spark.read.parquet(feed)
        rows = corpus.count()
        # the delta for the refresh measurement: one more 1x replica
        delta = emb.select(
            (F.col("vec_id") + F.lit(n * OFFSET)).alias("entity_id"),
            F.lit("2024-01-02").cast("timestamp").alias("timestamp"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        for method in ("ivf", "pq", "lsh", "ivfpq"):
            root = tempfile.mkdtemp(prefix="vidx_probe_store_")
            fs = FeatureStore(spark, storage_path=root)
            fs.register("vecs", corpus)
            t0 = time.time()
            fs.create_vector_index("ann", "vecs", method=method)
            t_build = time.time() - t0
            t_knn = None
            for _ in range(3):
                t0 = time.time()
                fs.knn("ann", qvec, k=10).collect()
                el = time.time() - t0
                t_knn = el if t_knn is None else min(t_knn, el)
            # round-11: all four methods serve batch
            t_batch = None
            for _ in range(2):
                t0 = time.time()
                fs.knn_batch("ann", queries, k=10).collect()
                el = time.time() - t0
                t_batch = el if t_batch is None else min(t_batch, el)
            fs.append("vecs", delta)
            t0 = time.time()
            fs.refresh_vector_index("ann")
            t_refresh = time.time() - t0
            state = du_mb(Path(root) / "ann__vindex")
            raw = du_mb(Path(root) / "vecs")
            print(
                f"| {n}x | {rows} | {method} | {t_build:.2f} | {t_knn:.2f} "
                f"| {t_batch:.2f} | {t_refresh:.2f} | {state:.1f} "
                f"| {raw:.1f} |"
            )
            shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(feed, ignore_errors=True)


if __name__ == "__main__":
    main()
