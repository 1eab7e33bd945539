"""Distributed k-means over embedding columns (Lloyd's iterations).

The iterative-algorithm class the rest of the suite doesn't cover: a
driver-side loop over a small model (k x dim centroids) with all data
passes distributed. Each iteration is

    assign:  argmin_c ||x - c||^2  — map-only over a BROADCAST model
             (k*dim doubles as literals — a few KB; no shuffle)
    update:  groupBy(cluster) over dim sum(element_at) aggregates + count
             — partial aggregation collapses each partition to k rows
             map-side; the shuffle moves k*(dim+1) values per partition
             and k rows reach the driver.

At 100 TB per iteration: one scan + one tiny shuffle; the model stays
driver-resident (k*dim doubles), exactly how spark.ml's KMeans schedules
it. Determinism: init = first k vectors by id (no RNG), and centroids
are rounded to 6dp between iterations so assignment never depends on
summation-order ulps — reruns and repartitions give identical clusters.

Assignment is the nearest-code step of the codebook kernel below: one
aggregate(zip_with(...)) distance expression per centroid —
higher-order functions are interpreted (not codegen), fine for k*dim ~
a few hundred ops/row; the codegen-heavy alternative (posexplode +
broadcast join + partial agg, see simhash's SWAR note) trades a shuffle
for expression speed and wins only when k*dim is large.

The integer codebook kernel. Every quantized vector-index method (ivf,
pq, ivfpq — operators/similarity.py and the persisted indexes in
store.py) is integer nearest-codeword search under one rounding rule
and one tie-break. Each piece is written once here, as a SQL form and,
where the driver needs it, a Python twin that agrees with it bit for
bit (the DuckDB oracle lanes replay the same rules relationally):

* quantize: ``floor(x*grid + 0.5)`` per component as BIGINT
  (:func:`quantize_vec` / :func:`_quantize`);
* distance: the integer squared L2 (:func:`_int_dist_expr` /
  :func:`_int_dist`);
* nearest code: ``array_min`` over ``struct(d, cid)``, which compares
  distance, then id, so ties go to the lowest code id
  (:func:`_nearest_code_expr`);
* the n nearest codes: ``array_sort`` of the same structs — distance,
  then id (:func:`_nearest_codes_expr` / :func:`_nearest_codes`);
* per-subspace codes and distance tables (:func:`_code_exprs`,
  :func:`_dist_table_exprs` / :func:`_dist_tables`) and the residual
  against an assigned centroid (:func:`_residual_expr`);
* the ADC sum: m distance-table lookups by stored code
  (:func:`_adc_sum`);
* the Lloyd step: seeds are the first k vectors by id; per code, the
  component sums and count ride one partial-agg job and the driver
  takes ``floor(sum / n)``; an empty code keeps its codeword
  (:func:`_lloyd_seeds`, :func:`_lloyd_step`)."""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dist_expr(vec_col: str, centroid: list[float]) -> str:
    arr = "array(" + ",".join(f"{c}D" for c in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, (x, c) -> (double(x) - c) * (double(x) - c)), "
        "0D, (acc, v) -> acc + v)"
    )


def assign_clusters(
    df: DataFrame, centroids: dict[int, list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Map-only nearest-centroid assignment: adds ``cluster`` (int) and
    ``dist2`` (squared distance). Ties break to the lowest cluster id
    (the kernel's nearest-code rule)."""
    return _assign(df, centroids, vec_col, _dist_expr)


def update_centroids(
    assigned: DataFrame, dim: int, vec_col: str = "embedding"
) -> dict[int, list[float]]:
    """Per-cluster component means as dim codegen sum(element_at)
    aggregates + a count: partial aggregation collapses every partition
    to k rows map-side, so the shuffle moves k*(dim+1) values per
    partition — strictly cheaper than a posexplode (k*dim*|rows| shuffle
    rows) at any scale. Rounded 6dp for run-to-run determinism."""
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.element_at(vec_col, i + 1).cast("double")).alias(f"s{i}") for i in range(dim)
    ]
    rows = assigned.groupBy("cluster").agg(*aggs).collect()
    return {
        r["cluster"]: [round(r[f"s{i}"] / r["n"], 6) for i in range(dim)] for r in rows
    }


def kmeans(
    df: DataFrame,
    k: int,
    max_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Lloyd's algorithm; returns (assigned_df, centroids). Deterministic:
    init from the k lowest ids, 6dp-rounded centroid updates."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    seed_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = {i: [round(float(x), 6) for x in r[vec_col]] for i, r in enumerate(seed_rows)}
    dim = len(next(iter(centroids.values())))
    spark = df.sparkSession
    # The fit loop's plans embed the centroid literals, so whole-stage
    # codegen would recompile a k*dim-sized generated class EVERY
    # iteration — pure Janino overhead that interpreted eval avoids
    # (spark.ml's KMeans likewise runs its iterations outside codegen).
    # The conf is restored before the final assignment plan is executed,
    # so the returned DataFrame — the thing that scans 100 TB — runs
    # fully codegen'd.
    prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        assigned = assign_clusters(df, centroids, vec_col)
        for _ in range(max_iter):
            new = update_centroids(assigned, dim, vec_col)
            # empty clusters keep their previous centroid
            centroids = {cid: new.get(cid, c) for cid, c in centroids.items()}
            assigned = assign_clusters(df, centroids, vec_col)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev)
    return assigned, centroids


def inertia(assigned: DataFrame) -> float:
    """Sum of squared distances to assigned centroids (the Lloyd objective)."""
    return assigned.agg(F.sum("dist2").alias("s")).collect()[0]["s"]


def _int_dist_expr(vec_col: str, centroid: list[int]) -> str:
    """SQL: the integer squared L2 distance of ``vec_col`` to one
    codeword (a literal)."""
    arr = "array(" + ",".join(f"{c}L" for c in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, (x, c) -> (x - c) * (x - c)), "
        "0L, (acc, v) -> acc + v)"
    )


def _int_dist(u: list[int], v: list[int]) -> int:
    """Python twin of :func:`_int_dist_expr`."""
    return sum((a - b) * (a - b) for a, b in zip(u, v))


def quantize_vec(vec_col: str, grid: int) -> F.Column:
    """floor(x*grid + 0.5) per component as BIGINT — one double multiply +
    floor, deterministic IEEE on every engine."""
    return F.expr(
        f"transform({vec_col}, x -> CAST(floor(double(x) * {grid} + 0.5) AS BIGINT))"
    )


def _quantize(vec: list[float], grid: int) -> list[int]:
    """Python twin of :func:`quantize_vec` (the same IEEE double ops)."""
    return [int(math.floor(float(x) * grid + 0.5)) for x in vec]


def _scored_codes(vec_col: str, book: dict[int, list], dist) -> str:
    """SQL ``array(struct(<dist> AS d, cid AS cid), ...)`` over ``book``
    in code-id order — the candidate list every argmin and probe
    orders. Structs compare lexicographically: distance, then id."""
    return "array(" + ", ".join(
        f"struct({dist(vec_col, cv)} AS d, {cid} AS cid)"
        for cid, cv in sorted(book.items())
    ) + ")"


def _nearest_code_expr(
    vec_col: str, book: dict[int, list], dist=_int_dist_expr
) -> str:
    """SQL: the nearest codeword as ``struct(d, cid)`` (ties to the
    lowest code id); ``.cid`` is the code."""
    return f"array_min({_scored_codes(vec_col, book, dist)})"


def _nearest_codes_expr(
    vec_col: str, book: dict[int, list[int]], n: int
) -> str:
    """SQL: the ids of the ``n`` nearest codewords, by distance then id."""
    scored = _scored_codes(vec_col, book, _int_dist_expr)
    return f"transform(slice(array_sort({scored}), 1, {n}), s -> s.cid)"


def _nearest_codes(
    book: dict[int, list[int]], vec: list[int], n: int
) -> list[int]:
    """Python twin of :func:`_nearest_codes_expr`; its first id is
    :func:`_nearest_code_expr`'s code."""
    scored = sorted((_int_dist(vec, cv), cid) for cid, cv in book.items())
    return [cid for _, cid in scored[:n]]


def _subvec_expr(vec_col: str, s: int, sub_dim: int) -> str:
    """SQL: subspace ``s`` of a vector split into ``sub_dim`` slices."""
    return f"slice({vec_col}, {s * sub_dim + 1}, {sub_dim})"


def _code_exprs(
    vec_col: str, books: dict[int, dict[int, list[int]]], m: int, sub_dim: int
) -> list[str]:
    """SQL: each of the m subspaces' nearest code id — a PQ encode."""
    return [
        f"{_nearest_code_expr(_subvec_expr(vec_col, s, sub_dim), books[s])}.cid"
        for s in range(m)
    ]


def _dist_table_exprs(
    vec_col: str, books: dict[int, dict[int, list[int]]], m: int, sub_dim: int
) -> list[str]:
    """SQL: per subspace, ``array(<distance to each codeword>)`` in
    code-id order — the ADC distance tables of an integer query."""
    return [
        "array(" + ", ".join(
            _int_dist_expr(_subvec_expr(vec_col, s, sub_dim), cv)
            for _, cv in sorted(books[s].items())
        ) + ")"
        for s in range(m)
    ]


def _dist_tables(
    books: dict[int, dict[int, list[int]]], vec: list[int], m: int, sub_dim: int
) -> list[list[int]]:
    """Python twin of :func:`_dist_table_exprs`."""
    return [
        [
            _int_dist(vec[s * sub_dim : (s + 1) * sub_dim], cv)
            for _, cv in sorted(books[s].items())
        ]
        for s in range(m)
    ]


def _adc_sum(tables: list) -> F.Column:
    """SQL: the asymmetric distance of a row's stored ``codes`` — table
    s (an array column or its name) looked up at code s, summed. Output
    column ``adist``."""
    return reduce(
        lambda a, b: a + b,
        [
            F.element_at(t, F.element_at("codes", s + 1) + F.lit(1))
            for s, t in enumerate(tables)
        ],
    ).alias("adist")


def _centroid_array_literal(centroids: dict[int, list[int]]) -> str:
    """SQL literal ``array(array(..L), ...)`` over cells 0..k-1 so
    ``element_at(<lit>, cell + 1)`` resolves the assigned centroid
    map-side (no join). Requires contiguous cell ids — kmeans init
    guarantees them (enumerate; empty cells keep the prior centroid)."""
    cids = sorted(centroids)
    if cids != list(range(len(cids))):
        raise ValueError(f"non-contiguous cell ids: {cids}")
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{x}L" for x in centroids[c]) + ")"
            for c in cids
        )
        + ")"
    )


def _residual_expr(vec_col: str, centroids: dict[int, list[int]]) -> str:
    """SQL: ``vec_col`` minus the centroid of the row's ``cell``."""
    return (
        f"zip_with({vec_col}, element_at({_centroid_array_literal(centroids)}, "
        "cell + 1), (a, b) -> a - b)"
    )


def _assign(df: DataFrame, book: dict[int, list], vec_col: str, dist) -> DataFrame:
    best = F.expr(_nearest_code_expr(vec_col, book, dist))
    return (
        df.withColumn("__best__", best)
        .select(
            "*",
            F.col("__best__.cid").alias("cluster"),
            F.col("__best__.d").alias("dist2"),
        )
        .drop("__best__")
    )


def assign_clusters_int(
    df: DataFrame, centroids: dict[int, list[int]], qvec_col: str = "__q__"
) -> DataFrame:
    """Integer nearest-centroid assignment (adds ``cluster``, ``dist2``
    as BIGINT). Same argmin tie-break as assign_clusters."""
    return _assign(df, centroids, qvec_col, _int_dist_expr)


def _lloyd_seeds(df: DataFrame, k: int, vec_col: str, id_col: str) -> list[list[int]]:
    """The Lloyd init: the first ``k`` integer vectors by ``id_col``."""
    return [
        [int(x) for x in r[0]]
        for r in df.orderBy(id_col).limit(k).select(vec_col).collect()
    ]


def _lloyd_step(
    assigned: DataFrame, keys: list[str], vec_col: str, dim: int
) -> dict[tuple, list[int]]:
    """One integer Lloyd update: per group of ``keys`` (the assigned
    code), the count and the ``dim`` component sums in one partial-agg
    job — k rows reach the driver — then ``floor(sum / n)``, exact
    below 2^53. Callers keep the prior codeword of a code no row chose."""
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.element_at(vec_col, i + 1)).alias(f"s{i}") for i in range(dim)
    ]
    return {
        tuple(r[c] for c in keys): [
            int(math.floor(r[f"s{i}"] / r["n"])) for i in range(dim)
        ]
        for r in assigned.groupBy(*keys).agg(*aggs).collect()
    }


def kmeans_int(
    df: DataFrame,
    k: int,
    max_iter: int = 1,
    qvec_col: str = "__q__",
    id_col: str = "vec_id",
) -> dict[int, list[int]]:
    """Integer-Lloyd over vectors ALREADY on the integer grid (no
    quantize step) — the fit :func:`kmeans_quantized` runs after its own
    quantization, exposed for inputs that are integer by construction
    (IVF-PQ residuals: quantized vector minus integer coarse centroid —
    re-quantizing a residual/grid double round-trip is NOT exact, so the
    residual fit must stay in the integer domain end-to-end for the
    DuckDB oracle to replay it bit-for-bit). Same contract as
    kmeans_quantized: init = first k rows by ``id_col``, argmin ties to
    the lowest cluster id, update = floor(sum/n). Returns the centroid
    dict only (callers re-assign against the frozen model)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    seeds = _lloyd_seeds(df, k, qvec_col, id_col)
    centroids = dict(enumerate(seeds))
    dim = len(seeds[0])
    for _ in range(max_iter):
        new = _lloyd_step(
            assign_clusters_int(df, centroids, qvec_col=qvec_col),
            ["cluster"], qvec_col, dim,
        )
        centroids = {cid: new.get((cid,), c) for cid, c in centroids.items()}
    return centroids


def kmeans_quantized(
    df: DataFrame,
    k: int,
    max_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    grid: int = 10**6,
) -> tuple[DataFrame, dict[int, list[int]]]:
    """Lloyd's algorithm on an integer grid — EXACTLY reproducible on any
    engine, unlike float k-means whose centroid sums depend on reduction
    order (the reason plain x14 was rows-only).

    Components are quantized once to ``floor(x*grid + 0.5)`` longs and
    fitted by :func:`kmeans_int`; every distance is an integer sum
    (order-independent), and each centroid update is ``floor(sum / n)``
    where the BIGINT->DOUBLE division is exact below 2^53. Same plan
    shape and cost as :func:`kmeans`: broadcast k*dim model, map-only
    assign, partial-agg update, k rows to the driver per iteration. The
    quantization error (1/grid per component) is far below the synthetic
    embeddings' cluster separation; on real data pick grid to taste.
    """
    q = df.select(id_col, quantize_vec(vec_col, grid).alias("__q__"))
    centroids = kmeans_int(q, k, max_iter=max_iter, id_col=id_col)
    return assign_clusters_int(q, centroids), centroids
