"""Similarity search over embedding columns.

* :func:`knn_brute_force` — exact top-k cosine against one query vector:
  broadcast the query, one scan with a JVM-side dot product, global top-k
  (Spark's ``orderBy().limit(k)`` runs per-partition top-k + merge —
  TakeOrderedAndProject — so no full sort at scale).
* :func:`knn_for_queries` — exact top-k for a whole query SET: broadcast
  the queries, explode, per-query window top-k. Linear in |data| x |queries|.
* :func:`rp_lsh_bucketize` / :func:`knn_lsh` — random-hyperplane (sign) LSH:
  deterministic seeded projections computed JVM-side; ANN = search only the
  query's bucket (and optionally neighboring probes). This is the scale
  path: the scan prunes to ~1/2^bits of the data per probe.
* :func:`ivf_assign` / :func:`knn_ivf` — IVF-style coarse quantization
  given a (small, broadcastable) centroid table: assign each vector to its
  nearest centroid at write time, probe the closest ``nprobe`` centroid
  cells at query time.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, dot, l2_norm
from .clustering import (
    _adc_sum,
    _code_exprs,
    _dist_table_exprs,
    _dist_tables,
    _lloyd_seeds,
    _lloyd_step,
    _nearest_code_expr,
    _nearest_codes,
    _nearest_codes_expr,
    _quantize,
    _residual_expr,
    _subvec_expr,
    kmeans_quantized,
    quantize_vec,
)


def knn_brute_force(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        emb.withColumn("sim", cosine_similarity(v, q))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "sim")
    )


def knn_for_queries(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k for every row of a (small) query table.

    Broadcast-joins the queries against the data scan, computes cosine
    JVM-side, then a per-query window top-k. |queries| must be
    broadcast-small; for query sets that are themselves huge, use the LSH
    path and join on buckets instead.
    """
    from .pit import top_k_per_group

    v = F.col(vec_col).cast("array<double>")
    qv = F.col(query_vec_col).cast("array<double>")
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .withColumn("sim", cosine_similarity(v, qv))
        .select(query_id_col, id_col, "sim")
    )
    return top_k_per_group(
        scored, [query_id_col], [F.col("sim").desc(), F.col(id_col).asc()], k
    )


def _random_hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_bucketize_with_planes(
    emb: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Append a sign-LSH bucket id from EXPLICIT hyperplanes (the persisted-
    index path: planes come from a stored model table, so an index built
    once keeps bucketing appended vectors identically forever). Map-only,
    JVM-side dot products."""
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(v, p) >= 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit
    return emb.withColumn(bucket_col, bucket)


def lsh_query_bucket(planes: list[list[float]], query_vec: list[float]) -> int:
    """The query's bucket under the same sign rule, computed driver-side
    (sequential left-to-right float dot — the identical summation order
    the JVM expression uses, so signs agree bit-for-bit)."""
    qb = 0
    for i, plane in enumerate(planes):
        if sum(p * x for p, x in zip(plane, query_vec)) >= 0:
            qb |= 1 << i
    return qb


def rp_lsh_bucketize(
    emb: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Append a sign-LSH bucket id (0..2^bits-1) from seeded random
    hyperplanes. Map-only, deterministic, JVM-side dot products.

    Vectors with high cosine similarity agree on most hyperplane signs, so
    they land in the same bucket with probability (1 - theta/pi)^bits.
    """
    planes = _random_hyperplanes(dim, bits, seed)
    return lsh_bucketize_with_planes(emb, planes, vec_col, bucket_col)


def knn_lsh(
    emb_bucketed: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
    multiprobe: int = 0,
) -> DataFrame:
    """ANN top-k: score only vectors in the query's LSH bucket
    (+ ``multiprobe`` single-bit-flip neighbor buckets).

    On partitioned/bucketed storage the bucket predicate prunes the scan;
    recall/latency trades via ``bits`` and ``multiprobe``.
    """
    planes = _random_hyperplanes(dim, bits, seed)
    qb = lsh_query_bucket(planes, query_vec)
    probes = [qb] + [qb ^ (1 << i) for i in range(min(multiprobe, bits))]
    cand = emb_bucketed.filter(F.col(bucket_col).isin(probes))
    return knn_brute_force(cand, query_vec, k, id_col, vec_col)


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "c_id",
    centroid_vec_col: str = "c_vec",
) -> DataFrame:
    """Assign each vector to its nearest (max-cosine) centroid.

    Broadcast the centroid table (IVF coarse codebooks are small), score
    every (vector, centroid) pair JVM-side, keep the argmax via max_by —
    map-side combined, single shuffle on the vector id is avoided entirely
    because max_by runs inside the per-partition aggregate.
    """
    v = F.col(vec_col).cast("array<double>")
    cv = F.col(centroid_vec_col).cast("array<double>")
    scored = (
        emb.crossJoin(F.broadcast(centroids))
        .withColumn("__sim__", cosine_similarity(v, cv))
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(F.col(centroid_id_col), F.col("__sim__")).alias("cell"),
        F.first(vec_col, ignorenulls=True).alias(vec_col),
    )
    return best


def knn_ivf(
    emb_assigned: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "c_id",
    centroid_vec_col: str = "c_vec",
) -> DataFrame:
    """Probe the ``nprobe`` centroid cells closest to the query, then exact
    top-k within those cells only."""
    cents = centroids.collect()
    scored = []
    qn = math.sqrt(sum(x * x for x in query_vec))
    for row in cents:
        cvec = list(row[centroid_vec_col])
        cn = math.sqrt(sum(x * x for x in cvec))
        sim = sum(a * b for a, b in zip(query_vec, cvec)) / (qn * cn) if qn and cn else 0.0
        scored.append((row[centroid_id_col], sim))
    probe_cells = [c for c, _ in sorted(scored, key=lambda t: -t[1])[:nprobe]]
    cand = emb_assigned.filter(F.col("cell").isin(probe_cells))
    return knn_brute_force(cand, query_vec, k, id_col, vec_col)


def pq_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    m: int = 4,
    sub_dim: int = 16,
    k_codes: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 1,
    grid: int = 10**6,
) -> DataFrame:
    """Product-quantization ANN: asymmetric-distance top-k.

    Classic PQ (Jegou et al., "Product Quantization for Nearest Neighbor
    Search"): split the vector into ``m`` subspaces, fit a ``k_codes``-way
    codebook per subspace, encode every vector as m small codes, and rank
    by the sum of per-subspace distances between the QUERY's exact
    subvector and each vector's codeword (ADC). Memory per vector drops
    from dim floats to m bytes — the trick that makes billion-scale ANN
    fit in RAM.

    Determinism: codebooks come from :func:`kmeans_quantized` (integer
    Lloyd), so codes, distance tables and the final ranking are integer
    arithmetic end-to-end — bit-identical across engines (the suite's
    DuckDB oracle replays all four codebook fits relationally).

    Scale shape: m codebook fits (each = x14's broadcast-model plan on a
    sub_dim slice), then ONE map-only pass that assigns codes and sums
    m distance-table lookups per vector, then TakeOrderedAndProject —
    no shuffle in the query path at all.
    """
    books = pq_fit_codebooks(
        df, m=m, sub_dim=sub_dim, k_codes=k_codes, iterations=iterations,
        id_col=id_col, vec_col=vec_col, grid=grid,
    )
    enc = pq_encode(df, books, m=m, sub_dim=sub_dim, id_col=id_col,
                    vec_col=vec_col, grid=grid)
    return pq_adc_rank(enc, books, query_vec, m=m, sub_dim=sub_dim, k=k,
                       id_col=id_col, grid=grid)


def pq_fit_codebooks(
    df: DataFrame,
    m: int,
    sub_dim: int,
    k_codes: int,
    iterations: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 10**6,
) -> dict[int, dict[int, list[int]]]:
    """Fit the m per-subspace integer-Lloyd codebooks (the TRAIN step a
    persisted PQ index runs once and versions). Returns
    {subspace -> {code -> centroid ints}} — m * k_codes * sub_dim longs,
    driver-resident by design (a few KB).

    r12 optimization (guide §1.2 "remove unnecessary passes"): the m
    sub-fits used to run as m SEQUENTIAL kmeans_quantized loops — each
    one re-scanned and re-quantized the corpus for its seed collect AND
    for every Lloyd round (2m full passes at iterations=1). Quantization
    is per-component, so slicing commutes with it: quantize ONCE,
    materialize, and fit all m subspaces through the shared one-pass
    machinery (:func:`_pq_fit_books_int` — one seed job + one
    explode/partial-agg job per round for ALL subspaces). Codebooks are
    bit-identical to the m-loop's (pinned in pytest)."""
    # NOTE: no unpersist — Dataset.unpersist on a localCheckpointed frame
    # is a no-op (it only clears cacheManager entries; checkpoint blocks
    # free on RDD GC, which the end of this scope triggers). r12 ADVICE.
    q = df.select(
        id_col, quantize_vec(vec_col, grid).alias("__q__")
    ).localCheckpoint(eager=True)
    return _pq_fit_books_int(
        q, m, sub_dim, k_codes, iterations, id_col=id_col, rv_col="__q__"
    )


def _pq_fit_books_int(
    res: DataFrame,
    m: int,
    sub_dim: int,
    k_codes: int,
    iterations: int,
    id_col: str = "vec_id",
    rv_col: str = "__rv__",
) -> dict[int, dict[int, list[int]]]:
    """All-m-subspaces integer-Lloyd codebook fit in ONE pass per step
    (r12 optimization; shared by :func:`pq_fit_codebooks` and
    :func:`ivfpq_fit`). ``res`` holds integer vectors in ``rv_col``.

    * seeds: every subspace's seed codewords are slices of the SAME
      first-``k_codes`` rows by ``id_col`` — one TakeOrdered job instead
      of m (slicing the collected rows driver-side is value-identical to
      collecting each slice).
    * each Lloyd round: every subspace's argmin assignment + per-(code)
      component sums ride ONE explode + partial-agg job — the explode
      emits (s, sub-vector, code) structs map-side, partial aggregation
      collapses each partition to m*k_codes rows before the exchange,
      and the driver applies the identical floor(sum/n) update per
      (s, code). Empty codes keep their prior codeword, exactly as
      kmeans_int does.

    The arithmetic is the per-subspace kmeans_int recurrence verbatim
    (integer distances, ties to the lowest code id, floor(sum/n)
    updates), so the returned codebooks are bit-identical to m
    sequential fits — the DuckDB oracles that replay the fit
    relationally keep matching (pinned in pytest)."""
    if k_codes < 1:
        # Preserve the contract of the replaced kmeans_quantized /
        # kmeans_int fits (r12 ADVICE): k_codes=0 would otherwise yield
        # empty codebooks and a malformed array_min(array()) expression
        # that fails with an obscure AnalysisException at iterations>=1.
        raise ValueError(f"k_codes must be >= 1, got {k_codes}")
    seeds = _lloyd_seeds(res, k_codes, rv_col, id_col)
    books: dict[int, dict[int, list[int]]] = {
        s: {i: v[s * sub_dim : (s + 1) * sub_dim] for i, v in enumerate(seeds)}
        for s in range(m)
    }
    for _ in range(iterations):
        codes = _code_exprs(rv_col, books, m, sub_dim)
        structs = [
            F.struct(
                F.lit(s).alias("s"),
                F.expr(_subvec_expr(rv_col, s, sub_dim)).alias("sub"),
                F.expr(codes[s]).alias("cl"),
            )
            for s in range(m)
        ]
        ex = res.select(F.explode(F.array(*structs)).alias("z")).select(
            "z.s", "z.sub", "z.cl"
        )
        new = _lloyd_step(ex, ["s", "cl"], "sub", sub_dim)
        books = {
            s: {cid: new.get((s, cid), cv) for cid, cv in books[s].items()}
            for s in range(m)
        }
    return books


def pq_encode(
    df: DataFrame,
    books: dict[int, dict[int, list[int]]],
    m: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 10**6,
) -> DataFrame:
    """Encode every vector as its m nearest-codeword ids against FROZEN
    codebooks — the ADD step: map-only (codebooks ride as literals), so
    appended vectors fold into a persisted index at O(delta) with no
    refit. Output: (id_col, codes array<int>)."""
    enc = df.select(id_col, quantize_vec(vec_col, grid).alias("__q__"))
    codes = [F.expr(c) for c in _code_exprs("__q__", books, m, sub_dim)]
    return enc.select(id_col, F.array(*codes).alias("codes"))


def pq_adc_rank(
    codes_df: DataFrame,
    books: dict[int, dict[int, list[int]]],
    query_vec: list[float],
    m: int,
    sub_dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    grid: int = 10**6,
) -> DataFrame:
    """Asymmetric-distance top-k over PRE-ENCODED codes — the QUERY step
    of a persisted index: the per-subspace distance table between the
    exact query subvector and each codeword is built driver-side
    (m * k_codes longs), then the scan is m array lookups + a sum per
    row and TakeOrderedAndProject. No distance recomputation, no
    shuffle."""
    tables = _dist_tables(books, _quantize(query_vec, grid), m, sub_dim)
    adist = _adc_sum(
        [F.expr("array(" + ",".join(f"{d}L" for d in t) + ")") for t in tables]
    )
    return (
        codes_df.select(id_col, adist)
        .orderBy("adist", id_col)
        .limit(k)
    )


def ivf_fit_int(
    df: DataFrame,
    n_cells: int,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 10**6,
) -> dict[int, list[int]]:
    """Fit IVF coarse centroids on the INTEGER grid (kmeans_quantized) —
    deterministic across engines, so a DuckDB oracle can replay the
    stored model exactly. Returns {cell -> centroid ints}."""
    _, centroids = kmeans_quantized(
        df, k=n_cells, max_iter=iterations, id_col=id_col,
        vec_col=vec_col, grid=grid,
    )
    return centroids


def ivf_encode_int(
    df: DataFrame,
    centroids: dict[int, list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 10**6,
) -> DataFrame:
    """Assign each vector its nearest (integer-distance argmin, ties to
    the lowest cell id) FROZEN centroid — map-only, the persisted-IVF
    ADD step. Keeps the raw vector for exact re-ranking at query time.
    Output: (id_col, vec_col, cell)."""
    q = df.select(id_col, vec_col, quantize_vec(vec_col, grid).alias("__q__"))
    cell = F.expr(f"{_nearest_code_expr('__q__', centroids)}.cid")
    return q.select(id_col, vec_col, cell.alias("cell"))


def ivf_probe_cells_int(
    centroids: dict[int, list[int]],
    query_vec: list[float],
    nprobe: int,
    grid: int = 10**6,
) -> list[int]:
    """The nprobe cells nearest the query by the SAME integer distance
    the assignment used (ties to the lowest cell id) — driver-side over
    the k x dim model, deterministic."""
    return _nearest_codes(centroids, _quantize(query_vec, grid), nprobe)


# --------------------------------------------------------------------- #
# SQ8 scalar quantization (FAISS IndexScalarQuantizer QT_8bit): per-
# dimension min/max train, each component stored as an 8-bit level,
# exhaustive integer-L2 scan. Memory = dim bytes/row (vs 8*dim raw);
# no probe key (IVF adds pruning), so the scan shape is PQ's
# exhaustive one with zip_with distances instead of table lookups.
# Determinism: min/max are comparison aggregates (order-independent),
# the level formula is one IEEE-double expression evaluated identically
# by Spark, Python and DuckDB, and distances are integer sums.
# --------------------------------------------------------------------- #
def sq_fit_minmax(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """TRAIN: per-dimension min/max over the corpus — one partial-agg
    pass, 2*dim doubles driver-resident. Exact (comparisons, no sums)."""
    aggs = []
    for i in range(dim):
        aggs.append(F.min(F.element_at(vec_col, i + 1)).alias(f"mn{i}"))
        aggs.append(F.max(F.element_at(vec_col, i + 1)).alias(f"mx{i}"))
    r = df.agg(*aggs).collect()[0]
    return (
        [float(r[f"mn{i}"]) for i in range(dim)],
        [float(r[f"mx{i}"]) for i in range(dim)],
    )


def _sq_level(x: float, mn: float, mx: float) -> int:
    if mx == mn:
        return 0
    return int(math.floor((x - mn) / (mx - mn) * 255.0 + 0.5))


def sq_encode(
    df: DataFrame,
    mins: list[float],
    maxs: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADD: map-only per-component level assignment against the FROZEN
    min/max (refresh deltas use the ORIGINAL stats — unclamped, so the
    fold stays bit-identical to encode-everything; out-of-range levels
    are legal integers, not errors). Output (id_col, codes).

    The stats arrays are built ONCE as literal array columns and
    referenced by attribute inside the transform lambda (round-11
    ADVICE): inlining the full dim-length literal into every
    element_at made the generated expression grow O(dim^2) — fine at
    dim=64, pathological parse/codegen at realistic embedding dims
    (768+) — and went through repr/SQL-parse, which non-finite stats
    would break. F.lit carries doubles natively, so inf/nan stats are
    legal (a constant dimension yields scale 0 -> level 0)."""
    mn_arr = F.array(*[F.lit(float(x)).cast("double") for x in mins])
    sc_arr = F.array(
        *[F.lit(float(b) - float(a)).cast("double") for a, b in zip(mins, maxs)]
    )
    dim = len(mins)
    tagged = df.withColumn("__mn__", mn_arr).withColumn("__sc__", sc_arr)
    codes = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.when(
            F.element_at("__sc__", i) == F.lit(0.0), F.lit(0).cast("long")
        ).otherwise(
            F.floor(
                (F.element_at(vec_col, i) - F.element_at("__mn__", i))
                / F.element_at("__sc__", i)
                * F.lit(255.0)
                + F.lit(0.5)
            ).cast("long")
        ),
    )
    return tagged.select(id_col, codes.alias("codes"))


def sq_rank(
    codes_df: DataFrame,
    q_codes: list[int],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """QUERY: exhaustive integer-L2 over the stored levels vs the
    quantized query (driver literal) — one codegen projection +
    TakeOrderedAndProject, no shuffle. Output (id_col, qdist)."""
    qarr = "array(" + ",".join(f"{c}L" for c in q_codes) + ")"
    dist = F.expr(
        f"aggregate(zip_with(codes, {qarr}, (a, b) -> (a - b) * (a - b)), "
        f"0L, (acc, v) -> acc + v)"
    )
    return (
        codes_df.select(id_col, dist.alias("qdist"))
        .orderBy("qdist", id_col)
        .limit(k)
    )


def sq_rank_batch(
    codes_df: DataFrame,
    queries: DataFrame,
    mins: list[float],
    maxs: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Batch SQ serving: quantize the query TABLE map-side with the
    frozen stats (same expression as the encode), broadcast it into the
    exhaustive codes scan, integer-L2 per pair, per-query top-k — the
    pq_adc_batch shape with zip_with distances instead of lookups."""
    from .pit import top_k_per_group

    qx = sq_encode(
        queries, mins, maxs, id_col=query_id_col, vec_col=query_vec_col
    ).withColumnRenamed("codes", "__qc__")
    joined = codes_df.crossJoin(F.broadcast(qx))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    dist = F.expr(
        "aggregate(zip_with(codes, __qc__, (a, b) -> (a - b) * (a - b)), "
        "0L, (acc, v) -> acc + v)"
    )
    scored = joined.select(query_id_col, id_col, dist.alias("qdist"))
    return top_k_per_group(
        scored, [query_id_col],
        [F.col("qdist").asc(), F.col(id_col).asc()], k,
    )


# --------------------------------------------------------------------- #
# IVF-PQ: coarse cells + product quantization on the RESIDUAL
# (vector - assigned centroid) — the FAISS IndexIVFPQ composition for
# billion-vector corpora: the probe prunes the scan to nprobe cells, the
# m-byte residual codes keep memory at PQ scale, and ADC runs against
# cell-specific distance tables (the query residual differs per cell).
# All arithmetic stays on the integer grid (quantized vectors, integer
# centroids, integer residuals), so a relational oracle replays the
# stored model exactly.
# --------------------------------------------------------------------- #
def ivfpq_residuals(
    df: DataFrame,
    centroids: dict[int, list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 10**6,
) -> DataFrame:
    """Assign each vector its nearest frozen coarse cell and compute the
    INTEGER residual (quantized vector minus assigned centroid) — one
    map-only projection; the model rides as literals. Output:
    (id_col, cell, __rv__ array<bigint>)."""
    q = df.select(id_col, quantize_vec(vec_col, grid).alias("__q__"))
    q = q.withColumn(
        "cell", F.expr(f"{_nearest_code_expr('__q__', centroids)}.cid")
    )
    rv = F.expr(_residual_expr("__q__", centroids))
    return q.select(id_col, "cell", rv.alias("__rv__"))


def ivfpq_fit(
    df: DataFrame,
    n_cells: int,
    m: int,
    sub_dim: int,
    k_codes: int,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 10**6,
) -> tuple[dict[int, list[int]], dict[int, dict[int, list[int]]]]:
    """TRAIN step: coarse integer-Lloyd centroids, then m per-subspace
    integer-Lloyd codebooks fitted on the RESIDUALS (kmeans_int — the
    residuals are integer by construction and must stay so). Returns
    (centroids, {subspace -> {code -> centroid ints}}); both are
    driver-resident (n_cells x dim + m x k_codes x sub_dim longs).

    r12 optimization (guide §1.2): the residual table is materialized
    ONCE (one quantize + coarse-argmin pass) and all m residual
    codebooks fit through the shared one-pass machinery
    (:func:`_pq_fit_books_int`) — previously each of the m sequential
    kmeans_int fits re-derived every residual from the raw vectors for
    its seed collect AND for every Lloyd round (2m coarse-assignment
    passes at iterations=1). Codebooks bit-identical (pinned in
    pytest)."""
    centroids = ivf_fit_int(
        df, n_cells=n_cells, iterations=iterations,
        id_col=id_col, vec_col=vec_col, grid=grid,
    )
    # NOTE: no unpersist — see pq_fit_codebooks (a Dataset.unpersist on a
    # localCheckpointed frame never released the blocks anyway).
    res = ivfpq_residuals(
        df, centroids, id_col=id_col, vec_col=vec_col, grid=grid
    ).localCheckpoint(eager=True)
    books = _pq_fit_books_int(
        res, m, sub_dim, k_codes, iterations, id_col=id_col,
        rv_col="__rv__",
    )
    return centroids, books


def ivfpq_encode(
    df: DataFrame,
    centroids: dict[int, list[int]],
    books: dict[int, dict[int, list[int]]],
    m: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 10**6,
) -> DataFrame:
    """ADD step against the FROZEN model: assign cell, encode the
    residual as m nearest-codeword ids — map-only, so appends fold into
    a persisted index at O(delta). Output: (id_col, cell, codes)."""
    res = ivfpq_residuals(df, centroids, id_col=id_col,
                          vec_col=vec_col, grid=grid)
    codes = [F.expr(c) for c in _code_exprs("__rv__", books, m, sub_dim)]
    return res.select(id_col, "cell", F.array(*codes).alias("codes"))


def _pq_dtab_cols(
    books: dict[int, dict[int, list[int]]],
    m: int,
    sub_dim: int,
    src_vec: str,
) -> list:
    """Per-subspace RELATIONAL distance tables — the batch form of
    pq_adc_rank's driver-built literal: for every query row, an
    array<bigint> over the (sorted) codewords of subspace s, computed
    map-side from ``src_vec`` (an integer query vector or residual).
    m x k_codes aggregate(zip_with(...)) expressions per row — the
    codebooks ride as literals, nothing shuffles."""
    return [
        F.expr(t).alias(f"__dt{s}__")
        for s, t in enumerate(_dist_table_exprs(src_vec, books, m, sub_dim))
    ]


def pq_adc_batch(
    codes_df: DataFrame,
    books: dict[int, dict[int, list[int]]],
    queries: DataFrame,
    m: int,
    sub_dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    grid: int = 10**6,
    exclude_self: bool = False,
) -> DataFrame:
    """Batch ADC over stored PQ codes — FAISS IndexPQ ``search`` for a
    query TABLE (round-11; lifts the knn_batch PQ refusal): each query
    row materializes its m distance tables as array columns (a
    broadcastable |queries| x m x k_codes dim — the per-query driver
    literal of pq_adc_rank made relational), the m-byte codes scan
    cross-joins against that BROADCAST query side (plain PQ is
    exhaustive by design — IVF adds the pruning), and ADC is m lookups +
    a sum per pair, then a per-query top-k. No driver loop; |queries|
    scales to whatever broadcasts (~KBs per query), the codes side
    never shuffles before the top-k."""
    from .pit import top_k_per_group

    qx = queries.select(
        query_id_col, quantize_vec(query_vec_col, grid).alias("__qq__")
    )
    qx = qx.select(query_id_col, *_pq_dtab_cols(books, m, sub_dim, "__qq__"))
    joined = codes_df.crossJoin(F.broadcast(qx))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    scored = joined.select(
        query_id_col, id_col, _adc_sum([f"__dt{s}__" for s in range(m)])
    )
    return top_k_per_group(
        scored, [query_id_col],
        [F.col("adist").asc(), F.col(id_col).asc()], k,
    )


def ivfpq_adc_batch(
    codes_df: DataFrame,
    centroids: dict[int, list[int]],
    books: dict[int, dict[int, list[int]]],
    queries: DataFrame,
    m: int,
    sub_dim: int,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    grid: int = 10**6,
    exclude_self: bool = False,
) -> DataFrame:
    """Batch IVF-PQ retrieval: per query row, the nprobe nearest coarse
    cells (map-only integer argmin over the broadcast model), the
    CELL-SPECIFIC residual (query minus that cell's centroid), and the
    residual's m distance tables — all one projection; candidates come
    from the cell EQUI JOIN against the codes scan (each query touches
    only its probed cells), ADC is m lookups + a sum, then per-query
    top-k. The IndexIVFPQ serving-job shape: pruned scan AND m-byte
    memory, fully distributed."""
    from .pit import top_k_per_group

    qx = queries.select(
        query_id_col, quantize_vec(query_vec_col, grid).alias("__qq__")
    )
    probes = F.expr(_nearest_codes_expr("__qq__", centroids, nprobe))
    qx = qx.select(
        query_id_col, "__qq__", F.explode(probes).alias("cell")
    )
    qx = qx.withColumn("__rr__", F.expr(_residual_expr("__qq__", centroids)))
    qx = qx.select(
        query_id_col, "cell", *_pq_dtab_cols(books, m, sub_dim, "__rr__")
    )
    joined = codes_df.join(F.broadcast(qx), "cell")
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    scored = joined.select(
        query_id_col, id_col, _adc_sum([f"__dt{s}__" for s in range(m)])
    )
    return top_k_per_group(
        scored, [query_id_col],
        [F.col("adist").asc(), F.col(id_col).asc()], k,
    )


def ivfpq_adc_rank(
    codes_df: DataFrame,
    centroids: dict[int, list[int]],
    books: dict[int, dict[int, list[int]]],
    query_vec: list[float],
    m: int,
    sub_dim: int,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    grid: int = 10**6,
) -> DataFrame:
    """QUERY step: probe the nprobe nearest coarse cells, then ADC on
    the residual codes with CELL-SPECIFIC distance tables (the query
    residual q - centroid differs per probed cell — the IndexIVFPQ
    subtlety plain PQ doesn't have). The nprobe x m x k_codes tables are
    driver-built longs shipped as a broadcast dim; the scan reads ONLY
    the probed cells and each row costs m array lookups + a sum."""
    qq = _quantize(query_vec, grid)
    probes = _nearest_codes(centroids, qq, nprobe)
    rows = [
        (c, *_dist_tables(
            books, [a - b for a, b in zip(qq, centroids[c])], m, sub_dim
        ))
        for c in probes
    ]
    schema = "cell INT, " + ", ".join(
        f"dt{s} ARRAY<BIGINT>" for s in range(m)
    )
    dt_df = codes_df.sparkSession.createDataFrame(rows, schema)
    joined = codes_df.filter(F.col("cell").isin(probes)).join(
        F.broadcast(dt_df), "cell"
    )
    return (
        joined.select(id_col, _adc_sum([f"dt{s}" for s in range(m)]))
        .orderBy("adist", id_col)
        .limit(k)
    )
