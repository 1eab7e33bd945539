"""Deduplication operators for large-scale training-data pipelines.

Five families, all shuffle-aware and expressible without Python UDFs:

* :func:`dedup_exact` — hash-groupBy on normalized content. One shuffle on
  the 16-byte hash; survivors = min id per hash. Linear at any scale.
* :func:`minhash_signatures` / :func:`dedup_minhash_lsh` — MinHash over
  token shingles + banded LSH: candidate pairs only where a band bucket
  collides, so the self-join never goes quadratic. Hashes are
  ``xxhash64(shingle, seed)`` — deterministic across runs/executors.
* :func:`dedup_simhash` — 64-bit SimHash; near-dups = identical simhash
  (or identical in >= 1 of the rotated bands for hamming tolerance).
* :func:`ngram_jaccard` — exact Jaccard on shingle sets for a candidate
  pair DataFrame (the verify step after LSH blocking).
* :func:`dedup_embedding_cosine` — near-dup via embedding cosine over
  LSH-bucketed candidates (see operators/similarity.py for the bucketing).

At 100 TB the pattern is always: cheap per-row signature (map-only) ->
shuffle on signature/bucket (the only wide stage) -> per-bucket pair
verification bounded by bucket size.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens


def dedup_exact(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep one row (min id) per distinct (normalized) content.

    Returns the surviving ids with their duplicate counts. The groupBy key
    is ``md5`` of the content, so the shuffle carries 16-byte keys, not
    document bodies.
    """
    content = F.col(content_col)
    if normalize:
        content = F.lower(F.trim(content))
    return (
        df.withColumn("__h__", F.md5(content))
        .groupBy("__h__")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("__h__")
    )


_MAX_LONG = (1 << 63) - 1


# Affine-reseed constants for the portable (md5-base) MinHash family:
# h_i(s) = (A_i * h32(s) + B_i) mod P with h32 = first 8 hex digits of
# md5(s). P is the first prime above 2^32; A_i <= ~2^24 keeps every
# product below 2^57 (no ANSI overflow). Exported so the DuckDB oracle
# can regenerate the identical family.
MINHASH_P = 4294967311
MINHASH_A = [(1000003 * (i + 1)) | 1 for i in range(64)]
MINHASH_B = [7919 * i + 12345 for i in range(64)]


def minhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Append ``minhash: array<bigint>`` of length ``num_hashes``.

    Formulated as explode(shingles) -> num_hashes hash expressions per
    shingle row -> groupBy(id) with per-seed ``min`` aggregates: every
    expression stays inside whole-stage codegen (a higher-order-function
    fold is interpreted per element — measured ~2-3x slower). Scale shape:
    the explode is map-only, partial aggregation collapses to one
    num_hashes-long row per document before the exchange, so the shuffle
    carries ~8*num_hashes bytes/doc regardless of document length.
    Deterministic across executors and runs.

    ``hash_family``: ``"xxhash64"`` (default — the production choice,
    fastest JVM hash) or ``"md5_affine"`` (one md5 per shingle + affine
    reseeding with MINHASH_A/B/P — engine-portable, so a DuckDB oracle
    can reproduce signatures bit-for-bit; identical plan shape).
    """
    from .util import ensure_parallelism

    df = ensure_parallelism(df)
    id_cols = [c for c in df.columns if c != content_col]
    sh = shingles(F.col(content_col), shingle_k)
    ex = df.select(*id_cols, F.explode(sh).alias("__sh__"))
    # each aggregate is one SQL string: one py4j call per expression,
    # where the Column builders cost ~15
    if hash_family == "md5_affine":
        h32 = "CAST(conv(substring(md5(__sh__), 1, 8), 16, 10) AS BIGINT)"
        mins = [
            f"min(({h32} * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS __mh{i}__"
            for i in range(num_hashes)
        ]
    else:
        mins = [f"min(xxhash64(__sh__, {i})) AS __mh{i}__" for i in range(num_hashes)]
    per_doc = ex.groupBy(*id_cols).agg(*map(F.expr, mins))
    sig = ", ".join(f"__mh{i}__" for i in range(num_hashes))
    return per_doc.select(*id_cols, F.expr(f"array({sig}) AS minhash"))


def minhash_band_buckets(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    hash_family: str = "xxhash64",
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """MAP-ONLY banding of a signature frame (``minhash: array<bigint>``)
    into ``(id..., band, bucket)`` rows — the LSH blocking key. Shared by
    the per-call :func:`dedup_minhash_lsh` and the store's PERSISTED
    dedup index (signatures stored once, buckets re-derived at O(bands)
    per row whenever a batch probes them). With ``"md5_affine"`` the
    bucket is the md5 of the comma-joined sub-signature, so an external
    oracle joins on the identical key."""
    rows_per_band = num_hashes // bands
    digest = "md5" if hash_family == "md5_affine" else "xxhash64"

    def band(b: int) -> str:
        parts = ", ".join(
            f"element_at(minhash, {b * rows_per_band + i + 1})"
            for i in range(rows_per_band)
        )
        return f"named_struct('band', {b}, 'bucket', {digest}(concat_ws(',', {parts})))"

    # one SQL string for the whole banding: one py4j call
    bbs = ", ".join(band(b) for b in range(bands))
    return sig.select(*id_cols, F.expr(f"explode(array({bbs})) AS bb")).select(
        *id_cols, "bb.band", "bb.bucket"
    )


def dedup_minhash_lsh(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    ``num_hashes`` components split into ``bands`` bands of
    ``num_hashes/bands`` rows each; a pair is a candidate iff some band's
    sub-signature matches exactly. Probability of candidacy for Jaccard s is
    1-(1-s^r)^b — with 16/4 the curve knees near s≈0.5.

    Plan shape: signature (map) -> explode bands (xB rows) -> shuffle on
    (band_idx, band_hash) -> per-bucket self-join. Bucket sizes bound the
    join; no global quadratic blowup. ``hash_family`` as in
    ``minhash_signatures``; with ``"md5_affine"`` the band bucket is the
    md5 of the sub-signature (string) so an external oracle can join on
    the identical bucket key.
    """
    sig = minhash_signatures(
        df, content_col, num_hashes, shingle_k, hash_family=hash_family
    ).select(id_col, "minhash")
    banded = minhash_band_buckets(
        sig, num_hashes, bands, hash_family=hash_family, id_cols=(id_col,)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates()
    )
    return pairs


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (id_a, id_b).

    The verify step after LSH blocking: join the shingle sets back onto the
    (small) candidate pair list — two broadcast-ready joins, then a
    JVM-side set intersection/union per pair.
    """
    from .util import ensure_parallelism

    sh = ensure_parallelism(df).select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(content_col), shingle_k)).alias("sh"),
    )
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def simhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document SimHash signature: every non-content column is a
    group key (the :func:`minhash_signatures` convention, so a
    functionally-dependent exact-hash column can ride the one pass).
    Each token votes +1/-1 per bit position of its hash; the sign of
    the per-bit sum is the signature bit. Formulated as explode(tokens)
    -> hash once -> groupBy(ids) with SWAR lane-sum vote columns: every
    expression stays inside whole-stage codegen (measured ~3x faster
    than a higher-order-function fold, which Spark interprets per
    element). Scale shape: the explode is map-only, partial aggregation
    collapses to one row per document before the exchange, so the
    shuffle carries ~0.5 KB/doc regardless of document length. Returns
    (ids..., simhash)."""
    from .util import ensure_parallelism

    if bits != 64:
        # the SWAR decode pairs lane j with hash bits (j, j+32): only
        # the 64-wide layout keeps bit i at lane i%32 / half i//32 — a
        # narrower 'bits' would silently scramble positions >= bits//2.
        # Narrow FAMILIES (md5_60) ride inside the 64-wide layout with
        # their top bits constant-zero.
        raise ValueError(
            f"simhash_signatures: the SWAR lane layout is 64-bit only "
            f"(got bits={bits}); use a narrower hash_family instead."
        )
    df = ensure_parallelism(df)
    id_cols = [c for c in df.columns if c != content_col]
    # hash_family="md5_60": 60-bit hash from the first 15 md5 hex digits —
    # engine-portable (an external oracle can reproduce every signature
    # bit); bits 60-63 of the packed value are then always 0, so those
    # four signature bits vote 0 for every document (harmless constants).
    # Default xxhash64 is the production choice (full 64 bits, ~10x
    # cheaper than md5).
    tok_hash = (
        F.conv(F.substring(F.md5("__tok__"), 1, 15), 16, 10).cast("long")
        if hash_family == "md5_60"
        else F.xxhash64("__tok__")
    )
    ex = df.select(
        *id_cols, F.explode(tokens(F.col(content_col))).alias("__tok__")
    ).withColumn("__h__", tok_hash)
    # SWAR bit-count: (h >> j) & 0x00000001_00000001 accumulates the ones
    # of bits j and j+32 in two 32-bit lanes of one long — 32 lane-sum
    # aggregates instead of 64 per-bit sums (2x less per-row agg work).
    # 32-bit lanes cap at ~2^31 tokens/doc before a lane could carry into
    # its neighbor or the packed long sum could overflow — unreachable for
    # any real document (16-bit lanes, the previous layout, corrupted —
    # or, under ANSI mode, crashed — at ~2^16-token docs, which corpus
    # data does hit). Sign-extension from the arithmetic shift lands above
    # lane 1's read position for all j <= 31, so the mask discards it.
    # vote_i > 0  <=>  2*ones_i > n.
    n_lanes = bits // 2
    lane_mask = 1 | (1 << 32)
    lanes = [
        F.sum(F.shiftright("__h__", j).bitwiseAND(F.lit(lane_mask))).alias(f"__l{j}__")
        for j in range(n_lanes)
    ]
    per_doc = ex.groupBy(*id_cols).agg(F.count("*").alias("__n__"), *lanes)
    bit_exprs = []
    for i in range(bits):
        j, k = i % n_lanes, i // n_lanes
        ones = F.shiftright(F.col(f"__l{j}__"), 32 * k).bitwiseAND(F.lit(0xFFFFFFFF))
        bit_exprs.append(
            F.when(
                ones * 2 > F.col("__n__"), F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    # Loud guard at the (unreachable) lane bound rather than silent
    # corruption past it.
    sig = (
        F.when(
            F.col("__n__") >= F.lit(1 << 30),
            F.raise_error(
                F.concat(
                    F.lit("dedup_simhash: document "),
                    F.col(id_cols[0]).cast("string"),
                    F.lit(" has >= 2^30 tokens; SWAR lane sums would overflow"),
                )
            ).cast("long"),
        )
        .otherwise(sum(bit_exprs[1:], bit_exprs[0]))
        .alias("simhash")
    )
    return per_doc.select(*id_cols, sig)


def simhash_band_buckets(
    sig: DataFrame,
    bits: int = 60,
    bands: int = 4,
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """MAP-ONLY banding of a SimHash frame (``simhash: bigint``) into
    ``(id..., band, bucket)`` rows — the hamming-tolerant blocking key
    (two signatures within bands-1 flipped bits are guaranteed to share
    at least one band; the standard rotated-band simhash rule). Bucket
    values are the raw band integers, so an external oracle joins on
    ``(simhash >> band*width) & (2^width - 1)`` exactly."""
    width = bits // bands
    mask = (1 << width) - 1

    def band_key(b: int):
        return F.shiftright("simhash", b * width).bitwiseAND(
            F.lit(mask)
        ).cast("long")

    return sig.select(
        *id_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_key(b).alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(*id_cols, "bb.band", "bb.bucket")


def dedup_simhash(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document; rows sharing a simhash are near-dups.
    Signatures via :func:`simhash_signatures`; returns (id, simhash)
    plus duplicate-group size and the min-id survivor per group."""
    sigs = simhash_signatures(
        df.select(id_col, content_col), content_col=content_col,
        bits=bits, hash_family=hash_family,
    )
    # one shuffle on the signature; a groupBy+join-back would evaluate the
    # signature lineage twice and shuffle twice
    from pyspark.sql import Window

    w = Window.partitionBy("simhash")
    return sigs.select(
        F.col(id_col),
        "simhash",
        F.count("*").over(w).alias("group_size"),
        F.min(id_col).over(w).alias("keep_id"),
    )


def dedup_embedding_cosine(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | Sequence[str] | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold.

    ``block_col`` (a column name or a list of them) restricts the
    self-join to equal-key blocks — mandatory at scale, and the key must
    have data-scaled cardinality: a low-cardinality key (e.g. a 10-value
    label) only defers the quadratic, it does not remove it. The
    scale-true recipe is a compound key ending in an LSH bucket from
    :func:`..operators.similarity.rp_lsh_bucketize` (map-only,
    deterministic, cardinality 2^bits regardless of corpus size), which
    bounds every block at n/2^bits rows. Without any block key this is an
    exact quadratic self-join: only for small/test data.
    """
    from ..functions.vector import dot, l2_norm
    from .util import ensure_parallelism

    blocks = [block_col] if isinstance(block_col, str) else list(block_col or [])
    emb = ensure_parallelism(emb)
    # norms once per vector BEFORE the self-join (a vector in p pairs would
    # otherwise recompute its norm p times); dot/(na*nb) stays bit-identical
    # to a per-pair cosine
    e = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v__"),
        *[F.col(c) for c in blocks],
    ).withColumn("__n__", l2_norm(F.col("__v__")))
    a, b = e.alias("a"), e.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in blocks:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .withColumn(
            "sim",
            dot(F.col("a.__v__"), F.col("b.__v__")) / (F.col("a.__n__") * F.col("b.__n__")),
        )
        .filter(F.col("sim") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "sim",
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list by min-label
    propagation: every node repeatedly takes the minimum label among
    itself and its neighbors until fixpoint. The missing piece between
    pairwise near-dup detection (similar_pairs / MinHash-LSH buckets)
    and actual dedup GROUPS: "a~b and b~c" must collapse {a,b,c} into
    one cluster even though a and c never compared similar.

    Each iteration is one shuffle join (edges x labels on the node key)
    + one min-aggregate — the textbook iterative-join algorithm, and the
    simple cousin of the large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce", SOCC'14) you would switch to if
    components had large diameter. Near-dup clusters are dense and
    shallow, so rounds ~ O(log |cluster|); convergence is checked with a
    changed-label count per round. Deterministic: the fixpoint (min node
    id per component) is unique regardless of execution order.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .cache()
    )
    # Right-size the rounds to the graph: every iteration is a join + agg,
    # and on a small edge list 32-way shuffles are pure scheduling latency
    # (measured 1s/round -> ~50ms/round single-partition). A big graph
    # keeps the parallel layout; the FIXPOINT is identical either way.
    n_edges = sym.count()
    if n_edges < 500_000:
        sym = sym.coalesce(1)
    # localCheckpoint (not cache) per round: an iterative join chain's
    # LOGICAL plan otherwise deepens every round and Catalyst re-analyzes
    # the whole lineage each time — quadratic driver overhead. Truncating
    # the lineage keeps every round O(round's own work).
    sym = sym.localCheckpoint()
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.d == labels.node)
            .groupBy("s")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.s, "left_outer")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def detect_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    shingle_k: int = 5,
) -> DataFrame:
    """Train/test contamination detection: which corpus documents share at
    least one k-token shingle with any benchmark document (the Dolma/
    GPT-3-appendix decontamination rule).

    Returns ``(id, n_shared)`` — per contaminated corpus doc, the number
    of its DISTINCT shingles that occur anywhere in the benchmark.

    Scale design: the benchmark n-gram banlist is orders of magnitude
    smaller than the corpus, so it is deduped and BROADCAST — the
    containment check is a map-side hash-join on the corpus explode, no
    corpus shuffle at all; the only shuffle is the final per-doc count
    (pre-aggregated map-side). At banlist sizes beyond broadcast range,
    swap the broadcast for a bloom-filter pushdown then exact verify.
    """
    sh_corpus = corpus.select(
        F.col(id_col).alias("__id__"),
        F.explode(
            F.array_distinct(shingles(F.col(content_col), shingle_k))
        ).alias("__sh__"),
    )
    banlist = (
        benchmark.select(
            F.explode(
                F.array_distinct(shingles(F.col(content_col), shingle_k))
            ).alias("__sh__")
        )
        .distinct()
    )
    return (
        sh_corpus.join(F.broadcast(banlist), "__sh__")
        .groupBy("__id__")
        .agg(F.count("*").alias("n_shared"))
        .select(F.col("__id__").alias(id_col), "n_shared")
    )


def ngram_containment(
    df: DataFrame,
    pairs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-set CONTAINMENT for candidate pairs — the asymmetric
    complement of ``ngram_jaccard``: containment(A in B) = |A∩B| / |A|.
    A short doc quoted wholesale inside a long one scores ~1.0 here while
    its Jaccard (|A∩B|/|A∪B|) stays tiny — the near-superset/boilerplate-
    inclusion case Jaccard-threshold dedup systematically misses (the
    Broder resemblance-vs-containment distinction). Emits the larger
    direction plus ``contained_id`` (the near-SUBSET side — the one a
    keep-longest policy drops). Same plan as the Jaccard verify: two
    joins of shingle sets onto the small candidate list."""
    from .util import ensure_parallelism

    sh = ensure_parallelism(df).select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(content_col), shingle_k)).alias("sh"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    out = (
        pairs.join(
            sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .withColumn("__c_ab__", inter / F.size("sh_a"))
        .withColumn("__c_ba__", inter / F.size("sh_b"))
        .select(
            "id_a",
            "id_b",
            F.greatest("__c_ab__", "__c_ba__").alias("containment"),
            F.when(F.col("__c_ab__") >= F.col("__c_ba__"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
        )
    )
    return (
        out.filter(F.col("containment") >= threshold) if threshold > 0 else out
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    delim: str = "\n\n",
) -> DataFrame:
    """Paragraph-granular exact dedup (the CCNet / RefinedWeb pre-step:
    most web duplication is boilerplate PARAGRAPHS — headers, footers,
    cookie banners — repeated across documents whose full texts differ,
    which document-level hashing (x3) cannot touch). Splits each doc on
    ``delim``, trims, and keeps only the globally FIRST occurrence of
    each normalized paragraph (first = min (id, pos) — deterministic,
    replay-stable). Returns one row per non-empty paragraph: (id, pos,
    par, keep).

    Plan shape, chosen for 100 TB: the split/explode is map-only; first-
    occurrence is a min-STRUCT aggregate on the paragraph's sha-256 —
    partial aggregation absorbs the hot keys (THE boilerplate paragraph
    appears in billions of docs; a row_number window over that partition
    would sort one reducer's worth of the corpus) — followed by one hash
    join back on the digest, where AQE skew-split handles the same hot
    keys on the probe side. Joining on the 64-char digest instead of the
    paragraph body keeps the shuffle rows narrow. Reference scope: the
    reference engine has no text pipeline; extension operator per
    SURVEY.md §2.4.
    """
    import re

    pars = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.col(content_col), re.escape(delim))
            ).alias("pos", "par"),
        )
        .withColumn("par", F.trim("par"))
        .filter(F.col("par") != "")
    )
    # keyed feeds BOTH the first-occurrence aggregate and the join-back
    # probe; materialize once (same single-evaluation move as
    # cross_doc_spans' gram table — the exploded paragraph table is the
    # reuse unit a paragraph-level pass lands anyway).
    keyed = pars.withColumn("__h__", F.sha2("par", 256)).localCheckpoint(
        eager=False
    )
    first = keyed.groupBy("__h__").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first__")
    )
    return (
        keyed.join(first, "__h__")
        .withColumn(
            "keep",
            (F.col(id_col) == F.col(f"__first__.{id_col}"))
            & (F.col("pos") == F.col("__first__.pos")),
        )
        .drop("__h__", "__first__")
    )


def cross_doc_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Cross-document repeated-SPAN detection — the k-gram-anchored form
    of exact-substring dedup (the "Deduplicating Training Data Makes
    Language Models Better" suffix-array operation, re-expressed as
    joins): a span repeated across >= 2 documents is exactly a maximal
    chain of k-grams each of which appears in >= 2 documents. Stages,
    all distributed:

    1. map-only k-gram generation per doc — the token array is sliced
       in place (``transform(sequence(...), slice(...))``), no
       window/lag pass, no shuffle;
    2. shared-gram detection: partial-agg ``count(distinct doc)`` per
       gram digest (two-round distinct — hot boilerplate grams are
       absorbed map-side), filtered to >= 2, semi-joined back (AQE
       splits the hot-gram probe);
    3. per-doc gaps-and-islands over the surviving gram positions
       (window partitioned BY DOC — bounded by doc length, never
       corpus-sized): grams more than k apart cannot overlap, so a
       break at ``pos - prev > k`` yields maximal spans
       ``[min_pos, max_pos + k - 1]``.

    Returns one row per (doc, span): span_start, span_len (tokens),
    n_grams. A true suffix array finds repeats of ANY length >= its
    threshold; the k-gram anchor trades that for pure map/agg/join
    shape — spans shorter than k are invisible, which is the standard
    production compromise (choose k = the minimum span worth removing).
    """
    toks = F.split(F.col(content_col), " ")
    n = F.size(toks)
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.struct(
                        (i - 1).alias("pos"),
                        F.sha2(
                            F.array_join(F.slice(toks, i, k), " "), 256
                        ).alias("h"),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("g"),
    ).select(id_col, "g.pos", "g.h")
    # The gram table feeds BOTH the shared-gram aggregate and the probe
    # side of the semi join; without materialization Spark evaluates the
    # explode+sha2 subtree twice in one job (the vocab double-scan
    # pattern from operators/encoding.py, round-3 advice). One lazy
    # localCheckpoint computes it once — measured -38% on the x31
    # witness at sf0.1. At 100 TB the same move is "land the gram table
    # once, reuse it", which a span-dedup pass wants anyway (it is the
    # suffix-array stand-in and the unit of incremental reuse).
    grams = grams.localCheckpoint(eager=False)
    shared = (
        grams.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = grams.join(shared, "h", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    breaks = F.when(
        F.col("pos") - F.lag("pos").over(w) > k, 1
    ).otherwise(F.when(F.lag("pos").over(w).isNull(), 1).otherwise(0))
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    islands = hits.withColumn("__b__", breaks).withColumn(
        "__span__", F.sum("__b__").over(run)
    )
    return islands.groupBy(id_col, "__span__").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
        F.count("*").cast("long").alias("n_grams"),
    ).drop("__span__")
