"""Text-analysis operators for training-data curation.

All JVM-side expressions (no Python UDFs): language-ID heuristic, quality
scoring, token counting, rolling-hash fingerprinting. Each is map-only —
they compose with any downstream groupBy/dedup without adding shuffles.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import bind, shingles, token_count, tokens

DEFAULT_STOPWORDS: Mapping[str, Sequence[str]] = {
    "en": ("the", "a", "of", "and", "in", "to", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "pour", "dans"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "es", "para", "en"),
}


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    stopwords: Mapping[str, Sequence[str]] = DEFAULT_STOPWORDS,
    min_ratio: float = 0.02,
) -> DataFrame:
    """Stopword-vote language ID: score each language by its stopword hit
    ratio; predict the argmax, 'unk' below ``min_ratio``.

    A real deployment would swap in an n-gram model; the operator shape
    (per-row scoring against broadcast-literal tables, argmax via
    ``greatest``) is what matters for scale.
    """
    t = tokens(F.col(text_col))
    n = F.size(t)

    def hit_filter(words: Sequence[str]):
        wl = list(words)
        return lambda x: x.isin(wl)

    ratios: dict[str, Column] = {
        lang: F.size(F.filter(t, hit_filter(sw))) / n for lang, sw in stopwords.items()
    }
    best = F.greatest(*ratios.values())
    # chained WHEN: first language hitting the max ratio wins ties (dict order)
    expr = None
    for lang, r in ratios.items():
        cond = (best >= min_ratio) & (r == best)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    pred = expr.otherwise(F.lit("unk"))
    out = df.withColumn("pred_lang", pred).withColumn("lang_score", F.round(best, 6))
    return out


DEFAULT_TRIGRAMS: Mapping[str, Sequence[str]] = {
    "en": ("the", "ing", "and", "ion", " th", "he ", "of ", " to"),
    "de": ("der", "sch", "ein", "ich", "und", "die", "en ", "ung"),
    "fr": ("les", "ent", "de ", "ion", "que", " la", "est", "eur"),
    "es": ("de ", "la ", "que", "os ", "ión", "ent", " el", "ado"),
}


def lang_id_ngram(
    df: DataFrame,
    text_col: str = "text",
    trigrams: Mapping[str, Sequence[str]] = DEFAULT_TRIGRAMS,
    min_hits: int = 1,
) -> DataFrame:
    """Character-trigram language ID: slide a 3-char window over the text,
    count hits against each language's characteristic trigram profile,
    predict the argmax ('unk' below ``min_hits``).

    All JVM-side: one ``sequence``+``transform`` builds the trigram array
    once, per-language scoring is ``size(filter(...))`` over it, argmax via
    ``greatest`` + chained WHEN. Map-only; profiles are literal arrays
    (broadcast-free). Swap the 8-trigram demo profiles for real frequency
    tables in deployment — the plan shape is unchanged.
    """
    def trigrams_of(lowered: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.length(lowered) - 2, F.lit(1)))
        return F.transform(idx, lambda i: F.call_function("substring", lowered, i, F.lit(3)))

    tri = bind(F.lower(F.col(text_col)), trigrams_of)

    def hit_filter(profile: Sequence[str]):
        pl = list(profile)
        return lambda x: x.isin(pl)

    scores: dict[str, Column] = {
        lang: F.size(F.filter(tri, hit_filter(p))) for lang, p in trigrams.items()
    }
    best = F.greatest(*scores.values())
    expr = None
    for lang, s in scores.items():
        cond = (best >= min_hits) & (s == best)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    pred = expr.otherwise(F.lit("unk"))
    return df.withColumn("pred_lang", pred).withColumn("ngram_hits", best)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic doc quality: token count, distinct-token ratio, mean token
    length, and a composite [0,1] score. Cheap map-only curation signal."""
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    uniq_ratio = F.size(F.array_distinct(t)) / n_tok
    mean_tok_len = (F.length(F.col(text_col)) - (n_tok - 1)) / n_tok
    score = F.least(
        F.lit(1.0),
        uniq_ratio * F.least(F.lit(1.0), n_tok / F.lit(50.0)),
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("uniq_ratio", F.round(uniq_ratio, 6))
        .withColumn("mean_token_len", F.round(mean_tok_len, 6))
        .withColumn("quality", F.round(score, 6))
    )


def add_token_count(df: DataFrame, text_col: str = "text", out_col: str = "n_tokens") -> DataFrame:
    return df.withColumn(out_col, token_count(F.col(text_col)))


def fingerprint(df: DataFrame, text_col: str = "text", width: int = 8) -> DataFrame:
    """Order-insensitive content signature: md5 over the first ``width``
    sorted distinct tokens. Identical fingerprints => near-identical
    vocabulary prefix; groupBy(fingerprint) is a cheap clustering key."""
    sig = F.md5(
        F.concat_ws(
            " ",
            F.slice(F.array_sort(F.array_distinct(tokens(F.col(text_col)))), 1, width),
        )
    )
    return df.withColumn("fingerprint", sig)


#: PII patterns kept to syntax shared by Java regex (Spark) and RE2
#: (DuckDB): character classes, bounded repetition, alternation — no
#: backreferences or lookaround, so an oracle can replicate redaction
#: exactly.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(?:\+?[0-9]{1,2}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


_HTML_DROP_TAGS = ("head", "nav", "aside", "footer", "script", "style")
#: ``&amp;`` is unescaped LAST (standard unescape ordering): a
#: double-escaped entity like ``&amp;lt;`` must come out as the literal
#: text ``&lt;``, not be double-unescaped into ``<``.
_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_main_content(col):
    """Main-content extraction from raw HTML — the trafilatura/readability
    step every web-corpus pipeline runs before any quality or dedup pass
    (the reference has no text operators; this joins t2/t8/pipe1's
    curation lane). Four codegen stages, all JVM-side regexp/replace
    algebra (no UDF, scan-speed at 100 TB):

    1. drop whole non-content BLOCKS (head/nav/aside/footer/script/style,
       dotall non-greedy);
    2. strip residual tags ``<[^>]+>`` -> space (inline markup like
       ``<b>`` keeps its text);
    3. unescape the core entities — AFTER tag stripping, so escaped
       markup in the text (``&lt;script&gt;``) stays text, and with
       ``&amp;`` unescaped last so double-escaped entities
       (``&amp;lt;``) come out as their single-unescaped literal;
    4. collapse whitespace and trim.

    The drop-tag regex anchors the tag name at a boundary
    (``<head>``/``<head attr=...>`` match; ``<header>`` does not), so
    an HTML5 ``<header>`` element can never open a bogus ``head``
    block that swallows body content.

    Returns the extracted-text Column. Losslessness on synthetic markup
    (wrap -> extract == original) is what the t18 oracle pins per doc.
    """
    out = col
    for tag in _HTML_DROP_TAGS:
        out = F.regexp_replace(
            out, f"(?s)<{tag}(\\s[^>]*)?>.*?</{tag}\\s*>", " "
        )
    out = F.regexp_replace(out, "<[^>]+>", " ")
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: Sequence[str] = ("email", "phone", "ssn", "ipv4"),
    out_col: str = "redacted",
) -> DataFrame:
    """Scrub PII spans from text, map-only and JVM-side.

    Each requested kind is replaced with a ``[KIND]`` placeholder via
    chained ``regexp_replace`` (order = ``kinds`` order: e.g. SSNs are
    phone-shaped, so redact "ssn" before "phone" when both are on).
    Adds ``pii_<kind>_count`` per kind (matches found pre-redaction) and
    ``out_col`` with the scrubbed text — counts let a curation pipeline
    route PII-heavy documents to review instead of silently shipping
    them."""
    out = df
    red = F.col(text_col)
    for kind in kinds:
        pat = PII_PATTERNS[kind]
        out = out.withColumn(
            f"pii_{kind}_count",
            F.size(F.regexp_extract_all(text_col, F.lit(pat), F.lit(0))),
        )
        red = F.regexp_replace(red, pat, f"[{kind.upper()}]")
    return out.withColumn(out_col, red)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    ngram: int = 2,
    max_line_frac: float = 0.30,
    max_ngram_frac: float = 0.18,
) -> DataFrame:
    """MassiveText-style repetition quality signals, map-only.

    Integer signals (exact, engine-portable):

    * ``n_lines`` / ``dup_lines`` — lines (newline-split) and how many
      are duplicates of an earlier line;
    * ``n_grams`` / ``top_gram_count`` — ``ngram``-gram count and the
      occurrence count of the single most frequent one;
    * ``repetitious`` — a threshold breach, evaluated by INTEGER
      cross-multiplication (``dup_lines * 100 > n_lines * 30``), so the
      boolean never depends on float rounding;

    plus rounded convenience fractions ``dup_line_frac`` /
    ``top_ngram_frac``. All higher-order functions over the token/line
    arrays — no shuffle, no Python; a 100 TB corpus filters at scan
    speed. (Thresholds default near the Gopher/MassiveText rules for
    2-grams.)"""
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    dup_lines = n_lines - F.size(F.array_distinct(lines))

    grams = shingles(F.col(text_col), ngram)
    n_grams = F.size(grams)
    # occurrence count of the most frequent n-gram: sort the gram array and
    # take the longest run of equal neighbors with one aggregate() fold —
    # O(n log n) per doc. (A distinct x filter() formulation is O(n^2) per
    # doc and measured 40x slower on 1k-token documents.)
    top = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )

    line_pct = int(round(max_line_frac * 100))
    gram_pct = int(round(max_ngram_frac * 100))
    return (
        df.withColumn("n_lines", n_lines.cast("long"))
        .withColumn("dup_lines", dup_lines.cast("long"))
        .withColumn("n_grams", n_grams.cast("long"))
        .withColumn("top_gram_count", top.cast("long"))
        .withColumn(
            "repetitious",
            (F.col("dup_lines") * 100 > F.col("n_lines") * line_pct)
            | (F.col("top_gram_count") * 100 > F.col("n_grams") * gram_pct),
        )
        .withColumn(
            "dup_line_frac",
            F.round(
                F.when(n_lines > 0, dup_lines / n_lines).otherwise(F.lit(0.0)), 6
            ),
        )
        .withColumn(
            "top_ngram_frac",
            F.round(F.when(n_grams > 0, top / n_grams).otherwise(F.lit(0.0)), 6),
        )
    )


def rolling_hash_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    window: int = 4,
    keep: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Winnowing-style fingerprint: hash each ``window``-token shingle,
    keep the ``keep`` smallest hashes as the document sketch (array<bigint>).
    Two docs sharing sketch elements share content regions — the classic
    local fingerprinting scheme, all in higher-order functions.

    ``hash_family``: ``"xxhash64"`` (production default, fastest JVM hash)
    or ``"md5_32"`` (first 8 md5 hex digits as a long — engine-portable,
    reproducible in the DuckDB oracle; same plan shape)."""
    from ..functions.text import shingles

    sh = shingles(F.col(text_col), window)
    if hash_family == "md5_32":
        hashes = F.transform(
            sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        )
    else:
        hashes = F.transform(sh, lambda s: F.xxhash64(s))
    sketch = F.slice(F.array_sort(hashes), 1, keep)
    return df.withColumn("sketch", sketch)


def ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    *,
    lowercase: bool = True,
) -> DataFrame:
    """Token n-gram count table — the KenLM-style statistic that language
    model smoothing, contamination screens and collocation mining all
    start from. Returns (gram, cnt) for whitespace tokens.

    Plan shape: one scan; the shingle list is built per-row with
    higher-order functions (sequence + transform + slice — JVM codegen,
    no UDF), exploded, then counted with map-side partial aggregation,
    so the shuffle carries (gram, partial_count), not raw grams. At
    100 TB the gram key space is Zipf-skewed but partial agg collapses
    the head before the exchange — the same reason word-count scales.
    The n=1 case degenerates to a vocabulary count table."""
    toks = F.split(F.lower(F.col(text_col)) if lowercase else F.col(text_col), " ")
    toks = F.filter(toks, lambda t: F.length(t) > 0)
    # Guard short docs explicitly: Spark's sequence(1, 0) yields the
    # DESCENDING [1, 0], not an empty list, so the start-position list
    # must only be built when at least one full n-gram fits.
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
    )


def _tokens(text_col: str, lowercase: bool = True):
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return F.filter(F.split(t, " "), lambda s: F.length(s) > 0)


def _apply_merge(tok_col, x: str, y: str, joined: str):
    """Greedy left-to-right merge of adjacent (x, y) into ``joined`` — one
    BPE merge pass as a JVM-side array fold (no UDF). Requires x != y:
    with distinct halves, (x,y) adjacencies can never overlap, so the
    fold equals merge-all-marked-pairs (the property the relational
    oracle replay depends on)."""
    return F.aggregate(
        tok_col,
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == x) & (t == y),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(joined))
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 3,
    joiner: str = "+",
) -> list[dict]:
    """The BPE tokenizer-training loop, distributed: ``rounds`` times,
    (1) count adjacent token-pair frequencies corpus-wide (zip-with-tail
    explode, map-side partial agg — x20's pass), (2) pick the most
    frequent pair (driver collects ONE row per round — the same k-scalars
    pattern as k-means centroids / PQ codebooks), (3) merge every
    occurrence with a codegen array fold (map-only, no shuffle).

    Pair selection is restricted to x != y (equal-halves rules have
    run-parity greedy semantics that need a run-length formulation; the
    fold and its relational oracle both rely on non-overlap) and
    tie-broken (count DESC, x, y) so the learned rules are deterministic
    in any engine.

    Returns one dict per round: {round, x, y, cnt, n_merges} where
    n_merges is recomputed from token-count shrinkage — an independent
    cross-check that must equal cnt (non-overlap makes every counted
    adjacency mergeable).

    Scale shape per round: one count shuffle on (x, y) pairs + two
    scalar collects (argmax pair, post-merge token count); the corpus
    rows are never shuffled, and each merge pass pipelines onto the next
    round's scan. At 100 TB this is the canonical way BPE is actually fit
    (Spark/MapReduce pair counting); the merged-token vocabulary stays on
    the driver where the tokenizer artifact lives. Honest bound: the
    per-round driver round-trip means fitting a REAL 30k-rule tokenizer
    this way costs 30k Spark jobs — past a few hundred rounds the
    standard practice is to fit on a corpus SAMPLE (BPE rule quality
    converges long before the full corpus is seen) or batch k rules per
    round; the apply step (``bpe_encode``) handles 30k rules in one
    Arrow pass regardless."""
    from .util import ensure_parallelism

    # Materialize the tokenized corpus once: round 1 otherwise re-runs
    # the parquet scan + tokenize for the pair count, the merge pass AND
    # the before-count (three evaluations); every later round already
    # starts from a checkpoint. ensure_parallelism first — the checkpoint
    # FREEZES partitioning, and a one-row-group parquet scan would pin
    # every round's explode to a single core.
    toks = ensure_parallelism(df.select(_tokens(text_col).alias("tk"))).localCheckpoint(
        eager=True
    )
    results: list[dict] = []
    current = toks
    before: int | None = None  # round r's 'before' == round r-1's 'after'
    for r in range(1, rounds + 1):
        n = F.size(F.col("tk"))
        # guard: slice(tk, 1, n-1) errors on n == 0 (negative length) —
        # zero/one-token docs contribute no adjacencies
        adj = F.when(
            n >= 2,
            F.zip_with(
                F.slice(F.col("tk"), 1, n - 1),
                F.slice(F.col("tk"), 2, n - 1),
                lambda a, b: F.struct(a.alias("x"), b.alias("y")),
            ),
        ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))
        pairs = current.select(F.explode(adj).alias("p")).select("p.x", "p.y")
        top = (
            pairs.filter(F.col("x") != F.col("y"))
            .groupBy("x", "y")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "x", "y")
            .limit(1)
            .collect()
        )
        if not top:
            break
        x, y, cnt = top[0].x, top[0].y, top[0].cnt
        joined = x + joiner + y
        merged = current.select(_apply_merge(F.col("tk"), x, y, joined).alias("tk"))
        # The post-merge token count rides the checkpoint materialization
        # as an observed metric (r12 optimization — the store's
        # _observed_count pattern): previously a separate agg job
        # re-scanned the checkpointed tokens every round.
        from pyspark.sql import Observation

        obs = Observation()
        merged = merged.observe(obs, F.sum(F.size("tk")).alias("after"))
        # Lineage grows one fold per round; checkpoint like the other
        # iterative operators (pagerank / connected components) so round
        # k's pair count does not replay rounds 1..k-1's folds.
        merged = merged.localCheckpoint(eager=True)
        if before is None:
            before = current.agg(F.sum(F.size("tk"))).collect()[0][0]
        after = int(obs.get["after"])
        results.append(
            {"round": r, "x": x, "y": y, "cnt": cnt, "n_merges": before - after}
        )
        current = merged
        before = after
    return results


BPE_EXPR_RULE_LIMIT = 0
"""Above this many merge rules ``bpe_encode`` uses the Arrow-batched
``mapInPandas`` pass that applies the whole broadcast rule table per
batch; at or below it, chained codegen array folds (one expression per
rule). Default 0 — Arrow always — because the measurement beat the
intuition: the codegen fold copies its accumulator array per element
(quadratic per document), so even at THREE rules the Arrow pass is
~3.5x faster at sf0.1 (0.7 s vs 2.6 s warm), and the fold's plan size
additionally grows linearly with the rule count (untenable at a real
tokenizer's 10k-30k rules). The expression path is kept for callers
that must stay UDF-free (pass ``expr_rule_limit``); both paths
implement the identical greedy left-to-right merge and
``tests/test_wave2_properties.py`` pins them equal."""


def bpe_encode(
    df: DataFrame,
    rules: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    joiner: str = "+",
    expr_rule_limit: int = BPE_EXPR_RULE_LIMIT,
) -> DataFrame:
    """Apply a trained BPE merge list to every document — the tokenizer
    APPLY step (``bpe_train_merges`` is the fit step; reference has no
    tokenizer surface, §2.4 extension). Rules are applied in training
    order, each greedy left-to-right.

    Two physical strategies, same semantics, both map-only (the corpus is
    never shuffled and encode throughput stays scan-bound):

    * ``len(rules) <= expr_rule_limit``: one ``_apply_merge`` codegen
      array fold per rule — zero Python, the whole encode pipelines into
      a single codegen stage. Expression/codegen size grows linearly with
      the rule count, so this path is capped.
    * beyond the cap: one Arrow-batched ``mapInPandas`` pass; the rule
      table ships with the serialized closure (equivalent to a broadcast
      — a 30k-rule table is ~1 MB) and every rule is applied inside one
      Python pass per batch. This is the real 10k-30k-rule recipe: plan
      size is O(1) in the rule count.

    Returns (id_col, tk) with the merged token array.
    """
    for x, y in rules:
        if x == y:
            raise ValueError("equal-halves merge rules are not supported")
    if len(rules) <= expr_rule_limit:
        out = df.select(id_col, _tokens(text_col).alias("tk"))
        for x, y in rules:
            out = out.select(
                id_col, _apply_merge(F.col("tk"), x, y, x + joiner + y).alias("tk")
            )
        return out
    return _bpe_encode_arrow(df, rules, text_col, id_col, joiner)


def _bpe_encode_arrow(
    df: DataFrame,
    rules: Sequence[tuple[str, str]],
    text_col: str,
    id_col: str,
    joiner: str,
) -> DataFrame:
    """Arrow-batched BPE encode: the whole rule table in one mapInPandas
    pass. Tokenization (lower, split on space, drop empties) and the
    greedy left-to-right merge replicate ``_tokens`` + ``_apply_merge``
    exactly — property-tested equal to the expression path."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    rule_list = [(x, y, x + joiner + y) for x, y in rules]
    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("tk", ArrayType(StringType()), False),
        ]
    )
    from .util import ensure_parallelism

    # one-row-group scans arrive as a single partition; the Python merge
    # loop is the cost here, so spread the batches across cores
    src = ensure_parallelism(df.select(id_col, F.col(text_col).alias("__text__")))

    def encode(batches):
        for pdf in batches:
            merged = []
            for text in pdf["__text__"]:
                toks = [t for t in (text or "").lower().split(" ") if t]
                tokset = set(toks)
                for x, y, j in rule_list:
                    if x not in tokset or y not in tokset:
                        continue
                    out: list[str] = []
                    for t in toks:
                        if out and out[-1] == x and t == y:
                            out[-1] = j
                        else:
                            out.append(t)
                    toks = out
                    tokset = set(toks)
                merged.append(toks)
            yield pd.DataFrame({id_col: pdf[id_col], "tk": merged})

    return src.mapInPandas(encode, out_schema)


def dup_span_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Exact duplicated-span coverage per document: an ``n``-token shingle
    is duplicated when it appears in more than one doc; each doc reports
    (n_spans, n_dup_spans, dup_rate_e6). Docs shorter than ``n`` tokens
    keep a 0-span row (coverage reports on every doc). The span-level
    complement of doc-level dedup — see suite q_t11 for the scale notes
    (shuffle carries 16-byte shingle md5s, never strings)."""
    from .util import ensure_parallelism

    df = ensure_parallelism(df)
    toks = F.split(F.col(text_col), " ")
    sz = F.size(toks)
    sh = (
        df.select(
            id_col,
            F.explode(
                F.when(
                    sz >= n,
                    F.transform(
                        F.sequence(F.lit(1), sz - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("__s__"),
        )
        .select(id_col, F.md5("__s__").alias("__h__"))
        .distinct()
    )
    dup = (
        sh.groupBy("__h__")
        .agg(F.count("*").alias("__nd__"))
        .filter(F.col("__nd__") > 1)
        .select("__h__")
    )
    totals = sh.groupBy(id_col).agg(F.count("*").alias("n_spans"))
    dups = (
        sh.join(dup, "__h__", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_spans"))
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(dups, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.expr(
                "CASE WHEN coalesce(n_spans, 0) = 0 THEN 0L "
                "ELSE coalesce(n_dup_spans, 0) * 1000000L div n_spans END"
            ).alias("dup_rate_e6"),
        )
    )


def bigram_lm_doc_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document fluency score under an add-one-smoothed bigram LM
    trained on the corpus itself — the perplexity-style filter a
    pretraining pipeline runs to drop disfluent/boilerplate documents
    (KenLM-filter shape), kept integer-exact so every engine computes the
    bit-identical answer: instead of summing float log-probs, each bigram
    instance contributes the scaled conditional probability

        p_e6 = (c_xy + 1) * 1e6 DIV (c_x + V)

    (c_xy bigram count, c_x unigram count of the left token, V vocabulary
    size), and a document reports the sum and the per-bigram mean. Both
    are monotone quality signals like mean log-prob is (they order
    documents by how probable their transitions are) without a float
    aggregation anywhere.

    Plan: ONE tokenize feeds three count tables (unigram, bigram, V) via
    map-side partial agg; the per-doc bigram stream joins the bigram
    count table on the gram (shuffle join — at 100 TB the bigram table is
    corpus-sized, so it cannot broadcast; a production filter would cap
    it to the head table behind a smoothed floor, which this operator's
    smoothing already provides) and the unigram table on the left token.
    The per-doc rollup is a partial-agg sum keyed by the id. Returns
    (id, n_bigrams, lm_sum_e6, lm_avg_e6); short docs (< 2 tokens) report
    0 bigrams with 0 scores.
    """
    from .util import ensure_parallelism

    df = ensure_parallelism(df)
    toks = _tokens(text_col)
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_bi = df.select(F.col(id_col), F.explode(grams).alias("gram"))
    # Collapse per-doc multiplicities BEFORE the count-table joins: the
    # join then carries one row per distinct (doc, gram) instead of one
    # per bigram instance (Zipf repeats collapse map-side), and the
    # corpus-wide bigram table derives from the same aggregate.
    doc_bi_m = doc_bi.groupBy(id_col, "gram").agg(F.count("*").alias("m"))

    bi = doc_bi_m.groupBy("gram").agg(F.sum("m").cast("long").alias("c_xy"))
    uni = ngram_counts(df, text_col, n=1).select(
        F.col("gram").alias("x"), F.col("cnt").alias("c_x")
    )
    vocab = uni.agg(F.count("*").alias("v_size"))

    scored = (
        doc_bi_m.join(bi, "gram")
        .withColumn("x", F.split("gram", " ").getItem(0))
        .join(uni, "x")
        .crossJoin(F.broadcast(vocab))
        .withColumn("p_e6", F.expr("(c_xy + 1L) * 1000000L div (c_x + v_size)"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("m").cast("long").alias("n_bigrams"),
        F.sum(F.col("m") * F.col("p_e6")).cast("long").alias("lm_sum_e6"),
    )
    return (
        df.select(id_col)
        .distinct()
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("lm_sum_e6", F.lit(0)).cast("long").alias("lm_sum_e6"),
            F.expr(
                "CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0L "
                "ELSE lm_sum_e6 div n_bigrams END"
            ).alias("lm_avg_e6"),
        )
    )


def token_runs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """UDTF-style table function via ``mapInArrow``: expand each document
    into one row per RUN of consecutive equal tokens — (id, run_idx,
    token, run_start, run_len). Run detection is inherently sequential
    per document (each output row depends on its predecessor), which is
    exactly the shape the built-in generators (explode/posexplode, t6)
    cannot express and a lateral-view UDTF exists for. The kernel is an
    Arrow-batched generator: each RecordBatch in, a variable-row batch
    out — never row-at-a-time Python, never a collect. Map-only: no
    shuffle; parallelism is pinned ahead of the kernel because a
    one-file scan would otherwise feed a single task
    (operators/util.ensure_parallelism).

    Tokenization contract (shared with the DuckDB oracle): literal
    single-space split, empties kept — ``''.split(' ') == ['']`` matches
    ``string_split(text, ' ')``; NULL text expands to zero rows, like
    ``unnest(NULL)``.
    """
    import pyarrow as pa

    from .util import ensure_parallelism

    out_schema = (
        f"{id_col} long, run_idx long, token string, run_start long, run_len long"
    )

    def kernel(batches):
        for batch in batches:
            ids = batch.column(id_col).to_pylist()
            texts = batch.column(text_col).to_pylist()
            o_id, o_ri, o_tok, o_st, o_len = [], [], [], [], []
            for did, text in zip(ids, texts):
                if text is None:
                    continue
                toks = text.split(" ")
                ri = 0
                i = 0
                n = len(toks)
                while i < n:
                    j = i + 1
                    while j < n and toks[j] == toks[i]:
                        j += 1
                    o_id.append(did)
                    o_ri.append(ri)
                    o_tok.append(toks[i])
                    o_st.append(i)
                    o_len.append(j - i)
                    ri += 1
                    i = j
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, pa.int64()),
                    pa.array(o_ri, pa.int64()),
                    pa.array(o_tok, pa.string()),
                    pa.array(o_st, pa.int64()),
                    pa.array(o_len, pa.int64()),
                ],
                names=[id_col, "run_idx", "token", "run_start", "run_len"],
            )

    src = ensure_parallelism(df.select(id_col, text_col))
    return src.mapInArrow(kernel, out_schema)


def normalize_nfc(
    df: DataFrame, text_col: str = "text", out_col: str = "text_nfc"
) -> DataFrame:
    """Unicode NFC normalization as an Arrow-batched scalar kernel
    (``pandas_udf`` — vectorized transfer, not row-at-a-time): compose
    decomposed sequences (e + U+0301 -> é) so byte-level dedup, shingle
    hashing and tokenizers see one canonical form — the first step of
    any multilingual curation pipeline, run before x3/x6/t-family
    operators so visually-identical strings cannot dodge exact-hash
    dedup. Spark has no built-in normalizer, so this is the documented
    slow path — map-only, composes without shuffles; DuckDB's
    ``nfc_normalize`` is the oracle twin.
    """
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc(s):
        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    # Real class objects, not strings: the module-level `from __future__
    # import annotations` would otherwise stringify inline hints and break
    # pandas_udf's signature inference.
    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    nfc = pandas_udf(_nfc, "string")

    return df.withColumn(out_col, nfc(F.col(text_col)))
