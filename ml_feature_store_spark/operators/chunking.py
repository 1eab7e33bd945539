"""Document chunking for RAG / context-window pipelines.

Splits each document into overlapping token-window chunks — the standard
preprocessing step between a cleaned corpus and an embedding index. The
whole operator is map-only (sequence + transform + explode): no shuffle,
no Python, chunk count per task bounded by input split size, so it scales
linearly to any corpus size. Complements ``suite.q_pack1`` (packing fills
fixed bins ACROSS documents; chunking windows WITHIN a document).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import bind, tokens


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
    min_tail_tokens: int = 1,
) -> DataFrame:
    """Explode each document into overlapping chunks of ``chunk_tokens``
    tokens with ``overlap_tokens`` shared between neighbors.

    Chunk starts are 0, stride, 2*stride, ... (stride = chunk - overlap);
    a trailing window shorter than ``min_tail_tokens`` is dropped (it is
    fully contained in the previous chunk's overlap). Output adds:

    * ``chunk_idx``   — 0-based window index within the document
    * ``chunk_text``  — the window's tokens re-joined with spaces
    * ``chunk_n_tokens`` — token count of the window (== chunk_tokens
      except the final, possibly-shorter window)
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError(
            f"overlap_tokens ({overlap_tokens}) must be < chunk_tokens ({chunk_tokens})"
        )
    stride = chunk_tokens - overlap_tokens

    def chunks(t: Column) -> Column:
        n = F.size(t)
        # window starts: 0, stride, ... <= n-1; a document always yields at
        # least one chunk (possibly shorter than chunk_tokens)
        n_chunks = F.greatest(
            F.ceil((n - F.lit(overlap_tokens)).cast("double") / F.lit(stride)).cast("int"),
            F.lit(1),
        )
        starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
        return F.transform(
            starts,
            lambda s: F.struct(
                (s / stride).cast("int").alias("chunk_idx"),
                F.slice(t, s + 1, chunk_tokens).alias("toks"),
            ),
        )

    # the text is split once per row, not once per chunk
    windows = bind(tokens(F.col(text_col)), chunks)
    out = df.withColumn("__w__", F.explode(windows))
    return (
        out.withColumn("chunk_idx", F.col("__w__.chunk_idx"))
        .withColumn("chunk_text", F.concat_ws(" ", F.col("__w__.toks")))
        .withColumn("chunk_n_tokens", F.size(F.col("__w__.toks")))
        .drop("__w__")
        .filter(F.col("chunk_n_tokens") >= F.lit(min_tail_tokens))
    )
