"""Text expression helpers (JVM-side, codegen-friendly).

Used by operators/text.py and operators/dedup.py. Whitespace tokenization
matches the synthetic corpus (space-separated tokens); swap the pattern for
a BPE-ish regex on real corpora.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = " "


def tokens(text: Column) -> Column:
    return F.split(text, TOKEN_PATTERN)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row; ``body``
    returns an array.

    A lambda that refers to an expression (say ``split(text)``) makes
    Spark evaluate that expression again at every element the lambda
    visits. Transforming a one-element array binds the value to a lambda
    variable instead, so ``body`` sees the computed value. ``flatten``
    reads the one result back and, unlike ``element_at``, keeps the
    body's nullability.
    """
    return F.flatten(F.transform(F.array(value), body))


def shingles(text: Column, k: int = 3) -> Column:
    """k-token shingles as strings: sliding windows over the token array.

    Pure higher-order-function implementation: for token array t of size n,
    produce n-k+1 joined substrings (one joined string of all tokens when
    n < k; ``[""]`` for a null text). The text is split once per row,
    so the cost is linear in n. Used as the MinHash input domain.
    """

    def windows(t: Column) -> Column:
        n = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(
            n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)))
        ).otherwise(F.array(F.concat_ws(" ", t)))

    return bind(tokens(text), windows)


def stopword_ratio(text: Column, stopwords: Sequence[str]) -> Column:
    t = tokens(text)
    hits = F.size(F.filter(t, lambda x: x.isin(list(stopwords))))
    return hits / F.size(t)
