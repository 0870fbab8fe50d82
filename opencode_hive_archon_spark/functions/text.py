"""Text scalar expressions: tokenization + lexical-overlap rescoring.

Semantics are taken from the reference rerank operator
(/root/reference/backend/src/second_brain/services/voyage.py:67-74):

    query_terms   = query.lower().split()          # whitespace split
    content_terms = set(content.lower().split())
    overlap       = |{t in query_terms : t in content_terms}|
    score         = min(1.0, confidence + 0.05 * overlap)

Python ``str.split()`` splits on ANY whitespace run and drops empties, so we
normalize whitespace first (``regexp_replace(trim(x), '\\s+', ' ')``) before
splitting on a single space — this makes Spark, DuckDB, and Python agree on
token identity (SURVEY.md §7 risk register, "tokenization parity").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_tokens(col: Column | str) -> Column:
    """Whitespace-normalized, lowercased, distinct token array."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(
        F.split(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "), " ")
    )


def token_overlap(query: str | Column, tokens: Column) -> Column:
    """Number of distinct query terms in ``tokens``, an array already built
    by :func:`norm_tokens` (so a corpus tokenized once is not tokenized
    again per query). ``query`` may be a Python string (plan-time constant,
    folded by the optimizer) or a Column."""
    q = F.lit(query) if isinstance(query, str) else query
    return F.size(F.array_intersect(norm_tokens(q), tokens))


def overlap_count(query: str | Column, content: Column | str) -> Column:
    """Number of distinct query terms that appear in the content's token set
    (reference voyage.py:70-73: distinct-term membership count)."""
    return token_overlap(query, norm_tokens(content))


def overlap_score(query: str | Column, tokens: Column, base: Column) -> Column:
    """Reference rerank formula: ``min(1.0, base + 0.05 * overlap)``
    (voyage.py:74), over a :func:`norm_tokens` array."""
    return F.least(F.lit(1.0), base + F.lit(0.05) * token_overlap(query, tokens))
