"""Shared text primitives: tokenization and shingling.

Everything is built-in Catalyst expressions over string/array columns
(split / transform / filter / aggregate) -- whole-stage-codegen'd,
no Python UDFs, so these scale linearly with a 100 TB documents table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens, empty strings removed."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != F.lit(""))


def shingles_of(toks: Column, k: int = 3) -> Column:
    """Distinct k-token shingles over an ALREADY-PROJECTED token array
    column (transform over positions + slice + array_join -- one pass,
    no explode).

    ``toks`` must be a plain column reference: Catalyst does not
    common-subexpression-eliminate through higher-order-function
    lambdas, so an inline tokenizer expression here is re-evaluated
    for EVERY shingle position -- O(n^2) per document, measured 20x
    slower at 1k-token docs (PLANS.md round-3). Stage
    ``tokens(text).alias("_toks")`` in a select first.
    """
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Convenience form over raw text. The inlined tokenizer makes
    this O(n^2) per document (see ``shingles_of``) -- fine for tests
    and short strings; production operators stage tokens and call
    ``shingles_of``."""
    return shingles_of(tokens(text), k)


def ngrams_of(toks: Column, k: int = 2) -> Column:
    """ALL k-token n-grams in order (duplicates kept -- unlike
    ``shingles``); the primitive repetition statistics need, since
    repetition is exactly what ``array_distinct`` would erase.
    Same staging contract as ``shingles_of``: pass a projected token
    array column, never an inline tokenizer expression."""
    n = F.size(toks)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
