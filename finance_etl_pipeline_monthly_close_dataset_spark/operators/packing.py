"""Sequence packing: assign documents to fixed-token-budget packs for
LLM training batches.

Semantics are GPT-style concat-then-chunk: within a bucket, documents
are concatenated in a deterministic order and the token stream is cut
every ``budget_tokens``; a document's pack is the chunk where it
STARTS (long documents simply straddle into the next chunk, exactly
like training-time packing where the tokenizer stream is cut at the
context length regardless of document boundaries).

Scale shape: documents are hash-bucketed (portable md5 bucket, same
scheme as the corpus train/val split) and the running token count is a
window cumsum PARTITIONED by bucket -- thousands of independent
buckets, no global sort, no single-partition window. At 100 TB the
shuffle is one hash partitioning of (id, n_tokens)-sized rows, never
the text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import tokens


def portable_bucket(col: Column, n_buckets: int) -> Column:
    """Deterministic, engine-portable hash bucket: first 4 hex digits
    of md5 mod ``n_buckets`` (same construction as the corpus split --
    any engine with md5 reproduces it)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("int")
        % n_buckets
    )


def pack_documents(
    df: DataFrame,
    budget_tokens: int = 2048,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bucket, n_tokens, pack_id): concat-then-chunk packing.

    ``pack_id = floor(tokens_before_this_doc / budget)`` within the
    bucket's deterministic (id-ordered) document stream -- pure window
    arithmetic, reproducible across engines and partitionings.
    """
    staged = df.select(
        F.col(id_col),
        portable_bucket(F.col(id_col), n_buckets).alias("bucket"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum("n_tokens").over(w)
    return staged.select(
        id_col,
        "bucket",
        "n_tokens",
        F.floor((running - F.col("n_tokens")) / budget_tokens)
        .cast("int")
        .alias("pack_id"),
    )
