"""Snapshot diff / change-data-capture classification.

The reference pipeline re-builds its curated outputs from full
snapshots each monthly close (``src/finance_etl/pipeline.py`` runs
end-to-end on the month's full extract). At 100 TB a full rebuild is
the wrong shape: the scalable pattern is *snapshot reconciliation* --
diff yesterday's snapshot against today's on the business key,
classify each key as insert / delete / update / unchanged, and feed
only the changed rows downstream (e.g. into the SCD2 merge in
``operators/scd.py``).

Scale design: ONE shuffle, on the business key, via a single
full-outer join. No window, no collect; both sides stream through a
sort-merge (or AQE-chosen) join. Comparison columns ride in one
struct per side so the equality check is a single expression.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_COL = "change_type"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    *,
    include_unchanged: bool = False,
) -> DataFrame:
    """Full-outer diff of two snapshots on ``keys``.

    Returns one row per key present in either snapshot with
    ``change_type`` in {'insert','delete','update','unchanged'} plus
    ``old_<c>`` / ``new_<c>`` for every compare column. NULL-safe:
    a NULL -> value transition is an update (eqNullSafe comparison).
    """
    o = old.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*[F.col(c).alias(c) for c in compare_cols]).alias("_ov"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*[F.col(c).alias(c) for c in compare_cols]).alias("_nv"),
        F.lit(True).alias("_in_new"),
    )
    joined = o.join(n, on=list(keys), how="full_outer")
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(F.col("_ov").eqNullSafe(F.col("_nv")), F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )
    out = joined.select(
        *keys,
        change.alias(CHANGE_COL),
        *[F.col(f"_ov.{c}").alias(f"old_{c}") for c in compare_cols],
        *[F.col(f"_nv.{c}").alias(f"new_{c}") for c in compare_cols],
    )
    if not include_unchanged:
        out = out.filter(F.col(CHANGE_COL) != "unchanged")
    return out
