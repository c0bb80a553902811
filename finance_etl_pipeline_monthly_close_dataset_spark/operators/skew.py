"""Skew-mitigation join utilities for hot keys.

AQE's skew-join splitting (on by default in ``session.get_spark``)
handles most skew at runtime by splitting oversized partitions. These
helpers cover the cases AQE cannot fix:

* ``salted_join`` -- explicit key salting for a *shuffled* join where
  one side has pathological hot keys (e.g. a null-heavy or
  power-law-distributed foreign key). The skewed side gets a random
  salt in [0, n); the other side is replicated n times with every
  salt value, so the composite key (key, salt) spreads each hot key
  over n reducers. Replication multiplies the small side's volume by
  n -- choose n ~ (hot-key rows / target partition rows), keep the
  replicated side the smaller one.

* ``broadcast_hot_keys_join`` -- hybrid strategy: route rows with hot
  keys (found by a cheap count) through a broadcast join and the long
  tail through a normal shuffle join, then union. The shuffle never
  sees the hot keys at all, and only the hot subset of the build side
  is broadcast. This is the classic plan for joins where the build
  side is too big to broadcast whole but its hot slice is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``on`` with the skewed side salted ``n_salts`` ways.

    ``other`` is replicated once per salt (explode of a literal
    sequence -- no Python loop, no driver data). Output columns =
    skewed's columns + other's non-key columns, like a plain
    ``join(on=...)``.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti", "cross"):
        # right/full outer would emit one row per salt for unmatched
        # replicated rows -- reverse the sides instead
        raise ValueError(f"salted_join supports left-oriented joins only, got {how!r}")
    salted = skewed.withColumn(SALT_COL, (F.rand(seed=42) * n_salts).cast("int"))
    replicated = other.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted.join(replicated, on=[on, SALT_COL], how=how)
    return out.drop(SALT_COL)


# routing is only worth it for a HANDFUL of pathological keys; past
# this many "hot" keys the data is not skewed, it is merely dense, and
# a giant literal isin would bloat codegen on every routed filter
# (why the close caps its chart of accounts at COA_MAX_ACCOUNTS, r13)
MAX_HOT_KEYS = 1_000


def broadcast_hot_keys_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    hot_key_threshold: int = 1_000_000,
    how: str = "inner",
    max_hot_keys: int = MAX_HOT_KEYS,
) -> DataFrame:
    """Split-route join: hot keys broadcast, tail shuffles.

    ``hot_key_threshold`` is the per-key row count in ``fact`` above
    which a key counts as hot. The hot-key list is collected to the
    driver -- it is by construction tiny (#keys with >threshold rows
    <= total_rows / threshold), and that assumption is ENFORCED: at
    most ``max_hot_keys`` + 1 keys are collected, and when the "hot"
    set exceeds the cap the join falls back to the plain shuffle form.
    An over-cap hot set means the key distribution is dense rather
    than skewed -- routing cannot help, and the three ``isin`` filters
    it would build from tens of thousands of literals were measured at
    88 s vs ~2 s for the plain join on uniform TPC-H keys at sf0.1
    (PLANS.md r13).  Result-identical either way (routing is a
    partitioning decision, not a semantic one).
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti", "cross"):
        # right/full outer would duplicate unmatched hot-key dim rows
        # (they appear in both the hot join and the tail join)
        raise ValueError(
            f"broadcast_hot_keys_join supports left-oriented joins only, got {how!r}"
        )
    counts = fact.groupBy(on).count().filter(F.col("count") > hot_key_threshold)
    hot_keys = [r[0] for r in counts.select(on).limit(max_hot_keys + 1).collect()]
    if not hot_keys or len(hot_keys) > max_hot_keys:
        return fact.join(dim, on=on, how=how)

    fact_hot = fact.filter(F.col(on).isin(hot_keys))
    fact_tail = fact.filter(~F.col(on).isin(hot_keys) | F.col(on).isNull())
    dim_hot = dim.filter(F.col(on).isin(hot_keys))

    hot = fact_hot.join(F.broadcast(dim_hot), on=on, how=how)
    tail = fact_tail.join(dim, on=on, how=how)
    return hot.unionByName(tail)
