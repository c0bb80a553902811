"""Mergeable sketch aggregates (HLL) for incremental 100 TB profiling.

An exact COUNT(DISTINCT) over 100 TB re-reads everything each close.
The scalable pattern is sketch partials: aggregate each increment
(day / month / partition) once into a tiny binary HLL sketch, persist
the sketches, and answer any coarser rollup by UNIONING sketches --
no raw-data re-scan, associative and re-orderable, so late-arriving
increments just union in. Spark 4 ships the Apache DataSketches HLL
family as built-ins (hll_sketch_agg / hll_union_agg /
hll_sketch_estimate); these wrappers pin the engine's usage shape.

Estimates are deterministic for fixed input but engine-specific, so
contract coverage is the exact side (`distinct_counts`) plus the
rows-only `approx_distinct_quantiles`; the merge==direct invariant is
unit-tested instead (`tests/test_scale_ops.py`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_checksums(
    df: DataFrame,
    row_string: Column,
    bucket: Column,
    n_buckets: int = 16,
) -> DataFrame:
    """Order-independent per-bucket table fingerprints for cross-
    cluster reconciliation: XOR of an md5-derived 60-bit row hash plus
    a row count, per hash bucket.

    At 100 TB you verify a replicated / migrated table by comparing
    ``n_buckets`` (checksum, count) pairs instead of moving data; a
    mismatched bucket narrows the re-scan to 1/n_buckets of the table.
    XOR is associative, commutative and overflow-free, so partial
    checksums from any partitioning merge to the same value -- and the
    md5-via-string hash is portable (DuckDB:
    ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`` equals Spark's
    ``conv(substring(md5(s), 1, 15), 16, 10)``).
    """
    h = F.conv(F.substring(F.md5(row_string), 1, 15), 16, 10).cast("bigint")
    return (
        df.select((bucket % n_buckets).alias("bucket"), h.alias("_h"))
        .groupBy("bucket")
        .agg(
            F.expr("bit_xor(_h)").alias("checksum"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def hll_partials(
    df: DataFrame,
    increment_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch of ``value_col`` per increment (e.g. per month):
    the persistable partial. lg_k=12 -> ~2 KB per sketch, ~1.6% rse."""
    return df.groupBy(*increment_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll_sketch")
    )


def hll_rollup(
    partials: DataFrame,
    rollup_cols: list[str],
    estimate_col: str = "n_distinct_est",
) -> DataFrame:
    """Merge increment sketches up to a coarser grain and estimate.
    Input is sketches (KBs per group), not raw rows -- the shuffle is
    metadata-sized no matter how large the underlying table was."""
    grouped = (
        partials.groupBy(*rollup_cols)
        if rollup_cols
        else partials.groupBy()
    )
    return grouped.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias(estimate_col)
    )


# -- mergeable quantile-histogram sketch ------------------------------------
#
# The HLL family above answers DISTINCT rollups without raw re-scans;
# this answers QUANTILE rollups the same way. A fixed [lo, hi)
# equi-width histogram is a fully mergeable state (vector add), error
# is bounded by ONE bucket width by construction, and -- unlike
# percentile_approx's engine-specific KLL/GK internals -- every count
# and the final estimate are exact integer/float arithmetic any
# engine reproduces bit-for-bit, so the sketch is oracle-checkable
# (`orders_quantile_sketch`), not just plausible.


def quantile_histogram_state(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    lo: float,
    hi: float,
    n_buckets: int = 256,
) -> DataFrame:
    """Per-key mergeable quantile state: dense ``array<long>`` bucket
    counts over ``n_buckets`` equi-width bins of [lo, hi) (values
    outside clamp to the edge bins -- widen [lo, hi) if the tail
    matters), plus row count and exact min/max. One partial-aggregated
    shuffle of (keys x touched-buckets) rows; the densify is the same
    map_from_entries + transform(sequence) shape as
    ``bloom.bloom_build``."""
    w = (hi - lo) / n_buckets
    b = F.least(
        F.greatest(F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(n_buckets - 1),
    ).cast("int")
    per_bucket = (
        df.select(*keys, b.alias("_b"), F.col(value_col).alias("_v"))
        .groupBy(*keys, "_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("_v").alias("_mn"),
            F.max("_v").alias("_mx"),
        )
    )
    return (
        per_bucket.groupBy(*keys)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("_b", "_n"))).alias("_bm"),
            F.sum("_n").alias("n_rows"),
            F.min("_mn").alias("min_value"),
            F.max("_mx").alias("max_value"),
        )
        .select(
            *keys,
            F.transform(
                F.sequence(F.lit(0), F.lit(n_buckets - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_bm"), i.cast("int")), F.lit(0).cast("long")
                ),
            ).alias("bucket_counts"),
            "n_rows",
            "min_value",
            "max_value",
        )
    )


def merge_quantile_states(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """merge(state(A), state(B)) == state(A UNION B) exactly: bucket
    vectors add element-wise, counts add, min/max fold. Full outer on
    the keys so a key present in only one increment passes through."""
    bb = b.select(
        *keys,
        F.col("bucket_counts").alias("_bc2"),
        F.col("n_rows").alias("_n2"),
        F.col("min_value").alias("_mn2"),
        F.col("max_value").alias("_mx2"),
    )
    joined = a.join(bb, on=keys, how="full_outer")
    zero = F.transform(
        F.coalesce(F.col("bucket_counts"), F.col("_bc2")), lambda _: F.lit(0).cast("long")
    )
    return joined.select(
        *keys,
        F.zip_with(
            F.coalesce(F.col("bucket_counts"), zero),
            F.coalesce(F.col("_bc2"), zero),
            lambda x, y: x + y,
        ).alias("bucket_counts"),
        (F.coalesce(F.col("n_rows"), F.lit(0)) + F.coalesce(F.col("_n2"), F.lit(0))).alias(
            "n_rows"
        ),
        F.least(
            F.coalesce(F.col("min_value"), F.col("_mn2")),
            F.coalesce(F.col("_mn2"), F.col("min_value")),
        ).alias("min_value"),
        F.greatest(
            F.coalesce(F.col("max_value"), F.col("_mx2")),
            F.coalesce(F.col("_mx2"), F.col("max_value")),
        ).alias("max_value"),
    )


def quantile_rollup(partials: DataFrame, rollup_cols: list[str]) -> DataFrame:
    """Merge MANY increment states up to a coarser grain in ONE
    aggregation -- the quantile counterpart of ``hll_rollup`` (the
    pairwise ``merge_quantile_states`` full-outer covers two-way
    incremental maintenance; this covers "roll 12 monthly states to a
    year" without chaining 11 joins).  Bucket vectors add element-wise
    (``collect_list`` order is non-deterministic, but long addition is
    exact and commutative, so the merged vector is deterministic),
    counts add, min/max fold.  Input is states (KBs per increment),
    never raw rows, so the shuffle carries rollup_groups x increments
    arrays -- metadata-sized regardless of the underlying table; for
    pathological increment counts per group, posexplode + groupBy(pos)
    is the fallback shape (same trade as ``lloyd_kmeans``'s update).

    All increments must share one histogram config (same [lo, hi) and
    n_buckets) -- same contract as merging any sketch family."""
    lists = F.collect_list("bucket_counts")
    zero = F.transform(F.element_at(lists, 1), lambda _: F.lit(0).cast("long"))
    merged = F.aggregate(
        lists, zero, lambda acc, v: F.zip_with(acc, v, lambda x, y: x + y)
    )
    grouped = (
        partials.groupBy(*rollup_cols) if rollup_cols else partials.groupBy()
    )
    return grouped.agg(
        merged.alias("bucket_counts"),
        F.sum("n_rows").alias("n_rows"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


# -- mergeable count-min sketch ---------------------------------------------
#
# Third member of the mergeable-summaries family: HLL answers DISTINCT
# rollups, the histogram answers QUANTILE rollups, this answers
# per-key FREQUENCY rollups (heavy-hitter estimation) from bounded
# state.  A count-min sketch is a depth x width counter matrix; each
# row hashes the key into one of ``width`` counters, an increment
# bumps one counter per row, and the estimate is the MIN over the
# depth counters -- never an undercount, overcounts only via hash
# collisions (<= eN/width with prob 1-exp(-depth)).  The state here is
# SPARSE (cell, count) rows, <= depth*width per increment regardless
# of data size: merge is a groupBy-sum on the cell id (associative and
# exact, like the histogram's vector add, without materializing a
# depth*width array -- Catalyst's element_at on maps is a linear scan,
# so the dense-array form costs O(d^2 w^2) per increment to densify at
# width=1024, measured 10x the whole query), and estimates come from
# joining a bounded probe set against the broadcast state.  Because
# the hash is the portable md5-prefix used by ``bucket_checksums``,
# DuckDB rebuilds the identical counter cells and reproduces every
# estimate bit-for-bit -- the sketch is oracle-checkable, not just
# plausible.


def _cms_bucket(key: Column, row: int, width: int) -> Column:
    """Counter index for hash row ``row``: the 60-bit md5-prefix hash
    of ``"<row>:<key>"`` mod width.  Portable: DuckDB's
    ``CAST('0x' || substr(md5(i || ':' || key), 1, 15) AS BIGINT)``
    computes the identical value (same identity ``bucket_checksums``
    documents), which is what makes the oracle byte-blind."""
    s = F.concat(F.lit(str(row)), F.lit(":"), key.cast("string"))
    h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
    return (h % width).cast("int")


def _cms_cell(key: Column, depth: int, width: int) -> Column:
    """Row-major cell index ``i * width + bucket_i(key)`` for the hash
    row in column ``_i``: a when-chain over the ``depth`` literals
    (the hash salt is part of the md5 input, so each row needs its own
    expression; depth is small by construction and the whole chain
    stays codegen'd)."""
    bucket = F.lit(None).cast("int")
    for i in range(depth):
        bucket = F.when(F.col("_i") == i, _cms_bucket(key, i, width)).otherwise(
            bucket
        )
    return F.col("_i") * width + bucket


def cms_state(
    df: DataFrame,
    key_col: str,
    increment_cols: list[str],
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Per-increment count-min state as sparse (cms_cell, cms_n) rows,
    <= depth * width per increment no matter how large the input.
    Counts aggregate per (increment, key) FIRST -- the cheap
    count-partial path, collapsed map-side -- so the md5 cell hash
    runs once per distinct key per increment, not once per raw row
    (hashing after the pre-agg cut this query's state build ~7x; the
    ratio grows with key repetition).  The key-count rows then explode
    ``depth`` ways and re-aggregate on (increment, cell) -- a
    metadata-sized second shuffle bounded by increments x keys x
    depth in, increments x touched-cells out."""
    per_key = df.groupBy(
        *increment_cols, F.col(key_col).alias("_k")
    ).agg(F.count(F.lit(1)).alias("_n"))
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_i")
    return (
        per_key.select(*increment_cols, "_k", "_n", rows)
        .select(
            *increment_cols,
            _cms_cell(F.col("_k"), depth, width).alias("cms_cell"),
            "_n",
        )
        .groupBy(*increment_cols, "cms_cell")
        .agg(F.sum("_n").alias("cms_n"))
    )


def cms_rollup(partials: DataFrame, rollup_cols: list[str]) -> DataFrame:
    """Merge increment states to a coarser grain: counts add per cell
    (associative and exact -- the sparse equivalent of the quantile
    histogram's vector add).  Input is states (<= depth*width rows per
    increment), never raw rows.  All increments must share one
    (depth, width) config -- the standard sketch-merge contract."""
    return partials.groupBy(*rollup_cols, "cms_cell").agg(
        F.sum("cms_n").alias("cms_n")
    )


def cms_lookup(
    probe: DataFrame,
    key_col: str,
    state: DataFrame,
    depth: int = 4,
    width: int = 1024,
    estimate_col: str = "n_cms",
) -> DataFrame:
    """Frequency estimates for a bounded probe set against a (rolled-
    up, keyless) sparse state: explode each probe key into its
    ``depth`` cells, broadcast-join the state (<= depth*width rows by
    construction), and take the MIN counter per key -- a key absent
    from a cell scores 0 via the left join, so absent keys estimate 0.
    Guarantee: estimate >= true count always (each counter saw every
    occurrence of the key); overcount only via collisions."""
    out_cols = probe.columns
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_i")
    p = probe.select("*", rows).withColumn(
        "cms_cell", _cms_cell(F.col(key_col), depth, width)
    )
    joined = p.join(F.broadcast(state), on="cms_cell", how="left")
    return joined.groupBy(*out_cols).agg(
        F.min(F.coalesce(F.col("cms_n"), F.lit(0).cast("long"))).alias(
            estimate_col
        )
    )


def quantiles_from_state(
    state: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
) -> DataFrame:
    """Estimate each q as the UPPER EDGE of the bucket holding the
    q-th ranked row (rank = ceil(q * n), rank-exact against the
    histogram): |estimate - exact_quantile| <= bucket width, because
    the exact order statistic lies inside that bucket. One fold over
    the counts array per q -- no explode, no shuffle beyond the
    state itself."""
    n_buckets_expr = F.size(F.col("bucket_counts"))
    out = state
    for q in qs:
        target = F.ceil(F.lit(q) * F.col("n_rows")).cast("long")
        # fold: (cum, ans) -- first bucket where cum >= target wins
        found = F.aggregate(
            F.zip_with(
                F.col("bucket_counts"),
                F.sequence(F.lit(0), n_buckets_expr - 1),
                lambda c, i: F.struct(c.alias("c"), i.alias("i")),
            ),
            F.struct(
                F.lit(0).cast("long").alias("cum"), F.lit(-1).alias("ans")
            ),
            lambda acc, e: F.struct(
                (acc["cum"] + e["c"]).alias("cum"),
                F.when(
                    (acc["ans"] < 0) & (acc["cum"] + e["c"] >= target), e["i"]
                )
                .otherwise(acc["ans"])
                .alias("ans"),
            ),
        )["ans"]
        est = F.lit(lo) + (found.cast("double") + 1.0) * (
            (F.lit(hi) - F.lit(lo)) / n_buckets_expr.cast("double")
        )
        # p50, p99, p99_9, p2_5 -- fractional quantiles cannot
        # silently collide with integer ones
        name = "p" + str(q * 100).rstrip("0").rstrip(".").replace(".", "_")
        out = out.withColumn(name, F.round(est, 6))
    return out.drop("bucket_counts")


# -- KMV (bottom-k) distinct sketch -----------------------------------------
#
# Fourth member of the mergeable-summaries family: HLL answers
# DISTINCT rollups, the histogram QUANTILES, CMS per-key FREQUENCIES
# -- KMV answers SET OPERATIONS on distincts, the one thing HLL can
# only approach by error-compounding inclusion-exclusion.  The sketch
# is simply the k smallest DISTINCT 60-bit md5-prefix hashes of the
# value: a uniform sample of the value space, so the k-th smallest
# hash theta estimates density
# ((k-1) / (theta / 2^60) distincts), merge is "k smallest of the
# union of members" (lossless: bottom-k of a union equals bottom-k of
# the members' bottom-k's), and an INTERSECTION estimate falls out of
# the theta-sketch identity: within the union's bottom-k sample, the
# fraction of hashes present in BOTH sides' sketches is an unbiased
# estimate of |A intersect B| / |A union B|.  Because the hash is the
# portable md5-prefix (`bucket_checksums` identity) and every estimate
# is a fixed IEEE expression over integer hash ranks, DuckDB
# reproduces sketch contents AND estimates bit-for-bit -- like the
# histogram and CMS (and unlike HLL's engine-specific binary),
# this sketch is oracle-checkable, not just plausible.

_KMV_SCALE = float(2**60)  # hash space size: hashes are uniform in [0, 2^60)


def kmv_state(
    df: DataFrame,
    value_col: str,
    increment_cols: list[str],
    k: int = 256,
) -> DataFrame:
    """Per-increment bottom-k sketch: the sorted array of the k
    smallest distinct md5-prefix hashes of ``value_col`` (fewer than k
    => the whole distinct hash set, the exact regime).

    Scale shape: the distinct collapses map-side (partial agg on
    (increment, hash)); the rank filter is a ``row_number() <= k``
    predicate, which Spark >= 3.5 rewrites to WindowGroupLimit -- each
    map task keeps only its local bottom-k per increment BEFORE the
    shuffle, so the exchange carries O(increments x k x tasks) hashes,
    never the distinct set; the final collect_list is k longs per
    increment."""
    from pyspark.sql.window import Window

    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    distinct = df.select(*increment_cols, h.alias("_h")).distinct()
    w = Window.partitionBy(*increment_cols).orderBy("_h")
    return (
        distinct.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .groupBy(*increment_cols)
        .agg(F.sort_array(F.collect_list("_h")).alias("kmv_hashes"))
    )


def kmv_rollup(partials: DataFrame, rollup_cols: list[str], k: int = 256) -> DataFrame:
    """Merge increment sketches to a coarser grain: the k smallest of
    the union of member arrays.  Lossless by the bottom-k identity --
    any hash in the rolled-up table's true bottom-k is in its own
    increment's bottom-k, so merge-of-increments == direct-over-raw
    bit-for-bit (the checked theorem in `orders_kmv_customers`).
    Input is sketches (k longs per increment), never raw rows; the
    per-group flatten is bounded by members x k."""
    grouped = (
        partials.groupBy(*rollup_cols) if rollup_cols else partials.groupBy()
    )
    return grouped.agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv_hashes")))),
            1,
            k,
        ).alias("kmv_hashes")
    )


def kmv_estimate(sketch: Column, k: int = 256) -> Column:
    """Distinct-count estimate off a sketch array: exact size when the
    sketch holds fewer than k hashes (the whole distinct set fit), else
    (k-1) / (theta / 2^60) with theta the k-th smallest hash.  Every
    operand is exact in a double ((k-1) * 2^60 is a tiny mantissa times
    a power of two), so the single IEEE divide makes the estimate
    engine-portable bit-for-bit."""
    theta = F.element_at(sketch, k).cast("double")
    return F.when(
        F.size(sketch) < k, F.size(sketch).cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(_KMV_SCALE) / theta)


def kmv_intersect_estimate(a: Column, b: Column, k: int = 256) -> Column:
    """|A intersect B| estimate from two sketches (theta-sketch
    identity): build the union sketch u = bottom-k(a ++ b); within
    that uniform sample of A union B, count hashes present in BOTH
    input sketches (rho); estimate = (rho / k) * est(|A union B|).
    In the exact regime (|union| < k) every distinct hash is in u and
    both sides' sketches are complete, so rho IS the exact
    intersection count.  Same fixed IEEE expression both engines."""
    u = F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)
    rho = F.size(F.array_intersect(F.array_intersect(a, b), u))
    return F.when(F.size(u) < k, rho.cast("double")).otherwise(
        rho.cast("double") / F.lit(float(k)) * kmv_estimate(u, k)
    )
