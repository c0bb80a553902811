"""Z-order (Morton-curve) data layout for multi-dimensional data skipping.

A lake sorted on one column prunes parquet row groups only for
predicates on that leading column; a 100 TB scan filtered on the
*other* dimension reads everything. Interleaving the bits of two key
columns and range-partitioning + sorting on the interleaved value
makes every output file cover a tight hyper-rectangle in BOTH
dimensions, so parquet min/max statistics prune box predicates on
either column. This is the layout-time lever (Delta/Iceberg
``OPTIMIZE ZORDER BY``) re-expressed with stock Spark primitives:
one range repartition + in-partition sort, no custom writer.

The z-value is a pure bit-twiddling column expression (shift/and/or
chain, whole-stage codegen'd, no UDF) and is dropped before write --
the layout, not the schema, carries the information.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def z_value_n(cols: list[Column], bits: int = 16) -> Column:
    """Morton interleave of the low ``bits`` bits of N non-negative
    integer columns: result bit ``i*N + j`` is bit i of column j.
    ``N * bits`` must fit in 63 bits (the caller clamps). Values
    beyond ``bits`` bits fold into the same cell (upper bits are
    ignored), which coarsens -- never breaks -- the layout. Pure
    expression; codegen keeps it JVM-side."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} columns x {bits} bits exceeds a long")
    longs = [c.cast("long") for c in cols]
    out = None
    for i in range(bits):
        for j, c in enumerate(longs):
            bit = F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
            out = bit if out is None else out.bitwiseOR(bit)
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str | None = None,
    col_b: str | None = None,
    bits: int = 16,
    num_files: int | None = None,
    cols: list[str] | None = None,
) -> None:
    """Write ``df`` as parquet laid out along the z-curve of two
    (``col_a``, ``col_b``) or N (``cols=[...]``) key columns.

    ``repartitionByRange`` on the z-value gives each output file a
    contiguous z-range (a small set of curve tiles => tight min/max
    in EVERY source column); ``sortWithinPartitions`` tightens the
    per-row-group statistics inside each file. ``bits`` is clamped so
    N columns fit one long -- fewer bits per column coarsens the
    curve, which only loosens pruning, never correctness. At cluster
    scale ``num_files`` is sized so files land near the row-group /
    maxPartitionBytes sweet spot (~128 MB)."""
    names = list(cols) if cols else [col_a, col_b]
    if len(names) < 2 or any(c is None for c in names):
        raise ValueError("write_zordered wants >= 2 key columns")
    bits = min(bits, 63 // len(names))
    z = z_value_n([F.col(c) for c in names], bits=bits)
    out = df.withColumn("__z", z)
    if num_files is not None:
        out = out.repartitionByRange(num_files, "__z")
    else:
        out = out.repartitionByRange("__z")
    out.sortWithinPartitions("__z").drop("__z").write.mode("overwrite").parquet(path)
