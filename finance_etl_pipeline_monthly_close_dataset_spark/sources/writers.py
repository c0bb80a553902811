"""Sinks (SURVEY.md §2.1 S3-S4).

Parquet is the curated-layer format (distributed, multi-file,
optionally partitioned). CSV sinks exist only for BI-tool
compatibility: the reference emits exactly ONE file per table
(``pd.DataFrame.to_csv``), so ``write_csv_single_file`` keeps that
contract. Single-file CSV is inherently a 1-partition write -- never
use it for fact-scale data; it is gated to the BI export layer only.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """Curated-layer parquet sink.

    zstd by default (r11, measured at the 50M-row fact): the encode
    step is a small fraction of the write stage (the stage is
    CSV-parse + FX-compute bound -- noop 39.5 s vs snappy 44.1 s vs
    zstd 46.3 s), while the bytes written drop 2.6x (snappy 0.95 GB ->
    zstd 0.37 GB).  At 100 TB that trade is decisive: ~2 s of encode
    CPU per 50M rows buys 61% less curated storage AND proportionally
    less IO for every downstream scan (the KPI/lake passes re-read the
    written fact).  lz4 matched snappy's size; plain noop write proved
    the compute floor."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def recover_dir(path: str, scratch: str | None = None) -> None:
    """Repair a crash inside ``promote_dir(..., path)``.

    Promotion is: build in scratch -> rename ``path`` aside to
    ``path__old`` -> rename the build into place -> delete the aside
    copy.  Every interruption point leaves one of these states:

    * ``__old`` and ``path`` present: crashed after promotion -- drop
      ``__old``.
    * ``__old`` present, no ``path``: crashed between the two renames
      -- restore ``__old`` as ``path``.
    * ``scratch`` present: a possibly half-written build -- drop it.
    """
    old = path.rstrip("/") + "__old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    if scratch is not None and os.path.exists(scratch):
        shutil.rmtree(scratch)


def promote_dir(built: str, path: str) -> None:
    """Move the finished directory ``built`` into place at ``path``.

    Rename-aside: the previous ``path`` is moved to ``path__old``, not
    deleted, before the new one lands, so at no instant is the previous
    copy gone without the new one in place; ``recover_dir`` repairs any
    crash point.  A leftover ``__old`` from an earlier crash is
    recovered first.
    """
    recover_dir(path)
    old = path.rstrip("/") + "__old"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(built, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def write_csv_single_file(df: DataFrame, path: str) -> None:
    """Write ``df`` as a single CSV file at ``path`` (with header).

    Implemented as a coalesce(1) Spark write to a temp dir + rename of
    the part file, so data never routes through the Python driver.
    The rename is one ``os.replace``: a reader (or a crash) sees either
    the previous file or the new one, never no file.  Reserved for
    small BI exports (dims, monthly KPI, DQ audits).
    """
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + "._spark_tmp"
    try:
        df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
        part_files = glob.glob(os.path.join(tmp, "part-*.csv"))
        if not part_files:
            raise RuntimeError(f"No part file produced for {path}")
        os.replace(part_files[0], path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed
    parquet table.

    Bucketing pre-shuffles the data ON WRITE: two tables bucketed the
    same way on the join key join with ZERO exchanges at read time --
    the physical plan shows SortMergeJoin with no Exchange on either
    side. At 100 TB this converts every recurring fact-fact join on
    the bucket key from a full shuffle into a local merge; the price
    is one shuffle at write time, amortized over all downstream reads.

    Only ``saveAsTable`` supports bucketing metadata (the Hive-style
    bucket spec lives in the catalog, not in the parquet files).
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink with the same partitionBy contract as the parquet sink."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Multi-file JSON-lines sink (one file per partition -- the
    distributed counterpart of the single-file CSV sink; JSONL
    consumers glob directories natively)."""
    df.write.mode(mode).json(path)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files --
    the small-files compaction chore every streaming / incremental
    ingest lake needs (a 100 TB table fed by micro-batches degrades
    into millions of KB-size files whose open cost dominates scans).

    Sizing comes from the directory's actual on-disk bytes (walked
    recursively, so Hive-partitioned layouts size correctly), not a
    row guess, so compression ratio is accounted for. Flat tables
    compact via a shuffle-free coalesce; Hive-partitioned tables
    (``col=value`` subdirectories) are rewritten with the SAME
    ``partitionBy`` layout, hash-colocating each partition value so
    every leaf directory collapses to ~1 file. Promotion is
    ``promote_dir`` (rename-aside), and a crash left by an earlier
    compaction is recovered first, so no crash point leaves the table
    missing or half-written.
    Returns the new data-file count.
    """
    import math

    tmp = path.rstrip("/") + "__compacting"
    recover_dir(path, tmp)
    data_files: list[str] = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                data_files.append(os.path.join(root, f))
    total = sum(os.path.getsize(f) for f in data_files)
    n_files = max(1, math.ceil(total / target_file_bytes))

    # Hive-style partition dirs (key=value) mean the table's layout is
    # part of its contract -- a flat coalesce(1) rewrite would silently
    # drop it. Detect the partition columns from the first level of
    # directory names; Spark re-infers the same columns on read.
    part_cols: list[str] = []
    probe = path
    while True:
        subdirs = [
            d
            for d in glob.glob(os.path.join(probe, "*"))
            if os.path.isdir(d) and "=" in os.path.basename(d)
        ]
        if not subdirs:
            break
        part_cols.append(os.path.basename(subdirs[0]).split("=", 1)[0])
        probe = subdirs[0]

    df = spark.read.parquet(path)
    if part_cols:
        # repartition on the partition columns hash-routes all rows of
        # one partition value to one task -> one output file per leaf
        # (modulo hash collisions), preserving the directory layout.
        (
            df.repartition(n_files, *part_cols)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(tmp)
        )
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    promote_dir(tmp, path)
    return len(
        [
            os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    )
