"""Typed scans (SURVEY.md §2.1 S1-S2).

The reference reads CSV with per-dataset dtype pins and
``parse_dates`` (``/root/reference/src/finance_etl/io_utils.py:8-11``,
``pipeline.py:69-101``) and Parquet with a missing-file -> empty-frame
fallback (``/root/reference/scripts/export_bi_datasets.py:11-12``).

Spark-first notes:
* schemas are always explicit (no inference pass over the data -- at
  100 TB a schema-inference scan is a full extra read);
* ``with_row_id`` synthesizes the pandas row label the DQ layer needs
  (SURVEY.md §7.4 item 5) via ``monotonically_increasing_id`` --
  partition-local, no shuffle, stable for a given file layout but not
  contiguous; contiguity is not load-bearing for DQ reporting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROW_ID_COL = "_row_id"

# Date-only and date-time cells in one pattern: the optional section
# parses ``2025-12-05`` without first failing (and throwing) on the
# time part, which a coalesce of two patterns does for every date-only
# cell (~3x the parse cost).
TIMESTAMP_FORMAT = "yyyy-MM-dd[ HH:mm:ss]"

# RFC 4180 quoting for every CSV the package reads or writes: a quote
# inside a quoted field is doubled (``"quoted, ""desc"""``), as pandas
# and the BI tools write it.  Spark's default escape is a backslash,
# which leaves a doubled quote in the value.
CSV_DIALECT = {"escape": '"'}


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Driver-held ``rows`` (a summary, a pivot) as a DataFrame, shipped
    to the JVM as one Arrow batch and planned as a local relation.  A
    list-fed ``createDataFrame`` plans a pickled-Python RDD that costs
    ~0.7 s per write even in a warm JVM (4 cores); this costs ~0.15 s.
    An empty ``rows`` takes PySpark's list path (Arrow needs a row)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame.from_records(rows, columns=schema.names), schema)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    with_row_id: bool = False,
) -> DataFrame:
    """Schema-pinned CSV scan; raises FileNotFoundError on missing path
    to match the reference's ``pd.read_csv`` behavior."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"Missing input file: {path}")
    df = spark.read.csv(path, header=True, schema=schema, timestampFormat=TIMESTAMP_FORMAT, **CSV_DIALECT)
    if with_row_id:
        df = df.withColumn(ROW_ID_COL, F.monotonically_increasing_id())
    return df


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan that degrades to an empty DataFrame when the file is
    absent (reference: ``_read_parquet`` helpers in the export scripts)."""
    if os.path.exists(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], schema or T.StructType([]))


RAW_PREFIX = "_raw_"


def read_csv_raw(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    with_row_id: bool = False,
) -> DataFrame:
    """String-typed CSV scan: every declared column is read as text
    (the parse half of ``read_csv_typed``, split out in r12 so the
    close can stage the parsed text to parquet ONCE and feed every
    downstream consumer from the columnar stage instead of re-parsing
    the CSV -- the parse-once close)."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"Missing input file: {path}")
    str_schema = T.StructType([T.StructField(f.name, T.StringType(), True) for f in schema.fields])
    df = spark.read.csv(path, header=True, schema=str_schema, **CSV_DIALECT)
    if with_row_id:
        df = df.withColumn(ROW_ID_COL, F.monotonically_increasing_id())
    return df


def typed_view(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Coercion projection (the typed half of ``read_csv_typed``):
    given a string-typed frame (a raw CSV scan or its parquet stage),
    produce typed columns via ``try_cast`` with the original text
    preserved in ``_raw_<col>`` shadow columns -- pandera coerce
    semantics (Q3). Pure projection: Catalyst prunes unreferenced
    ``_raw_`` shadows (and, over a parquet stage, the underlying
    string columns) from any consumer that does not touch them."""
    cols = []
    for f in schema.fields:
        raw = F.col(f.name)
        if isinstance(f.dataType, T.StringType):
            cols.append(raw.alias(f.name))
        else:
            if isinstance(f.dataType, T.TimestampType):
                typed = F.try_to_timestamp(raw, F.lit(TIMESTAMP_FORMAT))
            else:
                typed = raw.try_cast(f.dataType)
            cols.append(typed.alias(f.name))
            cols.append(raw.alias(f"{RAW_PREFIX}{f.name}"))
    if ROW_ID_COL in df.columns:
        cols.append(F.col(ROW_ID_COL))
    return df.select(*cols)


def read_csv_typed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    with_row_id: bool = False,
) -> DataFrame:
    """CSV scan with pandera-style coercion semantics (Q3): every cell
    is read as a string and converted with ``try_cast``, so an
    unparseable value yields a typed null WHILE the raw text survives
    in a ``_raw_<col>`` sibling column. The DQ layer turns
    (raw NOT NULL, typed NULL) into a ``coerce_dtype`` exception with
    the offending text as the failure case -- something a straight
    typed scan cannot report because the parser nulls the cell
    silently.

    Still ONE scan: the raw->typed conversion is a projection, and
    Catalyst prunes the ``_raw_`` columns from any plan that does not
    reference them (i.e. everything downstream of DQ).
    """
    return typed_view(read_csv_raw(spark, path, schema, with_row_id=with_row_id), schema)
