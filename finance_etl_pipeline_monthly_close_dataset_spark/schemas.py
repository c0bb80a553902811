"""StructType registry -- the engine's DDL.

The reference enforces schemas at the ingest boundary with pandera
``DataFrameSchema(strict=True, coerce=True)`` plus read-time dtype
pins (``/root/reference/src/finance_etl/quality.py:16-95``,
``pipeline.py:69-101``). Here each raw dataset gets an explicit
``StructType`` handed to ``spark.read.csv`` -- never inference -- so
ID/code columns stay strings (account codes like ``40000001`` must
compare as strings) and money is DoubleType (SURVEY.md §7.4: the
reference is float64 throughout; decimal would diverge from both the
reference and the DuckDB oracle).

Raw ``date`` columns ingest as TimestampType (the reference parses to
datetime64[ns]); normalization to DateType happens in the transforms.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- raw inputs -------------------------------------------------------------

SALES_SCHEMA = T.StructType(
    [
        T.StructField("date", T.TimestampType(), True),
        T.StructField("entity", T.StringType(), True),
        T.StructField("invoice_id", T.StringType(), True),
        T.StructField("account_code", T.StringType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("description", T.StringType(), True),
    ]
)

EXPENSES_SCHEMA = T.StructType(
    [
        T.StructField("date", T.TimestampType(), True),
        T.StructField("entity", T.StringType(), True),
        T.StructField("bill_id", T.StringType(), True),
        T.StructField("account_code", T.StringType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("description", T.StringType(), True),
    ]
)

PAYROLL_SCHEMA = T.StructType(
    [
        T.StructField("month", T.StringType(), True),
        T.StructField("entity", T.StringType(), True),
        T.StructField("employee_id", T.StringType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("gross", T.DoubleType(), True),
        T.StructField("deductions", T.DoubleType(), True),
        T.StructField("net", T.DoubleType(), True),
    ]
)

INVENTORY_SCHEMA = T.StructType(
    [
        T.StructField("date", T.TimestampType(), True),
        T.StructField("entity", T.StringType(), True),
        T.StructField("sku", T.StringType(), True),
        T.StructField("movement_type", T.StringType(), True),
        T.StructField("qty", T.DoubleType(), True),
        T.StructField("unit_cost", T.DoubleType(), True),
        T.StructField("currency", T.StringType(), True),
    ]
)

FX_SCHEMA = T.StructType(
    [
        T.StructField("date", T.TimestampType(), True),
        T.StructField("from_currency", T.StringType(), True),
        T.StructField("to_currency", T.StringType(), True),
        T.StructField("rate", T.DoubleType(), True),
    ]
)

COA_SCHEMA = T.StructType(
    [
        T.StructField("account_code", T.StringType(), True),
        T.StructField("account_name", T.StringType(), True),
        T.StructField("account_type", T.StringType(), True),
    ]
)

RAW_SCHEMAS: dict[str, T.StructType] = {
    "sales": SALES_SCHEMA,
    "expenses": EXPENSES_SCHEMA,
    "payroll": PAYROLL_SCHEMA,
    "inventory_movements": INVENTORY_SCHEMA,
    "fx_rates": FX_SCHEMA,
    "chart_of_accounts": COA_SCHEMA,
}

# --- curated layer ----------------------------------------------------------

DQ_EXCEPTIONS_SCHEMA = T.StructType(
    [
        T.StructField("dataset", T.StringType(), True),
        T.StructField("index", T.LongType(), True),
        T.StructField("column", T.StringType(), True),
        T.StructField("check", T.StringType(), True),
        T.StructField("failure_case", T.StringType(), True),
        T.StructField("schema_context", T.StringType(), True),
        T.StructField("check_number", T.IntegerType(), True),
        T.StructField("severity", T.StringType(), True),
    ]
)

DQ_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("dataset", T.StringType(), True),
        T.StructField("error_count", T.LongType(), True),
        T.StructField("warn_count", T.LongType(), True),
        T.StructField("issue_count", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
    ]
)
