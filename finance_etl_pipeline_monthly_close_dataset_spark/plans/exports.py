"""Flat BI dataset exporter (SURVEY.md §3.3).

Behavioral parity with ``/root/reference/scripts/export_bi_datasets.py``:
month-filtered fact (+ literal month column), KPI with margin %
columns in a stable order, DQ passthrough, one CSV per table plus a
``data_dictionary.txt`` describing the emitted schemas.
"""

from __future__ import annotations

import csv
import os
import shutil
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.writers import staged_commit, write_csv_single_file
from .star import add_margin_cols, load_curated

KPI_COLS = ["entity", "month", "Asset", "COGS", "Expense", "Revenue", "gross_profit", "operating_profit"]


def copy_audit_csv(src: Path, dst: str) -> list[str]:
    """Pass a DQ audit file through verbatim (a missing one becomes a
    bare ``dataset`` header) and return its column names."""
    if not src.exists():
        Path(dst).write_text("dataset\n", encoding="utf-8")
        return ["dataset"]
    shutil.copyfile(src, dst)
    with open(src, newline="", encoding="utf-8") as fh:
        return next(csv.reader(fh), [])


def export_bi_datasets(
    spark: SparkSession,
    curated_dir: str | Path,
    month: str | None = None,
    out_dir: str | Path | None = None,
) -> Path:
    """Curated layer -> 5 flat CSVs + data dictionary, published as one
    set (reference main(), lines 58-122)."""
    cur = load_curated(spark, curated_dir, month)
    month = cur.month
    out = Path(out_dir) if out_dir else Path("data") / "bi" / month

    fact_m = cur.fact.withColumn("month", F.lit(month))
    if cur.date_col:
        # committed goldens render the timestamp at date grain
        fact_m = fact_m.withColumn(cur.date_col, F.to_date(F.col(cur.date_col)))

    kpi_m = add_margin_cols(cur.kpi)
    if "month" in kpi_m.columns:
        kpi_m = kpi_m.filter(F.col("month") == F.lit(month))
    keep = [c for c in KPI_COLS if c in kpi_m.columns] + [
        c for c in ("gross_margin_pct", "operating_margin_pct") if c in kpi_m.columns
    ]
    if keep:
        kpi_m = kpi_m.select(*keep)

    order_fact = [c for c in (cur.date_col, "entity", "source", "document_id") if c]
    tables = {
        "fact_transactions": fact_m.orderBy(*order_fact) if order_fact else fact_m,
        # passthrough keeps the chart-of-accounts file order (the
        # reference writes the curated dim unsorted)
        "dim_accounts": cur.dim_accounts,
        "kpi_monthly": kpi_m.orderBy("entity") if "entity" in kpi_m.columns else kpi_m,
    }
    with staged_commit(str(out)) as stage:
        columns = {}
        for name, df in tables.items():
            write_csv_single_file(df, os.path.join(stage, f"{name}.csv"))
            columns[name] = df.columns
        for name in ("dq_summary", "dq_exceptions"):
            columns[name] = copy_audit_csv(Path(curated_dir) / f"{name}.csv", os.path.join(stage, f"{name}.csv"))
        dd = [f"month={month}"] + [f"{name}.csv columns={cols}" for name, cols in columns.items()]
        Path(stage, "data_dictionary.txt").write_text("\n".join(dd), encoding="utf-8")
    return out
