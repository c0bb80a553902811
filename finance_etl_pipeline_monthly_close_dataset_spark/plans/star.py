"""Kimball star-schema exporter (SURVEY.md §3.2).

Behavioral parity with
``/root/reference/scripts/export_powerbi_star_schema.py`` (dims with
sequential surrogate keys, fact_gl, fact_kpi_monthly, model notes),
re-expressed as DataFrame plans:

* dict-map surrogate-key lookups (reference lines 218-236) become
  broadcast equi-joins (SURVEY.md J4);
* ``range(1, n+1)`` sequential keys (lines 84, 119) become
  ``row_number()`` over the natural-key order (O4) -- the one window
  function the reference's shape needs. The window is over a deduped
  dim of at most thousands of rows, so the single-partition window is
  not a scale hazard;
* ``_pick_col`` duck-typing (lines 18-23) is reproduced against
  ``df.columns`` so the exporter tolerates curated-schema drift.

The three exporters (this one, ``exports`` and ``dashboard``) read the
curated layer through ``load_curated`` and publish their files as one
set through ``writers.staged_commit``: a crash leaves the previous
export or the new one, never a mix.

At 100 TB the facts stay partitioned end-to-end: key attachment is
broadcast joins against tiny dims; only the final BI-tool CSV sink
coalesces (single-file semantics is the product contract, S4).
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import read_parquet_or_empty
from ..sources.writers import staged_commit, write_csv_single_file

DATE_COL_CANDIDATES = ["tx_date", "date", "transaction_date", "posting_date", "invoice_date"]


def pick_col(df: DataFrame, candidates: list[str]) -> str | None:
    """First matching column name (reference _pick_col, lines 18-23)."""
    for c in candidates:
        if c in df.columns:
            return c
    return None


def infer_month(kpi: DataFrame) -> str | None:
    """Latest month string present in the KPI table (reference
    _infer_month, lines 51-57)."""
    if "month" not in kpi.columns:
        return None
    row = kpi.select(F.max(F.substring(F.col("month").cast("string"), 1, 7)).alias("m")).first()
    return row["m"] if row and row["m"] else None


class Curated(NamedTuple):
    """The curated layer as the exporters read it."""

    month: str
    fact: DataFrame  # the month's rows only
    date_col: str | None
    dim_accounts: DataFrame
    kpi: DataFrame  # every month, ``month`` as YYYY-MM


def load_curated(spark: SparkSession, curated_dir: str | Path, month: str | None = None) -> Curated:
    """Read the three curated tables (a missing one is empty), settle
    the month -- the one asked for, else the KPI's latest -- and cut the
    fact to it on whichever date column it carries (reference
    _read_parquet, _infer_month and _filter_to_month_by_date)."""
    curated = Path(curated_dir)
    fact, dim_accounts, kpi = (
        read_parquet_or_empty(spark, str(curated / f"{name}.parquet"))
        for name in ("fact_transactions", "dim_accounts", "kpi_monthly")
    )
    if "month" in kpi.columns:
        kpi = kpi.withColumn("month", F.substring(F.col("month").cast("string"), 1, 7))
    month = month or infer_month(kpi)
    if not month:
        raise SystemExit("Could not infer month. Provide month=YYYY-MM.")
    date_col = pick_col(fact, DATE_COL_CANDIDATES)
    if date_col:
        fact = fact.filter(F.date_format(F.col(date_col), "yyyy-MM") == F.lit(month))
    return Curated(month, fact, date_col, dim_accounts, kpi)


def add_margin_cols(kpi: DataFrame) -> DataFrame:
    """gross/operating margin % of Revenue (reference
    export_bi_datasets.py lines 45-55).  Spark division: Revenue == 0
    yields null where pandas would produce ±inf (SURVEY.md §7.4 item 3)."""
    out = kpi
    if "Revenue" in out.columns:
        rev = F.col("Revenue").cast("double")
        if "gross_profit" in out.columns:
            out = out.withColumn("gross_margin_pct", F.col("gross_profit").cast("double") / rev * 100)
        if "operating_profit" in out.columns:
            out = out.withColumn(
                "operating_margin_pct", F.col("operating_profit").cast("double") / rev * 100
            )
    return out


def build_dim_entity(fact: DataFrame, kpi: DataFrame) -> DataFrame:
    """Distinct entities from fact ∪ kpi, sorted, sequential keys,
    first-currency enrichment (reference lines 76-93).

    'First' currency follows the curated fact's committed order
    (date, entity, source, document_id) so the seed-42 goldens
    reproduce -- implemented as an ordered window, deterministic unlike
    a bare ``F.first``.
    """
    parts = []
    for df in (fact, kpi):
        if "entity" in df.columns:
            parts.append(
                df.select(F.col("entity").cast("string").alias("entity"))
                .filter(F.col("entity").isNotNull() & (F.trim("entity") != ""))
            )
    if not parts:
        return fact.sparkSession.createDataFrame([], "entity_key int, entity string")
    entities = parts[0]
    for p in parts[1:]:
        entities = entities.unionByName(p)
    dim = entities.distinct().withColumn(
        "entity_key", F.row_number().over(Window.orderBy("entity"))
    )

    if "currency" in fact.columns:
        order_cols = [c for c in ("date", "source", "document_id") if c in fact.columns]
        w = Window.partitionBy("entity").orderBy(*[F.col(c).asc() for c in order_cols] or [F.lit(1)])
        first_ccy = (
            fact.filter(F.col("entity").isNotNull() & F.col("currency").isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("entity").cast("string").alias("entity"), "currency")
        )
        dim = dim.join(F.broadcast(first_ccy), on="entity", how="left")

    ordered = ["entity_key", "entity"] + [c for c in dim.columns if c not in ("entity_key", "entity")]
    return dim.select(*ordered).orderBy("entity_key")


def build_dim_account(dim_accounts: DataFrame) -> DataFrame:
    """Column-name normalization + dedup + sort + sequential keys
    (reference lines 96-123)."""
    code = pick_col(dim_accounts, ["account_code", "code", "gl_account", "account"])
    name = pick_col(dim_accounts, ["account_name", "name", "account"])
    typ = pick_col(dim_accounts, ["account_type", "type", "category"])
    out = dim_accounts
    renames = {code: "account_code", name: "account_name", typ: "account_type"}
    for src, dst in renames.items():
        if src is not None and src != dst:
            out = out.withColumnRenamed(src, dst)
    out = (
        out.withColumn("account_code", F.col("account_code").cast("string"))
        .dropDuplicates(["account_code"])
        .withColumn("account_key", F.row_number().over(Window.orderBy("account_code")))
    )
    ordered = ["account_key"] + [c for c in out.columns if c != "account_key"]
    return out.select(*ordered).orderBy("account_key")


def build_dim_date(fact_m: DataFrame, date_col: str) -> DataFrame:
    """Distinct normalized dates with date-part attributes and int keys
    (reference lines 126-156). Spark date-part functions only -- the
    reference's column order is preserved for golden-file parity."""
    d = (
        fact_m.select(F.to_date(F.col(date_col)).alias("date"))
        .filter(F.col("date").isNotNull())
        .distinct()
    )
    return d.select(
        F.date_format("date", "yyyyMMdd").cast("int").alias("date_key"),
        F.col("date"),
        F.year("date").alias("year"),
        F.quarter("date").alias("quarter"),
        F.date_format("date", "yyyyMM").cast("int").alias("month_key"),
        F.date_format("date", "yyyy-MM").alias("month_label"),
        F.month("date").alias("month"),
        F.date_format("date", "MMM").alias("month_name"),
        F.weekofyear("date").alias("week"),
        F.dayofmonth("date").alias("day"),
    ).orderBy("date_key")


def build_dim_month(dim_date: DataFrame) -> DataFrame:
    """Month grain rolled up from dim_date with the month's first
    date_key (reference lines 159-170)."""
    return (
        dim_date.groupBy("month_key", "month_label", "year", "quarter", "month", "month_name")
        .agg(F.min("date_key").alias("month_start_date_key"))
        .orderBy("month_key")
    )


def build_fact_gl(
    fact_m: DataFrame,
    dim_entity: DataFrame,
    dim_account: DataFrame,
    date_col: str | None,
) -> DataFrame:
    """GL fact with int date/month keys, surrogate keys via broadcast
    joins, amount from amount_base (or debit-credit fallback), and
    descriptive passthrough columns (reference lines 173-256)."""
    entity_col = pick_col(fact_m, ["entity", "company", "business_unit"])
    acct_col = pick_col(fact_m, ["account_code", "gl_account", "account"])
    amt_col = pick_col(fact_m, ["amount_base", "amount", "amount_tzs", "amount_usd"])

    out = fact_m
    if entity_col and entity_col != "entity":
        out = out.withColumnRenamed(entity_col, "entity")
    if acct_col and acct_col != "account_code":
        out = out.withColumnRenamed(acct_col, "account_code")

    if amt_col:
        amount = F.col(amt_col).cast("double")
    elif "debit" in out.columns and "credit" in out.columns:
        amount = F.coalesce(F.col("debit").cast("double"), F.lit(0.0)) - F.coalesce(
            F.col("credit").cast("double"), F.lit(0.0)
        )
    else:
        amount = F.lit(None).cast("double")
    out = out.withColumn("amount", amount)

    if date_col and date_col in fact_m.columns:
        out = out.withColumn(
            "date_key", F.date_format(F.col(date_col), "yyyyMMdd").cast("int")
        ).withColumn("month_key", F.date_format(F.col(date_col), "yyyyMM").cast("int"))
    else:
        out = out.withColumn("date_key", F.lit(None).cast("int")).withColumn(
            "month_key", F.lit(None).cast("int")
        )

    out = (
        out.withColumn("entity", F.col("entity").cast("string"))
        .withColumn("account_code", F.col("account_code").cast("string"))
        .join(F.broadcast(dim_entity.select("entity", "entity_key")), on="entity", how="left")
        .join(
            F.broadcast(dim_account.select("account_code", "account_key")),
            on="account_code",
            how="left",
        )
    )

    passthrough = [
        c
        for c in (
            "transaction_id", "move_id", "journal_id", "journal_name", "reference",
            "description", "partner", "vendor", "customer", "source_system",
        )
        if c in out.columns
    ]
    cols = ["date_key", "month_key", "entity_key", "account_key", "amount", *passthrough]
    order_keys = [c for c in ("date_key", "entity_key", "account_key") if c in cols]
    return out.select(*cols).orderBy(*order_keys)


KPI_MEASURES = [
    "Asset", "COGS", "Expense", "Revenue", "gross_profit", "operating_profit",
    "gross_margin_pct", "operating_margin_pct",
]


def build_fact_kpi_monthly(kpi: DataFrame, dim_entity: DataFrame, month: str) -> DataFrame:
    """Month-filtered KPI fact with surrogate entity key and margin %
    (reference lines 259-319)."""
    out = kpi
    if "month" in out.columns:
        out = out.filter(F.col("month") == F.lit(month))
    out = add_margin_cols(
        out.withColumn("entity", F.col("entity").cast("string"))
        .join(F.broadcast(dim_entity.select("entity", "entity_key")), on="entity", how="left")
        .withColumn("month_key", F.lit(int(month.replace("-", "")) if month.replace("-", "").isdigit() else 0))
    )
    keep = ["month_key", "entity_key"] + [c for c in KPI_MEASURES if c in out.columns]
    return out.select(*keep).orderBy("entity_key")


MODEL_NOTES_RELATIONSHIPS = """Suggested Power BI Relationships:
  fact_gl[date_key]      -> dim_date[date_key] (Many-to-1, single)
  fact_gl[entity_key]    -> dim_entity[entity_key] (Many-to-1, single)
  fact_gl[account_key]   -> dim_account[account_key] (Many-to-1, single)
  fact_gl[month_key]     -> dim_month[month_key] (Many-to-1, single)  (optional)
  fact_kpi_monthly[entity_key] -> dim_entity[entity_key] (Many-to-1, single)
  fact_kpi_monthly[month_key]  -> dim_month[month_key] (Many-to-1, single)
"""


def export_star_schema(
    spark: SparkSession,
    curated_dir: str | Path,
    month: str | None = None,
    out_dir: str | Path | None = None,
) -> Path:
    """Curated layer -> 6 star tables as single-file CSVs + model notes,
    published as one set (reference main(), lines 323-416)."""
    cur = load_curated(spark, curated_dir, month)
    out = Path(out_dir) if out_dir else Path("data") / "bi_star" / cur.month

    dim_entity = build_dim_entity(cur.fact, cur.kpi)
    dim_account = build_dim_account(cur.dim_accounts)
    dim_date = (
        build_dim_date(cur.fact, cur.date_col)
        if cur.date_col
        else spark.createDataFrame([], "date_key int, date date")
    )
    tables = {
        "dim_date": dim_date,
        "dim_month": build_dim_month(dim_date),
        "dim_entity": dim_entity,
        "dim_account": dim_account,
        "fact_gl": build_fact_gl(cur.fact, dim_entity, dim_account, cur.date_col),
        "fact_kpi_monthly": build_fact_kpi_monthly(cur.kpi, dim_entity, cur.month),
    }
    notes = [f"month={cur.month}", "", MODEL_NOTES_RELATIONSHIPS, "Files:"]
    notes += [f"  - {name}.csv" for name in tables]
    with staged_commit(str(out)) as stage:
        for name, df in tables.items():
            write_csv_single_file(df, os.path.join(stage, f"{name}.csv"))
        Path(stage, "POWERBI_MODEL_NOTES.txt").write_text("\n".join(notes), encoding="utf-8")
    return out
