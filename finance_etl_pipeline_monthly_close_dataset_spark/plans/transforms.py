"""Core relational transforms: normalize-union fact build, FX
enrichment, monthly KPI pivot.

Semantics mirror ``/root/reference/src/finance_etl/transform.py``
(behavior only -- the implementation is declarative DataFrame ops so
Catalyst plans them):

* FX lookup is an EXACT-DATE left equi-join on (date, from_currency),
  not an as-of join; a missing rate for any non-base-currency row is a
  hard error (transform.py:19-46), raised by ``run_month`` from the
  fact write's Observation.
* Sign conventions are load-bearing (SURVEY.md §7.4 item 12): expenses
  and payroll negative, inventory issues negative; KPI profits use
  ``+`` because signs are already flipped.
* Money rounds HALF_EVEN via ``bround`` (transform.py:44,83,126-127).

Scale notes (100 TB design):
* fx and chart-of-accounts are tiny dims -> ``broadcast()`` hints, so
  the fact never shuffles for enrichment.
* The 4-source union is shuffle-free (Union is a no-exchange node).
* A missing rate is a NULL ``rate``; the close counts them on the fact
  write itself, so enforcing the rule costs no extra pass.
* The KPI pivot runs on the driver over the collected, dimension-
  bounded (entity, month, account_type) pre-aggregate.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.datetime_fns import month_end_date, month_str
from ..functions.money import money_round
from ..sources.readers import local_frame

FACT_COLUMNS = [
    "txn_id",
    "date",
    "entity",
    "source",
    "document_id",
    "account_code",
    "currency",
    "amount",
    "rate",
    "amount_base",
    "description",
]

# movement_type -> account_code literal map (transform.py:80-82)
_MOVEMENT_ACCOUNT = {"issue": "50000001", "receipt": "10000001", "adjustment": "10000001"}

PAYROLL_EXPENSE_ACCOUNT = "61000001"


class MissingFxRatesError(ValueError):
    """Raised when a non-base-currency transaction has no FX rate for
    its (date, currency) -- reference transform.py:40-42."""


def fx_to_base(fx_rates: DataFrame, base_currency: str) -> DataFrame:
    """Normalize FX dates to DateType and keep only rates quoted into
    the base currency (transform.py:12-16)."""
    return fx_rates.withColumn("date", F.to_date("date")).filter(
        F.col("to_currency") == F.lit(base_currency)
    )


def add_fx_amount_base(df: DataFrame, fx: DataFrame, base_currency: str) -> DataFrame:
    """Left-join FX rates on exact (date, currency) and derive
    ``amount_base = bround(amount * rate, 2)`` (transform.py:19-46).

    Base-currency rows always get rate 1.0.  A non-base row with no FX
    row for its (date, currency) keeps a NULL ``rate`` and
    ``amount_base``: that NULL marks the missing rate, and ``run_month``
    enforces it (``MissingFxRatesError``, no curated fact) from an
    Observation on the fact write, so the rule costs no extra pass.

    The FX side is currencies x days -- broadcast hash join; the fact
    side never shuffles.
    """
    fx_lookup = (
        fx.select(
            F.to_date("date").alias("_fx_date"),
            F.col("from_currency").alias("_fx_currency"),
            F.col("rate").alias("_fx_rate"),
        )
        # exact-date semantics: one rate per (date, currency)
        .dropDuplicates(["_fx_date", "_fx_currency"])
    )

    out = (
        df.withColumn("date", F.to_timestamp("date"))
        .withColumn("_date_key", F.to_date("date"))
        .join(
            F.broadcast(fx_lookup),
            on=[
                F.col("_date_key") == F.col("_fx_date"),
                F.col("currency") == F.col("_fx_currency"),
            ],
            how="left",
        )
        .withColumn(
            "rate",
            F.when(F.col("currency") == F.lit(base_currency), F.lit(1.0)).otherwise(
                F.col("_fx_rate")
            ),
        )
    )

    return out.withColumn("amount_base", money_round(F.col("amount") * F.col("rate"))).drop(
        "_date_key", "_fx_date", "_fx_currency", "_fx_rate"
    )


def _normalize_sales(sales: DataFrame) -> DataFrame:
    return sales.select(
        F.col("date"),
        F.col("entity"),
        F.lit("sales").alias("source"),
        F.col("invoice_id").alias("document_id"),
        F.col("account_code"),
        F.col("currency"),
        F.col("amount"),
        F.col("description"),
    )


def _normalize_expenses(expenses: DataFrame) -> DataFrame:
    return expenses.select(
        F.col("date"),
        F.col("entity"),
        F.lit("expenses").alias("source"),
        F.col("bill_id").alias("document_id"),
        F.col("account_code"),
        F.col("currency"),
        (-F.col("amount")).alias("amount"),
        F.col("description"),
    )


def _normalize_payroll(payroll: DataFrame) -> DataFrame:
    # payroll has no date: dated to the last day of its month and the
    # net amount posts negative to the salaries expense account
    # (transform.py:68-75). Do not "fix" this (SURVEY.md §7.4 item 11).
    return payroll.select(
        month_end_date(F.col("month")).cast("timestamp").alias("date"),
        F.col("entity"),
        F.lit("payroll").alias("source"),
        F.concat_ws("_", F.col("employee_id"), F.col("month")).alias("document_id"),
        F.lit(PAYROLL_EXPENSE_ACCOUNT).alias("account_code"),
        F.col("currency"),
        (-F.col("net")).alias("amount"),
        F.lit("Payroll net").alias("description"),
    )


def _normalize_inventory(inventory: DataFrame) -> DataFrame:
    # movement_type routes to COGS (issue) or inventory asset
    # (receipt/adjustment); issues post negative (transform.py:77-86).
    account = F.when(F.col("movement_type") == "issue", F.lit(_MOVEMENT_ACCOUNT["issue"]))
    for mt in ("receipt", "adjustment"):
        account = account.when(F.col("movement_type") == mt, F.lit(_MOVEMENT_ACCOUNT[mt]))
    gross = money_round(F.col("qty") * F.col("unit_cost"))
    signed = F.when(F.col("movement_type") == "issue", -gross).otherwise(gross)
    return inventory.select(
        F.col("date"),
        F.col("entity"),
        F.lit("inventory").alias("source"),
        F.concat_ws("_", F.col("sku"), F.date_format("date", "yyyy-MM-dd").cast("string")).alias(
            "document_id"
        ),
        account.alias("account_code"),
        F.col("currency"),
        signed.alias("amount"),
        F.concat_ws(" ", F.col("movement_type"), F.col("sku")).alias("description"),
    )


def to_fact_transactions(
    sales: DataFrame,
    expenses: DataFrame,
    payroll: DataFrame,
    inventory: DataFrame,
    fx: DataFrame,
    base_currency: str,
) -> DataFrame:
    """Union the four normalized sources, enrich with FX, assemble the
    curated fact table (transform.py:49-110).

    The union is column-aligned by name (all branches project the same
    8 columns first -- manual column pruning in the reference becomes a
    plain projected Union here, which Catalyst prunes further).
    """
    fact = (
        _normalize_sales(sales)
        .unionByName(_normalize_expenses(expenses))
        .unionByName(_normalize_payroll(payroll))
        .unionByName(_normalize_inventory(inventory))
        .withColumn("account_code", F.col("account_code").cast("string"))
        .withColumn("currency", F.col("currency").cast("string"))
    )

    fact = add_fx_amount_base(fact, fx, base_currency)

    fact = fact.withColumn(
        "txn_id",
        F.concat_ws("|", F.col("entity").cast("string"), F.col("source"), F.col("document_id")),
    )

    # Row-set semantics only -- NO global sort here (r10).  The
    # reference sorts its in-memory frame before writing CSV
    # (transform.py:94), but our curated format is parquet, where row
    # order is non-semantic; every boundary where file order IS
    # observable (the single-file BI/star CSV exports the goldens
    # byte-compare) re-sorts on the same keys itself
    # (plans/exports.py:88-90, plans/star.py:215).  Sorting here was
    # the close's ONLY full-fact shuffle (an Exchange
    # rangepartitioning of every row before the write) -- at 100 TB
    # that is the difference between a shuffle-free map pipeline and
    # re-shuffling the whole fact table for cosmetic file order;
    # measured 64.2 s -> 41.8 s (-35%) on the 10M-row close.
    # ``tools/stress_pipeline.py`` now asserts the fact plan carries
    # NO exchange of any kind (broadcast aside).
    return fact.select(*FACT_COLUMNS)


def kpi_monthly(fact: DataFrame, dim_accounts: DataFrame) -> DataFrame:
    """Per-entity-per-month KPI pivot (transform.py:113-128).

    ``gross_profit = Revenue + COGS`` and
    ``operating_profit = gross_profit + Expense`` -- addition, because
    COGS/Expense are already negative in the fact table.

    Pivot values are the observed non-null account types (pandas
    ``pivot_table`` drops the NaN column produced by codes outside the
    chart of accounts -- SURVEY.md §7.4 item 4); an (entity, month)
    group whose every row has a null account type still appears, with
    all-zero KPIs, and Revenue/COGS/Expense are always present.

    Scale shape: the fact input is scanned ONCE, into a pre-aggregate
    to (entity, month, account_type) -- exact decimal partial sums with
    map-side combine, so the shuffle carries ~groups-per-partition
    partial rows, not fact rows.  That table is dimension-bounded
    (entities x months x <=6 account types), so it is collected, and
    the observed-type discovery, the pivot, the zero-fill and the
    (entity, month) ordering run on the driver: one Spark query instead
    of a persist, a count, a distinct collect, a pivot, a null-group
    union and a sort (each a separate job with its own fixed planning
    cost).  Each cell is one exact decimal sum, turned into a double
    once; only the two rounded profit columns are computed in Spark.
    """
    dim = F.broadcast(dim_accounts.select("account_code", "account_type"))
    pre = (
        fact.join(dim, on="account_code", how="left")
        .groupBy("entity", month_str(F.col("date")).alias("month"), "account_type")
        .agg(F.sum(F.col("amount_base").cast("decimal(28,2)")).alias("_sum_base"))
    )
    groups: dict[tuple, dict[str, Decimal]] = {}
    for entity, month, account_type, sum_base in pre.collect():
        cells = groups.setdefault((entity, month), {})
        if account_type is not None:
            cells[account_type] = sum_base or Decimal(0)
    types = sorted({t for cells in groups.values() for t in cells})
    types += [t for t in ("Revenue", "COGS", "Expense") if t not in types]
    # Spark's ascending order: nulls first, then by value
    order = sorted(groups, key=lambda k: [(v is not None, v) for v in k])
    schema = T.StructType(
        [pre.schema["entity"], pre.schema["month"]] + [T.StructField(t, T.DoubleType()) for t in types]
    )
    wide = local_frame(
        fact.sparkSession, [(*k, *(float(groups[k].get(t, 0)) for t in types)) for k in order], schema
    ).coalesce(1)  # a few rows: one partition, one output file
    return wide.withColumn(
        "gross_profit", money_round(F.col("Revenue") + F.col("COGS"))
    ).withColumn("operating_profit", money_round(F.col("gross_profit") + F.col("Expense")))
