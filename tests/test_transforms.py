"""Unit tests for the core transforms (SURVEY.md §2.3-2.6 semantics)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from finance_etl_pipeline_monthly_close_dataset_spark.functions.money import money_round
from finance_etl_pipeline_monthly_close_dataset_spark.plans.transforms import (
    add_fx_amount_base,
    fx_to_base,
    kpi_monthly,
    to_fact_transactions,
)

TS = dt.datetime(2025, 12, 10)


def _fx(spark, rows=None):
    rows = rows if rows is not None else [(TS, "TZS", "USD", 0.0004), (TS, "EUR", "USD", 1.1)]
    return spark.createDataFrame(
        rows, "date timestamp, from_currency string, to_currency string, rate double"
    )


def _sales(spark, rows):
    return spark.createDataFrame(
        rows,
        "date timestamp, entity string, invoice_id string, account_code string,"
        " currency string, amount double, description string",
    )


def _empty_expenses(spark):
    return spark.createDataFrame(
        [],
        "date timestamp, entity string, bill_id string, account_code string,"
        " currency string, amount double, description string",
    )


def _empty_payroll(spark):
    return spark.createDataFrame(
        [],
        "month string, entity string, employee_id string, currency string,"
        " gross double, deductions double, net double",
    )


def _empty_inventory(spark):
    return spark.createDataFrame(
        [],
        "date timestamp, entity string, sku string, movement_type string,"
        " qty double, unit_cost double, currency string",
    )


def test_fx_base_currency_rate_is_one(spark):
    df = spark.createDataFrame([(TS, "USD", 100.0)], "date timestamp, currency string, amount double")
    out = add_fx_amount_base(df, _fx(spark), "USD").collect()[0]
    assert out["rate"] == 1.0
    assert out["amount_base"] == 100.0


def test_fx_exact_date_join_converts(spark):
    df = spark.createDataFrame(
        [(TS, "EUR", 10.0), (TS, "TZS", 1000.0)],
        "date timestamp, currency string, amount double",
    )
    rows = {r["currency"]: r for r in add_fx_amount_base(df, _fx(spark), "USD").collect()}
    assert rows["EUR"]["amount_base"] == 11.0
    assert rows["TZS"]["amount_base"] == 0.4


def test_fx_missing_rate_is_null(spark):
    """A missing rate stays a NULL ``rate``/``amount_base`` here; the
    close raises on it (test_pipeline_parse_once::test_missing_fx_leaves_no_curated_fact)."""
    df = spark.createDataFrame(
        [(dt.datetime(2025, 12, 11), "EUR", 10.0), (dt.datetime(2025, 12, 11), "USD", 10.0)],  # no EUR rate on the 11th
        "date timestamp, currency string, amount double",
    )
    rows = {r["currency"]: r for r in add_fx_amount_base(df, _fx(spark), "USD").collect()}
    assert (rows["EUR"]["rate"], rows["EUR"]["amount_base"]) == (None, None)
    assert (rows["USD"]["rate"], rows["USD"]["amount_base"]) == (1.0, 10.0)


def test_money_round_is_half_even(spark):
    # 0.125 is exactly representable: HALF_EVEN -> 0.12, HALF_UP -> 0.13
    out = spark.range(1).select(money_round(F.lit(0.125)).alias("x")).collect()[0]["x"]
    assert out == 0.12


def test_sign_conventions(spark):
    sales = _sales(spark, [(TS, "TLM", "INV-1", "40000001", "USD", 100.0, "s")])
    expenses = spark.createDataFrame(
        [(TS, "TLM", "BILL-1", "60000001", "USD", 40.0, "e")],
        "date timestamp, entity string, bill_id string, account_code string,"
        " currency string, amount double, description string",
    )
    payroll = spark.createDataFrame(
        [("2025-12", "TLM", "E1", "USD", 50.0, 10.0, 40.0)],
        "month string, entity string, employee_id string, currency string,"
        " gross double, deductions double, net double",
    )
    inventory = spark.createDataFrame(
        [
            (TS, "TLM", "SKU1", "issue", 2.0, 5.0, "USD"),
            (TS, "TLM", "SKU1", "receipt", 3.0, 5.0, "USD"),
        ],
        "date timestamp, entity string, sku string, movement_type string,"
        " qty double, unit_cost double, currency string",
    )
    fact = to_fact_transactions(sales, expenses, payroll, inventory, _fx(spark), "USD")
    by_source = {(r["source"], r["document_id"]): r for r in fact.collect()}
    assert by_source[("sales", "INV-1")]["amount"] == 100.0
    assert by_source[("expenses", "BILL-1")]["amount"] == -40.0
    assert by_source[("payroll", "E1_2025-12")]["amount"] == -40.0  # -net
    # payroll dated to month end
    assert by_source[("payroll", "E1_2025-12")]["date"] == dt.datetime(2025, 12, 31)
    issue = by_source[("inventory", "SKU1_2025-12-10")]
    # both inventory rows share a document_id; the issue (-10) and
    # receipt (+15) rows both exist
    amounts = sorted(
        r["amount"] for r in fact.collect() if r["source"] == "inventory"
    )
    assert amounts == [-10.0, 15.0]
    # issue routes to COGS account, receipt to inventory asset
    accounts = {r["amount"]: r["account_code"] for r in fact.collect() if r["source"] == "inventory"}
    assert accounts[-10.0] == "50000001"
    assert accounts[15.0] == "10000001"


def test_fact_txn_id_shape(spark):
    sales = _sales(spark, [(TS, "TLM", "INV-1", "40000001", "USD", 100.0, "s")])
    fact = to_fact_transactions(
        sales, _empty_expenses(spark), _empty_payroll(spark), _empty_inventory(spark),
        _fx(spark), "USD",
    )
    assert fact.collect()[0]["txn_id"] == "TLM|sales|INV-1"


def _coa(spark):
    return spark.createDataFrame(
        [
            ("40000001", "Sales", "Revenue"),
            ("50000001", "COGS", "COGS"),
            ("61000001", "Salaries", "Expense"),
        ],
        "account_code string, account_name string, account_type string",
    )


def _fact(spark, rows):
    return spark.createDataFrame(
        rows,
        "txn_id string, date timestamp, entity string, source string, document_id string,"
        " account_code string, currency string, amount double, rate double,"
        " amount_base double, description string",
    )


def test_kpi_pivot_profits(spark):
    fact = _fact(
        spark,
        [
            ("t1", TS, "TLM", "sales", "d1", "40000001", "USD", 100.0, 1.0, 100.0, ""),
            ("t2", TS, "TLM", "inventory", "d2", "50000001", "USD", -30.0, 1.0, -30.0, ""),
            ("t3", TS, "TLM", "payroll", "d3", "61000001", "USD", -20.0, 1.0, -20.0, ""),
        ],
    )
    row = kpi_monthly(fact, _coa(spark)).collect()[0]
    assert row["month"] == "2025-12"
    assert row["Revenue"] == 100.0
    assert row["COGS"] == -30.0
    assert row["Expense"] == -20.0
    assert row["gross_profit"] == 70.0
    assert row["operating_profit"] == 50.0


def test_kpi_missing_types_forced_to_zero(spark):
    fact = _fact(
        spark, [("t1", TS, "TLM", "sales", "d1", "40000001", "USD", 100.0, 1.0, 100.0, "")]
    )
    row = kpi_monthly(fact, _coa(spark)).collect()[0]
    assert row["COGS"] == 0.0 and row["Expense"] == 0.0
    assert row["gross_profit"] == 100.0
    assert row["operating_profit"] == 100.0
    cogs_only = _fact(
        spark, [("t1", TS, "TLM", "inventory", "d1", "50000001", "USD", -30.0, 1.0, -30.0, "")]
    )
    row = kpi_monthly(cogs_only, _coa(spark)).collect()[0]
    assert (row["Revenue"], row["COGS"], row["Expense"], row["operating_profit"]) == (0.0, -30.0, 0.0, -30.0)


def test_kpi_unknown_account_group_survives_with_zeros(spark):
    # entity whose only rows have account codes outside the COA must
    # still appear (pandas pivot keeps the group; SURVEY.md §7.4 item 4)
    fact = _fact(
        spark,
        [
            ("t1", TS, "TLM", "sales", "d1", "40000001", "USD", 100.0, 1.0, 100.0, ""),
            ("t2", TS, "UPE", "sales", "d2", "99999999", "USD", 50.0, 1.0, 50.0, ""),
        ],
    )
    rows = {r["entity"]: r for r in kpi_monthly(fact, _coa(spark)).collect()}
    assert rows["UPE"]["Revenue"] == 0.0
    assert rows["UPE"]["gross_profit"] == 0.0
    # no typed row at all: a zero row with just the required columns
    kpi = kpi_monthly(fact.filter(F.col("entity") == "UPE"), _coa(spark))
    assert kpi.columns == ["entity", "month", "Revenue", "COGS", "Expense", "gross_profit", "operating_profit"]
    assert [tuple(r) for r in kpi.collect()] == [("UPE", "2025-12", 0.0, 0.0, 0.0, 0.0, 0.0)]


def test_kpi_ordered_by_entity_month_with_exact_sums(spark):
    """Rows come back in Spark's (entity, month) order -- a null
    entity first -- and each cell is an exact decimal sum: ten 0.1s
    are 1.0, where a running double sum is 0.9999999999999999."""
    nov = dt.datetime(2025, 11, 10)
    rows = [
        ("t1", TS, "UPE", "sales", "d1", "40000001", "USD", 5.0, 1.0, 5.0, ""),
        ("t2", nov, "UPE", "sales", "d2", "40000001", "USD", 4.0, 1.0, 4.0, ""),
        ("t3", TS, None, "sales", "d3", "40000001", "USD", 3.0, 1.0, 3.0, ""),
        ("t4", nov, "TLM", "sales", "d4", "40000001", "USD", 2.0, 1.0, 2.0, ""),
    ] + [(f"p{i}", TS, "TLM", "sales", f"e{i}", "40000001", "USD", 0.1, 1.0, 0.1, "") for i in range(10)]
    kpi = kpi_monthly(_fact(spark, rows), _coa(spark))
    got = [(r["entity"], r["month"]) for r in kpi.collect()]
    assert got == [tuple(r) for r in kpi.orderBy("entity", "month").select("entity", "month").collect()]
    assert got == [(None, "2025-12"), ("TLM", "2025-11"), ("TLM", "2025-12"), ("UPE", "2025-11"), ("UPE", "2025-12")]
    assert kpi.collect()[2]["Revenue"] == 1.0


def test_fx_to_base_filters_quote_currency(spark):
    fx = _fx(spark, [(TS, "EUR", "USD", 1.1), (TS, "USD", "EUR", 0.9)])
    out = fx_to_base(fx, "USD").collect()
    assert len(out) == 1 and out[0]["from_currency"] == "EUR"


def test_feature_hash_embedding_deterministic_and_guarded(spark):
    import pytest
    from pyspark.sql import functions as F

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.text_analysis import (
        feature_hash_embedding,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "alpha beta alpha"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in feature_hash_embedding(df, dim=8).collect()}
    # identical text -> identical vector; empty doc emits no row (no tokens)
    assert [out[1][f"f{d}"] for d in range(8)] == [out[2][f"f{d}"] for d in range(8)]
    assert out[1].n_tokens == 3
    assert 3 not in out
    # signed counts are bounded by token count
    assert sum(abs(out[1][f"f{d}"]) for d in range(8)) <= 3

    with pytest.raises(ValueError):
        feature_hash_embedding(df, dim=12)
