"""Unit tests for the DQ framework (SURVEY.md §2.7 Q1-Q17)."""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import functions as F

from finance_etl_pipeline_monthly_close_dataset_spark.plans.quality import (
    add_severity,
    build_dataset_specs,
    coa_membership_check,
    collect_exceptions,
    dq_count_metrics,
    dq_gate_status,
    dq_summary_table,
    schema_shape_rows,
)

TS = dt.datetime(2025, 12, 10)

import pytest


@pytest.fixture(scope="module")
def specs(spark):
    # Column expressions need an active SparkContext -> built lazily
    return build_dataset_specs(("USD", "TZS", "EUR"), "USD")


def _sales(spark, rows):
    return spark.createDataFrame(
        rows,
        "date timestamp, entity string, invoice_id string, account_code string,"
        " currency string, amount double, description string",
    ).withColumn("_row_id", F.monotonically_increasing_id())


def test_row_level_checks_one_scan_collects_all(spark, specs):
    df = _sales(
        spark,
        [
            (TS, "TLM", "I1", "40000001", "XXX", -5.0, "bad ccy AND bad amount"),
            (TS, "TLM", "I2", "40000001", "USD", 10.0, "clean"),
            (None, "TLM", "I3", "40000001", "USD", 10.0, "null date"),
        ],
    )
    exc = collect_exceptions(df, specs["sales"]).collect()
    checks = sorted((r["column"], r["check"].split("(")[0]) for r in exc)
    assert checks == [
        ("amount", "greater_than"),
        ("currency", "isin"),
        ("date", "not_nullable"),
    ]


def test_duplicate_key_check(spark, specs):
    df = _sales(
        spark,
        [
            (TS, "TLM", "I1", "40000001", "USD", 5.0, "a"),
            (TS, "TLM", "I1", "40000001", "USD", 6.0, "b"),
        ],
    )
    exc = [r for r in collect_exceptions(df, specs["sales"]).collect() if "unique" in r["check"]]
    assert len(exc) == 1
    assert exc[0]["failure_case"] == "TLM|I1"


def test_payroll_identity(spark, specs):
    df = spark.createDataFrame(
        [
            ("2025-12", "TLM", "E1", "USD", 100.0, 20.0, 80.0),
            ("2025-12", "TLM", "E2", "USD", 100.0, 20.0, 75.0),
        ],
        "month string, entity string, employee_id string, currency string,"
        " gross double, deductions double, net double",
    )
    exc = collect_exceptions(df, specs["payroll"]).collect()
    assert len(exc) == 1 and "identity" in exc[0]["check"]


def test_schema_shape_strict(spark, specs):
    df = spark.createDataFrame([("x",)], "extra_col string")
    exc = schema_shape_rows(df, specs["fx_rates"])
    kinds = {r[3] for r in exc}
    assert "required_column_missing" in kinds and "column_not_in_schema" in kinds
    assert len(exc) == 5  # 4 missing + 1 extra


def test_severity_rules(spark):
    rows = [
        ("sales", None, "currency", "isin([...])", "XXX", "Column", None, None),
        ("sales", None, "amount", "greater_than(0)", "-5", "Column", None, None),
        ("fx_rates", None, "rate", "greater_than(0)", "-1", "Column", None, None),
        ("sales", None, "description", "required_column_missing", "d", "DataFrameSchema", None, None),
        ("sales", None, "account_code", "account_in_coa", "999", "Column", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "dataset string, index long, column string, check string, failure_case string,"
        " schema_context string, check_number int, severity string",
    )
    sev = {(r["column"], r["check"]): r["severity"] for r in add_severity(df).collect()}
    assert sev[("currency", "isin([...])")] == "ERROR"  # key column
    assert sev[("amount", "greater_than(0)")] == "WARN"  # default
    assert sev[("rate", "greater_than(0)")] == "ERROR"  # fx_rates dataset
    assert sev[("description", "required_column_missing")] == "ERROR"  # 'required'
    assert sev[("account_code", "account_in_coa")] == "ERROR"


def _exc(spark, rows):
    return spark.createDataFrame(
        rows,
        "dataset string, index long, column string, check string, failure_case string,"
        " schema_context string, check_number int, severity string",
    )


# Check names the close emits beyond the declared checks, then
# case-mapping edge cases: U+0130 lowercases to i + U+0307, U+212A
# (Kelvin) to k, U+212B (Angstrom) to a-ring; fullwidth letters and
# U+017F (long s) fold to no ASCII letter.
EMITTED_CHECKS = ["not_nullable", "required_column_missing", "column_not_in_schema", "account_in_coa"]
ADVERSARIAL_CHECKS = [
    "REQUIRED", "Required_Column_Missing", "coerce_DTYPE(timestamp)", "DType", "ACCOUNT_IN_COA", "xrequiredx",
    "REQU\u0130RED", "account_\u0130n_coa", "\u0130", "\u212Arequired", "\u212A", "\u212Bccount_in_coa",
    "\uff44\uff54\uff59\uff50\uff45", "\u017Ftype", "dty pe", "account in coa", "", None,
]


def test_severity_rule_matches_lowercase_contains(spark, specs):
    """add_severity's case-insensitive regex grades every check name the
    close emits, and names whose lowercase differs from an ASCII fold,
    as the former ``lower(coalesce(check, '')).contains`` rule did."""
    from finance_etl_pipeline_monthly_close_dataset_spark.schemas import RAW_SCHEMAS

    checks = EMITTED_CHECKS + ADVERSARIAL_CHECKS
    for name, spec in specs.items():
        checks += [c.name for c in spec.checks] + [f"unique_keys{list(keys)}" for keys in spec.unique_keys]
        checks += [f"coerce_dtype({f.dataType.simpleString()})" for f in RAW_SCHEMAS[name].fields]
    check_l = F.lower(F.coalesce(F.col("check"), F.lit("")))
    needles = check_l.contains("required") | check_l.contains("dtype") | check_l.contains("account_in_coa")
    former = F.when(needles, F.lit("ERROR")).otherwise(F.lit("WARN"))
    rows = [("sales", None, "amount", c, "x", "Column", None, None) for c in checks]
    got = {r["check"]: (r["severity"], r["former"]) for r in add_severity(_exc(spark, rows)).select(
        "check", "severity", former.alias("former")).collect()}
    assert {c: sf for c, sf in got.items() if sf[0] != sf[1]} == {}
    assert got["\u212Arequired"][0] == "ERROR" and got["REQU\u0130RED"][0] == got[None][0] == "WARN"


def test_severity_plan_holds_no_case_mapping(spark):
    """A case-mapping expression in add_severity makes the first close
    in a JVM build Spark's ICU case table (over a second) when constant
    folding evaluates it on a literal check.  The analyzed plan shows it
    before folding; the optimized plan shows it over a column-fed check."""
    exc = _exc(spark, [("sales", None, "amount", "coerce_dtype(double)", "x", "Column", None, None)])
    qe = add_severity(exc.repartition(1))._jdf.queryExecution()
    for plan in (qe.analyzed().toString(), qe.optimizedPlan().toString()):
        assert re.search(r"\b(lower|upper|initcap|ilike)\(", plan, re.IGNORECASE) is None, plan


def _counts(df):
    return df.agg(*dq_count_metrics()).first().asDict()


def test_gate_modes(spark):
    warn_only = _counts(_exc(spark, [("sales", None, "amount", "gt", "-1", "Column", None, "WARN")]))
    with_error = _counts(_exc(spark, [("sales", None, "currency", "isin", "XXX", "Column", None, "ERROR")]))
    empty = _counts(_exc(spark, []))
    assert empty["dq_exception_rows"] == 0
    assert all(v == 0 for v in empty.values())
    for fail_on in ("ERROR", "WARN", "NEVER"):
        assert dq_gate_status(empty, fail_on) == "PASS"
        # an observation Spark dropped from a collapsed plan: no counts at all
        assert dq_gate_status({}, fail_on) == "PASS"
    assert dq_gate_status(warn_only, "ERROR") == "PASS"
    assert dq_gate_status(warn_only, "WARN") == "FAIL"
    assert dq_gate_status(warn_only, "NEVER") == "PASS"
    assert dq_gate_status(with_error, "ERROR") == "FAIL"
    assert dq_gate_status(with_error, "WARN") == "FAIL"
    assert dq_gate_status(with_error, "NEVER") == "PASS"


def test_summary_zero_filled_scaffold(spark):
    exc = _exc(
        spark,
        [
            ("sales", None, "amount", "gt", "-1", "Column", None, "WARN"),
            ("fx_rates", None, "rate", "gt", "-1", "Column", None, "ERROR"),
        ],
    )
    rows = dq_summary_table(spark, _counts(exc), fail_on="ERROR").collect()
    assert [r["dataset"] for r in rows] == [
        "sales", "expenses", "payroll", "inventory_movements", "fx_rates",
    ]
    by = {r["dataset"]: r for r in rows}
    assert by["sales"]["warn_count"] == 1 and by["sales"]["status"] == "PASS"
    assert by["fx_rates"]["error_count"] == 1 and by["fx_rates"]["status"] == "FAIL"
    assert by["payroll"]["issue_count"] == 0 and by["payroll"]["status"] == "PASS"
    warn_gate = {r["dataset"]: r["status"] for r in dq_summary_table(spark, _counts(exc), "WARN").collect()}
    assert warn_gate["sales"] == "FAIL" and warn_gate["payroll"] == "PASS"


def test_check_names_with_quotes_survive_sql_text(spark, specs):
    """Checks are SQL text: a check name or an allowed value holding
    quotes or a backslash must reach the exception row verbatim and
    still match as a literal."""
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.quality import _isin_check

    allowed = ["USD", "O'Brien", 'say "hi"', "back\\slash"]
    spec = specs["sales"]
    quoted = type(spec)(
        dataset=spec.dataset, columns=spec.columns, not_null=[],
        checks=[_isin_check("currency", allowed)],
    )
    df = _sales(
        spark,
        [(TS, "TLM", f"I{i}", "40000001", ccy, 1.0, "") for i, ccy in enumerate(allowed + ["XXX"])],
    )
    exc = collect_exceptions(df, quoted).collect()
    assert [(r["failure_case"], r["check"]) for r in exc] == [("XXX", f"isin({allowed})")]
    assert specs["sales"].checks[0].name == "isin(['USD', 'TZS', 'EUR'])"


def test_dtype_coercion_check(spark, specs, tmp_path):
    """Unparseable values surface as coerce_dtype exceptions with the
    raw text as the failure case (pandera Q3 parity), severity ERROR
    (check name contains 'dtype')."""
    from finance_etl_pipeline_monthly_close_dataset_spark.schemas import SALES_SCHEMA
    from finance_etl_pipeline_monthly_close_dataset_spark.sources.readers import read_csv_typed

    p = tmp_path / "sales.csv"
    p.write_text(
        "date,entity,invoice_id,account_code,currency,amount,description\n"
        "2025-12-10,TLM,I1,40000001,USD,abc,bad amount\n"
        "not-a-date,TLM,I2,40000001,USD,5.0,bad date\n"
        "2025-12-11,TLM,I3,40000001,USD,7.5,clean\n"
        "2025-12-12,TLM,,40000001,USD,1.0,missing invoice\n"
    )
    df = read_csv_typed(spark, str(p), SALES_SCHEMA, with_row_id=True)
    exc = add_severity(collect_exceptions(df, specs["sales"])).collect()
    by_check = {(r["column"], r["check"].split("(")[0]): r for r in exc}
    amt = by_check[("amount", "coerce_dtype")]
    assert amt["failure_case"] == "abc"
    assert amt["severity"] == "ERROR"
    assert ("date", "coerce_dtype") in by_check
    # missing invoice_id is not_nullable, not a dtype failure
    assert ("invoice_id", "not_nullable") in by_check
    # typed values still parse for clean rows
    assert df.filter(F.col("amount") == 7.5).count() == 1


def _coa_spec(specs, codes):
    spec = specs["sales"]
    return type(spec)(spec.dataset, spec.columns, not_null=[], checks=[coa_membership_check(codes)])


def test_coa_membership_anti_join(spark, specs):
    """Q12: a code outside the chart is one account_in_coa exception
    row carrying that code, as the reference's left-anti join gives."""
    df = _sales(spark, [(TS, "TLM", "I1", "99999999", "USD", 5.0, "")])
    exc = collect_exceptions(df, _coa_spec(specs, ["40000001"])).collect()
    assert len(exc) == 1
    assert exc[0]["failure_case"] == "99999999"
    assert exc[0]["check"] == "account_in_coa"


def test_coa_membership_fused_matches_anti_join(spark, specs):
    """The fused literal-set check emits the (index, code) row-set of a
    left-anti join against the chart: a NULL code fails (IS NULL arm), a
    blank chart code matches nothing, an empty chart fails every row."""
    df = spark.createDataFrame(
        [
            (TS, "TLM", "I1", "99999999", "USD", 5.0, "", 0),  # unknown code
            (TS, "TLM", "I2", "40000001", "USD", 5.0, "", 1),  # known code
            (TS, "TLM", "I3", None, "USD", 5.0, "", 2),  # NULL code
        ],
        "date timestamp, entity string, invoice_id string, account_code string,"
        " currency string, amount double, description string, _row_id long",
    )
    for codes, expected in [
        (["40000001"], {(0, "99999999"), (2, None)}),
        (["40000001", None], {(0, "99999999"), (2, None)}),
        ([], {(0, "99999999"), (1, "40000001"), (2, None)}),
    ]:
        dim = spark.createDataFrame([(c,) for c in codes], "account_code string")
        anti = {(r["_row_id"], r["account_code"]) for r in df.join(dim, "account_code", "left_anti").collect()}
        exc = collect_exceptions(df, _coa_spec(specs, codes)).collect()
        assert {(r["index"], r["failure_case"]) for r in exc} == anti == expected and len(exc) == len(expected)
        assert all(
            (r["dataset"], r["column"], r["check"]) == ("sales", "account_code", "account_in_coa") for r in exc
        )

