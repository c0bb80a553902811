"""Parse-once close (r12): the fact builds from the persisted DQ
slices with the missing-FX check riding the write's Observation, and
the written fact is promoted by rename only when clean.  These tests
pin the contracts that redesign leans on:

* ``collect_exceptions`` must treat raw shadows correctly whether they
  are DENSE (``read_csv_typed``: raw text for every row) or SPARSE
  (raw text only where the typed value is null -- the layout a staged
  or cached materialization may use), because the not_nullable check
  distinguishes "absent" from "coercion failure" through them;
* ``run_month`` must leave no scratch behind (the ``._building`` fact
  dir) on success;
* on missing FX rates, ``run_month`` must raise AND leave no curated
  fact at all (the reference's hard-error contract, now enforced by
  rename-promotion instead of an eager pre-pass).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_etl_pipeline_monthly_close_dataset_spark.config import Settings
from finance_etl_pipeline_monthly_close_dataset_spark.plans import quality
from finance_etl_pipeline_monthly_close_dataset_spark.schemas import SALES_SCHEMA
from finance_etl_pipeline_monthly_close_dataset_spark.sources.readers import (
    RAW_PREFIX,
    read_csv_typed,
)


@pytest.fixture(scope="module")
def reference_month(tmp_path_factory):
    from finance_etl_pipeline_monthly_close_dataset_spark.sample_data import (
        generate_synthetic_raw,
        write_chart_of_accounts,
    )

    root = tmp_path_factory.mktemp("parse_once")
    generate_synthetic_raw(root / "raw", month="2025-12", seed=42)
    write_chart_of_accounts(root / "ref")
    return root


DIRTY_SALES = """date,entity,invoice_id,account_code,currency,amount,description
2025-12-01,TLM,INV-1,40000001,USD,10.00,ok row
not-a-date,TLM,INV-2,40000001,USD,5.00,coercion failure on date
2025-12-03,TLM,INV-3,40000001,USD,,absent amount
2025-12-04,TLM,INV-4,40000001,XXX,oops,bad currency and bad amount text
2025-12-05,TLM,INV-5,40000001,USD,3.00,dup A
2025-12-05,TLM,INV-5,40000001,USD,4.00,dup B
"""


def _exception_set(df):
    return {
        (r["dataset"], r["index"], r["column"], r["check"], r["failure_case"])
        for r in df.collect()
    }


def test_sparse_raw_shadows_match_dense(spark, tmp_path):
    """The not_nullable/coerce_dtype pair must emit identical
    exceptions for dense shadows (raw text everywhere) and sparse
    shadows (raw text only where the typed value is null) -- the
    typed-null conjunct in collect_exceptions is what makes the sparse
    layout safe."""
    (tmp_path / "sales.csv").write_text(DIRTY_SALES)
    dense = read_csv_typed(spark, str(tmp_path / "sales.csv"), SALES_SCHEMA, with_row_id=True)
    sparse = dense.select(
        *[
            F.when(F.col(c[len(RAW_PREFIX):]).isNull(), F.col(c)).otherwise(F.lit(None)).alias(c)
            if c.startswith(RAW_PREFIX)
            else F.col(c)
            for c in dense.columns
        ]
    )
    spec = quality.build_dataset_specs(("USD", "TZS", "EUR"), "USD")["sales"]
    dense_exc = _exception_set(quality.collect_exceptions(dense, spec, persist_intermediates=False))
    sparse_exc = _exception_set(quality.collect_exceptions(sparse, spec, persist_intermediates=False))
    assert sparse_exc == dense_exc
    checks = {c for (_, _, _, c, _) in dense_exc}
    # the dirty file must actually exercise every family the shadows
    # participate in
    assert any(c.startswith("coerce_dtype") for c in checks)
    assert "not_nullable" in checks
    assert any(c.startswith("isin") for c in checks)
    assert any(c.startswith("unique_keys") for c in checks)
    # the coercion failure reports the ORIGINAL offending text
    assert ("sales", 1, "date", "coerce_dtype(timestamp)", "not-a-date") in dense_exc


def test_run_month_promotes_fact_and_cleans_scratch(spark, tmp_path, reference_month):
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import run_month

    root = reference_month
    curated = tmp_path / "curated"
    out = run_month(
        spark,
        Settings(),
        month="2025-12",
        raw_dir=root / "raw",
        curated_dir=curated,
        reference_dir=root / "ref",
        fail_on="ERROR",
    )
    assert not (curated / "fact_transactions.parquet._building").exists()
    assert (curated / "fact_transactions.parquet").exists()
    # the observed metrics came from the write action itself
    assert out["metrics"]["fact_rows"] == 236
    assert "_missing_fx_rows" not in out["metrics"]


def test_missing_fx_leaves_no_curated_fact(spark, tmp_path, reference_month):
    """Single-pass write + rename-promotion: a missing FX rate must
    still be a hard error AND must not leave a curated fact behind
    (reference transform.py:40-42 raises before any output exists; we
    write to scratch and only promote when the observed missing count
    is zero)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import run_month
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.transforms import (
        MissingFxRatesError,
    )

    root = reference_month
    bad = tmp_path / "raw_fx"
    bad.mkdir()
    for f in (root / "raw").iterdir():
        (bad / f.name).write_text(f.read_text())
    with (bad / "sales.csv").open("a") as fh:
        fh.write("2025-12-10,TLM,INV-XXX,40000001,XXX,5.0,no rate\n")
    curated = tmp_path / "curated_fx"
    with pytest.raises(MissingFxRatesError) as exc_info:
        run_month(
            spark,
            Settings(),
            month="2025-12",
            raw_dir=bad,
            curated_dir=curated,
            reference_dir=root / "ref",
            fail_on="NEVER",
        )
    # error message carries the offending (date, currency) pairs
    assert "XXX" in str(exc_info.value) and "2025-12-10" in str(exc_info.value)
    assert not (curated / "fact_transactions.parquet").exists()
    assert not (curated / "fact_transactions.parquet._building").exists()
    # audit trail was still written before the failure
    assert (curated / "dq_exceptions.csv").exists()


def test_gate_failure_still_writes_audit(spark, tmp_path, reference_month):
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import (
        DataQualityGateError,
        run_month,
    )

    root = reference_month
    bad = tmp_path / "raw_bad"
    bad.mkdir()
    for f in (root / "raw").iterdir():
        (bad / f.name).write_text(f.read_text())
    with (bad / "sales.csv").open("a") as fh:
        fh.write("2025-12-10,TLM,INV-BAD,99999999,USD,5.0,unknown account\n")
    curated = tmp_path / "curated_bad"
    with pytest.raises(DataQualityGateError):
        run_month(
            spark,
            Settings(),
            month="2025-12",
            raw_dir=bad,
            curated_dir=curated,
            reference_dir=root / "ref",
            fail_on="ERROR",
        )
    assert (curated / "dq_exceptions.csv").exists()
    assert not (curated / "fact_transactions.parquet").exists()


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _copy_raw(src, dest, extra_sales_row=None):
    dest.mkdir()
    for f in src.iterdir():
        (dest / f.name).write_text(f.read_text())
    if extra_sales_row is not None:
        with (dest / "sales.csv").open("a") as fh:
            fh.write(extra_sales_row + "\n")
    return dest


def test_close_leaves_no_cached_plan(spark, tmp_path, reference_month):
    """run_month owns its caches: neither a PASS close nor a gate-FAIL
    close leaves a plan in the session's cache manager (the fx_rates
    check slice, with two DQ consumers, used to stay cached)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import (
        DataQualityGateError,
        run_month,
    )

    root = reference_month
    spark.catalog.clearCache()
    run_month(
        spark, Settings(), month="2025-12", raw_dir=root / "raw",
        curated_dir=tmp_path / "curated_pass", reference_dir=root / "ref",
    )
    assert _cache_is_empty(spark)

    bad = _copy_raw(root / "raw", tmp_path / "raw_bad",
                    "2025-12-10,TLM,INV-X,40000001,XXX,-5.0,bad")
    with pytest.raises(DataQualityGateError):
        run_month(
            spark, Settings(), month="2025-12", raw_dir=bad,
            curated_dir=tmp_path / "curated_fail", reference_dir=root / "ref",
        )
    assert _cache_is_empty(spark)


def test_close_recovers_fact_left_aside_by_a_crash(spark, tmp_path, reference_month):
    """A crash between the two renames of the fact promotion leaves
    only ``fact_transactions.parquet__old``.  The next close restores
    it before anything else -- so even a close stopped by the gate
    leaves the previous fact whole -- and a passing close then
    replaces it and removes the aside copy."""
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import (
        DataQualityGateError,
        run_month,
    )

    root = reference_month
    curated = tmp_path / "curated"
    fact = curated / "fact_transactions.parquet"
    aside = curated / "fact_transactions.parquet__old"
    run_month(spark, Settings(), month="2025-12", raw_dir=root / "raw",
              curated_dir=curated, reference_dir=root / "ref")
    (fact / "previous-close.marker").write_text("")
    fact.rename(aside)

    bad = _copy_raw(root / "raw", tmp_path / "raw_bad",
                    "2025-12-10,TLM,INV-X,40000001,XXX,-5.0,bad")
    with pytest.raises(DataQualityGateError):
        run_month(spark, Settings(), month="2025-12", raw_dir=bad,
                  curated_dir=curated, reference_dir=root / "ref")
    assert (fact / "previous-close.marker").exists()
    assert not aside.exists()

    fact.rename(aside)
    out = run_month(spark, Settings(), month="2025-12", raw_dir=root / "raw",
                    curated_dir=curated, reference_dir=root / "ref")
    assert not aside.exists()
    assert not (fact / "previous-close.marker").exists()
    assert spark.read.parquet(str(fact)).count() == out["metrics"]["fact_rows"] == 236
