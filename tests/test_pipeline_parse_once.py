"""Parse-once close (r12): the fact builds from the persisted DQ
slices with the missing-FX check riding the write's Observation, and
the staged fact is committed only when clean.  These tests pin the
contracts that redesign leans on:

* ``collect_exceptions`` must treat raw shadows correctly whether they
  are DENSE (``read_csv_typed``: raw text for every row) or SPARSE
  (raw text only where the typed value is null -- the layout a staged
  or cached materialization may use), because the not_nullable check
  distinguishes "absent" from "coercion failure" through them;
* ``run_month`` must leave no stage or commit scratch behind, and a
  fault anywhere after the gate must leave the previous close's
  tables (a gate failure: ``test_pipeline_e2e.py``);
* on missing FX rates, ``run_month`` must raise AND leave no curated
  fact at all (the reference's hard-error contract, enforced by the
  staged commit instead of an eager pre-pass);
* the one-pattern date coercion must flag exactly the cells the
  former two-pattern coercion flagged.
"""

from __future__ import annotations

import csv
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline as pl
from finance_etl_pipeline_monthly_close_dataset_spark.config import Settings
from finance_etl_pipeline_monthly_close_dataset_spark.plans import quality
from finance_etl_pipeline_monthly_close_dataset_spark.sample_data import generate_synthetic_raw, write_chart_of_accounts
from finance_etl_pipeline_monthly_close_dataset_spark.schemas import RAW_SCHEMAS, SALES_SCHEMA
from finance_etl_pipeline_monthly_close_dataset_spark.sources import writers
from finance_etl_pipeline_monthly_close_dataset_spark.sources.readers import (
    RAW_PREFIX,
    TIMESTAMP_FORMAT,
    read_csv_raw,
    read_csv_typed,
)


@pytest.fixture(scope="module")
def reference_month(tmp_path_factory):
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


AUDIT = ["dq_exceptions.csv", "dq_summary.csv"]
TABLES = ["dim_accounts.parquet", "fact_transactions.parquet", "kpi_monthly.parquet"]


def _names(curated) -> list[str]:
    """Everything in the curated dir: no stage or commit scratch may
    be left beside the outputs."""
    return sorted(p.name for p in curated.iterdir())


def _close(spark, raw, curated, ref, fail_on="ERROR") -> dict:
    return pl.run_month(spark, Settings(), month="2025-12", raw_dir=raw, curated_dir=curated,
                        reference_dir=ref, fail_on=fail_on)


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
    root = reference_month
    curated = tmp_path / "curated"
    out = _close(spark, root / "raw", curated, root / "ref")
    assert _names(curated) == sorted(AUDIT + TABLES)
    # the observed metrics came from the write action itself
    assert out["metrics"]["fact_rows"] == 236
    assert "_missing_fx_rows" not in out["metrics"]


def test_missing_fx_leaves_no_curated_fact(spark, tmp_path, reference_month):
    """Single-pass write + staged commit: a missing FX rate must still
    be a hard error AND must not leave a curated fact behind (reference
    transform.py:40-42 raises before any output exists; we write to the
    stage and only commit when the observed missing count is zero)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.transforms import (
        MissingFxRatesError,
    )

    root = reference_month
    bad = _copy_raw(root / "raw", tmp_path / "raw_fx", "2025-12-10,TLM,INV-XXX,40000001,XXX,5.0,no rate")
    curated = tmp_path / "curated_fx"
    with pytest.raises(MissingFxRatesError) as exc_info:
        _close(spark, bad, curated, root / "ref", fail_on="NEVER")
    # error message carries the offending (date, currency) pairs
    assert "XXX" in str(exc_info.value) and "2025-12-10" in str(exc_info.value)
    # the audit trail was still committed before the failure, and
    # nothing else
    assert _names(curated) == AUDIT


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _copy_raw(src, dest, extra_sales_row=None):
    shutil.copytree(src, dest)
    if extra_sales_row is not None:
        with (dest / "sales.csv").open("a") as fh:
            fh.write(extra_sales_row + "\n")
    return dest


def test_close_leaves_no_cached_plan(spark, tmp_path, reference_month):
    """run_month owns its caches: neither a PASS close nor a gate-FAIL
    close leaves a plan in the session's cache manager (the fx_rates
    check slice, with two DQ consumers, used to stay cached)."""
    root = reference_month
    spark.catalog.clearCache()
    _close(spark, root / "raw", tmp_path / "curated_pass", root / "ref")
    assert _cache_is_empty(spark)

    bad = _copy_raw(root / "raw", tmp_path / "raw_bad",
                    "2025-12-10,TLM,INV-X,40000001,XXX,-5.0,bad")
    with pytest.raises(pl.DataQualityGateError):
        _close(spark, bad, tmp_path / "curated_fail", root / "ref")
    assert _cache_is_empty(spark)


def test_gate_failure_still_writes_audit(spark, tmp_path, reference_month):
    root = reference_month
    bad = _copy_raw(root / "raw", tmp_path / "raw_bad",
                    "2025-12-10,TLM,INV-BAD,99999999,USD,5.0,unknown account")
    curated = tmp_path / "curated_bad"
    with pytest.raises(pl.DataQualityGateError):
        _close(spark, bad, curated, root / "ref")
    assert (curated / "dq_exceptions.csv").exists()
    assert not (curated / "fact_transactions.parquet").exists()


def test_close_recovers_fact_left_aside_by_a_crash(spark, tmp_path, reference_month):
    """A crash between the two renames of a directory promotion leaves
    only ``fact_transactions.parquet__old``.  The next close restores
    it before anything else -- so even a close stopped by the gate
    leaves the previous fact whole -- and a passing close then
    replaces it and removes the aside copy."""
    root = reference_month
    curated = tmp_path / "curated"
    fact = curated / "fact_transactions.parquet"
    aside = curated / "fact_transactions.parquet__old"
    _close(spark, root / "raw", curated, root / "ref")
    (fact / "previous-close.marker").write_text("")
    fact.rename(aside)

    bad = _copy_raw(root / "raw", tmp_path / "raw_bad",
                    "2025-12-10,TLM,INV-X,40000001,XXX,-5.0,bad")
    with pytest.raises(pl.DataQualityGateError):
        _close(spark, bad, curated, root / "ref")
    assert (fact / "previous-close.marker").exists()
    assert not aside.exists()

    fact.rename(aside)
    out = _close(spark, root / "raw", curated, root / "ref")
    assert not aside.exists()
    assert not (fact / "previous-close.marker").exists()
    assert spark.read.parquet(str(fact)).count() == out["metrics"]["fact_rows"] == 236


# -- one staged commit: fault injection ---------------------------------------


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _table_rows(spark, curated: Path) -> dict[str, list]:
    return {t: sorted(map(tuple, spark.read.parquet(str(curated / t)).collect())) for t in TABLES}


@pytest.fixture(scope="module")
def closes(spark, reference_month, tmp_path_factory):
    """A previous close of other data (seed 7), to close over, and a
    clean close of the new month: seed 42 plus a duplicate sales row, a
    WARN, so that its audit pair differs from the previous one too."""
    root = tmp_path_factory.mktemp("commit")
    generate_synthetic_raw(root / "raw_prev", month="2025-12", seed=7)
    raw = reference_month / "raw"
    _copy_raw(raw, root / "raw", (raw / "sales.csv").read_text().splitlines()[1])
    _close(spark, root / "raw_prev", root / "previous", reference_month / "ref")
    _close(spark, root / "raw", root / "clean", reference_month / "ref")
    return root, reference_month / "ref"


def _raise_after_writing(table: str):
    write = pl.write_parquet

    def wrapper(df, path, *args, **kwargs):
        write(df, path, *args, **kwargs)
        if Path(path).name == table:
            raise RuntimeError(f"injected after the {table} write")

    return wrapper


def _raise(*args, **kwargs):
    raise RuntimeError("injected")


@pytest.mark.parametrize(
    "name, fault",
    [
        ("write_parquet", _raise_after_writing("fact_transactions.parquet")),
        ("kpi_monthly", _raise),
        ("write_parquet", _raise_after_writing("dim_accounts.parquet")),
        ("write_parquet", _raise_after_writing("kpi_monthly.parquet")),
    ],
    ids=["after_fact_write", "inside_kpi_monthly", "after_dim_write", "after_kpi_write"],
)
def test_fault_after_the_gate_keeps_the_previous_tables(spark, closes, tmp_path, monkeypatch, name, fault):
    """The curated dir holds exactly the previous close's tables and
    the new audit pair, which was committed before the gate."""
    (root, ref), curated = closes, tmp_path / "curated"
    shutil.copytree(root / "previous", curated)
    want = {**_tree_bytes(curated), **{f: (root / "clean" / f).read_bytes() for f in AUDIT}}
    assert want != _tree_bytes(curated)
    monkeypatch.setattr(pl, name, fault)
    with pytest.raises(RuntimeError, match="injected"):
        _close(spark, root / "raw", curated, ref)
    assert _tree_bytes(curated) == want
    assert _names(curated) == sorted(AUDIT + TABLES)


def test_crash_inside_the_commit_is_finished_by_the_next_close(spark, closes, tmp_path, monkeypatch):
    """A crash after the table commit's first entry has moved leaves a
    mixed directory plus ``_commit``; the next close's start rolls the
    commit forward before anything else (here that close then stops on
    a missing extract), and a passing close afterwards equals a clean
    close."""
    (root, ref), curated = closes, tmp_path / "curated"
    shutil.copytree(root / "previous", curated)
    promote, moved = writers.promote_dir, []

    def promote_then_crash(built, path):
        promote(built, path)
        moved.append(Path(path).name)
        raise RuntimeError("injected")

    monkeypatch.setattr(writers, "promote_dir", promote_then_crash)
    with pytest.raises(RuntimeError, match="injected"):
        _close(spark, root / "raw", curated, ref)
    monkeypatch.undo()
    assert moved == TABLES[:1] and _names(curated / "_commit") == TABLES[1:]
    # the committed set: what has moved, plus what _commit still holds
    want = {k.removeprefix("_commit/"): v for k, v in _tree_bytes(curated).items()
            if k.split("/")[0] not in TABLES[1:]}

    no_sales = _copy_raw(root / "raw", tmp_path / "raw_no_sales")
    (no_sales / "sales.csv").unlink()
    with pytest.raises(FileNotFoundError):
        _close(spark, no_sales, curated, ref)
    assert _tree_bytes(curated) == want and _names(curated) == sorted(AUDIT + TABLES)

    _close(spark, root / "raw", curated, ref)
    assert _names(curated) == sorted(AUDIT + TABLES)
    assert _table_rows(spark, curated) == _table_rows(spark, root / "clean")
    assert {f: (curated / f).read_bytes() for f in AUDIT} == {f: (root / "clean" / f).read_bytes() for f in AUDIT}


# Date strings on both sides of the parse: dates and date-times, then
# near misses (short fields, other separators, padding, out-of-range
# fields, a partial or fractional time).
WELL_FORMED_DATES = ["2025-12-05", "2025-12-05 10:11:12", "2024-02-29", "2025-12-05 23:59:59"]
MALFORMED_DATES = [
    "2025-12-5", "2025-1-05", "2025-12-05T10:11:12", " 2025-12-05", "2025-12-05 ", "2025-12-05  10:11:12",
    "2025-13-01", "2025-02-30", "2025-12-05 24:00:00", "2025-12-05 10:11:60", "2025-12-05 10:11",
    "2025-12-05 1:2:3", "2025-12-05 10:11:12.5", "2025-12-05 10:11:12.123456", "25-12-05", "+2025-12-05",
]


def _two_pattern(raw):
    """The close's date coercion before the one optional-section pattern."""
    return F.coalesce(F.try_to_timestamp(raw, F.lit("yyyy-MM-dd HH:mm:ss")), F.try_to_timestamp(raw, F.lit("yyyy-MM-dd")))


def test_one_pattern_date_coercion_matches_two_patterns(spark):
    df = spark.createDataFrame([(s,) for s in WELL_FORMED_DATES + MALFORMED_DATES + ["", None]], "raw string")
    one = F.try_to_timestamp(F.col("raw"), F.lit(TIMESTAMP_FORMAT))
    rows = df.select("raw", one.alias("one"), _two_pattern(F.col("raw")).alias("two")).collect()
    assert [r for r in rows if r["one"] != r["two"]] == []
    assert [r["raw"] for r in rows if r["one"] is not None] == WELL_FORMED_DATES


def test_malformed_dates_raise_the_same_coercion_exceptions(spark, tmp_path, reference_month):
    """A month with malformed dates in every dated extract reports, as
    ``coerce_dtype(timestamp)`` exceptions, exactly the cells the
    two-pattern coercion left null."""
    root = reference_month
    raw = _copy_raw(root / "raw", tmp_path / "raw_dates")
    extras = {
        "sales": "{},TLM,INV-D{},40000001,USD,5.0,dated",
        "expenses": "{},TLM,BILL-D{},50000001,USD,5.0,dated",
        "inventory_movements": "{},TLM,SKU-D{},IN,1.0,2.0,USD",
        "fx_rates": "{},USD,TZS{},2500.0",
    }
    expected = set()
    for name, row in extras.items():
        with (raw / f"{name}.csv").open("a") as fh:
            fh.writelines(row.format(d, i) + "\n" for i, d in enumerate(MALFORMED_DATES + WELL_FORMED_DATES))
        df = read_csv_raw(spark, str(raw / f"{name}.csv"), RAW_SCHEMAS[name], with_row_id=True)
        # the audit CSV writer trims the padded cells
        expected |= {(name, str(r["_row_id"]), r["date"].strip())
                     for r in df.filter(_two_pattern(F.col("date")).isNull() & F.col("date").isNotNull()).collect()}
    assert len(expected) == len(extras) * len(MALFORMED_DATES)

    curated = tmp_path / "curated"
    with pytest.raises(pl.DataQualityGateError):
        _close(spark, raw, curated, root / "ref")
    with (curated / "dq_exceptions.csv").open(newline="") as fh:
        got = {(r["dataset"], r["index"], r["failure_case"])
               for r in csv.DictReader(fh) if r["check"] == "coerce_dtype(timestamp)"}
    assert got == expected
