"""End-to-end monthly-close orchestration (SURVEY.md §3.1).

Mirrors ``run_month`` in the reference's
``src/finance_etl/pipeline.py:50-191``:

read typed CSVs -> collect ALL DQ exceptions -> severity -> write
audit CSVs (ALWAYS, even when about to fail) -> gate -> month-window
filter -> FX prep -> fact build -> KPI pivot -> Parquet sinks.

Lazy-engine adaptation (SURVEY.md §7.4 item 7): the DQ sweep's one
action is the write of ``dq_exceptions.csv``.  An Observation on that
write counts the exceptions per (dataset, severity); the gate and the
five-row summary are decided from those counts on the driver, the
summary is written, and only then can the gate raise.  Nothing is
cached for the gate or re-read from the audit file.  The close then
proceeds from the ORIGINAL typed inputs (validation is a side-channel,
not a transform -- Q17; since r12 the big inputs flow through the
persisted slice projections of those same typed frames, so the one DQ
parse also feeds the fact).  The fact write is single-pass (r12): the
missing-FX hard error rides the write's Observation instead of an
eager pre-pass.  The KPI is one collected pre-aggregate of the written
fact, pivoted on the driver.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import Settings
from ..functions.datetime_fns import month_window
from ..schemas import (
    COA_SCHEMA,
    DQ_EXCEPTIONS_SCHEMA,
    EXPENSES_SCHEMA,
    FX_SCHEMA,
    INVENTORY_SCHEMA,
    PAYROLL_SCHEMA,
    SALES_SCHEMA,
)
from ..sources.readers import ROW_ID_COL, local_frame, read_csv, read_csv_typed
from ..sources.writers import STAGING, commit_dir, recover_commit, write_csv_single_file, write_parquet
from .quality import (
    add_severity,
    build_dataset_specs,
    checked_slice,
    coa_membership_check,
    collect_exceptions,
    dq_count_metrics,
    dq_gate_status,
    dq_summary_table,
    schema_shape_rows,
)
from .transforms import (
    MissingFxRatesError,
    fx_to_base,
    kpi_monthly,
    to_fact_transactions,
)


class DataQualityGateError(ValueError):
    """Raised when the DQ gate fails (reference pipeline.py:145-146)."""


def plan_has_month_partition_filter(plan: str) -> bool:
    """True iff the formatted plan's PartitionFilters entry ITSELF
    carries the month predicate.  'month' appearing anywhere in the
    plan text is weak -- it also shows up in PushedFilters and the
    output schema, so a reader that scans every partition could still
    pass the loose check (ADVICE r12).  Shared by the lake-pruning
    assertion in tools/stress_pipeline.py and the golden-scale e2e."""
    import re

    return bool(re.search(r"PartitionFilters: \[[^\]]*month", plan))


# the membership check inlines the chart's codes as a literal set, so a
# larger chart is refused: an oversized literal bloats codegen and the
# driver (module-level so tests can monkeypatch it)
COA_MAX_ACCOUNTS = 10_000


class ChartOfAccountsTooLargeError(ValueError):
    """The chart of accounts has more than ``COA_MAX_ACCOUNTS`` rows."""


def read_chart_of_accounts(spark: SparkSession, path: str | Path) -> tuple[list[str], DataFrame]:
    """The chart of accounts, parsed and collected once: its account
    codes for ``coa_membership_check``, and ``dim_accounts`` built from
    the same rows as a one-partition local relation, which feeds both
    the dim parquet write and the KPI join without re-parsing the CSV.
    Raises ``ChartOfAccountsTooLargeError`` over ``COA_MAX_ACCOUNTS``
    rows."""
    rows = read_csv(spark, str(path), COA_SCHEMA).limit(COA_MAX_ACCOUNTS + 1).collect()
    if len(rows) > COA_MAX_ACCOUNTS:
        raise ChartOfAccountsTooLargeError(
            f"{path} has more than {COA_MAX_ACCOUNTS} accounts, the most the membership check inlines"
        )
    dim_accounts = local_frame(spark, [tuple(r) for r in rows], COA_SCHEMA).coalesce(1)
    return [r["account_code"] for r in rows], dim_accounts


def _observed(obs: Observation, metrics: list[Column], read_back) -> dict:
    """``obs``'s metrics, taken on the write that just ran.  Spark can
    drop an observation from a plan it collapsed (empty-relation
    propagation on a zero-row month), so when no metrics row came back
    the same ``metrics`` are aggregated over the written output,
    ``read_back()`` -- by definition a tiny table in that case."""
    try:
        got = obs.get
    except Exception:  # noqa: BLE001 - the JVM raises when no metrics row exists
        got = {}
    return dict(got) if got else read_back().agg(*metrics).first().asDict()


def run_month(
    spark: SparkSession,
    settings: Settings,
    month: str,
    raw_dir: str | Path | None,
    curated_dir: str | Path,
    reference_dir: str | Path,
    fail_on: str = "ERROR",
    lake_dir: str | Path | None = None,
    raw_lake_dir: str | Path | None = None,
) -> dict[str, Path]:
    """Run the monthly close. ``lake_dir``, if given, additionally
    upserts this month's fact rows into a month-partitioned parquet
    lake (``fact_transactions/month=YYYY-MM/``): with dynamic
    partition overwrite only the processed month's partition is
    replaced, and downstream month filters prune to one partition
    instead of scanning history.

    ``raw_lake_dir`` selects the LAKE-FED close (r13): the five raw
    datasets are read from the typed parquet lake that
    ``sources.raw_lake.ingest_raw_to_lake`` wrote (partition-pruned to
    this month) instead of being string-parsed from CSV.  Every stage
    downstream of the read -- all DQ families including coercion (the
    lake stores sparse ``_raw_`` shadows), gate, fact, KPI -- runs the
    IDENTICAL plan code, so the two modes are output-equal by
    construction (pinned by tests/test_raw_lake.py); what changes is
    the dq_sweep's floor, which was the CSV parse (PLANS.md r12).

    Every output is staged under ``curated/_staging/`` and published
    by ``commit_dir`` twice: the audit pair before the gate can raise,
    then fact, ``dim_accounts`` and ``kpi_monthly`` together, so an
    error after the gate leaves the previous three tables (PLANS.md
    "One commit path")."""
    fail_on = (fail_on or "ERROR").upper().strip()
    if fail_on not in {"ERROR", "WARN", "NEVER"}:
        raise ValueError("fail_on must be one of: ERROR, WARN, NEVER")
    if raw_dir is None and raw_lake_dir is None:
        raise ValueError("one of raw_dir / raw_lake_dir is required")
    if raw_dir is not None and raw_lake_dir is not None:
        # ADVICE r13: silently preferring the lake here meant a user
        # pointing at fresh CSVs while an old lake path was still set
        # got stale-lake results with no signal -- refuse instead.
        raise ValueError(
            "ambiguous input source: both raw_dir and raw_lake_dir were "
            "provided; pass exactly one"
        )

    # per-stage wall clock (r10): regressions in the close attribute to
    # a STAGE, not just the total -- surfaced via outputs["stage_seconds"]
    # and printed by tools/stress_pipeline.py
    import time as _time

    _stages: dict[str, float] = {}
    _t0 = _time.perf_counter()

    def _mark(stage: str) -> None:
        nonlocal _t0
        now = _time.perf_counter()
        _stages[stage] = round(now - _t0, 2)
        _t0 = now

    raw_dir = Path(raw_dir) if raw_dir is not None else None
    curated_dir, reference_dir = Path(curated_dir), Path(reference_dir)
    # read before anything is written: a refused chart leaves the
    # curated directory as it was
    coa_codes, dim_accounts = read_chart_of_accounts(spark, reference_dir / "chart_of_accounts.csv")
    os.makedirs(curated_dir, exist_ok=True)
    # finish or discard an interrupted close's commit first, so even a
    # close that stops at the gate leaves one complete previous close
    recover_commit(str(curated_dir))
    stage = curated_dir / STAGING
    out_fact = curated_dir / "fact_transactions.parquet"
    out_dim = curated_dir / "dim_accounts.parquet"
    out_kpi = curated_dir / "kpi_monthly.parquet"
    staged_fact = str(stage / out_fact.name)

    # -- raw scans (typed, no inference) -------------------------------------
    # Parse-once for the BIG inputs (r12, judge ask #1, MEASURED
    # design): sales+expenses are parsed once, persisted as the DQ
    # slices, and every later consumer -- both DQ families AND the
    # fact build -- reads the cache.  Three alternatives were measured
    # at the exclusive 100M stress before landing here (PLANS.md r12):
    #   * r11 shape (fact re-parses CSV + eager FX-check pass):
    #     98.2 s, fact_write 49.6 s;
    #   * lz4 parquet staging of the typed parse: fact_write fell to
    #     29.1 s but the 33 s stage write + slower cache-less DQ made
    #     the close 125.3 s -- a stage write costs more than the
    #     rescan it saves on this storage;
    #   * persisting ALL four datasets: cache residency past the
    #     driver heap, eviction churn, dq_sweep 31 -> 95 s;
    # so the shared materialization is the MEMORY_AND_DISK cache the
    # sales/expenses DQ slices already used, now ALSO feeding the
    # fact, with the fact write made single-pass (see below).
    if raw_lake_dir is not None:
        # lake-fed close: the parse was paid once at ingest; these are
        # partition-pruned columnar scans of the SAME typed+sparse-shadow
        # shape read_csv_typed produces, so everything below is
        # mode-agnostic
        from ..sources.raw_lake import read_raw_lake

        sales = read_raw_lake(spark, raw_lake_dir, "sales", month)
        expenses = read_raw_lake(spark, raw_lake_dir, "expenses", month)
        payroll = read_raw_lake(spark, raw_lake_dir, "payroll", month)
        inventory = read_raw_lake(spark, raw_lake_dir, "inventory_movements", month)
        fx_rates = read_raw_lake(spark, raw_lake_dir, "fx_rates", month)
    else:
        sales = read_csv_typed(spark, str(raw_dir / "sales.csv"), SALES_SCHEMA, with_row_id=True)
        expenses = read_csv_typed(spark, str(raw_dir / "expenses.csv"), EXPENSES_SCHEMA, with_row_id=True)
        payroll = read_csv_typed(spark, str(raw_dir / "payroll.csv"), PAYROLL_SCHEMA, with_row_id=True)
        inventory = read_csv_typed(
            spark, str(raw_dir / "inventory_movements.csv"), INVENTORY_SCHEMA, with_row_id=True
        )
        fx_rates = read_csv_typed(spark, str(raw_dir / "fx_rates.csv"), FX_SCHEMA, with_row_id=True)

    frames = {
        "sales": sales,
        "expenses": expenses,
        "payroll": payroll,
        "inventory_movements": inventory,
        "fx_rates": fx_rates,
    }

    # -- DQ collection (pandera-lazy equivalent: ALL failures) ---------------
    # sales/expenses fan into THREE consumers (the row-level explode --
    # which since r11 includes the COA membership check as a fused
    # literal-set predicate -- the uniqueness group-by, and since r12
    # the fact build), so their declared-column slices persist once
    # here and all consumers read the cache -- one CSV scan each.  The
    # close owns every cache it makes, so the other datasets go to
    # collect_exceptions with persist_intermediates=False: fx_rates, the
    # one with two consumers (row checks + uniqueness), is days x
    # currencies rows, cheaper to scan twice than to cache and release.
    specs = build_dataset_specs(settings.allowed_currencies, settings.base_currency)
    # Q12: chart membership is one more row-level check, in the same scan
    coa_check = coa_membership_check(coa_codes)
    for name in ("sales", "expenses"):
        specs[name].checks.append(coa_check)

    # Cache ONLY sales+expenses (80% of close rows), and ONLY in CSV
    # mode.  Extending the persist to payroll/inventory was measured at
    # the exclusive 100M stress: the extra residency pushes the storage
    # pool past the driver heap and the eviction churn blew dq_sweep up
    # 31 -> 95 s (PLANS.md r12).  The two small datasets re-parse once
    # for the fact instead -- 20% of the rows, linear cost, zero cache
    # pressure.
    # Lake mode skips the persist entirely (r13, measured at 100M): the
    # cache exists to avoid re-PARSING CSV text, but a lake consumer
    # re-reads column-pruned columnar pages -- the uniqueness group-by
    # touches 2-3 columns, the fact ~7 -- which costs less than
    # serializing 80M wide rows into the storage pool.
    lake_mode = raw_lake_dir is not None
    slices = {
        name: checked_slice(frames[name], specs[name])
        for name in ("sales", "expenses")
    }
    if not lake_mode:
        slices = {name: df.persist() for name, df in slices.items()}
    # whatever stops the close, it leaves no slice cache and no stage
    try:
        # driver-side shape checks: one local relation, and none at all on
        # a well-formed month
        shape_rows = [r for name, df in frames.items() for r in schema_shape_rows(df, specs[name])]
        parts = [local_frame(spark, shape_rows, DQ_EXCEPTIONS_SCHEMA)] if shape_rows else []
        for name, df in frames.items():
            checked = slices.get(name, df)
            # lake mode reads the ingest-materialized uniqueness exceptions
            # (r14): the month partition is immutable, so its duplicate-key
            # set was computed once at ingest -- the close-side group-by
            # shuffle on the two biggest datasets' string keys disappears.
            # A pre-r14 lake returns None here and the group-by fallback
            # inside collect_exceptions runs as before.
            pre_unique = None
            if lake_mode and specs[name].unique_keys:
                from ..sources.raw_lake import read_lake_unique_exceptions

                pre_unique = read_lake_unique_exceptions(spark, raw_lake_dir, name, month)
            parts.append(
                collect_exceptions(
                    checked,
                    specs[name],
                    persist_intermediates=False,
                    precomputed_unique=pre_unique,
                )
            )
        exceptions = reduce(DataFrame.unionByName, parts)

        # The sweep's one action is the audit write itself: the
        # exceptions stream once into dq_exceptions.csv while an
        # Observation counts them per (dataset, severity) -- all the gate
        # and the summary need.  repartition(1), not coalesce(1): the
        # shuffle keeps the scan and the checks parallel and only the
        # (exception-sized) file write runs as one task; coalesce(1) would
        # pull the whole sweep into a single task.
        dq_exceptions_path = curated_dir / "dq_exceptions.csv"
        dq_summary_path = curated_dir / "dq_summary.csv"
        staged_exceptions = str(stage / dq_exceptions_path.name)
        dq_obs, dq_metrics = Observation("dq_counts"), dq_count_metrics()
        write_csv_single_file(
            add_severity(exceptions).observe(dq_obs, *dq_metrics).repartition(1), staged_exceptions
        )
        dq_counts = _observed(
            dq_obs, dq_metrics, lambda: read_csv(spark, staged_exceptions, DQ_EXCEPTIONS_SCHEMA)
        )
        _mark("dq_sweep")

        # audit trail is committed BEFORE the gate can raise (pipeline.py:141-146)
        summary = dq_summary_table(spark, dq_counts, fail_on=fail_on)
        write_csv_single_file(summary, str(stage / dq_summary_path.name))
        commit_dir(str(stage), str(curated_dir))
        _mark("dq_audit_write")

        if dq_gate_status(dq_counts, fail_on=fail_on) == "FAIL":
            raise DataQualityGateError(
                f"Data quality checks failed. See {dq_exceptions_path} and {dq_summary_path}"
            )

        # -- month window (half-open [start, next-month-start)) --------------
        start_ts, end_ts = month_window(month)
        in_window = (F.col("date") >= F.lit(start_ts)) & (F.col("date") < F.lit(end_ts))

        # The fact builds its BIG inputs from the persisted slices (r12):
        # the slices hold every column the normalizers project
        # (spec.columns covers them), so sales/expenses enter the fact from
        # the one CSV parse the DQ sweep already materialized, not a
        # re-parse.  r10 measured this swap as a no-op at 10M (fact was
        # FX+encode bound there), but at 100M the balance is parse-bound
        # (r11 decomposition) and the swap plus the single-pass write below
        # is what retires the re-parse.  payroll/inventory stay on their
        # original scans -- see the cache-sizing note above.  Q17's
        # adaptation is unchanged semantically: the slice projection is the
        # ORIGINAL typed input, validation stays a side-channel.
        v_sales = slices["sales"].filter(in_window).drop(ROW_ID_COL)
        v_exp = slices["expenses"].filter(in_window).drop(ROW_ID_COL)
        v_inv = inventory.filter(in_window).drop(ROW_ID_COL)
        v_pay = payroll.filter(F.col("month") == F.lit(month)).drop(ROW_ID_COL)
        v_fx = fx_rates.drop(ROW_ID_COL)

        # -- fact + KPI (one lazy plan until the writes) ----------------------
        # Missing FX is enforced here and only here: the fact write
        # observes sum(rate IS NULL) -- zero extra scans -- into the stage,
        # and a non-zero count raises before the table commit, so the
        # reference's hard-error contract ("no curated fact on missing
        # FX") holds exactly; the offending (date, currency) pairs for the
        # error message come from a pruned scan of the staged fact, paid
        # only in the error path.
        fx = fx_to_base(v_fx, settings.base_currency)
        fact = to_fact_transactions(v_sales, v_exp, v_pay, v_inv, fx, settings.base_currency)

        # close-run metrics ride the write action itself (Observation API):
        # row count, base-amount total, source breadth and the missing-FX
        # count cost no extra scan
        fact_stats = [
            F.count(F.lit(1)).alias("fact_rows"),
            F.sum(F.col("amount_base").cast("decimal(28,2)")).cast("double").alias("total_amount_base"),
            F.approx_count_distinct("source").alias("n_sources"),
            F.sum(F.col("rate").isNull().cast("long")).alias("_missing_fx_rows"),
        ]
        obs = Observation("fact_stats")
        write_parquet(fact.observe(obs, *fact_stats), staged_fact)
        fact_metrics = _observed(obs, fact_stats, lambda: spark.read.parquet(staged_fact))
        if fact_metrics.pop("_missing_fx_rows", 0):
            pairs = [
                (str(r["date_key"]), r["currency"])
                for r in spark.read.parquet(staged_fact)
                .filter(F.col("rate").isNull())
                .select(F.to_date("date").alias("date_key"), "currency")
                .distinct()
                .limit(20)
                .collect()
            ]
            raise MissingFxRatesError(f"Missing FX rates for: {pairs}")
        _mark("fact_write")

        # Build the KPI from the fact we just WROTE, not from the fact's
        # logical plan (r10): re-executing the plan form would re-parse
        # every raw CSV and redo the FX join, while the written fact is
        # columnar and already enriched, so the KPI pre-aggregate is a
        # column-pruned parquet scan of exactly the 4 KPI columns.
        # Row-set identical by construction (parquet round-trips doubles
        # exactly); measured 41.8 s -> 35.2 s on the 10M close, on top of
        # the sort removal's 64.2 -> 41.8.  kpi_monthly runs one query: the
        # dimension-bounded pre-aggregate, collected; the pivot happens on
        # the driver.  That scan lands in "kpi_agg"; "kpi_dim_write" is
        # the two parquet sinks and the table commit.
        kpi = kpi_monthly(spark.read.parquet(staged_fact), dim_accounts)
        _mark("kpi_agg")

        write_parquet(dim_accounts, str(stage / out_dim.name))
        write_parquet(kpi, str(stage / out_kpi.name))
        commit_dir(str(stage), str(curated_dir))
        _mark("kpi_dim_write")
    finally:
        for s in slices.values():
            s.unpersist()
        shutil.rmtree(stage, ignore_errors=True)

    if lake_dir is not None:
        # the commit renamed the staged fact away: read the committed one
        lake_fact = Path(lake_dir) / "fact_transactions"
        write_parquet(
            spark.read.parquet(str(out_fact)).withColumn("month", F.date_format("date", "yyyy-MM")),
            str(lake_fact),
            partition_by=["month"],
        )
        _mark("lake_write")

    outputs = {
        "dq_exceptions": dq_exceptions_path,
        "dq_summary": dq_summary_path,
        "fact": out_fact,
        "dim_accounts": out_dim,
        "kpi": out_kpi,
    }
    outputs["metrics"] = {"dq_exception_rows": dq_counts["dq_exception_rows"], **fact_metrics}
    outputs["stage_seconds"] = _stages
    return outputs
