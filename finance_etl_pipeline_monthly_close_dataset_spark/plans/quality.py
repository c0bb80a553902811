"""Declarative data-quality framework (SURVEY.md §2.7 Q1-Q17).

The reference validates raw frames with pandera schemas and collects
ALL failures into a ``failure_cases`` table with severities and a
PASS/FAIL gate (``/root/reference/src/finance_etl/quality.py``). Here
the same checks are data -- a ``DatasetSpec`` per raw dataset -- and
compile to DataFrame plans that emit exception rows in the reference's
shape: ``(dataset, index, column, check, failure_case, schema_context,
check_number, severity)``.

Scale design: all row-level checks for a dataset evaluate in ONE scan.
Each check is a SQL predicate; it becomes an ``IF(fail, named_struct(...),
NULL)`` slot of an array that is filtered and exploded -- no per-check
re-scan, no driver-side row iteration. Key-uniqueness checks are a
groupBy (one shuffle on a small projection); COA membership is one
more row-level check, with the chart's codes as a literal set.  The
gate and the summary need only per-(dataset, severity) counts, which an
Observation collects on the audit write itself (``dq_count_metrics``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import DQ_EXCEPTIONS_SCHEMA, DQ_SUMMARY_SCHEMA
from ..sources.readers import RAW_PREFIX, ROW_ID_COL, local_frame

DATASETS = ["sales", "expenses", "payroll", "inventory_movements", "fx_rates"]
SEVERITIES = ["ERROR", "WARN"]

# Columns whose failures are critical (reference quality.py:153-164).
ERROR_COLUMNS = {
    "account_code",
    "date",
    "invoice_id",
    "bill_id",
    "employee_id",
    "sku",
    "currency",
    "from_currency",
    "to_currency",
    "rate",
}


@dataclass(frozen=True)
class ColumnCheck:
    """A row-level check: rows where the SQL predicate ``fail`` holds
    become exceptions."""

    column: str
    name: str
    fail: str


@dataclass(frozen=True)
class DatasetSpec:
    """All declared checks for one raw dataset."""

    dataset: str
    columns: list[str]
    not_null: list[str]
    checks: list[ColumnCheck] = field(default_factory=list)
    unique_keys: list[tuple[str, ...]] = field(default_factory=list)


def _sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _isin_check(column: str, allowed: list[str]) -> ColumnCheck:
    values = ", ".join(_sql_str(v) for v in allowed)
    return ColumnCheck(
        column, f"isin({allowed})", f"`{column}` IS NOT NULL AND `{column}` NOT IN ({values})"
    )


def coa_membership_check(account_codes: list[str]) -> ColumnCheck:
    """Q12 in the row-level family: account_code ∈ chart of accounts as
    a literal-set membership check evaluated in the SAME single scan as
    the other row-level checks.  Valid because the chart of accounts is
    driver-sized (reference chart_of_accounts.csv, dozens of rows;
    ``pipeline.read_chart_of_accounts`` refuses a large one), so the
    membership set is a literal -- cheaper to ship than a broadcast
    table.  Set-membership semantics (reference pipeline.py:30-47): a
    NULL code is in no set and fails, hence the explicit IS NULL arm; a
    NULL in the chart matches nothing; against an empty chart every row
    fails."""
    codes = ", ".join(_sql_str(c) for c in account_codes if c is not None)
    if not codes:
        return ColumnCheck("account_code", "account_in_coa", "TRUE")
    return ColumnCheck(
        "account_code", "account_in_coa", f"account_code IS NULL OR account_code NOT IN ({codes})"
    )


def build_dataset_specs(
    allowed_currencies: tuple[str, ...], base_currency: str
) -> dict[str, DatasetSpec]:
    """The check inventory -- mirrors the five pandera schemas at
    reference quality.py:16-95."""
    ccy = list(allowed_currencies)
    return {
        "sales": DatasetSpec(
            dataset="sales",
            columns=["date", "entity", "invoice_id", "account_code", "currency", "amount", "description"],
            not_null=["date", "entity", "invoice_id", "account_code", "currency", "amount"],
            checks=[
                _isin_check("currency", ccy),
                ColumnCheck("amount", "greater_than(0)", "amount <= 0"),
            ],
            unique_keys=[("entity", "invoice_id")],
        ),
        "expenses": DatasetSpec(
            dataset="expenses",
            columns=["date", "entity", "bill_id", "account_code", "currency", "amount", "description"],
            not_null=["date", "entity", "bill_id", "account_code", "currency", "amount"],
            checks=[
                _isin_check("currency", ccy),
                ColumnCheck("amount", "greater_than(0)", "amount <= 0"),
            ],
            unique_keys=[("entity", "bill_id")],
        ),
        "payroll": DatasetSpec(
            dataset="payroll",
            columns=["month", "entity", "employee_id", "currency", "gross", "deductions", "net"],
            not_null=["month", "entity", "employee_id", "currency", "gross", "deductions", "net"],
            checks=[
                _isin_check("currency", ccy),
                ColumnCheck("gross", "greater_than_or_equal_to(0)", "gross < 0"),
                ColumnCheck("deductions", "greater_than_or_equal_to(0)", "deductions < 0"),
                ColumnCheck("net", "greater_than_or_equal_to(0)", "net < 0"),
                # payroll identity |gross - deductions - net| < 0.01
                # (reference quality.py:59-65, dataset-level there;
                # row-level here gives a better audit trail)
                ColumnCheck(
                    "net",
                    "payroll_identity(gross-deductions=net)",
                    "abs(gross - deductions - net) >= 0.01D",
                ),
            ],
        ),
        "inventory_movements": DatasetSpec(
            dataset="inventory_movements",
            columns=["date", "entity", "sku", "movement_type", "qty", "unit_cost", "currency"],
            not_null=["date", "entity", "sku", "movement_type", "qty", "unit_cost", "currency"],
            checks=[
                _isin_check("currency", ccy),
                _isin_check("movement_type", ["receipt", "issue", "adjustment"]),
                ColumnCheck("qty", "not_equal_to(0)", "qty = 0"),
                ColumnCheck("unit_cost", "greater_than_or_equal_to(0)", "unit_cost < 0"),
            ],
        ),
        "fx_rates": DatasetSpec(
            dataset="fx_rates",
            columns=["date", "from_currency", "to_currency", "rate"],
            not_null=["date", "from_currency", "to_currency", "rate"],
            checks=[
                _isin_check("from_currency", ccy),
                _isin_check("to_currency", [base_currency]),
                ColumnCheck("rate", "greater_than(0)", "rate <= 0"),
            ],
            unique_keys=[("date", "from_currency", "to_currency")],
        ),
    }


def checked_slice(df: DataFrame, spec: DatasetSpec) -> DataFrame:
    """The projection every check can run against: declared columns +
    their raw-text shadows + the row id. Checks may only reference
    declared columns, so callers that fan one dataset into several
    consumers (row-level checks, uniqueness, the fact build) can build
    this once, persist it, and hand it to each -- the source is then
    scanned exactly once however many consumers read it."""
    declared = set(spec.columns)
    proj = [
        c
        for c in df.columns
        if c == ROW_ID_COL
        or c in declared
        or (c.startswith(RAW_PREFIX) and c[len(RAW_PREFIX):] in declared)
    ]
    return df.select(*proj)


def unique_key_exceptions(
    df: DataFrame, dataset: str, keys: tuple[str, ...]
) -> DataFrame:
    """Composite-key duplicate exceptions (Q10): one exception row per
    key combination appearing more than once, in the reference's
    exception-record shape (quality.py:8-13,27,43 composite keys).
    Shared by the close-side check and the lake ingest's write-time
    materialization (r14) so the two paths cannot drift."""
    return (
        df.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .select(
            F.lit(dataset).alias("dataset"),
            F.lit(None).cast("long").alias("index"),
            F.lit(None).cast("string").alias("column"),
            F.lit(f"unique_keys{list(keys)}").alias("check"),
            F.concat_ws("|", *[F.col(k).cast("string") for k in keys]).alias("failure_case"),
            F.lit("DataFrameSchema").alias("schema_context"),
            F.lit(None).cast("int").alias("check_number"),
            F.lit(None).cast("string").alias("severity"),
        )
    )


def collect_exceptions(
    df: DataFrame,
    spec: DatasetSpec,
    persist_intermediates: bool = True,
    precomputed_unique: DataFrame | None = None,
) -> DataFrame:
    """All row-level + key-uniqueness exceptions for one dataset.

    Row-level checks run in a single scan via an array of conditional
    structs per row, exploded to exception rows (equivalent of
    pandera's lazy=True collect-all semantics, quality.py:98-115).

    Single-scan guarantee: the row-level explode and each
    key-uniqueness group-by are separate consumers of the source, so a
    naive plan scans it once per consumer (the round-5 lint finding).
    When more than one consumer exists, the declared-column slice is
    projected once and persisted (MEMORY_AND_DISK); every branch then
    reads the cache and the source parquet is scanned exactly once.
    ``persist_intermediates=False`` opts out for callers that manage
    caching themselves (the cache lives until the session clears it --
    spark.catalog.clearCache() or an explicit unpersist by the owner
    of the returned plan's lifecycle).
    """
    n_consumers = (1 if (spec.not_null or spec.checks) else 0) + (
        0
        if precomputed_unique is not None
        else sum(1 for ks in spec.unique_keys if all(k in df.columns for k in ks))
    )
    df = checked_slice(df, spec)
    if persist_intermediates and n_consumers > 1:
        df = df.persist()
    idx = f"`{ROW_ID_COL}`" if ROW_ID_COL in df.columns else "CAST(NULL AS BIGINT)"

    # One IF(fail, named_struct(...), NULL) slot per check, as SQL text.
    slots: list[str] = []
    # r16 (guide SS1.2 per-task work): the explode below generates
    # n_checks struct slots for EVERY row, but on a clean corpus only
    # a handful of rows fail anything -- measured at the 10M close,
    # the generate+filter blowup (10 slots x 5M sales rows) cost ~4 s
    # per big dataset from a warm cache.  ``fail_conds`` collects the
    # RAW check predicates (cheap column compares, no struct/array
    # allocation, no string casts) so a pre-filter confines the
    # generate to rows with at least one failure.  Row-set identical:
    # a row reaches the exploded output iff some slot is non-null iff
    # some predicate holds; NULL predicate results drop the row in the
    # filter exactly as the all-null slot row was dropped after the
    # explode.  Not the r11 "compact first" trap: the filter references
    # the raw COLUMNS, not the computed struct array, so nothing is
    # evaluated twice (the array builds only above the filter).
    fail_conds: list[str] = []

    def slot(fail: str, column: str, check: str, failure_case: str = "NULL") -> None:
        slots.append(
            f"IF({fail}, named_struct('column', {_sql_str(column)}, 'check', {_sql_str(check)}, "
            f"'failure_case', CAST({failure_case} AS STRING)), NULL)"
        )

    for c in spec.not_null:
        if c in df.columns:
            raw = f"{RAW_PREFIX}{c}"
            if raw in df.columns:
                # coercion-aware scan: raw text present but typed null
                # = dtype failure (pandera coerce semantics, Q3); only
                # a truly absent value is a not_nullable failure
                dtype = df.schema[c].dataType.simpleString()
                slot(f"`{raw}` IS NOT NULL AND `{c}` IS NULL", c, f"coerce_dtype({dtype})", f"`{raw}`")
                # typed-null conjunct: with DENSE shadows raw IS NULL
                # already implies typed null (the text was absent); the
                # r12 parse-once stage stores SPARSE shadows (raw text
                # kept only where the typed value is null), where raw
                # NULL alone is also true for every clean row -- the
                # conjunct makes the check correct for both layouts.
                slot(f"`{c}` IS NULL AND `{raw}` IS NULL", c, "not_nullable")
            else:
                slot(f"`{c}` IS NULL", c, "not_nullable")
            # typed NULL covers both shadow-layout slots above
            fail_conds.append(f"`{c}` IS NULL")
    for chk in spec.checks:
        if chk.column in df.columns:
            slot(f"({chk.fail})", chk.column, chk.name, f"`{chk.column}`")
            fail_conds.append(f"({chk.fail})")

    parts: list[DataFrame] = []
    if slots:
        # Shape note (r11, measured at the 50M/100M close): explode the
        # FIXED-WIDTH array and drop the per-element nulls AFTER the
        # generate.  The tempting "compact first" rewrite
        # (array_compact + size>0 before the explode) measured ~20%
        # SLOWER at 100M: array_compact desugars to an interpreted
        # lambda filter, and InferFiltersFromGenerate pushes a
        # size(...)>0 predicate below the projection that re-evaluates
        # the whole check array a second time per row.  This shape has
        # neither cost -- the generator's input is the array
        # expression itself, so no filter is inferred, the array is
        # evaluated exactly once, and the n_checks-per-row generate
        # blowup is codegen'd and filtered in the same stage.
        parts.append(
            df.filter(" OR ".join(fail_conds))
            .selectExpr(f"{idx} AS `index`", f"explode(array({', '.join(slots)})) AS _e")
            # nulls (passing checks) are dropped by explode only for
            # empty arrays; filter the per-element nulls explicitly
            .filter("_e IS NOT NULL")
            .selectExpr(
                f"{_sql_str(spec.dataset)} AS dataset",
                "CAST(`index` AS BIGINT) AS `index`",
                "_e.`column` AS `column`",
                "_e.`check` AS `check`",
                "_e.failure_case AS failure_case",
                "'Column' AS schema_context",
                "CAST(NULL AS INT) AS check_number",
                "CAST(NULL AS STRING) AS severity",
            )
        )

    if precomputed_unique is not None:
        # lake-fed close (r14): the uniqueness exceptions were
        # materialized at ingest (the month partition is immutable, so
        # its duplicate-key set is too); the 80M-row close-side
        # group-by shuffle is replaced by a tiny side-table read
        parts.append(precomputed_unique)
    else:
        for keys in spec.unique_keys:
            present = [k for k in keys if k in df.columns]
            if len(present) != len(keys):
                continue
            parts.append(unique_key_exceptions(df, spec.dataset, keys))

    spark = df.sparkSession
    out = parts[0] if parts else spark.createDataFrame([], DQ_EXCEPTIONS_SCHEMA)
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def schema_shape_rows(df: DataFrame, spec: DatasetSpec) -> list[tuple]:
    """strict=True column-shape check (Q1): exception rows for missing
    required columns and unexpected extras, evaluated driver-side
    against df.columns."""
    declared = set(spec.columns)
    actual = [c for c in df.columns if c != ROW_ID_COL and not c.startswith(RAW_PREFIX)]
    rows = []
    for c in spec.columns:
        if c not in actual:
            rows.append((spec.dataset, None, c, "required_column_missing", c, "DataFrameSchema", None, None))
    for c in actual:
        if c not in declared:
            rows.append((spec.dataset, None, c, "column_not_in_schema", c, "DataFrameSchema", None, None))
    return rows


def add_severity(dq_exceptions: DataFrame) -> DataFrame:
    """Severity rules (Q14, reference quality.py:123-183): default WARN;
    ERROR for key columns, anything in fx_rates, required/dtype checks,
    and COA membership violations.

    The check name matches case-insensitively through a ``(?i)`` regex,
    not ``lower(check)``: a ``lower()`` folded at plan time costs a
    fresh JVM its ICU case-table build (over a second).  Same result:
    Java's ``(?i)`` folds ASCII only, and the only non-ASCII characters
    whose lowercase holds an ASCII letter are U+0130, U+212A and U+212B.
    U+0130 lowercases to i + U+0307, which breaks every needle; U+212A
    lowercases to k and U+212B to å, and no needle holds either."""
    severity = (
        F.when(F.col("column").isin(list(ERROR_COLUMNS)), F.lit("ERROR"))
        .when(F.col("dataset") == "fx_rates", F.lit("ERROR"))
        .when(F.col("check").rlike("(?i)required|dtype|account_in_coa"), F.lit("ERROR"))
        .otherwise(F.lit("WARN"))
    )
    return dq_exceptions.withColumn("severity", severity)


def dq_count_metrics() -> list[Column]:
    """Aggregates over severity-tagged exceptions that the gate and the
    summary need: the row count (``dq_exception_rows``) and one count
    per ``"<dataset>.<severity>"``.  The close observes them on the
    audit write (an Observation), so deciding the gate costs no query
    of its own."""
    return [F.count(F.lit(1)).alias("dq_exception_rows")] + [
        F.count_if((F.col("dataset") == d) & (F.col("severity") == sev)).alias(f"{d}.{sev}")
        for d in DATASETS
        for sev in SEVERITIES
    ]


def _summary_rows(counts: dict[str, int], fail_on: str) -> list[tuple]:
    fail_on = (fail_on or "ERROR").upper()
    rows = []
    for d in DATASETS:
        errors, warns = counts.get(f"{d}.ERROR", 0), counts.get(f"{d}.WARN", 0)
        failing = errors + warns if fail_on == "WARN" else errors
        status = "FAIL" if failing and fail_on != "NEVER" else "PASS"
        rows.append((d, errors, warns, errors + warns, status))
    return rows


def dq_gate_status(counts: dict[str, int], fail_on: str = "ERROR") -> str:
    """PASS/FAIL gate (Q15, reference quality.py:186-202) from
    ``dq_count_metrics`` counts: FAIL iff some dataset's summary row
    fails -- an ERROR under ``ERROR``, any exception under ``WARN``,
    never under ``NEVER``."""
    return "FAIL" if any(r[-1] == "FAIL" for r in _summary_rows(counts, fail_on)) else "PASS"


def dq_summary_table(spark: SparkSession, counts: dict[str, int], fail_on: str = "ERROR") -> DataFrame:
    """Per-dataset summary with a zero-filled scaffold of all five
    datasets, in the reference's DATASETS order (sales first; the
    reference smoke test asserts on row 0), and a status column (Q16,
    reference quality.py:205-249), built from ``dq_count_metrics``
    counts held on the driver."""
    return local_frame(spark, _summary_rows(counts, fail_on), DQ_SUMMARY_SCHEMA)
