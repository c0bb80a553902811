"""Independent output checks.

Nothing here trusts the engine under test: the expected close is
recomputed by DuckDB from the raw CSV inputs, the gate-fail month is
checked against the counts the generator injected, publishing is
reconciled to the curated outputs, and every registry query is compared
with its DuckDB oracle.  Each ``check_*`` returns a list of problems; an
empty list means the output is correct.
"""

from __future__ import annotations

import glob
import json
import math
import os
from pathlib import Path

import duckdb

KPI_COLUMNS = ["Revenue", "COGS", "Expense", "Asset", "gross_profit", "operating_profit"]

# Exact HALF_EVEN rounding of a DOUBLE to integer cents.  The tie is
# decided on the shortest decimal text of the double, which is what
# Spark's ``bround`` rounds (java.math.BigDecimal.valueOf); 18 decimals
# hold that text exactly for every value a 2-dp money column can meet.
# That text round trip is slow, so it runs only where it can matter:
# below 1e7 the double, its text and ``x * 100`` all lie within 1e-6 of
# one another in cents, so a value whose cents are further than that
# from a half rounds the same way on all three.
HALF_EVEN_CENTS_MACRO = """
CREATE OR REPLACE MACRO he_cents_text(x) AS (
  CAST(trunc(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)) * 100) AS BIGINT)
  + CASE
      WHEN abs(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)) * 100
               - trunc(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)) * 100)) > 0.5
        OR (abs(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)) * 100
                - trunc(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)) * 100)) = 0.5
            AND CAST(trunc(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)) * 100) AS BIGINT) % 2 <> 0)
      THEN CAST(sign(x) AS BIGINT)
      ELSE 0
    END
);
CREATE OR REPLACE MACRO he_cents(x) AS (
  CASE WHEN abs(x) < 1e7 AND abs(abs(x * 100) - floor(abs(x * 100)) - 0.5) > 1e-6
       THEN CAST(round(x * 100) AS BIGINT)
       ELSE he_cents_text(x)
  END
)
"""


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(HALF_EVEN_CENTS_MACRO)
    return con


def _csv(path: Path) -> str:
    return f"read_csv('{path}', header=true, all_varchar=true)"


def _parquet(path: Path) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"


def _cents(v) -> int | None:
    if v is None:
        return None
    f = float(v)
    if math.isnan(f):
        return None
    return int(round(f * 100))


def expected_close(con, raw_dir: Path, ref_dir: Path, month: str, base: str = "USD"):
    """Fact row count, fact total and KPI cells (integer cents) of a
    clean month, from the raw CSVs: the sign rules, exact-date FX and
    HALF_EVEN rounding of the close, restated in SQL."""
    raw = Path(raw_dir)
    start = f"DATE '{month}-01'"
    window = f"d >= {start} AND d < {start} + INTERVAL 1 MONTH"
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE exp_rows AS
        WITH fx AS (
          SELECT CAST(date AS DATE) AS fx_d, from_currency AS fx_c, CAST(rate AS DOUBLE) AS fx_r
          FROM {_csv(raw / 'fx_rates.csv')} WHERE to_currency = '{base}'
        ), src AS (
          SELECT * FROM (
            SELECT CAST(date AS DATE) AS d, entity, account_code AS acct, currency,
                   CAST(amount AS DOUBLE) AS amt
            FROM {_csv(raw / 'sales.csv')}
            UNION ALL
            SELECT CAST(date AS DATE), entity, account_code, currency, -CAST(amount AS DOUBLE)
            FROM {_csv(raw / 'expenses.csv')}
            UNION ALL
            SELECT CAST(date AS DATE), entity,
                   CASE movement_type WHEN 'issue' THEN '50000001'
                        WHEN 'receipt' THEN '10000001' WHEN 'adjustment' THEN '10000001' END,
                   currency,
                   (CASE WHEN movement_type = 'issue' THEN -1 ELSE 1 END)
                     * (CAST(he_cents(CAST(qty AS DOUBLE) * CAST(unit_cost AS DOUBLE)) AS DOUBLE) / 100.0)
            FROM {_csv(raw / 'inventory_movements.csv')}
          ) WHERE {window}
          UNION ALL
          SELECT last_day(CAST(month || '-01' AS DATE)), entity, '61000001', currency, -CAST(net AS DOUBLE)
          FROM {_csv(raw / 'payroll.csv')} WHERE month = '{month}'
        )
        SELECT src.d, src.entity, src.acct,
               he_cents(src.amt * CASE WHEN src.currency = '{base}' THEN 1.0 ELSE fx.fx_r END)
                 AS cents
        FROM src LEFT JOIN fx ON fx.fx_d = src.d AND fx.fx_c = src.currency
    """)
    n_rows, total, missing = con.sql(
        "SELECT count(*), sum(cents), count(*) - count(cents) FROM exp_rows"
    ).fetchone()
    if missing:
        raise ValueError(f"{missing} expected fact rows have no FX rate")
    rows = con.sql(f"""
        SELECT r.entity, strftime(r.d, '%Y-%m') AS month, c.account_type, sum(r.cents)
        FROM exp_rows r LEFT JOIN {_csv(Path(ref_dir) / 'chart_of_accounts.csv')} c
          ON c.account_code = r.acct
        GROUP BY 1, 2, 3
    """).fetchall()
    kpi: dict[tuple[str, str], dict[str, int]] = {}
    for entity, m, typ, cents in rows:
        cells = kpi.setdefault((entity, m), {})
        if typ is not None:
            cells[typ] = cells.get(typ, 0) + int(cents)
    for cells in kpi.values():
        for t in ("Revenue", "COGS", "Expense"):
            cells.setdefault(t, 0)
        cells["gross_profit"] = cells["Revenue"] + cells["COGS"]
        cells["operating_profit"] = cells["gross_profit"] + cells["Expense"]
    return int(n_rows), int(total or 0), kpi


def actual_kpi(con, kpi_dir: Path) -> dict[tuple[str, str], dict[str, int]]:
    res = con.sql(f"SELECT * FROM {_parquet(kpi_dir)}")
    cols = [d[0] for d in res.description]
    out = {}
    for row in res.fetchall():
        r = dict(zip(cols, row))
        out[(r["entity"], r["month"])] = {
            c: _cents(v) for c, v in r.items() if c not in ("entity", "month")
        }
    return out


def compare_kpi(expected, actual) -> list[str]:
    problems = []
    if set(expected) != set(actual):
        problems.append(f"kpi groups differ: expected {sorted(expected)} got {sorted(actual)}")
    for key in sorted(set(expected) & set(actual)):
        exp, act = expected[key], actual[key]
        for col in sorted(set(exp) | set(act)):
            if exp.get(col, 0) != act.get(col, 0):
                problems.append(f"kpi {key} {col}: expected {exp.get(col, 0)} cents, got {act.get(col)}")
    return problems


def fact_stats(con, fact_dir: Path) -> tuple[int, int]:
    n, total = con.sql(
        f"SELECT count(*), sum(CAST(round(amount_base * 100) AS BIGINT)) FROM {_parquet(fact_dir)}"
    ).fetchone()
    return int(n), int(total or 0)


def check_close(con, expected, curated: Path) -> list[str]:
    """A clean close: fact rows, fact total and every KPI cell, exact."""
    n_exp, total_exp, kpi_exp = expected
    curated = Path(curated)
    fact = curated / "fact_transactions.parquet"
    if not glob.glob(str(fact / "*.parquet")):
        return [f"no fact parquet at {fact}"]
    problems = []
    n, total = fact_stats(con, fact)
    if n != n_exp:
        problems.append(f"fact rows: expected {n_exp}, got {n}")
    if total != total_exp:
        problems.append(f"fact amount_base total: expected {total_exp} cents, got {total}")
    kpi_dir = curated / "kpi_monthly.parquet"
    if not glob.glob(str(kpi_dir / "*.parquet")):
        return problems + [f"no kpi parquet at {kpi_dir}"]
    problems += compare_kpi(kpi_exp, actual_kpi(con, kpi_dir))
    return problems


def check_gate_fail(con, injected: dict, curated: Path, raised: bool) -> list[str]:
    """A dirty month: the gate raised, both audit files hold exactly the
    injected violations, and no fact was promoted."""
    curated = Path(curated)
    problems = [] if raised else ["DataQualityGateError was not raised"]
    ex_path, sum_path = curated / "dq_exceptions.csv", curated / "dq_summary.csv"
    for p in (ex_path, sum_path):
        if not p.is_file():
            return problems + [f"missing {p.name}"]
    if (curated / "fact_transactions.parquet").exists():
        problems.append("fact_transactions.parquet was promoted")
    got = {
        (ds, col or "", sev): int(n)
        for ds, col, sev, n in con.sql(
            f"SELECT dataset, \"column\", severity, count(*) FROM {_csv(ex_path)} GROUP BY ALL"
        ).fetchall()
    }
    want = {
        (ds, col, sev): n for ds, cols in injected.items() for col, (n, sev) in cols.items()
    }
    if got != want:
        problems.append(f"dq_exceptions counts: expected {sorted(want.items())}, got {sorted(got.items())}")
    summary = {
        ds: (int(e), int(w), status)
        for ds, e, w, status in con.sql(
            f"SELECT dataset, error_count, warn_count, status FROM {_csv(sum_path)}"
        ).fetchall()
    }
    for ds in ("sales", "expenses", "payroll", "inventory_movements", "fx_rates"):
        cols = injected.get(ds, {})
        err = sum(n for n, sev in cols.values() if sev == "ERROR")
        warn = sum(n for n, sev in cols.values() if sev == "WARN")
        status = "FAIL" if err else "PASS"
        if summary.get(ds) != (err, warn, status):
            problems.append(f"dq_summary {ds}: expected {(err, warn, status)}, got {summary.get(ds)}")
    return problems


def check_publish(con, curated: Path, bi_dir: Path, star_dir: Path) -> list[str]:
    """BI and star files reconcile to the curated fact and KPI."""
    curated, bi_dir, star_dir = Path(curated), Path(bi_dir), Path(star_dir)
    problems = []
    needed = [bi_dir / f"{t}.csv" for t in ("fact_transactions", "dim_accounts", "kpi_monthly", "dq_summary", "dq_exceptions")]
    needed += [star_dir / f"{t}.csv" for t in ("dim_date", "dim_month", "dim_entity", "dim_account", "fact_gl", "fact_kpi_monthly")]
    missing = [p.name for p in needed if not p.is_file()]
    if missing:
        return [f"missing published files: {missing}"]
    n_fact, total_fact = fact_stats(con, curated / "fact_transactions.parquet")
    for label, path, col in (("bi fact", bi_dir / "fact_transactions.csv", "amount_base"),
                             ("star fact_gl", star_dir / "fact_gl.csv", "amount")):
        n, total = con.sql(
            f"SELECT count(*), sum(CAST(round(CAST({col} AS DOUBLE) * 100) AS BIGINT)) FROM {_csv(path)}"
        ).fetchone()
        if (int(n), int(total or 0)) != (n_fact, total_fact):
            problems.append(f"{label}: expected {(n_fact, total_fact)} (rows, cents), got {(n, total)}")
    kpi = actual_kpi(con, curated / "kpi_monthly.parquet")
    res = con.sql(f"SELECT * FROM {_csv(bi_dir / 'kpi_monthly.csv')}")
    cols = [d[0] for d in res.description]
    bi_kpi = {}
    for row in res.fetchall():
        r = dict(zip(cols, row))
        bi_kpi[(r["entity"], r["month"])] = {c: _cents(r[c]) for c in KPI_COLUMNS if c in r}
    want = {k: {c: v[c] for c in KPI_COLUMNS if c in v} for k, v in kpi.items()}
    problems += ["bi " + p for p in compare_kpi(want, bi_kpi)]
    star = con.sql(f"""
        SELECT e.entity, k.* EXCLUDE (month_key, entity_key)
        FROM {_csv(star_dir / 'fact_kpi_monthly.csv')} k
        JOIN {_csv(star_dir / 'dim_entity.csv')} e USING (entity_key)
    """)
    cols = [d[0] for d in star.description]
    star_kpi = {}
    for row in star.fetchall():
        r = dict(zip(cols, row))
        star_kpi[r["entity"]] = {c: _cents(r[c]) for c in KPI_COLUMNS if c in r}
    want_star = {k[0]: v for k, v in want.items()}
    if star_kpi != want_star:
        problems.append(f"star fact_kpi_monthly: expected {want_star}, got {star_kpi}")
    return problems


# --- seed-42 canary (reference golden values) --------------------------------

CANARY_KPI_CENTS = {
    ("TLM", "Revenue"): 4812936,
    ("TLM", "gross_profit"): 3248081,
    ("TLM", "operating_profit"): -620176,
    ("UPE", "Revenue"): 3005052,
}
CANARY_FACT_ROWS = 236


def check_canary_oracle(con, raw_dir: Path, ref_dir: Path) -> list[str]:
    """The checker itself against the reference goldens: the close that
    ``expected_close`` derives for the seed-42 reference month."""
    n, _, kpi = expected_close(con, raw_dir, ref_dir, "2025-12")
    problems = [] if n == CANARY_FACT_ROWS else [f"oracle fact rows: expected {CANARY_FACT_ROWS}, got {n}"]
    for (entity, col), cents in CANARY_KPI_CENTS.items():
        got = kpi.get((entity, "2025-12"), {}).get(col)
        if got != cents:
            problems.append(f"oracle {entity} {col}: expected {cents} cents, got {got}")
    return problems


# --- registry -------------------------------------------------------------------


def registry_connect(data_dir: Path) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the generated tables.  Not the repository's
    ``tools/check_contract.duck_connect``: that one raises the host-wide
    ``vm.max_map_count`` and spills to ``/tmp``, and the benchmark writes
    nothing outside its own directory; none of the headline oracles
    needs either."""
    con = connect()
    for p in sorted(Path(data_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_registry_result(con, sql: str, spark_cols, spark_rows) -> list[str]:
    """The engine's result against its oracle, with the repository's own
    contract comparison (order-insensitive, exact)."""
    from tools.check_contract import compare

    res = con.execute(sql)
    return compare("", spark_rows, spark_cols, res.fetchall(), [d[0] for d in res.description])


def injected_counts(month_dir: Path) -> dict:
    return json.loads((Path(month_dir) / "injected.json").read_text())


def dir_bytes(*paths: Path) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
