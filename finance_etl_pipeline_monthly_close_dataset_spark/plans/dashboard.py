"""HTML dashboard builder (SURVEY.md §3.3).

Behavioral parity with ``/root/reference/scripts/build_dashboard.py``:
revenue/operating-profit trends for the top-8 entities, top-15 expense
accounts by absolute amount, the month's KPI table, and DQ sample
tables, rendered to one self-contained HTML file.

Engine boundary: every chart input is a SMALL aggregate (top-k after
group-sum) computed by Spark and then collected -- the collect is
bounded by k, never by fact size. Rendering is driver-side and
dependency-free: inline-SVG charts and HTML tables, plus the charts as
plain-dict Plotly figure JSON for any Plotly runtime to render.
"""

from __future__ import annotations

import html as _html
import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import CSV_DIALECT
from ..sources.writers import staged_commit
from .exports import KPI_COLS
from .star import add_margin_cols, load_curated, pick_col


def top_entities_by_revenue(kpi: DataFrame, k: int = 8) -> list[str]:
    """Top-k entities by total Revenue across months (reference
    line 100)."""
    if not {"entity", "Revenue"} <= set(kpi.columns):
        return []
    rows = (
        kpi.groupBy("entity")
        .agg(F.sum(F.col("Revenue").cast("double")).alias("_rev"))
        .orderBy(F.desc("_rev"), F.asc("entity"))
        .limit(k)
        .collect()
    )
    return [r["entity"] for r in rows]


def top_expense_accounts(fact_m: DataFrame, dim: DataFrame, k: int = 15) -> DataFrame:
    """Top-k expense accounts by sum(abs(amount_base)), labeled
    ``code - name`` (reference lines 141-166)."""
    amt_col = pick_col(fact_m, ["amount_base", "amount", "amount_tzs", "amount_usd"])
    acc_col = pick_col(fact_m, ["account_code", "gl_account", "account"])
    if not amt_col or not acc_col:
        return fact_m.sparkSession.createDataFrame([], "label string, abs_amount double")
    df = fact_m.withColumn("_acc", F.col(acc_col).cast("string"))
    if "account_code" in dim.columns:
        dim_small = dim.select(
            F.col("account_code").cast("string").alias("_acc"),
            *[c for c in ("account_name", "account_type") if c in dim.columns],
        )
        df = df.join(F.broadcast(dim_small), on="_acc", how="left")
    type_col = pick_col(df, ["account_type", "type"])
    if type_col:
        df = df.filter(F.lower(F.col(type_col).cast("string")) == "expense")
    name_col = pick_col(df, ["account_name", "name"])
    label = (
        F.concat_ws(" - ", F.col("_acc"), F.col(name_col).cast("string"))
        if name_col
        else F.col("_acc")
    )
    return (
        df.withColumn("label", label)
        .groupBy("label")
        .agg(F.sum(F.abs(F.col(amt_col).cast("double"))).alias("abs_amount"))
        .orderBy(F.desc("abs_amount"), F.asc("label"))
        .limit(k)
    )


def _table_html(rows: list[dict], columns: list[str]) -> str:
    if not rows:
        return "<p class='muted'>No rows.</p>"
    head = "".join(f"<th>{_html.escape(str(c))}</th>" for c in columns)
    body = []
    for r in rows:
        tds = []
        for c in columns:
            v = r.get(c)
            tds.append(f"<td>{_html.escape(f'{v:,.2f}' if isinstance(v, float) else str(v))}</td>")
        body.append(f"<tr>{''.join(tds)}</tr>")
    return f"<table><thead><tr>{head}</tr></thead><tbody>{''.join(body)}</tbody></table>"


def _svg_bars(pairs: list[tuple[str, float]], title: str, width: int = 720) -> str:
    """Dependency-free horizontal bar chart."""
    if not pairs:
        return "<p class='muted'>No data.</p>"
    vmax = max(abs(v) for _, v in pairs) or 1.0
    bar_h, gap, label_w = 18, 6, 260
    rows = []
    for i, (label, v) in enumerate(pairs):
        y = i * (bar_h + gap)
        w = max(1, int((width - label_w - 90) * abs(v) / vmax))
        rows.append(
            f"<text x='{label_w - 8}' y='{y + bar_h - 4}' text-anchor='end' font-size='11'>"
            f"{_html.escape(str(label)[:40])}</text>"
            f"<rect x='{label_w}' y='{y}' width='{w}' height='{bar_h}' fill='#4878a8'/>"
            f"<text x='{label_w + w + 6}' y='{y + bar_h - 4}' font-size='11'>{v:,.2f}</text>"
        )
    h = len(pairs) * (bar_h + gap)
    return (
        f"<h3>{_html.escape(title)}</h3>"
        f"<svg width='{width}' height='{h}' xmlns='http://www.w3.org/2000/svg'>{''.join(rows)}</svg>"
    )


def _svg_lines(series: dict[str, list[tuple[str, float]]], title: str) -> str:
    """Dependency-free line chart: one polyline per entity over months."""
    months = sorted({m for pts in series.values() for m, _ in pts})
    if not months or not series:
        return "<p class='muted'>No data.</p>"
    w, h, pad = 720, 240, 44
    vals = [v for pts in series.values() for _, v in pts]
    vmin, vmax = min(vals + [0.0]), max(vals + [0.0])
    span = (vmax - vmin) or 1.0
    xstep = (w - 2 * pad) / max(1, len(months) - 1)

    def xy(m: str, v: float) -> tuple[float, float]:
        return pad + months.index(m) * xstep, h - pad - (v - vmin) / span * (h - 2 * pad)

    palette = ["#4878a8", "#b85c48", "#58885c", "#8860a8", "#a89048", "#48a0a8", "#a84878", "#6878a8"]
    parts, legend = [], []
    for i, (name, pts) in enumerate(sorted(series.items())):
        color = palette[i % len(palette)]
        coords = " ".join(f"{x:.1f},{y:.1f}" for x, y in (xy(m, v) for m, v in sorted(pts)))
        parts.append(f"<polyline fill='none' stroke='{color}' stroke-width='2' points='{coords}'/>")
        legend.append(
            f"<tspan fill='{color}'>&#9632;</tspan> {_html.escape(str(name))}"
        )
    axis = (
        f"<line x1='{pad}' y1='{h - pad}' x2='{w - pad}' y2='{h - pad}' stroke='#999'/>"
        + "".join(
            f"<text x='{pad + i * xstep:.1f}' y='{h - pad + 16}' font-size='10' text-anchor='middle'>"
            f"{_html.escape(m)}</text>"
            for i, m in enumerate(months)
        )
    )
    return (
        f"<h3>{_html.escape(title)}</h3>"
        f"<svg width='{w}' height='{h}' xmlns='http://www.w3.org/2000/svg'>{''.join(parts)}{axis}</svg>"
        f"<p class='muted'>{' &nbsp; '.join(legend)}</p>"
    )


def plotly_line_figure(
    series: dict[str, list[tuple[str, float]]], title: str, y_title: str
) -> dict:
    """Plotly-figure JSON (the reference's px.line shape: one
    lines+markers scatter trace per entity) built as a PLAIN dict --
    no plotly dependency. ``json.dumps`` of this dict is a valid
    ``Plotly.newPlot`` figure, so the reference's chart library can
    render our numbers unchanged (reference
    scripts/build_dashboard.py:103-122)."""
    data = [
        {
            "type": "scatter",
            "mode": "lines+markers",
            "name": name,
            "x": [m for m, _ in sorted(pts)],
            "y": [v for _, v in sorted(pts)],
        }
        for name, pts in sorted(series.items())
    ]
    return {
        "data": data,
        "layout": {
            "title": {"text": title},
            "xaxis": {"title": {"text": "month"}},
            "yaxis": {"title": {"text": y_title}},
        },
    }


def plotly_hbar_figure(pairs: list[tuple[str, float]], title: str) -> dict:
    """px.bar(orientation='h') shape as a plain dict (reference
    scripts/build_dashboard.py:164-166)."""
    return {
        "data": [
            {
                "type": "bar",
                "orientation": "h",
                "x": [v for _, v in pairs],
                "y": [label for label, _ in pairs],
            }
        ],
        "layout": {"title": {"text": title}},
    }


def build_dashboard(
    spark: SparkSession,
    curated_dir: str | Path,
    month: str | None = None,
    out_html: str | Path | None = None,
) -> Path:
    """Curated layer -> one HTML dashboard and its figure JSON beside
    it, published as one set (reference lines 74-225)."""
    curated = Path(curated_dir)
    cur = load_curated(spark, curated, month)
    month = cur.month
    out = Path(out_html) if out_html else Path("reports") / month / "dashboard.html"

    kpi2 = add_margin_cols(cur.kpi)

    # trend charts over the top-8 entities
    trend_html = "<p class='muted'>No KPI chart available.</p>"
    trend2_html = ""
    rev_series: dict[str, list[tuple[str, float]]] = {}
    op_series: dict[str, list[tuple[str, float]]] = {}
    top = top_entities_by_revenue(kpi2, 8)
    if top:
        pts = (
            kpi2.filter(F.col("entity").isin(top))
            .select("entity", "month", "Revenue", "operating_profit")
            .collect()
        )
        for r in pts:
            rev_series.setdefault(r["entity"], []).append((r["month"], float(r["Revenue"] or 0)))
            if r["operating_profit"] is not None:
                op_series.setdefault(r["entity"], []).append(
                    (r["month"], float(r["operating_profit"]))
                )
        trend_html = _svg_lines(rev_series, "Revenue Trend (Top Entities)")
        trend2_html = _svg_lines(op_series, "Operating Profit Trend (Top Entities)")

    # KPI table for the month
    keep = (
        ["entity", "month"]
        + [c for c in KPI_COLS if c in kpi2.columns and c not in ("entity", "month")]
        + [c for c in ("gross_margin_pct", "operating_margin_pct") if c in kpi2.columns]
    )
    kpi_rows = [
        r.asDict()
        for r in kpi2.filter(F.col("month") == F.lit(month)).select(*keep).orderBy("entity").collect()
    ]
    kpi_table = _table_html(kpi_rows, keep)

    # expense breakdown
    top_exp = top_expense_accounts(cur.fact, cur.dim_accounts).collect()
    exp = [(r["label"], float(r["abs_amount"])) for r in top_exp]
    exp_html = _svg_bars(exp, "Top Expense Accounts (Abs Value)")

    # DQ sample tables (first 200 rows, like the reference's head(200))
    def _csv_rows(name: str) -> tuple[list[dict], list[str]]:
        p = curated / name
        if not p.exists():
            return [], []
        df = spark.read.csv(str(p), header=True, **CSV_DIALECT)
        return [r.asDict() for r in df.limit(200).collect()], df.columns

    sum_rows, sum_cols = _csv_rows("dq_summary.csv")
    ex_rows, ex_cols = _csv_rows("dq_exceptions.csv")

    # Plotly-parity sidecar: the same three charts as Plotly-figure
    # JSON (plain dicts, no plotly import), written next to the HTML
    # and embedded as an application/json block -- any plotly runtime
    # hydrates them with Plotly.newPlot(el, fig.data, fig.layout),
    # closing the reference's chart-library gap without taking the
    # dependency.
    figures = {
        "revenue_trend": plotly_line_figure(
            rev_series, "Revenue Trend (Top Entities)", "Revenue"
        ),
        "operating_profit_trend": plotly_line_figure(
            op_series, "Operating Profit Trend (Top Entities)", "operating_profit"
        ),
        "top_expense_accounts": plotly_hbar_figure(
            exp, "Top Expense Accounts (Abs Value)"
        ),
    }
    figures_block = (
        "<script type=\"application/json\" id=\"plotly-figures\">"
        + json.dumps(figures)
        + "</script>"
    )

    page = f"""<!doctype html>
<html>
<head>
  <meta charset="utf-8"/>
  <title>Finance Dashboard - {month}</title>
  <style>
    body {{ font-family: Arial, sans-serif; margin: 24px; }}
    .muted {{ color: #666; font-size: 12px; }}
    .card {{ border: 1px solid #ddd; border-radius: 10px; padding: 16px; margin-bottom: 16px; }}
    table {{ border-collapse: collapse; width: 100%; }}
    th, td {{ border: 1px solid #eee; padding: 8px; font-size: 12px; }}
    th {{ background: #fafafa; }}
  </style>
</head>
<body>
  <h1>Finance Monthly Close Dashboard</h1>
  <p class="muted">Month: <b>{month}</b> | Curated: {curated.resolve()}</p>
  <div class="card"><h2>KPI Trend</h2>{trend_html}<br/>{trend2_html}</div>
  <div class="card"><h2>KPIs (Selected Month)</h2>{kpi_table}</div>
  <div class="card"><h2>Expense Breakdown</h2>{exp_html}</div>
  <div class="card"><h2>Data Quality Summary</h2>{_table_html(sum_rows, sum_cols)}
    <h3>DQ Exceptions (sample)</h3>{_table_html(ex_rows, ex_cols)}</div>
  {figures_block}
</body>
</html>"""
    with staged_commit(str(out.parent)) as stage:
        Path(stage, "dashboard_figures.json").write_text(json.dumps(figures, indent=1), encoding="utf-8")
        Path(stage, out.name).write_text(page, encoding="utf-8")
    return out
