"""Self-tests of the benchmark: the generator is seeded, every output
check rejects a corrupted output, and the event-log parser attributes
every Spark job of a traced close.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import random
import shutil
import sys
from decimal import ROUND_HALF_EVEN, Decimal
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, config, gen  # noqa: E402
from perfbench.trace import Tracer, event_log_conf, find_event_log, parse_event_log  # noqa: E402

MONTH = gen.MONTH


# --- generator -------------------------------------------------------------------


def _frames(seed, kind="clean"):
    return gen.month_frames(seed, 2_000, kind)


def test_generator_same_seed_same_month():
    a, inj_a = _frames(7, "dirty")
    b, inj_b = _frames(7, "dirty")
    assert inj_a == inj_b
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])


def test_generator_other_seed_other_month():
    a, _ = _frames(7)
    b, _ = _frames(8)
    for name in ("sales", "expenses", "payroll", "inventory_movements", "fx_rates"):
        assert not a[name].equals(b[name]), name
    assert set(a["sales"]["invoice_id"]).isdisjoint(b["sales"]["invoice_id"])


def test_dirty_month_is_the_clean_month_plus_the_injected_violations():
    clean, _ = _frames(4)
    dirty, injected = _frames(4, "dirty")
    for name, df in clean.items():
        changed = (df != dirty[name]).any(axis=1).sum()
        # one changed row per injected violation (a duplicate changes the copy only)
        assert changed == sum(n for n, _ in injected.get(name, {}).values()), name


def test_generator_clean_month_has_every_fx_rate_and_unique_keys():
    frames, injected = _frames(3)
    assert injected == {}
    fx = frames["fx_rates"]
    days = set(gen._month_days(MONTH))
    for ccy in gen.CURRENCIES:
        assert set(fx.loc[fx["from_currency"] == ccy, "date"]) == days
    assert not frames["sales"].duplicated(["entity", "invoice_id"]).any()
    assert not frames["expenses"].duplicated(["entity", "bill_id"]).any()


def test_registry_tables_are_seeded():
    a, b, c = gen.registry_tables(1, 600), gen.registry_tables(1, 600), gen.registry_tables(2, 600)
    for name in a:
        if name == "embeddings":
            continue
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["orders"].equals(c["orders"])


# --- exact rounding ------------------------------------------------------------------


def test_half_even_macro_matches_decimal_rounding():
    rng = random.Random(0)
    values = [x / 1000 for x in range(-3000, 3000, 5)]  # every .xx5 tie
    values += [rng.uniform(-5000, 5000) * rng.choice([1.0, 0.00041, 1.1]) for _ in range(3000)]
    values += [2.675, 1.005, 0.125, -0.125, 4e-06, 123456.785, 98765432.105, -31234567.895]
    values += [math.nextafter(v, d) for v in values[:1200:7] for d in (-math.inf, math.inf)]  # next to a tie
    con = checks.connect()
    got = con.execute(
        "SELECT he_cents(v) FROM unnest(?::DOUBLE[]) t(v)", [values]
    ).fetchall()
    for v, (cents,) in zip(values, got):
        want = int(Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_EVEN) * 100)
        assert cents == want, v


# --- checks reject corrupted outputs (Spark) -----------------------------------


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from finance_etl_pipeline_monthly_close_dataset_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(extra_conf={**event_log_conf(log_dir), "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, log_dir
    spark.stop()


@pytest.fixture(scope="module")
def closed(traced_spark, tmp_path_factory):
    """A seed-42 canary close traced job by job, a clean and a dirty
    generated month closed, and the clean one published."""
    from finance_etl_pipeline_monthly_close_dataset_spark import sample_data
    from finance_etl_pipeline_monthly_close_dataset_spark.config import Settings
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.exports import export_bi_datasets
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import DataQualityGateError, run_month
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.star import export_star_schema

    spark, log_dir = traced_spark
    base = tmp_path_factory.mktemp("closes")
    sample_data.generate_synthetic_raw(base / "canary" / "raw", month=MONTH, seed=42)
    sample_data.write_chart_of_accounts(base / "canary" / "ref")
    clean = gen.month_inputs(base / "inputs", 5, 3_000, "clean")
    dirty = gen.month_inputs(base / "inputs", 5, 3_000, "dirty")

    tracer = Tracer(spark)
    with tracer.patch():
        tracer.scope = "canary"
        tracer.mark("canary.dq_sweep")
        run_month(spark, Settings(), MONTH, base / "canary" / "raw", base / "canary_out", base / "canary" / "ref")
        tracer.scope = "pipeline"
        tracer.mark("pipeline.dq_sweep")
        run_month(spark, Settings(), MONTH, clean / "raw", base / "curated", clean / "ref")
        tracer.mark("publish.export_bi")
        export_bi_datasets(spark, base / "curated", MONTH, base / "bi")
        tracer.mark("publish.export_star")
        export_star_schema(spark, base / "curated", MONTH, base / "star")
        tracer.scope = "gate"
        tracer.mark("gate.dq_sweep")
        with pytest.raises(DataQualityGateError):
            run_month(spark, Settings(), MONTH, dirty / "raw", base / "gate", dirty / "ref")
        tracer.clear()
    return {"base": base, "clean": clean, "dirty": dirty, "log_dir": log_dir, "spark": spark}


def _copy(src: Path, dst: Path) -> Path:
    shutil.copytree(src, dst)
    return dst


def _rewrite_parquet(dir_: Path, edit) -> None:
    files = sorted(dir_.glob("*.parquet"))
    table = pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()
    for f in files:
        f.unlink()
    pq.write_table(pa.Table.from_pandas(edit(table), preserve_index=False), dir_ / "part-0.parquet")


def test_close_check_accepts_the_close_and_rejects_corruption(closed, tmp_path):
    con = checks.connect()
    expected = checks.expected_close(con, closed["clean"] / "raw", closed["clean"] / "ref", MONTH)
    assert checks.check_close(con, expected, closed["base"] / "curated") == []

    dropped = _copy(closed["base"] / "curated", tmp_path / "dropped")
    _rewrite_parquet(dropped / "fact_transactions.parquet", lambda df: df.iloc[1:])
    assert any("fact rows" in p for p in checks.check_close(con, expected, dropped))

    cent = _copy(closed["base"] / "curated", tmp_path / "cent")

    def off_by_a_cent(df):
        df.loc[df.index[0], "Revenue"] += 0.01
        return df

    _rewrite_parquet(cent / "kpi_monthly.parquet", off_by_a_cent)
    problems = checks.check_close(con, expected, cent)
    assert any("Revenue" in p for p in problems), problems


def test_canary_oracle_matches_goldens_and_rejects_a_changed_input(closed, tmp_path):
    con = checks.connect()
    canary = closed["base"] / "canary"
    assert checks.check_canary_oracle(con, canary / "raw", canary / "ref") == []
    raw = _copy(canary / "raw", tmp_path / "raw")
    sales = pd.read_csv(raw / "sales.csv", dtype=str)
    sales.loc[0, "amount"] = str(float(sales.loc[0, "amount"]) + 1.0)
    sales.to_csv(raw / "sales.csv", index=False)
    assert checks.check_canary_oracle(con, raw, canary / "ref") != []


def test_gate_fail_check_rejects_missing_summary(closed, tmp_path):
    con = checks.connect()
    injected = checks.injected_counts(closed["dirty"])
    assert checks.check_gate_fail(con, injected, closed["base"] / "gate", raised=True) == []
    assert checks.check_gate_fail(con, injected, closed["base"] / "gate", raised=False) != []
    missing = _copy(closed["base"] / "gate", tmp_path / "gate")
    (missing / "dq_summary.csv").unlink()
    assert any("dq_summary" in p for p in checks.check_gate_fail(con, injected, missing, raised=True))


def test_publish_check_rejects_a_dropped_row(closed, tmp_path):
    con = checks.connect()
    base = closed["base"]
    assert checks.check_publish(con, base / "curated", base / "bi", base / "star") == []
    bi = _copy(base / "bi", tmp_path / "bi")
    lines = (bi / "fact_transactions.csv").read_text().splitlines(keepends=True)
    (bi / "fact_transactions.csv").write_text("".join(lines[:-1]))
    assert any("bi fact" in p for p in checks.check_publish(con, base / "curated", bi, base / "star"))


def test_registry_check_rejects_a_changed_row(closed, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    data = gen.registry_inputs(tmp_path / "reg", 3, 900)
    con = checks.registry_connect(data)
    q = "status_pivot"
    Tracer(closed["spark"]).mark(f"contract.{q}")
    df = contract.QUERIES[q](closed["spark"], str(data))
    rows = [tuple(r) for r in df.collect()]
    assert checks.check_registry_result(con, contract.ORACLES[q], df.columns, rows) == []
    changed = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
    assert checks.check_registry_result(con, contract.ORACLES[q], df.columns, changed) != []


@pytest.mark.xfail(strict=True, reason="engine defect: sessionize compares whole seconds, "
                   "so a gap of 1800.5 s does not start a new session")
def test_events_sessions_splits_at_a_sub_second_gap(closed, tmp_path):
    """Why ``events_sessions`` is in ``config.KNOWN_WRONG``: one user's
    two events 1800.5 s apart are two sessions under a 30-minute gap.
    When this passes, return the query to the timed pass."""
    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    data = gen.registry_inputs(tmp_path / "reg", 3, 900)
    t0 = pd.Timestamp("2024-01-01 10:00:00")
    events = pd.DataFrame({
        "event_id": np.arange(3, dtype=np.int64),
        "ts": pd.Series([t0, t0 + pd.Timedelta(seconds=1800.5), t0 + pd.Timedelta(seconds=60)]).astype("datetime64[us]"),
        "user_id": np.array([1, 1, 2], dtype=np.int64),
        "event_type": ["view", "click", "view"],
        "value": [1.0, 2.0, 3.0],
        "props": ['{"k": 1}'] * 3,
    })
    pq.write_table(pa.Table.from_pandas(events, preserve_index=False), data / "events.parquet")
    q = "events_sessions"
    Tracer(closed["spark"]).mark(f"contract.{q}")
    df = contract.QUERIES[q](closed["spark"], str(data))
    rows = [tuple(r) for r in df.collect()]
    assert checks.check_registry_result(checks.registry_connect(data), contract.ORACLES[q], df.columns, rows) == []


def test_event_log_attributes_every_job(closed):
    closed["spark"].stop()  # finishes the event log; the fixtures are done with it
    log = parse_event_log(find_event_log(closed["log_dir"]))
    assert log["jobs"] > 0
    assert log["unattributed_jobs"] == 0
    labels = set(log["groups"])
    for stage in ("dq_sweep", "dq_audit_write", "fact_write", "kpi_agg", "kpi_dim_write"):
        assert f"canary.{stage}" in labels and f"pipeline.{stage}" in labels
    assert {"publish.export_bi", "publish.export_star", "gate.dq_sweep", "gate.dq_audit_write"} <= labels
    assert "gate.fact_write" not in labels


def test_an_operation_that_raises_counts_as_failed(monkeypatch, tmp_path):
    from perfbench import run as bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    r = bench.Run(None, tmp_path, {})
    r.attempt("export", lambda: 1 / 0)
    r.guarded("close", lambda: [], {"error": "ValueError: no close"})
    r.guarded("publish", lambda: [])
    assert r.attempted == 3
    assert [f.split(":", 1)[0] for f in r.failures] == ["export", "close"]


def test_generator_child_process_reuses_the_cached_input(tmp_path):
    import subprocess

    def build():
        return subprocess.run(
            [sys.executable, "-m", "perfbench.gen", "clean", "--cache", str(tmp_path), "--seed", "4", "--size", "500"],
            cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout.strip()

    first = build()
    stamp = (Path(first) / "raw" / "sales.csv").stat().st_mtime_ns
    assert build() == first == str(tmp_path / "clean-s4-r500")
    assert (Path(first) / "raw" / "sales.csv").stat().st_mtime_ns == stamp


# --- BENCHMARK.json ----------------------------------------------------------------


def test_benchmark_json_matches_config():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == config.WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == config.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == config.PER_LAYER
