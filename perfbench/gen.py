"""Seeded input generator for the close benchmark.

Everything here is plain numpy/pandas/pyarrow: the engine under test
receives only the files written below.  Inputs are cached on disk
under ``<cache>/<kind>-s<seed>-r<rows>/`` and written through a
temporary directory plus rename, so a half-written input never looks
complete and generation stays out of every timed section.  The
benchmark builds each input in a child process,

    python3 -m perfbench.gen {clean,dirty,registry,canary} --cache DIR --seed N --size N

which prints the input's directory, so that the generator's frames
never count in the benchmark process's peak RSS.

Month kinds
-----------
``clean``  a uniform month: 50% sales, 30% expenses, 10% payroll,
           10% inventory movements, four entities, three currencies,
           every row inside the month, FX rates for every day and
           currency.  The DQ gate passes.
``dirty``  the clean month with ERROR-class violations injected into
           disjoint rows of all four transactional datasets; see
           ``DIRTY_RECIPE``.  The gate fails with ``fail_on=ERROR``.

The registry tables (``registry``) mimic the shape of the engine's
TPC-H-like test tables at a small scale factor, with the properties the
13 headline oracles rely on (exact 2-dp money, unique keys, near-duplicate
documents at Jaccard >= 0.9 and unrelated ones near 0).
"""

from __future__ import annotations

import argparse
import calendar
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

from .config import CANARY_SEED, MONTH
ENTITIES = ["TLM", "UPE", "KGA", "MWZ"]
CURRENCIES = ["USD", "TZS", "EUR"]
# rows per dataset as a share of the month (sales, expenses, payroll,
# inventory); the sum is 1
ROW_SHARES = {"sales": 0.5, "expenses": 0.3, "payroll": 0.1, "inventory_movements": 0.1}

CHART_OF_ACCOUNTS = [
    ("40000001", "Sales - Export", "Revenue"),
    ("40000002", "Sales - Local", "Revenue"),
    ("50000001", "COGS - Inventory", "COGS"),
    ("61000001", "Salaries & Wages", "Expense"),
    ("61000002", "Payroll Taxes", "Expense"),
    ("62000001", "Rent", "Expense"),
    ("63000001", "Travel & Subsistence", "Expense"),
    ("64000001", "Bank Charges", "Expense"),
    ("10000001", "Cash at Bank", "Asset"),
    ("11000001", "Accounts Receivable", "Asset"),
    ("20000001", "Accounts Payable", "Liability"),
    ("21000001", "VAT Payable", "Liability"),
]
SALES_ACCOUNTS = ["40000001", "40000002"]
EXPENSE_ACCOUNTS = ["62000001", "63000001", "64000001"]
MOVEMENTS = ["receipt", "issue", "adjustment"]

# Dirty-month recipe: violation kind -> share of the dataset's rows.
# Every kind lands on rows no other kind touches.  The ``column`` is the
# column the engine reports the failure against ("" for a key-level
# uniqueness failure) and ``severity`` follows the reference severity
# rules: key columns and unparseable values are ERROR; a duplicate
# document key is reported with no column, which those rules grade WARN.
DIRTY_RECIPE: dict[str, list[dict]] = {
    "sales": [
        {"kind": "currency_not_allowed", "rate": 0.01, "column": "currency", "severity": "ERROR"},
        {"kind": "unparseable_amount", "rate": 0.005, "column": "amount", "severity": "ERROR"},
        {"kind": "account_not_in_chart", "rate": 0.005, "column": "account_code", "severity": "ERROR"},
        {"kind": "duplicate_document_key", "rate": 0.0025, "column": "", "severity": "WARN"},
    ],
    "expenses": [
        {"kind": "currency_not_allowed", "rate": 0.01, "column": "currency", "severity": "ERROR"},
        {"kind": "unparseable_amount", "rate": 0.005, "column": "amount", "severity": "ERROR"},
        {"kind": "account_not_in_chart", "rate": 0.005, "column": "account_code", "severity": "ERROR"},
        {"kind": "duplicate_document_key", "rate": 0.0025, "column": "", "severity": "WARN"},
    ],
    "payroll": [
        {"kind": "currency_not_allowed", "rate": 0.01, "column": "currency", "severity": "ERROR"},
        {"kind": "unparseable_amount", "rate": 0.005, "column": "gross", "severity": "ERROR"},
    ],
    "inventory_movements": [
        {"kind": "currency_not_allowed", "rate": 0.01, "column": "currency", "severity": "ERROR"},
        {"kind": "unparseable_amount", "rate": 0.005, "column": "unit_cost", "severity": "ERROR"},
    ],
}
DIRTY_VALUES = {"currency_not_allowed": "XXX", "unparseable_amount": "n/a", "account_not_in_chart": "99999999"}
_DOC_KEY = {"sales": "invoice_id", "expenses": "bill_id"}
_KIND_CODE = {"clean": 1, "dirty": 2, "registry": 3}

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Bijective 64-bit mix: distinct inputs give distinct outputs."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return z ^ (z >> np.uint64(31))


def _ids(prefix: str, n: int, seed: int, salt: int) -> np.ndarray:
    """``n`` distinct ids whose text depends on the seed."""
    mix = _splitmix64(np.array([seed * 1_000_003 + salt], dtype=np.uint64))[0]
    h = _splitmix64(np.arange(n, dtype=np.uint64) ^ mix)
    return np.char.add(prefix, np.char.mod("%016x", h))


def _money(cents: np.ndarray) -> np.ndarray:
    """Integer cents -> exact 2-dp text ("-" sign kept)."""
    sign = np.where(cents < 0, "-", "")
    a = np.abs(cents)
    return np.char.add(np.char.add(np.char.add(sign, (a // 100).astype(str)), "."),
                       np.char.zfill((a % 100).astype(str), 2))


def _counts(rows: int) -> dict[str, int]:
    out = {k: int(rows * s) for k, s in ROW_SHARES.items()}
    out["sales"] += rows - sum(out.values())
    return out


def _month_days(month: str) -> list[str]:
    y, m = (int(p) for p in month.split("-"))
    return [f"{month}-{d:02d}" for d in range(1, calendar.monthrange(y, m)[1] + 1)]


def write_atomic(target: Path, build) -> Path:
    """Run ``build(tmp_dir)`` and rename the result into place once."""
    if (target / "_COMPLETE").exists():
        return target
    tmp = target.with_name(target.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_COMPLETE").write_text("ok")
    shutil.rmtree(target, ignore_errors=True)
    os.rename(tmp, target)
    return target


def write_chart(ref_dir: Path) -> None:
    ref_dir.mkdir(parents=True, exist_ok=True)
    pd.DataFrame(CHART_OF_ACCOUNTS, columns=["account_code", "account_name", "account_type"]).to_csv(
        ref_dir / "chart_of_accounts.csv", index=False
    )


def month_frames(seed: int, rows: int, kind: str = "clean", month: str = MONTH):
    """The five raw datasets as all-string frames plus the injected
    violation counts ``{dataset: {column: (count, severity)}}``."""
    if kind not in ("clean", "dirty"):
        raise ValueError(f"unknown month kind {kind!r}")
    rng = np.random.default_rng([seed, _KIND_CODE["clean"]])
    n = _counts(rows)
    days = np.array(_month_days(month))

    def common(m: int):
        return (
            days[rng.integers(0, len(days), m)],
            np.array(ENTITIES)[rng.integers(0, len(ENTITIES), m)],
            np.array(CURRENCIES)[rng.choice(3, m, p=[0.5, 0.35, 0.15])],
        )

    d, e, c = common(n["sales"])
    sales = pd.DataFrame({
        "date": d, "entity": e, "invoice_id": _ids("INV-", n["sales"], seed, 1),
        "account_code": np.array(SALES_ACCOUNTS)[rng.choice(2, n["sales"], p=[0.7, 0.3])],
        "currency": c, "amount": _money(rng.integers(100, 500_000, n["sales"])),
        "description": "Synthetic sale",
    })
    d, e, c = common(n["expenses"])
    expenses = pd.DataFrame({
        "date": d, "entity": e, "bill_id": _ids("BILL-", n["expenses"], seed, 2),
        "account_code": np.array(EXPENSE_ACCOUNTS)[rng.integers(0, 3, n["expenses"])],
        "currency": c, "amount": _money(rng.integers(100, 250_000, n["expenses"])),
        "description": "Synthetic expense",
    })
    _, e, c = common(n["payroll"])
    gross = rng.integers(30_000, 500_000, n["payroll"])
    ded = rng.integers(0, 15_000, n["payroll"])
    payroll = pd.DataFrame({
        "month": month, "entity": e, "employee_id": _ids("EMP-", n["payroll"], seed, 3),
        "currency": c, "gross": _money(gross), "deductions": _money(ded), "net": _money(gross - ded),
    })
    d, e, c = common(n["inventory_movements"])
    inv = pd.DataFrame({
        "date": d, "entity": e,
        "sku": np.char.add("SKU-", np.char.zfill(rng.integers(0, 5000, n["inventory_movements"]).astype(str), 4)),
        "movement_type": np.array(MOVEMENTS)[rng.choice(3, n["inventory_movements"], p=[0.45, 0.45, 0.10])],
        "qty": _money(rng.integers(1, 51, n["inventory_movements"]) * 100),
        "unit_cost": _money(rng.integers(200, 8_000, n["inventory_movements"])),
        "currency": c,
    })
    fx_rows = []
    for day in days:
        fx_rows.append((day, "USD", "USD", "1.0"))
        fx_rows.append((day, "EUR", "USD", f"{rng.uniform(1.05, 1.15):.6f}"))
        fx_rows.append((day, "TZS", "USD", f"{rng.uniform(0.00038, 0.00045):.8f}"))
    fx = pd.DataFrame(fx_rows, columns=["date", "from_currency", "to_currency", "rate"])

    frames = {"sales": sales, "expenses": expenses, "payroll": payroll,
              "inventory_movements": inv, "fx_rates": fx}
    injected: dict[str, dict[str, list]] = {}
    if kind == "dirty":
        # the clean month's rows, with violations drawn from a stream of their own
        rng = np.random.default_rng([seed, _KIND_CODE["dirty"]])
        for name, recipe in DIRTY_RECIPE.items():
            df = frames[name]
            order = rng.permutation(len(df))
            pos = 0
            counts: dict[str, list] = {}
            for item in recipe:
                k = max(1, int(len(df) * item["rate"]))
                if item["kind"] == "duplicate_document_key":
                    # row j takes the (entity, document id) of clean row i
                    src, dst = order[pos:pos + k], order[pos + k:pos + 2 * k]
                    pos += 2 * k
                    key = _DOC_KEY[name]
                    df.loc[dst, "entity"] = df.loc[src, "entity"].to_numpy()
                    df.loc[dst, key] = df.loc[src, key].to_numpy()
                else:
                    rows_ = order[pos:pos + k]
                    pos += k
                    df.loc[rows_, item["column"]] = DIRTY_VALUES[item["kind"]]
                counts[item["column"]] = [k, item["severity"]]
            injected[name] = counts
    return frames, injected


def month_inputs(cache: Path, seed: int, rows: int, kind: str = "clean") -> Path:
    """Cached month: ``raw/*.csv``, ``ref/chart_of_accounts.csv`` and
    ``injected.json``.  Returns the directory."""

    def build(tmp: Path) -> None:
        frames, injected = month_frames(seed, rows, kind)
        raw = tmp / "raw"
        raw.mkdir()
        for name, df in frames.items():
            df.to_csv(raw / f"{name}.csv", index=False)
        write_chart(tmp / "ref")
        (tmp / "injected.json").write_text(json.dumps(injected, sort_keys=True))

    return write_atomic(Path(cache) / f"{kind}-s{seed}-r{rows}", build)


# --- registry tables ---------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector line "
    "table data agg value key stream window a spark part group big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]


def registry_tables(seed: int, scale: int) -> dict[str, pd.DataFrame]:
    """Headline-query tables; ``scale`` is the number of orders."""
    rng = np.random.default_rng([seed, _KIND_CODE["registry"]])
    n_cust, n_part, n_ord = max(10, scale // 10), max(10, scale * 2 // 15), scale
    n_li = n_ord * 4
    ts = lambda a: pd.to_datetime(a, unit="s").astype("datetime64[us]")  # noqa: E731
    day0 = int(pd.Timestamp("1995-01-01").timestamp())
    n_days = (pd.Timestamp("2001-08-01") - pd.Timestamp("1995-01-01")).days

    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.integers(-99_999, 1_000_000, n_cust) / 100.0,
        "c_mktsegment": np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])[
            rng.integers(0, 5, n_cust)],
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
        "o_orderdate": ts(day0 + rng.integers(0, n_days, n_ord) * 86400),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)],
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            np.array(["small", "red", "blue", "big", "green", "shiny", "old", "new"])[rng.integers(0, 8, n_part)],
            np.array(["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"])[rng.integers(0, 8, n_part)])],
        "p_brand": np.char.add("Brand#", (rng.integers(1, 26, n_part)).astype(str)),
        "p_type": np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (90_000 + np.arange(n_part) % 10_000) / 100.0,
    })
    li_order = rng.integers(0, n_ord, n_li).astype(np.int64)
    lineitem = pd.DataFrame({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_li) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts(day0 + rng.integers(1, n_days + 95, n_li) * 86400),
    })

    n_ev = scale * 2 // 3
    ev_sec = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(ev_sec, unit="us")).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(10, n_ev // 66), n_ev).astype(np.int64),
        "event_type": np.array(["signup", "error", "click", "view", "purchase"])[rng.integers(0, 5, n_ev)],
        "value": rng.integers(1, 50_000, n_ev) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = max(20, scale // 30)
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # near duplicate: an earlier long document plus one token
            j = int(rng.integers(0, i))
            while len(texts[j].split()) < 40:
                j = (j + 1) % i
                if j == 0 and len(texts[0].split()) < 40:
                    break
            texts.append(texts[j] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 90)))))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_emb = max(20, scale // 75)
    vecs = rng.normal(0, 0.15, (n_emb, 64)).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {"customer": customer, "orders": orders, "part": part, "lineitem": lineitem,
            "events": events, "documents": documents, "embeddings": embeddings}


def registry_inputs(cache: Path, seed: int, scale: int) -> Path:
    """Cached registry tables as ``<name>.parquet`` files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp: Path) -> None:
        for name, df in registry_tables(seed, scale).items():
            table = pa.Table.from_pandas(df, preserve_index=False)
            if name == "embeddings":
                table = table.set_column(1, "embedding", pa.array(list(df["embedding"]), pa.list_(pa.float32())))
            pq.write_table(table, tmp / f"{name}.parquet")

    return write_atomic(Path(cache) / f"registry-s{seed}-o{scale}", build)


def canary_inputs(cache: Path) -> Path:
    """The engine's own seed-42 reference month, whose close the
    reference goldens describe."""
    from finance_etl_pipeline_monthly_close_dataset_spark import sample_data

    def build(tmp: Path) -> None:
        sample_data.generate_synthetic_raw(tmp / "raw", month=MONTH, seed=CANARY_SEED)
        sample_data.write_chart_of_accounts(tmp / "ref")

    return write_atomic(Path(cache) / f"canary-s{CANARY_SEED}", build)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description="Build one cached benchmark input and print its directory.")
    p.add_argument("kind", choices=["clean", "dirty", "registry", "canary"])
    p.add_argument("--cache", required=True, type=Path)
    p.add_argument("--seed", type=int, default=CANARY_SEED)
    p.add_argument("--size", type=int, default=0, help="rows of a month, orders of the registry tables")
    args = p.parse_args(argv)
    if args.kind == "canary":
        out = canary_inputs(args.cache)
    elif args.kind == "registry":
        out = registry_inputs(args.cache, args.seed, args.size)
    else:
        out = month_inputs(args.cache, args.seed, args.size, args.kind)
    print(out)


if __name__ == "__main__":
    main()
