"""Property-based tests (hypothesis): engine semantics verified
against independent references on randomized inputs.

Each property runs a bounded number of examples (Spark actions are
~100ms each); deadlines are disabled accordingly.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from finance_etl_pipeline_monthly_close_dataset_spark.operators.asof import asof_join
from finance_etl_pipeline_monthly_close_dataset_spark.streaming.events import sessionize

BASE = dt.datetime(2025, 3, 1)


# --- as-of join vs pandas merge_asof ---------------------------------------

events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),
        st.integers(min_value=0, max_value=10_000),  # minutes offset
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left_rows=events_strategy, right_rows=events_strategy)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows):
    # unique (key, ts) per side: merge_asof tie-handling within equal
    # right timestamps is otherwise underspecified
    left_rows = list({(k, m) for k, m in left_rows})
    right_rows = list({(k, m) for k, m in right_rows})
    left = spark.createDataFrame(
        [(k, BASE + dt.timedelta(minutes=m)) for k, m in left_rows], "k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [(k, BASE + dt.timedelta(minutes=m), float(m)) for k, m in right_rows],
        "k string, ts timestamp, v double",
    )
    got = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(left, right, on="k", value_cols=["v"]).collect()
    }

    lp = pd.DataFrame(
        [(k, BASE + dt.timedelta(minutes=m)) for k, m in left_rows], columns=["k", "ts"]
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        [(k, BASE + dt.timedelta(minutes=m), float(m)) for k, m in right_rows],
        columns=["k", "ts", "v"],
    ).sort_values("ts", kind="stable")
    merged = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    want = {
        (r.k, r.ts.to_pydatetime()): (None if pd.isna(r.v) else r.v)
        for r in merged.itertuples()
    }
    assert got == want


# --- sessionization invariants ----------------------------------------------


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    offsets=st.lists(st.integers(min_value=0, max_value=5_000), min_size=1, max_size=30),
    gap_minutes=st.integers(min_value=1, max_value=120),
)
def test_sessionize_gap_invariants(spark, offsets, gap_minutes):
    offsets = sorted(set(offsets))
    df = spark.createDataFrame(
        [(BASE + dt.timedelta(minutes=m), "u") for m in offsets], "ts timestamp, user_id string"
    )
    rows = sorted(sessionize(df, gap_minutes=gap_minutes).collect(), key=lambda r: r["ts"])
    # ids start at 1, are non-decreasing, and bump exactly when the gap
    # from the previous event exceeds the threshold
    assert rows[0]["session_id"] == 1
    for prev, cur in zip(rows, rows[1:]):
        gap = (cur["ts"] - prev["ts"]).total_seconds()
        if gap > gap_minutes * 60:
            assert cur["session_id"] == prev["session_id"] + 1
        else:
            assert cur["session_id"] == prev["session_id"]


# --- exact decimal sums are partitioning-invariant ---------------------------


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    cents=st.lists(st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=50),
    n_parts=st.integers(min_value=1, max_value=8),
)
def test_decimal_sum_partitioning_invariant(spark, cents, n_parts):
    """The dsum convention: 2-dp money summed as decimal gives the
    same double no matter how rows are partitioned (plain double sums
    do not satisfy this)."""
    vals = [c / 100.0 for c in cents]
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(n_parts)
    got = df.agg(F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s")).first()["s"]
    want = float(sum(cents)) / 100.0
    assert got == want


# --- KPI pivot conserves the fact total ------------------------------------

_ACCOUNTS = [("40000001", "Revenue"), ("50000001", "COGS"), ("61000001", "Expense"), ("10000001", "Asset")]


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["TLM", "UPE", "ZZZ"]),
            st.integers(min_value=0, max_value=3),      # account index; 3 = unknown code
            st.integers(min_value=-10**6, max_value=10**6),  # cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_kpi_pivot_conserves_amounts(spark, rows):
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.transforms import kpi_monthly

    fact_rows = []
    for i, (entity, acct_i, cents) in enumerate(rows):
        code = _ACCOUNTS[acct_i][0] if acct_i < 3 else "99999999"
        fact_rows.append(
            (f"t{i}", dt.datetime(2025, 12, 1 + i % 28), entity, "sales", f"d{i}",
             code, "USD", cents / 100.0, 1.0, cents / 100.0, "")
        )
    fact = spark.createDataFrame(
        fact_rows,
        "txn_id string, date timestamp, entity string, source string, document_id string,"
        " account_code string, currency string, amount double, rate double,"
        " amount_base double, description string",
    )
    coa = spark.createDataFrame(
        [(c, c, t) for c, t in _ACCOUNTS],
        "account_code string, account_name string, account_type string",
    )
    kpi = kpi_monthly(fact, coa).collect()

    # every entity present in the fact appears in the KPI
    assert {r["entity"] for r in kpi} == {e for e, _, _ in rows}

    # the sum of typed KPI columns equals the sum of amount_base over
    # rows whose account is in the COA (unknown codes excluded by the
    # pivot, exactly like pandas pivot_table drops the NaN column)
    typed_cents = sum(c for _, a, c in rows if a < 3)
    typed_total = sum(
        sum(r[t] or 0.0 for t in ("Revenue", "COGS", "Expense", "Asset") if t in r.asDict())
        for r in kpi
    )
    assert abs(typed_total - typed_cents / 100.0) < 1e-6


# --- distributed ntile vs the SQL window on random inputs -------------------


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n=st.integers(min_value=0, max_value=120),
    k=st.integers(min_value=1, max_value=12),
    n_parts=st.integers(min_value=1, max_value=7),
)
def test_distributed_ntile_matches_window_on_random_sizes(spark, n, k, n_parts):
    from pyspark.sql.window import Window

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.ranking import (
        distributed_ntile,
    )

    df = spark.range(n).select(F.col("id"), (F.col("id") * 13 % 29).alias("s"))
    order = [F.col("s").asc(), F.col("id").asc()]
    got = {
        (r["id"], r["t"])
        for r in distributed_ntile(df, k, order, tile_col="t", num_partitions=n_parts).collect()
    }
    expected = {
        (r["id"], r["t"])
        for r in df.withColumn("t", F.ntile(k).over(Window.orderBy(*order))).collect()
    }
    assert got == expected


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    base=st.dictionaries(st.integers(0, 20), st.sampled_from(["A", "B", "C"]),
                         min_size=1, max_size=12),
    batches=st.lists(
        st.dictionaries(st.integers(0, 20), st.sampled_from(["A", "B", "C", None]),
                        max_size=8),
        min_size=1, max_size=3,
    ),
)
def test_scd2_invariants_over_random_batches(spark, base, batches):
    """After any sequence of update batches: exactly one current row
    per live key, the current value equals the last differing update,
    and each key's version intervals chain without gaps."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.scd import (
        scd2_initial,
        scd2_merge,
    )

    dim = scd2_initial(
        spark.createDataFrame(list(base.items()), "k int, attr string"),
        "2020-01-01",
    )
    expected = dict(base)
    for i, batch in enumerate(batches):
        if not batch:
            continue
        date = f"2021-0{i + 1}-01"
        updates = spark.createDataFrame(list(batch.items()), "k int, attr string")
        dim = scd2_merge(dim, updates, keys=["k"], batch_date=date)
        expected.update(batch)

    rows = dim.collect()
    cur = {r.k: r.attr for r in rows if r.is_current}
    assert cur == expected  # newest attribute wins, inserts included
    for k in {r.k for r in rows}:
        versions = sorted(
            (r for r in rows if r.k == k), key=lambda r: r.effective_from
        )
        assert sum(r.is_current for r in versions) == 1
        assert versions[-1].is_current and versions[-1].effective_to is None
        for a, b in zip(versions, versions[1:]):
            assert a.effective_to == b.effective_from  # intervals chain


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    cents=st.lists(st.tuples(st.integers(0, 2), st.integers(1, 5000), st.integers(1, 5000)),
                   min_size=3, max_size=60),
)
def test_exact_power_sum_moments_match_numpy(spark, cents):
    """The decimal-power-sum formulation in group_stats_exact must
    agree with numpy's two-pass variance/correlation to float
    precision, for any grouping and magnitudes."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.contract import (
        q_group_stats_exact,
    )

    rows = [(g, x / 100.0, y / 100.0) for g, x, y in cents]
    df = spark.createDataFrame(rows, "l_returnflag int, l_quantity double, l_extendedprice double")
    import os, tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {r.l_returnflag: r for r in q_group_stats_exact(spark, d).collect()}
    for g in {r[0] for r in cents}:
        xs = np.array([x / 100.0 for gg, x, _ in cents if gg == g])
        ys = np.array([y / 100.0 for gg, _, y in cents if gg == g])
        r = out[g]
        assert abs(r.mean_qty - xs.mean()) < 1e-6
        if len(xs) > 1:
            assert abs(r.var_qty - xs.var(ddof=1)) < 1e-6
            denom = xs.std(ddof=1) * ys.std(ddof=1)
            if denom > 1e-12:
                expected = float(np.corrcoef(xs, ys)[0, 1])
                if r.corr_qty_price is not None:
                    assert abs(r.corr_qty_price - expected) < 1e-4


# --- chunking invariants ----------------------------------------------------

from finance_etl_pipeline_monthly_close_dataset_spark.operators.chunking import (  # noqa: E402
    chunk_count,
    chunk_documents,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n_tokens=st.integers(min_value=0, max_value=200),
    params=st.sampled_from([(4, 3), (8, 8), (16, 4), (64, 48)]),
)
def test_chunking_covers_every_token_exactly_once_per_window(spark, n_tokens, params):
    chunk_size, stride = params
    text = " ".join(f"tok{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_size=chunk_size, stride=stride).collect(),
        key=lambda r: r.chunk_idx,
    )

    # count formula: max(ceil((n - c)/s), 0) + 1
    expected = max(-(-(n_tokens - chunk_size) // stride), 0) + 1
    assert len(rows) == expected

    # every token position is covered by at least one window, and no
    # window starts beyond the document (except the single chunk of an
    # empty/short doc at position 1)
    covered = set()
    for r in rows:
        assert r.start_token == r.chunk_idx * stride + 1
        covered.update(range(r.start_token, r.start_token + r.chunk_tokens))
        if n_tokens > 0:
            assert r.start_token <= max(n_tokens, 1)
    assert covered == set(range(1, n_tokens + 1))


# --- int8 quantization vs numpy --------------------------------------------

import numpy as np  # noqa: E402

from finance_etl_pipeline_monthly_close_dataset_spark.operators.chunking import (  # noqa: E402
    quantize_embeddings_int8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vec=st.lists(
        st.floats(min_value=-100.0, max_value=100.0, allow_nan=False, width=32),
        min_size=1,
        max_size=32,
    )
)
def test_quantize_matches_numpy_reference(spark, vec):
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    row = quantize_embeddings_int8(df).collect()[0]

    v = np.asarray(vec, dtype=np.float32).astype(np.float64)
    mn, mx = v.min(), v.max()
    if mx == mn:
        codes = np.zeros(len(v), dtype=np.int64)
    else:
        scale = (mx - mn) / 255.0
        codes = np.clip(np.floor((v - mn) / scale + 0.5), 0, 255).astype(np.int64)
    assert row.n_dims == len(v)
    assert row.code_sum == int(codes.sum())
    assert row.code_min == int(codes.min())
    assert row.code_max == int(codes.max())


# --- semantic dedup vs a brute-force python reference ----------------------

vec_corpus = st.lists(
    st.lists(
        st.integers(min_value=-3, max_value=3).map(float), min_size=3, max_size=3
    ).filter(lambda v: any(x != 0 for x in v)),
    min_size=2,
    max_size=18,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vecs=vec_corpus)
def test_semantic_dedup_matches_brute_force(spark, vecs):
    """With k=1 (every vector in one cell) the drop set must equal a
    direct python brute force of the keep-lowest-id rule."""
    import math

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.kmeans import (
        lloyd_kmeans,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = lloyd_kmeans(df, k=1, n_iters=1)
    got = {r["vec_id"]: r["kept_ref"] for r in
           semantic_dedup(df, cents, threshold=0.9).collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    want = {}
    for j, vj in rows:
        for i, vi in rows:
            if i >= j:
                break
            if math.floor(cos(vi, vj) * 1e6 + 0.5) >= 900_000:
                want[j] = i
                break
    assert got == want


# --- chunk retrieval embeddings vs the driver-side mirror ------------------

doc_texts = st.lists(
    st.text(alphabet="abc XYZ", min_size=1, max_size=40).filter(
        lambda s: s.strip() != ""
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=doc_texts)
def test_chunk_embeddings_match_mirror_on_random_text(spark, texts):
    """Every single-chunk document's in-plan embedding equals the
    python mirror for arbitrary messy text (tokenizer parity)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.retrieval import (
        chunk_hash_embeddings,
        embed_text,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): [r[f"f{d}"] for d in range(8)]
        for r in chunk_hash_embeddings(df, dim=8, chunk_size=64, stride=48).collect()
    }
    for i, t in enumerate(texts):
        toks = [x for x in t.lower().strip().split() if x]
        if len(toks) <= 64:
            assert rows[(i, 0)] == embed_text(t, dim=8)


# --- JPEG codec: random images roundtrip (no Spark needed) -----------------


@settings(max_examples=12, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    mode=st.sampled_from(["smooth", "noise"]),
    subsample=st.booleans(),
    restart=st.sampled_from([0, 1, 3]),
)
def test_jpeg_roundtrip_random_images(h, w, seed, mode, subsample, restart):
    """decode(encode(img)) must (a) never error, (b) keep exact shape,
    (c) stay within lossy-codec error bounds: smooth content tight,
    white noise bounded by the worst-case of Annex-K quantization.
    Covers arbitrary (odd, tiny, 1-pixel) dimensions, 4:2:0, and
    restart intervals."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(seed)
    if mode == "smooth":
        yy, xx = np.mgrid[0:h, 0:w]
        base = (xx * 7 + yy * 5) % 256
        img = np.stack([base, (base + 40) % 256, (base + 90) % 256], axis=2).astype(
            np.uint8
        )
    else:
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)

    out = decode_jpeg(encode_jpeg_baseline(img, subsample=subsample, restart_interval=restart))
    assert out.shape == (h, w, 3) and out.dtype == np.uint8
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    # noise is the quantizer's worst case; smooth content has wrap-around
    # edges every 256/7 px, so allow ringing but far from garbage
    assert err < (90.0 if mode == "noise" else 40.0), (mode, err)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    toks=st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=30),
)
def test_repetition_fold_matches_python_argmax(spark, toks):
    """The sorted-run fold's (count desc, gram asc) winner must equal a
    plain Python Counter argmax over the same bigram list -- including
    the degenerate 0/1-token documents (single pseudo-bigram)."""
    from collections import Counter

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.text_analysis import (
        repetition_features,
    )

    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = repetition_features(df).first()

    if len(toks) >= 2:
        grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
    else:
        grams = [" ".join(toks)]  # ngrams_of emits one degenerate element
    counts = Counter(grams)
    best_n = max(counts.values())
    best_g = min(g for g, n in counts.items() if n == best_n)
    assert row["top_bigram"] == best_g
    assert row["top_bigram_n"] == best_n
    assert row["n_tokens"] == len(toks)


def test_ewma_fold_equals_closed_form_exactly(spark):
    """The events_ewma portability contract: with alpha=1/2, integer
    counts, and the 24-bucket cap, the recursive Spark fold and the
    closed-form weighted sum (what the DuckDB oracle computes) are
    BIT-IDENTICAL doubles -- not merely close -- for any counts under
    the documented magnitude bound."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    cases = [
        [rng.randrange(0, 2**20) for _ in range(rng.randrange(1, 25))]
        for _ in range(200)
    ]
    rows = [(i, xs) for i, xs in enumerate(cases)]
    df = spark.createDataFrame(rows, "id long, xs array<long>")
    ewma = F.aggregate(
        F.col("xs"),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x.cast("double")).otherwise(
            (x.cast("double") + acc) / F.lit(2.0)
        ),
    )
    got = {r.id: r.y for r in df.select("id", ewma.alias("y")).collect()}
    for i, xs in enumerate(cases):
        n = len(xs)
        closed = xs[0] * 0.5 ** (n - 1) + sum(
            xs[j] * 0.5 ** (n - j) for j in range(1, n)
        )
        assert got[i] == closed, (i, xs, got[i], closed)


# --- duplicate spans vs python brute force ----------------------------------

docs_strategy = st.lists(
    st.lists(st.sampled_from(list("abcdef")), min_size=1, max_size=12),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(token_lists=docs_strategy)
def test_duplicate_spans_matches_brute_force(spark, token_lists):
    """duplicate_spans == a direct python brute force of the distinct
    k-span / shared-across-docs rule on random corpora, including
    sub-k documents (which produce the single best-effort span per the
    shingle semantic)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.dedup import (
        duplicate_spans,
    )

    k = 3
    rows = [(f"d{i}", " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
           for r in duplicate_spans(df, span_k=k).collect()}

    spans = {
        doc_id: {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))}
        for (doc_id, _), toks in zip(rows, token_lists)
    }
    want = {}
    for doc_id, ss in spans.items():
        dup = sum(
            1 for s in ss
            if any(s in other for od, other in spans.items() if od != doc_id)
        )
        want[doc_id] = (len(ss), dup)
    assert got == want


# --- r15: snapshot drift vs a pure-Python reference ------------------------

drift_rows = st.lists(
    st.tuples(
        st.sampled_from(["en", "fr"]),
        st.integers(min_value=0, max_value=2000),
    ),
    min_size=2,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(base_rows=drift_rows, cur_rows=drift_rows)
def test_histogram_drift_matches_python_reference(spark, base_rows, cur_rows):
    """TVD and chi-square per group match an independent pure-Python
    computation (fold in bucket order) on arbitrary integer data, and
    identical snapshots always score zero."""
    from collections import Counter

    from finance_etl_pipeline_monthly_close_dataset_spark.operators import drift

    # both groups must appear on both sides: a group with rows on only
    # one side has an undefined share (0/0) -- the operator only emits
    # groups present in either snapshot with nonzero totals on both
    langs = {"en", "fr"}
    base_rows = base_rows + [(lang, 1) for lang in langs]
    cur_rows = cur_rows + [(lang, 1) for lang in langs]

    base = spark.createDataFrame(base_rows, "lang string, n_chars int")
    cur = spark.createDataFrame(cur_rows, "lang string, n_chars int")
    got = {
        r["lang"]: (r["tvd"], r["chi_square"], r["n_buckets"])
        for r in drift.histogram_drift(base, cur, bucket_width=100).collect()
    }

    for lang in sorted(langs):
        b = Counter(v // 100 for g, v in base_rows if g == lang)
        c = Counter(v // 100 for g, v in cur_rows if g == lang)
        tb, tc = sum(b.values()), sum(c.values())
        buckets = sorted(set(b) | set(c))
        tvd = chi = 0.0
        for bk in buckets:  # fold in bucket order, like the engine
            p, q = b.get(bk, 0) / tb, c.get(bk, 0) / tc
            tvd += abs(p - q)
            chi += ((p - q) * (p - q)) / (p + q)
        assert got[lang][2] == len(buckets)
        assert got[lang][0] == round(0.5 * tvd, 6)
        assert got[lang][1] == round(chi, 6)

    same = drift.histogram_drift(base, base, bucket_width=100).collect()
    assert all(r["tvd"] == 0.0 and r["chi_square"] == 0.0 for r in same)


# --- r15: OLS vs numpy lstsq ------------------------------------------------

ols_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=6,
    max_size=30,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ols_rows)
def test_ols_fit_matches_numpy_lstsq(spark, rows):
    """The Cramer solve agrees with numpy's least-squares on arbitrary
    integer data whenever the design matrix is well-conditioned."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators import (
        regression as reg,
    )

    # de-duplicate (x1, x2) and require 3 distinct design points with
    # genuine rank 3 (hypothesis happily generates collinear data)
    seen = {}
    for x1, x2, y in rows:
        seen[(x1, x2)] = y
    data = [(i, y, x1, x2) for i, ((x1, x2), y) in enumerate(sorted(seen.items()))]
    X = np.array([[1.0, r[2], r[3]] for r in data])
    if np.linalg.matrix_rank(X) < 3:
        return
    # condition guard: Cramer in doubles loses digits on near-singular
    # systems; the operator documents mean-centering for those
    A = X.T @ X
    if np.linalg.cond(A) > 1e6:
        return
    yv = np.array([float(r[1]) for r in data])
    want, *_ = np.linalg.lstsq(X, yv, rcond=None)

    df = spark.createDataFrame(data, "doc_id long, y long, x1 long, x2 long")
    got = reg.ols_fit_3x3(df).collect()[0]
    scale = max(1.0, float(np.abs(want).max()))
    assert abs(got["b0"] - want[0]) / scale < 1e-6
    assert abs(got["b1"] - want[1]) / scale < 1e-6
    assert abs(got["b2"] - want[2]) / scale < 1e-6
