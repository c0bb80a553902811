"""Scale-engineering utilities: salted joins and hot-key routing. Tests
assert both result correctness AND the physical-plan property each
utility exists to deliver."""

from __future__ import annotations

from pyspark.sql import functions as F

from finance_etl_pipeline_monthly_close_dataset_spark.operators.skew import (
    broadcast_hot_keys_join,
    salted_join,
)


def _skewed_fact(spark, n=10_000):
    # 90% of rows hit key 1 (hot), the rest spread over 100 keys
    return spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(1))
        .otherwise((F.col("id") % 100) + 2)
        .alias("k"),
        (F.col("id") * 2).alias("v"),
    )


def _dim(spark):
    return spark.range(1, 102).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), F.col("id")).alias("name")
    )


def test_salted_join_matches_plain_join(spark):
    fact, dim = _skewed_fact(spark), _dim(spark)
    plain = fact.join(dim, on="k").groupBy("k").count()
    salted = salted_join(fact, dim, on="k", n_salts=4).groupBy("k").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # join key is the composite (k, _salt): the hot key's rows spread
    # over n_salts reducer keys
    plan = salted_join(fact, dim, on="k", n_salts=4)._jdf.queryExecution().toString()
    assert "_salt" in plan


def test_salted_join_left_outer(spark):
    fact = _skewed_fact(spark, 1000)
    dim = _dim(spark).filter(F.col("k") <= 50)  # drop some keys
    plain = fact.join(dim, on="k", how="left")
    salted = salted_join(fact, dim, on="k", n_salts=4, how="left")
    assert plain.count() == salted.count()
    assert (
        plain.filter(F.col("name").isNull()).count()
        == salted.filter(F.col("name").isNull()).count()
    )


def test_broadcast_hot_keys_join_routes_and_matches(spark):
    fact, dim = _skewed_fact(spark), _dim(spark)
    plain = fact.join(dim, on="k")
    hybrid = broadcast_hot_keys_join(fact, dim, on="k", hot_key_threshold=1000)
    assert plain.count() == hybrid.count()
    # the hot slice must actually take the broadcast path
    plan = hybrid._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_month_partitioned_lake_prunes_and_upserts(spark, tmp_path):
    """The curated lake is partitioned by month: re-running a month
    replaces only its partition (dynamic overwrite), and a month
    filter prunes the scan to one partition."""
    import datetime as dt

    from finance_etl_pipeline_monthly_close_dataset_spark.sources.writers import (
        write_parquet,
    )

    def month_df(month: str, val: float):
        return spark.createDataFrame(
            [(dt.datetime.fromisoformat(f"{month}-15"), val)], "date timestamp, v double"
        ).withColumn("month", F.date_format("date", "yyyy-MM"))

    lake = str(tmp_path / "lake")
    write_parquet(month_df("2025-11", 1.0), lake, partition_by=["month"])
    write_parquet(month_df("2025-12", 2.0), lake, partition_by=["month"])
    # re-run December with a new value: November must survive
    write_parquet(month_df("2025-12", 3.0), lake, partition_by=["month"])

    df = spark.read.parquet(lake)
    rows = {r["month"]: r["v"] for r in df.collect()}
    assert rows == {"2025-11": 1.0, "2025-12": 3.0}

    # partition pruning: the month predicate becomes a PartitionFilter,
    # not a data filter
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.filter(F.col("month") == "2025-12").explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(month" in plan


def test_asof_empty_right_keeps_all_left(spark):
    import datetime as dt

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", dt.datetime(2025, 1, 1))], "k string, ts timestamp"
    )
    right = spark.createDataFrame([], "k string, ts timestamp, v double")
    out = asof_join(left, right, on="k", value_cols=["v"]).collect()
    assert len(out) == 1 and out[0]["v"] is None


def test_range_join_empty_intervals(spark):
    import datetime as dt

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.ranges import range_join

    points = spark.createDataFrame(
        [("p", dt.datetime(2025, 1, 1))], "pid string, ts timestamp"
    )
    intervals = spark.createDataFrame([], "iid string, start timestamp, end timestamp")
    assert range_join(points, intervals, "ts", "start", "end").count() == 0


def test_connected_components_nonconvergence_raises(spark):
    import pytest as _pytest

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.dedup import (
        connected_components,
    )

    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "doc_id string")
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    # a chain of length 3 cannot settle in a single iteration
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(ids, pairs, max_iter=1)


def test_hll_partials_merge_equals_direct_sketch(spark):
    """The invariant that makes sketch partials safe to persist and
    roll up: unioning per-increment sketches gives the SAME estimate
    as sketching the raw data directly (associativity), and the
    estimate is close to the exact distinct count."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.sketches import (
        hll_partials,
        hll_rollup,
    )

    df = spark.range(50_000).select(
        (F.col("id") % 12).alias("month"),
        (F.col("id") % 7).alias("seg"),
        # 9001 distinct users spread unevenly over months
        (F.col("id") % 9001).alias("user_id"),
    )
    partials = hll_partials(df, ["month", "seg"], "user_id")
    assert partials.count() == 84  # one ~2KB sketch per increment

    merged = {r.seg: r.n_distinct_est
              for r in hll_rollup(partials, ["seg"]).collect()}
    direct = {
        r.seg: r.est
        for r in df.groupBy("seg")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est"))
        .collect()
    }
    assert merged == direct  # merge-of-partials == sketch-of-raw, exactly

    exact = {r.seg: r.n for r in df.groupBy("seg")
             .agg(F.count_distinct("user_id").alias("n")).collect()}
    for seg, est in merged.items():
        assert abs(est - exact[seg]) / exact[seg] < 0.05

    # global rollup from the same partials, no raw re-scan
    total = hll_rollup(partials, []).collect()[0].n_distinct_est
    exact_total = df.select(F.count_distinct("user_id")).collect()[0][0]
    assert abs(total - exact_total) / exact_total < 0.05


def test_z_value_interleaves_bits(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.layout import z_value_n

    df = spark.createDataFrame(
        [(0b11, 0b00), (0b00, 0b11), (0b11, 0b11), (0b10, 0b01)], "a long, b long"
    )
    got = [r[0] for r in df.select(z_value_n([F.col("a"), F.col("b")], bits=2)).collect()]
    # bit 2i <- a's bit i, bit 2i+1 <- b's bit i
    assert got == [0b0101, 0b1010, 0b1111, 0b0110]


def test_z_value_n_three_columns(spark):
    """N-column interleave: result bit i*N+j takes bit i of column j,
    and write_zordered(cols=[...]) clamps bits to fit a long."""
    import pytest

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.layout import (
        z_value_n,
    )

    df = spark.createDataFrame([(0b1, 0b0, 0b1), (0b11, 0b01, 0b00)], "a long, b long, c long")
    got = [
        r[0]
        for r in df.select(
            z_value_n([F.col("a"), F.col("b"), F.col("c")], bits=2)
        ).collect()
    ]
    # row 1: a0=1 -> bit0, b0=0 -> bit1, c0=1 -> bit2 = 0b101
    assert got[0] == 0b101
    # row 2: a=11, b=01, c=00 -> bits: a0@0, b0@1, c0@2, a1@3, b1@4, c1@5
    assert got[1] == 0b001011
    with pytest.raises(ValueError):
        z_value_n([F.col("a")] * 4, bits=16)  # 64 bits > long


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """A single-column sort leaves every file spanning the full range
    of the OTHER column (its parquet stats prune nothing for a
    predicate on it); the z-ordered layout keeps both columns' ranges
    tight per file, so footer min/max skip most files."""
    import glob

    import pyarrow.parquet as pq

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.layout import (
        write_zordered,
    )

    n = 256  # 256x256 grid of (a, b)
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("a"), F.floor(F.col("id") / n).alias("b")
    )
    zp = str(tmp_path / "zorder")
    ap = str(tmp_path / "asorted")
    write_zordered(grid, zp, "a", "b", bits=8, num_files=16)
    grid.repartitionByRange(16, "a").sortWithinPartitions("a").write.parquet(ap)

    def files_overlapping_b(path, lo, hi):
        keep = 0
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("b")
            mins = [md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)]
            if min(mins) <= hi and max(maxs) >= lo:
                keep += 1
        return keep

    # box predicate on b (the non-leading dimension): b in [0, 15]
    # ideal tile-aligned layout = 4 files; repartitionByRange samples its
    # boundaries, so allow straddler files -- still >60% of files skipped
    assert files_overlapping_b(ap, 0, 15) == 16   # a-sort: zero pruning
    assert files_overlapping_b(zp, 0, 15) <= 6    # z-order: most skipped
    # and the data survives the layout intact
    assert spark.read.parquet(zp).count() == n * n


def test_versioned_lake_snapshot_isolation_and_cdf(spark, tmp_path):
    """Commit -> upsert -> time travel -> change feed -> vacuum, plus
    crash-orphan recovery: an unreferenced v-directory from a crashed
    commit must be restaged, never exposed."""
    import datetime as dt
    import os

    from finance_etl_pipeline_monthly_close_dataset_spark.sources import (
        versioned_lake as vl,
    )

    lake = str(tmp_path / "vlake")
    t0 = dt.datetime(2024, 1, 1, 12, 0)

    b1 = spark.createDataFrame(
        [(1, t0, 1.0), (2, t0, 2.0)], "k long, ts timestamp, v double"
    )
    assert vl.upsert_version(b1, lake, "k", "ts") == 1
    # crash simulation: a half-written v=2 exists but the pointer
    # still says 1 -- readers must not see it, the next commit restages
    os.makedirs(os.path.join(lake, "v=2"))
    assert vl.current_version(lake) == 1
    assert {r["k"] for r in vl.read_latest(spark, lake).collect()} == {1, 2}

    b2 = spark.createDataFrame(
        [(2, t0 + dt.timedelta(minutes=5), 20.0),
         (3, t0 + dt.timedelta(minutes=5), 3.0)],
        "k long, ts timestamp, v double",
    )
    assert vl.upsert_version(b2, lake, "k", "ts") == 2
    # old snapshot is untouched (time travel)
    assert {r["k"]: r["v"] for r in vl.read_version(spark, lake, 1).collect()} == {
        1: 1.0, 2: 2.0,
    }
    assert {r["k"]: r["v"] for r in vl.read_latest(spark, lake).collect()} == {
        1: 1.0, 2: 20.0, 3: 3.0,
    }

    # change data feed between snapshots
    cdf = {
        r["k"]: r["change_type"]
        for r in vl.changes_between(spark, lake, 1, 2, ["k"], ["v"]).collect()
    }
    assert cdf == {2: "update", 3: "insert"}

    b3 = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=9), 10.0)], "k long, ts timestamp, v double"
    )
    assert vl.upsert_version(b3, lake, "k", "ts") == 3
    removed = vl.vacuum(lake, keep_last=2)
    assert removed == [1]
    assert sorted(d for d in os.listdir(lake) if d.startswith("v=")) == ["v=2", "v=3"]
    assert {r["k"]: r["v"] for r in vl.read_latest(spark, lake).collect()} == {
        1: 10.0, 2: 20.0, 3: 3.0,
    }


def test_z_value_n_is_bijective_on_small_domain(spark):
    """Exhaustive: over [0,4)^3 at 2 bits/column the interleave is a
    bijection onto [0, 64) -- no two cells collide, so range
    partitioning on z cannot merge distinct key combinations."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.layout import (
        z_value_n,
    )

    df = spark.range(64).select(
        (F.col("id") % 4).alias("a"),
        ((F.col("id") / 4).cast("long") % 4).alias("b"),
        ((F.col("id") / 16).cast("long") % 4).alias("c"),
    )
    zs = [
        r[0]
        for r in df.select(
            z_value_n([F.col("a"), F.col("b"), F.col("c")], bits=2)
        ).collect()
    ]
    assert sorted(zs) == list(range(64))


def test_partitioned_lake_join_uses_dynamic_partition_pruning(spark, tmp_path):
    """Joining the partition-keyed fact lake against a filtered dim
    must plan a dynamicpruningexpression PartitionFilter -- at 100 TB
    this is what turns 'join one month's dim slice' into a one-month
    fact scan instead of a full-lake scan (runtime partition pruning,
    no literal month predicate required in the query)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    fact = spark.range(50_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 12).alias("month_id"),
        (F.col("id") * 1.5).alias("v"),
    )
    fact.write.partitionBy("month_id").mode("overwrite").parquet(
        str(tmp_path / "fact")
    )
    dim = spark.range(12).select(
        F.col("id").alias("month_id"),
        F.concat(F.lit("2025-"), F.col("id")).alias("label"),
    )
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))

    f = spark.read.parquet(str(tmp_path / "fact"))
    d = spark.read.parquet(str(tmp_path / "dim")).filter(
        F.col("label") == "2025-3"
    )
    j = f.join(d, "month_id").agg(F.sum("v").alias("s"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression" in plan.lower()
    # and the result is the pruned month only
    got = j.collect()[0]["s"]
    want = sum(i * 1.5 for i in range(50_000) if i % 12 == 3)
    assert abs(got - want) < 1e-6


def test_quantile_histogram_state_merge_equals_direct(spark):
    """merge(state(A), state(B)) must equal state(A UNION B) exactly --
    bucket vectors, counts, min/max -- including a key present in only
    one increment (full-outer pass-through)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.sketches import (
        merge_quantile_states,
        quantile_histogram_state,
        quantiles_from_state,
    )

    # key 'b' is entirely below the split, so it exists in only ONE
    # increment -- the full-outer pass-through path is really hit
    rows = [("a", float(v)) for v in range(0, 1000, 7)] + [
        ("b", float(v % 397)) for v in range(200)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    a = df.filter("v < 400")
    b_side = df.filter("v >= 400")

    lo, hi, nb = 0.0, 1024.0, 64
    direct = quantile_histogram_state(df, "v", ["k"], lo, hi, nb)
    merged = merge_quantile_states(
        quantile_histogram_state(a, "v", ["k"], lo, hi, nb),
        quantile_histogram_state(b_side, "v", ["k"], lo, hi, nb),
        ["k"],
    )
    d = {r["k"]: r for r in direct.collect()}
    m = {r["k"]: r for r in merged.collect()}
    assert set(d) == set(m)
    for k in d:
        assert d[k]["bucket_counts"] == m[k]["bucket_counts"]
        assert d[k]["n_rows"] == m[k]["n_rows"]
        assert d[k]["min_value"] == m[k]["min_value"]
        assert d[k]["max_value"] == m[k]["max_value"]

    # the rank-walk estimate is within one bucket width of the exact
    # order statistic by construction
    est = {r["k"]: r for r in quantiles_from_state(merged, [0.5], lo, hi).collect()}
    import numpy as np

    for k in d:
        vals = sorted(v for kk, v in rows if kk == k)
        exact = float(np.quantile(vals, 0.5))
        assert abs(est[k]["p50"] - exact) <= 2 * (hi - lo) / nb


def test_quantile_rollup_equals_direct(spark):
    """Rolling N per-increment states up in ONE groupBy
    (quantile_rollup) must equal the state computed directly over the
    union -- bucket vectors, counts, min/max -- for every rollup key,
    including a key whose rows all sit in one increment."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.sketches import (
        quantile_histogram_state,
        quantile_rollup,
    )

    rows = [
        ("a", m, float((v * 37 + m * 101) % 1000))
        for m in range(1, 13)
        for v in range(40)
    ] + [("b", 6, float(v)) for v in range(80)]  # 'b' exists in month 6 only
    df = spark.createDataFrame(rows, "k string, m int, v double")

    lo, hi, nb = 0.0, 1024.0, 64
    monthly = quantile_histogram_state(df, "v", ["k", "m"], lo, hi, nb)
    rolled = {r["k"]: r for r in quantile_rollup(monthly, ["k"]).collect()}
    direct = {
        r["k"]: r
        for r in quantile_histogram_state(df.drop("m"), "v", ["k"], lo, hi, nb).collect()
    }
    assert set(rolled) == set(direct)
    for k in direct:
        assert rolled[k]["bucket_counts"] == direct[k]["bucket_counts"]
        assert rolled[k]["n_rows"] == direct[k]["n_rows"]
        assert rolled[k]["min_value"] == direct[k]["min_value"]
        assert rolled[k]["max_value"] == direct[k]["max_value"]


def test_quantile_sketch_bound_holds(spark):
    """The contract query's within_bound flag must be TRUE -- this is
    what makes a bound violation an actual failure rather than an
    identically-false flag that still hash-matches the oracle."""
    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    rows = contract.QUERIES["orders_quantile_sketch"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(r["within_bound"] for r in rows), rows


def test_cms_rollup_equals_direct_and_never_undercounts(spark):
    """Count-min sketch invariants: (1) rolling per-increment sparse
    states up by per-cell sum (cms_rollup) must equal the state built
    directly over the union -- cell-for-cell, which is what makes a
    monthly-increment CMS answer yearly frequency questions without
    raw re-scans; (2) the min-over-depth estimate is >= the true count
    for EVERY key (each counter saw every occurrence), and with width
    >> distinct keys it should be exact for the heavy key."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.sketches import (
        cms_lookup,
        cms_rollup,
        cms_state,
    )

    rows = [
        (m, f"k{(v * 7 + m) % 23}")
        for m in range(1, 13)
        for v in range(60)
    ] + [(6, "hot")] * 150  # one genuinely heavy key, single increment
    df = spark.createDataFrame(rows, "m int, key string")

    d, w = 4, 256
    monthly = cms_state(df, "key", ["m"], d, w)
    state = cms_rollup(monthly, [])
    rolled = {r["cms_cell"]: r["cms_n"] for r in state.collect()}
    direct = {
        r["cms_cell"]: r["cms_n"]
        for r in cms_state(df.drop("m"), "key", [], d, w).collect()
    }
    assert rolled == direct
    assert sum(rolled.values()) == d * len(rows)

    exact = df.groupBy("key").count()
    est = cms_lookup(exact, "key", state, d, w).collect()
    assert est
    for r in est:
        assert r["n_cms"] >= r["count"], r
    # with 24 distinct keys in 256 buckets, collisions are rare: the
    # heavy key's estimate must be exact (no other key matches all 4
    # of its counters unless it collides in every row)
    hot = [r for r in est if r["key"] == "hot"][0]
    assert hot["n_cms"] == hot["count"] == 150
    # an absent key estimates 0 only if all its cells are untouched;
    # at minimum the lookup must not fail and must return >= 0
    ghost = spark.createDataFrame([("never-seen-key-xyz",)], "key string")
    g = cms_lookup(ghost, "key", state, d, w).collect()[0]
    assert g["n_cms"] >= 0


def test_cms_contract_flag_holds(spark):
    """The contract query's never_undercounts flag must be TRUE --
    same rationale as test_quantile_sketch_bound_holds: the theorem is
    an actual assertion, not an identically-false hash-matched flag."""
    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    rows = contract.QUERIES["lineitem_cms_hot_suppliers"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(r["never_undercounts"] for r in rows), rows


def test_cms_state_join_is_hash_join(spark):
    """The cms_lookup state join must stay a BroadcastHashJoin on
    cms_cell. The query's plan-lint ALLOW entry permits a nested-loop
    join for the 1-row threshold total, which would also mask the
    state join degenerating -- this pins it: every nested-loop in the
    plan is the threshold cross (condition on n_exact/__total), and a
    LeftOuter hash join exists for the cell lookup."""
    import contextlib
    import io

    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    df = contract.QUERIES["lineitem_cms_hot_suppliers"](
        spark, "/root/testdata/sf0.001"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin LeftOuter" in plan, plan
    # formatted detail sections: "(n) BroadcastNestedLoopJoin" followed
    # by its "Join condition:" line a few lines below
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" in line and line.strip().startswith("("):
            seg = "\n".join(lines[i : i + 6])
            assert "__total" in seg or "n_exact" in seg, seg


def test_kmv_rollup_equals_direct_and_estimates_track(spark):
    """The bottom-k identity that makes KMV partials safe to persist:
    re-bottom-k over per-increment sketches equals the direct sketch
    of the raw data BIT-FOR-BIT (array equality, not estimate
    closeness), and the distinct / intersection estimates track the
    exact values within the k=256 sampling error (~4/sqrt(k) allows
    25%; observed well under)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.sketches import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_rollup,
        kmv_state,
    )

    k = 256
    # A = 0..2999, B = 2000..4999 -> true overlap 1000, union 5000,
    # spread over 12 monthly increments
    df = spark.range(3000).select(
        F.lit("A").alias("side"), (F.col("id") % 12).alias("m"), F.col("id").alias("v")
    ).union(
        spark.range(2000, 5000).select(
            F.lit("B").alias("side"), (F.col("id") % 12).alias("m"), F.col("id").alias("v")
        )
    )
    monthly = kmv_state(df, "v", ["side", "m"], k)
    assert monthly.count() == 24
    merged = kmv_rollup(monthly, ["side"], k)
    direct = kmv_state(df, "v", ["side"], k).withColumnRenamed(
        "kmv_hashes", "direct_hashes"
    )
    both = merged.join(direct, "side")
    assert both.filter(
        F.col("kmv_hashes") != F.col("direct_hashes")
    ).count() == 0  # merge == direct, bit-for-bit

    row = (
        both.groupBy()
        .agg(
            F.min(F.when(F.col("side") == "A", F.col("kmv_hashes"))).alias("_a"),
            F.min(F.when(F.col("side") == "B", F.col("kmv_hashes"))).alias("_b"),
        )
        .select(
            kmv_estimate(F.col("_a"), k).alias("na"),
            kmv_estimate(F.col("_b"), k).alias("nb"),
            kmv_intersect_estimate(F.col("_a"), F.col("_b"), k).alias("nc"),
        )
        .collect()[0]
    )
    assert abs(row.na - 3000) / 3000 < 0.25, row
    assert abs(row.nb - 3000) / 3000 < 0.25, row
    assert abs(row.nc - 1000) <= 0.25 * 5000, row


def test_kmv_exact_regime_is_exact(spark):
    """Below k distinct values the sketch IS the distinct hash set:
    estimates and the intersection are exact integers, no sampling."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.sketches import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_state,
    )

    k = 256
    df = spark.range(100).select(F.lit("A").alias("side"), F.col("id").alias("v")).union(
        spark.range(60, 160).select(F.lit("B").alias("side"), F.col("id").alias("v"))
    )
    sk = kmv_state(df, "v", ["side"], k)
    row = (
        sk.groupBy()
        .agg(
            F.min(F.when(F.col("side") == "A", F.col("kmv_hashes"))).alias("_a"),
            F.min(F.when(F.col("side") == "B", F.col("kmv_hashes"))).alias("_b"),
        )
        .select(
            kmv_estimate(F.col("_a"), k).alias("na"),
            kmv_intersect_estimate(F.col("_a"), F.col("_b"), k).alias("nc"),
        )
        .collect()[0]
    )
    assert row.na == 100.0 and row.nc == 40.0, row


def test_kmv_state_pushes_group_limit_before_shuffle(spark):
    """The scale claim in kmv_state's docstring: the row_number() <= k
    filter must compile to WindowGroupLimit on BOTH sides of the
    exchange (partial + final), so each map task ships at most k
    hashes per increment instead of the whole distinct set."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.sketches import (
        kmv_state,
    )
    import contextlib
    import io

    df = spark.range(10_000).select(
        (F.col("id") % 4).alias("m"), F.col("id").alias("v")
    )
    sk = kmv_state(df, "v", ["m"], 16)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sk.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_interpolate_linear_fills_and_clamps(spark):
    """Interior gaps fill linearly (seconds-weighted), edge gaps clamp
    to the nearest observation, present rows pass through untouched."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.timeseries import (
        dense_spine,
        interpolate_linear,
    )

    present = spark.createDataFrame(
        [
            ("a", "2025-01-01 02:00:00", 10.0),
            ("a", "2025-01-01 05:00:00", 40.0),
            ("b", "2025-01-01 03:00:00", 7.0),
        ],
        "k string, bucket string, v double",
    ).select("k", F.to_timestamp("bucket").alias("bucket"), "v")
    spine = dense_spine(present, "k", "bucket")
    out = interpolate_linear(spine, present, "k", "bucket", "v")
    got = {
        (r.k, r.bucket.strftime("%H")): (r.is_gap, r.value_interp)
        for r in out.collect()
    }
    # spine is global [02:00, 05:00] for both keys
    assert len(got) == 8
    assert got[("a", "02")] == (False, 10.0)
    assert got[("a", "03")] == (True, 20.0)   # 10 + (40-10) * 1/3
    assert got[("a", "04")] == (True, 30.0)
    assert got[("a", "05")] == (False, 40.0)
    assert got[("b", "02")] == (True, 7.0)    # clamp before first
    assert got[("b", "03")] == (False, 7.0)
    assert got[("b", "04")] == (True, 7.0)    # clamp after last
    assert got[("b", "05")] == (True, 7.0)


def test_chunk_text_udtf_matches_expression_slicing(spark):
    """The UDTF extension seam: LATERAL fan-out, stride/width math,
    and Arrow batching must reproduce plain substring slicing."""
    from finance_etl_pipeline_monthly_close_dataset_spark.functions.udtfs import (
        register_udtfs,
    )

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xyz"), (3, None)], "doc_id long, text string"
    ).createOrReplaceTempView("_udtf_test_docs")
    got = {
        (r.doc_id, r.chunk_ix): r.chunk
        for r in spark.sql(
            "SELECT c.* FROM _udtf_test_docs d, "
            "LATERAL chunk_text(d.doc_id, d.text, 4, 3) c"
        ).collect()
    }
    assert got == {
        (1, 0): "abcd", (1, 1): "defg", (1, 2): "ghij", (1, 3): "j",
        (2, 0): "xyz",
    }


def test_user_session_stats_udtf_partitions_and_terminates(spark):
    """TABLE-argument UDTF: one terminate() row per PARTITION BY
    group, events consumed in ORDER BY order, 30-min gap splits."""
    import datetime as dt

    from finance_etl_pipeline_monthly_close_dataset_spark.functions.udtfs import (
        register_udtfs,
    )

    register_udtfs(spark)
    t0 = dt.datetime(2025, 1, 1, 12, 0)
    rows = [
        (1, t0), (1, t0 + dt.timedelta(minutes=29)),          # same session
        (1, t0 + dt.timedelta(minutes=61)),                   # gap 32m -> new
        (2, t0), (2, t0 + dt.timedelta(minutes=30)),          # gap == 30m: same
        (2, t0 + dt.timedelta(minutes=60, seconds=1)),        # 30m1s -> new
    ]
    spark.createDataFrame(rows, "user_id long, ts timestamp").createOrReplaceTempView(
        "_udtf_sess_test"
    )
    got = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in spark.sql(
            "SELECT * FROM user_session_stats("
            "TABLE(SELECT user_id, ts FROM _udtf_sess_test) "
            "PARTITION BY user_id ORDER BY ts)"
        ).collect()
    }
    assert got == {1: (2, 3), 2: (2, 3)}


def test_user_session_stats_udtf_batch_split_and_nulls(spark):
    """r15 arrow_udtf internals: a group larger than the Arrow batch
    size reaches eval() as SEVERAL in-order batches of one handler
    instance (state must carry across them, including a session that
    spans a batch boundary), NULL times are dropped, the unix_micros
    BIGINT seam counts identically to the timestamp form, and an
    all-NULL user emits nothing."""
    from pyspark.sql import functions as F

    from finance_etl_pipeline_monthly_close_dataset_spark.functions.udtfs import (
        register_udtfs,
    )

    register_udtfs(spark)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
    try:
        # user 7: 5000 events 2000 s apart (> 30 min gap) -> every
        # event its own session, sessions spanning each batch boundary;
        # user 1: 3 events with one NULL ts interleaved; user 9: NULL only
        ev = spark.range(5_000).select(
            F.lit(7).alias("user_id"),
            (F.col("id") * F.lit(2_000_000_000)).alias("us"),
        )
        extra = spark.createDataFrame(
            [(1, 0), (1, None), (1, 100_000_000), (9, None)],
            "user_id long, us long",
        )
        ev.unionByName(extra).createOrReplaceTempView("_udtf_split_test")
        got = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in spark.sql(
                "SELECT * FROM user_session_stats("
                "TABLE(SELECT user_id, us FROM _udtf_split_test) "
                "PARTITION BY user_id ORDER BY us)"
            ).collect()
        }
        assert got == {7: (5_000, 5_000), 1: (1, 2)}  # user 9 absent
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_user_session_stats_udtf_reordered_table_columns(spark):
    """r16 hardening (verdict r15 nit #5): the handler addresses the
    TABLE-argument columns by FIELD NAME, so a call site that lists the
    time column before user_id gets the identical summary instead of a
    silent user/time swap."""
    import datetime as dt

    from finance_etl_pipeline_monthly_close_dataset_spark.functions.udtfs import (
        register_udtfs,
    )

    register_udtfs(spark)
    t0 = dt.datetime(2025, 1, 1, 12, 0)
    rows = [
        (1, t0), (1, t0 + dt.timedelta(minutes=29)),
        (1, t0 + dt.timedelta(minutes=61)),
        (2, t0), (2, t0 + dt.timedelta(minutes=30)),
        (2, t0 + dt.timedelta(minutes=60, seconds=1)),
    ]
    spark.createDataFrame(rows, "user_id long, ts timestamp").createOrReplaceTempView(
        "_udtf_reorder_test"
    )
    expect = {1: (2, 3), 2: (2, 3)}
    for select, order_col in (
        ("SELECT ts, user_id FROM _udtf_reorder_test", "ts"),  # swapped order
        ("SELECT user_id, unix_micros(ts) AS us FROM _udtf_reorder_test", "us"),
        ("SELECT unix_micros(ts) AS us, user_id FROM _udtf_reorder_test", "us"),
    ):
        got = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in spark.sql(
                f"SELECT * FROM user_session_stats(TABLE({select}) "
                f"PARTITION BY user_id ORDER BY {order_col})"
            ).collect()
        }
        assert got == expect, select


def test_user_session_stats_udtf_single_column_table_is_named_error(spark):
    """A TABLE argument without a time column, or whose columns carry
    neither expected name, fails with a ValueError naming the expected
    columns -- no positional guess, no opaque StopIteration."""
    import pytest

    from finance_etl_pipeline_monthly_close_dataset_spark.functions.udtfs import (
        _UserSessionStats,
        register_udtfs,
    )

    for names in (["user_id"], ["ts"], [], ["uid", "t"]):
        with pytest.raises(ValueError, match=r"user_id.*\(us or ts\)"):
            _UserSessionStats._column_indexes(names)

    register_udtfs(spark)
    spark.createDataFrame([(1,), (2,)], "user_id long").createOrReplaceTempView("_udtf_one_col")
    with pytest.raises(Exception, match="time column"):
        spark.sql(
            "SELECT * FROM user_session_stats(TABLE(SELECT user_id FROM _udtf_one_col) "
            "PARTITION BY user_id)"
        ).collect()


def test_broadcast_hot_keys_join_caps_dense_hot_set(spark):
    # dense-not-skewed: EVERY key exceeds the threshold; the guard must
    # refuse to build a giant literal isin and fall back to the plain
    # shuffle join -- result-identical, no BroadcastHashJoin forced
    fact = spark.range(2_000).select((F.col("id") % 500).alias("k"), F.col("id").alias("v"))
    dim = spark.range(500).select(F.col("id").alias("k"), (F.col("id") * 2).alias("name"))
    plain = fact.join(dim, on="k")
    hybrid = broadcast_hot_keys_join(fact, dim, on="k", hot_key_threshold=1, max_hot_keys=100)
    assert plain.count() == hybrid.count()
    plan = hybrid._jdf.queryExecution().optimizedPlan().toString()
    assert "UNION" not in plan.upper()  # single plain join, not the split route
