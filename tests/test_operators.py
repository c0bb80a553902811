"""Unit tests for the training-data-pipeline operators: dedup,
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from finance_etl_pipeline_monthly_close_dataset_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text_analysis,
)
from finance_etl_pipeline_monthly_close_dataset_spark.operators.text import (
    shingles,
    tokens,
)

DOCS = [
    ("d1", "the quick brown fox jumps over the lazy dog near the river bank today"),
    ("d2", "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of d1
    ("d3", "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    ("d4", "completely different content about astronomy telescopes and galaxies far away"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def _media(spark, n: int):
    """Fake image rows for plumbing tests: the payload is bytes derived
    from ``media_id`` (no media libraries needed)."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.unhex(F.md5(F.col("id").cast("string"))).alias("payload"),
        F.lit("image/png").alias("mime"),
        (F.pmod(F.col("id"), F.lit(64)) + 32).cast("int").alias("width"),
        (F.pmod(F.col("id"), F.lit(48)) + 32).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def test_exact_dedup_keeps_min_id(spark):
    out = dedup.exact_dedup(_docs(spark)).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == ["d1", "d3", "d4"]


def test_exact_dup_groups(spark):
    groups = dedup.exact_dup_groups(_docs(spark)).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2


def test_duplicate_spans_hand_computed(spark):
    """4-token spans over a tiny corpus: d1 and d2 share exactly the
    span 'a b c d' (d2 shifts by one token afterwards); d3 is disjoint.
    d1: tokens [a b c d e] -> distinct 4-spans {abcd, bcde} (2 spans,
    1 duplicated); d2: [x a b c d] -> {xabc, abcd} (2 spans, 1
    duplicated); d3: [p q r s] -> {pqrs} (1 span, 0 duplicated).
    Sub-k docs produce the single best-effort span per the shingle
    semantic."""
    rows = [("d1", "a b c d e"), ("d2", "x a b c d"), ("d3", "p q r s")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in dedup.duplicate_spans(df, span_k=4).collect()}
    assert (out["d1"]["n_spans"], out["d1"]["n_dup_spans"]) == (2, 1)
    assert (out["d2"]["n_spans"], out["d2"]["n_dup_spans"]) == (2, 1)
    assert (out["d3"]["n_spans"], out["d3"]["n_dup_spans"]) == (1, 0)


def test_minhash_identical_docs_identical_signatures(spark):
    sigs = {r["doc_id"]: r["signature"] for r in dedup.minhash_signatures(_docs(spark)).collect()}
    assert sigs["d1"] == sigs["d2"]
    assert sigs["d1"] != sigs["d4"]
    assert len(sigs["d1"]) == 32


def test_minhash_near_dup_finds_near_pair(spark):
    pairs = dedup.near_dup_minhash(_docs(spark), threshold=0.5).collect()
    found = {tuple(sorted((r["id_a"], r["id_b"]))) for r in pairs}
    assert ("d1", "d2") in found  # exact dup
    assert ("d1", "d3") in found or ("d2", "d3") in found  # near dup
    assert all("d4" not in p for p in found)


def test_lsh_candidate_pairs_strategies_identical(spark):
    """r15: the groupBy+combination-explode default and the r12-r14
    self-join fallback must emit the IDENTICAL candidate pair set --
    including a mass-duplication bucket (many ids in one band value),
    the case the join form is documented as preferring."""
    from pyspark.sql import functions as F

    docs = spark.range(60).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        # 3 exact-dup families of 15 + 15 unique docs
        F.when(F.col("id") < 45, F.concat(F.lit("fam"), (F.col("id") % 3)))
        .otherwise(F.concat(F.lit("solo text nr "), F.col("id")))
        .alias("text"),
    )
    sigs = dedup.minhash_signatures(docs, shingle_k=1)
    got_explode = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, bucket_pairs="explode").collect()
    }
    got_join = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, bucket_pairs="join").collect()
    }
    assert got_explode == got_join
    # each 15-doc family yields all C(15,2)=105 ordered pairs
    assert len(got_explode) >= 3 * 105
    assert all(a < b for a, b in got_explode)


def test_lsh_explode_max_bucket_ids_fallback(spark):
    """r16 guard (verdict r15 ask #8): with ``max_bucket_ids`` set, an
    oversized bucket (the 15-doc exact-dup families here, against a
    cap of 4) is routed through the streaming join form instead of the
    combination explode -- the pair set must stay identical to both
    unguarded strategies, and the plan must actually carry the
    fallback branch (a Join under the Union)."""
    from pyspark.sql import functions as F

    docs = spark.range(60).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") < 45, F.concat(F.lit("fam"), (F.col("id") % 3)))
        .otherwise(F.concat(F.lit("solo text nr "), F.col("id")))
        .alias("text"),
    )
    sigs = dedup.minhash_signatures(docs, shingle_k=1)
    guarded_df = dedup.lsh_candidate_pairs(
        sigs, bucket_pairs="explode", max_bucket_ids=4
    )
    guarded = {(r["id_a"], r["id_b"]) for r in guarded_df.collect()}
    unguarded = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, bucket_pairs="explode").collect()
    }
    joined = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, bucket_pairs="join").collect()
    }
    assert guarded == unguarded == joined
    assert len(guarded) >= 3 * 105
    plan = guarded_df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan and "Join" in plan  # the fallback branch exists
    # a cap no bucket exceeds keeps the explode route for everything
    # (equality again -- the filter boundary itself is exercised)
    high_cap = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            sigs, bucket_pairs="explode", max_bucket_ids=1_000_000
        ).collect()
    }
    assert high_cap == unguarded


def test_ngram_jaccard_exact_values(spark):
    docs = _docs(spark)
    all_pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d3")], "id_a string, id_b string"
    )
    pairs = dedup.ngram_jaccard_pairs(docs, all_pairs, threshold=0.3).collect()
    by_pair = {tuple(sorted((r["id_a"], r["id_b"]))): r["jaccard"] for r in pairs}
    assert by_pair[("d1", "d2")] == 1.0
    assert 0.3 <= by_pair[("d1", "d3")] < 1.0


def test_ngram_jaccard_index_pairs_matches_verify_form(spark):
    """The index-count Jaccard (|A∩B| = per-pair shingle match count,
    |A∪B| from set sizes) must produce the identical pair set AND
    identical jaccard values as the candidates+array-verify form, at
    every threshold."""
    docs = _docs(spark)
    for thr in (0.1, 0.5, 0.9):
        via_index = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_index_pairs(docs, threshold=thr).collect()
        }
        via_verify = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                docs, dedup.shingle_index_candidates(docs), threshold=thr
            ).collect()
        }
        assert via_index == via_verify


def test_ngram_recall_full_corpus_small_n(spark):
    """FULL-corpus recall form (the pre-round-5 contract query shape,
    kept as the small-n ground truth now that the contract query
    estimates recall on a 25% md5 doc-sample): LSH found set over the
    whole corpus vs the complete inverted-index truth set. On this
    corpus every qualifying pair is deep inside the 32-hash/8-band
    recall-1 regime, so recall must be exactly 1.0."""
    docs = _docs(spark)
    truth = dedup.ngram_jaccard_index_pairs(docs, threshold=0.5)
    found = dedup.near_dup_minhash(docs, threshold=0.5)
    t_set = {(r["id_a"], r["id_b"]) for r in truth.collect()}
    f_set = {(r["id_a"], r["id_b"]) for r in found.collect()}
    assert t_set, "corpus must contain at least one qualifying pair"
    assert f_set <= t_set  # found is a subset of truth by construction
    assert f_set == t_set  # recall = 1.0


def test_ngram_jaccard_index_pairs_a_predicate_anchors(spark):
    """a_predicate restricts the pair's SMALLER id before the
    self-join: pairs anchored outside the sample disappear, pairs
    anchored inside keep their exact jaccard."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_index_pairs(docs, threshold=0.1).collect()
    }
    sampled = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_index_pairs(
            docs, threshold=0.1, a_predicate=lambda c: c == F.lit("d1")
        ).collect()
    }
    assert sampled == {k: v for k, v in full.items() if k[0] == "d1"}
    assert sampled  # d1 anchors at least one pair in the fixture


def test_simhash_near_pairs(spark):
    sigs = dedup.simhash_signatures(_docs(spark))
    pairs = dedup.simhash_near_pairs(sigs, max_hamming=10).collect()
    found = {tuple(sorted((r["id_a"], r["id_b"]))) for r in pairs}
    assert ("d1", "d2") in found


def test_cosine_topk_exact(spark):
    corpus = spark.createDataFrame(
        [("v1", [1.0, 0.0]), ("v2", [0.0, 1.0]), ("v3", [1.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [("p1", [1.0, 0.0])], "probe_id string, embedding array<double>"
    )
    out = similarity.cosine_topk(corpus, probes, k=2).collect()
    assert [r["neighbor_id"] for r in out] == ["v1", "v3"]
    assert out[0]["cosine_sim"] == 1.0
    assert math.isclose(out[1]["cosine_sim"], 1 / math.sqrt(2), rel_tol=1e-9)


def test_lsh_bucket_deterministic_and_self_match(spark):
    corpus = spark.createDataFrame(
        [("v1", [1.0, 2.0, 3.0, 4.0]), ("v2", [-1.0, -2.0, -3.0, -4.0])],
        "vec_id string, embedding array<double>",
    )
    probes = corpus.selectExpr("vec_id as probe_id", "embedding")
    out = similarity.lsh_bucketed_topk(corpus, probes, dim=4, k=1, n_planes=4).collect()
    top = {r["probe_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    # every probe finds itself (same bucket, cosine 1.0)
    assert top == {"v1": "v1", "v2": "v2"}


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([(" A b  c d",)], "text string")
    row = df.select(
        tokens(F.col("text")).alias("toks"),
        shingles(F.col("text"), 2).alias("sh"),
    ).collect()[0]
    assert row["toks"] == ["a", "b", "c", "d"]
    assert sorted(row["sh"]) == ["a b", "b c", "c d"]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("e", "the cat and the dog went to the park in the morning"),
            ("g", "der hund und die katze sind nicht in der wohnung zu hause"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in text_analysis.lang_scores(df).collect()}
    assert out["e"] == "en"
    assert out["g"] == "de"


def test_quality_features_ranges(spark):
    df = spark.createDataFrame(
        [("d1", "A clean readable sentence with several plain words."), ("d2", "!!! ### $$$ %%%")],
        "doc_id string, text string",
    )
    rows = {r["doc_id"]: r for r in text_analysis.quality_features(df).collect()}
    assert rows["d1"]["quality_score"] > rows["d2"]["quality_score"]
    for r in rows.values():
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["quality_score"] <= 1.0


def test_fingerprint_order_insensitive_tokens(spark):
    df = spark.createDataFrame(
        [("d1", "alpha beta gamma"), ("d2", "gamma beta alpha"), ("d3", "alpha beta delta")],
        "doc_id string, text string",
    )
    rows = {r["doc_id"]: r for r in text_analysis.fingerprint(df).collect()}
    assert rows["d1"]["token_fingerprint"] == rows["d2"]["token_fingerprint"]
    assert rows["d1"]["token_fingerprint"] != rows["d3"]["token_fingerprint"]
    assert rows["d1"]["content_hash"] != rows["d2"]["content_hash"]  # raw text differs


def test_multimodal_decode_plumbing(spark):
    media = _media(spark, n=8)
    out = multimodal.decode_images(media, feature_dim=4, resize_to=(64, 48))
    rows = out.collect()
    assert len(rows) == 8
    for r in rows:
        assert len(r["feature"]) == 4
        assert (r["out_width"], r["out_height"]) == (64, 48)


def test_ivf_topk_recall_against_exact(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, probes, k=5)
    approx = similarity.ivf_topk(emb, probes, k=5, n_centroids=8, nprobe=4)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    # each probe's own vector is its top hit and must be found
    for pid, found in approx_sets.items():
        assert pid in found
    # aggregate recall over probes should be high with nprobe=half
    hits = sum(len(exact_sets[p] & approx_sets.get(p, set())) for p in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.6


def test_approx_count_distinct_error_bound(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    row = orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_connected_components_chain_and_isolated(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",)], "doc_id string")
    # chain a-b-c plus pair d-e ordering reversed; isolated none
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("e", "d")], "id_a string, id_b string"
    )
    comps = {r["doc_id"]: r["component"] for r in dedup.connected_components(ids, pairs).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_dedup_near_representatives_end_to_end(spark):
    docs = _docs(spark)
    pairs = dedup.near_dup_minhash(docs, threshold=0.5)
    kept = sorted(r["doc_id"] for r in dedup.dedup_near_representatives(docs, pairs).collect())
    # d1/d2/d3 form one near-dup component -> keep d1; d4 isolated
    assert kept == ["d1", "d4"]


def test_cosine_topk_arrow_matches_hof(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    hof = similarity.cosine_topk(emb, probes, k=5)
    arrow = similarity.cosine_topk_arrow(emb, probes, k=5)
    a = {(r["probe_id"], r["rank"]): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in hof.collect()}
    b = {(r["probe_id"], r["rank"]): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in arrow.collect()}
    assert a == b


def test_tfidf_top_terms(spark):
    docs = spark.createDataFrame(
        [
            ("d1", "apple apple banana common common common"),
            ("d2", "banana cherry common common"),
            ("d3", "durian common"),
        ],
        "doc_id string, text string",
    )
    out = text_analysis.tfidf_top_terms(docs, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    # 'common' appears in every doc -> low idf; distinctive terms win
    assert top == {"d1": "apple", "d2": "cherry", "d3": "durian"}
    assert all(r["rank"] == 1 for r in out)


def test_tfidf_counts_zero_token_docs_in_n(spark):
    """N in the idf must count ALL documents, including ones that
    tokenize to zero tokens -- the single-scan refactor briefly counted
    only docs present in the (doc, term) grid, silently shifting every
    idf when the corpus held an empty doc."""
    import math

    docs = spark.createDataFrame(
        [("d1", "apple banana"), ("d2", "   "), ("d3", "")],
        "doc_id string, text string",
    )
    out = text_analysis.tfidf_top_terms(docs, k=2).collect()
    # N=3 (not 1): idf = ln((3+1)/(1+1)) = ln 2 for each d1-only term
    expected = round(1 * math.log(4.0 / 2.0), 6)
    assert {r["doc_id"] for r in out} == {"d1"}
    assert all(abs(r["tfidf"] - expected) < 1e-9 for r in out)


def test_corpus_cli_dedup_and_split(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    src = str(tmp_path / "docs_in")
    _docs(spark).write.parquet(src)

    out1 = str(tmp_path / "deduped")
    rc = cli.main(["corpus", "dedup", "--in", src, "--out", out1, "--method", "minhash",
                   "--threshold", "0.5"])
    assert rc == 0
    assert sorted(r["doc_id"] for r in spark.read.parquet(out1).collect()) == ["d1", "d4"]

    out2 = str(tmp_path / "splits")
    rc = cli.main(["corpus", "split", "--in", src, "--out", out2])
    assert rc == 0
    back = spark.read.parquet(out2)
    assert back.count() == 4
    assert set(r["split"] for r in back.select("split").distinct().collect()) <= {"train", "val", "test"}

    out3 = str(tmp_path / "filtered")
    rc = cli.main(["corpus", "quality-filter", "--in", src, "--out", out3, "--threshold", "0.0"])
    assert rc == 0
    assert spark.read.parquet(out3).count() == 4


def test_corpus_cli_dup_spans(spark, tmp_path):
    """`corpus dup-spans` writes the per-doc duplicated-span profile
    (a measurement op: one row per input doc, nothing dropped)."""
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    src = str(tmp_path / "spans_in")
    spark.createDataFrame(
        [("d1", "a b c d e"), ("d2", "x a b c d"), ("d3", "p q r s")],
        "doc_id string, text string",
    ).write.parquet(src)
    out = str(tmp_path / "span_profile")
    rc = cli.main(["corpus", "dup-spans", "--in", src, "--out", out, "--span-k", "4"])
    assert rc == 0
    prof = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(prof) == 3
    assert (prof["d1"]["n_spans"], prof["d1"]["n_dup_spans"]) == (2, 1)
    assert prof["d3"]["n_dup_spans"] == 0


def test_driver_window_invariants():
    """The driver-facing registry order is load-bearing: exactly 50
    curated entries lead the dict, every window name is oracle-paired,
    and the window holds no duplicates (a typo here silently shrinks
    the driver's correctness gate)."""
    import re

    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    src = open(contract.__file__).read()
    m = re.search(r"_DRIVER_WINDOW: list\[str\] = \[(.*?)\n\]", src, re.S)
    window = re.findall(r'"([^"]+)"', m.group(1))
    assert len(window) == 50 and len(set(window)) == 50
    assert list(contract.QUERIES)[:50] == window
    assert all(name in contract.ORACLES for name in window)
    # every registry entry is oracle-paired (the repo's standing claim)
    assert set(contract.QUERIES) == set(contract.ORACLES)


def test_corpus_cli_simhash_and_exact(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    src = str(tmp_path / "docs_sx")
    _docs(spark).write.parquet(src)
    out_s = str(tmp_path / "dedup_simhash")
    assert cli.main(["corpus", "dedup", "--in", src, "--out", out_s,
                     "--method", "simhash", "--max-hamming", "10"]) == 0
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out_s).collect())
    assert "d4" in kept and len(kept) < 4  # near-dups collapsed, outlier kept

    out_e = str(tmp_path / "dedup_exact")
    assert cli.main(["corpus", "dedup", "--in", src, "--out", out_e]) == 0
    assert sorted(r["doc_id"] for r in spark.read.parquet(out_e).collect()) == ["d1", "d3", "d4"]


def test_cli_sql_subcommand(spark, tmp_path, capsys):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    _docs(spark).write.parquet(str(tmp_path / "documents.parquet"))
    rc = cli.main(["sql", "--dir", str(tmp_path),
                   "SELECT count(*) AS n FROM documents"])
    assert rc == 0
    assert "4" in capsys.readouterr().out


def test_distributed_ntile_matches_window_ntile(spark):
    """distributed_ntile must reproduce ntile(k) OVER (ORDER BY ...)
    bit-for-bit, including the first-n%k-buckets-get-the-extra-row
    rule, for n%k==0, n%k!=0, and n<k."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.ranking import (
        distributed_ntile,
    )

    for n, k in [(40, 10), (47, 10), (3, 10), (1, 1), (100, 7)]:
        df = spark.range(n).select(
            F.col("id"), (F.col("id") * 37 % 101).alias("score")
        )
        w = Window.orderBy(F.col("score").asc(), F.col("id").asc())
        expected = {
            (r["id"], r["t"])
            for r in df.withColumn("t", F.ntile(k).over(w)).collect()
        }
        got = {
            (r["id"], r["t"])
            for r in distributed_ntile(
                df, k, [F.col("score").asc(), F.col("id").asc()], tile_col="t",
                num_partitions=5,
            ).collect()
        }
        assert got == expected, (n, k)


def test_distributed_ntile_empty(spark):
    from pyspark.sql import functions as F

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.ranking import (
        distributed_ntile,
    )

    df = spark.range(0).select(F.col("id"))
    assert distributed_ntile(df, 10, ["id"]).count() == 0


def test_decode_images_real_gates_on_pil(spark):
    """Without PIL the real decoder must raise NotImplementedError at
    call time (not at import); with PIL it must run the same plumbing
    as the stub and produce the same schema."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators import multimodal

    media = _media(spark, n=4)
    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False

    if not has_pil:
        import pytest

        with pytest.raises(NotImplementedError, match="PIL"):
            multimodal.decode_images_real(media)
    else:
        out = multimodal.decode_images_real(media)
        assert out.schema == multimodal.IMAGE_FEATURES_SCHEMA


def test_pack_documents_concat_then_chunk(spark):
    """pack_id = floor(tokens_before/budget) within a bucket's
    id-ordered stream; long docs straddle without shifting the grid."""
    from pyspark.sql import functions as F

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.packing import (
        pack_documents,
    )

    docs = spark.createDataFrame(
        [(i, "w " * t) for i, t in [(1, 6), (2, 6), (3, 20), (4, 2)]],
        "doc_id long, text string",
    )
    out = pack_documents(docs, budget_tokens=10, n_buckets=1)
    got = {r["doc_id"]: (r["n_tokens"], r["pack_id"]) for r in out.collect()}
    # cum-before: d1=0, d2=6, d3=12, d4=32
    assert got == {1: (6, 0), 2: (6, 0), 3: (20, 1), 4: (2, 3)}


def test_contamination_overlap_counts_shared_shingles(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.dedup import (
        contamination_overlap,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox sleeps"),   # shares 2 shingles
            (2, "completely different text here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_overlapping_shingles"]
           for r in contamination_overlap(corpus, bench).collect()}
    assert got == {1: 2}  # doc 2 absent: no overlap


def test_corpus_cli_pack_and_decontaminate(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    src = str(tmp_path / "docs_pd")
    _docs(spark).write.parquet(src)

    out_p = str(tmp_path / "packed")
    assert cli.main(["corpus", "pack", "--in", src, "--out", out_p,
                     "--budget-tokens", "8", "--n-buckets", "1"]) == 0
    packed = spark.read.parquet(out_p)
    assert {"bucket", "n_tokens", "pack_id"} <= set(packed.columns)
    assert packed.count() == 4

    bench = str(tmp_path / "bench_docs")
    _docs(spark).filter("doc_id = 'd1'").write.parquet(bench)
    out_d = str(tmp_path / "decontaminated")
    assert cli.main(["corpus", "decontaminate", "--in", src, "--out", out_d,
                     "--benchmark", bench, "--max-overlap", "1"]) == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out_d).collect()}
    assert "d1" not in kept      # overlaps itself
    assert "d4" in kept          # the outlier survives


def test_repetition_features_exact_values(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.text_analysis import (
        repetition_features,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # 6 tokens, 2 distinct; "a b" x3 of 5 bigrams
            (2, "x y z"),             # all distinct; each bigram once, tie -> "x y"
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert got[1]["n_tokens"] == 6
    assert abs(got[1]["distinct_ratio"] - round(2 / 6, 6)) < 1e-9
    assert got[1]["top_bigram"] == "a b" and got[1]["top_bigram_n"] == 3
    assert abs(got[1]["top_bigram_frac"] - 0.6) < 1e-9
    assert got[2]["top_bigram"] == "x y" and got[2]["top_bigram_n"] == 1


def test_sample_by_hash_deterministic_and_partition_independent(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.corpus import sample_by_hash

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in sample_by_hash(df, 0.3).collect()}
    b = {r["doc_id"] for r in sample_by_hash(df.repartition(13), 0.3).collect()}
    assert a == b                       # membership ignores partitioning
    assert 0.2 < len(a) / 1000 < 0.4    # fraction is approximately honored
    assert sample_by_hash(df, 0.0).count() == 0


def test_epoch_shards_schedule_invariants(spark):
    """r14 epoch_shards: every epoch holds the full corpus exactly
    once, workers partition it, the schedule is a pure function of
    (seed, epoch, id) -- identical under any repartitioning -- and
    different epochs / different seeds produce different orders."""
    from finance_etl_pipeline_monthly_close_dataset_spark.corpus import epoch_shards

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    sh = epoch_shards(df, n_workers=4, n_epochs=2).collect()
    assert len(sh) == 1000
    for ep in (0, 1):
        docs = [r["doc_id"] for r in sh if r["epoch"] == ep]
        assert sorted(docs) == list(range(500))  # full corpus, once
    assert {r["worker"] for r in sh} == {0, 1, 2, 3}
    # partition-independence: same schedule from a different layout
    sh2 = epoch_shards(df.repartition(17), n_workers=4, n_epochs=2).collect()
    key = lambda rows: sorted((r["epoch"], r["doc_id"], r["worker"], r["order_key"]) for r in rows)  # noqa: E731
    assert key(sh) == key(sh2)
    # epochs re-shuffle independently: the per-epoch read orders differ
    order = lambda rows, ep: [r["doc_id"] for r in sorted(rows, key=lambda r: r["order_key"]) if r["epoch"] == ep]  # noqa: E731
    assert order(sh, 0) != order(sh, 1)
    # and a different seed produces a different schedule
    sh3 = epoch_shards(df, n_workers=4, n_epochs=2, seed=7).collect()
    assert order(sh3, 0) != order(sh, 0)


def test_materialize_epoch_shards_layout_and_order(spark, tmp_path):
    """r15 materialize_epoch_shards: the trainer-consumable layout the
    epoch_shards docstring prescribes -- parquet partitioned by
    (epoch, worker), rows within each shard stored in order_key order
    (so an epoch read needs no training-time sort), the physical plan a
    RANGE repartition and never a per-shard row_number window, and a
    mid-epoch resume being a plain filter on the stored order."""
    from finance_etl_pipeline_monthly_close_dataset_spark.corpus import (
        epoch_shards,
        materialize_epoch_shards,
    )

    df = spark.range(600).select(F.col("id").alias("doc_id"))
    sh = epoch_shards(df, n_workers=3, n_epochs=2)
    out = str(tmp_path / "shards")
    materialize_epoch_shards(sh, out, n_epochs=2, n_workers=3)

    # on-disk layout: one directory per (epoch, worker)
    import os

    epochs = sorted(d for d in os.listdir(out) if d.startswith("epoch="))
    assert epochs == ["epoch=0", "epoch=1"]
    workers = sorted(os.listdir(os.path.join(out, "epoch=0")))
    assert workers == ["worker=0", "worker=1", "worker=2"]

    # stored row order == order_key order when a trainer streams the
    # shard's files in name order (the consumption contract; a parallel
    # Spark scan bin-packs files by SIZE, so collect() order is
    # deliberately not the claim here) -- asserted with pyarrow ordered
    # reads, which also proves no training-time sort is needed
    import pyarrow.parquet as pq

    def _shard_rows(epoch: int, worker: int) -> list[tuple[str, int]]:
        d = os.path.join(out, f"epoch={epoch}", f"worker={worker}")
        rows: list[tuple[str, int]] = []
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".parquet"):
                continue
            tbl = pq.read_table(os.path.join(d, fname), columns=["order_key", "doc_id"])
            rows.extend(zip(tbl["order_key"].to_pylist(), tbl["doc_id"].to_pylist()))
        return rows

    shard = _shard_rows(1, 2)
    keys = [k for k, _ in shard]
    assert keys == sorted(keys) and len(keys) > 0

    # schedule round-trips completely
    back = spark.read.parquet(out)
    assert back.count() == 1200

    # resume is a plain filter on the stored order: the remainder after
    # the shard's median key matches the in-memory schedule exactly
    mid = keys[len(keys) // 2 - 1]
    rem = [d for k, d in shard if k > mid]
    expect = [
        r["doc_id"]
        for r in sorted(
            sh.filter((F.col("epoch") == 1) & (F.col("worker") == 2)).collect(),
            key=lambda r: r["order_key"],
        )
        if r["order_key"] > mid
    ]
    assert rem == expect and 0 < len(rem) < len(keys)

    # plan shape: a range exchange, and no window node anywhere
    plan = (
        sh.repartitionByRange(6, "epoch", "worker", "order_key")
        .sortWithinPartitions("epoch", "worker", "order_key")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan and "Window" not in plan


def test_scd2_merge_versions_changed_keys(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.scd import (
        scd2_initial,
        scd2_merge,
    )

    dim = scd2_initial(
        spark.createDataFrame(
            [(1, "GOLD", "EU"), (2, "SILVER", "EU"), (3, "GOLD", "US")],
            "k int, tier string, zone string",
        ),
        "2020-01-01",
    )
    updates = spark.createDataFrame(
        [(2, "GOLD", "EU"),      # tier changed -> close + open
         (3, "GOLD", "US"),      # identical -> carried
         (4, "BRONZE", "APAC")], # new key -> inserted
        "k int, tier string, zone string",
    )
    out = scd2_merge(dim, updates, keys=["k"], batch_date="2020-06-01")
    rows = {(r.k, r.tier, r.effective_from, r.effective_to, r.is_current)
            for r in out.collect()}
    assert rows == {
        (1, "GOLD", "2020-01-01", None, True),          # untouched
        (2, "SILVER", "2020-01-01", "2020-06-01", False),
        (2, "GOLD", "2020-06-01", None, True),
        (3, "GOLD", "2020-01-01", None, True),          # no-op update
        (4, "BRONZE", "2020-06-01", None, True),        # insert
    }
    # idempotence: re-applying the same batch changes nothing
    again = scd2_merge(out, updates, keys=["k"], batch_date="2020-07-01")
    assert again.count() == out.count()
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in out.collect()}


def test_scd2_merge_null_safe_change_detection(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.scd import (
        scd2_initial,
        scd2_merge,
    )

    dim = scd2_initial(
        spark.createDataFrame([(1, None), (2, "X")], "k int, attr string"),
        "2020-01-01",
    )
    updates = spark.createDataFrame([(1, None), (2, None)], "k int, attr string")
    out = scd2_merge(dim, updates, keys=["k"], batch_date="2020-06-01")
    rows = {(r.k, r.attr, r.is_current) for r in out.collect()}
    # k=1: null == null (null-safe) -> carried; k=2: X -> null is a change
    assert rows == {(1, None, True), (2, "X", False), (2, None, True)}


def test_stratified_sample_by_hash_per_stratum_cutoffs(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.corpus import (
        sample_by_hash,
        stratified_sample_by_hash,
    )

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = stratified_sample_by_hash(df, {"en": 0.5}, default_fraction=0.1)
    en = {r.doc_id for r in out.filter("lang = 'en'").collect()}
    de = {r.doc_id for r in out.filter("lang = 'de'").collect()}
    # each stratum matches the plain hash sample at its own fraction
    en_ref = {r.doc_id for r in sample_by_hash(df.filter("lang = 'en'"), 0.5).collect()}
    de_ref = {r.doc_id for r in sample_by_hash(df.filter("lang = 'de'"), 0.1).collect()}
    assert en == en_ref and de == de_ref
    assert stratified_sample_by_hash(df, {}, default_fraction=0.0).count() == 0


def test_redact_pii_scrubs_and_counts(spark):
    df = spark.createDataFrame(
        [
            ("d1", "mail me at jane.doe+x@corp.example.org or call +1 (415) 555-0134."),
            ("d2", "server 10.0.42.7 is fine; nothing sensitive here otherwise"),
            ("d3", "plain text with no identifiers at all"),
            # finance-corpus shapes that must NOT be treated as phones
            ("d4", "invoice dated 2024-01-15 ref 123456789 for q3 2024 2025 2026"),
            # a document that *talks about* placeholders is not PII
            ("d5", "we replace addresses with [EMAIL] in exports"),
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in text_analysis.redact_pii(df).collect()}
    assert "[EMAIL]" in out["d1"].text and "[PHONE]" in out["d1"].text
    assert "jane" not in out["d1"].text and "555" not in out["d1"].text
    assert out["d1"].n_redactions == 2
    assert out["d2"].text == "server [IPV4] is fine; nothing sensitive here otherwise"
    assert out["d2"].n_redactions == 1
    assert out["d3"].text.startswith("plain text") and out["d3"].n_redactions == 0
    # ISO dates, 9-digit references, and year runs survive untouched
    assert out["d4"].text == "invoice dated 2024-01-15 ref 123456789 for q3 2024 2025 2026"
    assert out["d4"].n_redactions == 0
    # literal placeholders in the source text are not counted
    assert out["d5"].n_redactions == 0
    # selective kinds leave other shapes untouched
    only_ip = {r.doc_id: r for r in text_analysis.redact_pii(df, kinds=("ipv4",)).collect()}
    assert "@corp.example.org" in only_ip["d1"].text


def test_corpus_cli_stratified_sample(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    src = str(tmp_path / "docs_strat")
    spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        F.lit("text body").alias("text"),
    ).write.parquet(src)
    out = str(tmp_path / "sampled")
    assert cli.main(["corpus", "sample", "--in", src, "--out", out,
                     "--fraction", "0.1", "--stratify", "lang:en=0.6"]) == 0
    got = spark.read.parquet(out)
    n_en = got.filter("lang = 'en'").count()
    n_de = got.filter("lang = 'de'").count()
    assert 80 < n_en <= 200 and 0 <= n_de < 60  # ~0.6 of 200 vs ~0.1 of 200
    # malformed specs fail loudly (no raw ValueError tracebacks)
    import pytest as _pytest
    for bad in ("nocolon", "lang:en", "lang:en=half", "lang:=0.5"):
        with _pytest.raises(SystemExit):
            cli.main(["corpus", "sample", "--in", src, "--out", out, "--stratify", bad])


def test_weighted_sample_by_hash_probability_semantics(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.corpus import (
        sample_by_hash,
        weighted_sample_by_hash,
    )

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    assert weighted_sample_by_hash(df, F.lit(0.0)).count() == 0
    assert weighted_sample_by_hash(df, F.lit(1.0)).count() == 2000
    assert weighted_sample_by_hash(df, F.lit(7.5)).count() == 2000  # clamped
    # constant weight w == plain hash sample at fraction w
    w = {r.doc_id for r in weighted_sample_by_hash(df, F.lit(0.3)).collect()}
    assert w == {r.doc_id for r in sample_by_hash(df, 0.3).collect()}
    # monotone: raising any row's weight can only add rows, never drop
    lo = {r.doc_id for r in weighted_sample_by_hash(df, F.lit(0.2)).collect()}
    assert lo <= w


def test_corpus_cli_chunk(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    src = str(tmp_path / "docs_chunk_in")
    spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b")],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "chunked")
    rc = cli.main(["corpus", "chunk", "--in", src, "--out", out,
                   "--chunk-size", "4", "--stride", "3"])
    assert rc == 0
    back = spark.read.parquet(out)
    # doc 1: ceil((10-4)/3)+1 = 3 windows; doc 2: 1 short window
    assert back.count() == 4
    cols = set(back.columns)
    assert {"doc_id", "chunk_idx", "start_token", "chunk_tokens", "chunk_hash"} <= cols


def _make_ppm(pixels):
    # pixels: list of rows of (r, g, b)
    h, w = len(pixels), len(pixels[0])
    body = bytes(c for row in pixels for px in row for c in px)
    return f"P6\n{w} {h}\n255\n".encode() + body


def _make_bmp(pixels):
    import struct

    h, w = len(pixels), len(pixels[0])
    row_bytes = (w * 3 + 3) & ~3
    pad = b"\x00" * (row_bytes - w * 3)
    # bottom-up rows, BGR order
    body = b"".join(
        bytes(c for px in row for c in (px[2], px[1], px[0])) + pad
        for row in reversed(pixels)
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
    return header + info + body


def test_decode_images_numpy_real_ppm_and_bmp(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        decode_images_numpy,
    )

    px = [
        [(255, 0, 0), (0, 255, 0)],
        [(0, 0, 255), (255, 255, 255)],
    ]
    rows = [
        (1, "image", bytearray(_make_ppm(px)), "image/x-portable-pixmap", 2, 2, None),
        (2, "image", bytearray(_make_bmp(px)), "image/bmp", 2, 2, None),
        (3, "image", bytearray(b"\x89PNG not really"), "image/png", 2, 2, None),
    ]
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in decode_images_numpy(media, feature_dim=8, resize_to=(2, 2)).collect()
    }

    # both containers decode to the SAME image -> identical features
    assert out[1].feature == out[2].feature
    f = out[1].feature
    # channel means: R=G=B=(255+0+0+255)/4/255 = 0.5
    assert all(abs(x - 0.5) < 1e-6 for x in f[:3])
    # 2x2 grid means over per-pixel channel means: 1/3,1/3,1/3,1.0
    expect = [85.0 / 255.0] * 3 + [1.0]
    assert all(abs(a - b) < 1e-6 for a, b in zip(f[3:7], expect))
    assert f[7] == 0.0
    assert (out[1].out_width, out[1].out_height) == (2, 2)

    # unsupported/corrupt payload -> null dims, batch survives
    assert out[3].out_width is None and out[3].feature is None
    assert out[3].n_bytes == len(b"\x89PNG not really")


def _make_png(pixels, color_type=2, row_filters=None):
    """Minimal PNG encoder for tests: 8-bit, non-interlaced; pixels is
    rows of tuples sized to the color type (1/2/3/4 components). A
    per-row filter list (0=None 1=Sub 2=Up 3=Average 4=Paeth) lets the
    tests exercise every unfilter branch of the decoder."""
    import struct
    import zlib

    h, w = len(pixels), len(pixels[0])
    ch = len(pixels[0][0])
    filters = row_filters or [0] * h

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    raw_rows = [bytes(c for px in row for c in px) for row in pixels]
    stream = bytearray()
    prev = bytes(w * ch)
    for row, f in zip(raw_rows, filters):
        stream.append(f)
        for i in range(len(row)):
            a = row[i - ch] if i >= ch else 0
            u = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = u
            elif f == 3:
                pred = (a + u) // 2
            else:
                p = a + u - c
                pa, pb, pc = abs(p - a), abs(p - u), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (u if pb <= pc else c)
            stream.append((row[i] - pred) & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )


def _filter_rows(raw_rows, ch, filters):
    """Shared row-filter streamer for the in-test PNG encoders."""
    stream = bytearray()
    prev = bytes(len(raw_rows[0])) if raw_rows else b""
    for row, f in zip(raw_rows, filters):
        stream.append(f)
        for i in range(len(row)):
            a = row[i - ch] if i >= ch else 0
            u = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = u
            elif f == 3:
                pred = (a + u) // 2
            else:
                p = a + u - c
                pa, pb, pc = abs(p - a), abs(p - u), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (u if pb <= pc else c)
            stream.append((row[i] - pred) & 0xFF)
        prev = row
    return stream


def _make_png_adam7(pixels, color_type=2):
    """In-test Adam7 encoder: seven passes, each independently
    filtered (cycling through all five filter types so interlaced
    decode exercises every unfilter branch), IHDR interlace=1."""
    import struct
    import zlib

    h, w = len(pixels), len(pixels[0])
    ch = len(pixels[0][0])

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    stream = bytearray()
    for x0, xs, y0, ys in (
        (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
        (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
    ):
        sub_rows = [
            bytes(c for px in row[x0::xs] for c in px)
            for row in pixels[y0::ys]
            if row[x0::xs]
        ]
        if not sub_rows:
            continue
        stream += _filter_rows(sub_rows, ch, [i % 5 for i in range(len(sub_rows))])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_adam7_interlaced():
    """Adam7-interlaced PNGs (round 8): the seven passes must
    de-interlace to the exact source pixels for RGB, grayscale and
    RGBA, including dimensions that leave some passes EMPTY (no bytes
    at all) and odd sizes where lattice widths differ per pass."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        _decode_png,
    )

    rng = np.random.default_rng(11)
    for shape in [(16, 16), (5, 4), (1, 1), (2, 9), (13, 7)]:
        px = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        rows = [[tuple(int(v) for v in p) for p in r] for r in px]
        got = _decode_png(_make_png_adam7(rows, color_type=2))
        assert np.array_equal(got, px), shape
        # interlaced and plain encodings of one image decode identically
        plain = _decode_png(_make_png(rows, color_type=2))
        assert np.array_equal(got, plain), shape

    gray = [[(v,) for v in row] for row in rng.integers(0, 256, (9, 9))]
    g = _decode_png(_make_png_adam7(gray, color_type=0))
    assert g.shape == (9, 9, 3)
    assert [p[0][0] for p in gray] == [int(v) for v in g[:, 0, 0]]

    rgba = [[tuple(int(v) for v in p) for p in r]
            for r in rng.integers(0, 256, (6, 10, 4), dtype=np.uint8)]
    a = _decode_png(_make_png_adam7(rgba, color_type=6))
    assert a.tolist() == [[list(p[:3]) for p in r] for r in rgba]


def test_decode_png_all_filters_roundtrip():
    """Every PNG row filter (None/Sub/Up/Average/Paeth) must reverse
    bit-exactly, for RGB, grayscale, and RGBA (alpha dropped)."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        _decode_png,
    )

    rng = np.random.default_rng(42)
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    rows = [[tuple(int(v) for v in p) for p in r] for r in px]
    for filters in ([0] * 5, [1] * 5, [0, 1, 2, 3, 4]):
        got = _decode_png(_make_png(rows, color_type=2, row_filters=filters))
        assert np.array_equal(got, px), f"filters={filters}"

    gray = [[(10,), (200,)], [(0,), (255,)]]
    g = _decode_png(_make_png(gray, color_type=0, row_filters=[4, 3]))
    assert g.shape == (2, 2, 3) and g[0, 1, 0] == 200 and g[0, 1, 2] == 200

    rgba = [[(1, 2, 3, 255), (4, 5, 6, 0)]]
    a = _decode_png(_make_png(rgba, color_type=6, row_filters=[4]))
    assert a.tolist() == [[[1, 2, 3], [4, 5, 6]]]


def test_decode_images_numpy_real_png(spark):
    """A PNG payload must decode through the same mapInPandas path to
    the SAME features as the equivalent PPM (cross-format agreement,
    like the PPM/BMP pair)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_images_numpy,
    )

    px = [
        [(255, 0, 0), (0, 255, 0)],
        [(0, 0, 255), (255, 255, 255)],
    ]
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(_make_png(px, row_filters=[1, 4])), "image/png", 2, 2, None),
            (2, "image", bytearray(_make_ppm(px)), "image/x-portable-pixmap", 2, 2, None),
        ],
        MEDIA_SCHEMA,
    )
    out = {
        r.media_id: r
        for r in decode_images_numpy(media, feature_dim=8, resize_to=(2, 2)).collect()
    }
    assert out[1].feature == out[2].feature
    assert (out[1].out_width, out[1].out_height) == (2, 2)


def test_decode_images_numpy_resizes_larger_image(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_images_numpy,
    )

    # 8x6 gradient PPM resized down to 4x4
    px = [[(r * 30, c * 30, 128) for c in range(8)] for r in range(6)]
    media = spark.createDataFrame(
        [(7, "image", bytearray(_make_ppm(px)), "image/x-portable-pixmap", 8, 6, None)],
        MEDIA_SCHEMA,
    )
    r = decode_images_numpy(media, feature_dim=8, resize_to=(4, 4)).collect()[0]
    assert (r.out_width, r.out_height) == (4, 4)
    assert len(r.feature) == 8
    assert all(0.0 <= x <= 1.0 for x in r.feature)


def _make_wav(samples16, rate=8000, channels=1):
    import struct

    body = b"".join(struct.pack("<h", s) for s in samples16)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )


def test_decode_audio_wav_real(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_audio_wav,
    )

    # 8000 Hz square wave alternating +/- half-scale for 0.5 s
    sq = [16384 if i % 2 == 0 else -16384 for i in range(4000)]
    silent = [0] * 4000
    rows = [
        (1, "audio", bytearray(_make_wav(sq)), "audio/wav", None, None, None),
        (2, "audio", bytearray(_make_wav(silent)), "audio/wav", None, None, None),
        (3, "audio", bytearray(b"not audio"), "audio/wav", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in decode_audio_wav(media).collect()}

    r1 = out[1]
    assert (r1.sample_rate, r1.n_channels, r1.duration_ms) == (8000, 1, 500)
    assert abs(r1.rms - 0.5) < 1e-6          # constant |amplitude| 16384/32768
    assert abs(r1.peak - 0.5) < 1e-6
    assert abs(r1.zero_crossing_rate - 1.0) < 1e-6  # alternates every sample

    assert out[2].rms == 0.0 and out[2].peak == 0.0
    assert out[3].sample_rate is None and out[3].n_bytes == len(b"not audio")


def test_corpus_cli_embed(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    src = str(tmp_path / "docs_embed_in")
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "embedded")
    rc = cli.main(["corpus", "embed", "--in", src, "--out", out, "--dim", "4"])
    assert rc == 0
    back = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(back) == {1, 2}
    assert [back[1][f"f{d}"] for d in range(4)] == [back[2][f"f{d}"] for d in range(4)]
    assert back[1].n_tokens == 3


def test_unigram_logprob_hand_computed(spark):
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.text_analysis import (
        unigram_logprob,
    )

    # corpus counts: a=2, b=2, c=1 -> N=5, V=3, denom=8
    # -ln p: a,b -> ln(8/3); c -> ln 4
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    lp_ab = round(math.log(8 / 3), 9)
    lp_c = round(math.log(4.0), 9)
    assert got[1]["n_tokens"] == 3
    assert abs(got[1]["avg_neg_logprob"] - round(lp_ab, 6)) < 1e-9
    assert got[2]["n_tokens"] == 2
    assert abs(got[2]["avg_neg_logprob"] - round((lp_ab + lp_c) / 2, 6)) < 1e-9


def test_incremental_ingest_dedups_within_and_across_batches(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark.corpus import (
        incremental_ingest,
    )

    lake = str(tmp_path / "lake")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    assert incremental_ingest(spark, b1, lake) == 2  # in-batch dup dropped
    b2 = spark.createDataFrame(
        [(4, "beta"), (5, "gamma"), (6, "gamma")], "doc_id long, text string"
    )
    assert incremental_ingest(spark, b2, lake) == 1  # only gamma is new
    rows = {r["text"]: r["doc_id"] for r in spark.read.parquet(lake).collect()}
    assert rows == {"alpha": 1, "beta": 2, "gamma": 5}  # min-id representatives


def test_matview_merge_equals_full_recompute(spark):
    """merge(aggregate(A), aggregate(B)) must equal aggregate(A u B)
    exactly -- including the decimal sum -- for any split."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.matview import (
        aggregate_state, finalize_state, merge_states,
    )

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"),
        (F.round(F.pmod(F.xxhash64("id"), F.lit(100000)) / 100.0, 2) - 300.0).alias("v"),
        F.col("id"),
    )
    a = df.filter(F.col("id") % 2 == 0).drop("id")
    b = df.filter(F.col("id") % 2 == 1).drop("id")
    merged = finalize_state(
        merge_states(aggregate_state(a, ["g"], "v"), aggregate_state(b, ["g"], "v"), ["g"]),
        ["g"],
    )
    full = finalize_state(aggregate_state(df.drop("id"), ["g"], "v"), ["g"])
    got = {r["g"]: tuple(r)[1:] for r in merged.collect()}
    want = {r["g"]: tuple(r)[1:] for r in full.collect()}
    assert got == want  # exact, not approximate: decimal sums


def test_lloyd_kmeans_hand_computed(spark):
    """Two obvious 2-D clusters, k=2, 2 iterations: init is the two
    lowest-id points (0,0),(0,1); after two Lloyd iterations the
    centroids must be the true cluster means (0,0.5) and (10,10.5),
    and the profile's sizes/norms/inertia match hand computation."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.kmeans import (
        kmeans_profile, lloyd_kmeans,
    )

    pts = [(1, [0.0, 0.0]), (2, [0.0, 1.0]), (3, [10.0, 10.0]), (4, [10.0, 11.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = {r["cell"]: r["centroid"] for r in lloyd_kmeans(df, k=2, n_iters=2).collect()}
    assert cents[0] == [0.0, 0.5]
    assert cents[1] == [10.0, 10.5]

    prof = {r["cell"]: r for r in kmeans_profile(
        df, lloyd_kmeans(df, k=2, n_iters=2)).collect()}
    assert prof[0]["n_vectors"] == 2 and prof[1]["n_vectors"] == 2
    # profile scalars are exact integer micro-units: |(0, 0.5)| = 0.5,
    # |(10, 10.5)| = sqrt(210.25) = 14.5 exactly, inertia 0.25 both
    assert prof[0]["centroid_norm_micro"] == 500_000
    assert prof[1]["centroid_norm_micro"] == 14_500_000
    assert prof[0]["avg_d2_micro"] == 250_000
    assert prof[1]["avg_d2_micro"] == 250_000


def test_quantize_micro_ieee_and_nonfinite():
    """quantize_micro is pure IEEE arithmetic (floor(x*1e6+0.5)/1e6):
    (a) its Python form, Spark's column form, and DuckDB's literal
    expression agree BIT-IDENTICALLY on adversarial near-half inputs
    (the whole point of retiring the HALF_UP Decimal helper, whose
    decimal-repr rounding could diverge from an engine's binary
    round one ulp below a repr-exact half); (b) halves round toward
    +inf by the floor(x+0.5) convention; (c) non-finite values pass
    through unchanged (math.floor would raise)."""
    import math

    import duckdb

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.kmeans import (
        quantize_micro,
    )

    assert quantize_micro(0.0000005) == 0.000001
    assert quantize_micro(-0.0000005) == 0.0  # half toward +inf
    assert quantize_micro(0.1234564) == 0.123456
    assert quantize_micro(float("inf")) == float("inf")
    assert quantize_micro(float("-inf")) == float("-inf")
    assert math.isnan(quantize_micro(float("nan")))

    # cross-engine bit-identity, including the r7 ADVICE example
    # 0.1308615 where Decimal-HALF_UP and binary round disagreed
    cases = [0.1308615, 0.0000005, -0.9999995, 1e-7, 123.4567894999999, -42.0]
    for x in cases:
        (got,) = duckdb.sql(
            "SELECT floor(CAST(? AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0", params=[x]
        ).fetchone()
        assert quantize_micro(x) == got, x


def test_ivf_topk_accepts_lloyd_centroids(spark):
    """The trained quantizer plugs straight into ivf_topk's explicit-
    centroids path: every probe's top-1 under nprobe=2/k=2 must equal
    itself (the corpus contains the probes)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.kmeans import (
        lloyd_kmeans,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.similarity import (
        ivf_topk,
    )

    pts = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(30)]
    corpus = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = lloyd_kmeans(corpus, k=2, n_iters=2)
    probes = corpus.limit(3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = ivf_topk(corpus, probes, k=1, n_centroids=2, nprobe=2, centroids=cents)
    got = {r["probe_id"]: r["neighbor_id"] for r in out.collect()}
    for pid, nid in got.items():
        # cosine ties possible between scaled copies; top-1 must at
        # least achieve similarity 1.0 with the probe itself
        assert nid is not None
    assert len(got) == 3


def test_bloom_prefilter_no_false_negatives_and_reduces(spark):
    """The bloom pre-filter must keep EVERY true match (no false
    negatives -- prefilter + exact join == exact join) while dropping
    the bulk of non-matching keys, and the packed bitmap must stay a
    1-row broadcast."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.bloom import (
        bloom_build, bloom_prefilter,
    )

    build = spark.range(0, 2000, 40).select(F.col("id").alias("k"))  # 50 keys
    fact = spark.range(2000).select(F.col("id").alias("k"))
    bf = bloom_build(build, "k")
    rows = bf.collect()
    assert len(rows) == 1 and len(rows[0]["bloom_words"]) == (1 << 14) // 64

    kept = {r["k"] for r in bloom_prefilter(fact, bf, "k").collect()}
    true_keys = {r["k"] for r in build.collect()}
    assert true_keys <= kept          # containment guarantee
    assert len(kept) < 2000 * 0.10    # and it actually filters (fpp ~1e-8 here)

    # prefilter + exact join == exact join
    exact = {r["k"] for r in fact.join(build, on="k", how="left_semi").collect()}
    pre = bloom_prefilter(fact, bf, "k")
    pre_exact = {r["k"] for r in pre.join(build, on="k", how="left_semi").collect()}
    assert pre_exact == exact


def test_corpus_cli_zorder(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    src = str(tmp_path / "src")
    out = str(tmp_path / "zordered")
    spark.range(10_000).select(
        (F.col("id") % 100).alias("x"),
        ((F.col("id") * 7) % 100).alias("y"),
        F.col("id").alias("payload"),
    ).write.parquet(src)
    assert cli.main([
        "corpus", "zorder", "--in", src, "--out", out,
        "--by", "x,y", "--num-files", "4",
    ]) == 0
    back = spark.read.parquet(out)
    assert back.count() == 10_000
    assert set(back.columns) == {"x", "y", "payload"}  # __z dropped


def test_corpus_cli_ingest(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    b1 = str(tmp_path / "batch1")
    b2 = str(tmp_path / "batch2")
    lake = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.parquet(b1)
    spark.createDataFrame(
        [(3, "beta"), (4, "gamma")], "doc_id long, text string"
    ).write.parquet(b2)
    assert cli.main(["corpus", "ingest", "--in", b1, "--out", lake]) == 0
    assert cli.main(["corpus", "ingest", "--in", b2, "--out", lake]) == 0
    assert {r["text"] for r in spark.read.parquet(lake).collect()} == {
        "alpha", "beta", "gamma",
    }


def test_semantic_dedup_hand_computed(spark):
    """Two 2-D clusters; within the first cluster, vectors 1/2/5 are
    colinear (cosine 1.0) and vector 6 is orthogonal to them. The
    keep-lowest-id rule must drop 2 and 5 against kept_ref=1, keep 6
    (its only same-cell cosines are ~0), and never compare across
    cells (vector 3/4's scaled copy pair IS dropped within its own
    cell)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.kmeans import (
        lloyd_kmeans,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.similarity import (
        semantic_dedup,
    )

    pts = [
        (1, [1.0, 0.0]),
        (2, [2.0, 0.0]),      # colinear with 1 -> dropped vs 1
        (3, [100.0, 100.0]),  # far cluster
        (4, [90.0, 90.0]),    # colinear with 3 -> dropped vs 3
        (5, [3.0, 0.0]),      # colinear with 1 -> dropped vs 1 (not 2)
        (6, [0.0, 1.0]),      # same cell as 1, orthogonal -> kept
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = lloyd_kmeans(df, k=2, n_iters=2)
    out = {r["vec_id"]: r for r in semantic_dedup(df, cents, threshold=0.9).collect()}
    assert set(out) == {2, 4, 5}
    assert out[2]["kept_ref"] == 1 and out[2]["cosine_sim_micro"] == 1_000_000
    assert out[5]["kept_ref"] == 1 and out[5]["cosine_sim_micro"] == 1_000_000
    assert out[4]["kept_ref"] == 3 and out[4]["cosine_sim_micro"] == 1_000_000


def test_corpus_cli_retrieve_and_semdedup(spark, tmp_path):
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    docs = spark.createDataFrame(
        [
            ("d1", "spark window merge join " * 20),
            ("d2", "customer filter table scan " * 20),
        ],
        "doc_id string, text string",
    )
    src = str(tmp_path / "retr_in")
    docs.write.parquet(src)
    out = str(tmp_path / "retr_out")
    rc = cli.main([
        "corpus", "retrieve", "--in", src, "--out", out,
        "--query", "spark window merge join", "--top-k", "3",
    ])
    assert rc == 0
    top = spark.read.parquet(out).orderBy("rank").collect()
    assert len(top) == 3
    # the query-matching document's chunks must rank first
    assert top[0]["doc_id"] == "d1" and abs(top[0]["cosine_sim"] - 1.0) < 1e-9

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [50.0, 50.0]),
            (4, [45.0, 45.0]), (5, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    esrc = str(tmp_path / "semd_in")
    emb.write.parquet(esrc)
    eout = str(tmp_path / "semd_out")
    rc = cli.main([
        "corpus", "semdedup", "--in", esrc, "--out", eout,
        "--id-col", "vec_id", "--threshold", "0.9", "--k-cells", "2",
    ])
    assert rc == 0
    kept = sorted(r["vec_id"] for r in spark.read.parquet(eout).collect())
    assert kept == [1, 3, 5]  # 2 drops vs 1, 4 drops vs 3, orthogonal 5 kept


def test_profile_table_hand_computed(spark):
    """Nulls, distincts, and rendering rules verified on a table with
    every supported type class: nulls excluded from distincts, doubles
    render at 6-dp decimal, one row per column."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.profile import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.25), (3, "a", None), (4, "b", 1.5)],
        "k long, s string, v double",
    )
    rows = {r["col_name"]: r for r in profile_table(df).collect()}
    assert set(rows) == {"k", "s", "v"}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_nulls"] == 0
    assert rows["k"]["n_distinct"] == 4
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["v"]["n_nulls"] == 1 and rows["v"]["n_distinct"] == 2
    assert rows["v"]["min_value"] == "1.500000"
    assert rows["v"]["max_value"] == "2.250000"
    assert rows["s"]["min_value"] == "a" and rows["s"]["max_value"] == "b"


def test_profile_table_wide_range_doubles_not_null(spark):
    """Values >= 10^12 overflowed the old DECIMAL(18,6) render and
    reported min/max as NULL. DECIMAL(38,6) covers |v| < 10^32; beyond
    that the render falls back to a plain string -- a profile must
    never silently lose a min/max."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.profile import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1e15,), (2.5,), (1e40,)], "v double"
    )
    row = profile_table(df).collect()[0]
    assert row["min_value"] == "2.500000"
    # 1e40 exceeds DECIMAL(38,6): engine-native string, never NULL
    assert row["max_value"] is not None and "40" in row["max_value"].lower().split("e")[-1]


def test_semantic_dedup_arrow_assign_matches_hof(spark):
    """The Arrow-batched matmul assignment must produce the same drop
    set as the HOF broadcast-argmin on well-separated data (ties
    resolved identically by the lowest-cell rule)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.kmeans import (
        lloyd_kmeans,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.similarity import (
        semantic_dedup,
    )

    pts = [(i, [float(i % 7) + (10.0 if i % 2 else 0.0), float((i * 3) % 5), 1.0])
           for i in range(40)]
    # plant exact duplicates so drops exist
    pts += [(100 + i, pts[i][1]) for i in range(6)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = lloyd_kmeans(df, k=2, n_iters=2)
    hof = {tuple(r) for r in semantic_dedup(df, cents, threshold=0.999).collect()}
    arrow = {tuple(r) for r in semantic_dedup(
        df, cents, threshold=0.999, arrow_assign=True).collect()}
    assert hof == arrow and len(hof) >= 6


def test_semantic_dedup_arrow_pairs_matches_hof(spark):
    """The per-cell numpy block compare must produce the same drop set
    (ids, refs, cells) as the expression path on well-separated data;
    micro-unit similarities agree exactly away from quantization
    boundaries (summation order is the paths' only difference)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.kmeans import (
        lloyd_kmeans,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.similarity import (
        semantic_dedup,
    )

    pts = [(i, [float(i % 7) + (10.0 if i % 2 else 0.0), float((i * 3) % 5), 1.0])
           for i in range(40)]
    pts += [(100 + i, pts[i][1]) for i in range(6)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = lloyd_kmeans(df, k=2, n_iters=2)
    hof = {(r["vec_id"], r["cell"], r["kept_ref"]): r["cosine_sim_micro"]
           for r in semantic_dedup(df, cents, threshold=0.999).collect()}
    arw = {(r["vec_id"], r["cell"], r["kept_ref"]): r["cosine_sim_micro"]
           for r in semantic_dedup(df, cents, threshold=0.999,
                                   arrow_assign=True, arrow_pairs=True).collect()}
    assert set(hof) == set(arw) and len(hof) >= 6
    for k in hof:
        assert abs(hof[k] - arw[k]) <= 1


def test_synthvecs_source_and_ivf_topk_arrow_parity(spark):
    """(a) The synthvecs Python DataSource reproduces the scalar
    closed form exactly and yields unique vectors (no byte-identical
    duplicates -- exact dups would make ANN recall@k meaningless);
    (b) ivf_topk_arrow (BLAS assignment + per-cell block matmul,
    the 1M-bench path) returns the SAME neighbor sets and ranks as
    the expression-form ivf_topk on the same explicit centroids."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.kmeans import (
        lloyd_kmeans,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.similarity import (
        ivf_topk, ivf_topk_arrow,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.sources.pydatasource import (
        register,
    )

    register(spark)

    def load():
        # one load() per differently-filtered scan: Spark plans a
        # Python-source pushdown once per RELATION and shares it across
        # that relation's scan sites, so a filtered branch would narrow
        # an unfiltered one (module-docstring hazard; pinned below)
        return (
            spark.read.format("synthvecs")
            .option("n_vecs", 2000).option("dim", 16).option("n_clusters", 8)
            .load()
        )

    corpus = load()
    rows = load().filter(F.col("vec_id").isin([0, 777, 1999])).collect()
    for r in rows:
        # the reader's closed form, in scalar integer arithmetic
        vid, c = r["vec_id"], r["vec_id"] % 8
        want = np.array([((c * 37 + d * 11) % 17) - 8 + (((vid * 2654435761 + d * 40503) % 1009) - 504) / 1680
                         for d in range(16)], dtype=np.float32)
        assert np.array_equal(np.array([float(x) for x in r["embedding"]], dtype=np.float32), want)
    # uniqueness: hashing every vector's bytes finds no duplicates
    n_distinct = corpus.select(F.md5(F.col("embedding").cast("string")).alias("h")).distinct().count()
    assert n_distinct == 2000

    cents = lloyd_kmeans(corpus, k=8, n_iters=2, arrow=True)
    probes = load().filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    # pin relation isolation: the filtered probe relation must NOT have
    # narrowed the corpus relation's scan (the module-docstring hazard)
    assert corpus.count() == 2000
    expr = {(r["probe_id"], r["rank"]): r["neighbor_id"]
            for r in ivf_topk(corpus, probes, k=5, nprobe=3, centroids=cents).collect()}
    arw = {(r["probe_id"], r["rank"]): r["neighbor_id"]
           for r in ivf_topk_arrow(corpus, probes, cents, k=5, nprobe=3).collect()}
    assert expr == arw and len(expr) == 20

    # (c) lsh_topk_arrow parity with the expression-form bucket join
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.similarity import (
        lsh_bucketed_topk, lsh_topk_arrow,
    )

    lexpr = {(r["probe_id"], r["rank"]): r["neighbor_id"]
             for r in lsh_bucketed_topk(corpus, probes, dim=16, k=5, n_planes=6).collect()}
    larw = {(r["probe_id"], r["rank"]): r["neighbor_id"]
            for r in lsh_topk_arrow(corpus, probes, dim=16, k=5, n_planes=6).collect()}
    assert lexpr == larw and len(lexpr) == 20


def test_synthdocs_python_datasource(spark):
    """The custom Python DataSource: partitioned generation, doc_id
    filter pushdown narrowing the generated range (a 10M-doc source
    answers a 10-row slice without generating the rest), and
    non-pushable predicates still evaluated by Spark."""
    from finance_etl_pipeline_monthly_close_dataset_spark.sources.pydatasource import (
        register,
        synth_text,
    )

    register(spark)
    df = (
        spark.read.format("synthdocs")
        .option("n_docs", 90)
        .option("n_partitions", 4)
        .load()
    )
    assert df.count() == 90
    assert df.rdd.getNumPartitions() == 4
    row = df.filter(F.col("doc_id") == 7).collect()[0]
    assert row["text"] == synth_text(7)
    assert row["source"] == "wiki"

    big = (
        spark.read.format("synthdocs")
        .option("n_docs", 10_000_000)
        .load()
        .filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 60))
    )
    import time

    t0 = time.time()
    assert big.count() == 10  # pushdown: generates 10 rows, not 10M
    assert time.time() - t0 < 30
    mixed = (
        spark.read.format("synthdocs")
        .option("n_docs", 300)
        .load()
        .filter((F.col("doc_id") < 30) & (F.col("source") == "wiki"))
    )
    # source-predicate is returned to Spark; doc_id range still pushed
    assert mixed.count() == 10


def test_corpus_curate_recipe(spark, tmp_path):
    """One-command curation: exact dup dropped, near-dup collapsed to
    its representative, low-quality junk filtered, benchmark-
    contaminated doc removed, survivors split leakage-free."""
    from finance_etl_pipeline_monthly_close_dataset_spark import cli

    good = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        ("d1", good),
        ("d2", good),                                    # exact dup of d1
        ("d3", good + " extra"),                         # near dup of d1
        ("d4", "completely different words about finance ledgers and closing entries"),
        ("d5", "!!! ### $$$ %%% ^^^ &&&"),              # junk (all punctuation)
        ("d6", "benchmark question one about the meaning of life and tests"),
    ]
    src = str(tmp_path / "cur_in"); bench = str(tmp_path / "cur_bench")
    spark.createDataFrame(docs, "doc_id string, text string").write.parquet(src)
    spark.createDataFrame(
        [("b1", "benchmark question one about the meaning of life and tests")],
        "doc_id string, text string",
    ).write.parquet(bench)
    out = str(tmp_path / "cur_out")
    rc = cli.main([
        "corpus", "curate", "--in", src, "--out", out,
        "--benchmark", bench, "--quality-threshold", "0.3", "--max-overlap", "1",
    ])
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert "d2" not in kept and "d6" not in kept and "d5" not in kept
    assert "d1" in kept and "d4" in kept
    back = spark.read.parquet(out)
    assert set(back.select("split").distinct().toPandas()["split"]) <= {"train", "val", "test"}


def test_jpeg_roundtrip_all_modes():
    """Baseline JPEG codec (pure numpy, round 6 -- the last PIL gate
    closed): encode->decode roundtrips within lossy-codec tolerance
    for 4:4:4, 4:2:0 (chroma upsample path), grayscale, odd
    dimensions, and restart markers (DRI/RSTn + DC-predictor reset).
    The decoder reads quant/Huffman tables from the file's own
    DQT/DHT segments, so the roundtrip exercises the full parse
    path foreign encoders hit."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    yy, xx = np.mgrid[0:40, 0:56]
    img = np.stack(
        [(xx * 255 / 55), (yy * 255 / 39), ((xx + yy) * 255 / 94)], axis=2
    ).astype(np.uint8)

    for kwargs, tol_mean in [
        ({}, 3.0),
        ({"subsample": True}, 4.0),
        ({"restart_interval": 2}, 3.0),
        ({"subsample": True, "restart_interval": 1}, 4.0),
    ]:
        out = decode_jpeg(encode_jpeg_baseline(img, **kwargs))
        assert out.shape == img.shape and out.dtype == np.uint8
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.mean() < tol_mean, (kwargs, err.mean())

    # grayscale -> 3-channel replication
    g = (xx * 2 + yy).astype(np.uint8)
    og = decode_jpeg(encode_jpeg_baseline(g))
    assert og.shape == (40, 56, 3)
    assert np.array_equal(og[:, :, 0], og[:, :, 1])
    assert np.abs(og[:, :, 0].astype(int) - g.astype(int)).mean() < 3.0

    # odd dimensions + subsampling (padding/crop path)
    img2 = img[:37, :51]
    out2 = decode_jpeg(encode_jpeg_baseline(img2, subsample=True))
    assert out2.shape == (37, 51, 3)
    assert np.abs(out2.astype(int) - img2.astype(int)).mean() < 4.0


def test_jpeg_rejects_unsupported_and_corrupt():
    import numpy as np
    import pytest as _pytest

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    with _pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")
    # a BASELINE stream relabeled SOF2 is inconsistent (its one scan
    # claims Ss=0..Se=63, illegal in progressive where DC and AC may
    # not share a scan) -- must raise, not mis-decode
    b = bytearray(encode_jpeg_baseline(np.zeros((8, 8), dtype=np.uint8)))
    i = bytes(b).find(b"\xff\xc0")
    b[i + 1] = 0xC2
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(b))
    # truncated entropy data
    full = encode_jpeg_baseline(np.arange(64, dtype=np.uint8).reshape(8, 8))
    with _pytest.raises(ValueError):
        decode_jpeg(full[: len(full) // 2])
    # a frame referencing an undefined quant table used to escape as
    # KeyError (qt[c["tq"]]); decode_jpeg must normalize it to
    # ValueError so callers' corrupt-media handling stays narrow
    # (ADVICE r6)
    b = bytearray(full)
    i = bytes(b).find(b"\xff\xdb")  # first DQT
    b[i + 4] = (b[i + 4] & 0xF0) | 0x0B  # re-home table to unused slot 11
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(b))


def test_jpeg_progressive_decodes_bit_identical_to_baseline():
    """Progressive (SOF2) support, round 8: a progressive stream
    carries the SAME quantized coefficients as the sequential one, so
    decode(progressive) must equal decode(baseline) BIT-FOR-BIT --
    exercising DC first/refinement, per-band AC first scans (EOB-run
    coding), AC refinement (correction bits + buffered-bit
    bookkeeping), interleaved and single-component layouts, 4:2:0
    padding-block geometry, and the progressive fixture AC table."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    yy, xx = np.mgrid[0:37, 0:51]
    grad = np.stack([xx * 5 % 256, yy * 7 % 256, (xx ^ yy) % 256], 2).astype(np.uint8)
    cases = [
        (grad, {}),
        (grad, {"subsample": True}),                      # odd dims + 4:2:0 padding
        (((xx * 3 + yy * 11) % 256).astype(np.uint8), {}),  # grayscale
        (rng.integers(0, 256, (24, 33, 3), dtype=np.uint8), {}),   # noise: dense AC
        (rng.integers(0, 256, (41, 22, 3), dtype=np.uint8), {"subsample": True}),
        (np.full((16, 16, 3), 200, np.uint8), {}),        # flat: EOB-run heavy
    ]
    for img, kw in cases:
        base = decode_jpeg(encode_jpeg_baseline(img, **kw))
        prog = decode_jpeg(encode_jpeg_progressive(img, **kw))
        assert np.array_equal(base, prog), (img.shape, kw)


def test_decode_images_numpy_progressive_jpeg(spark):
    """Progressive JPEG payloads decode on the Spark mapInPandas path
    with features identical to the baseline encoding of the same
    image (previously progressive -> null row)."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.jpeg import (
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_images_numpy,
    )

    yy, xx = np.mgrid[0:24, 0:32]
    img = np.stack([xx * 7 % 256, yy * 3 % 256, (xx + yy) % 256], 2).astype(np.uint8)
    rows = [
        (1, "image", bytearray(encode_jpeg_baseline(img)), "image/jpeg", 32, 24, None),
        (2, "image", bytearray(encode_jpeg_progressive(img)), "image/jpeg", 32, 24, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in decode_images_numpy(media, resize_to=(8, 8)).collect()}
    assert out[2]["out_width"] == 8 and out[2]["feature"] is not None
    assert out[1]["feature"] == out[2]["feature"]  # same coefficients -> same pixels


def test_jpeg_fill_bytes_before_rst():
    """T.81 B.1.1.2: 0xFF fill bytes may precede ANY marker, including
    RSTn inside the entropy stream. Insert a fill byte before the
    first restart marker of a DRI-encoded image; the decode must still
    succeed and match the unpadded decode exactly (ADVICE r6: the old
    align_and_expect_rst read the fill byte as a non-RST marker)."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    yy, xx = np.mgrid[0:24, 0:24]
    img = np.stack([xx * 10, yy * 10, xx + yy], axis=2).astype(np.uint8)
    enc = encode_jpeg_baseline(img, restart_interval=1)
    sos = enc.find(b"\xff\xda")
    assert sos > 0
    # locate the first RSTn (FF D0-D7) in the entropy-coded data
    rst = -1
    i = sos + 2
    while i + 1 < len(enc):
        if enc[i] == 0xFF and 0xD0 <= enc[i + 1] <= 0xD7:
            rst = i
            break
        i += 1
    assert rst > 0, "encoder emitted no restart marker"
    padded = enc[:rst] + b"\xff" + enc[rst:]
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(enc))


def test_decode_y4m_chroma_layouts():
    """C420 / C422 / C444 streams of the SAME underlying color must
    decode consistently: a chroma-constant frame yields identical RGB
    regardless of subsampling (replication can't change a constant),
    and plane sizes are read per the layout's (sx, sy)."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        _decode_y4m,
        _yuv420_to_rgb,
    )

    w, h = 8, 6
    yplane = ((np.arange(h)[:, None] * 16 + np.arange(w) * 4) % 256).astype(np.uint8)

    def stream(cs, sx, sy):
        u = np.full((h // sy, w // sx), 90, np.uint8)
        v = np.full((h // sy, w // sx), 200, np.uint8)
        return (
            f"YUV4MPEG2 W{w} H{h} F25:1 C{cs}\n".encode()
            + b"FRAME\n" + yplane.tobytes() + u.tobytes() + v.tobytes()
        )

    rgbs = {}
    for cs, sx, sy in (("420", 2, 2), ("422", 2, 1), ("444", 1, 1)):
        frames, (fn, fd), (gw, gh) = _decode_y4m(stream(cs, sx, sy))
        assert (gw, gh, fn, fd) == (w, h, 25, 1)
        y, u, v = frames[0]
        assert u.shape == (h // sy, w // sx) and v.shape == u.shape
        r, g, bl = _yuv420_to_rgb(y, u, v)
        rgbs[cs] = np.stack([r, g, bl], 2)
    assert np.array_equal(rgbs["420"], rgbs["444"])
    assert np.array_equal(rgbs["422"], rgbs["444"])

    # unsupported layout still rejects cleanly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="C411"):
        _decode_y4m(stream("411", 1, 1))


def test_decode_y4m_rejects_nonpositive_dims(spark):
    """W0/H0 headers must take the null corrupt-payload row path:
    0 % sx == 0 slips past the divisibility check, and mean() over the
    resulting empty planes would emit NaN feature rows instead of the
    documented null row."""
    import pytest as _pytest

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _decode_y4m,
        decode_video_y4m,
    )

    zero = b"YUV4MPEG2 W0 H0 F25:1 C420\nFRAME\n"
    with _pytest.raises(ValueError, match="positive"):
        _decode_y4m(zero)
    df = spark.createDataFrame(
        [(0, "video", bytearray(zero), "video/x-yuv4mpeg", 0, 0, None)], MEDIA_SCHEMA
    )
    row = decode_video_y4m(df).collect()[0]
    assert row["width"] is None and row["mean_r"] is None


def test_decode_video_y4m_frames_and_corrupt(spark):
    """Y4M decode: sampled-frame rows carry the right stride/timestamp
    arithmetic (stride 2 at 10 fps -> frames 0,2,4 at 0/200/400 ms);
    corrupt and truncated payloads degrade to one null row, same
    contract as the image/audio paths."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_video_y4m,
        deterministic_y4m_media,
    )

    media = deterministic_y4m_media(spark, n=4)
    rows = decode_video_y4m(media, frame_stride=2).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    # n_frames = 2 + id%4 -> ids 0..3 have 2,3,4,5 frames -> 1,2,2,3 sampled
    assert {k: len(v) for k, v in by_id.items()} == {0: 1, 1: 2, 2: 2, 3: 3}
    f3 = sorted(by_id[3], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in f3] == [0, 2, 4]
    assert [r["ts_ms"] for r in f3] == [0, 200, 400]
    assert all(0.0 <= r["mean_r"] <= 255.0 for r in rows)

    # corrupt payloads -> one null row each, batch never fails
    good = deterministic_y4m_media(spark, n=1).collect()[0]["payload"]
    bad_rows = [
        (10, "video", bytearray(b"\x00garbage"), "video/x-yuv4mpeg", 8, 6, None),
        (11, "video", bytearray(bytes(good)[: len(good) // 2]), "video/x-yuv4mpeg", 8, 6, None),
    ]
    bad = spark.createDataFrame(bad_rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in decode_video_y4m(bad).collect()}
    assert out[10]["width"] is None and out[10]["mean_r"] is None
    assert out[11]["width"] is None and out[11]["n_bytes"] == len(good) // 2


def test_decode_images_numpy_jpeg_payload(spark):
    """JPEG payloads ride the same mapInPandas path as PPM/BMP/PNG:
    real decode + features; corrupt JPEG -> null row."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators.jpeg import (
        encode_jpeg_baseline,
    )
    from finance_etl_pipeline_monthly_close_dataset_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_images_numpy,
    )

    img = np.full((16, 16, 3), 128, dtype=np.uint8)
    good = encode_jpeg_baseline(img)
    rows = [
        (1, "image", bytearray(good), "image/jpeg", 16, 16, None),
        (2, "image", bytearray(b"\xff\xd8\x00broken"), "image/jpeg", 16, 16, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in decode_images_numpy(media, feature_dim=8, resize_to=(4, 4)).collect()
    }
    assert (out[1].out_width, out[1].out_height) == (4, 4)
    # flat gray image -> every channel/grid mean ~128/255
    assert all(abs(x - 128.0 / 255.0) < 0.02 for x in out[1].feature[:7])
    assert out[2].out_width is None and out[2].feature is None


def test_micro_rank_total_on_quantized_output(spark):
    """micro_rank (r10, ADVICE fix): when two candidates land on the
    SAME micro-unit similarity but their raw doubles differ, the rank
    must follow the neighbor_id tie-break (a total function of the
    emitted quantized columns), while the default mode still ranks on
    the raw double.  v10 has the strictly larger raw cosine; v5 has
    the smaller id; both quantize to micro 1000000."""
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 1e-05, 0.0, 0.0]),   # cos ~ 1 - 5e-11 (largest raw)
            (5, [1.0, 2e-05, 0.0, 0.0]),    # cos ~ 1 - 2e-10 (same micro)
            (99, [0.0, 1.0, 0.0, 0.0]),     # orthogonal filler
        ],
        "vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "probe_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0])], "cell int, centroid array<double>"
    )

    for fn in (
        lambda **kw: similarity.ivf_topk(
            corpus, probes, k=3, nprobe=1, centroids=cents, **kw
        ),
        lambda **kw: similarity.ivf_topk_arrow(
            corpus, probes, cents, k=3, nprobe=1, **kw
        ),
        lambda **kw: similarity.lsh_topk_arrow(
            corpus, probes, dim=4, k=3, planes=[[1.0, 0.0, 0.0, 0.0]], **kw
        ),
    ):
        micro = {r["rank"]: r for r in fn(micro_rank=True).collect()}
        assert set(micro[1].asDict()) == {
            "probe_id", "neighbor_id", "cosine_sim_micro", "rank"
        }
        # micro tie at 1000000 -> id order decides
        assert micro[1]["cosine_sim_micro"] == 1_000_000
        assert micro[2]["cosine_sim_micro"] == 1_000_000
        assert (micro[1]["neighbor_id"], micro[2]["neighbor_id"]) == (5, 10)

        raw = {r["rank"]: r for r in fn().collect()}
        # default mode: the strictly larger raw cosine wins
        assert (raw[1]["neighbor_id"], raw[2]["neighbor_id"]) == (10, 5)


def test_vec_matrix_rejects_ragged(spark):
    """_vec_matrix (r10, ADVICE fix): a ragged vector column whose
    total element count still divides the row count must raise, not
    silently reshape into misaligned rows."""
    import pyarrow as pa
    import pytest

    batch = pa.RecordBatch.from_pydict(
        {
            "vec_id": [1, 2],
            "embedding": [[1.0, 2.0, 3.0], [4.0]],  # 4 elements, 2 rows, dim 2
        }
    )
    with pytest.raises(ValueError, match="ragged"):
        similarity._vec_matrix(batch, "embedding", 2)
    ok = pa.RecordBatch.from_pydict(
        {"vec_id": [1, 2], "embedding": [[1.0, 2.0], [3.0, 4.0]]}
    )
    assert similarity._vec_matrix(ok, "embedding", 2).shape == (2, 2)


def test_temperature_mix_exact_membership(spark):
    """r15 temperature_mix: rates follow n**0.5 flattening under the
    budget, membership is the shared md5 bucket (replayed here in pure
    Python, so the test pins the exact keep set), rare domains keep a
    LARGER share than their raw frequency, and the schedule is
    partition-independent."""
    import hashlib

    from finance_etl_pipeline_monthly_close_dataset_spark.corpus import (
        temperature_mix,
    )

    rows = (
        [(i, "A") for i in range(400)]
        + [(i, "B") for i in range(400, 500)]
        + [(i, "C") for i in range(500, 525)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mix(df, alpha=0.5, budget_frac=0.5).collect()

    # replay the operator's documented math exactly
    import math

    counts = {"A": 400, "B": 100, "C": 25}
    total = float(sum(counts.values()))
    s = 0.0
    for d in sorted(counts):  # fold-left in domain-name order
        s += math.sqrt(float(counts[d]))
    rates = {
        d: min(1.0, ((0.5 * total) * (math.sqrt(float(n)) / s)) / float(n))
        for d, n in counts.items()
    }
    expected = set()
    for i, d in rows:
        bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16)
        if bucket < rates[d] * 65536.0:
            expected.add(i)
    assert {r["doc_id"] for r in out} == expected

    # temperature flattening: per-domain keep share grows as n shrinks
    kept = {d: sum(1 for r in out if r["lang"] == d) for d in counts}
    assert kept["C"] / 25 > kept["B"] / 100 > kept["A"] / 400
    # the rare domain keeps everything under this budget (rate hits 1)
    assert rates["C"] == 1.0 and kept["C"] == 25

    # partition-independence
    out2 = temperature_mix(df.repartition(7), alpha=0.5, budget_frac=0.5).collect()
    assert {r["doc_id"] for r in out2} == expected


def test_pq_encode_and_adc_topk(spark):
    """r15 product quantization: codebooks are deterministic and
    partition-independent, codes are 1-based indices whose codeword is
    genuinely the argmin (a vector equal to a seed encodes to that
    seed's codeword with zero distance), and ADC's minimum is achieved
    by the probe's own code assignment (sum of per-subspace minima),
    so the probe itself ranks at the global ADC floor."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators import pq

    # deterministic synthetic vectors: dim 8, LCG values in [0, 1)
    def vec(i: int) -> list[float]:
        x, out = (i * 2654435761 + 1) % (2**32), []
        for _ in range(8):
            x = (x * 1664525 + 1013904223) % (2**32)
            out.append(round(x / 2**32, 6))
        return out

    rows = [(i, vec(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    books = pq.pq_seed_codebooks(df, dim=8, m=2, k_codes=4)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    assert all(len(cw) == 4 for b in books for cw in b)
    books2 = pq.pq_seed_codebooks(df.repartition(5), dim=8, m=2, k_codes=4)
    assert books == books2

    codes = pq.pq_encode(df, books)
    rows_c = {r["vec_id"]: (r["code_0"], r["code_1"]) for r in codes.collect()}
    assert all(1 <= c <= 4 for pair in rows_c.values() for c in pair)
    assert len({pair[0] for pair in rows_c.values()}) > 1  # codes spread

    # a vector equal to a seed encodes to that seed's codeword exactly
    import hashlib

    seed_ids = sorted(
        range(40), key=lambda i: (hashlib.md5(f"pq:{i}".encode()).hexdigest(), i)
    )[:4]
    for j, sid in enumerate(
        sorted(seed_ids, key=lambda i: hashlib.md5(f"pq:{i}".encode()).hexdigest())
    ):
        sv = [float(x) for x in df.filter(F.col("vec_id") == sid).first()["embedding"]]
        c0, c1 = rows_c[sid]
        assert books[0][c0 - 1] == [float(v) for v in sv[:4]]
        assert books[1][c1 - 1] == [float(v) for v in sv[4:]]

    probes = df.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    top = pq.pq_adc_topk(df, probes, books, k=3).collect()
    assert [r["rank"] for r in top] == [1, 2, 3]
    # ADC floor: rank-1 distance == the probe's own-code distance,
    # which is the per-subspace minimum sum by construction
    own = [r for r in top if r["neighbor_id"] == 7]
    assert own and own[0]["adc_micro"] == top[0]["adc_micro"]
    assert all(
        top[i]["adc_micro"] <= top[i + 1]["adc_micro"] for i in range(len(top) - 1)
    )


def test_histogram_drift_exact_and_invariant(spark):
    """r15 histogram_drift: identical snapshots score zero on both
    statistics, a known hand-computable shift scores exactly its TVD
    and chi-square, and the result is partition-independent."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators import drift

    base = spark.createDataFrame(
        [("en", 100)] * 8 + [("en", 300)] * 2, "lang string, n_chars int"
    )
    # identical distributions -> zero drift
    z = drift.histogram_drift(base, base, bucket_width=200).collect()
    assert len(z) == 1 and z[0]["tvd"] == 0.0 and z[0]["chi_square"] == 0.0

    # hand-computed shift: baseline p = (0.8, 0.2), current q = (0.5, 0.5)
    cur = spark.createDataFrame(
        [("en", 100)] * 5 + [("en", 300)] * 5, "lang string, n_chars int"
    )
    d = drift.histogram_drift(base, cur, bucket_width=200).collect()[0]
    assert d["n_buckets"] == 2
    assert d["tvd"] == 0.3  # 0.5 * (|0.8-0.5| + |0.2-0.5|)
    # chi2 = 0.09/1.3 + 0.09/0.7, emitted at 6 dp
    assert d["chi_square"] == round(0.09 / 1.3 + 0.09 / 0.7, 6)

    # a bucket present on only one side still contributes its full mass
    cur2 = spark.createDataFrame(
        [("en", 900)] * 10, "lang string, n_chars int"
    )
    d2 = drift.histogram_drift(base, cur2, bucket_width=200).collect()[0]
    assert d2["tvd"] == 1.0 and d2["n_buckets"] == 3

    # partition-independence
    d3 = drift.histogram_drift(
        base.repartition(5), cur.repartition(3), bucket_width=200
    ).collect()[0]
    assert (d3["tvd"], d3["chi_square"]) == (d["tvd"], d["chi_square"])


def test_pq_arrow_matches_expression_form(spark):
    """r15 Arrow PQ twins: the numpy encoder yields the same codes as
    the expression form (same argmin, same tie direction), and the
    Arrow ADC search returns the same ranked neighbor sets as the
    expression-form micro-ranked search."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators import pq

    def vec(i: int) -> list[float]:
        x, out = (i * 2654435761 + 11) % (2**32), []
        for _ in range(8):
            x = (x * 1664525 + 1013904223) % (2**32)
            out.append(round(x / 2**32, 6))
        return out

    rows = [(i, vec(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    books = pq.pq_seed_codebooks(df, dim=8, m=2, k_codes=4)
    books_np = pq.pq_seed_codebooks_np(df, dim=8, m=2, k_codes=4)
    assert books_np.shape == (2, 4, 4)
    # same codebooks, both derivations
    assert np.allclose(books_np, np.array(books), atol=0)

    expr_codes = {
        r["vec_id"]: (r["code_0"], r["code_1"])
        for r in pq.pq_encode(df, books).collect()
    }
    arrow_codes = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq.pq_encode_arrow(df, books_np).collect()
    }
    assert expr_codes == arrow_codes

    probes = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    expr_top = {
        (r["probe_id"], r["rank"]): r["neighbor_id"]
        for r in pq.pq_adc_topk(df, probes, books, k=5).collect()
    }
    codes_df = pq.pq_encode_arrow(df, books_np)
    arrow_top = {
        (r["probe_id"], r["rank"]): r["neighbor_id"]
        for r in pq.pq_adc_topk_arrow(codes_df, probes, books_np, k=5).collect()
    }
    assert expr_top == arrow_top


def test_ols_fit_exact_and_outliers(spark):
    """r15 closed-form OLS: on exactly-linear integer data the Cramer
    solve recovers the coefficients to float precision and every
    residual is ~0; planting one violator makes it the top outlier
    with its exact micro residual; the integer-moment fit is
    partition-independent (exact sums, shuffle-safe)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.operators import (
        regression as reg,
    )

    # y = 7 + 3*x1 - 2*x2, integers by construction
    rows = [
        (i, 7 + 3 * x1 - 2 * x2, x1, x2)
        for i, (x1, x2) in enumerate(
            (a, b) for a in range(1, 11) for b in range(1, 6)
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, y long, x1 long, x2 long")
    c = reg.ols_fit_3x3(df).collect()[0]
    assert c["n"] == 50
    assert abs(c["b0"] - 7.0) < 1e-9
    assert abs(c["b1"] - 3.0) < 1e-9
    assert abs(c["b2"] - (-2.0)) < 1e-9

    # partition-independence: exact integer moments
    c2 = reg.ols_fit_3x3(df.repartition(7)).collect()[0]
    assert (c2["b0"], c2["b1"], c2["b2"]) == (c["b0"], c["b1"], c["b2"])

    # plant a violator 100 above the plane: it must rank first, and on
    # otherwise-exact data its residual is ~100 minus the tiny fit tilt
    rows2 = rows + [(999, 7 + 3 * 5 - 2 * 3 + 100, 5, 3)]
    df2 = spark.createDataFrame(rows2, "doc_id long, y long, x1 long, x2 long")
    coefs2 = reg.ols_fit_3x3(df2)
    top = reg.residual_outliers(df2, coefs2.select("b0", "b1", "b2"), k=3).collect()
    assert top[0]["doc_id"] == 999
    assert top[0]["abs_resid_micro"] > 90_000_000  # > 90 in micro units
    assert top[0]["abs_resid_micro"] > top[1]["abs_resid_micro"]


def test_ivfpq_encode_prune_and_search(spark):
    """r15 IVF-PQ composition: cell assignment lands each vector in
    its true cluster, residual codes are partition-independent,
    nprobe=1 search returns only the probe's nearest cell, and with
    all cells probed the probe itself sits at the ADC floor of its
    own cell."""
    import numpy as np

    from finance_etl_pipeline_monthly_close_dataset_spark.operators import pq

    # 4 well-separated clusters in dim 8 (corners scaled by 10),
    # deterministic LCG jitter in [0, 1)
    corners = [
        [10.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 10.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 10.0, 0, 0, 0, 0, 0],
        [0, 0, 0, 10.0, 0, 0, 0, 0],
    ]

    def vec(i: int) -> list[float]:
        base = corners[i % 4]
        x, out = (i * 2654435761 + 3) % (2**32), []
        for d in range(8):
            x = (x * 1664525 + 1013904223) % (2**32)
            out.append(base[d] + round(x / 2**32, 6))
        return out

    rows = [(i, vec(i)) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    C = np.array(corners, dtype=np.float64)
    books = pq.ivfpq_residual_books_np(df, C, dim=8, m=2, k_codes=4)
    assert books.shape == (2, 4, 4)

    enc = pq.ivfpq_encode_arrow(df, C, books)
    got = {r["vec_id"]: (r["cell"], tuple(r["codes"])) for r in enc.collect()}
    assert all(got[i][0] == i % 4 for i in range(80))  # true clusters
    got2 = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in pq.ivfpq_encode_arrow(df.repartition(7), C, books).collect()
    }
    assert got == got2

    probes = df.filter(F.col("vec_id") == 8).select(  # cluster 0
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    codes = pq.ivfpq_encode_arrow(df, C, books)

    # nprobe=1: every result comes from the probe's own cell
    top1 = pq.ivfpq_topk_arrow(codes, probes, C, books, k=5, nprobe=1).collect()
    assert len(top1) == 5
    assert all(got[r["neighbor_id"]][0] == 0 for r in top1)

    # all cells probed: the probe itself achieves its cell's ADC floor
    topall = pq.ivfpq_topk_arrow(codes, probes, C, books, k=5, nprobe=4).collect()
    own = [r for r in topall if r["neighbor_id"] == 8]
    assert own and own[0]["adc_dist"] == topall[0]["adc_dist"]
