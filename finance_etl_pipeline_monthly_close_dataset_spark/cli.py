"""Command-line interface.

The reference declares ``finance-etl run`` but ships it as a stub that
prints a TODO (``/root/reference/src/finance_etl/cli.py:18-21``); here
the CLI actually executes the pipeline (SURVEY.md §3.1). argparse, not
Typer, to stay inside the baked-in dependency set.
"""

from __future__ import annotations

import argparse
import sys

from . import __version__
from .config import Settings
from .plans.pipeline import ChartOfAccountsTooLargeError, DataQualityGateError, MissingFxRatesError, run_month
from .sample_data import generate_synthetic_raw, write_chart_of_accounts
from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="finance-etl-spark")
    sub = parser.add_subparsers(dest="command", required=True)

    run_p = sub.add_parser("run", help="Run the monthly close for one month")
    run_p.add_argument("--month", required=True, help="Target month YYYY-MM")
    # default applied in the handler ONLY when --raw-lake-dir is absent:
    # run_month refuses both sources (ADVICE r13), and an always-on
    # default here would trip that for every lake-fed run
    run_p.add_argument(
        "--raw-dir", default=None,
        help="Raw CSV inputs (default data/raw; mutually exclusive with "
        "--raw-lake-dir)",
    )
    run_p.add_argument("--curated-dir", default="data/curated")
    run_p.add_argument("--reference-dir", default="data/reference")
    run_p.add_argument("--fail-on", default="ERROR", choices=["ERROR", "WARN", "NEVER"])
    run_p.add_argument("--base-currency", default="USD")
    run_p.add_argument(
        "--lake-dir", default=None,
        help="Optional month-partitioned curated lake to upsert this month into",
    )
    run_p.add_argument(
        "--raw-lake-dir", default=None,
        help="Lake-fed close: read typed raw parquet written by ingest-lake "
        "instead of parsing --raw-dir CSVs",
    )

    ing_p = sub.add_parser(
        "ingest-lake",
        help="Parse one month's raw CSVs once into the typed raw parquet lake",
    )
    ing_p.add_argument("--month", required=True, help="Target month YYYY-MM")
    ing_p.add_argument("--raw-dir", default="data/raw")
    ing_p.add_argument("--lake-dir", required=True)

    gen_p = sub.add_parser("generate", help="Generate seeded synthetic raw data")
    gen_p.add_argument("--out-dir", default="data/raw")
    gen_p.add_argument("--reference-dir", default="data/reference")
    gen_p.add_argument("--month", default="2025-12")
    gen_p.add_argument("--seed", type=int, default=42)

    for name, helptext in (
        ("export-bi", "Export flat BI CSVs (+margin %) from the curated layer"),
        ("export-star", "Export the Power BI star schema from the curated layer"),
        ("dashboard", "Build the HTML dashboard from the curated layer"),
    ):
        p = sub.add_parser(name, help=helptext)
        p.add_argument("--curated-dir", default="data/curated")
        p.add_argument("--month", default=None, help="YYYY-MM; inferred from KPI if omitted")
        p.add_argument("--out", default=None, help="Output dir (or file for dashboard)")

    corpus_p = sub.add_parser(
        "corpus", help="Corpus operations over a documents table (parquet or JSONL)"
    )
    corpus_p.add_argument(
        "op",
        choices=[
            "dedup", "quality-filter", "split", "pack", "decontaminate",
            "sample", "redact", "collocations", "chunk", "embed", "ingest",
            "zorder", "mix", "retrieve", "semdedup", "curate", "dup-spans",
            "epoch-shards", "temperature-mix", "drift",
        ],
    )
    corpus_p.add_argument("--in", dest="in_path", required=True)
    corpus_p.add_argument("--out", dest="out_path", required=True)
    corpus_p.add_argument("--id-col", default="doc_id")
    corpus_p.add_argument("--text-col", default="text")
    corpus_p.add_argument(
        "--method", default="exact", choices=["exact", "minhash", "simhash"],
        help="dedup only: exact content hash or near-dup detection",
    )
    corpus_p.add_argument("--threshold", type=float, default=0.8,
                          help="dedup minhash: Jaccard threshold; quality-filter: min score")
    corpus_p.add_argument("--max-hamming", type=int, default=3, help="dedup simhash")
    corpus_p.add_argument("--span-k", type=int, default=8,
                          help="dup-spans: span length in tokens")
    corpus_p.add_argument("--train-pct", type=int, default=80, help="split")
    corpus_p.add_argument("--val-pct", type=int, default=10, help="split")
    corpus_p.add_argument("--by-content", action="store_true",
                          help="split: key the assignment on the content fingerprint "
                               "(leakage-free: duplicates never straddle splits)")
    corpus_p.add_argument("--budgets", default=None,
                          help="mix: per-source token budgets, e.g. 'wiki=1000000,cc=250000' "
                               "(sources not listed are dropped)")
    corpus_p.add_argument("--source-col", default="source", help="mix: source column")
    corpus_p.add_argument("--budget-tokens", type=int, default=2048, help="pack")
    corpus_p.add_argument("--alpha", type=float, default=0.5,
                          help="temperature-mix: sampling exponent (0.5 = sqrt flattening)")
    corpus_p.add_argument("--budget-frac", type=float, default=0.5,
                          help="temperature-mix: total corpus fraction to keep")
    corpus_p.add_argument("--baseline", dest="baseline_path", default=None,
                          help="drift: baseline snapshot docs path")
    corpus_p.add_argument("--value-col", default="n_chars",
                          help="drift: numeric column to histogram")
    corpus_p.add_argument("--bucket-width", type=int, default=200,
                          help="drift: histogram bucket width (integer division)")
    corpus_p.add_argument("--n-buckets", type=int, default=64, help="pack")
    corpus_p.add_argument("--benchmark", dest="benchmark_path", default=None,
                          help="decontaminate: benchmark docs path")
    corpus_p.add_argument("--max-overlap", type=int, default=1,
                          help="decontaminate: drop docs with >= this many shared shingles")
    corpus_p.add_argument("--fraction", type=float, default=0.1,
                          help="sample: deterministic keep fraction")
    corpus_p.add_argument("--stratify", default=None,
                          help="sample: per-stratum fractions, e.g. 'lang:en=0.5,fr=0.25' "
                               "(--fraction becomes the default for unlisted strata)")
    corpus_p.add_argument("--min-count", type=int, default=5,
                          help="collocations: minimum bigram count")
    corpus_p.add_argument("--top-k", type=int, default=100,
                          help="collocations: bigrams to keep")
    corpus_p.add_argument("--chunk-size", type=int, default=64,
                          help="chunk: tokens per window")
    corpus_p.add_argument("--stride", type=int, default=48,
                          help="chunk: window stride (overlap = size - stride)")
    corpus_p.add_argument("--dim", type=int, default=8,
                          help="embed: feature-hash dimensions (power of two)")
    corpus_p.add_argument("--query", default=None,
                          help="retrieve: the probe query text")
    corpus_p.add_argument("--vec-col", default="embedding",
                          help="semdedup: embedding array column")
    corpus_p.add_argument("--k-cells", type=int, default=4,
                          help="semdedup: coarse cells to train")
    corpus_p.add_argument("--arrow-assign", action="store_true",
                          help="semdedup: numpy-matmul cell assignment (large k)")
    corpus_p.add_argument("--arrow-pairs", action="store_true",
                          help="semdedup: per-cell numpy block compare (large cells)")
    corpus_p.add_argument("--quality-threshold", type=float, default=0.3,
                          help="curate: min quality_score to keep")
    corpus_p.add_argument("--by", default=None,
                          help="zorder: two comma-separated integer columns, e.g. 'user_id,ts_key'")
    corpus_p.add_argument("--num-files", type=int, default=None,
                          help="zorder: output file count (default: let range partitioning decide)")
    corpus_p.add_argument("--epochs", type=int, default=1,
                          help="epoch-shards: number of training epochs to schedule")
    corpus_p.add_argument("--workers", type=int, default=1,
                          help="epoch-shards: number of data-parallel trainer workers")
    corpus_p.add_argument("--seed", type=int, default=42,
                          help="epoch-shards: schedule seed")
    corpus_p.add_argument("--files-per-shard", type=int, default=1,
                          help="epoch-shards: parquet files per (epoch, worker) shard")

    diff_p = sub.add_parser(
        "diff", help="Snapshot CDC diff of two parquet tables on a business key"
    )
    diff_p.add_argument("--old", dest="old_path", required=True)
    diff_p.add_argument("--new", dest="new_path", required=True)
    diff_p.add_argument("--keys", required=True, help="comma-separated key columns")
    diff_p.add_argument("--compare", default=None,
                        help="comma-separated compare columns (default: all non-key)")
    diff_p.add_argument("--out", dest="out_path", default=None,
                        help="write the row-level diff as parquet")

    csum_p = sub.add_parser(
        "checksum", help="Per-bucket XOR table checksums for reconciliation"
    )
    csum_p.add_argument("--in", dest="in_path", required=True)
    csum_p.add_argument("--key-col", required=True, help="integer key column for bucketing")
    csum_p.add_argument("--cols", default=None,
                        help="comma-separated columns in the row string (default: all)")
    csum_p.add_argument("--n-buckets", type=int, default=16)

    prof_p = sub.add_parser(
        "profile", help="One-pass per-column table profile (rows/nulls/distincts/min/max)"
    )
    prof_p.add_argument("--in", dest="in_path", required=True)
    prof_p.add_argument("--approx", action="store_true",
                        help="approx_count_distinct instead of exact (wide tables)")
    prof_p.add_argument("--out", dest="out_path", default=None,
                        help="also write the profile as parquet")

    sql_p = sub.add_parser("sql", help="Run ad-hoc SQL over a directory of parquet tables")
    sql_p.add_argument("query", help="SQL text; each <name>.parquet (or <name>/ dir) in --dir is a view")
    sql_p.add_argument("--dir", dest="data_dir", required=True)
    sql_p.add_argument("--limit", type=int, default=50)

    sub.add_parser("version", help="Print version")

    args = parser.parse_args(argv)

    if args.command == "version":
        print(f"finance-etl-spark {__version__}")
        return 0

    if args.command == "generate":
        generate_synthetic_raw(args.out_dir, month=args.month, seed=args.seed)
        write_chart_of_accounts(args.reference_dir)
        print(f"Synthetic raw data written to {args.out_dir}")
        return 0

    if args.command == "ingest-lake":
        from .sources.raw_lake import ingest_raw_to_lake

        if "://" in args.lake_dir:
            raise SystemExit(f"ingest-lake: --lake-dir must be a local directory, got {args.lake_dir}")
        spark = get_spark()
        out = ingest_raw_to_lake(spark, args.month, args.raw_dir, args.lake_dir)
        for name, path in out.items():
            print(f"{name}: {path}")
        return 0

    if args.command in ("export-bi", "export-star", "dashboard"):
        from .plans.dashboard import build_dashboard
        from .plans.exports import export_bi_datasets
        from .plans.star import export_star_schema

        spark = get_spark()
        if args.command == "export-bi":
            out = export_bi_datasets(spark, args.curated_dir, args.month, args.out)
        elif args.command == "export-star":
            out = export_star_schema(spark, args.curated_dir, args.month, args.out)
        else:
            out = build_dashboard(spark, args.curated_dir, args.month, args.out)
        print(str(out))
        return 0

    if args.command == "sql":
        import os as _os

        spark = get_spark()
        for entry in sorted(_os.listdir(args.data_dir)):
            path = _os.path.join(args.data_dir, entry)
            name = entry[:-8] if entry.endswith(".parquet") else entry
            if not name.isidentifier():
                continue
            try:
                spark.read.parquet(path).createOrReplaceTempView(name)
            except Exception:
                continue
        spark.sql(args.query).show(args.limit, truncate=False)
        return 0

    if args.command == "corpus":
        from . import corpus

        spark = get_spark()
        n_in, n_out = corpus.run(spark, args)
        print(f"{args.op}: {n_in} -> {n_out} rows ({args.out_path})")
        return 0

    if args.command == "diff":
        from pyspark.sql import functions as F

        from .operators.cdc import snapshot_diff

        spark = get_spark()
        old = spark.read.parquet(args.old_path)
        new = spark.read.parquet(args.new_path)
        keys = [k.strip() for k in args.keys.split(",") if k.strip()]
        if args.compare:
            compare = [c.strip() for c in args.compare.split(",") if c.strip()]
        else:
            compare = [c for c in new.columns if c not in keys and c in old.columns]
        out = snapshot_diff(old, new, keys, compare)
        if args.out_path:
            out.write.mode("overwrite").parquet(args.out_path)
        counts = {
            r["change_type"]: r["n"]
            for r in out.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        for kind in ("insert", "delete", "update"):
            print(f"{kind}: {counts.get(kind, 0)}")
        return 0

    if args.command == "profile":
        from .operators.profile import profile_table

        spark = get_spark()
        out = profile_table(
            spark.read.parquet(args.in_path), exact_distinct=not args.approx
        )
        if args.out_path:
            out.write.mode("overwrite").parquet(args.out_path)
        for r in out.collect():  # bounded: one row per column
            print(
                f"{r['col_name']}\t{r['n_rows']}\t{r['n_nulls']}\t"
                f"{r['n_distinct']}\t{r['min_value']}\t{r['max_value']}"
            )
        return 0

    if args.command == "checksum":
        from pyspark.sql import functions as F

        from .operators.sketches import bucket_checksums

        spark = get_spark()
        df = spark.read.parquet(args.in_path)
        cols = (
            [c.strip() for c in args.cols.split(",") if c.strip()]
            if args.cols
            else list(df.columns)
        )
        row_string = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        out = bucket_checksums(df, row_string, F.col(args.key_col), args.n_buckets)
        for r in out.orderBy("bucket").collect():
            print(f"{r['bucket']}\t{r['checksum']}\t{r['n_rows']}")
        return 0

    # pure-args validation BEFORE the JVM spins up: failing a
    # mutually-exclusive-flags error should not cost a Spark startup
    if args.raw_dir is not None and args.raw_lake_dir is not None:
        raise SystemExit(
            "run: --raw-dir and --raw-lake-dir are mutually exclusive "
            "(a stale lake must not silently shadow fresh CSVs)"
        )
    if args.raw_lake_dir is not None and "://" in args.raw_lake_dir:
        raise SystemExit(f"run: --raw-lake-dir must be a local directory, got {args.raw_lake_dir}")
    raw_dir = args.raw_dir
    if raw_dir is None and args.raw_lake_dir is None:
        raw_dir = "data/raw"
    settings = Settings(base_currency=args.base_currency)
    spark = get_spark()
    try:
        outputs = run_month(
            spark,
            settings,
            month=args.month,
            raw_dir=raw_dir,
            curated_dir=args.curated_dir,
            reference_dir=args.reference_dir,
            fail_on=args.fail_on,
            lake_dir=args.lake_dir,
            raw_lake_dir=args.raw_lake_dir,
        )
    except DataQualityGateError as exc:
        # a gate decision, not a crash: exit 2 (any other error stays 1)
        # with the one-line message that names both audit files
        print(f"run: {exc}", file=sys.stderr)
        return 2
    except (MissingFxRatesError, ChartOfAccountsTooLargeError, FileNotFoundError) as exc:
        # the close's named input errors: one line, not a traceback
        print(f"run: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 1
    for name, path in outputs.items():
        print(f"{name}: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
