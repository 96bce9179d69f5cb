"""Command-line workflow mirroring the reference app's analysis flow:
upload → pick file → pick section/device/time range → data + stats.

    python -m sarfile_analyzer_ng_spark files <sar_dir>
    python -m sarfile_analyzer_ng_spark sections <sar_dir> [--file F]
    python -m sarfile_analyzer_ng_spark analyze <sar_dir> --section S
        [--file F] [--device D] [--start T] [--end T] [--json]
    python -m sarfile_analyzer_ng_spark stats <sar_dir> --section S
        [--file F] [--device D]

Accepts sar ASCII, .xz-compressed ASCII, and sadf -j JSON files mixed
in one directory.

The curation side of the engine has its own entry point — point it at
a parquet corpus with (doc_id, text, source) columns and it prints the
quality → exact-dedup → decontamination funnel per (source, stage):

    python -m sarfile_analyzer_ng_spark curate <docs_parquet>
        [--eval-parquet P | --eval-mod N] [--json]
    python -m sarfile_analyzer_ng_spark card <docs_parquet> [--json]
    python -m sarfile_analyzer_ng_spark classify <docs_parquet>
        [--pos-sources S1,S2,...] [--json]
    python -m sarfile_analyzer_ng_spark leakage <docs_parquet> [--json]
"""

from __future__ import annotations

import argparse
import sys


def _load(spark, path: str):
    from .sources.sar_text import read_files

    # one scan of the directory: each file is sniffed as sar text or
    # sadf JSON and parsed by the matching parser (sources.sar_text)
    return read_files(spark, path).cache()


def _first_file(df, file: str | None) -> str:
    from pyspark.sql import functions as F

    if file:
        match = (df.where(F.col("file").contains(file)).select("file")
                 .orderBy("file").first())
        if not match:
            sys.exit(f"no ingested file matches {file!r}")
        return match["file"]
    return df.select("file").orderBy("file").first()["file"]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="sarfile_analyzer_ng_spark")
    ap.add_argument(
        "command",
        choices=["files", "sections", "analyze", "stats", "forecast",
                 "curate", "card", "classify", "leakage"],
    )
    ap.add_argument("path")
    ap.add_argument("--file")
    ap.add_argument("--section")
    ap.add_argument("--device")
    ap.add_argument("--start")
    ap.add_argument("--end")
    ap.add_argument("--json", action="store_true")
    ap.add_argument(
        "--eval-parquet",
        help="curate: parquet of held-out eval docs (doc_id, text); "
        "default derives an eval split via --eval-mod",
    )
    ap.add_argument(
        "--eval-mod", type=int, default=50,
        help="curate: doc_id %% N == 0 rows play the eval suite when "
        "no --eval-parquet is given (default 50)",
    )
    ap.add_argument(
        "--limit", type=int, default=10_000,
        help="max rows printed (default 10000; <=0 means unlimited — "
        "streams batches through the driver instead of collecting)",
    )
    ap.add_argument(
        "--threshold", type=float, default=100.0,
        help="forecast: the capacity limit the trend is extrapolated "
        "to (default 100.0 — the natural ceiling of sar %% metrics)",
    )
    ap.add_argument(
        "--pos-sources",
        default=None,
        help="classify: comma-separated source names that play the "
        "curated positive class (default: the registry's QC_POS_SOURCES)",
    )
    args = ap.parse_args(argv)
    if args.command == "curate" and not args.eval_parquet \
            and args.eval_mod < 2:
        sys.exit("--eval-mod must be >= 2 (doc_id % N == 0 plays eval)")

    from . import api
    from .session import get_spark

    spark = get_spark("sar-cli")
    spark.sparkContext.setLogLevel("ERROR")

    def show(out):
        # Bounded output: a CLI pointed at a big query result must not
        # collect it onto the driver. --limit caps the result plan
        # itself (CollectLimit); <=0 streams via toLocalIterator, which
        # holds one partition at a time instead of the full frame.
        if args.json:
            if args.limit > 0:
                for line in out.limit(args.limit).toJSON().collect():
                    print(line)
            else:
                for line in out.toJSON().toLocalIterator():
                    print(line)
        else:
            # table mode materializes what it prints; "unlimited" here
            # means the int32 cap (use --json for true row streaming)
            out.show(args.limit if args.limit > 0 else (1 << 31) - 1,
                     truncate=False)

    if args.command == "curate":
        from pyspark.sql import functions as F

        from .functions.pipeline import curate_funnel

        docs = spark.read.parquet(args.path)
        for col in ("doc_id", "text", "source"):
            if col not in docs.columns:
                sys.exit(f"curate needs a ({col}) column in {args.path}")
        if args.eval_parquet:
            ev = spark.read.parquet(args.eval_parquet).select("doc_id", "text")
            train = docs
        else:
            ev = docs.where(
                F.pmod(F.col("doc_id"), F.lit(args.eval_mod)) == 0
            ).select("doc_id", "text")
            train = docs.where(
                F.pmod(F.col("doc_id"), F.lit(args.eval_mod)) != 0
            )
        funnel = curate_funnel(train, ev, "text", "doc_id", "source")
        show(
            funnel.groupBy("source", "stage")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_words").cast("bigint").alias("n_words"),
            )
            .orderBy("source", "stage")
        )
        return

    if args.command == "classify":
        from pyspark.sql import functions as F

        from .functions import classify as C

        docs = spark.read.parquet(args.path)
        for col in ("doc_id", "text", "source"):
            if col not in docs.columns:
                sys.exit(f"classify needs a ({col}) column in {args.path}")
        if args.pos_sources:
            pos = tuple(p.strip() for p in args.pos_sources.split(",") if p.strip())
        else:
            from .queries import QC_POS_SOURCES as pos
        # the SAME feature definition the oracled q104 trains on
        feats = C.quality_features(docs, "text", "doc_id", "source", pos)
        cols = ["x1", "x2", "x3", "x4"]
        w = C.logreg_train(feats, cols, "label")
        print(f"weights (bias, {', '.join(cols)}): "
              + ", ".join(f"{x:.6f}" for x in w), file=sys.stderr)
        show(
            C.logreg_score(feats, cols, w)
            .groupBy("source").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.round(F.avg("p_good"), 4).alias("avg_p_good"),
                F.sum("pred").cast("long").alias("n_pred_good"),
            )
            .orderBy("source")
        )
        return

    if args.command == "leakage":
        # cross-split exact-dup contamination at the 80/10/10 hash
        # seam (q175 pointed at a live corpus)
        from .functions.dedup import release, split_leakage

        docs = spark.read.parquet(args.path)
        for col in ("doc_id", "text"):
            if col not in docs.columns:
                sys.exit(f"leakage needs a ({col}) column in {args.path}")
        out = split_leakage(docs, "text", "doc_id",
                            {"train": 80, "val": 10, "test": 10})
        show(out)
        release(out)
        return

    if args.command == "card":
        from .functions.text import corpus_card

        docs = spark.read.parquet(args.path)
        for col in ("doc_id", "text", "source"):
            if col not in docs.columns:
                sys.exit(f"card needs a ({col}) column in {args.path}")
        show(
            corpus_card(docs, "text", "source")
            .orderBy("source", "pred_lang")
        )
        return

    df = _load(spark, args.path)
    if df.isEmpty():
        sys.exit(f"no parseable sar data under {args.path}")

    if args.command == "files":
        show(api.list_files(df).orderBy("file"))
    elif args.command == "sections":
        f = _first_file(df, args.file)
        show(api.file_info(df, f).orderBy("section"))
    elif args.command == "analyze":
        if not args.section:
            sys.exit("--section required (see `sections`)")
        f = _first_file(df, args.file)
        out = api.get_table(df, f, args.section, args.start, args.end, args.device)
        show(out.orderBy("ts"))
    elif args.command == "stats":
        if not args.section:
            sys.exit("--section required (see `sections`)")
        f = _first_file(df, args.file)
        show(api.statistics(df, f, args.section, args.device).orderBy("metric"))
    elif args.command == "forecast":
        # time-to-threshold per (metric, device) series — q147's
        # capacity forecast pointed at a live sar section: "this
        # filesystem fills in N days"
        if not args.section:
            sys.exit("--section required (see `sections`)")
        from pyspark.sql import functions as F

        from .operators.timeseries import capacity_forecast

        f = _first_file(df, args.file)
        sect = df.where(
            (F.col("file") == f) & (F.col("section") == args.section)
        )
        if args.device is not None and args.device != "all":
            sect = sect.where(F.col("device") == args.device)
        show(
            capacity_forecast(sect, "ts", "value", ["metric", "device"],
                              limit=args.threshold)
            .orderBy("metric", "device")
        )


if __name__ == "__main__":
    main()
