"""CLI runner — the `python call-debias.py` equivalent.

    python -m debias_spark.cli --config config.ini
    python -m debias_spark.cli --input in/ --output out/ [--partitioned]

Runs scan -> annotate -> JSON sink and prints a per-file summary (the
reference's log lines, call-debias.py:151,157).  Like the reference it also
appends the run log to ``debias.log`` (call-debias.py:16-22) — same
timestamped format, driver-side only.
"""

from __future__ import annotations

import argparse
import logging
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debias_spark.pipeline import PipelineConfig, run_pipeline
from debias_spark.session import get_spark


def summary_frame(annotated: DataFrame) -> DataFrame:
    """The per-file summary the CLI prints: records, flagged records and
    failed records per (src_file, language), ordered by src_file."""
    return (
        annotated.groupBy("src_file", "language")
        .agg(
            F.count("*").alias("records"),
            F.sum((F.size("tags") > 0).cast("int")).alias("flagged"),
            F.sum(F.when(F.col("_error").isNotNull(), 1).otherwise(0)).alias("errors"),
        )
        .orderBy("src_file")
    )


def _run_query_mode(args) -> int:
    """Registry-query access: every operator key a driver/test can run is
    equally runnable from the shell — `--list-queries` to browse,
    `--query KEY` to execute against any parquet table dir.  Output is
    bounded (limit + toLocalIterator) so the driver never materializes a
    large result."""
    from debias_spark.registry import load_all_queries

    specs = load_all_queries()
    if args.list_queries:
        for name, spec in sorted(specs.items()):
            gate = "duckdb-oracle" if spec.oracle else "rows-only"
            print(f"{name}\t{spec.section}\t{gate}")
        print(f"{len(specs)} keys")
        return 0
    if args.sql:
        from debias_spark.sql import run_sql

        df = run_sql(get_spark("debias-spark-sql"), args.sf_dir, args.sql)
    elif args.query not in specs:
        import difflib

        near = difflib.get_close_matches(args.query, specs, n=3)
        print(f"unknown query {args.query!r}; close: {near}", file=sys.stderr)
        return 2
    else:
        spark = get_spark("debias-spark-query")
        df = specs[args.query].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    cols = df.columns
    print("\t".join(cols))
    shown = 0
    for r in df.limit(args.limit).toLocalIterator():
        print("\t".join(str(r[c]) for c in cols))
        shown += 1
    print(f"({shown} rows shown; --limit {args.limit})")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="debias-spark")
    p.add_argument("--config", help="config.ini path ([settings] section)")
    p.add_argument("--input", help="input corpus dir (input/<lang>/*.csv)")
    p.add_argument("--output", help="output dir for JSON results")
    p.add_argument("--max-retries", type=int, default=5)
    p.add_argument(
        "--partitioned",
        action="store_true",
        help="distributed language-partitioned NDJSON sink instead of "
        "per-file '<stem>-output.json' documents",
    )
    p.add_argument(
        "--summary-limit",
        type=int,
        default=1000,
        help="max per-file summary lines to print (further files elided)",
    )
    p.add_argument(
        "--log-file",
        default=None,
        help="append run log here (reference parity, call-debias.py:16-22); "
        "default <output>/debias.log, '' disables",
    )
    p.add_argument(
        "--reports",
        choices=["none", "text", "pdf"],
        default="none",
        help="also render one flagged-records report per input file into "
        "<output>/ (the reference's per-file PDF report, "
        "call-debias.py:54-136; 'pdf' uses reportlab when installed, else "
        "the stdlib writer)",
    )
    p.add_argument(
        "--list-queries",
        action="store_true",
        help="list every registered query key (name, section, oracle gate) "
        "and exit",
    )
    p.add_argument(
        "--query",
        metavar="KEY",
        help="run one registry query key against --sf-dir and print rows "
        "(bounded by --limit)",
    )
    p.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="parquet table dir for --query (default sf0.01 testdata)",
    )
    p.add_argument("--limit", type=int, default=20, help="rows to print for --query")
    p.add_argument(
        "--explain",
        action="store_true",
        help="with --query/--sql: also print the formatted physical plan",
    )
    p.add_argument(
        "--sql",
        metavar="STATEMENT",
        help="run an ad-hoc Spark SQL statement with every testdata table "
        "(region nation customer supplier part orders lineitem events "
        "documents embeddings) pre-registered as a view over --sf-dir",
    )
    args = p.parse_args(argv)

    if args.list_queries or args.query or args.sql:
        return _run_query_mode(args)

    if args.config:
        cfg = PipelineConfig.from_ini(args.config)
    elif args.input and args.output:
        cfg = PipelineConfig(args.input, args.output, max_retries=args.max_retries)
    else:
        p.error("either --config or both --input and --output are required")

    log = logging.getLogger("debias_spark.cli")
    log.setLevel(logging.INFO)
    log_file = args.log_file
    if log_file is None:
        import pathlib

        out_dir = pathlib.Path(cfg.output_folder)
        out_dir.mkdir(parents=True, exist_ok=True)
        log_file = str(out_dir / "debias.log")
    if log_file:
        fh = logging.FileHandler(log_file)
        fh.setFormatter(logging.Formatter("%(asctime)s %(levelname)s %(message)s"))
        log.addHandler(fh)

    spark = get_spark("debias-spark-cli")
    log.info("run start: input=%s output=%s", cfg.input_folder, cfg.output_folder)
    annotated = run_pipeline(spark, cfg, per_file_compat=not args.partitioned)
    summary = summary_frame(annotated)
    # toLocalIterator + a line cap: driver memory and terminal output stay
    # bounded no matter how many input files the corpus has.
    shown = 0
    for r in summary.toLocalIterator():
        if shown >= args.summary_limit:
            print(f"... (further files elided; --summary-limit {args.summary_limit})")
            break
        line = (
            f"{r.src_file} [{r.language}]: {r.records} records, "
            f"{r.flagged} flagged, {r.errors} errors"
        )
        print(line)
        log.info("%s", line)
        shown += 1
    if args.reports != "none":
        from debias_spark.pipeline import report_rows
        from debias_spark.report import render_reports

        names = render_reports(
            report_rows(annotated), cfg.output_folder, fmt=args.reports
        )
        log.info("wrote %d reports", len(names))
    print(f"wrote outputs to {cfg.output_folder}")
    log.info("run done: outputs in %s", cfg.output_folder)
    return 0


if __name__ == "__main__":
    sys.exit(main())
