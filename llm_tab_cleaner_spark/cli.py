"""``llm-clean`` — the reference's CLI surface on the Spark engine.

Mirrors /root/reference/src/llm_tab_cleaner/cli.py:135-275 (`llm-clean clean
file.csv --output ... --confidence-threshold ... --sample-rate ... --columns
... --save-report`) with the same argument validation, via argparse (the
reference uses click, which isn't a dependency here). Two cleaning modes:

* ``--mode rules`` (default, the reference's --use-rules path): the
  declarative rule table over every/selected string columns.
* ``--mode quality-filter``: the full file-level pipeline (langid +
  perplexity + scrub) — expects the code-files schema (repo, path, commit,
  lang, content).

Usage:
    python -m llm_tab_cleaner_spark.cli clean data.csv --output out.csv \
        --confidence-threshold 0.9 --save-report
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from llm_tab_cleaner_spark.sources.io import load_table, sample_table, save_report, save_table


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="llm-clean",
        description="Clean messy data with confidence-gated corrections (Spark engine)",
    )
    sub = p.add_subparsers(dest="command", required=True)

    c = sub.add_parser("clean", help="Clean a data file")
    c.add_argument("input_file", help="csv/parquet/json(l) input")
    c.add_argument("--output", "-o", help="Output path (default: <input>_cleaned.<ext>)")
    c.add_argument(
        "--confidence-threshold", type=float, default=0.85,
        help="Minimum confidence for applying fixes (default: 0.85)",
    )
    c.add_argument("--columns", help="Comma-separated columns to clean (default: all)")
    c.add_argument(
        "--sample-rate", type=float, default=1.0,
        help="Fraction of rows to process (default: 1.0)",
    )
    c.add_argument(
        "--sample-key",
        help="Column for DETERMINISTIC sampling: rows where the md5 hash "
        "fraction of this key < --sample-rate are kept — membership is "
        "reproducible across runs/partitioning/cluster sizes (df.sample is "
        "not)",
    )
    c.add_argument("--mode", choices=["rules", "quality-filter"], default="rules")
    c.add_argument("--save-report", action="store_true", help="Write <output>.report.json")
    c.add_argument("--audit", help="Also write the audit table to this path (parquet)")
    c.add_argument("--verbose", "-v", action="store_true")

    pr = sub.add_parser("profile", help="Profile a data file (table + column stats)")
    pr.add_argument("input_file")
    pr.add_argument("--output", "-o", help="Write profile JSON here (default: stdout)")
    return p


def _default_output(input_file: str) -> str:
    base, ext = os.path.splitext(input_file)
    return f"{base}_cleaned{ext or '.parquet'}"


def _validate(args) -> None:
    # same guards as the reference (cli.py:186-193)
    if not 0.0 <= args.sample_rate <= 1.0:
        print("Error: Sample rate must be between 0.0 and 1.0", file=sys.stderr)
        raise SystemExit(1)
    if not 0.0 <= args.confidence_threshold <= 1.0:
        print("Error: Confidence threshold must be between 0.0 and 1.0", file=sys.stderr)
        raise SystemExit(1)
    if not os.path.exists(args.input_file):
        print(f"Error: Input file not found: {args.input_file}", file=sys.stderr)
        raise SystemExit(1)


def _clean(args, spark) -> None:
    _validate(args)
    df = load_table(spark, args.input_file)
    if args.sample_rate < 1.0:
        if args.sample_key:
            from llm_tab_cleaner_spark.functions.sampling import hash_sample

            df = hash_sample(df, args.sample_key, args.sample_rate)
        else:
            df = sample_table(df, args.sample_rate)
    output = args.output or _default_output(args.input_file)

    if args.mode == "quality-filter":
        from llm_tab_cleaner_spark.plans.pipeline import CleanPipeline, PipelineConfig

        pipe = CleanPipeline(spark, PipelineConfig(confidence_threshold=args.confidence_threshold))
        report = pipe.run_and_write(df, output, args.audit)
    else:
        from llm_tab_cleaner_spark.compat import TableCleaner

        columns = args.columns.split(",") if args.columns else None
        cleaner = TableCleaner(
            confidence_threshold=args.confidence_threshold, columns=columns
        )
        cleaned, report = cleaner.clean(df)
        save_table(cleaned, output)
        if args.audit:
            cleaner.last_audit.write.mode("overwrite").parquet(args.audit)

    if args.verbose:
        print(f"rows: {report.total_files}  fixes/rules: {report.rule_counts}")
    print(f"cleaned -> {output}")
    if args.save_report:
        rp = f"{output}.report.json"
        save_report(report, rp)
        print(f"report  -> {rp}")


def _profile(args, spark) -> None:
    if not os.path.exists(args.input_file):
        print(f"Error: Input file not found: {args.input_file}", file=sys.stderr)
        raise SystemExit(1)
    from dataclasses import asdict

    from llm_tab_cleaner_spark.operators.profiler import profile_table

    df = load_table(spark, args.input_file)
    prof = profile_table(df)
    payload = asdict(prof)
    if args.output:
        with open(args.output, "w") as fh:
            json.dump(payload, fh, indent=2, default=str)
        print(f"profile -> {args.output}")
    else:
        print(json.dumps(payload, indent=2, default=str))


def main(argv: list[str] | None = None, spark=None) -> None:
    args = _build_parser().parse_args(argv)
    owns_session = spark is None
    if spark is None:
        from llm_tab_cleaner_spark.session import build_session

        spark = build_session(app_name="llm_clean_cli")
    try:
        if args.command == "clean":
            _clean(args, spark)
        elif args.command == "profile":
            _profile(args, spark)
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
