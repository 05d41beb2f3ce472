"""spark-submit entry point for the quality-filter pipeline (north_rule:
"runs via spark-submit --py-files with zero per-row Python").

Usage (local smoke):
    python jobs/package.py    # builds dist/llm_tab_cleaner_spark.zip and
                              # the UDF jar dist/llm_tab_cleaner_spark-udfs.jar
    spark-submit --master local[8] \
      --py-files dist/llm_tab_cleaner_spark.zip \
      --jars dist/llm_tab_cleaner_spark-udfs.jar \
      jobs/run_quality_filter.py \
      --input /path/code_files.parquet --output /path/out \
      --audit /path/audit --state /path/state --metrics /path/metrics

``--jars`` is required: the scorer is a Java UDF, and its class must be on
the driver's classpath when the JVM starts. This script runs inside an
already-started JVM, so setting ``spark.jars`` here could not add it.

On a cluster, --master/--num-executors/memory come from spark-submit; the
job only sets semantic configs. The job is one ``CleanPipeline.run_and_write``
call. Without --state it overwrites --output, --audit and --metrics. With
--state it is incremental: it scores only rows whose content hash no earlier
run committed, appends to the three sinks, and commits the batch to the state
manifest last. A crash before that commit means the rerun writes the batch's
rows again (at-least-once output, never a lost row). The last stdout line is
a JSON summary; ``batch_id`` is the committed batch (null without --state).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# dev convenience: running the file directly (no --py-files) finds the repo
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="language-ID + quality-filter + PII-scrub over code files")
    p.add_argument("--input", required=True, help="parquet path with (repo,path,commit,lang,content)")
    p.add_argument("--output", required=True, help="cleaned parquet sink (kept rows, scrubbed)")
    p.add_argument("--audit", default=None, help="audit-trail parquet sink")
    p.add_argument("--state", default=None, help="state dir → incremental resume")
    p.add_argument("--metrics", default=None, help="per-partition lineage metrics sink")
    p.add_argument("--report", default=None, help="driver JSON report path")
    p.add_argument("--threshold", type=float, default=None)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--salt-buckets", type=int, default=16)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig
    from llm_tab_cleaner_spark.functions import thresholds as TH
    from llm_tab_cleaner_spark.sources.io import save_report

    spark = SparkSession.builder.appName("quality_filter").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # default: shuffle-free linear plan (scan splits distribute the work —
    # a forced full-corpus repartition is the shuffle you don't want at
    # scale); pass --partitions to opt into the salted repartition for
    # skewed/few-file sources
    cfg = PipelineConfig(
        confidence_threshold=args.threshold if args.threshold is not None else TH.CONF_THRESHOLD,
        num_partitions=args.partitions,
        salt_buckets=args.salt_buckets,
        state_dir=args.state,
    )
    pipe = CleanPipeline(spark, cfg)
    report = pipe.run_and_write(
        spark.read.parquet(args.input), args.output, args.audit, args.metrics
    )
    if args.report:
        save_report(report, args.report)
    print(json.dumps({
        "batch_id": pipe.state.committed_batches()[-1] if pipe.state else None,
        "total": report.total_files,
        "kept": report.kept,
        "dropped": report.dropped,
        "scrubbed": report.scrubbed,
        "avg_confidence": round(report.avg_confidence, 4),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
