"""Streaming quality filter — the reference's StreamingCleaner / clean_stream
(/root/reference/src/llm_tab_cleaner/streaming.py:107-242, spark.py:370-411)
re-expressed as native Structured Streaming.

The batch pipeline is stateless per row, so the exact same plan (native
features → scorer UDF → rules → scrub) runs on a streaming DataFrame;
micro-batching, checkpointing, backpressure and drain-on-stop are the
engine's (trigger/processingTime, checkpointLocation, maxFilesPerTrigger,
query.stop()) instead of the reference's asyncio queue loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from llm_tab_cleaner_spark.plans.pipeline import CleanPipeline, PipelineConfig

CODE_FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), False),
    ]
)


def file_stream_source(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """Parquet-directory stream source (S12 analog; swap for kafka in prod).
    maxFilesPerTrigger is the backpressure bound (streaming.py:70's queue
    bound, engine-side)."""
    return (
        spark.readStream.schema(CODE_FILES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    content_col: str = "content",
    timeout_minutes: int = 0,
) -> DataFrame:
    """Stateful streaming exact-dedup: only the FIRST row per content digest
    (across all micro-batches) survives. The custom stateful operator the
    reference's cache-aside loop approximates (streaming.py:286-347),
    expressed with ``applyInPandasWithState``: state = one boolean per
    digest, keyed by the sha-256 group, checkpointed with the query.

    At 100 TB the state store holds one ~96-byte entry per DISTINCT
    document, sharded by the groupBy key across executors; set
    ``timeout_minutes`` > 0 to expire idle digests (bounded state) when the
    dedup window may be finite.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in stream_df.schema.fields
    ) + ", content_sha256 string"
    state_schema = "seen boolean"

    def dedup_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        seen_before = state.exists and state.get[0]
        # min-key winner within the MICRO-BATCH (exact_dedup's determinism);
        # across batches, first arrival wins. A group's batch data can span
        # several Arrow chunks (> arrow.maxRecordsPerBatch rows), so the
        # running min is tracked across the WHOLE iterator and emitted once —
        # yielding from the first non-empty chunk would make the survivor
        # depend on chunk composition (batch-order-invariance rule).
        best = None
        for pdf in pdf_iter:
            if seen_before or len(pdf) == 0:
                continue
            local = pdf.sort_values(key_cols, kind="stable").iloc[[0]]
            if best is None:
                best = local
            else:
                best = (
                    pd.concat([best, local], ignore_index=True)
                    .sort_values(key_cols, kind="stable")
                    .iloc[[0]]
                )
        if best is not None:
            yield best
        state.update((True,))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    hashed = stream_df.withColumn("content_sha256", F.sha2(F.col(content_col), 256))
    return (
        hashed.groupBy("content_sha256")
        .applyInPandasWithState(
            dedup_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def streaming_session_stats(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """ST6+: native stateful SESSION windows — events from one user closer
    than ``gap`` merge into one session; a session emits (append mode) once
    the watermark passes its end; rows later than ``watermark`` are dropped.
    The engine-native streaming form of the batch ``event_sessions`` query
    (lag + running-sum sessionization): same gap-merge semantics, but state
    lives in the streaming state store — sharded by the groupBy key across
    executors, checkpointed with the query — instead of a window shuffle.
    At 100 TB the state holds one open session per active user, bounded by
    the watermark horizon.
    """
    from pyspark.sql import functions as F

    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("session"),
            F.col(user_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .select(
            user_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def clean_stream(
    stream_df: DataFrame,
    spark: SparkSession,
    output_dir: str,
    checkpoint_dir: str,
    trigger_seconds: float | None = None,
    queryName: str = "clean_stream",
    config: PipelineConfig | None = None,
):
    """Score a streaming code-files DataFrame and append keep/confidence +
    scrubbed content to a parquet sink with exactly-once checkpointing
    (ST1-ST3: spark.py:401-411's writeStream shape).

    Scoring is ``CleanPipeline(spark, config).score``, the call a batch run
    makes, so each file gets the batch decision: ``config`` (default
    ``PipelineConfig()``) sets the confidence threshold, the calibrator
    (its ``confidence_calibrated`` column rides the sink) and the opt-in
    corpus stages (license gate before the scorer, comment_ratio feature,
    Gopher dup-line gate). All are stateless native projections/filters,
    so they compose with Structured Streaming unchanged."""
    scored = CleanPipeline(spark, config or PipelineConfig()).score(stream_df)
    extra = [
        c for c in (
            "license_class", "spdx_id", "comment_ratio", "dup_line_frac",
            "confidence_calibrated",
        )
        if c in scored.columns
    ]
    out = scored.select(
        "repo", "path", "commit", "lang", *extra, "keep", "confidence",
        "content_clean", "content_sha256", "clean_sha256", "partition_id",
    )
    writer = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(queryName)
    )
    if trigger_seconds:
        # milliseconds: CalendarInterval has no fractional seconds, and
        # sub-second triggers ('0.5 seconds') must not silently truncate
        writer = writer.trigger(processingTime=f"{int(trigger_seconds * 1000)} milliseconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
