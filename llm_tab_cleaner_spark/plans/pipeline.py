"""CleanPipeline — the public API, mirroring the reference's surfaces.

``TableCleaner.clean`` (/root/reference/src/llm_tab_cleaner/core.py:274-296)
→ ``CleanPipeline.run(df)``; ``SparkCleaner.clean_distributed``
(spark.py:67-156) → ``CleanPipeline.run_and_write``; incremental resume
(incremental.py:46-85) → ``CleanPipeline.run_incremental``. The report
mirrors CleaningReport (core.py:162-176, 384-392) but is computed
distributed, not row-by-row: ``run_and_write`` observes it (an
``Observation`` on the output write) in the same pass that writes the
cleaned rows, and ``report(result)`` runs the same aggregates as one job.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.functions import thresholds as TH
from llm_tab_cleaner_spark.functions.scoring import ScoringModel, default_model
from llm_tab_cleaner_spark.operators.quality_filter import (
    apply_quality_filter,
    audit_trail,
    drop_rule_confidences,
)
from llm_tab_cleaner_spark.sources.state import StateStore


@dataclass
class PipelineConfig:
    confidence_threshold: float = TH.CONF_THRESHOLD
    num_partitions: int | None = None  # None → let AQE decide (no extra shuffle)
    salt_buckets: int = 16
    state_dir: str | None = None  # enables incremental resume when set
    # The scorer UDF sees at most this content prefix; 0 = full content.
    # PREFIX-SCOPED SEMANTICS (deliberate, round-2 ADVICE surfaced): langid,
    # perplexity AND the token stats (n_tokens, n_distinct_tokens,
    # unique_token_ratio, alnum_ratio) all come from this prefix, so the
    # excessive_repetition / low-alnum keep/drop rules for files LARGER than
    # the prefix judge the first 64 KiB, not the whole file (short_content
    # cannot misfire: any file over the prefix has far more than 10 tokens).
    # At 100 TB this caps the scorer's work per megabyte file; set 0
    # to score full content when whole-file stats matter more than cost.
    score_prefix_chars: int = 65536
    # a fitted operators.calibration.Calibrator: adds confidence_calibrated
    # (native when-chain / sigmoid, zero UDF) next to the raw confidence
    calibrator: object | None = None
    # ---- opt-in corpus stages (beyond-reference X21/X22) ----
    # license_allow: route files by header license class BEFORE the scorer
    # runs — the standard pretraining shape (drop copyleft/restricted files
    # before paying scorer cost for them; the class comes
    # from a bounded 2 KiB header scan, so the gate is ~free per file).
    # e.g. ("permissive", "none"). The result carries license_class and
    # spdx_id columns. None (default) = no gate, no columns.
    license_allow: tuple[str, ...] | None = None
    # add license_class/spdx_id columns WITHOUT filtering (inventory mode)
    with_license_columns: bool = False
    # add a comment_ratio column (fraction of characters that are comments,
    # language-scoped via the `lang` column when present) — a quality
    # feature for code corpora; pure native projection, no extra UDF stage
    with_comment_ratio: bool = False
    # Gopher duplicate-line gate: drop files whose duplicate-line fraction
    # exceeds this BEFORE the scorer (boilerplate/log spam is cheap to
    # detect natively and expensive to score). thresholds.DUP_LINE_FRAC_MAX
    # (0.30) is the published operating point; None (default) = no gate.
    dup_line_frac_max: float | None = None
    # add the dup_line_frac column WITHOUT filtering (inventory mode)
    with_repetition_columns: bool = False


@dataclass
class CleaningReport:
    """Driver-side summary (reference: CleaningReport core.py:162-176)."""

    total_files: int
    kept: int
    dropped: int
    scrubbed: int
    avg_confidence: float
    quality_score: float
    rule_counts: dict[str, int] = field(default_factory=dict)
    processing_time: float = 0.0

    @property
    def keep_rate(self) -> float:
        return self.kept / self.total_files if self.total_files else 0.0


class CleanPipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig | None = None):
        self.spark = spark
        self.config = config or PipelineConfig()
        self.model: ScoringModel | None = None
        self.state = StateStore(self.config.state_dir) if self.config.state_dir else None

    # ---- core run ----
    def prepare(self, df: DataFrame) -> DataFrame:
        """Opt-in native corpus stages that run BEFORE the scorer UDF: the
        license gate (drop disallowed classes before paying scorer cost for
        them), the comment-ratio feature, and the Gopher duplicate-line
        gate. All pure projections/filters —
        the pipeline stays free of Python stages and shuffles
        (tests/test_plans.py). Public so the gate can run standalone
        (inventory a corpus without scoring it); ``score``/``run`` call it
        automatically."""
        from llm_tab_cleaner_spark.functions.code_comments import comment_ratio_expr
        from llm_tab_cleaner_spark.functions.licensing import (
            LICENSE_CLASSES,
            with_license,
        )

        cfg = self.config
        if cfg.license_allow is not None or cfg.with_license_columns:
            df = with_license(df)
            if cfg.license_allow is not None:
                bad = [c for c in cfg.license_allow if c not in LICENSE_CLASSES]
                if bad:
                    raise ValueError(
                        f"unknown license classes: {bad} (choose from {LICENSE_CLASSES})"
                    )
                df = df.filter(F.col("license_class").isin(*cfg.license_allow))
        if cfg.with_comment_ratio:
            lang = F.col("lang") if "lang" in df.columns else None
            df = df.withColumn(
                "comment_ratio",
                F.round(comment_ratio_expr(F.col("content"), lang), 6),
            )
        if cfg.dup_line_frac_max is not None or cfg.with_repetition_columns:
            from llm_tab_cleaner_spark.functions.repetition import dup_line_frac_expr

            df = df.withColumn(
                "dup_line_frac", F.round(dup_line_frac_expr(F.col("content")), 4)
            )
            if cfg.dup_line_frac_max is not None:
                df = df.filter(F.col("dup_line_frac") <= cfg.dup_line_frac_max)
        return df

    def score(self, df: DataFrame) -> DataFrame:
        df = self.prepare(df)
        result, self.model = apply_quality_filter(
            df,
            self.spark,
            model=self.model,
            threshold=self.config.confidence_threshold,
            num_partitions=self.config.num_partitions,
            salt_buckets=self.config.salt_buckets,
            score_prefix_chars=self.config.score_prefix_chars,
        )
        if self.config.calibrator is not None:
            result = result.withColumn(
                "confidence_calibrated",
                F.round(self.config.calibrator.expr(F.col("confidence")), 6),
            )
        return result

    def fit_calibration(
        self, result: DataFrame, labels: DataFrame, method: str = "isotonic"
    ) -> "CleanPipeline":
        """Fit a calibrator from a scored batch joined to golden labels
        (label = the keep decision was correct) and install it on the config;
        subsequent runs emit confidence_calibrated. Mirrors the reference's
        fit-then-apply ConfidenceCalibrator lifecycle (confidence.py:92-154)."""
        from llm_tab_cleaner_spark.operators.calibration import fit_calibrator

        joined = result.join(labels, ["repo", "path", "commit"]).select(
            F.col("confidence"),
            (F.col("keep") == F.col("expected_keep")).cast("double").alias("correct"),
        )
        self.config.calibrator = fit_calibrator(joined, "confidence", "correct", method)
        return self

    def run(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """→ (result, audit). Lazy: caller triggers the action."""
        result = self.score(df)
        return result, audit_trail(result)

    def run_incremental(self, df: DataFrame, batch_id: str | None = None) -> tuple[DataFrame, DataFrame, str]:
        """Anti-join away already-processed rows, run, commit state atomically.

        Exact-resume contract (incremental.py:46-85): a batch is visible only
        after its manifest flip, so a crash mid-run reprocesses that batch and
        nothing else; output for already-committed rows is never recomputed.

        The returned ``result`` is persisted (it was materialized to make the
        state commit match the output exactly) — the CALLER owns the cache and
        must ``result.unpersist()`` once the batch's output/audit are written,
        or cached partitions accumulate across incremental batches.
        """
        if self.state is None:
            raise ValueError("PipelineConfig.state_dir required for incremental runs")
        hashed = df.withColumn("content_sha256", F.sha2(F.col("content"), 256))
        fresh = self.state.filter_new(hashed, self.spark).drop("content_sha256")
        result = self.score(fresh)
        result.persist()
        result.count()  # materialize before commit so state matches output
        committed = self.state.commit(result, batch_id)
        return result, audit_trail(result), committed

    def run_and_write(
        self, df: DataFrame, output_path: str, audit_path: str | None = None
    ) -> CleaningReport:
        """Run + write cleaned parquet (kept rows, scrubbed content) + audit
        parquet; return the report (spark.py:67-156 analog).

        The report is observed during the output write: an ``Observation``
        sits below the write's ``keep`` filter, so it sees every row and
        costs no extra job. ``result`` is persisted only when ``audit_path``
        is set (the audit write is its second consumer) and is unpersisted
        even when a write raises. Without an audit path the run is one job
        with one scorer evaluation.
        """
        t0 = time.time()
        result, audit = self.run(df)
        rules = self._rule_names()
        obs = Observation()
        if audit_path:
            result.persist()
        try:
            (
                result.observe(obs, *_report_aggs(rules))
                .filter(F.col("keep"))
                .select(
                    "repo", "path", "commit", "lang",
                    F.col("content_clean").alias("content"),
                    "content_sha256", "clean_sha256", "confidence",
                )
                .write.mode("overwrite")
                .parquet(output_path)
            )
            if audit_path:
                audit.write.mode("overwrite").parquet(audit_path)
        finally:
            if audit_path:
                result.unpersist()
        report = _to_report(obs.get, rules)
        report.processing_time = time.time() - t0
        return report

    def partition_metrics(self, result: DataFrame) -> DataFrame:
        """Per-partition lineage metrics (north_rule): files, kept, dropped,
        scrubbed, bytes in/out per physical partition — written next to the
        audit table so every output row is traceable to the task that
        produced it."""
        return (
            result.groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("files"),
                F.sum(F.col("keep").cast("long")).alias("kept"),
                F.sum((~F.col("keep")).cast("long")).alias("dropped"),
                F.sum(F.col("scrubbed").cast("long")).alias("scrubbed"),
                F.sum(F.length("content")).alias("bytes_in"),
                F.sum(F.length("content_clean")).alias("bytes_out"),
                F.round(F.avg("confidence"), 4).alias("avg_confidence"),
            )
        )

    # ---- aggregation (one distributed pass) ----
    def report(self, result: DataFrame) -> CleaningReport:
        """The report of a scored ``result``: the aggregates
        ``run_and_write`` observes, run here as one ``agg`` job."""
        rules = self._rule_names()
        return _to_report(result.agg(*_report_aggs(rules)).first().asDict(), rules)

    def _rule_names(self) -> list[str]:
        return list(drop_rule_confidences(self.model or default_model()))


def _report_aggs(rules: list[str]) -> list[Column]:
    """Aggregates behind CleaningReport: totals, mean confidence, and the
    number of rows each drop rule fired on (unfired rules are null slots in
    ``rules_fired``; array_contains needs no explode and no lambda)."""
    fired = F.col("rules_fired.rule")
    return [
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum(F.col("scrubbed").cast("long")).alias("scrubbed"),
        F.avg("confidence").alias("avg_conf"),
        *[F.sum(F.array_contains(fired, r).cast("long")).alias(r) for r in rules],
    ]


def _to_report(row: dict, rules: list[str]) -> CleaningReport:
    total = row["total"] or 0
    kept = row["kept"] or 0
    avg_conf = float(row["avg_conf"] or 0.0)
    # quality heuristic mirrors core.py:589-612's shape
    quality = min(1.0, 0.8 + (kept / total) * 0.1 + avg_conf * 0.1) if total else 0.0
    return CleaningReport(
        total_files=total,
        kept=int(kept),
        dropped=int(total - kept),
        scrubbed=int(row["scrubbed"] or 0),
        avg_confidence=avg_conf,
        quality_score=quality,
        rule_counts={r: int(row[r]) for r in rules if row[r]},
    )
