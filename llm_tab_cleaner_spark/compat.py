"""Reference-compatible facade: the surfaces a llm-tab-cleaner user calls.

``TableCleaner(...).clean(df)`` (/root/reference/src/llm_tab_cleaner/
core.py:193-296) and ``SparkCleaner(...).clean_distributed(df, output_path)``
(spark.py:40-156) re-expressed on this engine. A user of the reference can
switch imports and keep their call sites:

    from llm_tab_cleaner_spark.compat import TableCleaner
    cleaner = TableCleaner(confidence_threshold=0.85)
    cleaned_df, report = cleaner.clean(spark_df)

Differences (deliberate): no LLM providers — the deterministic rule table +
scorer replace `llm_provider`; `clean` takes/returns Spark DataFrames.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.operators.adaptive import (  # noqa: F401 (compat re-export)
    CleaningPattern,
    PatternLearner,
)
from llm_tab_cleaner_spark.operators.rules import (
    CleaningRule,
    RuleSet,
    RuleSpec,
    apply_rules,
    create_default_rules,
)
from llm_tab_cleaner_spark.plans.pipeline import CleaningReport


@dataclass
class TableCleaner:
    """Tabular cleaning (rule path) with confidence gating + report.

    Mirrors core.py:193-272's constructor surface where it still makes
    sense: `confidence_threshold` (the gate), `rules` (custom RuleSpec list),
    `columns` (restrict cleaning, P1 projection).
    """

    confidence_threshold: float = 0.85
    # RuleSpec (native Column plans) or reference-shaped CleaningRule
    # (string DSL, compiled by apply_rules) — mix freely
    rules: list[RuleSpec | CleaningRule] | None = None
    columns: list[str] | None = None

    def clean(self, df: DataFrame, key_cols: list[str] | None = None) -> tuple[DataFrame, CleaningReport]:
        """→ (cleaned_df, report) — the reference's core contract
        (core.py:274-296), computed distributed in one pass."""
        import time

        t0 = time.time()
        rules = self.rules.rules if isinstance(self.rules, RuleSet) else self.rules
        res = apply_rules(
            df,
            columns=self.columns,
            rules=rules if rules is not None else create_default_rules(),
            confidence_threshold=self.confidence_threshold,
            key_cols=key_cols or [],
        )
        # ONE job over the audit plan: per-rule count + confidence sum, the
        # totals derived on the driver (round 1 ran three jobs over the
        # unpersisted rule projection — audit agg, count, rule groupBy)
        rule_rows = (
            res.audit.groupBy("rule_fired")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("confidence").alias("conf_sum"))
            .collect()
        )
        total = df.count()
        n_fixes = sum(int(r["cnt"]) for r in rule_rows)
        avg_conf = (
            sum(float(r["conf_sum"]) for r in rule_rows) / n_fixes if n_fixes else 0.0
        )
        # quality heuristic mirrors core.py:589-612
        fix_ratio = n_fixes / max(total, 1)
        quality = min(1.0, 0.8 + fix_ratio * 0.1 + avg_conf * 0.1)
        report = CleaningReport(
            total_files=total,
            kept=total,
            dropped=0,
            scrubbed=0,
            avg_confidence=avg_conf,
            quality_score=quality,
            rule_counts={r["rule_fired"]: int(r["cnt"]) for r in rule_rows},
            processing_time=time.time() - t0,
        )
        self.last_audit = res.audit  # long-format fix table (consumers: CLI --audit)
        return res.cleaned, report


@dataclass
class Fix:
    """Reference Fix record (core.py:178-188). In a distributed engine fixes
    live in the long-format audit DataFrame; this dataclass is the driver-side
    row shape for users who iterate reports. ``row_index`` is None — row
    positions are not a distributed concept; key columns identify the row."""

    column: str
    row_index: int | None
    original: object
    cleaned: object
    confidence: float
    reasoning: str | None = None
    rule_applied: str | None = None


def fixes_from_audit(audit_df: DataFrame, limit: int = 1000) -> list[Fix]:
    """Materialize audit rows as reference-shaped Fix records (bounded —
    at corpus scale read the audit table instead)."""
    rows = audit_df.limit(limit).collect()
    return [
        Fix(
            column=r["column"],
            row_index=None,
            original=r["original"],
            cleaned=r["cleaned"],
            confidence=float(r["confidence"]),
            rule_applied=r["rule_fired"],
        )
        for r in rows
    ]


def create_custom_rule(
    name: str,
    description: str,
    cleaning_function,
    column_patterns: list[str] | None = None,
    data_types: list[str] | None = None,
    confidence: float = 0.8,
) -> CleaningRule:
    """Reference helper (cleaning_rule.py:317-333), kwargs-compatible."""
    return CleaningRule(
        name=name,
        description=description,
        function=cleaning_function,
        column_patterns=tuple(column_patterns or ()),
        data_types=tuple(data_types or ()),
        confidence=confidence,
    )


class ConfidenceCalibrator:
    """Reference ConfidenceCalibrator (confidence.py:36-265) surface:
    fit(predictions, labels) / calibrate(values), methods isotonic /
    sigmoid (Platt) / histogram — backed by the engine's pure-numpy fits;
    ``expr(col)`` additionally compiles the fitted calibrator to a native
    Column for distributed application (PipelineConfig.calibrator)."""

    def __init__(self, method: str = "isotonic", n_bins: int = 10):
        self.method = {"sigmoid": "platt"}.get(method, method)
        self.n_bins = n_bins
        self._cal = None
        self.is_fitted = False

    def fit(self, predictions, true_labels) -> "ConfidenceCalibrator":
        import numpy as np

        from llm_tab_cleaner_spark.operators.calibration import (
            Calibrator,
            _fit_platt,
            _pava,
        )

        conf = np.asarray(list(predictions), dtype=np.float64)
        label = np.asarray(list(true_labels), dtype=np.float64)
        if self.method == "isotonic":
            bps, vals = _pava(conf, label)
            self._cal = Calibrator("isotonic", bps, vals)
        elif self.method == "platt":
            a, b = _fit_platt(conf, label)
            self._cal = Calibrator("platt", np.array([0.0]), np.array([np.nan]), a=a, b=b)
        elif self.method == "histogram":
            edges = np.linspace(0.0, 1.0, self.n_bins + 1)
            idx = np.clip(np.digitize(conf, edges) - 1, 0, self.n_bins - 1)
            vals = np.array(
                [
                    label[idx == b].mean() if (idx == b).any() else (edges[b] + edges[b + 1]) / 2
                    for b in range(self.n_bins)
                ]
            )
            self._cal = Calibrator("histogram", edges[:-1], vals)
        else:
            raise ValueError(f"unknown method: {self.method!r}")
        self.is_fitted = True
        return self

    def calibrate(self, confidences):
        import numpy as np

        if not self.is_fitted:
            raise RuntimeError("fit() before calibrate()")
        return self._cal.apply_numpy(np.asarray(list(confidences), dtype=np.float64))

    def expr(self, conf_col):
        if not self.is_fitted:
            raise RuntimeError("fit() before expr()")
        return self._cal.expr(conf_col)


class DataProfiler:
    """Reference DataProfiler (profiler.py:90-132) surface over the
    distributed profiler: profile_table returns the engine's TableProfile
    (two jobs total; the reference loops per column in pandas)."""

    def __init__(self, detect_patterns: bool = True, common_values_k: int = 0):
        self.detect_patterns = detect_patterns
        self.common_values_k = common_values_k

    def profile_table(self, df: DataFrame):
        from llm_tab_cleaner_spark.operators.profiler import profile_table

        return profile_table(
            df,
            detect_patterns=self.detect_patterns,
            common_values_k=self.common_values_k,
        )

    def profile_column(self, df: DataFrame, column: str):
        return self.profile_table(df.select(column)).columns[column]


class IncrementalCleaner:
    """Reference IncrementalCleaner (incremental.py:20-123) surface over the
    state-store pipeline: process_increment anti-joins away processed rows
    and commits atomically; reprocess_low_confidence re-opens low-confidence
    hashes; get_statistics mirrors the running stats table."""

    def __init__(self, state_path: str, spark=None, config: "PipelineConfig | None" = None):
        from llm_tab_cleaner_spark.plans.pipeline import CleanPipeline, PipelineConfig

        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise ValueError("no active SparkSession; pass spark=")
        cfg = config or PipelineConfig()
        cfg.state_dir = state_path
        self.spark = spark
        self.pipeline = CleanPipeline(spark, cfg)

    def process_increment(self, df: DataFrame, batch_id: str | None = None):
        """→ (result, report). ``result`` is returned STILL PERSISTED (the
        run_incremental caller-owns-cache contract): write/collect what you
        need from it, then call ``result.unpersist()`` — unpersisting here
        would force every caller action to recompute the full scored plan.
        Callers that skip the unpersist leak at most ONE batch: the next
        process_increment call unpersists the previous increment's result
        before running (round-3 ADVICE — old-contract callers otherwise
        accumulated cached batches in executor memory across increments).
        The batch's audit frame is kept on ``self.last_audit``."""
        prev = getattr(self, "_last_result", None)
        if prev is not None:
            prev.unpersist()
        result, audit, committed = self.pipeline.run_incremental(df, batch_id)
        report = self.pipeline.report(result)
        self.last_audit = audit
        self.last_batch_id = committed
        self._last_result = result
        return result, report

    def reprocess_low_confidence(self, confidence_threshold: float) -> int:
        return self.pipeline.state.reprocess_low_confidence(self.spark, confidence_threshold)

    def get_statistics(self) -> dict:
        row = self.pipeline.state.running_stats(self.spark).collect()[0]
        return {
            "total_processed": int(row["total_processed"] or 0),
            "total_kept": int(row["total_kept"] or 0),
            "avg_confidence": float(row["avg_confidence"] or 0.0),
            "n_batches": int(row["n_batches"] or 0),
        }


from llm_tab_cleaner_spark.operators.profiler import (  # noqa: E402,F401 (compat re-export)
    ColumnProfile,
    TableProfile,
)


class LocalProvider:
    """Deterministic mirror of the reference LocalProvider
    (llm_providers.py:356-498): the rule-based clean_value/analyze_column
    surface ported call sites use, with identical confidences and
    transforms. No LLM anywhere — this is already the deterministic path."""

    def __init__(self, **kwargs):
        self.config = kwargs

    def clean_value(self, value, column_name: str, context: dict | None = None):
        # llm_providers.py:370-404, line for line
        if value is None or value == "":
            return None, 1.0
        value_str = str(value).strip()
        if value_str.lower() in ["n/a", "na", "null", "none", "missing"]:
            return None, 0.9
        if "date" in column_name.lower():
            cleaned = value_str.replace("/", "-").replace(".", "-")
            if cleaned != value_str:
                return cleaned, 0.8
        if "phone" in column_name.lower():
            import re as _re

            cleaned = _re.sub(r"[^\d\s\-]", "", value_str).strip()
            if cleaned != value_str:
                return cleaned, 0.85
        if "email" in column_name.lower():
            cleaned = value_str.lower().strip()
            if cleaned != value_str:
                return cleaned, 0.9
        return value, 1.0

    def analyze_column(self, values: list, column_name: str) -> dict:
        # llm_providers.py:406-448 (patterns/anomalies/quality heuristics)
        non_null = [v for v in values if v is not None and str(v).strip()]
        if not non_null:
            return {
                "patterns": ["All null values"],
                "anomalies": [],
                "suggestions": ["Consider removing column or investigating data source"],
                "data_type": "unknown",
                "quality_score": 0.0,
            }
        patterns, anomalies, suggestions = [], [], []
        low = column_name.lower()
        if "date" in low:
            patterns.append("Date/time column")
            suggestions.append("Standardize date format")
        if "email" in low:
            patterns.append("Email column")
            for val in non_null[:10]:
                if "@" not in str(val):
                    anomalies.append({"value": val, "issue": "Invalid email format"})
        if "phone" in low:
            patterns.append("Phone number column")
            suggestions.append("Standardize phone format")
        null_ratio = (len(values) - len(non_null)) / len(values)
        return {
            "patterns": patterns,
            "anomalies": anomalies,
            "suggestions": suggestions,
            "data_type": self._infer_type(non_null),
            "quality_score": max(0.0, 1.0 - null_ratio - len(anomalies) / len(values)),
        }

    @staticmethod
    def _infer_type(values: list) -> str:
        if not values:
            return "unknown"
        sample = values[:10]
        try:
            [float(v) for v in sample]
            return "numeric"
        except (ValueError, TypeError):
            pass
        if any("date" in str(v).lower() or "/" in str(v) or "-" in str(v) for v in sample):
            return "date"
        if any("@" in str(v) for v in sample):
            return "email"
        return "text"


class _UnavailableLLMProvider:
    """Importable stand-ins for the reference's live API providers
    (llm_providers.py:89-263): this engine is hermetic BY DESIGN — the
    deterministic scorer + rule table replace per-value LLM calls (see
    README / SURVEY §2.3 T15). Construction fails with direction, so ported
    imports survive but accidental live-call paths do not."""

    def __init__(self, *args, **kwargs):
        raise NotImplementedError(
            f"{type(self).__name__} is deliberately not implemented: the engine "
            "replaces live LLM calls with the deterministic scorer + rule table "
            "(functions/scoring.py, operators/rules.py). Use get_provider('local')."
        )


class AnthropicProvider(_UnavailableLLMProvider):
    pass


class OpenAIProvider(_UnavailableLLMProvider):
    pass


def get_provider(provider_name: str, **kwargs):
    """Reference factory (llm_providers.py:501-521), same error contract."""
    providers = {
        "anthropic": AnthropicProvider,
        "openai": OpenAIProvider,
        "local": LocalProvider,
    }
    if provider_name not in providers:
        raise ValueError(
            f"Unknown provider: {provider_name}. Available: {list(providers.keys())}"
        )
    return providers[provider_name](**kwargs)


@dataclass
class CalibrationMetrics:
    """Reference CalibrationMetrics (confidence.py:27-33) shape."""

    brier_score: float
    log_loss: float
    reliability: float
    sharpness: float
    calibration_bins: list  # (bin_center, accuracy, count)


def compute_calibration_metrics(
    df: DataFrame, conf_col: str = "confidence", label_col: str = "correct", n_bins: int = 10
) -> CalibrationMetrics:
    """A18 as the reference-shaped dataclass, computed distributed
    (calibration_metrics_df + one per-bin pass)."""
    from llm_tab_cleaner_spark.operators.calibration import calibration_metrics
    from llm_tab_cleaner_spark.operators.profiler import calibration_bins

    m = calibration_metrics(df, conf_col, label_col, n_bins)
    bins = [
        ((b["bin"] + 0.5) / n_bins, float(b["avg_label"]), int(b["cnt"]))
        for b in calibration_bins(df, conf_col, label_col, n_bins).collect()
    ]
    return CalibrationMetrics(
        brier_score=m["brier_score"],
        log_loss=m["log_loss"],
        reliability=m["reliability"],
        sharpness=m["sharpness"],
        calibration_bins=sorted(bins),
    )


class EnsembleCalibrator:
    """Reference EnsembleCalibrator (confidence.py:382-421): weighted
    average of fitted calibrators, clipped to [0, 1]. Adds ``expr(col)`` —
    the ensemble compiled to ONE native Column (weighted sum of each
    member's when-chain/sigmoid), so it can ride PipelineConfig.calibrator
    distributed like a single calibrator."""

    def __init__(self, calibrators: list, weights: list[float] | None = None):
        self.calibrators = calibrators
        self.weights = weights or [1.0 / len(calibrators)] * len(calibrators)
        if len(self.weights) != len(calibrators):
            raise ValueError("Number of weights must match number of calibrators")
        if not all(c.is_fitted for c in calibrators):
            raise ValueError("All calibrators must be fitted")

    def calibrate(self, confidences):
        import numpy as np

        conf = np.asarray(list(confidences), dtype=np.float64)
        out = sum(
            w * np.asarray(c.calibrate(conf), dtype=np.float64)
            for w, c in zip(self.weights, self.calibrators)
        )
        return np.clip(out, 0.0, 1.0)

    def expr(self, conf_col):
        combined = None
        for w, c in zip(self.weights, self.calibrators):
            term = F.lit(float(w)) * c.expr(conf_col)
            combined = term if combined is None else combined + term
        return F.greatest(F.least(combined, F.lit(1.0)), F.lit(0.0))


def create_ensemble_calibrator(calibrators: list, weights: list[float] | None = None):
    """Reference factory (confidence.py:374-380)."""
    return EnsembleCalibrator(calibrators, weights)


class StreamingCleaner:
    """Reference StreamingCleaner (spark.py:342-411) surface over the
    engine's Structured Streaming stage: same ctor args (``llm_provider``
    accepted and ignored — the deterministic scorer replaces it), same
    clean_stream(input_stream, output_path, trigger_interval) call shape.
    Sink is parquet (no delta jar in this environment; swap the format for
    delta/iceberg where the runtime ships it)."""

    def __init__(
        self,
        spark,
        llm_provider: str = "local",
        confidence_threshold: float = 0.85,
        checkpoint_location: str = "/tmp/streaming_cleaner_checkpoint",
    ):
        self.spark = spark
        self.llm_provider = llm_provider
        self.confidence_threshold = confidence_threshold
        self.checkpoint_location = checkpoint_location

    _TRIGGER_UNITS = {
        "millisecond": 0.001, "milliseconds": 0.001, "ms": 0.001,
        "second": 1.0, "seconds": 1.0, "s": 1.0,
        "minute": 60.0, "minutes": 60.0, "min": 60.0,
        "hour": 3600.0, "hours": 3600.0, "h": 3600.0,
    }

    def clean_stream(
        self,
        input_stream,
        output_path: str,
        trigger_interval: str = "10 seconds",
        columns: list[str] | None = None,
    ):
        from llm_tab_cleaner_spark.plans.pipeline import PipelineConfig
        from llm_tab_cleaner_spark.streaming.stream_clean import clean_stream

        if columns is not None:
            import warnings

            warnings.warn(
                "StreamingCleaner.clean_stream(columns=...) is accepted for "
                "source compatibility only: the quality-filter pipeline "
                "scores the 'content' column of the code-files schema",
                stacklevel=2,
            )
        parts = str(trigger_interval).split()
        if len(parts) != 2 or parts[1].lower() not in self._TRIGGER_UNITS:
            raise ValueError(
                f"unsupported trigger_interval {trigger_interval!r}; use "
                f"'<n> <unit>' with unit in {sorted(set(self._TRIGGER_UNITS))}"
            )
        seconds = float(parts[0]) * self._TRIGGER_UNITS[parts[1].lower()]
        return clean_stream(
            input_stream,
            self.spark,
            output_dir=output_path,
            checkpoint_dir=self.checkpoint_location,
            trigger_seconds=seconds,
            config=PipelineConfig(confidence_threshold=self.confidence_threshold),
        )


def create_spark_cleaner(spark=None, **kwargs) -> "SparkCleaner":
    """Reference factory (spark.py:414-428): AQE/Kryo configs are what
    session.build_session already sets; an active session is reused."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            from llm_tab_cleaner_spark.session import build_session

            spark = build_session(app_name="LLM-Tab-Cleaner-Distributed")
    return SparkCleaner(**kwargs)


@dataclass
class SparkCleaner:
    """Distributed file-cleaning surface (spark.py:40-156): the quality-filter
    pipeline behind the reference's clean_distributed signature."""

    confidence_threshold: float = 0.8
    parallelism: int | None = None
    config: dict = field(default_factory=dict)

    def clean_distributed(
        self, df: DataFrame, output_path: str, audit_log: str | None = None
    ) -> CleaningReport:
        from llm_tab_cleaner_spark.plans.pipeline import CleanPipeline, PipelineConfig

        spark = df.sparkSession
        cfg = PipelineConfig(
            confidence_threshold=self.confidence_threshold,
            num_partitions=self.parallelism,
        )
        return CleanPipeline(spark, cfg).run_and_write(df, output_path, audit_log)
